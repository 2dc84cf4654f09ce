"""The compiler's one quoting helper (``sqlexpr.render``): every literal
and name it writes into SQL text must parse back, through ``F.expr``, to
the value and type ``F.lit`` gives — including strings that Spark's
variable substitution would rewrite (``${…}``) and doubles that would
parse as DECIMAL."""

import datetime
import json
import math
from decimal import Decimal
from pathlib import Path

import numpy as np

import pyspark.sql.functions as F
import pytest

from schemasaurus_spark import dsl, sqlexpr
from schemasaurus_spark.compiler import compile_suite
from schemasaurus_spark.functions.formats import DEFAULT_FORMATS
from schemasaurus_spark.profiler import suggest_suite
from schemasaurus_spark.session import local_frame
from schemasaurus_spark.validate import validate

CORPUS = Path(__file__).parent / "data" / "official_draft4"

STRINGS = [
    "", "it's", "a\\b", "\\'", "''", r"^\d+$", "line\nnext\ttab\r",
    "\U0001F600 astral", "${env:HOME}", "${spark.app.name}",
    "$", "\\${env:HOME}", "\\u0024", "é", "`back`tick`",
]
NUMBERS = [0, -1, 2 ** 31, -(2 ** 31), -(2 ** 63), 2 ** 63 - 1, 1.5, -0.0,
           1e308, 5e-324, 0.1, float("nan"), float("inf"), float("-inf")]
OTHERS = [True, False, None, [], [[1, 2], []], ["a", "${env:HOME}"],
          [1.5, -2.0]]
# what Spark hands back for DECIMAL / DATE columns (profiler bounds), and a
# numpy float64 (a float subclass whose repr does not parse)
TYPED = [Decimal("1.5"), Decimal("-0.001"), Decimal("1.50"), Decimal("1E+2"),
         Decimal("12345678901234567890.123"), datetime.date(2024, 2, 29),
         np.float64(1.5), np.float64(-0.0), [Decimal("0.10"), None]]


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a):
            return math.isnan(b)
        return a == b and math.copysign(1, a) == math.copysign(1, b)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(_same, a, b))
    return a == b and type(a) is type(b)


def _round_trip(spark, values):
    """[(lit value, lit type, expr value, expr type)] of every value, all in
    one select."""
    cols = []
    for i, v in enumerate(values):
        cols += [F.lit(v).alias(f"l{i}"),
                 F.expr(sqlexpr.render(v)).alias(f"e{i}")]
    df = spark.range(1).select(*cols)
    row, schema = df.collect()[0], df.schema
    return [(row[f"l{i}"], schema[f"l{i}"].dataType,
             row[f"e{i}"], schema[f"e{i}"].dataType)
            for i in range(len(values))]


def test_render_matches_lit(spark):
    values = STRINGS + NUMBERS + OTHERS + TYPED
    for v, (lv, lt, ev, et) in zip(values, _round_trip(spark, values)):
        assert et == lt, (v, lt, et)
        assert _same(ev, lv), (v, lv, ev)


def test_render_types_doubles_as_double_not_decimal():
    assert sqlexpr.render(1.5) == "1.5D"
    assert sqlexpr.render(2 ** 31) == "2147483648L"
    assert "$" not in sqlexpr.render("${spark.app.name}")


def test_lit_falls_back_to_a_column_for_what_render_cannot_type(spark):
    """A timestamp, a numpy integer or a timedelta has no text literal with
    F.lit's value and type: the compiled plan binds ``F.lit`` of it under a
    reserved name, projected with F.lit's type and value, and an Enum of it
    checks against that value. An empty Enum (``x IN ()``) is false."""
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    td = datetime.timedelta(seconds=3)
    values = {"at": ts, "n": np.int64(7), "d": td}
    for v in values.values():
        with pytest.raises(TypeError):
            sqlexpr.render(v)
    df = spark.createDataFrame(
        [(1, ts, 7, td, "a"), (2, ts + td, 8, td * 2, None)],
        "id int, at timestamp, n bigint, d interval day to second, s string")
    suite = dsl.Suite(id_column="id", columns={
        **{c: [dsl.Enum([v])] for c, v in values.items()},
        "s": [dsl.Enum([])]})
    plan = compile_suite(suite, df.schema)
    names = list(plan.bound)
    assert len(names) == len(values)
    got = plan.bind(df).select(
        *names, *[F.lit(v).alias(f"l{i}") for i, v in enumerate(values.values())])
    row = got.collect()[0]
    for i, name in enumerate(names):
        assert got.schema[name].dataType == got.schema[f"l{i}"].dataType
        assert row[name] == row[f"l{i}"]
    assert sorted((r["id"], r["column"], r["constraint_id"])
                  for r in validate(df, suite).violations().collect()) == [
        (1, "s", "enum"), (2, "at", "enum"), (2, "d", "enum"),
        (2, "n", "enum")]
    with pytest.raises(ValueError, match="reserved"):
        validate(df.withColumn("__SX0", F.lit(1)), suite)


def test_escaped_string_literals_mode_fails_loudly(spark):
    """Under ``spark.sql.parser.escapedStringLiterals=true`` Spark reads
    the escapes ``render`` writes literally (``^a\\d$`` would become
    ``^a\\\\d\\u0024`` and flag ``a1``): a plan whose text holds an escape
    raises, naming the config, instead of a wrong verdict."""
    df = local_frame(spark, [(1, "a1"), (2, "b")], "id int, s string")
    suite = dsl.Suite(id_column="id", columns={"s": [dsl.Pattern(r"^a\d$")]})
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        res = validate(df, suite)
        for frame in [res.violations(), res.valid_rows()]:
            with pytest.raises(Exception, match="escapedStringLiterals"):
                frame.collect()
    finally:
        spark.conf.unset(key)
    res = validate(df, suite)
    assert [r["id"] for r in res.violations().collect()] == [2]
    assert [r["id"] for r in res.valid_rows().collect()] == [1]


def test_decimal_date_and_timestamp_bounds_validate(spark):
    """Bounds and enums of the values Spark returns for DECIMAL, DATE and
    TIMESTAMP columns compile and check like F.lit did, and their messages
    interpolate the values."""
    D, d, ts = Decimal, datetime.date, datetime.datetime
    df = spark.createDataFrame(
        [(1, D("1.25"), d(2024, 1, 1), ts(2024, 1, 1, 12)),
         (2, D("2.50"), d(2024, 3, 1), ts(2024, 1, 2, 0)),
         (3, None, None, None)],
        "id int, amount decimal(10,2), day date, at timestamp")
    suite = dsl.Suite(id_column="id", columns={
        "amount": [dsl.Minimum(D("1.5")), dsl.Maximum(np.float64(2.0)),
                   dsl.Enum([D("1.25"), D("9.99")])],
        "day": [dsl.Enum([d(2024, 1, 1)])],
        "at": [dsl.Enum([ts(2024, 1, 1, 12)])],
    })
    got = sorted((r["id"], r["column"], r["constraint_id"], r["arg"],
                  r["message"])
                 for r in validate(df, suite).violations().collect())
    enum_msg = "shall be one of values "
    assert got == [
        (1, "amount", "minimum", "1.5", "shall be >= 1.5"),
        (2, "amount", "enum", '["1.25", "9.99"]',
         enum_msg + '["1.25", "9.99"]'),
        (2, "amount", "maximum", "2.0", "shall be <= 2.0"),
        (2, "at", "enum", '["2024-01-01 12:00:00"]',
         enum_msg + '["2024-01-01 12:00:00"]'),
        (2, "day", "enum", '["2024-01-01"]', enum_msg + '["2024-01-01"]'),
    ]


def test_suggested_suite_of_a_decimal_column_validates(spark):
    """``suggest_suite`` bounds a DECIMAL column with the Decimals Spark
    returns; the suite compiles and its own table passes it."""
    df = spark.createDataFrame(
        [(i, Decimal(f"{i}.05"), i * 0.5) for i in range(1, 6)],
        "id int, amount decimal(12,2), ratio double")
    suite = suggest_suite(df, id_column="id").suite
    assert {type(c).__name__ for c in suite.columns["amount"]} >= {
        "Minimum", "Maximum"}
    res = validate(df, suite)
    assert res.violations().count() == 0
    out = validate(df.where("id > 1").union(
        spark.createDataFrame([(9, Decimal("0.01"), 1.0)], df.schema)), suite)
    assert [(r["id"], r["constraint_id"]) for r in out.violations().where(
        "column = 'amount'").collect()] == [(9, "minimum")]


def _corpus_strings():
    out = []

    def walk(node):
        if isinstance(node, dict):
            for k, v in node.items():
                if k == "enum":
                    out.extend(x for x in v if isinstance(x, str))
                elif k == "pattern":
                    out.append(v)
                elif k == "patternProperties":
                    out.extend(v)
                walk(v)
        elif isinstance(node, list):
            for x in node:
                walk(x)

    for f in sorted(CORPUS.glob("*.json")):
        for case in json.loads(f.read_text()):
            walk(case["schema"])
    return out


def test_corpus_and_format_strings_round_trip(spark):
    strings = _corpus_strings()
    assert strings
    strings += [f.regexp for f in DEFAULT_FORMATS.values()]
    strings += [f.message for f in DEFAULT_FORMATS.values()]
    got = _round_trip(spark, strings)
    assert [ev for *_, ev, _ in got] == strings


@pytest.mark.parametrize("name", ["${env:HOME}", "a`b"])
def test_unsafe_top_level_name_validates_like_a_plain_name(spark, name):
    """A top-level column whose name Spark's variable substitution would
    rewrite (or that needs backtick doubling) validates exactly like the
    same data under a plain name: scalar, enum, items and uniqueItems checks
    (the last two through higher-order functions)."""
    rows = [(1, 5, [1, 2]), (2, -3, [1, 1, -4]), (3, None, None)]
    df = spark.createDataFrame(
        [(i, v, v, a, a) for i, v, a in rows],
        ["id", "plain", name, "plain_arr", name + "_arr"])

    def checks():
        return [dsl.NotNull(), dsl.Minimum(0), dsl.Enum([5, 7])]

    def arr_checks():
        return [dsl.Items([dsl.Minimum(0)]), dsl.UniqueItems()]

    suite = dsl.Suite(id_column="id", columns={
        "plain": checks(), name: checks(),
        "plain_arr": arr_checks(), name + "_arr": arr_checks()})
    got = validate(df, suite).violations().collect()

    def rows_of(col):
        return sorted((r["id"], r["constraint_id"], r["value"], r["arg"],
                       r["message"], r["pos"] > -1)
                      for r in got if r["column"] == col)

    assert rows_of("plain")
    assert rows_of(name) == rows_of("plain")
    assert rows_of("plain_arr")
    assert rows_of(name + "_arr") == rows_of("plain_arr")
