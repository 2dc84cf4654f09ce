"""Bound Columns: Columns built by a suite's own callables (``Conform``),
by registered extension hooks and by ``F.lit`` for values SQL text cannot
type enter the compiler's SQL text as reserved names. They combine with it
inside combinator branches, dependency targets and lambdas, with the same
violations the reference emits — checked against hand-written rows, in
emission order, and against the scalar check of each element."""

import datetime

from pyspark.sql import functions as F

from schemasaurus_spark import dsl
from schemasaurus_spark.conformance import _ensure_even_registered
from schemasaurus_spark.validate import validate


def test_conform_and_extension_inside_combinators_and_dependency(spark):
    Even = _ensure_even_registered()
    df = spark.createDataFrame(
        [(1, 4, 2, 4), (2, 5, -1, 3), (3, 12, None, 200), (4, None, 7, None)],
        "id int, a int, b int, s int")
    suite = dsl.Suite(
        id_column="id",
        columns={
            "a": [dsl.AnyOf([[dsl.Conform(name="even",
                                          expr=lambda c: c % 2 == 0)],
                             [dsl.Minimum(10)]])],
            "b": [dsl.OneOf([[dsl.Conform(name="pos",
                                          expr=lambda c: c > F.lit(0))],
                             [dsl.Minimum(5)]])],
            "s": [dsl.AllOf([[Even()], [dsl.Maximum(100)]])],
        },
        row=[("a", dsl.Dependency(on="a", constraints=[
            ("b", dsl.Conform(name="nonneg", expr=lambda c: c >= 0))]))],
    )
    got = [(r["id"], r["constraint_id"], r["column"], r["value"], r["arg"],
            r["message"])
           for r in sorted(validate(df, suite).violations().collect(),
                           key=lambda r: (r["id"], r["pos"]))]
    assert got == [
        (2, "anyOf", "a", "5", None, "does not meet any requirement"),
        (2, "custom.even", "a", "5", None, "is not valid"),
        (2, "minimum", "a", "5", "10", "shall be >= 10"),
        (2, "oneOf.zero", "b", "-1", None, "does not meet any requirement"),
        (2, "custom.pos", "b", "-1", None, "is not valid"),
        (2, "minimum", "b", "-1", "5", "shall be >= 5"),
        (2, "allOf", "s", "3", None, "does not meet all requirements"),
        (2, "custom.even", "s", "3", None, "shall be even"),
        (2, "dependency", "a", "5", "schema(a)",
         "does not meet additional requirements for schema(a)"),
        (2, "custom.nonneg", "b", "-1", None, "is not valid"),
        (3, "allOf", "s", "200", None, "does not meet all requirements"),
        (3, "maximum", "s", "200", "100", "shall be <= 100"),
        (4, "oneOf", "b", "7", None, "does not meet exactly one requirement"),
    ]


def _ids(frame, id_column="id"):
    return sorted(r[id_column] for r in frame.select(id_column).collect())


def test_row_filter_with_an_extension_hook(spark):
    """valid_rows()/invalid_rows() project the hook's bound Columns again
    and split the rows exactly as the violations do."""
    Even = _ensure_even_registered()
    df = spark.createDataFrame(
        [(1, 4, 2), (2, 5, 3), (3, None, -1), (4, 8, None)],
        "id int, s int, a int")
    suite = dsl.Suite(id_column="id", columns={
        "s": [Even()], "a": [dsl.Minimum(0)]})
    res = validate(df, suite)
    assert res.plan.bound
    bad = sorted({r["id"] for r in res.violations().collect()})
    assert bad == [2, 3]
    assert _ids(res.invalid_rows()) == bad
    assert _ids(res.valid_rows()) == [1, 4]
    assert res.valid_rows().columns == df.columns


def _offenders(res, code):
    return sorted((r["id"], r["value"]) for r in res.violations().collect()
                  if r["constraint_id"] == code)


def test_bound_literal_inside_a_lambda(spark):
    """An Enum of timestamps (bound ``F.lit`` values) inside ``Items`` and
    inside ``Items(fields=…)`` flags the elements the same Enum flags on
    the exploded elements."""
    t0, t1 = datetime.datetime(2024, 1, 1, 12), datetime.datetime(2024, 1, 2)
    rows = [(1, [t0, t0]), (2, [t0, t1, None]), (3, None), (4, []),
            (5, [t1, t1])]
    df = spark.createDataFrame(
        [(i, a, None if a is None else [(x, k) for k, x in enumerate(a)])
         for i, a in rows],
        "id int, a array<timestamp>, s array<struct<at: timestamp, k: int>>")
    enum = [dsl.Enum([t0])]
    res = validate(df, dsl.Suite(id_column="id", columns={
        "a": [dsl.Items(enum)], "s": [dsl.Items(fields={"at": enum})]}))
    flat = validate(df.selectExpr("id", "explode(s) AS e")
                    .selectExpr("id", "e.at AS at"),
                    dsl.Suite(id_column="id", columns={"at": enum}))
    expected = _offenders(flat, "enum")
    assert [i for i, _ in expected] == [2, 5, 5]
    assert _offenders(res, "items.enum") == expected
    assert _offenders(res, "items.at.enum") == expected
