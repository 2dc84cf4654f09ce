"""Driver-side violation rows for small local frames.

``validate._collect_violations`` collects the ``(id, __violations)``
projection and flattens it on the driver; it must give exactly the rows of
``violations().collect()`` — the lazy ``posexplode`` path — and over a
``local_frame`` it runs no Spark job."""

import pyspark.sql.functions as F
import pytest

from plan_walk import spark_jobs
from schemasaurus_spark import dsl
from schemasaurus_spark.compiler import compile_suite
from schemasaurus_spark.session import local_frame
from schemasaurus_spark.validate import (
    _collect_violations, make_value_validator, validate,
)

# (frame schema, rows, suite); every frame has at least one clean row,
# whose violation array is empty
CASES = {
    "items_fields": (
        "doc_id string, xs array<struct<a: int, b: string>>",
        [("r1", [(1, "p"), (-2, None), (3, "q")]),
         ("r2", [(0, "ok")]),
         ("r3", None),
         ("r4", [(-1, None)])],
        dsl.Suite(columns={"xs": [dsl.Items(
            [dsl.MaxItems(2)],
            fields={"a": [dsl.Minimum(0)], "b": [dsl.NotNull()]})]}),
    ),
    "pattern_properties_label": (
        "doc_id string, m map<string, int>",
        [("r1", {"x1": -1, "x2": 5, "zz": 1}),
         ("r2", {"x1": 2}),
         ("r3", {"yy": 3})],
        dsl.Suite(columns={"m": [dsl.PatternProperties(
            specs=[("^x", [dsl.Minimum(0)])], additional=False)]}),
    ),
    "undeclared_column": (
        "doc_id string, a int, extra string, more int",
        [("r1", 1, "e", 0), ("r2", -3, None, 1)],
        dsl.Suite(columns={"a": [dsl.Minimum(0)]},
                  allow_undeclared_columns=False),
    ),
    "conform_bound": (
        "doc_id string, a int, b int",
        [("r1", 1, 2), ("r2", 5, 2), ("r3", None, 1)],
        dsl.Suite(columns={"a": [dsl.NotNull()]},
                  row=[("a", dsl.Conform(
                      name="a_le_b", expr=lambda a, b: a <= b,
                      extra_cols=("b",)))]),
    ),
}

# one (field, value) each case's rows must show, so a case cannot pass
# while missing the feature it is there for
MUST_SEE = {
    "items_fields": ("constraint_id", "items.a.minimum"),
    "pattern_properties_label": ("column", "m[x1]"),
    "undeclared_column": ("constraint_id", "additionalProperties"),
    "conform_bound": ("constraint_id", "custom.a_le_b"),
}


def _shaped(rows):
    return [(list(r.__fields__), tuple(r)) for r in rows]


@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_rows_equal_violations(spark, case):
    schema, rows, suite = CASES[case]
    res = validate(local_frame(spark, rows, schema), suite)
    with spark_jobs(spark, f"driver-violations-{case}") as jobs:
        got = _collect_violations(res)
    assert jobs == []
    want = res.violations().collect()
    name, value = MUST_SEE[case]
    assert value in {r[name] for r in want}
    assert _shaped(got) == _shaped(want)
    ids = {r["doc_id"] for r in got}
    assert {r[0] for r in rows} - ids, "a clean row must stay clean"


def test_make_value_validator_runs_no_spark_job(spark):
    fn = make_value_validator(
        spark,
        dsl.Suite(id_column="v", columns={"v": [dsl.NotNull(),
                                               dsl.Minimum(5)]}),
        "v int")
    with spark_jobs(spark, "value-validator") as jobs:
        out = [fn({"v": 7}), fn({"v": 2}), fn({})]
    assert jobs == []
    assert [o["valid"] for o in out] == [True, False, False]


def test_validation_plan_comparison_does_not_raise(spark):
    df = spark.range(1).select(F.col("id").alias("doc_id"),
                               F.lit(1).alias("a"))
    suite = dsl.Suite(columns={"a": [dsl.Minimum(0)]})
    p1 = compile_suite(suite, df.schema)
    p2 = compile_suite(suite, df.schema)
    assert p1 == p1
    assert p1 != p2
