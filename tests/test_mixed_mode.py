"""Mixed mode: Columns built by a suite's own callables (``Conform``) and
by registered extension hooks combine with the compiler's SQL text inside
combinator branches and dependency targets, with the same violations the
reference emits — checked against hand-written rows, in emission order."""

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
