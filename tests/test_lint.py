"""Static suite lint (plans/suite_tools.lint_suite) — pure offline, no
Spark session: the pre-flight a 100 TB job runs at submit time."""

from pyspark.sql import types as T

from schemasaurus_spark import dsl
from schemasaurus_spark.plans.suite_tools import LintFinding, lint_suite


def codes(findings, severity=None):
    return [f.code for f in findings
            if severity is None or f.severity == severity]


def test_clean_suite_has_no_findings():
    s = dsl.Suite(columns={
        "doc_id": [dsl.NotNull(), dsl.MinLength(1)],
        "n_tok": [dsl.Minimum(1), dsl.Maximum(8192)],
        "source": [dsl.Enum(["web", "books", "code"])],
        "tokens": [dsl.MinItems(1), dsl.Items(constraints=[dsl.Minimum(0)])],
    })
    assert lint_suite(s) == []


def test_bounds_contradiction_and_exclusive_equal():
    s = dsl.Suite(columns={"a": [dsl.Minimum(10), dsl.Maximum(5)]})
    assert codes(lint_suite(s), "error") == ["bounds-unsatisfiable"]
    # equal bounds are fine non-exclusive, fatal with either exclusive
    ok = dsl.Suite(columns={"a": [dsl.Minimum(5), dsl.Maximum(5)]})
    assert lint_suite(ok) == []
    ex = dsl.Suite(columns={"a": [dsl.ExclusiveMinimum(5), dsl.Maximum(5)]})
    assert codes(lint_suite(ex), "error") == ["bounds-unsatisfiable"]


def test_bounds_merge_through_allof():
    s = dsl.Suite(columns={"a": [
        dsl.Minimum(0),
        dsl.AllOf(branches=[[dsl.Maximum(-1)]]),
    ]})
    assert codes(lint_suite(s), "error") == ["bounds-unsatisfiable"]


def test_count_pairs_and_negatives():
    s = dsl.Suite(columns={
        "s": [dsl.MinLength(5), dsl.MaxLength(2)],
        "arr": [dsl.MinItems(3), dsl.MaxItems(1)],
        "obj": [dsl.MinProperties(4), dsl.MaxProperties(2)],
        "neg": [dsl.MaxLength(-1)],
    })
    out = lint_suite(s)
    assert "length-unsatisfiable" in codes(out, "error")
    assert "items-unsatisfiable" in codes(out, "error")
    assert "properties-unsatisfiable" in codes(out, "error")
    # a negative MAX fails everything (error); negative MIN is a no-op
    assert any(f.code == "negative-count" and f.column == "neg"
               and f.severity == "error" for f in out)


def test_type_contradiction():
    s = dsl.Suite(columns={"a": [
        dsl.TypeIs("string"),
        dsl.AllOf(branches=[[dsl.TypeIs("integer")]]),
    ]})
    assert codes(lint_suite(s), "error") == ["type-contradiction"]
    # integer is a subtype of number: NOT a contradiction
    ok = dsl.Suite(columns={"a": [dsl.TypeIs("number"),
                                  dsl.TypeIs("integer")]})
    assert lint_suite(ok) == []


def test_enum_checks():
    empty = dsl.Suite(columns={"a": [dsl.Enum([])]})
    assert codes(lint_suite(empty), "error") == ["enum-empty"]
    # every member outside the bounds -> unsatisfiable
    all_dead = dsl.Suite(columns={"a": [dsl.Enum([1, 2, 3]),
                                        dsl.Minimum(10)]})
    assert codes(lint_suite(all_dead), "error") == ["enum-unsatisfiable"]
    # one live member -> only an info about the dead ones
    some = dsl.Suite(columns={"a": [dsl.Enum([1, 20]), dsl.Minimum(10)]})
    out = lint_suite(some)
    assert codes(out, "error") == [] and codes(out, "info") == [
        "enum-dead-values"]
    # type-based death: string enum under type integer
    typed = dsl.Suite(columns={"a": [dsl.Enum(["x", "y"]),
                                     dsl.TypeIs("integer")]})
    assert codes(lint_suite(typed), "error") == ["enum-unsatisfiable"]
    # null member stays live (null-guard skips all checks)
    nullable = dsl.Suite(columns={"a": [dsl.Enum([None]), dsl.Minimum(10)]})
    assert codes(lint_suite(nullable), "error") == []


def test_multipleof_and_pattern():
    s = dsl.Suite(columns={"a": [dsl.MultipleOf(0)],
                           "b": [dsl.Pattern("[unclosed")]})
    out = lint_suite(s)
    assert "multipleOf-nonpositive" in codes(out, "error")
    assert "pattern-invalid" in codes(out, "error")


def test_combinator_branch_contradiction_downgrades_to_dead_branch():
    s = dsl.Suite(columns={"a": [dsl.AnyOf(branches=[
        [dsl.Minimum(10), dsl.Maximum(5)],   # dead branch
        [dsl.Minimum(0)],                    # live branch
    ])]})
    out = lint_suite(s)
    assert codes(out, "error") == []
    assert codes(out, "warning") == ["dead-branch"]


def test_oneof_identical_branches_and_empty_combinator():
    s = dsl.Suite(columns={"a": [dsl.OneOf(branches=[
        [dsl.Minimum(0)], [dsl.Minimum(0)]])]})
    assert "oneof-identical-branches" in codes(lint_suite(s), "warning")
    e = dsl.Suite(columns={"a": [dsl.AnyOf(branches=[])]})
    assert codes(lint_suite(e), "error") == ["combinator-empty"]


def test_not_checks():
    empty = dsl.Suite(columns={"a": [dsl.Not(branch=[])]})
    assert codes(lint_suite(empty), "error") == ["not-unsatisfiable"]
    vac = dsl.Suite(columns={"a": [dsl.Not(branch=[
        dsl.Minimum(10), dsl.Maximum(5)])]})
    out = lint_suite(vac)
    assert codes(out, "error") == []
    assert codes(out, "warning") == ["vacuous-not"]


def test_items_scope_path():
    s = dsl.Suite(columns={"tokens": [dsl.Items(constraints=[
        dsl.Minimum(10), dsl.Maximum(5)])]})
    out = lint_suite(s)
    assert [(f.column, f.code) for f in out] == [
        ("tokens[]", "bounds-unsatisfiable")]


def test_dependency_unknown_column():
    s = dsl.Suite(columns={"lang": [dsl.NotNull()]},
                  row=[("lang", dsl.Dependency(
                      on="lang", requires=["nope"]))])
    out = lint_suite(s)
    assert codes(out, "warning") == ["dependency-unknown-column"]


def test_duplicate_constraint_info():
    s = dsl.Suite(columns={"a": [dsl.Minimum(5), dsl.Minimum(5)]})
    assert codes(lint_suite(s), "info") == ["duplicate-constraint"]


SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
    T.StructField("meta", T.StructType([T.StructField("lang", T.StringType())])),
])


def test_schema_missing_column_and_type_vs_dtype():
    s = dsl.Suite(columns={
        "nope": [dsl.NotNull()],
        "n_tok": [dsl.TypeIs("string")],
    })
    out = lint_suite(s, SCHEMA)
    by_col = {f.column: f for f in out}
    assert by_col["nope"].code == "missing-column"
    assert by_col["n_tok"].code == "type-vs-dtype"
    assert by_col["n_tok"].severity == "error"


def test_schema_dtype_mismatch_warnings():
    s = dsl.Suite(columns={
        "n_tok": [dsl.MinLength(3)],        # string check on int column
        "source": [dsl.MinItems(1),         # array check on string column
                   dsl.Minimum(0)],         # numeric check on string column
        "meta": [dsl.MinProperties(1)],     # map check on struct column
    })
    out = lint_suite(s, SCHEMA)
    assert codes(out, "warning").count("dtype-mismatch") == 4
    assert all("compiles to nothing" in f.message for f in out)
    # string columns never flag type-vs-dtype (permissive ingest cast-probe)
    probed = dsl.Suite(columns={"source": [dsl.TypeIs("integer")]})
    assert lint_suite(probed, SCHEMA) == []


def test_clean_suite_against_schema():
    s = dsl.Suite(columns={
        "doc_id": [dsl.NotNull(), dsl.MinLength(1)],
        "tokens": [dsl.MinItems(1),
                   dsl.Items(constraints=[dsl.Minimum(0)])],
        "n_tok": [dsl.Minimum(1), dsl.Maximum(8192)],
        "source": [dsl.Enum(["web", "books"])],
    })
    assert lint_suite(s, SCHEMA) == []


def test_lint_json_schema_document():
    from schemasaurus_spark.plans.suite_tools import lint_json_schema

    doc = {"type": "object", "properties": {
        "doc_id": {"type": "string"},
        "n_tok": {"type": "integer", "minimum": 100, "maximum": 5},
        "source": {"enum": []},
    }}
    out = lint_json_schema(doc)
    got = {(f.column, f.code) for f in out if f.severity == "error"}
    assert ("n_tok", "bounds-unsatisfiable") in got
    assert ("source", "enum-empty") in got
    clean = {"type": "object", "properties": {
        "doc_id": {"type": "string", "minLength": 1}}}
    assert lint_json_schema(clean) == []


def test_lint_error_findings_are_sound(spark):
    """Soundness link to the ENGINE: for every suite the linter calls
    unsatisfiable (error severity on the column scope), validation must
    reject EVERY row whose column value is non-null — the linter never
    cries wolf. Covers each error family over a mixed-value frame."""
    cases = [
        # (suite columns for "v", frame DDL type, sample values)
        ([dsl.Minimum(10), dsl.Maximum(5)], "double",
         [0.0, 5.0, 7.5, 10.0, 100.0]),
        ([dsl.ExclusiveMinimum(5), dsl.Maximum(5)], "double",
         [5.0, 4.9, 5.1]),
        ([dsl.MinLength(5), dsl.MaxLength(2)], "string",
         ["a", "abc", "abcdef"]),
        ([dsl.MinItems(3), dsl.MaxItems(1)], "array<int>",
         [[], [1], [1, 2, 3], [1, 2, 3, 4]]),
        ([dsl.Enum([1, 2, 3]), dsl.Minimum(10)], "int",
         [1, 2, 3, 10, 50]),
        ([dsl.Enum([])], "string", ["x", "y"]),
        ([dsl.Not(branch=[])], "string", ["x", ""]),
        ([dsl.MaxLength(-1)], "string", ["", "a"]),
    ]
    from schemasaurus_spark.validate import validate

    for constraints, ddl, values in cases:
        suite = dsl.Suite(id_column="i",
                          columns={"v": list(constraints)})
        errs = [f for f in lint_suite(suite)
                if f.severity == "error" and f.column == "v"]
        assert errs, f"linter missed {constraints}"
        df = spark.createDataFrame(
            [(str(i), v) for i, v in enumerate(values)],
            f"i string, v {ddl}")
        res = validate(df, suite)
        bad_ids = {r["i"] for r in res.violations().collect()}
        assert bad_ids == {str(i) for i in range(len(values))}, \
            f"lint said unsatisfiable but engine passed rows: {constraints}"
