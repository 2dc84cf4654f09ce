"""Suite-walker (newIterator analog) tests — traversal order, custom
visitors, and the two derived tools."""

from schemasaurus_spark import dsl
from schemasaurus_spark.plans.suite_tools import (
    SuiteVisitor, suite_to_ddl, suite_to_markdown, walk_suite,
)


def _suite():
    return dsl.Suite(
        id_column="doc_id",
        columns={
            "doc_id": [dsl.NotNull(), dsl.Pattern(r"^[a-z]+-[0-9]{8}$")],
            "n_tok": [dsl.Minimum(1), dsl.Maximum(2048)],
        },
        row=[("tokens", dsl.Conform(name="size_eq", expr=lambda c: c))],
        name="docs",
    )


def test_walk_order_matches_declaration_order():
    """Traversal-order parity (compiler.js:156-173): events fire in
    declaration order with start/end bracketing (matchers.js modifiers)."""
    events = []

    class Recorder(SuiteVisitor):
        def begin(self, s): events.append("begin")
        def column_start(self, n): events.append(f"start:{n}")
        def constraint(self, col, c): events.append(f"c:{col}:{c.code}")
        def column_end(self, n): events.append(f"end:{n}")
        def row_constraint(self, l, c): events.append(f"row:{l}:{c.code}")
        def end(self, s): events.append("end"); return events

    out = walk_suite(_suite(), Recorder())
    assert out == [
        "begin",
        "start:doc_id", "c:doc_id:required", "c:doc_id:pattern", "end:doc_id",
        "start:n_tok", "c:n_tok:minimum", "c:n_tok:maximum", "end:n_tok",
        "row:tokens:custom.size_eq",
        "end",
    ]


def test_markdown_tool():
    md = suite_to_markdown(_suite())
    assert "# Constraint suite `docs`" in md
    assert "## `n_tok`" in md
    assert "**minimum** — shall be >= 1" in md
    assert "cross-field on `tokens`" in md


def test_ddl_tool():
    ddl = suite_to_ddl(_suite(), table="seq")
    assert ddl.startswith("CREATE TABLE seq (")
    assert "doc_id STRING NOT NULL" in ddl
    assert "n_tok INT" in ddl and "shall be <= 2048" in ddl
    assert "-- cross-field [tokens] custom.size_eq" in ddl


def test_walker_item_events():
    """:item/:item-end events fire around element-schema constraints
    (matchers.js:3-63; processor.js:43-47 schemaOnly item iteration)."""
    from schemasaurus_spark import dsl
    from schemasaurus_spark.plans.suite_tools import SuiteVisitor, walk_suite

    events = []

    class Rec(SuiteVisitor):
        def constraint(self, column, c):
            events.append(("c", column, c.code))

        def item_start(self, column, index):
            events.append(("item", column, index))

        def item_end(self, column, index):
            events.append(("item-end", column, index))

    suite = dsl.Suite(columns={
        "toks": [dsl.MinItems(1),
                 dsl.Items([dsl.Minimum(0), dsl.Maximum(9)])],
        "tup": [dsl.TupleItems([[dsl.Enum(["a"])], [dsl.Minimum(1)]])],
    })
    walk_suite(suite, Rec())
    assert events == [
        ("c", "toks", "minItems"),
        ("c", "toks", "items"),
        ("item", "toks", None),
        ("c", "toks", "minimum"), ("c", "toks", "maximum"),
        ("item-end", "toks", None),
        ("c", "tup", "items"),
        ("item", "tup", 0), ("c", "tup", "enum"), ("item-end", "tup", 0),
        ("item", "tup", 1), ("c", "tup", "minimum"), ("item-end", "tup", 1),
    ]


def test_markdown_renders_item_constraints():
    from schemasaurus_spark import dsl
    from schemasaurus_spark.plans.suite_tools import suite_to_markdown

    md = suite_to_markdown(dsl.Suite(columns={
        "toks": [dsl.Items([dsl.Minimum(0)])]}))
    assert "each item" in md and "minimum" in md


# --- round-5: per-VALUE tools (newIterator over DATA) ---------------------


def test_row_tool_form_generator_matches_reference_readme(spark):
    """The README form generator (README.md:314-412) re-expressed as ONE
    Spark projection: [type=string] fires per string column, per row —
    output matches the reference's rendered HTML exactly."""
    from pyspark.sql import functions as F

    from schemasaurus_spark import dsl
    from schemasaurus_spark.plans.suite_tools import RowTool, compile_row_tool

    class FormGenerator(RowTool):
        def selectors(self):
            return {"[type=string]": self.string_input}

        def string_input(self, col, ctx):
            return F.format_string(
                "<input type='string' value='%s' name='" + ctx.path + "'>",
                col)

        def end(self, fragments):
            return F.concat_ws("\n", *fragments)

    suite = dsl.Suite(
        id_column="doc_id",
        columns={
            "firstname": [dsl.TypeIs("string"), dsl.NotNull()],
            "lastname": [dsl.TypeIs("string"), dsl.NotNull()],
            "gender": [dsl.TypeIs("string"), dsl.NotNull(),
                       dsl.Enum(["male", "female"])],
            "age": [dsl.TypeIs("integer")],  # non-string: no input rendered
        })
    df = spark.createDataFrame(
        [(1, "frodo", "baggins", "male", 50)],
        "doc_id long, firstname string, lastname string, gender string, "
        "age long")
    out = compile_row_tool(suite, FormGenerator)(df).collect()
    assert out[0]["tool_output"] == (
        "<input type='string' value='frodo' name='firstname'>\n"
        "<input type='string' value='baggins' name='lastname'>\n"
        "<input type='string' value='male' name='gender'>")


def test_row_tool_selector_syntax(spark):
    """[attr=value], [^attr], [a][b] conjunction, :start/:end ordering —
    the full selector grammar (README.md:399-412)."""
    from pyspark.sql import functions as F

    from schemasaurus_spark import dsl
    from schemasaurus_spark.plans.suite_tools import RowTool, compile_row_tool

    class Tool(RowTool):
        def selectors(self):
            return {
                "[type=string]:start": lambda c, x: F.lit(f"<{x.path}>"),
                "[type=string][required]": lambda c, x: c,
                "[type=string]:end": lambda c, x: F.lit(f"</{x.path}>"),
                "[^required]": lambda c, x: F.lit(f"optional:{x.path}"),
            }

        def end(self, fragments):
            return F.concat_ws("|", *fragments)

    suite = dsl.Suite(
        id_column="id",
        columns={"a": [dsl.TypeIs("string"), dsl.NotNull()],
                 "b": [dsl.TypeIs("integer")]})
    df = spark.createDataFrame([(1, "X", 9)], "id long, a string, b long")
    got = compile_row_tool(suite, Tool)(df).first()["tool_output"]
    assert got == "<a>|X|</a>|optional:b"


def test_row_tool_item_selector_fires_per_element(spark):
    from pyspark.sql import functions as F

    from schemasaurus_spark import dsl
    from schemasaurus_spark.plans.suite_tools import RowTool, compile_row_tool

    class Tool(RowTool):
        def selectors(self):
            return {"[items]:item": lambda e, x: F.format_string("[%s]", e)}

        def end(self, fragments):
            return F.concat_ws("", *fragments)

    suite = dsl.Suite(
        id_column="id",
        columns={"xs": [dsl.Items([dsl.Minimum(0)])]})
    df = spark.createDataFrame([(1, ["a", "b"])], "id long, xs array<string>")
    got = compile_row_tool(suite, Tool)(df).first()["tool_output"]
    assert got == "[a][b]"


def test_row_tool_items_render_inside_start_end_wrapper(spark):
    """The reference's fieldset example (README.md:437-458): :start opens
    the wrapper, :item renders each element, :end closes it — items must
    land BETWEEN the wrapper fragments (round-5 review finding #3)."""
    from pyspark.sql import functions as F

    from schemasaurus_spark import dsl
    from schemasaurus_spark.plans.suite_tools import RowTool, compile_row_tool

    class Tool(RowTool):
        def selectors(self):
            return {
                "[items]:start": lambda c, x: F.lit("<fieldset>"),
                "[items]:item": lambda e, x: F.format_string("<i>%s</i>", e),
                "[items]:end": lambda c, x: F.lit("</fieldset>"),
            }

        def end(self, fragments):
            return F.concat_ws("", *fragments)

    suite = dsl.Suite(id_column="id",
                      columns={"xs": [dsl.Items([dsl.Minimum(0)])]})
    df = spark.createDataFrame([(1, ["a", "b"])], "id long, xs array<string>")
    got = compile_row_tool(suite, Tool)(df).first()["tool_output"]
    assert got == "<fieldset><i>a</i><i>b</i></fieldset>"


def test_suite_diff_reports_changes(spark):
    """suite_diff: the human companion to Suite.fingerprint — reports
    what changed between suite versions, including a Conform lambda BODY
    edit (bytecode digest, not repr)."""
    import pyspark.sql.functions as F

    from schemasaurus_spark import dsl
    from schemasaurus_spark.plans.suite_tools import suite_diff

    v1 = dsl.Suite(
        id_column="doc_id",
        columns={"n_tok": [dsl.NotNull(), dsl.Minimum(1)],
                 "source": [dsl.Enum(["web", "books"])]},
        row=[("tokens", dsl.Conform(
            name="sz", expr=lambda c: F.size("tokens") == F.col("n_tok")))])
    assert suite_diff(v1, v1) == []

    v2 = dsl.Suite(
        id_column="doc_id",
        columns={"n_tok": [dsl.NotNull(), dsl.Minimum(1), dsl.Maximum(9)],
                 "lang": [dsl.NotNull()]},
        row=[("tokens", dsl.Conform(
            name="sz", expr=lambda c: F.size("tokens") == F.col("n_tok")))])
    kinds = [(c.kind, c.column) for c in suite_diff(v1, v2)]
    assert ("column_removed", "source") in kinds
    assert ("column_added", "lang") in kinds
    assert ("constraint_added", "n_tok") in kinds
    assert not any(k.startswith("row_rule") for k, _ in kinds)

    # Conform BODY edit: same repr shape, different bytecode -> detected
    v3 = dsl.Suite(
        id_column="doc_id",
        columns={"n_tok": [dsl.NotNull(), dsl.Minimum(1)],
                 "source": [dsl.Enum(["web", "books"])]},
        row=[("tokens", dsl.Conform(
            name="sz", expr=lambda c: F.size("tokens") >= F.col("n_tok")))])
    rk = {c.kind for c in suite_diff(v1, v3)}
    assert rk == {"row_rule_removed", "row_rule_added"}


def test_swallowed_fallbacks_are_logged(spark, caplog, tmp_path):
    """The three fallbacks keep their result and log the exception on the
    ``schemasaurus_spark`` logger: an undescribable constraint, a message
    arg that cannot be interpolated, a failed unpersist."""
    import logging

    from schemasaurus_spark import queries
    from schemasaurus_spark.messages import UnknownMessageError, render_message
    from schemasaurus_spark.plans.suite_tools import _describe
    from schemasaurus_spark.session import local_frame

    class _Unknown(dsl.Constraint):
        code = "no.such.code"

    class _Stuck:
        def unpersist(self):
            raise RuntimeError("block manager gone")

    local_frame(spark, [(1, "a b")], "doc_id long, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    with caplog.at_level(logging.WARNING, logger="schemasaurus_spark"):
        assert _describe(_Unknown()) == "no.such.code"
        assert render_message("enum", [object()]) == \
            "shall be one of values %s"
        queries._DEDUP_EXACT_HANDLES.append(_Stuck())
        queries.q_dedup_exact(spark, str(tmp_path))
    queries._DEDUP_EXACT_HANDLES.pop().unpersist()
    records = [r for r in caplog.records if r.name == "schemasaurus_spark"]
    assert [r.exc_info[0] for r in records] == [
        UnknownMessageError, TypeError, RuntimeError]
    assert "no.such.code" in records[0].getMessage()
    assert "unpersist" in records[2].getMessage()
