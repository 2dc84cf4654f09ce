"""Property-based tests (hypothesis) — beyond the reference's test suite
(it has none, SURVEY §5): engine invariants that must hold for arbitrary
bounds/values."""

import pytest
from hypothesis import given, settings, strategies as st

from schemasaurus_spark import dsl
from schemasaurus_spark.compiler import SuiteCompileError, compile_suite
from schemasaurus_spark.messages import render_message
from schemasaurus_spark.validate import validate


@settings(max_examples=25, deadline=None)
@given(lo=st.integers(-1000, 1000), hi=st.integers(-1000, 1000),
       vals=st.lists(st.one_of(st.none(), st.integers(-2000, 2000)),
                     min_size=1, max_size=8))
def test_bounds_violations_match_python_semantics(spark, lo, hi, vals):
    """For any Minimum/Maximum pair and any values, violations == the rows a
    direct Python evaluation flags (nulls skip, reference optional
    semantics)."""
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i int, v long")
    suite = dsl.Suite(id_column="i",
                      columns={"v": [dsl.Minimum(lo), dsl.Maximum(hi)]})
    got = {(r["i"], r["constraint_id"])
           for r in validate(df, suite).violations().collect()}
    want = set()
    for i, v in enumerate(vals):
        if v is None:
            continue
        if v < lo:
            want.add((i, "minimum"))
        if v > hi:
            want.add((i, "maximum"))
    assert got == want


@settings(max_examples=25, deadline=None)
@given(values=st.lists(st.text(alphabet="abc", min_size=0, max_size=3),
                       min_size=1, max_size=6, unique=True),
       probe=st.text(alphabet="abcd", min_size=0, max_size=3))
def test_enum_matches_set_membership(spark, values, probe):
    df = spark.createDataFrame([(probe,)], "v string")
    suite = dsl.Suite(id_column="v", columns={"v": [dsl.Enum(values)]})
    violated = validate(df, suite).violations().count() > 0
    assert violated == (probe not in values)


@settings(max_examples=20, deadline=None)
@given(arr=st.lists(st.one_of(st.none(), st.integers(0, 5)),
                    min_size=0, max_size=10))
def test_unique_items_occurrence_count(spark, arr):
    """#violations == len(arr) - len(set(arr)) — exactly one per duplicate
    occurrence (v4validator.js:233-246 parity) for ANY array, INCLUDING
    null duplicates (extraction is eqNullSafe; set() counts None once,
    matching array_distinct)."""
    df = spark.createDataFrame([(arr,)], "v array<int>")
    suite = dsl.Suite(id_column="v", columns={"v": [dsl.UniqueItems()]})
    n = validate(df, suite).violations().count()
    assert n == len(arr) - len(set(arr))


def _ev_element(c, x):
    """Pure-Python truth of an element check — the oracle for the element
    context of the compiler's keyword table. Called only on non-null
    elements (null elements skip value checks, column null semantics per
    element)."""
    if isinstance(c, dsl.AllOf):
        return all(all(_ev_element(s, x) for s in b) for b in c.branches)
    if isinstance(c, dsl.AnyOf):
        return any(all(_ev_element(s, x) for s in b) for b in c.branches)
    if isinstance(c, dsl.OneOf):
        return sum(all(_ev_element(s, x) for s in b) for b in c.branches) == 1
    if isinstance(c, dsl.Not):
        return not all(_ev_element(s, x) for s in c.branch)
    if isinstance(c, dsl.Minimum):
        return x >= c.value
    if isinstance(c, dsl.Maximum):
        return x <= c.value
    if isinstance(c, dsl.MultipleOf):
        return (x / float(c.value)) % 1.0 == 0.0
    if isinstance(c, dsl.Enum):
        return x in list(c.values)
    raise AssertionError(type(c))


# Every keyword of compiler.KEYWORDS on a dtype it applies to and on one it
# does not (NotNull and Enum apply to every dtype: two applicable ones), as
# (keyword, ddl, [passing value, failing value], applies) — on a dtype the
# keyword does not apply to, both values pass.
_KEYWORD_DTYPES = [
    (kw, ddl, values, applies)
    for kw, applicable, other in [
        (dsl.NotNull(), ("int", [1, None]), ("string", ["a", None])),
        (dsl.Enum([1, 2]), ("int", [1, 3]), ("double", [2.0, 2.5])),
        (dsl.Minimum(0), ("int", [0, -1]), ("string", ["a", "-1"])),
        (dsl.ExclusiveMinimum(0), ("int", [1, 0]), ("string", ["a", "0"])),
        (dsl.Maximum(9), ("int", [9, 10]), ("string", ["a", "10"])),
        (dsl.ExclusiveMaximum(9), ("int", [8, 9]), ("string", ["a", "9"])),
        (dsl.MultipleOf(2), ("int", [4, 3]), ("string", ["a", "3"])),
        (dsl.MinLength(2), ("string", ["ab", "a"]), ("int", [1, 5])),
        (dsl.MaxLength(2), ("string", ["ab", "abc"]), ("int", [1, 12345])),
        (dsl.Pattern("^x"), ("string", ["xa", "a"]), ("int", [1, 2])),
        (dsl.Format("ipv4"), ("string", ["1.2.3.4", "a"]), ("int", [1, 2])),
        (dsl.MinItems(2), ("array<int>", [[1, 2], [1]]), ("int", [1, 2])),
        (dsl.MaxItems(1), ("array<int>", [[1], [1, 2]]), ("string", ["a", "ab"])),
        (dsl.UniqueItems(), ("array<int>", [[1, 2], [1, 1]]), ("int", [1, 1])),
        (dsl.MinProperties(1), ("map<string,int>", [{"a": 1}, {}]),
         ("int", [1, 2])),
        (dsl.MaxProperties(1), ("map<string,int>", [{"a": 1}, {"a": 1, "b": 2}]),
         ("array<int>", [[1], [1, 2]])),
    ]
    for (ddl, values), applies in (
        (applicable, True), (other, isinstance(kw, (dsl.NotNull, dsl.Enum))))
]


@pytest.fixture(scope="module")
def keyword_verdicts(spark):
    """All cases in ONE frame and ONE suite: case n puts its value in
    scalar column s<n>, in the one-element array a<n> under Items([kw]) and
    in the array<struct<f>> column f<n> under Items(fields={"f": [kw]}).
    Returns {(n, row): (scalar failed, items failed, fields failed)}."""
    ddl, columns, rows = ["i int"], {}, [[0], [1]]
    for n, (kw, t, values, _) in enumerate(_KEYWORD_DTYPES):
        ddl += [f"s{n} {t}", f"a{n} array<{t}>", f"f{n} array<struct<f: {t}>>"]
        columns.update({f"s{n}": [kw], f"a{n}": [dsl.Items([kw])],
                        f"f{n}": [dsl.Items(fields={"f": [kw]})]})
        for row, v in zip(rows, values):
            row += [v, [v], [(v,)]]
    df = spark.createDataFrame([tuple(r) for r in rows], ", ".join(ddl))
    bad = {(r["i"], r["column"])
           for r in validate(df, dsl.Suite(id_column="i", columns=columns))
           .violations().collect()}
    return {(n, i): tuple((i, f"{c}{n}") in bad for c in "saf")
            for n in range(len(_KEYWORD_DTYPES)) for i in (0, 1)}


@pytest.mark.parametrize(
    "n", range(len(_KEYWORD_DTYPES)),
    ids=[f"{type(kw).__name__}-{t}" for kw, t, _, _ in _KEYWORD_DTYPES])
def test_element_keyword_verdict_matches_scalar(keyword_verdicts, n):
    """Row and element contexts share one keyword table and one dtype
    guard: a keyword gives the same verdict on a scalar column, on the
    same value as an Items element and as an Items(fields=) struct field —
    including compiling to nothing on a dtype it does not apply to."""
    applies = _KEYWORD_DTYPES[n][3]
    assert keyword_verdicts[n, 0] == (False, False, False)
    assert keyword_verdicts[n, 1] == (applies,) * 3


@settings(max_examples=15, deadline=None)
@given(data=st.data())
def test_element_combinators_match_python_semantics(spark, data):
    """Random shallow combinator trees as items element schemas: the engine
    flags exactly the elements a direct Python evaluation flags, one
    violation per offending element with code items.<combinator>."""
    leaf = st.sampled_from([
        dsl.Minimum(0), dsl.Maximum(10), dsl.MultipleOf(3),
        dsl.Enum([1, 2, 3, 12]),
    ])
    branch = st.lists(leaf, min_size=1, max_size=2)
    tree = data.draw(st.one_of(
        st.builds(lambda bs: dsl.AllOf(tuple(map(tuple, bs))),
                  st.lists(branch, min_size=1, max_size=3)),
        st.builds(lambda bs: dsl.AnyOf(tuple(map(tuple, bs))),
                  st.lists(branch, min_size=1, max_size=3)),
        st.builds(lambda bs: dsl.OneOf(tuple(map(tuple, bs))),
                  st.lists(branch, min_size=1, max_size=3)),
        st.builds(lambda b: dsl.Not(tuple(b)), branch),
    ))
    arrays = data.draw(st.lists(
        st.lists(st.one_of(st.none(), st.integers(-5, 15)), max_size=6),
        min_size=1, max_size=5))
    df = spark.createDataFrame(list(enumerate(arrays)), "i int, v array<int>")
    suite = dsl.Suite(id_column="i", columns={"v": [dsl.Items([tree])]})
    got = sorted((r["i"], r["constraint_id"])
                 for r in validate(df, suite).violations().collect())
    want = sorted((i, f"items.{tree.code}")
                  for i, arr in enumerate(arrays)
                  for x in arr if x is not None and not _ev_element(tree, x))
    assert got == want


def test_missing_column_raises_compile_error(spark):
    df = spark.createDataFrame([(1,)], "a int")
    with pytest.raises(SuiteCompileError, match="missing column.*nope"):
        validate(df, dsl.Suite(columns={"nope": [dsl.NotNull()]}))


def test_violation_examples_capped(spark):
    df = spark.createDataFrame([(i, -1) for i in range(20)], "i int, v int")
    suite = dsl.Suite(id_column="i", columns={"v": [dsl.Minimum(0)]})
    res = validate(df, suite)
    ex = res.violation_examples(k=3)
    assert ex.count() == 3


@settings(max_examples=30, deadline=None)
@given(code=st.sampled_from(["minimum", "maxLength", "enum", "pattern"]),
       arg=st.one_of(st.integers(-5, 5), st.text(max_size=4),
                     st.lists(st.text(max_size=2), max_size=3)))
def test_message_rendering_never_crashes(code, arg):
    msg = render_message(code, arg)
    assert isinstance(msg, str) and msg


@settings(max_examples=15, deadline=None)
@given(data=st.data())
def test_fuzz_random_suites_compile_and_run(spark, data):
    """Compiler totality: any well-formed random suite over a mixed-type
    frame compiles, runs, and yields violations only for existing rows."""
    int_constraints = st.sampled_from([
        dsl.NotNull(), dsl.Minimum(0), dsl.Maximum(50), dsl.MultipleOf(3),
        dsl.Enum([1, 2, 3]), dsl.Not([dsl.Minimum(100)]),
        dsl.AnyOf([[dsl.Minimum(10)], [dsl.Maximum(5)]]),
        dsl.OneOf([[dsl.Minimum(0)], [dsl.Maximum(100)]]),
    ])
    str_constraints = st.sampled_from([
        dsl.NotNull(), dsl.MinLength(1), dsl.MaxLength(10),
        dsl.Pattern("^[a-z]"), dsl.Enum(["aa", "bb"]),
    ])
    arr_constraints = st.sampled_from([
        dsl.MinItems(0), dsl.MaxItems(10), dsl.UniqueItems(),
        dsl.Items([dsl.Minimum(-100), dsl.Maximum(100)]),
    ])
    # one PatternProperties variant only: two different ones (or one plus
    # KeyPattern) in a single column would be a legitimate JSON keyword
    # conflict (patternProperties emitted twice) and _merge rightly raises
    map_constraints = st.sampled_from([
        dsl.MinProperties(0), dsl.MaxProperties(5),
        dsl.PatternProperties([("^a", (dsl.Minimum(0),))], additional=False),
    ])
    suite = dsl.Suite(id_column="i", columns={
        "n": data.draw(st.lists(int_constraints, min_size=0, max_size=3)),
        "s": data.draw(st.lists(str_constraints, min_size=0, max_size=3)),
        "a": data.draw(st.lists(arr_constraints, min_size=0, max_size=2)),
        "m": data.draw(st.lists(map_constraints, min_size=0, max_size=2)),
    })
    rows = data.draw(st.lists(
        st.tuples(st.integers(0, 99),
                  st.one_of(st.none(), st.integers(-100, 100)),
                  st.one_of(st.none(), st.text(alphabet="abz", max_size=5)),
                  st.one_of(st.none(), st.lists(st.integers(-200, 200), max_size=5)),
                  st.one_of(st.none(), st.dictionaries(
                      st.text(alphabet="abz", min_size=1, max_size=2),
                      st.integers(-5, 15), max_size=3))),
        min_size=1, max_size=6))
    df = spark.createDataFrame(
        rows, "i int, n long, s string, a array<long>, m map<string,long>")
    res = validate(df, suite)
    v = res.violations().collect()
    ids = {r[0] for r in rows}
    assert all(r["i"] in ids for r in v)
    # verdict coherence: table valid iff zero violations
    assert res.is_valid() == (len(v) == 0)

    # JSON round-trip property: every fuzzed suite is JSON-expressible and
    # must produce the IDENTICAL violation SET after suite → JSON → suite.
    # Sets, not multisets: the DSL admits duplicate identical constraints
    # (e.g. [NotNull, NotNull]) which a JSON object cannot represent — the
    # translator rightly collapses them (found by this fuzzer).
    from schemasaurus_spark.schema_json import (
        suite_from_json_schema, suite_to_json_schema,
    )

    back = suite_from_json_schema(suite_to_json_schema(suite), id_column="i")
    v2 = validate(df, back).violations().collect()
    key = lambda r: (r["i"], r["constraint_id"], r["column"], r["value"])
    assert set(map(key, v)) == set(map(key, v2))
