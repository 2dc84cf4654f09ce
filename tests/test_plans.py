"""Physical-plan regression guards — the plan *shape* is part of the
contract at 100 TB (SURVEY.md §4): no accidental shuffles, broadcasts stay
broadcasts, scans prune columns, codegen spans stay wide."""

import pyspark.sql.functions as F
import pytest

from schemasaurus_spark import datagen
from schemasaurus_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_row_validation_is_single_stage_no_shuffle(spark):
    df = datagen.finalize(datagen.gen_sequences(spark, 100, 2))
    from schemasaurus_spark import validate
    from bench import full_sequences_suite
    res = validate(df, full_sequences_suite())
    p = _plan(res.validated)
    assert "Exchange" not in p          # narrow: zero shuffle
    assert "BatchEvalPython" not in p   # no per-row Python
    assert "ArrowEvalPython" not in p   # no UDF unless conform(pandas_fn)


def test_hof_free_suite_stays_in_codegen(spark):
    """Suites without array-lambda constraints must stay inside
    WholeStageCodegen (higher-order functions are CodegenFallback in Spark —
    a known engine-wide tradeoff documented in BENCH.md)."""
    from schemasaurus_spark import validate
    from schemasaurus_spark import dsl
    df = datagen.finalize(datagen.gen_sequences(spark, 100, 2))
    suite = dsl.Suite(columns={
        "doc_id": [dsl.NotNull(), dsl.Pattern(r"^[a-z]+")],
        "n_tok": [dsl.Minimum(1), dsl.Maximum(2048)],
        "source": [dsl.Enum(datagen.SOURCES)],
        "tokens": [dsl.MinItems(1), dsl.MaxItems(2048)],
    })
    res = validate(df, suite)
    p = _plan(res.validated)
    assert "WholeStageCodegen" in p or "*(1)" in p


def test_verdicts_shuffle_is_partial_agg_only(spark):
    df = datagen.finalize(datagen.gen_sequences(spark, 100, 2))
    from schemasaurus_spark import validate
    from bench import full_sequences_suite
    res = validate(df, full_sequences_suite())
    # verdicts()/metrics() are local relations over the one counts
    # aggregate; the shuffle pin lives on that aggregate's plan
    assert "LocalTableScan" in _plan(res.verdicts())
    p = _plan(res.counts_frame())
    # partial agg before the exchange => only aggregated rows move (the
    # plan prints top-down, so the partial agg is listed below it)
    below_exchange = p.split("Exchange", 1)[1]
    assert "HashAggregate" in p and "partial_count" in below_exchange
    assert p.count("Exchange") == 1


def test_counts_aggregate_does_not_expand_rows(spark):
    """A clean row feeds the counts aggregate ONE generated row (its
    partition entry), as the per-partition groupBy it replaced did: no
    Expand node, which would feed every row to the aggregate once per
    grouping set."""
    df = datagen.finalize(datagen.gen_sequences(spark, 100, 2))
    from schemasaurus_spark import validate
    from bench import full_sequences_suite
    p = _plan(validate(df, full_sequences_suite()).counts_frame())
    assert "Expand" not in p and "Generate" in p


def test_referential_check_broadcasts_dimension(spark):
    from schemasaurus_spark.operators.aggregates import referential_check
    df = datagen.finalize(datagen.gen_sequences(spark, 100, 2))
    v = referential_check(df, datagen.sources_dim(spark), "source")
    p = _plan(v)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_ann_topk_uses_take_ordered(spark):
    df = QUERIES["ann_topk"](spark, SF)
    p = _plan(df)
    # global sort+limit compiles to per-partition top-k + single merge
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.split("TakeOrderedAndProject")[0]


def test_token_count_prunes_columns(spark):
    df = QUERIES["token_count"](spark, SF)
    p = _plan(df)
    scan = p[p.index("ReadSchema"):].splitlines()[0]
    assert "text" in scan and "doc_id" in scan
    assert "lang" not in scan and "source" not in scan and "n_chars" not in scan


def test_tpch_q1_partial_aggregation(spark):
    df = QUERIES["tpch_q1"](spark, SF)
    p = _plan(df)
    assert p.count("HashAggregate") >= 2  # partial + final
    assert p.count("Exchange") == 1


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id")
    p = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p or \
           "PushedFilters: [IsNotNull(lang), EqualTo(lang, en)]" in p or \
           ("PushedFilters" in p and "EqualTo(lang" in p)


def test_validate_lineitem_plan_shape(spark):
    """Scan-heavy validation query: ONE WholeStageCodegen span, zero
    shuffle, and the scan reads only the 5 referenced columns (of 11)."""
    from schemasaurus_spark.queries import QUERIES

    df = QUERIES["validate_lineitem"](spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert p.count("*(") >= 1 and "*(2)" not in p  # a single codegen stage
    schema = p.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_quantity" in schema and "l_extendedprice" not in schema


def test_row_filter_barrier_blocks_constraint_pushdown(spark, tmp_path):
    """invalid_rows()/valid_rows() over a parquet scan must NOT push the
    compiled constraint tree into the FileScan as an interpreted
    DataFilter (the 77s-vs-5s negative-scaling pathology, BENCH.md round
    2). Catalyst defeats both an AND-ed non-deterministic conjunct
    (conjuncts partition by determinism) and when(barrier, pred)
    (SimplifyConditionalsInPredicate), and range-folds rand()<-1 — pinned
    here so a future Spark upgrade or refactor can't silently regress it
    (round-4 review caught exactly that)."""
    import re

    from schemasaurus_spark import datagen, dsl
    from schemasaurus_spark.validate import validate

    path = str(tmp_path / "seq")
    datagen.finalize(datagen.gen_sequences(spark, 500, 2)) \
        .write.parquet(path)
    df = spark.read.parquet(path)
    suite = dsl.Suite(id_column="doc_id",
                      columns={"n_tok": [dsl.Minimum(1)],
                               "doc_id": [dsl.NotNull()]})
    res = validate(df, suite)
    for frame, n_expect in [(res.valid_rows(), 500),
                            (res.invalid_rows(), 0)]:
        plan = frame._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"DataFilters: \[([^\]]*)\]", plan)
        assert m is not None and m.group(1).strip() == "", \
            f"constraint tree pushed into the scan: {m.group(1)[:200]}"
        assert frame.count() == n_expect
    # the same suite plus a row-level Conform: its predicate is a bound
    # alias, which the row filter projects again above the scan
    n_bad = df.where("n_tok % 7 = 0").count()
    assert 0 < n_bad < 500
    res = validate(df, dsl.Suite(
        id_column="doc_id", columns=suite.columns,
        row=[("n_tok", dsl.Conform(name="not_mult7",
                                   expr=lambda c: c % 7 != 0))]))
    assert res.plan.bound
    for frame, n_expect in [(res.valid_rows(), 500 - n_bad),
                            (res.invalid_rows(), n_bad)]:
        plan = frame._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"DataFilters: \[([^\]]*)\]", plan)
        assert m is not None and m.group(1).strip() == "", \
            f"constraint tree pushed into the scan: {m.group(1)[:200]}"
        assert frame.count() == n_expect
