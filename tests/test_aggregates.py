"""Aggregate-check tests (SURVEY.md §2.5; FIXTURES.md V-dup-docid,
V-ref-source, V-null-rate, V-drift)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from plan_walk import spark_jobs
from schemasaurus_spark import datagen
from schemasaurus_spark.operators import aggregates as agg
from schemasaurus_spark.operators import sketch


def test_column_stats_one_pass(spark):
    df = datagen.finalize(datagen.gen_sequences(spark, 500, 8))
    stats = agg.column_stats(df, ["n_tok", "doc_id"], by="source")
    rows = {(r["group_key"], r["column"]): r for r in stats.collect()}
    assert ("web", "n_tok") in rows
    r = rows[("web", "n_tok")]
    assert r["n_nulls"] == 0 and r["null_rate"] == 0.0
    assert int(r["min"]) >= 1 and int(r["max"]) <= 2048


def test_uniqueness_clean_short_circuits(spark):
    df = datagen.finalize(datagen.gen_sequences(spark, 300, 4))
    res = agg.uniqueness_check(df, "doc_id")
    assert res.screened_clean
    assert res.violations.count() == 0


def test_uniqueness_duplicates_reported_per_occurrence(spark):
    df = datagen.finalize(datagen.corrupt_dup_docid(datagen.gen_sequences(spark, 300, 4), every=30))
    n_dups = df.count() - df.select("doc_id").distinct().count()
    res = agg.uniqueness_check(df, "doc_id")
    assert not res.screened_clean
    v = res.violations
    assert v.count() == n_dups  # one per extra occurrence
    codes = {r["constraint_id"] for r in v.collect()}
    assert codes == {"unique.doc_id"}


def test_referential_broadcast_anti_join(spark):
    df = datagen.finalize(datagen.corrupt_ref_source(datagen.gen_sequences(spark, 300, 4), every=30))
    dim = datagen.sources_dim(spark)
    v = agg.referential_check(df, dim, "source")
    rows = v.collect()
    assert rows and all(r["value"] == "shadowlib" for r in rows)
    # plan must contain a broadcast join, not a shuffle join
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_null_rate_check(spark):
    df = datagen.gen_sequences(spark, 400, 4)
    # null 50% of n_tok in 'books' only
    m = (F.col("source") == "books") & (F.pmod(F.col("i"), F.lit(2)) == 0)
    df = datagen.finalize(df.withColumn("n_tok", F.when(m, None).otherwise(F.col("n_tok"))))
    v = agg.null_rate_check(df, "n_tok", max_rate=0.2, by="source").collect()
    assert len(v) == 1 and v[0]["doc_id"] == "books"
    assert v[0]["constraint_id"] == "stats.null_rate"


def test_drift_psi_ks(spark):
    clean = datagen.finalize(datagen.gen_sequences(spark, 2000, 8))
    edges = [float(x) for x in [0, 8, 16, 32, 64, 128, 256, 512, 1024, 2048]]
    baseline = agg.histogram(clean, "n_tok", edges, by="source")
    # no drift vs itself
    ok = agg.drift_check(clean, baseline, "n_tok", edges, by="source")
    assert all(r.passed for r in ok)
    # shift n_tok x4 in one source → drift
    shifted = clean.withColumn(
        "n_tok",
        F.when(F.col("source") == "web", F.least(F.col("n_tok") * 4, F.lit(2048)))
        .otherwise(F.col("n_tok")),
    )
    bad = agg.drift_check(shifted, baseline, "n_tok", edges, by="source")
    by_key = {r.group_key: r for r in bad}
    assert not by_key["web"].passed and by_key["web"].psi > 0.2
    assert by_key["books"].passed
    viol = agg.drift_violations(spark, bad, 0.2, 0.15).violations
    assert viol.where("doc_id = 'web'").count() >= 1


def test_tdigest_sketch_quantiles(spark):
    df = datagen.finalize(datagen.gen_sequences(spark, 3000, 8))
    sk = sketch.quantile_sketch(df, "n_tok", by="source")
    q = sketch.quantiles_from_sketch(sk, [0.5])
    exact = {
        r["source"]: r["med"]
        for r in df.groupBy("source").agg(F.expr("percentile(n_tok, 0.5)").alias("med")).collect()
    }
    assert q.keys() == exact.keys()
    for k, (med,) in q.items():
        assert abs(med - exact[k]) <= max(6.0, 0.15 * exact[k]), (k, med, exact[k])


def test_sketch_merge_is_associative_enough(spark):
    a = datagen.finalize(datagen.gen_sequences(spark, 1000, 4))
    b = datagen.finalize(datagen.gen_sequences(spark, 1000, 4)).withColumn(
        "n_tok", F.least(F.col("n_tok") * 2, F.lit(2048))
    )
    sa = sketch.quantile_sketch(a, "n_tok")
    sb = sketch.quantile_sketch(b, "n_tok")
    merged = sketch.merge_sketches(sa, sb)
    q = sketch.quantiles_from_sketch(merged, [0.5])["*"][0]
    union = a.unionByName(b)
    exact = union.selectExpr("percentile(n_tok, 0.5) as m").first()["m"]
    assert abs(q - exact) <= max(8.0, 0.2 * exact)


def test_token_id_histogram_no_explode(spark):
    """Element-level histogram matches the explode-based reference
    computation without shuffling elements."""
    df = datagen.finalize(datagen.gen_sequences(spark, 500, 4))
    edges = [0.0, 10000.0, 20000.0, 30000.0, 40000.0, 50257.0]
    got = {(r["group_key"], r["bucket"]): r["count"]
           for r in agg.array_histogram(df, "tokens", edges, by="source").collect()}
    ref = (df.select("source", F.explode("tokens").alias("t"))
             .groupBy("source",
                      F.floor(F.col("t") / 10000).cast("int").alias("b"))
             .count().collect())
    want = {}
    for r in ref:
        b = min(r["b"], 4)  # max token id 50256 < edges[-1]; no overflow
        want[(r["source"], b)] = want.get((r["source"], b), 0) + r["count"]
    assert got == want
    # plan: tokens are never exploded pre-aggregation (the only Generate is
    # the 5-row post-agg unpivot, printed ABOVE the Aggregate node)
    plan = agg.array_histogram(df, "tokens", edges, by="source") \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "explode(tokens" not in plan
    assert plan.index("Generate") < plan.index("Aggregate")


def test_token_id_drift(spark):
    """North-star token-id drift: shifting the token distribution in one
    source trips drift.psi on the array histogram."""
    clean = datagen.finalize(datagen.gen_sequences(spark, 1000, 4))
    edges = [0.0, 10000.0, 20000.0, 30000.0, 40000.0, 50257.0]
    base = agg.array_histogram(clean, "tokens", edges, by="source")
    skewed = clean.withColumn(
        "tokens",
        F.when(F.col("source") == "web",
               F.transform("tokens", lambda t: F.pmod(t, F.lit(9000)).cast("int")))
        .otherwise(F.col("tokens")))
    res = agg.drift_check(skewed, base, "tokens", edges, by="source",
                          is_array=True)
    by_key = {r.group_key: r for r in res}
    assert not by_key["web"].passed
    assert by_key["books"].passed


def test_uniqueness_composite_key(spark):
    """Composite-key uniqueness: duplicate (a, b) pairs are flagged; rows
    with any NULL component are excluded (SQL UNIQUE semantics)."""
    from schemasaurus_spark.operators import aggregates as agg

    df = spark.createDataFrame(
        [("u1", "d1"), ("u1", "d2"), ("u1", "d1"),       # dup pair
         ("u2", None), ("u2", None)],                     # NULLs excluded
        "user string, day string")
    res = agg.uniqueness_check(df, key=["user", "day"])
    assert not res.screened_clean
    assert res.screen_total == 3 and res.screen_distinct == 2
    rows = res.violations.collect()
    assert [(r["doc_id"], r["column"]) for r in rows] == [("u1|d1", "user|day")]


def test_duplicate_clusters_chain_and_star(spark):
    """Connected components over pairs: a 4-chain and a 3-star each get one
    min-id label; singleton pairs stay their own cluster."""
    from schemasaurus_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11), (10, 12),          # star centered on 10
         (20, 21)],                   # isolated pair
        "id_a long, id_b long")
    got = {r["id"]: r["cluster"]
           for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_uniqueness_composite_key_no_separator_collision(spark):
    """Distinct composite keys whose values contain '|' must NOT collide
    (review fix: concat_ws grouping merged ('x|y','z') with ('x','y|z'))."""
    from schemasaurus_spark.operators import aggregates as agg

    df = spark.createDataFrame([("x|y", "z"), ("x", "y|z")], "a string, b string")
    res = agg.uniqueness_check(df, key=["a", "b"])
    assert res.screened_clean and res.screen_distinct == 2


def test_drift_check_null_group_key(spark):
    """A null in the by-column forms its own group instead of crashing the
    drift sort (review fix)."""
    from schemasaurus_spark.operators import aggregates as agg

    df = spark.createDataFrame(
        [(None, 5.0), ("web", 6.0), ("web", 7.0)], "src string, v double")
    edges = [0.0, 10.0]
    base = agg.histogram(df, "v", edges, by="src")
    res = agg.drift_check(df, base, "v", edges, by="src")
    assert all(r.passed for r in res)


def test_array_histogram_overflow_buckets(spark):
    """Out-of-range elements land in the -1/n buckets instead of vanishing
    (review fix: drift was blind to range shifts)."""
    from schemasaurus_spark.operators import aggregates as agg

    df = spark.createDataFrame([([-5, 5, 15, 25],)], "a array<int>")
    got = {(r["bucket"]): r["count"]
           for r in agg.array_histogram(df, "a", [0.0, 10.0, 20.0]).collect()}
    assert got == {-1: 1, 0: 1, 1: 1, 2: 1}


def test_referential_check_null_keys_skip(spark):
    """NULL fact keys skip the referential check (engine null convention)."""
    from schemasaurus_spark.operators import aggregates as agg

    fact = spark.createDataFrame(
        [(1, "web"), (2, None), (3, "bogus")], "doc_id long, source string")
    dim = spark.createDataFrame([("web",), ("books",)], "source string")
    rows = agg.referential_check(fact, dim).collect()
    assert [(r["doc_id"], r["value"]) for r in rows] == [("3", "bogus")]


def test_column_stats_skips_map_columns(spark):
    from schemasaurus_spark.operators import aggregates as agg

    df = spark.createDataFrame([(1, {"k": "v"})], "n long, m map<string,string>")
    rows = agg.column_stats(df).collect()        # must not raise
    cols = {r["column"] for r in rows}
    assert cols == {"n"}                          # map column skipped
    assert [r["max"] for r in rows if r["column"] == "n"] == ["1"]


def test_tdigest_keeps_null_group(spark):
    """NULL group keys form their own sketch group (review fix: pandas
    groupby dropna silently lost the null-`by` population)."""
    df = spark.createDataFrame(
        [(None, float(i)) for i in range(50)]
        + [("web", float(i)) for i in range(50)], "src string, v double")
    sk = sketch.quantile_sketch(df, "v", by="src")
    qs = sketch.quantiles_from_sketch(sk, [0.5])
    assert len(qs) == 2 and None in qs   # null group present


def test_sketch_of_all_null_values_reads_none(spark):
    """A key whose values are all NULL has an empty KLL sketch, which
    kll_sketch_get_quantile_* rejects by aborting the job: its quantiles
    read None and the other keys still read theirs, also after a merge."""
    df = spark.createDataFrame(
        [("empty", None)] * 5 + [("web", float(i)) for i in range(11)],
        "src string, v double")
    sk = sketch.quantile_sketch(df, "v", by="src")
    assert sketch.quantiles_from_sketch(sk, [0.5, 0.95]) == {
        "empty": None, "web": [5.0, 10.0]}
    merged = sketch.merge_sketches(sk, sk.where("key = 'empty'"))
    assert sketch.quantiles_from_sketch(merged, [0.5])["empty"] is None


# Normalized rank error of a KLL sketch at Spark's default k = 200
# (DataSketches KllSketch.getNormalizedRankError(200, false), 99 %
# confidence over every rank).
KLL_RANK_EPS = 0.0133


def test_merged_sketch_within_rank_bound_of_union_sketch(spark):
    """merge(sketch(A), sketch(B)) answers p50/p95 within KLL's rank bound
    of sketch(A ∪ B), on inputs large enough that both compact. Values are
    the distinct integers 0..n-1, so a value's rank is value / n."""
    n = 40_000
    df = spark.range(n).select(F.col("id").cast("double").alias("x"))
    a, b = df.where("x % 7 < 2"), df.where("x % 7 >= 2")   # 2/7 vs 5/7
    probs = [0.5, 0.95]
    merged = sketch.quantiles_from_sketch(
        sketch.merge_sketches(sketch.quantile_sketch(a, "x"),
                              sketch.quantile_sketch(b, "x")), probs)["*"]
    union = sketch.quantiles_from_sketch(
        sketch.quantile_sketch(df, "x"), probs)["*"]
    for p, qm, qu in zip(probs, merged, union):
        assert abs(qu / n - p) <= KLL_RANK_EPS, (p, qu)
        assert abs(qm / n - qu / n) <= 2 * KLL_RANK_EPS, (p, qm, qu)


def test_tdigest_accuracy_query_jobs(spark, tmp_path):
    """Sketch and exact quantiles come from one aggregate: building plus
    collecting tdigest_accuracy takes at most 3 Spark jobs (the parquet
    read, then the aggregate)."""
    from schemasaurus_spark.queries import q_tdigest_accuracy

    spark.range(3000).selectExpr(
        "id AS doc_id", "element_at(array('en', 'de', NULL), "
        "CAST(id % 3 AS INT) + 1) AS lang", "(id * 7919) % 5000 AS n_chars",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    with spark_jobs(spark, "tdigest_accuracy") as jobs:
        rows = q_tdigest_accuracy(spark, str(tmp_path)).collect()
    assert len(rows) == 6 and all(r["within_tol"] for r in rows)
    assert len(jobs) <= 3, jobs


def test_referential_scaled_matches_broadcast_variant(spark):
    """referential_check_scaled: same violations as the broadcast path,
    never broadcasting the dim — SMJ over key sets + broadcast-back of
    the (tiny) missing set onto the facts."""
    import pytest

    from schemasaurus_spark.operators import aggregates as agg

    df = datagen.finalize(datagen.corrupt_ref_source(
        datagen.gen_sequences(spark, 300, 4), every=30))
    dim = datagen.sources_dim(spark)
    want = sorted((r["doc_id"], r["value"])
                  for r in agg.referential_check(df, dim, "source").collect())
    checked = agg.referential_check_scaled(df, dim, "source")
    v = checked.violations
    got = sorted((r["doc_id"], r["value"]) for r in v.collect())
    assert got == want and want                       # non-vacuous parity
    # the screen's row count equals the attributed rows (no re-count)
    assert checked.n_rows == len(want)
    assert v.columns == ["doc_id", "constraint_id", "column", "value",
                         "arg", "message"]
    plan = v._jdf.queryExecution().executedPlan().toString()
    # phase 2 anti join stays a shuffle-merge join over KEY sets (the dim
    # must never be broadcast — planner stats on a small test dim would
    # otherwise flip it); phase 3 broadcasts only the missing-key set.
    assert "SortMergeJoin" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    # clean facts -> empty violations, stable schema
    clean = datagen.finalize(datagen.gen_sequences(spark, 100, 4))
    empty = agg.referential_check_scaled(clean, dim, "source").violations
    assert empty.count() == 0
    assert empty.columns == v.columns

    # NULL fact keys skip (engine-wide optional-null convention)
    fact = spark.createDataFrame(
        [(1, "web"), (2, None), (3, "bogus")], "doc_id long, source string")
    rows = agg.referential_check_scaled(fact, dim).violations.collect()
    assert [(r["doc_id"], r["value"]) for r in rows] == [("3", "bogus")]

    # systematic breakage refuses per-row attribution loudly
    with pytest.raises(ValueError, match="max_missing_keys"):
        agg.referential_check_scaled(df, dim, "source", max_missing_keys=0)


def test_stat_bounds_ride_fused_pass(spark):
    """Deequ-style stat bounds: count/sum/min/max ride the fused scan;
    violations are driver-built (LocalTableScan, no second scan)."""
    import pytest

    from schemasaurus_spark.operators import aggregates as agg

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", None), ("c", None)],
        "source string, x double")
    fused = agg.fused_aggregate_pass(df, null_rate_by="source",
                                     stat_bound_cols=["x"])
    stats = fused.stat_stats()
    assert stats["a"]["x"] == (2, 4.0, 1.0, 3.0)
    assert stats["b"]["x"] == (1, 10.0, 10.0, 10.0)
    assert stats["c"]["x"] == (0, 0.0, None, None)   # all-null group

    v = agg.stat_bound_violations_from_stats(
        spark, fused, {"x": {"max_mean": 2.5, "min_value": 2.0,
                             "max_value": 5.0}}).violations
    rows = {(r["doc_id"], r["constraint_id"], r["arg"])
            for r in v.collect()}
    # a: mean 2.0 passes; min 1.0 < 2.0 fires; max 3.0 passes
    # b: mean 10 > 2.5 fires; max 10 > 5 fires
    # c: entirely NULL -> emits nothing (null presence = null_rate/NotNull)
    assert rows == {("a", "stats.value_bound", "min_value=2.0"),
                    ("b", "stats.mean_bound", "max_mean=2.5"),
                    ("b", "stats.value_bound", "max_value=5.0")}
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Scan parquet" not in plan

    with pytest.raises(ValueError, match="unknown stat_bounds"):
        agg.stat_bound_violations_from_stats(
            spark, fused, {"x": {"mean_max": 1}})


def test_stat_bounds_refuse_non_numeric_column(spark):
    """A string column in stat_bounds must refuse loudly — cast('double')
    would yield all-NULL stats and a silent forever-pass."""
    import pytest

    from schemasaurus_spark.operators import aggregates as agg

    df = spark.createDataFrame([("a", 1.0)], "s string, x double")
    with pytest.raises(ValueError, match="non-numeric"):
        agg.fused_aggregate_pass(df, stat_bound_cols=["s"])
    # numeric columns still fine
    assert agg.fused_aggregate_pass(df, stat_bound_cols=["x"]).rows
