"""Full-engine facade + salted aggregation tests."""

import pyspark.sql.functions as F

from schemasaurus_spark import Enum, Minimum, NotNull, Pattern, Suite
from schemasaurus_spark import datagen
from schemasaurus_spark.engine import (
    AggregateChecks, aggregate_checks, run_full_validation)
from schemasaurus_spark.operators import aggregates as agg

from plan_walk import spark_jobs


def _suite():
    return Suite(
        id_column="doc_id",
        columns={
            "doc_id": [NotNull(), Pattern(r"^[a-z]+-[0-9]{8}$")],
            "n_tok": [NotNull(), Minimum(1)],
            "source": [Enum(datagen.SOURCES)],
        },
    )


def test_full_validation_combines_row_and_aggregate(spark):
    df = datagen.gen_sequences(spark, 400, 4)
    df = datagen.corrupt_enum(df, every=40)          # row-level enum
    df = datagen.corrupt_ref_source(df, every=40)    # referential
    df = datagen.corrupt_dup_docid(df, every=40)     # uniqueness
    df = datagen.finalize(df)

    res = run_full_validation(
        df, _suite(),
        AggregateChecks(sources_dim=datagen.sources_dim(spark)),
    )
    codes = {r["constraint_id"]
             for r in res.violations().select("constraint_id").distinct().collect()}
    assert "enum" in codes            # row-level (sp4m AND shadowlib hit enum too)
    assert "ref.source" in codes      # aggregate referential
    assert "unique.doc_id" in codes   # aggregate uniqueness
    assert not res.is_valid()

    verd = res.verdicts().collect()
    pseudo = [r for r in verd if r["partition_id"] == -1]
    assert len(pseudo) == 1 and not pseudo[0]["pass"]


def test_full_validation_clean_passes(spark):
    df = datagen.finalize(datagen.gen_sequences(spark, 200, 4))
    res = run_full_validation(
        df, _suite(), AggregateChecks(sources_dim=datagen.sources_dim(spark)))
    assert res.is_valid()
    assert res.violations().count() == 0


def test_full_validation_with_drift_and_null_rate(spark):
    clean = datagen.finalize(datagen.gen_sequences(spark, 2000, 8))
    edges = [0.0, 8, 16, 32, 64, 128, 256, 512, 1024, 2048]
    baseline = agg.histogram(clean, "n_tok", edges, by="source")
    shifted = clean.withColumn(
        "n_tok",
        F.when(F.col("source") == "web",
               F.least(F.col("n_tok") * 4, F.lit(2048))).otherwise(F.col("n_tok")))
    res = run_full_validation(
        shifted, _suite(),
        AggregateChecks(drift_baseline=baseline, drift_edges=edges,
                        null_rate_max={"n_tok": 0.01}))
    codes = {r["constraint_id"] for r in res.violations().collect()}
    assert any(c.startswith("drift.psi") for c in codes)
    assert not any(c == "stats.null_rate" for c in codes)  # no nulls injected


def test_salted_agg_matches_plain_groupby(spark):
    df = datagen.finalize(datagen.gen_sequences(spark, 2000, 8))
    salted = {r["source"]: (r["count"], r["sum_n_tok"], r["max_n_tok"])
              for r in agg.salted_agg(
                  df, "source",
                  [("count",), ("sum", "n_tok"), ("max", "n_tok")]).collect()}
    plain = {r["source"]: (r["c"], r["s"], r["m"])
             for r in df.groupBy("source").agg(
                 F.count(F.lit(1)).alias("c"), F.sum("n_tok").alias("s"),
                 F.max("n_tok").alias("m")).collect()}
    assert salted == plain


def test_salted_agg_spreads_hot_key(spark):
    """Phase-1 output must contain multiple salt rows for the hot key."""
    df = datagen.finalize(datagen.gen_sequences(spark, 2000, 8))
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(16))
    p1 = (df.withColumn("__salt", salt).groupBy("source", "__salt")
          .agg(F.count(F.lit(1)).alias("c")))
    web_parts = p1.where(F.col("source") == "web").count()
    assert web_parts > 8  # hot key spread across many reducers


def test_full_validation_ref_scaled_parity(spark):
    """ref_scaled=True routes referential through the distinct-key path
    (dim excluded from the fused broadcast pass) — identical ref.source
    violations to the broadcast default."""
    df = datagen.finalize(datagen.corrupt_ref_source(
        datagen.gen_sequences(spark, 300, 4), every=30))
    dim = datagen.sources_dim(spark)

    def ref_rows(res):
        return sorted(
            (r["doc_id"], r["value"]) for r in res.violations()
            .where(F.col("constraint_id") == "ref.source").collect())

    base = run_full_validation(df, _suite(),
                               AggregateChecks(sources_dim=dim))
    scaled = run_full_validation(
        df, _suite(), AggregateChecks(sources_dim=dim, ref_scaled=True))
    assert ref_rows(base) == ref_rows(scaled) and ref_rows(base)
    assert not scaled.is_valid()

    clean = datagen.finalize(datagen.gen_sequences(spark, 200, 4))
    assert run_full_validation(
        clean, _suite(),
        AggregateChecks(sources_dim=dim, ref_scaled=True)).is_valid()


def test_full_validation_stat_bounds(spark):
    """AggregateChecks.stat_bounds: aggregate assertions in the facade —
    same fused scan, loud on unknown columns."""
    import pytest

    df = datagen.finalize(datagen.gen_sequences(spark, 300, 4))
    res = run_full_validation(
        df, _suite(), AggregateChecks(stat_bounds={"n_tok": {"max_mean": 1.0}}))
    codes = {r["constraint_id"] for r in res.violations().collect()}
    assert "stats.mean_bound" in codes and not res.is_valid()

    ok = run_full_validation(
        df, _suite(), AggregateChecks(stat_bounds={
            "n_tok": {"min_mean": 0.5, "min_value": 1.0,
                      "max_value": 2048.0}}))
    assert ok.is_valid()

    with pytest.raises(ValueError, match="stat_bounds column"):
        run_full_validation(df, _suite(),
                            AggregateChecks(stat_bounds={"nope": {"max_mean": 1}}))


def test_full_validation_misconfig_is_loud(spark):
    """Misconfigured aggregate checks raise instead of silently skipping
    or crashing with an opaque analyzer error."""
    import pytest

    df = spark.createDataFrame([(1, 2.0)], "doc_id long, x double")
    suite = Suite(id_column="doc_id", columns={"doc_id": [NotNull()]})

    # ref_scaled without a dimension: silent no-op would be a false clean
    with pytest.raises(ValueError, match="ref_scaled"):
        run_full_validation(df, suite, AggregateChecks(ref_scaled=True))

    # default null_rate_by='source' on a sourceless table: clear message,
    # not UNRESOLVED_COLUMN from inside the fused pass
    with pytest.raises(ValueError, match="null_rate_by"):
        run_full_validation(df, suite, AggregateChecks(
            stat_bounds={"x": {"max_mean": 10.0}}))
    with pytest.raises(ValueError, match="null_rate_by"):
        run_full_validation(df, suite, AggregateChecks(
            null_rate_max={"x": 0.1}))

    # every column the config names is checked before the first Spark job
    # (the uniqueness scan used to run before a bad stat-bound column or a
    # drift grouping failed inside the fused pass)
    text = spark.createDataFrame([(1, "a")], "doc_id long, s string")
    edges = [0.0, 1.0, 2.0]
    for frame, checks, match in [
            # drift_by falls back to the default null_rate_by='source'
            (df, AggregateChecks(drift_column="x", drift_edges=edges),
             "drift_by"),
            (df, AggregateChecks(drift_column="nope", drift_edges=edges,
                                 drift_by=None), "drift_column"),
            (df, AggregateChecks(null_rate_max={"nope": 0.1},
                                 null_rate_by=None), "null_rate_max"),
            (text, AggregateChecks(stat_bounds={"s": {"max_mean": 1.0}},
                                   null_rate_by=None), "non-numeric"),
            (df, AggregateChecks(unique_key=["doc_id", "nope"]),
             "unique_key")]:
        with spark_jobs(spark, "misconfig") as jobs:
            with pytest.raises(ValueError, match=match):
                run_full_validation(frame, suite, checks)
        assert jobs == [], (match, jobs)

    # ...and the global form works
    res = run_full_validation(df, suite, AggregateChecks(
        stat_bounds={"x": {"max_mean": 10.0}}, null_rate_max={"x": 0.5},
        null_rate_by=None))
    assert res.is_valid()


def test_composite_unique_key_matches_uniqueness_check(spark):
    """A list unique_key is a composite key through the engine: the same
    screen numbers and violation rows as uniqueness_check itself."""
    df = datagen.finalize(datagen.gen_sequences(spark, 300, 4))
    key = ["source", "n_tok"]                 # collides heavily
    want = agg.uniqueness_check(df, key)
    got = aggregate_checks(df, AggregateChecks(unique_key=key)).unique
    assert not want.screened_clean
    assert ((got.screen_total, got.screen_distinct, got.screened_clean)
            == (want.screen_total, want.screen_distinct, False))
    assert (sorted(map(tuple, got.violations.collect()))
            == sorted(map(tuple, want.violations.collect())))


def test_failed_action_raises_and_leaves_no_pool_thread(spark):
    """A drift baseline whose collect fails makes run_full_validation raise
    that error, after the actions running beside it have ended: no pool
    thread outlives the call."""
    import threading

    import pytest

    df = datagen.finalize(datagen.gen_sequences(spark, 200, 4))
    edges = [0.0, 8, 16, 2048]
    checks = AggregateChecks(drift_edges=edges,
                             sources_dim=datagen.sources_dim(spark))
    run_full_validation(df, _suite(), checks)   # settles lazy threads
    threads = threading.active_count()
    broken = spark.range(3).select(
        F.raise_error(F.concat(F.lit("baseline boom "),
                               F.col("id").cast("string")))
        .cast("string").alias("group_key"),
        F.lit(0).alias("bucket"), F.lit(1).cast("long").alias("count"))
    checks.drift_baseline = broken
    with pytest.raises(Exception, match="baseline boom"):
        run_full_validation(df, _suite(), checks)
    assert threading.active_count() == threads


def test_nothing_to_run_starts_no_pool_and_no_job(spark, monkeypatch):
    """A config with no aggregate check runs nothing: no pool is made and
    no Spark job starts."""
    from schemasaurus_spark import engine

    def no_pool(*args, **kwargs):
        raise AssertionError("a pool was made with nothing to run")

    monkeypatch.setattr(engine, "ThreadPoolExecutor", no_pool)
    df = datagen.finalize(datagen.gen_sequences(spark, 50, 4))
    with spark_jobs(spark, "nothing_to_run") as jobs:
        res = aggregate_checks(df, AggregateChecks(unique_key=None))
    assert res.n_agg == 0 and res.unique is None
    assert jobs == [], jobs
