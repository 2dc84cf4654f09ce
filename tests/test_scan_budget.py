"""Scan-budget pin for the fused aggregate path (round-3 VERDICT #1).

SURVEY §4 mandates one-pass stats over the 10^12-row table; the engine's
contract is: the ENTIRE aggregate check family — 5 null-rate columns +
uniqueness + referential + drift — costs exactly TWO input scans
(one fused grouped-aggregation, one uniqueness groupBy), and consuming
the aggregate violations afterwards reads ZERO further input bytes (all
violation frames are driver-built LocalTableScans on the clean-offender
paths). ``run_full_validation`` adds ONE more: the row result's counts
aggregate, which it runs with the aggregate checks, so ``verdicts()``,
``metrics()`` and ``is_valid()`` scan nothing afterwards.

Pinned three ways:

1. **action count × per-plan scan count**: every eager Spark action taken
   inside ``run_full_validation`` is intercepted (from any thread); the
   executed plan of each is searched for file-scan nodes. Total
   file-scanning actions == 3, each with exactly one scan node, and none
   more while the row surfaces are read.
2. **plan shape of the violations frame**: ``agg_violations`` contains no
   file-scan node at all (null-rate + drift violations fire in this config,
   so the pin covers the DIRTY path, not just empty frames).
3. **runtime InputMetrics**: Hadoop FileSystem global statistics show ~zero
   ``file``-scheme bytes read while counting the violations.
"""

import pyspark.sql.functions as F
import pytest

from schemasaurus_spark import NotNull, Pattern, Suite, datagen
from schemasaurus_spark.engine import AggregateChecks, run_full_validation
from schemasaurus_spark.operators import aggregates as agg

from plan_walk import executed_nodes, python_rdd_scans


def _bytes_read(spark) -> int:
    st = (spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem
          .getGlobalStorageStatistics().get("file"))
    return 0 if st is None else st.getLong("bytesRead")


def _n_file_scans(df) -> int:
    s = df._jdf.queryExecution().executedPlan().toString().lower()
    # an executed AdaptiveSparkPlan prints the final plan followed by
    # "== Initial Plan ==" — count scan nodes in the final section only
    s = s.split("== initial plan ==")[0]
    return s.count("filescan") + s.count("batchscan")


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """Parquet sequences table with a 5th column and a dirty null-rate."""
    path = str(tmp_path_factory.mktemp("scanbudget") / "seq")
    df = datagen.finalize(datagen.gen_sequences(spark, 4000, 8))
    df = df.withColumn(
        "lang",
        F.when(F.col("n_tok") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("en")))  # ~14% nulls → violates max 0.01
    df.write.mode("overwrite").parquet(path)
    return path


def _checks(spark, input_df):
    # baseline histogram as a LOCAL frame (no file reads of its own), with
    # edges chosen so the current distribution drifts hard against it
    edges = [0.0, 8, 16, 32, 64, 128, 256, 512, 1024, 2048]
    shifted = input_df.withColumn(
        "n_tok", F.least(F.col("n_tok") * 4, F.lit(2048)))
    base_rows = [(r["group_key"], r["bucket"], r["count"]) for r in
                 agg.histogram(shifted, "n_tok", edges, by="source").collect()]
    baseline = spark.createDataFrame(
        base_rows, "group_key string, bucket int, count long")
    return AggregateChecks(
        sources_dim=datagen.sources_dim(spark),
        null_rate_max={c: 0.01
                       for c in ["doc_id", "tokens", "n_tok", "source",
                                 "lang"]},
        drift_baseline=baseline,
        drift_edges=edges,
    )


def test_aggregate_path_is_two_scans(spark, table, monkeypatch):
    # the concrete (non-Connect) class — pyspark.sql.DataFrame is the
    # abstract base in Spark 4 and patching it would intercept nothing
    from pyspark.sql.classic.dataframe import DataFrame

    input_df = spark.read.parquet(table)
    checks = _checks(spark, input_df)
    suite = Suite(id_column="doc_id",
                  columns={"doc_id": [NotNull(),
                                      Pattern(r"^[a-z]+-[0-9]{8}$")]})

    scan_actions: list[int] = []
    real_collect = DataFrame.collect

    def counting_collect(self):
        out = real_collect(self)
        n = _n_file_scans(self)
        if n:
            scan_actions.append(n)
        return out

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    res = run_full_validation(input_df, suite, checks)
    # (1) exactly three eager input-scanning actions, run concurrently:
    # fused stats, uniqueness and the row counts aggregate
    assert sorted(scan_actions) == [1, 1, 1], scan_actions
    # ...and the row surfaces read the counts the run already holds
    b0 = _bytes_read(spark)
    res.verdicts().collect()
    res.row.metrics().collect()
    res.is_valid()
    assert scan_actions == [1, 1, 1], scan_actions
    assert _bytes_read(spark) - b0 < 64 * 1024
    monkeypatch.undo()

    # (3) consuming the violations reads ~nothing from disk (LocalTableScan
    # unions only; 64 KiB of slack for metadata noise)
    b0 = _bytes_read(spark)
    vio = res.agg_violations.collect()
    assert _bytes_read(spark) - b0 < 64 * 1024

    # (2) no file-scan node anywhere in the violations plan
    assert _n_file_scans(res.agg_violations) == 0

    # and the pin covers a DIRTY run: null-rate + drift violations fired
    codes = {r["constraint_id"] for r in vio}
    assert "stats.null_rate" in codes
    assert any(c.startswith("drift.psi") for c in codes)
    # clean families stayed clean (so no targeted offender scans hid here)
    assert not any(c.startswith("ref.") or c.startswith("unique.")
                   for c in codes)


@pytest.mark.parametrize("dirty", [False, True], ids=["clean_key", "dup_key"])
def test_gate_frames_need_no_python_worker(spark, table, dirty):
    """The frames a gate consumes carry no ``Scan ExistingRDD``: the
    driver-built pieces (undeclared-column rows, the -1/-2 verdict
    pseudo-rows, the empty uniqueness result, the stats violations) are
    local relations, so no action re-runs them through Python workers.
    Plan walk only — no Spark job beyond the gate's own."""
    input_df = spark.read.parquet(table)
    if dirty:
        input_df = input_df.unionByName(
            input_df.where(F.col("n_tok") % 5 == 0))
    # tokens, n_tok, source and lang stay undeclared
    suite = Suite(id_column="doc_id", columns={"doc_id": [NotNull()]},
                  allow_undeclared_columns=False)
    res = run_full_validation(input_df, suite, AggregateChecks(
        sources_dim=datagen.sources_dim(spark),
        null_rate_max={"lang": 0.01}))
    assert res.row.undeclared_columns()
    for name, frame in [("verdicts", res.verdicts()),
                        ("metrics", res.row.metrics()),
                        ("violations", res.violations())]:
        nodes = executed_nodes(frame)
        assert not python_rdd_scans(nodes), name
        assert any(n.nodeName() == "LocalTableScan" for n in nodes), name


def test_fused_matches_standalone_checks(spark, table):
    """The one-scan fused path must produce byte-identical violations to
    the per-family standalone functions it replaced."""
    input_df = spark.read.parquet(table)
    checks = _checks(spark, input_df)
    suite = Suite(id_column="doc_id", columns={"doc_id": [NotNull()]})
    res = run_full_validation(input_df, suite, checks)
    fused_rows = sorted(map(tuple, res.agg_violations.collect()))

    # standalone path: one scan per family/column (the old shape)
    parts = [agg.uniqueness_check(input_df, "doc_id").violations,
             agg.referential_check(input_df, checks.sources_dim, "source")]
    for c, mr in checks.null_rate_max.items():
        parts.append(agg.null_rate_check(input_df, c, mr, by="source"))
    drift = agg.drift_check(input_df, checks.drift_baseline, "n_tok",
                            list(checks.drift_edges), by="source")
    parts.append(agg.drift_violations(spark, drift, checks.psi_threshold,
                                      checks.ks_threshold).violations)
    standalone = parts[0]
    for p in parts[1:]:
        standalone = standalone.unionByName(p)
    standalone_rows = sorted(map(tuple, standalone.collect()))
    assert fused_rows == standalone_rows


def test_auto_unique_key_skips_when_absent(spark):
    """Default unique_key on a doc_id-less table: skip, don't raise —
    but an explicit missing key is still loud (round-3 ADVICE #4)."""
    df = spark.createDataFrame([("a", 1), ("b", 2)], "name string, v int")
    suite = Suite(id_column="name", columns={"name": [NotNull()]})
    res = run_full_validation(df, suite, AggregateChecks(
        null_rate_max={"v": 0.5}, null_rate_by=None))
    assert res.agg_violations.count() == 0

    with pytest.raises(ValueError, match="unique_key"):
        run_full_validation(df, suite,
                            AggregateChecks(unique_key="doc_id"))


def test_fused_token_id_drift_matches_standalone(spark):
    """drift_is_array routes the north star's token-id histogram through
    the SAME fused scan: per-bucket size(filter(...)) partial sums, no
    explode — and the PSI/KS results are identical to the standalone
    drift_check(is_array=True) path."""
    from schemasaurus_spark import NotNull, Suite

    df = datagen.finalize(datagen.gen_sequences(spark, 2000, 8))
    edges = [0.0, 1000, 5000, 10000, 25000, 50257]
    # baseline from a COLLAPSED corpus (every token id squeezed into the
    # first bucket) so drift actually fires — a multiplicative shift of a
    # near-uniform vocab stays near-uniform and fools no histogram
    shifted = df.withColumn(
        "tokens", F.transform("tokens", lambda t: t % 900))
    baseline_rows = agg.array_histogram(shifted, "tokens", edges,
                                        by="source").collect()
    baseline = spark.createDataFrame(
        [(r["group_key"], r["bucket"], r["count"]) for r in baseline_rows],
        "group_key string, bucket int, count long")

    expected = agg.drift_check(df, baseline, "tokens", edges, by="source",
                               is_array=True)

    suite = Suite(id_column="doc_id", columns={"doc_id": [NotNull()]})
    res = run_full_validation(df, suite, AggregateChecks(
        unique_key=None, drift_baseline=baseline, drift_edges=edges,
        drift_column="tokens", drift_is_array=True, null_rate_by="source"))
    got = res.drift
    assert [(r.group_key, round(r.psi, 10), round(r.ks, 10), r.passed)
            for r in got] == \
           [(r.group_key, round(r.psi, 10), round(r.ks, 10), r.passed)
            for r in expected]
    assert any(not r.passed for r in got)  # the shift was detected
    # violations stay driver-built (no scans in the frame)
    assert _n_file_scans(res.agg_violations) == 0


def test_drift_only_run_without_source_column(spark):
    """A drift-only config must not group by the default null_rate_by
    ('source') — tables without that column crashed with
    UNRESOLVED_COLUMN (round-4 review)."""
    from schemasaurus_spark import NotNull, Suite

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i % 50) for i in range(200)],
        "doc_id long, lang string, n_chars long")
    edges = [0.0, 10, 20, 30, 40, 50]
    base_rows = [(r["group_key"], r["bucket"], r["count"]) for r in
                 agg.histogram(df.withColumn("n_chars", F.col("n_chars") + 30),
                               "n_chars", edges, by="lang").collect()]
    baseline = spark.createDataFrame(
        base_rows, "group_key string, bucket int, count long")
    res = run_full_validation(
        df, Suite(id_column="doc_id", columns={"doc_id": [NotNull()]}),
        AggregateChecks(unique_key=None, drift_baseline=baseline,
                        drift_edges=edges, drift_column="n_chars",
                        drift_by="lang"))
    codes = {r["constraint_id"] for r in res.agg_violations.collect()}
    assert any(c.startswith("drift.") for c in codes)


def test_uniqueness_salt_does_not_clobber_user_salt_column(spark):
    """A user key column literally named 'salt' must not be overwritten by
    the internal salting (it fragmented real keys across 64 random
    buckets and returned a false clean — round-4 review)."""
    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y")], "user_id long, salt string")
    r = agg.uniqueness_check(df, key=["user_id", "salt"])
    assert not r.screened_clean
    assert r.violations.count() == 1  # the (1,'x') duplicate
