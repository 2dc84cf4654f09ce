"""Structured Streaming validation.

The compiled ValidationPlan is a pure projection, so it applies unchanged to
streaming DataFrames: ``readStream → plan.apply → violations/windowed
verdicts → writeStream``. This complements the snapshot-delta path
(incremental.py) for sources that genuinely stream (Kafka-style feeds of
new sequences).

* ``stream_violations`` — per-record violation rows, append mode (stateless:
  scales to any rate; no shuffle).
* ``windowed_verdicts`` — per-(window, source) violation counts with a
  watermark so late events are folded in until the lateness bound, then the
  window finalizes (state is bounded — required for unbounded streams).
* ``windowed_drift`` — streaming PSI against a checkpointed baseline: the
  per-window histogram lands as wide conditional-sum columns in ONE
  stateful aggregation (chained stateful operators are restricted in
  streaming), and the PSI formula folds the baseline probabilities in as
  literals — state is O(windows × buckets), independent of input rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from schemasaurus_spark.compiler import VIOLATIONS_COL, compile_suite
from schemasaurus_spark.dsl import Suite
from schemasaurus_spark.operators.aggregates import check_stat_bounds


def apply_plan_stream(stream_df: DataFrame, suite: Suite) -> DataFrame:
    plan = compile_suite(suite, stream_df.schema)
    return plan.apply(stream_df)


def stream_violations(stream_df: DataFrame, suite: Suite) -> DataFrame:
    """Append-mode violation rows — built on the plan's own
    explode_violations (ONE implementation of the no-pre-filter explode
    shape and its pushdown-pathology rationale; see compiler.py), so the
    streaming path can never drift from the batch path."""
    plan = compile_suite(suite, stream_df.schema)
    idc = suite.id_column
    return (
        plan.explode_violations(stream_df)
        .select(idc, "__v.constraint_id", "__v.column", "__v.value",
                "__v.arg", "__v.message")
    )


def windowed_verdicts(stream_df: DataFrame, suite: Suite,
                      time_col: str = "ts", window: str = "10 seconds",
                      watermark: str = "30 seconds",
                      by: str | None = "source") -> DataFrame:
    """Watermarked tumbling-window verdict counts: late rows within the
    watermark still update their window; older rows are dropped and the
    window's state is released (bounded state at unbounded input)."""
    validated = apply_plan_stream(stream_df, suite).withWatermark(time_col, watermark)
    keys = [F.window(F.col(time_col), window).alias("w")]
    if by:
        keys.append(F.col(by))
    return (
        validated.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.size(VIOLATIONS_COL)).alias("n_violations"),
        )
        .withColumn("pass", F.col("n_violations") == 0)
    )


def violations_sink(stream_df: DataFrame, suite: Suite, out_dir: str,
                    checkpoint_dir: str):
    """Exactly-once violations sink: append-mode parquet with a streaming
    checkpoint — Spark's commit log makes batch replays idempotent, so a
    crashed-and-restarted query never duplicates violation rows (the
    streaming analog of the batch attempt-id protocol in plans/lineage.py).
    Returns the StreamingQuery handle."""
    v = stream_violations(stream_df, suite)
    return (v.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start())


def quarantine_sink(stream_df: DataFrame, suite: Suite, out_dir: str,
                    checkpoint_dir: str, flag_col: str = "quarantined",
                    report_col: str = "violation_report"):
    """Streaming quarantine split: valid rows land under
    ``{out_dir}/{flag_col}=false/``, failing rows (+ JSON violation
    report) under ``…=true/`` — the streaming form of
    ``ValidationResult.write_split`` (same ``split_frame`` projection, so
    the routing semantics can never drift from the batch gate).

    Scale shape: stateless projection → partitioned file sink. No filter
    (no pushdown trap), no shuffle, no state; exactly-once via the
    streaming commit log (restarts replay uncommitted batches
    idempotently, like violations_sink). The partition flag is the same
    type-stable string ``"true"``/``"false"``. Returns the
    StreamingQuery handle."""
    from schemasaurus_spark.validate import split_frame

    plan = compile_suite(suite, stream_df.schema)
    out = split_frame(plan.apply(stream_df), flag_col, report_col)
    return (out.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .partitionBy(flag_col)
            .outputMode("append")
            .start())


def windowed_drift(stream_df: DataFrame, column: str, edges: list[float],
                   baseline_probs: list[float],
                   time_col: str = "ts", window: str = "10 seconds",
                   watermark: str = "30 seconds",
                   psi_threshold: float = 0.2,
                   eps: float = 1e-6,
                   baseline_under: float = 0.0,
                   baseline_over: float = 0.0,
                   null_rate_max: dict | None = None,
                   stat_bounds: dict | None = None) -> DataFrame:
    """Per-window PSI of `column`'s fixed-edge histogram vs a checkpointed
    baseline (north rule: drift detection, streaming form).

    `baseline_probs` has len(edges)-1 entries (the checkpoint's bucket
    proportions over the SAME frozen edges). The whole check is one
    watermarked aggregation: bucket counts are conditional sums (wide
    columns, not a second groupBy — chained stateful aggregations are not
    allowed in streams), and PSI is a closed-form expression over them.

    ``null_rate_max`` ({col: max rate}) and ``stat_bounds`` ({col:
    {min_mean/max_mean/min_value/max_value}}) add the batch engine's
    per-window quality checks to the SAME aggregation (extra conditional
    sums, no second groupBy): output gains ``<col>__null_rate`` /
    ``<col>__mean`` columns and one ``quality_pass`` verdict. An all-null
    window has no mean/min/max — those bounds are skipped for it (the
    engine-wide null convention); its null RATE still counts."""
    n = len(edges) - 1
    if len(baseline_probs) != n:
        raise ValueError(f"need {n} baseline probs, got {len(baseline_probs)}")
    # the batch engine's config check: an all-null-window skip over a
    # non-numeric column's all-NULL stats would be a silent forever-pass
    check_stat_bounds(stat_bounds or {}, stream_df.schema)
    x = F.col(column).cast("double")
    w = stream_df.withWatermark(time_col, watermark)
    extra_aggs = []
    if null_rate_max:
        extra_aggs.append(F.count(F.lit(1)).alias("__n_total"))
        for c in null_rate_max:
            extra_aggs.append(F.sum(F.col(c).isNull().cast("long"))
                              .alias(f"__{c}_nulls"))
    for c in (stat_bounds or {}):
        xc = F.col(c).cast("double")
        extra_aggs += [F.avg(xc).alias(f"__{c}_mean"),
                       F.min(xc).alias(f"__{c}_min"),
                       F.max(xc).alias(f"__{c}_max")]
    # under/overflow buckets INCLUDED (parity with the batch histogram's
    # -1/n buckets): mass moving outside the edge range must register as a
    # direct PSI term — counted only in n_rows it would show up as mere
    # dilution of the in-range buckets, far below its real contribution
    bucket_sums = [F.sum((x < edges[0]).cast("long")).alias("b_under")]
    bucket_sums += [
        F.sum(((x >= edges[i]) & (x < edges[i + 1])).cast("long")).alias(f"b{i}")
        for i in range(n)
    ]
    bucket_sums.append(F.sum((x >= edges[n]).cast("long")).alias("b_over"))
    agged = w.groupBy(F.window(F.col(time_col), window).alias("w")).agg(
        F.count(x).alias("n_rows"), *bucket_sums, *extra_aggs)
    total = F.greatest(F.col("n_rows"), F.lit(1)).cast("double")
    psi = None
    ks = None
    cum_q, cum_p = F.lit(0.0), 0.0
    ordered = ([("b_under", baseline_under)]
               + [(f"b{i}", p0) for i, p0 in enumerate(baseline_probs)]
               + [("b_over", baseline_over)])
    for cname, p0 in ordered:
        q = F.greatest(F.col(cname) / total, F.lit(eps))
        p = F.lit(max(p0, eps))
        term = (q - p) * F.log(q / p)
        psi = term if psi is None else psi + term
        # KS on the bucketized CDFs: running sums are plain expressions
        cum_q = cum_q + q
        cum_p = cum_p + max(p0, eps)
        gap = F.abs(cum_q - F.lit(cum_p))
        ks = gap if ks is None else F.greatest(ks, gap)
    out_cols = [
        F.col("w.start").alias("w_start"),
        F.col("n_rows"),
        F.round(psi, 6).alias("psi"),
        F.round(ks, 6).alias("ks"),
        (psi > psi_threshold).alias("drifted"),
    ]
    quality_ok = None

    def _and(cur, cond):
        return cond if cur is None else cur & cond

    for c, max_rate in (null_rate_max or {}).items():
        rate = (F.col(f"__{c}_nulls")
                / F.greatest(F.col("__n_total"), F.lit(1)).cast("double"))
        out_cols.append(F.round(rate, 6).alias(f"{c}__null_rate"))
        quality_ok = _and(quality_ok, rate <= F.lit(float(max_rate)))
    for c, spec in (stat_bounds or {}).items():
        mean = F.col(f"__{c}_mean")
        out_cols.append(F.round(mean, 6).alias(f"{c}__mean"))
        for key, col_, cmp_ in (
                ("min_mean", mean, "ge"), ("max_mean", mean, "le"),
                ("min_value", F.col(f"__{c}_min"), "ge"),
                ("max_value", F.col(f"__{c}_max"), "le")):
            if key in spec:
                bound = F.lit(float(spec[key]))
                cond = col_ >= bound if cmp_ == "ge" else col_ <= bound
                # all-null window → mean/min/max NULL → bound skipped
                quality_ok = _and(quality_ok, F.coalesce(cond, F.lit(True)))
    if quality_ok is not None:
        out_cols.append(quality_ok.alias("quality_pass"))
    return agged.select(*out_cols)
