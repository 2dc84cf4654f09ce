"""Scale features: bucketed co-located joins, fused quantiles, AQE confs."""

import pyspark.sql.functions as F
import pytest

from schemasaurus_spark import datagen
from schemasaurus_spark.operators import aggregates as agg


def test_bucketed_join_has_no_shuffle(spark):
    """Bucketing co-locates join keys at WRITE time, so repeated joins on
    the bucket key skip the exchange entirely — the strategy for recurring
    dimension joins at 100 TB (SURVEY §2.4 joins row)."""
    import shutil

    df = datagen.finalize(datagen.gen_sequences(spark, 500, 4))
    spark.sql("DROP TABLE IF EXISTS seq_bucketed")
    spark.sql("DROP TABLE IF EXISTS src_stats_bucketed")
    # the in-memory catalog forgets tables between sessions but the
    # warehouse directories persist — clear them
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/seq_bucketed", ignore_errors=True)
    shutil.rmtree(f"{wh}/src_stats_bucketed", ignore_errors=True)
    (df.write.bucketBy(8, "source").sortBy("source")
       .mode("overwrite").saveAsTable("seq_bucketed"))
    (df.groupBy("source").agg(F.avg("n_tok").alias("avg_tok"))
       .write.bucketBy(8, "source").sortBy("source")
       .mode("overwrite").saveAsTable("src_stats_bucketed"))

    a = spark.table("seq_bucketed")
    b = spark.table("src_stats_bucketed")
    joined = a.join(b.hint("merge"), "source")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert joined.count() == 500


def test_column_stats_fused_quantiles(spark):
    df = datagen.finalize(datagen.gen_sequences(spark, 2000, 8))
    stats = agg.column_stats(df, ["n_tok"], by="source",
                             quantile_columns=["n_tok"])
    rows = {r["group_key"]: r for r in stats.collect()}
    q = rows["web"]["p50_p95_p99"]
    assert q is not None and len(q) == 3
    assert 1 <= q[0] <= q[1] <= q[2] <= 2048
    # one scan: single Exchange in the plan
    p = stats._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") <= 2  # agg exchange (+ AQE read)


def test_tdigest_quantiles_accuracy_and_merge(spark):
    """Sketch quantiles land within rank tolerance of the exact quantiles,
    and merging two half-sketches equals sketching the whole (mergeability
    is what makes the sketch checkpointable across snapshots)."""
    import pyspark.sql.functions as F
    from schemasaurus_spark.operators.sketch import (
        merge_sketches, quantile_sketch, quantiles_from_sketch,
    )

    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 1000).cast("double").alias("x"))  # uniform 0..999
    sk = quantile_sketch(df, "x")
    q = quantiles_from_sketch(sk, [0.5, 0.95])["*"]
    assert abs(q[0] - 499.5) < 25          # p50 of uniform(0..999)
    assert abs(q[1] - 949.5) < 25

    a = quantile_sketch(df.where("x < 500"), "x")
    b = quantile_sketch(df.where("x >= 500"), "x")
    merged = merge_sketches(a, b)
    qm = quantiles_from_sketch(merged, [0.5])["*"]
    assert abs(qm[0] - 499.5) < 30


def test_register_views_sql_surface(spark):
    from schemasaurus_spark import Minimum, NotNull, Suite, validate

    df = spark.createDataFrame([(1, 10), (2, -5), (None, 3)], "doc_id int, v int")
    res = validate(df, Suite(columns={"doc_id": [NotNull()],
                                      "v": [Minimum(0)]}))
    names = res.register_views("chk")
    assert names == ["chk_violations", "chk_verdicts", "chk_metrics"]
    n = spark.sql("select count(*) c from chk_violations").first()["c"]
    assert n == 2
    m = spark.sql("select sum(n_violations) s from chk_metrics").first()["s"]
    assert m == 2
