"""Skew handling: AQE skew-join splitting + salted aggregation on the
long-tail source distribution (web ≈ 70% of rows)."""

import pyspark.sql.functions as F
import pytest

from schemasaurus_spark import datagen


def test_aqe_splits_skewed_join(spark):
    """With thresholds lowered to sandbox scale, AQE must mark the skewed
    join partition and split it (OptimizeSkewedJoin) — the runtime knob the
    engine relies on for fact-to-fact joins at 100 TB."""
    conf = spark.conf
    old = {k: conf.get(k, None) for k in [
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ]}
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        # downstream agg would add a shuffle after the split; at 100 TB that
        # trade is right, so force it (the knob the engine documents)
        conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        # the shared test session runs 4 shuffle partitions — at 4, the
        # 70%-web partition is only ~2-3x the median and the factor-5 skew
        # check sits on the boundary (flaked under full-suite runs); 32
        # partitions + factor 2 put it decisively over
        conf.set("spark.sql.shuffle.partitions", "32")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = datagen.finalize(datagen.gen_sequences(spark, 20_000, 8)).select(
            "doc_id", "source", "n_tok")
        right = datagen.finalize(datagen.gen_sequences(spark, 5_000, 4)).select(
            F.col("source").alias("source"), F.col("n_tok").alias("r_tok"))
        joined = left.join(right, "source").groupBy("source").agg(
            F.count(F.lit(1)).alias("n"))
        # collect() on THIS Dataset materializes its AQE final plan
        # (count()/write create separate QueryExecutions)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin" in plan
        assert "skew=true" in plan and "skewed" in plan, plan[:2500]
    finally:
        for k, v in old.items():
            (conf.set(k, v) if v is not None else conf.unset(k))


def test_salted_uniqueness_handles_hot_key(spark):
    """A pathologically hot duplicate key (50% of all rows share one doc_id)
    must still produce exact occurrence counts via the map-side-combined
    per-key aggregation."""
    from schemasaurus_spark.operators.aggregates import uniqueness_check

    df = datagen.finalize(datagen.gen_sequences(spark, 2_000, 8))
    hot = df.limit(2_000).withColumn("doc_id", F.lit("hot-0000000X"))
    both = df.unionAll(hot)
    res = uniqueness_check(both, "doc_id")
    assert not res.screened_clean
    hot_viol = res.violations.where(F.col("value") == "hot-0000000X").count()
    assert hot_viol == 2_000 - 1  # one violation per extra occurrence


def test_uniqueness_folds_hot_key_before_the_shuffle(spark):
    """The per-key count is combined map-side: a ``partial_count``
    HashAggregate sits below the plan's first Exchange, so each map task
    ships one row per key however hot it is, and the aggregation needs
    that one shuffle only (no salted (key, salt) level)."""
    from schemasaurus_spark.operators.aggregates import uniqueness_check

    from plan_walk import executed_nodes, plan_nodes

    df = datagen.finalize(datagen.gen_sequences(spark, 2_000, 8))
    both = df.unionAll(df.withColumn("doc_id", F.lit("hot-0000000X")))
    res = uniqueness_check(both, "doc_id")
    assert not res.screened_clean
    exchanges = [n for n in executed_nodes(res.violations)
                 if n.getClass().getSimpleName() == "ShuffleExchangeExec"]
    assert len(exchanges) == 1, exchanges
    assert any(n.getClass().getSimpleName() == "HashAggregateExec"
               and "partial_count" in n.toString()
               for n in plan_nodes(exchanges[0].child()))
