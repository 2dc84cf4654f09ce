"""Mergeable quantile sketches: Spark's native KLL aggregates.

North-star requirement: "n_tok distribution via quantile sketches"
(BASELINE.json; cf. PAPERS.md quantile-sketch entries). A sketch is one
``kll_sketch_agg_double`` binary per key, built and merged by codegen'd JVM
aggregates — no Python worker. KLL merges by construction, so a sketch table
can be stored and merged with a later snapshot's (:func:`merge_sketches`)
instead of rescanning; its rank error is bounded by the sketch's ``k``
(Spark's default).

An empty sketch (a key whose values are all NULL) makes
``kll_sketch_get_quantile_*`` abort the job
(``KLL_INVALID_INPUT_SKETCH_BUFFER``): read quantiles only through
:func:`sketch_quantiles`, which returns NULL for it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def quantile_sketch(df: DataFrame, column: str, by: str | None = None) -> DataFrame:
    """``(key string, sketch binary)``: one KLL sketch of ``column`` per
    ``by`` group (key ``"*"`` without ``by``). A NULL key is its own group;
    NULL values are skipped."""
    key = F.col(by).cast("string") if by else F.lit("*")
    return df.groupBy(key.alias("key")).agg(
        F.kll_sketch_agg_double(F.col(column).cast("double")).alias("sketch"))


def merge_sketches(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketch tables key by key (e.g. baseline + delta snapshot)."""
    return a.unionByName(b).groupBy("key").agg(
        F.kll_merge_agg_double("sketch").alias("sketch"))


def sketch_quantiles(sketch: Column, probs: list[float]) -> Column:
    """The quantiles of ``sketch`` at ``probs`` as an array, NULL for an
    empty sketch."""
    ranks = F.array(*[F.lit(float(p)) for p in probs])
    return F.when(F.kll_sketch_get_n_double(sketch) > 0,
                  F.kll_sketch_get_quantile_double(sketch, ranks))


def quantiles_from_sketch(sketch: DataFrame, probs: list[float]) -> dict:
    """``{key: [q…]}`` from a sketch table (one row per key collected)."""
    rows = sketch.select(
        "key", sketch_quantiles(F.col("sketch"), probs).alias("q")).collect()
    return {r["key"]: r["q"] for r in rows}
