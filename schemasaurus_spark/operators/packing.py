"""Sequence-packing operators for training-data pipelines.

After validation/dedup/mixture, an LLM pipeline packs documents into
fixed-token-budget training sequences. Two standard shapes:

* :func:`pack_concat` — concatenate the whole corpus into one virtual
  token stream (deterministic hash order) and chop it at ``max_tokens``
  boundaries; documents may straddle a boundary and are SPLIT across
  sequences (the GPT-style pretraining layout). Every sequence except the
  last is exactly full.
* :func:`pack_greedy` — no-split packing: each document lands whole in
  one bin, bins never exceed ``max_tokens`` (the SFT/eval layout where an
  example must not be cut). First-fit-decreasing per bucket.

Scale shapes (100 TB rules):

* A GLOBAL running token offset is the textbook distributed prefix sum,
  NOT one giant window (a partitionBy-less window serializes the corpus
  into a single task). ``pack_concat`` hashes docs into ``n_buckets``
  ordered buckets, window-cumsums WITHIN each bucket (one shuffle), and
  adds per-bucket base offsets computed from a bucket-count-sized
  aggregate on the driver (n_buckets rows — sketch-sized, like the
  engine's histogram/manifest collects) and broadcast back.
* ``pack_greedy`` runs first-fit-decreasing inside each hash bucket via
  ``applyInPandas`` (Arrow-batched; bin packing is inherently sequential,
  but only WITHIN a bucket of ~|corpus|/n_buckets docs — buckets pack in
  parallel and bins are namespaced by bucket, so no cross-bucket state).
* Determinism: ordering is ``xxhash64(id, seed)``, never ``rand()`` —
  rerunning a job reproduces the same sequences (resume/debug parity with
  the sampling operators). Requires a UNIQUE ``id_col``; run after the
  engine's uniqueness check.
* Dirty weights (NULL / <=0 / NaN / Inf) are EXCLUDED up front: a NULL or
  zero length contributes no tokens but would smear span arithmetic, and
  NaN/Inf poison every later running sum (same policy as
  ``token_budget_mixture``).

There is no reference analog (schemasaurus validates per value); these
extend the engine's training-data surface the same way the dedup/
similarity operators do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

from schemasaurus_spark.session import local_frame

__all__ = ["pack_concat", "pack_greedy"]


def _clean_weights(df: DataFrame, weight_col: str) -> DataFrame:
    wcol = F.col(weight_col)
    clean = wcol.isNotNull() & (wcol > 0)
    if isinstance(df.schema[weight_col].dataType,
                  (T.FloatType, T.DoubleType)):
        clean = clean & ~F.isnan(wcol) & (wcol < F.lit(float("inf")))
    return df.where(clean)


def pack_concat(df: DataFrame, max_tokens: int,
                weight_col: str = "n_tok", id_col: str = "doc_id",
                seed: int = 7, n_buckets: int = 64) -> DataFrame:
    """Concat-and-chop packing: the corpus becomes one virtual token
    stream (buckets in bucket order, docs hash-ordered within a bucket)
    cut every ``max_tokens`` tokens. Returns one row per (document,
    sequence) SPAN::

        doc_id · seq_id · seq_begin · doc_begin · span_len

    ``seq_begin`` is the span's offset inside sequence ``seq_id``,
    ``doc_begin`` its offset inside the document; a document longer than
    the remaining room in its sequence simply continues in the next one
    (``ceil`` spans per doc). Every sequence except the last holds exactly
    ``max_tokens`` tokens — reassembling spans by (seq_id, seq_begin)
    yields the training batches, reassembling by (doc_id, doc_begin)
    yields the documents.

    One hash-partition shuffle (the per-bucket window); the global offset
    comes from an ``n_buckets``-row aggregate driver-prefix-summed and
    broadcast back — never a global window.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    df = _clean_weights(df, weight_col)
    spark = df.sparkSession
    bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)),
                    F.lit(n_buckets)).cast("int")
    df = df.withColumn("__bucket", bucket)

    # phase 1: per-bucket token totals (n_buckets rows) -> exclusive
    # prefix offsets on the driver, broadcast back
    totals = {r["__bucket"]: r["total"] for r in
              df.groupBy("__bucket")
                .agg(F.sum(F.col(weight_col).cast("long")).alias("total"))
                .collect()}
    base, offsets = 0, []
    for b in sorted(totals):
        offsets.append((b, base))
        base += int(totals[b])
    if not offsets:
        offsets = [(0, 0)]  # empty input: keep the join schema stable
    bases = local_frame(spark, offsets, "__bucket int, __base long")

    # phase 2: within-bucket running sum -> global [start, end) per doc
    w = (Window.partitionBy("__bucket")
               .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), id_col)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wtok = F.col(weight_col).cast("long")
    df = (df.withColumn("__cum", F.sum(wtok).over(w))
            .join(F.broadcast(bases), "__bucket")
            .withColumn("__start", F.col("__base") + F.col("__cum") - wtok)
            .withColumn("__end", F.col("__base") + F.col("__cum")))

    # spans: sequences floor(start/L) .. floor((end-1)/L) inclusive
    L = F.lit(int(max_tokens)).cast("long")
    first = F.floor(F.col("__start") / L)
    last = F.floor((F.col("__end") - 1) / L)
    out = (df.withColumn("seq_id", F.explode(F.sequence(first, last)))
             .withColumn("__seq_lo", F.col("seq_id") * L)
             .withColumn("__span_start",
                         F.greatest("__start", F.col("__seq_lo")))
             .withColumn("__span_end",
                         F.least("__end", F.col("__seq_lo") + L))
             .select(
                 F.col(id_col),
                 F.col("seq_id"),
                 (F.col("__span_start") - F.col("__seq_lo"))
                 .alias("seq_begin"),
                 (F.col("__span_start") - F.col("__start"))
                 .alias("doc_begin"),
                 (F.col("__span_end") - F.col("__span_start"))
                 .alias("span_len")))
    return out


_GREEDY_OUT = ("doc_id string, bucket int, bin int, n_tok long, "
               "over_budget boolean")


def pack_greedy(df: DataFrame, max_tokens: int,
                weight_col: str = "n_tok", id_col: str = "doc_id",
                seed: int = 7, n_buckets: int = 64) -> DataFrame:
    """No-split packing: every document lands WHOLE in exactly one bin and
    no bin exceeds ``max_tokens`` — first-fit-decreasing (sort by weight
    desc, place each doc in the first bin with room) independently inside
    each of ``n_buckets`` hash buckets. Returns::

        doc_id · bucket · bin · n_tok · over_budget

    Bins are namespaced per bucket (global bin key = (bucket, bin)). A
    document LONGER than ``max_tokens`` cannot be packed; it gets a
    singleton bin flagged ``over_budget=true`` (the caller routes those to
    the validator or a long-context split, they are never silently
    dropped). Deterministic: FFD order breaks weight ties by
    ``xxhash64(id, seed)`` then id.

    One shuffle (groupBy bucket); packing is Arrow-batched pandas per
    bucket — sequential only within a bucket, buckets pack in parallel.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    import pandas as pd

    df = _clean_weights(df, weight_col)
    bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)),
                    F.lit(n_buckets)).cast("int")
    slim = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        bucket.alias("bucket"),
        F.col(weight_col).cast("long").alias("n_tok"),
        F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"))
    cap = int(max_tokens)

    def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["n_tok", "__h", "doc_id"],
                              ascending=[False, True, True],
                              kind="stable").reset_index(drop=True)
        bins: list[int] = []      # remaining room per open bin
        assigned, flagged = [], []
        for tok in pdf["n_tok"]:
            tok = int(tok)
            if tok > cap:
                bins.append(0)    # singleton, no room left ever
                assigned.append(len(bins) - 1)
                flagged.append(True)
                continue
            for i, room in enumerate(bins):
                if room >= tok:
                    bins[i] = room - tok
                    assigned.append(i)
                    break
            else:
                bins.append(cap - tok)
                assigned.append(len(bins) - 1)
            flagged.append(False)
        pdf = pdf.assign(bin=assigned, over_budget=flagged)
        return pdf[["doc_id", "bucket", "bin", "n_tok", "over_budget"]]

    return slim.groupBy("bucket").applyInPandas(_pack, _GREEDY_OUT)
