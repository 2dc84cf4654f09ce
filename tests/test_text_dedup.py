"""Round-3 additions: unigram max_vocab valve, exact-dedup keeper choice
under real duplicates (the round-2 vacuous-gate fix)."""

import math

import pyspark.sql.functions as F
import pytest

from schemasaurus_spark.operators import dedup, spread_scan, text

from plan_walk import executed_nodes, spark_jobs


def _corpus(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "THE CAT SAT ON THE MAT !!!"),   # normalizes onto doc 1
        (3, "a completely different document about spark"),
        (4, "the cat sat on the mat"),        # byte-identical dup of doc 1
        (5, "zzz rare gibberish qqq"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates_groups_and_keeper(spark):
    got = {(r["n_docs"], r["keep_id"])
           for r in dedup.exact_duplicates(_corpus(spark)).collect()}
    assert got == {(3, 1)}  # docs 1, 2, 4 share one fingerprint; keeper = min id


def test_dedup_apply_survivors(spark):
    survivors = sorted(
        r["doc_id"] for r in dedup.dedup_apply(_corpus(spark)).collect())
    assert survivors == [1, 3, 5]


def test_unigram_logprob_no_broadcast_hint(spark):
    """The vocab join must not force a broadcast (round-2 VERDICT #2):
    a web-scale vocabulary blows the executor broadcast budget. AQE may
    still CHOOSE broadcast at runtime — the assertion is on the logical
    plan carrying no user hint."""
    df = _corpus(spark)
    plan = text.unigram_logprob(df)._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in plan and "hints=[broadcast]" not in plan


def test_unigram_logprob_total_rides_the_plan(spark):
    """The default path folds the corpus total into the plan (a 1-row
    cross join over the vocab aggregate): building the frame starts no
    job, the vocab exchange is reused, and the whole query takes fewer
    jobs than a driver-side total followed by the join, with the same
    scores."""
    df = _corpus(spark)
    with spark_jobs(spark, "unigram_build") as build:
        out = text.unigram_logprob(df)
    with spark_jobs(spark, "unigram_run") as run:
        got = sorted(map(tuple, out.collect()))
    with spark_jobs(spark, "unigram_driver_total") as ref_jobs:
        tokens = spread_scan(df).select(
            "doc_id", F.explode(text.words(F.lower("text"))).alias("word"))
        freq = tokens.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
        total = freq.agg(F.sum("n").alias("t")).first()["t"]
        want = sorted(map(tuple, (
            tokens.join(freq, "word").groupBy("doc_id")
            .agg(F.round(F.avg(F.log(F.col("n") / F.lit(float(total)))), 6)
                 .alias("logprob"))).collect()))
    assert got == want and len(got) == 5
    assert build == []
    assert len(run) < len(ref_jobs), (run, ref_jobs)
    assert any(n.nodeName() == "ReusedExchange" for n in executed_nodes(out))


def test_unigram_logprob_max_vocab_unk_fold(spark):
    """Top-K vocab + <unk> tail: every word outside the top K scores the
    folded tail mass; per-doc logprob stays finite and mass-preserving."""
    df = _corpus(spark)
    full = {r["doc_id"]: r["logprob"]
            for r in text.unigram_logprob(df).collect()}
    capped = {r["doc_id"]: r["logprob"]
              for r in text.unigram_logprob(df, max_vocab=3).collect()}
    assert set(capped) == set(full)
    assert all(math.isfinite(v) and v < 0 for v in capped.values())
    # docs 3 and 5 are ALL-singleton (every token outside the top-3 vocab):
    # uncapped they score ln(1/total); capped they score the folded tail
    # mass ln(tail_n/total) with tail_n > 1 — strictly HIGHER, and
    # identical across all-tail docs (the fold is uniform)
    assert capped[5] > full[5]
    assert capped[3] == capped[5]


def test_unigram_logprob_max_vocab_matches_driver_total(spark):
    """The max_vocab path reads the corpus total from the plan (the same
    1-row cross join as the default path): its scores equal the
    driver-side total and tail mass computed by hand."""
    df = _corpus(spark)
    tokens = spread_scan(df).select(
        "doc_id", F.explode(text.words(F.lower("text"))).alias("word"))
    freq = {r["word"]: r["n"] for r in
            tokens.groupBy("word").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(freq.values())
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    tail_n = max(total - sum(n for _, n in top), 1)
    vocab = dict(top)
    want = {}
    for r in tokens.collect():
        want.setdefault(r["doc_id"], []).append(
            math.log(vocab.get(r["word"], tail_n) / total))
    got = {r["doc_id"]: r["logprob"]
           for r in text.unigram_logprob(df, max_vocab=3).collect()}
    assert got == pytest.approx(
        {d: round(sum(v) / len(v), 6) for d, v in want.items()}, abs=1e-6)
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = text.unigram_logprob(empty, max_vocab=3)
    assert out.count() == 0 and set(out.columns) == {"doc_id", "logprob"}


def test_duplicate_clusters_releases_cache(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    def n_persisted():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = n_persisted()
    out = dedup.duplicate_clusters(pairs)
    got = {(r["id"], r["cluster"]) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    after = n_persisted()
    # the localCheckpoint RDD backs the returned frame; the per-iteration
    # persist()s must all be released (round-2 cache leak)
    assert after <= before + 1


def test_empty_text_counts_zero_tokens(spark):
    """split('') yields [''] — the phantom token made empty docs score as
    1-token documents through every quality signal (round-4 review)."""
    from schemasaurus_spark.operators.text import token_count_expr
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "two words"), (4, None)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", token_count_expr(F.col("text")).alias("n")).collect()}
    assert rows[1] == 0 and rows[2] == 0 and rows[3] == 2
    assert rows[4] is None  # null text stays null, not 0


def test_null_text_survives_dedup_apply(spark):
    """NULL-text rows must pass through dedup untouched: a null-unsafe
    fingerprint semi-join silently dropped every one of them (round-4
    review — data loss), and exact_duplicates must not report the null
    group as duplicates of each other."""
    from schemasaurus_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None),
         (5, "unique")],
        "doc_id long, text string")
    groups = dedup.exact_duplicates(df).collect()
    assert len(groups) == 1 and groups[0]["keep_id"] == 1  # only real dups
    survivors = sorted(r["doc_id"]
                       for r in dedup.dedup_apply(df).collect())
    assert survivors == [1, 3, 4, 5]  # both null-text rows kept


def test_precomputed_fp_col_paths_match_default(spark):
    """Round-6: exact_duplicates/dedup_apply accept a caller-staged
    fingerprint column (``fp_col``) so several dedup views can share one
    fingerprint evaluation (sibling branches are never CSE'd). The
    staged path must return byte-identical results to the default
    compute-inside path — including NULL-fp passthrough in apply."""
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None),
         (5, "unique")],
        "doc_id long, text string")
    staged = df.withColumn("fp", text.content_fingerprint(F.col("text")))

    got_groups = {tuple(r) for r in
                  dedup.exact_duplicates(staged, fp_col="fp")
                  .select("fp", "n_docs", "keep_id").collect()}
    want_groups = {tuple(r) for r in
                   dedup.exact_duplicates(df)
                   .select("fp", "n_docs", "keep_id").collect()}
    assert got_groups == want_groups

    got_surv = sorted(r["doc_id"] for r in
                      dedup.dedup_apply(staged, fp_col="fp").collect())
    want_surv = sorted(r["doc_id"] for r in dedup.dedup_apply(df).collect())
    assert got_surv == want_surv == [1, 3, 4, 5]


def test_fingerprint_null_only_for_null_text(spark):
    """``content_fingerprint`` is NULL exactly when the text is NULL: text
    that normalizes to nothing (empty, whitespace, emoji only) still has
    the md5 of "". q_dedup_exact relies on this when it marks ``fp``
    non-nullable with a never-firing ``coalesce``."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\t\n"), (4, "\U0001F600\U0001F680"),
         (5, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", text.content_fingerprint(F.col("text")).alias("fp"))
        .collect()}
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert got == {1: empty_md5, 2: empty_md5, 3: empty_md5, 4: empty_md5,
                   5: None}


def test_duplicate_clusters_nonconvergence_is_loud(spark):
    """A component whose diameter exceeds max_iters must raise, not return
    silently split clusters (round-4 review)."""
    import pytest
    from schemasaurus_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(chain, max_iters=3)
    ok = dedup.duplicate_clusters(chain, max_iters=20).collect()
    assert {r["cluster"] for r in ok} == {0}  # one component, label 0


def test_unigram_logprob_empty_corpus(spark):
    from schemasaurus_spark.operators import text

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = text.unigram_logprob(empty)
    assert out.count() == 0 and set(out.columns) == {"doc_id", "logprob"}


# ---------------------------------------------------------------- round 5b


def test_decontaminate_flags_overlap_and_counts(spark):
    """A training doc embedding a benchmark 8-gram verbatim (case-mangled)
    is flagged with the exact distinct-gram hit count; clean docs emit
    nothing."""
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [
            # uppercase copy + one trailing token: grams not touching the
            # extra token match -> exactly 2 distinct 8-grams (positions
            # 1..2 of a 9-token doc), position 2's gram includes 'iota'
            # which is NOT in the benchmark -> only position 1 matches.
            (1, "ALPHA BETA GAMMA DELTA EPSILON ZETA ETA THETA iota"),
            (2, "totally unrelated words nine ten eleven twelve thirteen"),
            (3, None),
        ],
        "doc_id long, text string")
    got = {r["doc_id"]: r["n_hits"]
           for r in dedup.decontaminate(train, bench).collect()}
    assert got == {1: 1}


def test_decontaminate_short_benchmark_item_matches_whole_text(spark):
    """Benchmark items shorter than n words still catch verbatim copies:
    shingles() clamps to one whole-text gram on both sides."""
    bench = spark.createDataFrame([(1, "two words")], "doc_id long, text string")
    train = spark.createDataFrame(
        [(7, "two words"), (8, "two other")], "doc_id long, text string")
    got = {r["doc_id"] for r in dedup.decontaminate(train, bench).collect()}
    assert got == {7}


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark gram set must carry the broadcast hint (eval-suite
    sized), keeping the exploded corpus side shuffle-free up to the join."""
    bench = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    train = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
    plan = (dedup.decontaminate(train, bench)
            ._jdf.queryExecution().logical().toString())
    assert ("ResolvedHint (strategy=broadcast)" in plan
            or "UnresolvedHint broadcast" in plan)


def _line_corpus(spark):
    return spark.createDataFrame(
        [
            (1, "unique one\nshared boilerplate\nunique two"),
            (2, "shared boilerplate\nunique three"),
            (3, "  shared boilerplate \nunique four"),  # whitespace-normalized dup
            (4, "shared boilerplate"),                   # loses its only line
        ],
        "doc_id long, text string")


def test_line_dedup_first_occurrence_and_reassembly(spark):
    got = {r["doc_id"]: (r["text"], r["n_lines"], r["n_kept"])
           for r in dedup.line_dedup(_line_corpus(spark)).collect()}
    assert got[1] == ("unique one\nshared boilerplate\nunique two", 3, 3)
    assert got[2] == ("unique three", 2, 1)
    assert got[3] == ("unique four", 2, 1)
    assert got[4] == ("", 1, 0)


def test_line_dedup_matches_duckdb_oracle(spark):
    """Inline DuckDB oracle (pytest-only: the graded registry is pinned at
    the driver's 50-row gate) — same first-occurrence-by-(doc,pos)
    semantics over the staged corpus."""
    import duckdb

    got = sorted(
        (r["doc_id"], r["text"], r["n_lines"], r["n_kept"])
        for r in dedup.line_dedup(_line_corpus(spark)).collect())
    rows = [(1, "unique one\nshared boilerplate\nunique two"),
            (2, "shared boilerplate\nunique three"),
            (3, "  shared boilerplate \nunique four"),
            (4, "shared boilerplate")]
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = sorted(map(tuple, con.execute("""
        WITH lines AS (
          SELECT doc_id, line_no - 1 AS line_no, line
          FROM (SELECT doc_id,
                       unnest(string_split(text, chr(10))) AS line,
                       generate_subscripts(string_split(text, chr(10)), 1)
                         AS line_no
                FROM docs)),
        ranked AS (
          SELECT doc_id, line_no, line,
                 ROW_NUMBER() OVER (PARTITION BY md5(trim(line))
                                    ORDER BY doc_id, line_no) AS rn
          FROM lines)
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
                                   ORDER BY line_no), '') AS text,
               COUNT(*) AS n_lines,
               COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_kept
        FROM ranked GROUP BY doc_id
    """).fetchall()))
    assert got == want


def test_incremental_dedup_index(spark, tmp_path):
    """Cross-snapshot exact dedup against the persistent fingerprint
    index: intra dups collapse to the increment's first owner, cross dups
    to the historical owner, the index grows only by NEW fingerprints,
    and reprocessing an identical increment is deterministic."""
    from schemasaurus_spark.operators.dedup import IncrementalDedup

    idx = IncrementalDedup(str(tmp_path / "state"))

    inc1 = spark.createDataFrame(
        [("a1", "hello world"), ("a2", "unique one"),
         ("a3", "hello world"), ("a4", None)],
        "doc_id string, text string")
    surv1, dup1 = idx.process(inc1)
    d1 = {r["doc_id"]: (r["dup_of"], r["scope"]) for r in dup1.collect()}
    assert d1 == {"a3": ("a1", "intra")}
    # null text survives and is not indexed
    assert {r["doc_id"] for r in surv1.collect()} == {"a1", "a2", "a4"}
    assert idx.store.read(spark).count() == 2  # hello-world + unique-one

    inc2 = spark.createDataFrame(
        [("b1", "hello world"),      # cross dup of a1
         ("b2", "brand new"),        # new
         ("b3", "brand new"),        # intra dup of b2
         ("b4", None)],              # null: survives again
        "doc_id string, text string")
    surv2, dup2 = idx.process(inc2)
    d2 = {r["doc_id"]: (r["dup_of"], r["scope"]) for r in dup2.collect()}
    assert d2 == {"b1": ("a1", "cross"), "b3": ("b2", "intra")}
    assert {r["doc_id"] for r in surv2.collect()} == {"b2", "b4"}
    ix = {(r["fp"], r["doc_id"]) for r in idx.store.read(spark).collect()}
    assert len(ix) == 3 and {d for _, d in ix} == {"a1", "a2", "b2"}

    # replaying increment 2 against the grown index: b2 is now CROSS
    # (its fp belongs to the index) and nothing new is appended
    _, dup3 = idx.process(inc2)
    d3 = {r["doc_id"]: (r["dup_of"], r["scope"]) for r in dup3.collect()}
    assert d3 == {"b1": ("a1", "cross"), "b2": ("b2", "cross"),
                  "b3": ("b2", "cross")}
    assert idx.store.read(spark).count() == 3


def test_incremental_dedup_normalized_fingerprints(spark, tmp_path):
    """normalize='ws_lower' keys on the canonical text form; the choice
    is frozen on first use and mixing normalizations raises."""
    import pytest

    from schemasaurus_spark.operators.dedup import IncrementalDedup

    idx = IncrementalDedup(str(tmp_path / "s"))
    df = spark.createDataFrame(
        [("a1", "Hello   World"), ("a2", "hello world"), ("a3", "other")],
        "doc_id string, text string")
    surv, dup = idx.process(df, normalize="ws_lower")
    d = {r["doc_id"]: r["scope"] for r in dup.collect()}
    assert d == {"a2": "intra"}
    assert {r["doc_id"] for r in surv.collect()} == {"a1", "a3"}
    with pytest.raises(ValueError, match="ws_lower"):
        idx.process(df, normalize="raw")
    # raw index elsewhere: the variants do NOT dedup
    idx2 = IncrementalDedup(str(tmp_path / "s2"))
    _, dup2 = idx2.process(df, normalize="raw")
    assert dup2.count() == 0
