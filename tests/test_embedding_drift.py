"""Embedding-centroid drift (aggregates.embedding_centroids /
embedding_drift_check): per-group mean-vector shift vs a checkpointed
baseline — the drift monitor for embedding columns, where PSI/KS on
marginal histograms can miss a translation in vector space."""

import pyspark.sql.functions as F

from schemasaurus_spark.operators.aggregates import (
    embedding_centroids,
    embedding_drift_check,
)


def _emb(spark, shift=0.0, group="web", n=60):
    rows = [(f"d{i}", group,
             [float((i % 7) - 3) + shift, float((i % 5) - 2), 1.0])
            for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id string, source string, embedding array<double>")


def test_centroids_long_form(spark):
    df = _emb(spark).unionByName(_emb(spark, group="books"))
    cents = embedding_centroids(df, "embedding", by="source").collect()
    assert len(cents) == 6  # 2 groups x dim 3
    by = {(r["group_key"], r["pos"]): r for r in cents}
    assert by[("web", 2)]["mean"] == 1.0
    assert by[("web", 0)]["n"] == 60


def test_no_drift_same_distribution(spark):
    base = embedding_centroids(_emb(spark), "embedding", by="source")
    res = embedding_drift_check(_emb(spark), base, "embedding", by="source")
    assert len(res) == 1 and res[0].passed
    assert res[0].cosine_dist == 0.0 and res[0].l2_shift == 0.0


def test_translation_fires_where_histograms_would_not(spark):
    """Shifting every vector by a constant moves the centroid; the check
    fires on cosine or L2 even though per-dimension histogram SHAPES are
    identical (just translated)."""
    base = embedding_centroids(_emb(spark), "embedding", by="source")
    cur = _emb(spark, shift=2.5)
    res = embedding_drift_check(cur, base, "embedding", by="source",
                                cosine_threshold=0.02, l2_threshold=1.0)
    assert len(res) == 1 and not res[0].passed
    assert res[0].l2_shift > 1.0


def test_novel_and_vanished_groups_fail(spark):
    base = embedding_centroids(_emb(spark, group="web"), "embedding",
                               by="source")
    cur = _emb(spark, group="books")
    res = embedding_drift_check(cur, base, "embedding", by="source")
    got = {r.group_key: r.passed for r in res}
    assert got == {"web": False, "books": False}


def test_null_embeddings_ignored_and_zero_norm(spark):
    df = _emb(spark).withColumn(
        "embedding",
        F.when(F.col("doc_id") == "d0", F.lit(None)
               .cast("array<double>")).otherwise(F.col("embedding")))
    base = embedding_centroids(df, "embedding", by="source")
    res = embedding_drift_check(df, base, "embedding", by="source")
    assert res[0].passed and res[0].n == 59
    # both-zero centroids: distance 0, passes
    z = spark.createDataFrame([("a", "g", [0.0, 0.0])],
                              "doc_id string, source string, "
                              "embedding array<double>")
    zb = embedding_centroids(z, "embedding", by="source")
    zres = embedding_drift_check(z, zb, "embedding", by="source")
    assert zres[0].passed and zres[0].cosine_dist == 0.0


def test_job_embedding_drift_bootstrap_then_compare(spark, tmp_path):
    """--embedding-column on the packaged job: run 1 bootstraps the
    centroid baseline (BaselineStore commit protocol), run 2 compares —
    same data passes; a shifted third run fails with exit 1."""
    import json
    import os
    import subprocess
    import sys

    from schemasaurus_spark.sources.storage import SnapshotStore

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(_emb(spark).withColumn("n_tok", F.lit(3)))
    doc = {"type": "object",
           "properties": {"doc_id": {"type": "string"}},
           "required": ["doc_id"]}
    doc_path = str(tmp_path / "schema.json")
    with open(doc_path, "w") as f:
        json.dump(doc, f)

    from test_job import _job_env

    def run(extra=()):
        out = subprocess.run(
            [sys.executable, os.path.join(repo, "jobs", "validate_job.py"),
             "--table", str(tmp_path / "tbl"), "--state",
             str(tmp_path / "state"), "--schema-json", doc_path,
             "--aggregate", "--drift-by", "source",
             "--embedding-column", "embedding", *extra],
            capture_output=True, text=True, timeout=600, cwd=repo,
            env=_job_env())
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        assert lines, f"no JSON:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
        return json.loads(lines[-1]), out.returncode

    rep1, rc1 = run()
    assert rc1 == 0 and rep1["embedding_drift"] == "baseline_bootstrapped"
    rep2, rc2 = run()
    assert rc2 == 0 and rep2["pass"], rep2
    assert all(g["pass"] for g in rep2["embedding_drift"])

    # shift the corpus: append translated vectors, centroid moves
    store.append(_emb(spark, shift=4.0, n=400).withColumn("n_tok", F.lit(3)))
    rep3, rc3 = run()
    assert rc3 == 1 and not rep3["pass"], rep3
    assert any(not g["pass"] for g in rep3["embedding_drift"])
