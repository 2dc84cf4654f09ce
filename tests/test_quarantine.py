"""Quarantine split sink (ValidationResult.write_split): one scan routes
valid rows to {out}/quarantined=false/ and failing rows + JSON violation
report to {out}/quarantined=true/ via a partitioned write — the
validation-tier gate of a training pipeline. Pins BOTH the semantics
(round-trip parity with valid_rows()/violations()) and the scale shape
(no Exchange, no filter over the scan, empty DataFilters)."""

import json
import re

import pytest
from pyspark.sql import functions as F

from schemasaurus_spark import dsl
from schemasaurus_spark.validate import validate


def _suite():
    return dsl.Suite(
        id_column="doc_id",
        columns={
            "doc_id": [dsl.NotNull()],
            "n_tok": [dsl.Minimum(1), dsl.Maximum(100)],
            "source": [dsl.Enum(["web", "books"])],
        },
    )


def _table(spark, tmp_path):
    path = str(tmp_path / "table")
    spark.createDataFrame(
        [("a-1", 5, "web"), ("a-2", 0, "web"), ("a-3", 50, "zzz"),
         ("a-4", 200, "books"), ("a-5", 7, "books"), (None, 3, "web")],
        "doc_id string, n_tok int, source string",
    ).repartition(2).write.parquet(path)
    return spark.read.parquet(path)


def test_write_split_roundtrip(spark, tmp_path):
    df = _table(spark, tmp_path)
    res = validate(df, _suite())
    out_dir = str(tmp_path / "split")
    counts = res.write_split(out_dir)

    back = spark.read.parquet(out_dir)
    clean = back.where(F.col("quarantined") == "false")
    quar = back.where(F.col("quarantined") == "true")
    assert counts["n_valid"] == clean.count() == 2
    assert counts["n_quarantined"] == quar.count() == 4

    # clean side == valid_rows() (same ids), report column empty
    want = {r["doc_id"] for r in res.valid_rows().select("doc_id").collect()}
    assert {r["doc_id"] for r in clean.collect()} == want == {"a-1", "a-5"}
    assert clean.where(F.col("violation_report").isNotNull()).count() == 0

    # quarantine side carries a parseable report matching violations()
    by_id = {}
    for r in res.violations().collect():
        by_id.setdefault(r["doc_id"], set()).add(r["constraint_id"])
    for r in quar.collect():
        got = {v["constraint_id"] for v in json.loads(r["violation_report"])}
        assert got == by_id[r["doc_id"]], r["doc_id"]


def test_write_split_one_scan_no_filter_no_shuffle(spark, tmp_path):
    """The pre-write frame is scan -> projection(s): no Exchange, no
    Filter, DataFilters empty — the flag is routed by partitionBy, so the
    constraint tree can never be pushed into the parquet scan (the
    BENCH.md round-2 pathology needs a FILTER to push)."""
    df = _table(spark, tmp_path)
    res = validate(df, _suite())
    q = F.size(F.col("__violations")) > 0
    out = (res.validated
           .withColumn("violation_report",
                       F.when(q, F.to_json(F.col("__violations"))))
           .withColumn("quarantined", q.cast("string"))
           .drop("__violations"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    scrubbed = re.sub(r"(Data|Partition|Pushed)Filters", "", plan)
    assert "Filter" not in scrubbed
    m = re.search(r"DataFilters: \[([^\]]*)\]", plan)
    assert m is None or m.group(1).strip() == "", m.group(1)
    assert plan.count("FileScan") == 1


def test_write_split_column_clash_raises(spark, tmp_path):
    df = _table(spark, tmp_path).withColumn("quarantined", F.lit(False))
    res = validate(df, dsl.Suite(
        id_column="doc_id", columns={"doc_id": [dsl.NotNull()]},
        allow_undeclared_columns=True))
    with pytest.raises(ValueError, match="quarantined"):
        res.write_split(str(tmp_path / "x"))


def test_write_split_clean_table_empty_quarantine(spark, tmp_path):
    path = str(tmp_path / "t2")
    spark.createDataFrame([("a-1", 5, "web")],
                          "doc_id string, n_tok int, source string"
                          ).write.parquet(path)
    res = validate(spark.read.parquet(path), _suite())
    counts = res.write_split(str(tmp_path / "s2"))
    assert counts == {"n_valid": 1, "n_quarantined": 0,
                      "out_dir": str(tmp_path / "s2")}


def test_write_split_append_counts_only_its_own_rows(spark, tmp_path):
    """A second append reports the rows it wrote, not its predecessor's
    files under the same partition directories."""
    res = validate(_table(spark, tmp_path), _suite())
    out_dir = str(tmp_path / "appended")
    first = res.write_split(out_dir, mode="append")
    second = res.write_split(out_dir, mode="append")
    assert first == second == {"n_valid": 2, "n_quarantined": 4,
                               "out_dir": out_dir}
    assert spark.read.parquet(out_dir).count() == 12


def test_job_quarantine_flag(spark, tmp_path):
    """--quarantine DIR on the packaged job: report carries the split
    counts and the clean partition holds exactly the passing rows."""
    import os
    import subprocess
    import sys

    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(
        datagen.corrupt_enum(datagen.gen_sequences(spark, 300, 3), every=50)))
    qdir = str(tmp_path / "q")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "validate_job.py"),
         "--table", str(tmp_path / "tbl"), "--state",
         str(tmp_path / "state"), "--quarantine", qdir],
        capture_output=True, text=True, timeout=600, cwd=repo, env=env)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines, f"no JSON:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    rep = json.loads(lines[-1])
    assert out.returncode == 1 and not rep["pass"]  # corrupted rows exist
    q = rep["quarantine"]
    assert q["n_valid"] + q["n_quarantined"] == 300
    back = spark.read.parquet(qdir)
    # corrupt_enum marks rows by fixed-seed hash (~1/every): derive the
    # expected count from the written data rather than hard-coding it
    n_bad = back.where(F.col("source") == "sp4m").count()
    assert q["n_quarantined"] == n_bad > 0
    assert back.where(F.col("quarantined") == "true").count() == n_bad
    assert (back.where(F.col("quarantined") == "true")
                .where(F.col("violation_report").isNull()).count()) == 0
