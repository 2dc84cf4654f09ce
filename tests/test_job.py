"""End-to-end spark-submit job contract: checkpointed run + aggregate
checks with baseline bootstrap/compare (north rule: packaged job,
resumable, drift vs checkpointed baseline)."""

import importlib.util
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _job_env() -> dict:
    """Environment of a job subprocess: local[4] and a 1 GB driver heap —
    the inputs are at most 1k rows, and each job JVM runs next to the
    test session's own."""
    return dict(os.environ, SPARK_GRAFT_CPUS="4",
                SPARK_GRAFT_DRIVER_MEM="1g")


def _run_job(*args):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"), *args],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=_job_env())
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines, f"no JSON from job:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    return json.loads(lines[-1]), out.returncode


def _run_inproc(monkeypatch, capsys, *argv):
    """Run the job's ``main()`` in this process and session — no JVM
    start, and a test can intercept its Spark actions. Returns (report,
    exit code)."""
    spec = importlib.util.spec_from_file_location(
        "validate_job_inproc", os.path.join(REPO, "jobs", "validate_job.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    monkeypatch.setattr(sys, "argv", ["validate_job.py", *argv])
    rc = job.main()
    out = [l for l in capsys.readouterr().out.splitlines()
           if l.startswith("{")]
    return json.loads(out[-1]), rc


def test_job_aggregate_baseline_bootstrap_then_drift(spark, tmp_path):
    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(datagen.gen_sequences(spark, 400, 4)))
    state = str(tmp_path / "state")

    # run 1: validates + bootstraps the drift baseline (global histogram —
    # per-source groups are too small at 400 rows for stable PSI/KS)
    rep1, rc1 = _run_job("--table", str(tmp_path / "tbl"), "--state", state,
                         "--aggregate", "--drift-by", "none")
    assert rc1 == 0 and rep1["pass"] and rep1["drift"] == "baseline_bootstrapped"
    assert rep1["unique_pass"] and rep1["unique_total"] == 400

    # append a second snapshot with the same distribution and DISJOINT ids
    # (start=400): no drift, no duplicate keys, resume skips validated files
    store.append(datagen.finalize(datagen.gen_sequences(spark, 200, 2,
                                                        start=400)))
    rep2, rc2 = _run_job("--table", str(tmp_path / "tbl"), "--state", state,
                         "--aggregate", "--drift-by", "none")
    assert rc2 == 0 and rep2["pass"], rep2
    assert rep2["files_skipped"] > 0              # checkpoint resume worked
    assert isinstance(rep2["drift"], list) and rep2["drift"]
    assert all(g["pass"] for g in rep2["drift"])  # same generator => no drift


def test_job_with_json_schema_document(spark, tmp_path):
    """--schema-json: the reference's native document drives the packaged
    cluster job (normalize → validate → lineage/resume)."""
    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(
        datagen.corrupt_enum(datagen.gen_sequences(spark, 300, 3), every=50)))
    state = str(tmp_path / "state")
    doc = {
        "type": "object",
        "required": ["doc_id", "source"],
        "properties": {
            "doc_id": {"type": "string", "pattern": "^[a-z]+-[0-9]{8}$"},
            "source": {"enum": list(datagen.SOURCES)},
            "n_tok": {"type": "integer", "minimum": 1},
        },
    }
    schema_path = tmp_path / "suite.json"
    schema_path.write_text(json.dumps(doc))

    rep1, rc1 = _run_job("--table", str(tmp_path / "tbl"), "--state", state,
                         "--schema-json", str(schema_path), "--normalize")
    assert rc1 == 1 and not rep1["pass"]          # corrupt_enum planted dirt
    assert rep1["n_rows"] == 300 and rep1["n_violations"] > 0

    # resume under the SAME document+normalizer: all files skip
    rep2, rc2 = _run_job("--table", str(tmp_path / "tbl"), "--state", state,
                         "--schema-json", str(schema_path), "--normalize")
    assert rep2["files_skipped"] == 3 and rep2["files_validated"] == 0
    assert rep2["n_violations"] == rep1["n_violations"]

    # same document WITHOUT --normalize = different lineage key → re-runs
    rep3, _ = _run_job("--table", str(tmp_path / "tbl"), "--state", state,
                       "--schema-json", str(schema_path))
    assert rep3["files_validated"] == 3


def test_job_token_id_array_drift(spark, tmp_path):
    """--drift-array: the north star's token-id histogram drift through the
    packaged job — bootstrap freezes the element-level histogram, a
    same-distribution snapshot passes, and no explode ever runs."""
    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(datagen.gen_sequences(spark, 300, 3)))
    state = str(tmp_path / "state")
    edges = "0,1000,5000,10000,25000,50257"

    rep1, rc1 = _run_job("--table", str(tmp_path / "tbl"), "--state", state,
                         "--aggregate", "--drift-by", "none",
                         "--drift-column", "tokens", "--drift-array",
                         "--drift-edges", edges)
    assert rc1 == 0 and rep1["drift"] == "baseline_bootstrapped"

    store.append(datagen.finalize(datagen.gen_sequences(spark, 150, 2,
                                                        start=300)))
    rep2, rc2 = _run_job("--table", str(tmp_path / "tbl"), "--state", state,
                         "--aggregate", "--drift-by", "none",
                         "--drift-column", "tokens", "--drift-array",
                         "--drift-edges", edges)
    assert rc2 == 0 and rep2["pass"], rep2
    assert isinstance(rep2["drift"], list) and rep2["drift"]
    assert all(g["pass"] for g in rep2["drift"])  # same generator, no drift


def test_job_drift_config_mismatch_is_usage_error(spark, tmp_path):
    """A baseline frozen under one --drift-by must refuse comparison under
    another (exit 2), not silently flag every group as drifted."""
    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(datagen.gen_sequences(spark, 200, 2)))
    state = str(tmp_path / "state")
    rep1, rc1 = _run_job("--table", str(tmp_path / "tbl"), "--state", state,
                         "--aggregate", "--drift-by", "none")
    assert rc1 == 0 and rep1["drift"] == "baseline_bootstrapped"

    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
         "--table", str(tmp_path / "tbl"), "--state", state,
         "--aggregate", "--drift-by", "source"],
        capture_output=True, text=True, timeout=600, cwd=REPO,
        env=_job_env())
    assert out.returncode == 2
    assert "drift baseline" in out.stderr
    # split on "\n" only: str.splitlines also splits on the progress
    # bar's "\r" and would hide a bar run into the error line
    assert any(line.startswith("error:") for line in out.stderr.split("\n"))


def test_job_usage_errors_exit_2(spark, tmp_path):
    for extra in (["--normalize"],
                  ["--incremental", "--snapshot", "s00000"]):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
             "--table", str(tmp_path / "t"), "--state", str(tmp_path / "s"),
             *extra],
            capture_output=True, text=True, timeout=120, cwd=REPO,
            env=_job_env())
        assert out.returncode == 2, (extra, out.stderr[-300:])


def test_job_lint_gate(spark, tmp_path):
    """--lint: an unsatisfiable suite aborts with exit 2 BEFORE any
    validation scan; a clean suite rides through unchanged."""
    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(datagen.gen_sequences(spark, 100, 1)))
    state = str(tmp_path / "state")

    bad = {"type": "object", "properties": {
        "doc_id": {"type": "string"},
        "n_tok": {"type": "integer", "minimum": 100, "maximum": 5},
    }}
    bad_path = tmp_path / "bad_schema.json"
    bad_path.write_text(json.dumps(bad))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
         "--table", str(tmp_path / "tbl"), "--state", state,
         "--schema-json", str(bad_path), "--lint"],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=_job_env())
    assert out.returncode == 2, out.stderr[-500:]
    assert "bounds-unsatisfiable" in out.stderr
    # refusal happened pre-scan: no lineage was committed
    assert not os.path.exists(os.path.join(state, "lineage"))

    good = {"type": "object", "properties": {
        "doc_id": {"type": "string", "minLength": 1},
        "n_tok": {"type": "integer", "minimum": 0},
    }}
    good_path = tmp_path / "good_schema.json"
    good_path.write_text(json.dumps(good))
    rep, rc = _run_job("--table", str(tmp_path / "tbl"), "--state", state,
                       "--schema-json", str(good_path), "--lint")
    assert rc == 0 and rep["pass"], rep


def test_job_sequence_layout_suite(spark, tmp_path):
    """--suite sequence_layout --layout-ids: the token layout suite runs
    through the packaged job; a conformant table passes, an interior-pad
    corruption fails with exit 1."""
    from schemasaurus_spark.sources.storage import SnapshotStore

    rows = [(f"doc-{i:08d}", [1, 10 + i % 50, 7, 2, 0, 0], 6, "web")
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(df)
    rep, rc = _run_job("--table", str(tmp_path / "tbl"),
                       "--state", str(tmp_path / "s1"),
                       "--suite", "sequence_layout",
                       "--layout-ids", "1000,1,2,0")
    assert rc == 0 and rep["pass"], rep

    bad = df.limit(5).selectExpr(
        "concat('bad-', doc_id) AS doc_id",
        "array(1, 0, 7, 2, 0, 0) AS tokens", "n_tok", "source")
    store2 = SnapshotStore(str(tmp_path / "tbl2"))
    store2.append(df.union(bad))
    rep2, rc2 = _run_job("--table", str(tmp_path / "tbl2"),
                         "--state", str(tmp_path / "s2"),
                         "--suite", "sequence_layout",
                         "--layout-ids", "1000,1,2,0")
    assert rc2 == 1 and not rep2["pass"]
    assert rep2["n_violations"] >= 5

    # usage gates: ids without the suite / suite without ids / bad ids
    for extra in (["--layout-ids", "10,1,2"],
                  ["--suite", "sequence_layout"],
                  ["--suite", "sequence_layout", "--layout-ids", "x,y"]):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
             "--table", str(tmp_path / "tbl"), "--state",
             str(tmp_path / "s3"), *extra],
            capture_output=True, text=True, timeout=120, cwd=REPO,
            env=_job_env())
        assert out.returncode == 2, (extra, out.stderr[-300:])


def test_job_incremental_cursor_persists(spark, tmp_path):
    """The incremental cursor survives across invocations, so a no-change
    rerun does not re-walk every historical snapshot."""
    import json as _json
    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    snap = store.append(datagen.finalize(datagen.gen_sequences(spark, 100, 2)))
    state = str(tmp_path / "state")
    _run_job("--table", str(tmp_path / "tbl"), "--state", state,
             "--incremental")
    cursor = _json.load(open(os.path.join(state, "incremental.json")))
    assert cursor["last_validated_snapshot"] == snap.id
    rep2, rc2 = _run_job("--table", str(tmp_path / "tbl"), "--state", state,
                         "--incremental")
    assert rc2 == 0 and rep2 == {"snapshots_validated": 0, "pass": True}


def test_job_aggregate_scan_budget_on_resume(spark, tmp_path, monkeypatch,
                                             capsys):
    """Round-4 VERDICT #7: the job-level analog of test_scan_budget — on a
    checkpointed RESUME (state already covers every file), an --aggregate
    run performs ZERO input scans of the committed table files for row
    validation; the only table scans left are the aggregate family
    (uniqueness screen + drift histogram = exactly 2 actions). Pinned by
    intercepting every eager collect IN-PROCESS and counting executed
    plans whose file-scan reads the table path."""
    from pyspark.sql.classic.dataframe import DataFrame

    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    table = str(tmp_path / "tbl")
    state = str(tmp_path / "state")
    SnapshotStore(table).append(
        datagen.finalize(datagen.gen_sequences(spark, 400, 4)))

    def run(argv):
        return _run_inproc(monkeypatch, capsys, *argv)

    args = ["--table", table, "--state", state, "--aggregate",
            "--drift-by", "none"]
    rep1, rc1 = run(args)   # run 1: validates + bootstraps baseline
    assert rc1 == 0 and rep1["pass"]

    # intercept run 2's eager actions; count only plans that scan the TABLE
    table_scans: list[str] = []
    real_collect = DataFrame.collect

    def counting_collect(self):
        out = real_collect(self)
        # inputFiles() lists the files the plan actually reads — immune to
        # the table path appearing as a lineage filter LITERAL (the
        # completed-files IN-list mentions table paths without scanning
        # them) and to plan-string location truncation
        if any(table in f for f in self.inputFiles()):
            table_scans.append(self._jdf.queryExecution().toString())
        return out

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    rep2, rc2 = run(args)
    monkeypatch.setattr(DataFrame, "collect", real_collect)

    assert rc2 == 0 and rep2["pass"], rep2
    assert rep2["files_skipped"] > 0 and rep2["files_validated"] == 0
    # resume = 0 row-validation scans of committed files; the 2 remaining
    # table-scanning actions are uniqueness screen + drift histogram
    assert len(table_scans) == 2, (
        f"expected 2 aggregate-only table scans, saw {len(table_scans)}")


def test_job_sample_smoke_mode(spark, tmp_path):
    """--sample: stateless smoke validation — verdict without lineage."""
    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(
        datagen.corrupt_enum(datagen.gen_sequences(spark, 400, 4), every=8)))
    state = str(tmp_path / "state")

    rep, rc = _run_job("--table", str(tmp_path / "tbl"), "--state", state,
                       "--sample", "0.5")
    assert rep["mode"] == "sample_smoke" and rep["sampled_fraction"] == 0.5
    assert 100 < rep["n_rows"] < 300          # ~200 of 400
    assert rc == 1 and not rep["pass"]        # corruption is dense enough
    assert rep["n_violations"] > 0
    # stateless: no lineage/state artifacts were committed
    assert not os.path.exists(os.path.join(state, "lineage"))

    # incompatible with stateful modes
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
         "--table", str(tmp_path / "tbl"), "--state", state,
         "--sample", "0.5", "--aggregate"],
        capture_output=True, text=True, timeout=120, cwd=REPO, env=_job_env())
    assert out.returncode == 2
    out2 = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
         "--table", str(tmp_path / "tbl"), "--state", state,
         "--sample", "1.5"],
        capture_output=True, text=True, timeout=120, cwd=REPO, env=_job_env())
    assert out2.returncode == 2


def test_job_referential_flag(spark, tmp_path):
    """--ref-dim: referential check in the packaged job; --ref-scaled
    routes it through the non-broadcast path with identical counts."""
    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(datagen.corrupt_ref_source(
        datagen.gen_sequences(spark, 300, 4), every=30)))
    dim_path = str(tmp_path / "dim")
    datagen.sources_dim(spark).write.parquet(dim_path)

    rep, rc = _run_job("--table", str(tmp_path / "tbl"),
                       "--state", str(tmp_path / "s1"),
                       "--aggregate", "--drift-by", "none",
                       "--ref-dim", dim_path)
    assert rc == 1 and not rep["ref_pass"] and rep["ref_missing_rows"] > 0

    rep2, rc2 = _run_job("--table", str(tmp_path / "tbl"),
                         "--state", str(tmp_path / "s2"),
                         "--aggregate", "--drift-by", "none",
                         "--ref-dim", dim_path, "--ref-scaled")
    assert rc2 == 1 and rep2["ref_missing_rows"] == rep["ref_missing_rows"]

    # flag gates: --ref-dim needs --aggregate; --ref-scaled needs --ref-dim
    for bad in (["--ref-dim", dim_path],
                ["--aggregate", "--ref-scaled"]):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
             "--table", str(tmp_path / "tbl"),
             "--state", str(tmp_path / "s3"), *bad],
            capture_output=True, text=True, timeout=120, cwd=REPO,
            env=_job_env())
        assert out.returncode == 2


def test_job_stat_bounds_flag(spark, tmp_path):
    """--stat-bounds: Deequ-style aggregate assertions in the packaged job."""
    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(datagen.gen_sequences(spark, 300, 4)))

    rep, rc = _run_job("--table", str(tmp_path / "tbl"),
                       "--state", str(tmp_path / "s1"),
                       "--aggregate", "--drift-by", "none",
                       "--stat-bounds", '{"n_tok": {"max_mean": 1.0}}')
    assert rc == 1 and rep["stat_bound_violations"]
    assert rep["stat_bound_violations"][0]["constraint_id"] == "stats.mean_bound"

    rep2, rc2 = _run_job("--table", str(tmp_path / "tbl"),
                         "--state", str(tmp_path / "s2"),
                         "--aggregate", "--drift-by", "none",
                         "--stat-bounds",
                         '{"n_tok": {"min_value": 1, "max_value": 2048}}')
    assert rc2 == 0 and rep2["stat_bound_violations"] == []
    assert rep2["drift"] == "baseline_bootstrapped"

    # run 3 against the same state: COMPARE mode — drift histogram and
    # stat-bound partials share one fused scan; same data -> both pass
    rep3, rc3 = _run_job("--table", str(tmp_path / "tbl"),
                         "--state", str(tmp_path / "s2"),
                         "--aggregate", "--drift-by", "none",
                         "--stat-bounds",
                         '{"n_tok": {"min_value": 1, "max_value": 2048}}')
    assert rc3 == 0 and rep3["stat_bound_violations"] == []
    assert isinstance(rep3["drift"], list) and all(
        d["pass"] for d in rep3["drift"])

    # ...and a violated bound still fails in compare mode
    rep4, rc4 = _run_job("--table", str(tmp_path / "tbl"),
                         "--state", str(tmp_path / "s2"),
                         "--aggregate", "--drift-by", "none",
                         "--stat-bounds", '{"n_tok": {"max_mean": 1.0}}')
    assert rc4 == 1 and rep4["stat_bound_violations"]

    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
         "--table", str(tmp_path / "tbl"), "--state", str(tmp_path / "s3"),
         "--stat-bounds", '{"n_tok": {"max_mean": 1}}'],
        capture_output=True, text=True, timeout=120, cwd=REPO, env=_job_env())
    assert out.returncode == 2          # requires --aggregate


def test_job_suggest_flag(spark, tmp_path):
    """--suggest: profile-and-exit — emits a draft schema the job itself
    can enforce via --schema-json, plus stat_bounds and key candidates."""
    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(datagen.gen_sequences(spark, 300, 4)))

    rep, rc = _run_job("--table", str(tmp_path / "tbl"),
                       "--state", str(tmp_path / "s1"), "--suggest")
    assert rc == 0 and rep["mode"] == "suggest" and rep["n_rows"] == 300
    assert "n_tok" in rep["stat_bounds"]
    assert "doc_id" in rep["unique_candidates"]

    # the emitted draft-4 document drives a normal validation run
    schema_path = str(tmp_path / "suggested.json")
    with open(schema_path, "w") as f:
        json.dump(rep["schema"], f)
    rep2, rc2 = _run_job("--table", str(tmp_path / "tbl"),
                         "--state", str(tmp_path / "s2"),
                         "--schema-json", schema_path)
    assert rc2 == 0 and rep2["pass"]

    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
         "--table", str(tmp_path / "tbl"), "--state", str(tmp_path / "s3"),
         "--suggest", "--aggregate"],
        capture_output=True, text=True, timeout=120, cwd=REPO, env=_job_env())
    assert out.returncode == 2


def test_job_unique_key_override(spark, tmp_path):
    """--unique-key: composite uniqueness key in the packaged job."""
    import pyspark.sql.functions as F

    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    # (source, n_tok) collides heavily; (source, doc_id) is unique
    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(
        datagen.gen_sequences(spark, 200, 2).withColumn(
            "n_tok", F.lit(7)).withColumn(
            "tokens", F.slice(F.col("tokens"), 1, 7))))

    rep, rc = _run_job("--table", str(tmp_path / "tbl"),
                       "--state", str(tmp_path / "s1"),
                       "--aggregate", "--drift-by", "none",
                       "--unique-key", "source,doc_id")
    assert rc == 0 and rep["unique_pass"] and rep["unique_total"] == 200

    rep2, rc2 = _run_job("--table", str(tmp_path / "tbl"),
                         "--state", str(tmp_path / "s2"),
                         "--aggregate", "--drift-by", "none",
                         "--unique-key", "source,n_tok")
    assert rc2 == 1 and not rep2["unique_pass"]
    assert rep2["unique_distinct"] < rep2["unique_total"]

    for bad in (["--unique-key", "nope"],):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
             "--table", str(tmp_path / "tbl"),
             "--state", str(tmp_path / "s3"),
             "--aggregate", "--drift-by", "none", *bad],
            capture_output=True, text=True, timeout=300, cwd=REPO,
            env=_job_env())
        assert out.returncode == 2
    out2 = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
         "--table", str(tmp_path / "tbl"), "--state", str(tmp_path / "s4"),
         "--unique-key", "doc_id"],
        capture_output=True, text=True, timeout=120, cwd=REPO, env=_job_env())
    assert out2.returncode == 2       # requires --aggregate


def test_job_null_rate_flag(spark, tmp_path):
    """--null-rate: per-column null-rate ceilings in the packaged job,
    riding the same fused scan as --stat-bounds / the drift compare."""
    import pyspark.sql.functions as F

    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    df = datagen.gen_sequences(spark, 300, 3)
    df = df.withColumn("n_tok", F.when(F.pmod(F.col("i"), F.lit(4)) == 0,
                                       None).otherwise(F.col("n_tok")))
    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(df))

    # ~25% nulls: a 1% ceiling fires, a 50% ceiling passes; suite must
    # tolerate the nulls, so use a permissive schema document
    doc = {"type": "object", "properties": {"doc_id": {"type": "string"}}}
    schema_path = str(tmp_path / "s.json")
    with open(schema_path, "w") as f:
        json.dump(doc, f)

    rep, rc = _run_job("--table", str(tmp_path / "tbl"),
                       "--state", str(tmp_path / "s1"),
                       "--schema-json", schema_path,
                       "--aggregate", "--drift-by", "none",
                       "--null-rate", '{"n_tok": 0.01}')
    assert rc == 1 and rep["null_rate_violations"]
    v = rep["null_rate_violations"][0]
    assert v["constraint_id"] == "stats.null_rate" and v["column"] == "n_tok"

    rep2, rc2 = _run_job("--table", str(tmp_path / "tbl"),
                         "--state", str(tmp_path / "s1"),  # compare mode
                         "--schema-json", schema_path,
                         "--aggregate", "--drift-by", "none",
                         "--null-rate", '{"n_tok": 0.5}')
    assert rc2 == 0 and rep2["null_rate_violations"] == []
    assert isinstance(rep2["drift"], list)          # fused with the compare

    for bad in (["--null-rate", '{"nope": 0.1}', "--aggregate"],
                ["--null-rate", '{"n_tok": 0.1}']):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
             "--table", str(tmp_path / "tbl"),
             "--state", str(tmp_path / "s2"), "--drift-by", "none", *bad],
            capture_output=True, text=True, timeout=300, cwd=REPO,
            env=_job_env())
        assert out.returncode == 2, (bad, out.stderr[-300:])


def test_job_config_file(spark, tmp_path):
    """--config: JSON config supplies flag defaults; CLI overrides win;
    unknown keys are usage errors."""
    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(datagen.gen_sequences(spark, 200, 2)))

    cfg = {"aggregate": True, "drift-by": "none",
           "stat_bounds": {"n_tok": {"max_mean": 1.0}}}
    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    # config drives the whole aggregate run (dash AND underscore keys)
    rep, rc = _run_job("--table", str(tmp_path / "tbl"),
                       "--state", str(tmp_path / "s1"),
                       "--config", cfg_path)
    assert rc == 1 and rep["stat_bound_violations"]
    assert rep["drift"] == "baseline_bootstrapped"

    # explicit CLI flag overrides the file (passing bounds fire nothing)
    rep2, rc2 = _run_job("--table", str(tmp_path / "tbl"),
                         "--state", str(tmp_path / "s2"),
                         "--config", cfg_path,
                         "--stat-bounds",
                         '{"n_tok": {"min_value": 1, "max_value": 2048}}')
    assert rc2 == 0 and rep2["stat_bound_violations"] == []

    # unknown key -> exit 2
    with open(cfg_path, "w") as f:
        json.dump({"not-a-flag": 1}, f)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
         "--table", str(tmp_path / "tbl"), "--state", str(tmp_path / "s3"),
         "--config", cfg_path],
        capture_output=True, text=True, timeout=120, cwd=REPO, env=_job_env())
    assert out.returncode == 2 and "unknown --config key" in out.stderr


def test_job_config_cli_precedence_and_typing(spark, tmp_path):
    """An explicit CLI flag beats the config file EVEN when its value
    equals the parser default (set_defaults two-phase parse), and config
    values get CLI-equivalent type checking."""
    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    store.append(datagen.finalize(datagen.gen_sequences(spark, 200, 2)))
    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as f:
        json.dump({"aggregate": True, "drift-by": "none",
                   "stat_bounds": {"n_tok": {"max_mean": 1.0}}}, f)

    # CLI --drift-by source == the parser DEFAULT; it must still beat the
    # file's "none" — observable as per-source violation groups, not '*'
    rep, rc = _run_job("--table", str(tmp_path / "tbl"),
                       "--state", str(tmp_path / "s1"),
                       "--config", cfg_path, "--drift-by", "source")
    assert rc == 1
    groups = {v["group"] for v in rep["stat_bound_violations"]}
    assert "*" not in groups and groups <= set(datagen.SOURCES)

    # config typing: a quoted number for a float flag is a usage error
    with open(cfg_path, "w") as f:
        json.dump({"sample": "0.5"}, f)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
         "--table", str(tmp_path / "tbl"), "--state", str(tmp_path / "s2"),
         "--config", cfg_path],
        capture_output=True, text=True, timeout=120, cwd=REPO, env=_job_env())
    assert out.returncode == 2 and "not a valid float" in out.stderr

    # config typing: a quoted "true" for a store_true flag is refused
    # (stored as a default it would be a truthy STRING, and "false" would
    # be truthy too — only JSON booleans are valid)
    with open(cfg_path, "w") as f:
        json.dump({"aggregate": "true"}, f)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
         "--table", str(tmp_path / "tbl"), "--state", str(tmp_path / "s2b"),
         "--config", cfg_path],
        capture_output=True, text=True, timeout=120, cwd=REPO, env=_job_env())
    assert out.returncode == 2 and "not a valid boolean" in out.stderr

    # malformed --stat-bounds is exit 2, never a crash wearing exit 1
    for bad in ('{"n_tok": {"mean_max": 1}}', "not json",
                '{"source": {"max_mean": 1}}'):
        out2 = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "validate_job.py"),
             "--table", str(tmp_path / "tbl"),
             "--state", str(tmp_path / "s3"),
             "--aggregate", "--drift-by", "none", "--stat-bounds", bad],
            capture_output=True, text=True, timeout=300, cwd=REPO,
            env=_job_env())
        assert out2.returncode == 2, (bad, out2.stderr[-300:])


def test_job_bootstrap_baseline_equals_histogram(spark, tmp_path,
                                                 monkeypatch, capsys):
    """A bootstrap saves the engine's fused drift counts as the baseline:
    the same rows as agg.histogram (scalar) and agg.array_histogram
    (--drift-array), with the group key in the group column's own type —
    so the next run's compare reads the same keys (no drift)."""
    import pyspark.sql.functions as F

    from schemasaurus_spark import datagen
    from schemasaurus_spark.operators import aggregates as agg
    from schemasaurus_spark.plans.baseline import BaselineStore
    from schemasaurus_spark.sources.storage import SnapshotStore

    table = str(tmp_path / "tbl")
    store = SnapshotStore(table)
    store.append(datagen.finalize(
        datagen.gen_sequences(spark, 400, 4)
        .withColumn("shard", (F.col("i") % 3).cast("int"))))
    df = store.read(spark)

    def baseline(state, column, hist_fn, by):
        hist, edges = BaselineStore(state).load(spark, column)
        want = hist_fn(df, column, edges, by=by)
        assert (hist.schema["group_key"].dataType
                == want.schema["group_key"].dataType)
        return set(map(tuple, hist.collect())), set(map(tuple, want.collect()))

    scalar = str(tmp_path / "s1")
    args = ["--table", table, "--state", scalar, "--aggregate",
            "--drift-by", "shard"]
    rep, _ = _run_inproc(monkeypatch, capsys, *args)
    assert rep["drift"] == "baseline_bootstrapped"
    got, want = baseline(scalar, "n_tok", agg.histogram, "shard")
    assert got == want and {g for g, _, _ in got} == {0, 1, 2}
    rep2, _ = _run_inproc(monkeypatch, capsys, *args)
    assert sorted(d["group"] for d in rep2["drift"]) == [0, 1, 2]
    assert all(d["pass"] and d["psi"] == 0 for d in rep2["drift"]), rep2

    array = str(tmp_path / "s2")
    rep3, _ = _run_inproc(
        monkeypatch, capsys, "--table", table, "--state", array,
        "--aggregate", "--drift-by", "none", "--drift-column", "tokens",
        "--drift-array", "--drift-edges", "0,1000,5000,10000,25000,50257")
    assert rep3["drift"] == "baseline_bootstrapped"
    got, want = baseline(array, "tokens", agg.array_histogram, None)
    assert got == want and got


def test_job_bootstrap_with_extra_checks_reads_table_twice(
        spark, tmp_path, monkeypatch, capsys):
    """A bootstrap with --stat-bounds/--null-rate takes 2 table-reading
    actions (uniqueness + the fused pass, which also carries the drift
    histogram the baseline is saved from), not 3: no histogram scan of
    its own. Counted over every collect and parquet write whose plan
    reads the table, on a resume so row validation reads nothing."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from schemasaurus_spark import datagen
    from schemasaurus_spark.sources.storage import SnapshotStore

    table = str(tmp_path / "tbl")
    state = str(tmp_path / "state")
    SnapshotStore(table).append(
        datagen.finalize(datagen.gen_sequences(spark, 400, 4)))
    _, rc = _run_inproc(monkeypatch, capsys, "--table", table,
                        "--state", state)
    assert rc == 0

    reads: list[str] = []
    real_collect, real_parquet = DataFrame.collect, DataFrameWriter.parquet

    def note(df):
        if any(table in f for f in df.inputFiles()):
            reads.append(df._jdf.queryExecution().toString())

    def counting_collect(self):
        note(self)
        return real_collect(self)

    def counting_parquet(self, *a, **kw):
        note(self._df)
        return real_parquet(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    monkeypatch.setattr(DataFrameWriter, "parquet", counting_parquet)
    rep, rc = _run_inproc(
        monkeypatch, capsys, "--table", table, "--state", state,
        "--aggregate", "--drift-by", "none",
        "--stat-bounds", '{"n_tok": {"min_value": 1, "max_value": 2048}}',
        "--null-rate", '{"n_tok": 0.5}')
    monkeypatch.setattr(DataFrame, "collect", real_collect)
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)

    assert rc == 0 and rep["drift"] == "baseline_bootstrapped", rep
    assert rep["files_validated"] == 0
    assert rep["stat_bound_violations"] == rep["null_rate_violations"] == []
    assert len(reads) == 2, f"expected 2 table reads, saw {len(reads)}"
