"""Checkpointed validation runs: per-file lineage, metrics, resume.

North-rule requirements: "emits per-partition pass/fail verdicts ...
resumes from Iceberg-snapshot checkpoints with per-partition lineage +
metrics tables".

The resumable unit is the immutable **input file** (not
``spark_partition_id``, which changes with parallelism): a lineage row
``(snapshot_id, suite_hash, file, n_rows, n_violations, pass, wall_ts,
attempt_id)`` records that a file was fully validated under a given suite
fingerprint. ``run`` validates only files without a lineage row for
(snapshot, suite_hash) — crash-and-rerun skips completed work, and a suite
change (different fingerprint) naturally invalidates the checkpoint.

Scale + crash-safety design (round-1 VERDICT #3 / ADVICE #5 fixes):

* **ONE data scan per increment.** The only job that reads the input files
  is the violations write. Per-file row counts come from the snapshot
  manifest (Iceberg ``record_count`` analog; parquet-footer fallback — a
  metadata read, not a scan), and per-file violation counts + per-constraint
  metrics are derived from the just-written violations increment, which is
  tiny relative to the input. The old design executed the validation plan
  three times (verdict collect, violations write, metrics write) — a 3×
  read bill per increment at 100 TB.
* **Lineage is the commit point.** Each ``run`` gets a fresh ``attempt_id``;
  violations and metrics are staged FIRST (partitioned by attempt), lineage
  is appended LAST. Readers keep only rows whose attempt landed in lineage,
  so a crash between writes leaves invisible orphans instead of duplicated
  violations, and the rerun re-validates those files cleanly under a new
  attempt.

State lives in three append-only parquet tables under ``state_dir``:
``lineage/``, ``violations/`` (partitioned by attempt_id), ``metrics/``.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from schemasaurus_spark.compiler import VIOLATIONS_COL, compile_suite
from schemasaurus_spark.dsl import Suite
from schemasaurus_spark.session import local_frame
from schemasaurus_spark.sources.storage import SnapshotStore, file_record_count

LINEAGE_SCHEMA = (
    "snapshot_id string, suite_hash string, file string, n_rows long, "
    "n_violations long, pass boolean, wall_ts double, attempt_id string"
)

VIOLATIONS_EMPTY_SCHEMA = (
    "doc_id string, constraint_id string, column string, value string, "
    "arg string, message string, snapshot_id string, suite_hash string, "
    "file string, attempt_id string"
)


def _canon(path: str, anchor: str | None = None) -> str:
    """Canonical file key = the LITERAL filesystem path, absolutized.

    The two sides arrive differently encoded and must meet here:

    * manifests store the literal path exactly as the filesystem has it —
      NO decoding is applied (a literal ``%20`` or ``+`` in a directory
      name must survive; an unconditional unquote() turned ``tbl%20v1``
      into ``tbl v1`` and silently false-PASSed the whole table — round-4
      review finding);
    * ``input_file_name()`` yields a percent-ENCODED absolute ``file:``
      URI (space → ``%20``, literal ``%`` → ``%25``), so the Spark-side
      twin in run() strips the scheme and fully percent-decodes (with the
      ``+``→``%2B`` re-encode making url_decode a pure percent-decoder),
      restoring the same literal path.

    ``anchor``: relative paths resolve against this directory (the
    SnapshotStore root — a stable location) instead of the process CWD, so
    the same file canonicalizes to the same lineage key no matter where the
    driver was launched from. Absolute paths are unaffected."""
    import os

    for prefix in ("file://", "file:"):
        if path.startswith(prefix):
            path = path[len(prefix):]
            break
    if anchor and not os.path.isabs(path):
        path = os.path.join(os.path.abspath(str(anchor)), path)
    return os.path.abspath(path)


@dataclass
class CheckpointedRun:
    snapshot_id: str
    suite_hash: str
    files_validated: int
    files_skipped: int
    n_rows: int
    n_violations: int

    @property
    def table_pass(self) -> bool:
        return self.n_violations == 0


class ValidationCheckpoint:
    def __init__(self, state_dir: str, pre=None, pre_hash: str | None = None):
        """``pre`` is an optional DataFrame→DataFrame transform applied
        before validation (e.g. the normalizer — the reference's
        preprocess-then-validate pipeline, README.md:291-312). It must be a
        projection (row-preserving, same scan) so per-file lineage row
        counts stay exact. ``pre_hash`` folds the transform's identity into
        the lineage key so resume never skips files validated under a
        DIFFERENT preprocessing."""
        # absolutize: Spark resolves relative paths against the JVM working
        # directory, which need not match the Python CWD — a relative state
        # dir would stage violations somewhere the Python-side re-read
        # never looks (silent false PASS)
        self.state = Path(state_dir).absolute()
        self.state.mkdir(parents=True, exist_ok=True)
        if pre is not None and not pre_hash:
            raise ValueError(
                "ValidationCheckpoint(pre=...) requires pre_hash: without "
                "it the lineage key matches runs that used DIFFERENT "
                "preprocessing and resume would skip their files")
        self.pre = pre
        self.pre_hash = pre_hash

    def _suite_hash(self, suite) -> str:
        h = suite.fingerprint()
        return f"{h}:{self.pre_hash}" if self.pre_hash else h

    def _table(self, name: str) -> Path:
        return self.state / name

    def lineage(self, spark: SparkSession) -> DataFrame:
        """Committed lineage, ONE row per (suite_hash, file): concurrent
        runs against the same state dir can both validate the same files
        and both append — without this winner-per-file dedup their rows
        would double-count n_rows/n_violations in every later aggregate
        and duplicate committed violations via the semi-join."""
        p = self._table("lineage")
        if not p.exists():
            return local_frame(spark, [], LINEAGE_SCHEMA)
        from pyspark.sql.window import Window

        w = Window.partitionBy("suite_hash", "file").orderBy(
            F.desc("wall_ts"), F.desc("attempt_id"))
        return (spark.read.parquet(str(p))
                .withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1).drop("__rn"))

    def violations(self, spark: SparkSession) -> DataFrame:
        """Committed violations only: rows whose (snapshot, suite, file,
        attempt) landed in lineage. Orphans from crashed attempts are
        invisible — and never double-counted after the rerun re-validates
        their files under a new attempt. Lineage is file-level (small), so
        the semi-join broadcasts."""
        p = self._table("violations")
        if not p.exists() or not any(p.rglob("*.parquet")):
            return local_frame(spark, [], VIOLATIONS_EMPTY_SCHEMA)
        raw = spark.read.parquet(str(p))
        committed = self.lineage(spark).select(
            "snapshot_id", "suite_hash", "file", "attempt_id")
        return raw.join(F.broadcast(committed),
                        ["snapshot_id", "suite_hash", "file", "attempt_id"],
                        "left_semi")

    def metrics(self, spark: SparkSession) -> DataFrame:
        """Committed per-constraint metric rows (attempt present in lineage)."""
        p = self._table("metrics")
        if not p.exists():
            return local_frame(
                spark, [],
                "constraint_id string, column string, n_violations long, "
                "snapshot_id string, suite_hash string, wall_ts double, "
                "attempt_id string")
        raw = spark.read.parquet(str(p))
        committed = self.lineage(spark).select("attempt_id").distinct()
        return raw.join(F.broadcast(committed), ["attempt_id"], "left_semi")

    def completed_files(self, spark: SparkSession, suite_hash: str) -> set[str]:
        """Files already validated under this suite — under ANY snapshot:
        parquet files are immutable, so a (suite_hash, file) lineage row is
        permanently valid and carried-over files never re-validate when a
        new snapshot appends siblings. (The row still records which snapshot
        first covered the file.)"""
        lin = self.lineage(spark)
        rows = (
            lin.where(F.col("suite_hash") == suite_hash)
            .select("file").collect()
        )
        return {r["file"] for r in rows}

    # -- the checkpointed run ------------------------------------------------

    def run(self, spark: SparkSession, store: SnapshotStore, suite: Suite,
            snapshot_id: str | None = None) -> CheckpointedRun:
        snap = store._get(snapshot_id)
        suite_hash = self._suite_hash(suite)
        # anchor = the store root: a manifest-relative path must resolve to
        # the same lineage key from any launch directory (resume otherwise
        # re-validates and double-commits under a second key)
        canon = {f: _canon(f, store.root) for f in snap.files}
        done = self.completed_files(spark, suite_hash) & set(canon.values())
        todo = [f for f in snap.files if canon[f] not in done]
        if not todo:
            lin = self.lineage(spark).where(
                (F.col("suite_hash") == suite_hash)
                & (F.col("file").isin(list(canon.values()))))
            agg = lin.agg(F.sum("n_rows").alias("r"),
                          F.sum("n_violations").alias("v")).first()
            return CheckpointedRun(snap.id, suite_hash, 0, len(done),
                                   int(agg["r"] or 0), int(agg["v"] or 0))

        attempt = uuid.uuid4().hex

        df = spark.read.parquet(*todo)
        if self.pre is not None:
            # projection over the same scan: input_file_name() still
            # resolves, so per-file lineage is unaffected
            df = self.pre(df)
        plan = compile_suite(suite, df.schema)
        # Spark-side twin of _canon(): scheme strip + percent-decode.
        # F.url_decode is x-www-form-urlencoded ('+' → space) while the
        # Python twin uses a pure percent-decode ('+' stays '+'); a literal
        # '+' in the table path would silently diverge the lineage key from
        # the staged-violation key (false PASS). Re-encoding '+' as %2B
        # first makes url_decode behave as a pure percent-decoder.
        # (input_file_name is already absolute.)
        canon_file = F.url_decode(F.regexp_replace(
            F.regexp_replace(F.input_file_name(), "^file:(//)?", ""),
            "[+]", "%2B"))

        # THE single data scan: stage the violations increment, keyed by
        # attempt (partition dir = cheap pruned re-read below). Explode
        # shape, no pre-filter: scan → project → generate stays codegen'd
        # and nothing leaks into the scan as an interpreted DataFilter
        # (filter-pushdown pathology, BENCH.md round 2).
        vio = (
            plan.explode_violations(df.withColumn("__file", canon_file),
                                    "__file")
            .select(F.col(suite.id_column).cast("string").alias("doc_id"),
                    F.col("__v").alias("v"), F.col("__file"))
            .select("doc_id", "v.constraint_id", "v.column", "v.value",
                    "v.arg", "v.message",
                    F.lit(snap.id).alias("snapshot_id"),
                    F.lit(suite_hash).alias("suite_hash"),
                    F.col("__file").alias("file"),
                    F.lit(attempt).alias("attempt_id"))
        )
        vio.write.mode("append").partitionBy("attempt_id") \
            .parquet(str(self._table("violations")))

        now = time.time()
        per_file: dict[str, int] = {}
        vio_dir = self._table("violations")
        # A fully-clean increment writes no parquet parts — skip the re-read.
        if any(vio_dir.rglob("*.parquet")):
            # Increment-only re-read: partition pruning keeps this to the
            # files just written (violation rows ≪ input rows).
            inc = (
                spark.read.parquet(str(vio_dir))
                .where(F.col("attempt_id") == attempt)
            )
            per_file = {
                r["file"]: r["n"]
                for r in inc.groupBy("file")
                            .agg(F.count(F.lit(1)).alias("n")).collect()
            }
            # Per-constraint metrics for this increment — derived from the
            # staged violations, not a second scan of the input.
            met = (
                inc.groupBy("constraint_id", "column")
                .agg(F.count(F.lit(1)).alias("n_violations"))
                .withColumn("snapshot_id", F.lit(snap.id))
                .withColumn("suite_hash", F.lit(suite_hash))
                .withColumn("wall_ts", F.lit(now))
                .withColumn("attempt_id", F.lit(attempt))
            )
            met.write.mode("append").parquet(str(self._table("metrics")))

        # Per-file row counts: manifest record_count (Iceberg analog), with
        # a parquet-footer fallback — metadata only, never a data scan.
        # Validation is row-preserving (one wide projection), so input
        # row count == validated row count.
        lineage_rows = []
        n_rows = n_vio = 0
        for f in todo:
            rc = snap.record_count(f)
            if rc is None:
                rc = file_record_count(f)
            nv = int(per_file.get(canon[f], 0))
            n_rows += rc
            n_vio += nv
            lineage_rows.append(
                (snap.id, suite_hash, canon[f], rc, nv, nv == 0, now,
                 attempt))

        # Lineage LAST — the commit point. A crash before this line leaves
        # only invisible orphans (filtered out by violations()/metrics()).
        local_frame(spark, lineage_rows, LINEAGE_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(str(self._table("lineage")))

        # carried-over files' totals come from their original lineage rows
        # (file-keyed: snapshot_id records first coverage, not the key)
        prev = self.lineage(spark).where(
            (F.col("suite_hash") == suite_hash)
            & (F.col("file").isin(list(done))))
        prev_agg = prev.agg(F.sum("n_rows").alias("r"),
                            F.sum("n_violations").alias("v")).first()
        return CheckpointedRun(
            snap.id, suite_hash, len(todo), len(done),
            n_rows + int(prev_agg["r"] or 0),
            n_vio + int(prev_agg["v"] or 0),
        )


# ------------------------------------------------ run-over-run trend


@dataclass
class TrendAlert:
    constraint_id: str
    column: str
    kind: str            # "spike" | "novel"
    prev_rate: float
    cur_rate: float
    prev_n: int
    cur_n: int


def metrics_trend(cp: "ValidationCheckpoint", spark: SparkSession,
                  factor: float = 10.0,
                  min_count: int = 10) -> list[TrendAlert]:
    """Run-over-run violation-RATE trend between the last two validated
    snapshot increments: a constraint whose per-row violation rate jumped
    ≥ ``factor``× ("spike"), or that newly appeared ("novel"), is the
    ops signal "upstream broke something since the last run" — distinct
    from drift (distribution moved) and from absolute thresholds (a
    constraint can stay under its ceiling while exploding 50×).

    Rates are per-INCREMENT: lineage records each file's rows under the
    snapshot where it was first validated, and the metrics table is
    derived from the same increment, so numerator and denominator line
    up even when later snapshots carry earlier files forward. Everything
    here reads the lineage/metrics tables (sketch-sized) — zero input
    scans. ``min_count`` suppresses small-sample noise (3 violations
    where there was 1 is not a signal)."""
    lin = (cp.lineage(spark).groupBy("snapshot_id")
             .agg(F.sum("n_rows").alias("rows")).collect())
    per_snap = {r["snapshot_id"]: r["rows"] for r in lin}
    snaps = sorted(s for s in per_snap if per_snap[s])  # sNNNNN: ordinal
    if len(snaps) < 2:
        return []
    prev_s, cur_s = snaps[-2], snaps[-1]
    met = (cp.metrics(spark)
             .where(F.col("snapshot_id").isin([prev_s, cur_s]))
             .groupBy("snapshot_id", "constraint_id", "column")
             .agg(F.sum("n_violations").alias("n")).collect())
    prev: dict = {}
    cur: dict = {}
    for r in met:
        tgt = prev if r["snapshot_id"] == prev_s else cur
        tgt[(r["constraint_id"], r["column"])] = r["n"]
    alerts = []
    for key, n in sorted(cur.items()):
        if n < min_count:
            continue
        cur_rate = n / per_snap[cur_s]
        pn = prev.get(key, 0)
        prev_rate = pn / per_snap[prev_s]
        if pn == 0:
            alerts.append(TrendAlert(key[0], key[1], "novel",
                                     0.0, cur_rate, 0, n))
        elif cur_rate >= factor * prev_rate:
            alerts.append(TrendAlert(key[0], key[1], "spike",
                                     prev_rate, cur_rate, pn, n))
    return alerts
