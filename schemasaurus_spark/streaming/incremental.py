"""Incremental snapshot validation — the engine's streaming analog.

SURVEY.md §2.4: the corpus is a static snapshot table, so the streaming
story is *incremental validation of snapshot deltas* (Iceberg incremental
read semantics), not Structured Streaming state: each new snapshot's added
files are validated (cheap — only the delta) and lineage/metrics are
appended. Whole-table quantiles need no rescan of history either: a KLL
sketch table (``operators/sketch.py``) of each delta *can* be merged into
the previous one with ``merge_sketches``; nothing here stores one yet.

A true Structured Streaming source could feed the same ValidationPlan
(the plan is a pure projection and works on streaming DataFrames); that
path is exercised in tests/test_streaming.py with the rate source.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from schemasaurus_spark.dsl import Suite
from schemasaurus_spark.plans.lineage import CheckpointedRun, ValidationCheckpoint
from schemasaurus_spark.sources.storage import SnapshotStore


@dataclass
class IncrementalState:
    last_validated_snapshot: str | None = None


def validate_new_snapshots(
    spark: SparkSession,
    store: SnapshotStore,
    suite: Suite,
    checkpoint: ValidationCheckpoint,
    state: IncrementalState,
) -> list[CheckpointedRun]:
    """Validate every snapshot appended since state.last_validated_snapshot.
    Lineage is FILE-keyed per suite (parquet files are immutable), so each
    run touches only the delta files automatically — no lineage copying is
    needed for carried-over files."""
    runs: list[CheckpointedRun] = []
    snaps = store.snapshots()
    seen = state.last_validated_snapshot
    start = 0
    if seen is not None:
        idx = next((i for i, s in enumerate(snaps) if s.id == seen), None)
        if idx is None:
            # state points at a snapshot this table no longer has (rebuilt
            # table / stale state): fall back to validating from the start
            # — file-keyed lineage makes the re-walk skip completed work,
            # so this is safe and cheap rather than an opaque StopIteration
            start = 0
        else:
            start = idx + 1
    for snap in snaps[start:]:
        runs.append(checkpoint.run(spark, store, suite, snap.id))
        state.last_validated_snapshot = snap.id
    return runs
