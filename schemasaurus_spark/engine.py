"""Full-engine facade: one call = the complete north-star validation job.

``run_full_validation`` stitches together everything the north rule asks of
one run over a sequences table:

* row-level constraint suite (compiled, single-pass)        → violations
* per-partition pass/fail verdicts                          → verdicts
* doc_id uniqueness (exact salted two-phase, unconditional) → violations
* referential check against the sources dimension           → violations
* per-source null-rate thresholds                           → violations
* PSI/KS drift vs a checkpointed baseline histogram         → violations

All violation families share one schema
(doc_id, constraint_id, column, value, arg, message) and stack with
``unionByName`` — the columnar form of the reference's single error list
(``/root/reference/src/v4validator.js:40-52``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from schemasaurus_spark.compiler import VIOLATIONS_COL
from schemasaurus_spark.dsl import Suite
from schemasaurus_spark.operators import aggregates as agg
from schemasaurus_spark.session import local_frame
from schemasaurus_spark.validate import (
    VERDICT_SCHEMA, ValidationResult, validate)

VIOLATION_COLS = ["doc_id", "constraint_id", "column", "value", "arg", "message"]


# Default for AggregateChecks.unique_key: check 'doc_id' when the table has
# it, silently skip when it doesn't. An EXPLICIT unique_key that is missing
# from the table still raises — a misconfigured check must be loud, but the
# mere default must not break callers validating doc_id-less tables with
# unrelated checks (round-3 ADVICE).
AUTO_UNIQUE_KEY = "__auto_doc_id__"


@dataclass
class AggregateChecks:
    """Configuration for the aggregate/statistical half of the suite."""

    unique_key: Optional[str] = AUTO_UNIQUE_KEY
    sources_dim: Optional[DataFrame] = None
    ref_column: str = "source"
    # True = the dimension is too large to broadcast (a doc-id-like FK
    # into another 10^12-row table): referential runs through
    # referential_check_scaled — distinct-key two-phase, dim excluded
    # from the fused broadcast pass. Costs one extra key-distinct scan
    # over the facts (+1 attribution scan only when dirty); the default
    # broadcast path keeps the 2-scan budget.
    ref_scaled: bool = False
    null_rate_max: Optional[dict[str, float]] = None  # column -> max rate
    null_rate_by: Optional[str] = "source"
    # Deequ-style aggregate assertions riding the same fused scan:
    # column -> {min_mean/max_mean (per-group mean bounds) and/or
    # min_value/max_value (hard bounds on observed min/max)}. Grouped by
    # null_rate_by, like the null-rate checks.
    stat_bounds: Optional[dict[str, dict]] = None
    drift_baseline: Optional[DataFrame] = None  # histogram (group_key,bucket,count)
    drift_column: str = "n_tok"
    drift_edges: Sequence[float] = ()
    # grouping for the drift comparison. MUST match how drift_baseline was
    # grouped — comparing a global histogram against per-source baseline
    # keys makes every group look drifted. The "unset" sentinel falls back
    # to null_rate_by for compatibility with callers that group both the
    # same way.
    drift_by: object = "__same_as_null_rate_by__"
    # True = drift over the ELEMENTS of an array column (the north star's
    # token-id histogram): fused per-bucket size(filter(...)) partial
    # counts, never an explode
    drift_is_array: bool = False
    psi_threshold: float = 0.2
    ks_threshold: float = 0.15


@dataclass
class FullValidationResult:
    row: ValidationResult
    agg_violations: DataFrame  # stacked aggregate-check violations (lazy)
    # rows of agg_violations, counted on the driver from the totals each
    # check already brought back — agg_violations is never run to count it
    n_agg: int
    drift: list = field(default_factory=list)

    def violations(self) -> DataFrame:
        """Row-level + aggregate violations, one schema."""
        row_v = self.row.violations().select(
            F.col(self.row.id_column).cast("string").alias("doc_id"),
            "constraint_id", "column", "value", "arg", "message",
        )
        return row_v.unionByName(self.agg_violations.select(*VIOLATION_COLS))

    def verdicts(self) -> DataFrame:
        """Per-partition verdicts; aggregate-check failures are appended as
        a pseudo-partition row (partition_id = -1) so a partition table
        consumer sees the whole-table checks too. One local relation over
        the row result's memoized counts aggregate."""
        return local_frame(
            self.row.validated.sparkSession,
            self.row.verdict_rows()
            + [(-1, 0, self.n_agg, self.n_agg == 0)],
            VERDICT_SCHEMA)

    def is_valid(self) -> bool:
        return self.row.is_valid() and self.n_agg == 0


def _empty_violations_df(spark) -> DataFrame:
    return local_frame(
        spark, [], "doc_id string, constraint_id string, column string, "
                   "value string, arg string, message string")


def run_full_validation(df: DataFrame, suite: Suite,
                        checks: AggregateChecks | None = None
                        ) -> FullValidationResult:
    """Scan budget (SURVEY §4 "one-pass stats", round-3 VERDICT #1): the
    ENTIRE aggregate family — every null-rate column, the drift histogram,
    and the referential miss count — is ONE fused grouped-aggregation scan
    (``fused_aggregate_pass``); uniqueness is a second scan (its grouping
    key is the row key, not a dimension — unfusable by shape). All
    null-rate, stat-bound and drift violation frames are then driver-built
    LocalTableScans. ``agg_violations`` stays lazy: on a CLEAN table
    consuming it re-reads nothing, but on a DIRTY one its uniqueness part
    re-runs the salted aggregation and its referential part the anti-join
    (or the scaled semi-join) — both re-scan the table to list offending
    rows. ``n_agg`` never runs it: every check's violation count is
    already on the driver (uniqueness ``screen_total - screen_distinct``,
    the fused referential miss total, the scaled screen's row count, the
    lengths of the driver-built row lists) —
    tests/test_scan_budget.py pins the 2-scan budget."""
    checks = checks or AggregateChecks()
    spark = df.sparkSession
    row_res = validate(df, suite)

    unique_key = checks.unique_key
    if unique_key == AUTO_UNIQUE_KEY:
        # default behavior: check doc_id when present, skip when absent —
        # only an EXPLICITLY configured missing key is a hard error
        unique_key = "doc_id" if "doc_id" in df.columns else None
    elif unique_key and unique_key not in df.columns:
        # silent skip = false clean verdict on a duplicate-ridden table;
        # a misconfigured check must be LOUD, not absent
        raise ValueError(
            f"AggregateChecks.unique_key '{checks.unique_key}' is not a "
            f"column of the table ({sorted(df.columns)}); set "
            f"unique_key=None to opt out of the uniqueness check")
    if checks.sources_dim is not None and checks.ref_column not in df.columns:
        raise ValueError(
            f"AggregateChecks.ref_column '{checks.ref_column}' is not a "
            f"column of the table; referential check cannot run")
    for c in (checks.stat_bounds or {}):
        if c not in df.columns:
            raise ValueError(
                f"AggregateChecks.stat_bounds column '{c}' is not a "
                f"column of the table ({sorted(df.columns)})")
    if checks.ref_scaled and checks.sources_dim is None:
        # a misconfigured check must be LOUD, not absent (same contract
        # as unique_key above and the job's --ref-scaled-without---ref-dim
        # exit-2 gate)
        raise ValueError(
            "AggregateChecks.ref_scaled=True without sources_dim — the "
            "scaled referential check has no dimension to check against")
    if ((checks.null_rate_max or checks.stat_bounds)
            and checks.null_rate_by is not None
            and checks.null_rate_by not in df.columns):
        # the default null_rate_by='source' must not crash sourceless
        # tables with an opaque UNRESOLVED_COLUMN from inside the fused
        # pass (round-4 fixed the drift-only variant of this)
        raise ValueError(
            f"AggregateChecks.null_rate_by '{checks.null_rate_by}' is not "
            f"a column of the table — set null_rate_by=None for a global "
            f"(ungrouped) null-rate/stat-bound check")
    if checks.drift_baseline is not None and not checks.drift_edges:
        raise ValueError(
            "AggregateChecks.drift_baseline is set but drift_edges is "
            "empty — the frozen bucket edges are required to compare "
            "against the checkpointed baseline")

    # every check's violations with their count, known on the driver
    parts: list[agg.CheckViolations] = []
    if unique_key:
        uniq = agg.uniqueness_check(df, unique_key)
        # sequence(2, occ) emits occ - 1 rows per duplicated key
        parts.append(agg.CheckViolations(
            uniq.violations, uniq.screen_total - uniq.screen_distinct))

    # ONE fused scan for null-rate + drift + referential-miss-count.
    null_rate_max = checks.null_rate_max or {}
    drift_by = (checks.null_rate_by
                if checks.drift_by == "__same_as_null_rate_by__"
                else checks.drift_by)
    # scaled referential keeps the dim OUT of the fused pass (the fused
    # ref-miss count broadcasts the dim, which ref_scaled says it cannot)
    fused_dim = None if checks.ref_scaled else checks.sources_dim
    stat_bounds = checks.stat_bounds or {}
    need_fused = (bool(null_rate_max) or bool(stat_bounds)
                  or fused_dim is not None
                  or checks.drift_baseline is not None)
    drift_results = []
    if checks.sources_dim is not None and checks.ref_scaled:
        parts.append(agg.referential_check_scaled(
            df, checks.sources_dim, checks.ref_column,
            id_column=suite.id_column))
    if need_fused:
        fused = agg.fused_aggregate_pass(
            df,
            null_rate_cols=list(null_rate_max),
            null_rate_by=checks.null_rate_by,
            dim=fused_dim,
            ref_column=checks.ref_column,
            drift_column=(checks.drift_column
                          if checks.drift_baseline is not None else None),
            edges=list(checks.drift_edges),
            drift_by=drift_by,
            drift_is_array=checks.drift_is_array,
            stat_bound_cols=list(stat_bounds),
        )
        n_ref_missing = (fused.ref_missing_total()
                         if fused_dim is not None else 0)
        if n_ref_missing > 0:
            # dirty path only: a targeted anti-join lists the offending
            # rows; the clean path never takes this scan
            parts.append(agg.CheckViolations(agg.referential_check(
                df, checks.sources_dim, checks.ref_column,
                id_column=suite.id_column), n_ref_missing))
        if null_rate_max:
            parts.append(agg.null_rate_violations_from_stats(
                spark, fused, null_rate_max))
        if stat_bounds:
            parts.append(agg.stat_bound_violations_from_stats(
                spark, fused, stat_bounds))
        if checks.drift_baseline is not None:
            n = len(checks.drift_edges) - 1
            drift_results = agg.drift_from_counts(
                fused.drift_counts(),
                agg.hist_rows_to_map(checks.drift_baseline.collect()),
                n, checks.drift_column,
                checks.psi_threshold, checks.ks_threshold)
            parts.append(agg.drift_violations(
                spark, drift_results, checks.psi_threshold,
                checks.ks_threshold))

    stacked = _empty_violations_df(spark)
    for p in parts:
        stacked = stacked.unionByName(p.violations.select(*VIOLATION_COLS))
    return FullValidationResult(row_res, stacked,
                                sum(p.n_rows for p in parts), drift_results)
