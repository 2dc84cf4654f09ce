"""Full-engine facade: one call = the complete north-star validation job.

``run_full_validation`` stitches together everything the north rule asks of
one run over a sequences table:

* row-level constraint suite (compiled, single-pass)        → violations
* per-partition pass/fail verdicts                          → verdicts
* doc_id uniqueness (exact map-side-combined groupBy, unconditional)
                                                            → violations
* referential check against the sources dimension           → violations
* per-source null-rate thresholds and stat bounds           → violations
* PSI/KS drift vs a checkpointed baseline histogram         → violations

``aggregate_checks`` is the aggregate half on its own, and the only code
that orchestrates the aggregate family. Its callers: ``run_full_validation``
(the library, the ``full_validation`` registry query, the benchmark's gate)
and the cluster job's ``--aggregate`` (``jobs/validate_job.py``), whose row
validation is the checkpointed, resumable run instead.

A gate op over a small table is bound by per-action latency, not by work:
each Spark action pays its job and stage scheduling in turn. So the
independent actions of one call — the aggregate checks' and, under
``run_full_validation``, the row result's counts aggregate — run at once
on threads that inherit the caller's job group, and the driver assembles
the result after the last one ends.

All violation families share one schema
(doc_id, constraint_id, column, value, arg, message) and stack with
``unionByName`` — the columnar form of the reference's single error list
(``/root/reference/src/v4validator.js:40-52``).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.util import inheritable_thread_target

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

    unique_key: str | Sequence[str] | None = AUTO_UNIQUE_KEY  # list = composite
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
class AggregateResult:
    """What :func:`aggregate_checks` found, per check family. Every field
    but ``agg_violations`` is already on the driver: reading it runs
    nothing."""

    agg_violations: DataFrame  # stacked aggregate-check violations (lazy)
    # rows of agg_violations, counted on the driver from the totals each
    # check already brought back — agg_violations is never run to count it
    n_agg: int
    unique: Optional[agg.UniquenessResult] = None  # None: no unique_key
    ref_missing_rows: Optional[int] = None         # None: no sources_dim
    null_rate: Optional[agg.CheckViolations] = None    # local relation
    stat_bounds: Optional[agg.CheckViolations] = None  # local relation
    drift: list = field(default_factory=list)  # DriftResult; [] = no baseline
    # {group_key: {bucket: count}} of this table, keyed like a baseline
    # histogram — what a caller without a baseline bootstraps one from
    drift_counts: dict = field(default_factory=dict)


@dataclass(kw_only=True)
class FullValidationResult(AggregateResult):
    row: ValidationResult

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


def _resolve(df: DataFrame, checks: AggregateChecks):
    """The (unique_key, drift_by) that ``checks`` resolve to on ``df``.
    Raises ValueError before any Spark job for every column the config
    names that ``df`` lacks: a misconfigured check must be LOUD, never a
    silent skip (a false clean verdict) nor an opaque UNRESOLVED_COLUMN
    from inside a pass that runs after the uniqueness scan."""
    cols = set(df.columns)

    def require(what, names, hint=""):
        missing = [c for c in names if c not in cols]
        if missing:
            raise ValueError(
                f"AggregateChecks.{what} {missing} not column(s) of the "
                f"table ({sorted(cols)}){hint}")

    unique_key = checks.unique_key
    if unique_key == AUTO_UNIQUE_KEY:
        # default behavior: check doc_id when present, skip when absent —
        # only an EXPLICITLY configured missing key is a hard error
        unique_key = "doc_id" if "doc_id" in cols else None
    elif unique_key:
        require("unique_key",
                [unique_key] if isinstance(unique_key, str) else unique_key,
                "; set unique_key=None to opt out of the uniqueness check")
    if checks.ref_scaled and checks.sources_dim is None:
        raise ValueError(
            "AggregateChecks.ref_scaled=True without sources_dim — the "
            "scaled referential check has no dimension to check against")
    if checks.sources_dim is not None:
        require("ref_column", [checks.ref_column])
    require("null_rate_max", checks.null_rate_max or {})
    agg.check_stat_bounds(checks.stat_bounds or {}, df.schema)
    if (checks.null_rate_max or checks.stat_bounds) and checks.null_rate_by:
        require("null_rate_by", [checks.null_rate_by],
                " — set null_rate_by=None for a global (ungrouped) "
                "null-rate/stat-bound check")
    if checks.drift_baseline is not None and not checks.drift_edges:
        raise ValueError(
            "AggregateChecks.drift_baseline is set but drift_edges is "
            "empty — the frozen bucket edges are required to compare "
            "against the checkpointed baseline")
    drift_by = (checks.null_rate_by
                if checks.drift_by == "__same_as_null_rate_by__"
                else checks.drift_by)
    if checks.drift_edges:
        require("drift_column", [checks.drift_column])
        if drift_by:
            require("drift_by", [drift_by],
                    " (an unset drift_by falls back to null_rate_by) — set "
                    "drift_by=None for one global histogram")
    return unique_key, drift_by


def _run_concurrently(spark, actions: list) -> list:
    """Run each zero-argument callable of ``actions`` on its own thread and
    return their results in order. The pool lives for this call only.
    Each thread inherits the caller's job group, description, scheduler
    pool and tags (``inheritable_thread_target``), so its jobs are the
    caller's jobs. The first error, in ``actions`` order, re-raises after
    every action has ended."""
    if not actions:
        return []
    with ThreadPoolExecutor(len(actions)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(a))
                   for a in actions]
        return [f.result() for f in futures]


def aggregate_checks(df: DataFrame, checks: AggregateChecks | None = None,
                     id_column: str = "doc_id") -> AggregateResult:
    """Every aggregate check ``checks`` configures, over ``df``.

    Scan budget (SURVEY §4 "one-pass stats", round-3 VERDICT #1): the
    ENTIRE aggregate family — every null-rate and stat-bound column, the
    drift histogram, and the referential miss count — is ONE fused
    grouped-aggregation scan (``fused_aggregate_pass``); uniqueness is a
    second scan (its grouping key is the row key, not a dimension —
    unfusable by shape). All null-rate, stat-bound and drift violation
    frames are then driver-built LocalTableScans. ``agg_violations`` stays
    lazy: on a CLEAN table consuming it re-reads nothing, but on a DIRTY
    one its uniqueness part re-runs the per-key aggregation and its
    referential part the anti-join (or the scaled semi-join) — both
    re-scan the table to list offending rows. ``n_agg`` never runs it:
    every check's violation count is already on the driver —
    tests/test_scan_budget.py pins the scan budget.

    The Spark actions a config needs — uniqueness, the scaled referential
    screen, the fused pass and the drift baseline's collect — are
    mutually independent, and on a small table each costs mostly fixed
    per-action latency, so they run at once, on a pool that lives for
    this call (:func:`_run_concurrently`); the driver then assembles the
    result from what they brought back. Config errors (:func:`_resolve`)
    still raise before any job.

    The drift histogram rides the fused pass whenever ``drift_edges`` is
    set; PSI/KS are compared only against a ``drift_baseline``. Without
    one, ``drift_counts`` carries this table's histogram to bootstrap
    from. ``id_column`` names the offending rows of a dirty referential
    check."""
    return _aggregate_checks(df, checks or AggregateChecks(), id_column)


def _aggregate_checks(df: DataFrame, checks: AggregateChecks,
                      id_column: str, *also) -> AggregateResult:
    """:func:`aggregate_checks`, with the zero-argument callables ``also``
    run concurrently with the checks' own actions, for their effect."""
    spark = df.sparkSession
    unique_key, drift_by = _resolve(df, checks)
    null_rate_max = checks.null_rate_max or {}
    stat_bounds = checks.stat_bounds or {}
    # scaled referential keeps the dim OUT of the fused pass (the fused
    # ref-miss count broadcasts the dim, which ref_scaled says it cannot)
    fused_dim = None if checks.ref_scaled else checks.sources_dim
    actions = {}
    if unique_key:
        actions["unique"] = lambda: agg.uniqueness_check(df, unique_key)
    if checks.sources_dim is not None and checks.ref_scaled:
        actions["ref_scaled"] = lambda: agg.referential_check_scaled(
            df, checks.sources_dim, checks.ref_column, id_column=id_column)
    if (null_rate_max or stat_bounds or fused_dim is not None
            or checks.drift_edges):
        actions["fused"] = lambda: agg.fused_aggregate_pass(
            df,
            null_rate_cols=list(null_rate_max),
            null_rate_by=checks.null_rate_by,
            dim=fused_dim,
            ref_column=checks.ref_column,
            drift_column=checks.drift_column if checks.drift_edges else None,
            edges=list(checks.drift_edges),
            drift_by=drift_by,
            drift_is_array=checks.drift_is_array,
            stat_bound_cols=list(stat_bounds),
        )
    if checks.drift_baseline is not None:
        actions["baseline"] = checks.drift_baseline.collect
    done = dict(zip(actions, _run_concurrently(
        spark, [*actions.values(), *also])))

    res = AggregateResult(_empty_violations_df(spark), 0)
    # every check's violations with their count, known on the driver
    parts: list[agg.CheckViolations] = []
    if "unique" in done:
        res.unique = done["unique"]
        # sequence(2, occ) emits occ - 1 rows per duplicated key
        parts.append(agg.CheckViolations(
            res.unique.violations,
            res.unique.screen_total - res.unique.screen_distinct))
    if "ref_scaled" in done:
        parts.append(done["ref_scaled"])
        res.ref_missing_rows = parts[-1].n_rows
    if "fused" in done:
        fused = done["fused"]
        if fused_dim is not None:
            res.ref_missing_rows = fused.ref_missing_total()
            if res.ref_missing_rows > 0:
                # dirty path only: a targeted anti-join lists the
                # offending rows; the clean path never takes this scan
                parts.append(agg.CheckViolations(agg.referential_check(
                    df, checks.sources_dim, checks.ref_column,
                    id_column=id_column), res.ref_missing_rows))
        if null_rate_max:
            res.null_rate = agg.null_rate_violations_from_stats(
                spark, fused, null_rate_max)
            parts.append(res.null_rate)
        if stat_bounds:
            res.stat_bounds = agg.stat_bound_violations_from_stats(
                spark, fused, stat_bounds)
            parts.append(res.stat_bounds)
        res.drift_counts = fused.drift_counts()
        if "baseline" in done:
            res.drift = agg.drift_from_counts(
                res.drift_counts, agg.hist_rows_to_map(done["baseline"]),
                len(checks.drift_edges) - 1, checks.drift_column,
                checks.psi_threshold, checks.ks_threshold)
            parts.append(agg.drift_violations(
                spark, res.drift, checks.psi_threshold,
                checks.ks_threshold))
    for p in parts:
        res.agg_violations = res.agg_violations.unionByName(
            p.violations.select(*VIOLATION_COLS))
    res.n_agg = sum(p.n_rows for p in parts)
    return res


def run_full_validation(df: DataFrame, suite: Suite,
                        checks: AggregateChecks | None = None
                        ) -> FullValidationResult:
    """The row-level suite (:func:`validate`) plus
    :func:`aggregate_checks` over the same table. The row result's counts
    aggregate (:meth:`ValidationResult._counts`, behind ``verdicts()``,
    ``metrics()`` and ``is_valid()``) runs here, concurrently with the
    aggregate checks' actions, so reading those surfaces afterwards starts
    no Spark job."""
    row = validate(df, suite)
    return FullValidationResult(row=row, **vars(_aggregate_checks(
        df, checks or AggregateChecks(), suite.id_column, row._counts)))
