"""Aggregate / statistical checks — SURVEY.md §2.5 (BASELINE.json north_star).

These generalize reference semantics across rows:

* ``uniqueness_check`` ← intra-array ``uniqueItems``
  (``/root/reference/src/v4validator.js:233-246``): same error shape, one
  violation per duplicate *occurrence* carrying the duplicated value.
* ``referential_check`` ← ``enum`` membership
  (``/root/reference/src/v4validator.js:181-190``): same error shape
  (code, offending value, arg = the allowed set/dimension).
* ``column_stats`` / ``null_rate_check`` / drift: no reference counterpart
  (the reference is per-value); mandated by the north rule.

Scale design (the part that must survive 10^12 rows):

* **column_stats** fuses every per-column aggregate into ONE ``agg`` so the
  table is scanned once; partial aggregation makes the shuffle
  O(groups × columns), not O(rows).
* **uniqueness** is an UNCONDITIONAL exact count: one map-side-combined
  ``groupBy`` on the key (partial aggregation folds a hot key to one row
  per map task, so it cannot skew a reducer). An HLL screen cannot certify
  cleanliness — it overestimates ~half the time, hiding duplicates — so the
  screen stats are exact numbers derived from the same aggregation (one
  scan).
* **referential** broadcasts the dimension (it is small by definition) —
  an anti-join with zero shuffle of the fact table.
* **drift** reduces the table to fixed-edge histogram counts (one groupBy
  over ≤ a few hundred buckets); PSI/KS math runs on the collected bucket
  vector, never on rows. Bucket edges are frozen in the checkpoint —
  identical across runs by construction (SURVEY.md §7 hard-part 4).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, functions as F, types as T

from schemasaurus_spark.messages import render_message
from schemasaurus_spark.session import local_frame


# ----------------------------------------------------------------- stats


def column_stats(df: DataFrame, columns: list[str] | None = None,
                 by: str | None = None,
                 quantile_columns: list[str] | None = None) -> DataFrame:
    """One-pass fused per-column stats: count, nulls, null_rate, min, max,
    approx distinct — plus p50/p95/p99 (JVM-side ``percentile_approx``
    sketch) for ``quantile_columns``. Optional grouping key `by`.

    The whole stats suite is ONE job / ONE scan — see module docstring.
    """
    if columns is None:
        # MapType is unorderable (min/max raise); default to everything else
        columns = [f.name for f in df.schema.fields
                   if not isinstance(f.dataType, T.MapType)]
    qcols = set(quantile_columns or [])
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            F.approx_count_distinct(c).alias(f"{c}__approx_distinct"),
        ]
        if c in qcols:
            aggs.append(
                F.percentile_approx(c, [0.5, 0.95, 0.99], 10_000)
                .alias(f"{c}__quantiles"))
    g = df.groupBy(F.col(by).alias("group_key")) if by else df.groupBy(F.lit("*").alias("group_key"))
    wide = g.agg(*aggs)
    # unpivot to long form (group_key, column, stat rows) for the metrics table
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__nulls").cast("long").alias("n_nulls"),
            (F.col(f"{c}__nulls") / F.col("n_rows")).alias("null_rate"),
            F.col(f"{c}__min").cast("string").alias("min"),
            F.col(f"{c}__max").cast("string").alias("max"),
            F.col(f"{c}__approx_distinct").cast("long").alias("approx_distinct"),
            (F.col(f"{c}__quantiles").cast("array<double>") if c in qcols
             else F.lit(None).cast("array<double>")).alias("p50_p95_p99"),
        )
        for c in columns
    ]
    return wide.select(
        "group_key", "n_rows", F.explode(F.array(*structs)).alias("s")
    ).select("group_key", "n_rows", "s.*")


def null_rate_check(df: DataFrame, column: str, max_rate: float,
                    by: str | None = None) -> DataFrame:
    """`stats.null_rate` violations — one row per offending group."""
    stats = column_stats(df, [column], by=by)
    msg = render_message("stats.null_rate", max_rate)
    return (
        stats.where(F.col("null_rate") > max_rate)
        .select(
            F.col("group_key").alias("doc_id"),
            F.lit("stats.null_rate").alias("constraint_id"),
            F.lit(column).alias("column"),
            F.round("null_rate", 6).cast("string").alias("value"),
            F.lit(str(max_rate)).alias("arg"),
            F.lit(msg).alias("message"),
        )
    )


@dataclass
class CheckViolations:
    """A check's violation frame plus its row count, which the driver
    knows when it builds the frame — consumers count without running it."""

    violations: DataFrame
    n_rows: int


# ---------------------------------------------------------- fused one-pass


@dataclass
class FusedAggStats:
    """Collected output of :func:`fused_aggregate_pass` — everything the
    null-rate, drift, and referential check families need, reduced to
    (groups × columns)-sized driver-side data by ONE scan of the input."""

    # rows of (group_key, drift_key, n_rows, {col}__nulls..., __hb_*...,
    # __ref_miss) — group cardinality sized, never data sized
    rows: list
    null_rate_cols: list[str]
    # n = len(edges) - 1 (buckets -1..n); None = drift not configured
    # (0 is a LEGITIMATE value for a one-edge histogram)
    n_hist_buckets: int | None
    has_ref: bool
    stat_bound_cols: list[str] = None  # type: ignore[assignment]

    def null_stats(self) -> dict:
        """group_key -> (n_rows, {col: n_nulls}) summed across drift keys."""
        out: dict = {}
        for r in self.rows:
            gk = r["group_key"]
            n, nulls = out.get(gk, (0, {c: 0 for c in self.null_rate_cols}))
            n += r["n_rows"]
            for c in self.null_rate_cols:
                nulls[c] += r[f"{c}__nulls"] or 0
            out[gk] = (n, nulls)
        return out

    def drift_counts(self) -> dict:
        """drift_key -> {bucket: count} summed across null-rate keys —
        identical to collecting histogram(): zero buckets dropped, and a
        group whose drift column is entirely NULL yields no entry (the
        groupBy-after-filter shape never saw it)."""
        if self.n_hist_buckets is None:
            return {}
        out: dict = {}
        for r in self.rows:
            dk = r["__drift_key"]
            m = out.setdefault(dk, {})
            for b in range(-1, self.n_hist_buckets + 1):
                c = r[f"__hb_{b + 1}"] or 0
                if c:
                    m[b] = m.get(b, 0) + c
        return {dk: m for dk, m in out.items() if m}

    def ref_missing_total(self) -> int:
        return sum(r["__ref_miss"] or 0 for r in self.rows)

    def stat_stats(self) -> dict:
        """group_key -> {col: (n_non_null, sum, min, max)} merged across
        drift keys — sum/count add, min/max fold (all decomposable, so the
        fused map-side partials stay exact)."""
        out: dict = {}
        for r in self.rows:
            gk = r["group_key"]
            per = out.setdefault(gk, {})
            for c in self.stat_bound_cols or []:
                n0, s0, mn0, mx0 = per.get(c, (0, 0.0, None, None))
                n = n0 + (r[f"{c}__sb_n"] or 0)
                s = s0 + (r[f"{c}__sb_sum"] or 0.0)
                mn, mx = r[f"{c}__sb_min"], r[f"{c}__sb_max"]
                mn = mn0 if mn is None else (mn if mn0 is None else min(mn0, mn))
                mx = mx0 if mx is None else (mx if mx0 is None else max(mx0, mx))
                per[c] = (n, s, mn, mx)
        return out


def fused_aggregate_pass(
    df: DataFrame,
    null_rate_cols: Sequence[str] = (),
    null_rate_by: str | None = None,
    dim: DataFrame | None = None,
    ref_column: str = "source",
    dim_column: str | None = None,
    drift_column: str | None = None,
    edges: Sequence[float] = (),
    drift_by: str | None = None,
    drift_is_array: bool = False,
    stat_bound_cols: Sequence[str] = (),
) -> FusedAggStats:
    """ONE scan for the whole statistical check suite (SURVEY §4 "one-pass
    stats over the 10^12-row table"; round-3 VERDICT #1).

    Fuses into a single grouped aggregation:

    * null counts for EVERY null-rate column (was one scan per column),
    * the fixed-edge drift histogram as conditional partial counts
      (``sum(when(bucket==i, 1))`` — identical counts to :func:`histogram`),
    * the referential miss COUNT via a broadcast LEFT join marker (zero
      fact-table shuffle; row-level offender extraction stays a separate
      lazy anti-join that only ever executes when this count is non-zero).

    Grouping: the agg groups on BOTH keys at once (null_rate_by ×
    drift_by); the per-family marginals are summed driver-side from the
    collected partials. Cross-cardinality is (sources × sources)-sized —
    group keys are low-cardinality dimensions by construction, so the
    collect stays sketch-sized at any input scale.

    Returns collected driver-side stats; violation frames are built from
    them with ``createDataFrame`` (LocalTableScan — no second scan).
    """
    n = max(len(edges) - 1, 0)
    work = df
    if dim is not None:
        dcol = dim_column or ref_column
        dim_small = (dim.select(F.col(dcol).alias(ref_column)).distinct()
                     .withColumn("__ref_hit", F.lit(1)))
        work = work.join(F.broadcast(dim_small), on=ref_column, how="left")
    # the null-rate grouping key applies only when null-rate checks are
    # configured: grouping a drift-only/ref-only run by the default
    # 'source' crashed tables without that column (round-4 review)
    gk1 = (F.col(null_rate_by)
           if (null_rate_by and (null_rate_cols or stat_bound_cols))
           else F.lit("*"))
    gk2 = (F.col(drift_by) if (drift_column and drift_by) else F.lit("*"))
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_rate_cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long"))
                    .alias(f"{c}__nulls"))
    check_stat_bounds(dict.fromkeys(stat_bound_cols, ()), df.schema)
    for c in stat_bound_cols:
        # Deequ-style stat bounds ride the SAME fused scan: count/sum/
        # min/max are all decomposable (map-side combined) and nulls are
        # skipped natively by the aggregate functions.
        x = F.col(c).cast("double")
        aggs += [F.count(x).alias(f"{c}__sb_n"),
                 F.sum(x).alias(f"{c}__sb_sum"),
                 F.min(x).alias(f"{c}__sb_min"),
                 F.max(x).alias(f"{c}__sb_max")]
    if drift_column and edges:
        if drift_is_array:
            # token-id drift: per-bucket partial counts over array ELEMENTS
            # via the SAME bucket builder array_histogram uses — no explode
            # (null arrays contribute null → skipped by sum, matching the
            # standalone where(isNotNull) filter)
            for b, expr in array_element_bucket_counts(
                    F.col(drift_column), edges):
                aggs.append(F.sum(expr).cast("long")
                            .alias(f"__hb_{b + 1}"))
        else:
            x = F.col(drift_column).cast("double")
            conds = [x < edges[0]]
            conds += [(x >= edges[i]) & (x < edges[i + 1])
                      for i in range(n)]
            conds.append(x >= edges[n])
            for b, cond in zip(range(-1, n + 1), conds):
                aggs.append(
                    F.sum(F.when(x.isNotNull() & cond, F.lit(1))
                          .otherwise(0))
                    .cast("long").alias(f"__hb_{b + 1}"))
    if dim is not None:
        aggs.append(F.sum((F.col(ref_column).isNotNull()
                           & F.col("__ref_hit").isNull()).cast("long"))
                    .alias("__ref_miss"))
    else:
        aggs.append(F.lit(0).cast("long").alias("__ref_miss"))
    rows = (work.groupBy(gk1.alias("group_key"), gk2.alias("__drift_key"))
            .agg(*aggs).collect())
    return FusedAggStats(rows, list(null_rate_cols),
                         n if (drift_column and edges) else None,
                         dim is not None, list(stat_bound_cols))


def null_rate_violations_from_stats(spark, fused: FusedAggStats,
                                    null_rate_max: dict[str, float]
                                    ) -> CheckViolations:
    """Driver-built `stats.null_rate` violations from the fused pass —
    LocalTableScan only. Value formatting goes through the SAME Spark
    expressions as :func:`null_rate_check` (round → cast string on a
    double column) so the output is byte-identical to the per-column-scan
    path."""
    offender_rows = []
    for gk, (n_rows, nulls) in fused.null_stats().items():
        for c, max_rate in null_rate_max.items():
            rate = (nulls[c] / n_rows) if n_rows else 0.0
            if rate > max_rate:
                offender_rows.append(
                    (None if gk is None else str(gk), c, float(rate),
                     str(max_rate),
                     render_message("stats.null_rate", max_rate)))
    tiny = local_frame(
        spark, offender_rows,
        "group_key string, column string, null_rate double, "
        "arg string, message string")
    return CheckViolations(tiny.select(
        F.col("group_key").alias("doc_id"),
        F.lit("stats.null_rate").alias("constraint_id"),
        F.col("column"),
        F.round("null_rate", 6).cast("string").alias("value"),
        "arg", "message",
    ), len(offender_rows))


# the spec keys of one stat_bounds column: per-group mean bounds and hard
# bounds on the group's observed min/max
STAT_BOUND_KEYS = frozenset({"min_mean", "max_mean", "min_value", "max_value"})


def check_stat_bounds(stat_bounds: dict, schema: T.StructType | None = None
                      ) -> None:
    """Refuse a stat_bounds config before any scan: an unknown spec key,
    and, given the table's ``schema``, a missing or non-numeric column.
    cast("double") on a string column yields all-NULL stats and the check
    silently passes forever (the worst failure mode for a validator)."""
    for c, spec in stat_bounds.items():
        bad = set(spec) - STAT_BOUND_KEYS
        if bad:
            raise ValueError(
                f"unknown stat_bounds keys {sorted(bad)} for column {c!r}; "
                f"known: {sorted(STAT_BOUND_KEYS)}")
        if schema is None:
            continue
        if c not in schema.names:
            raise ValueError(
                f"stat_bounds column {c!r} is not a column of the table "
                f"({sorted(schema.names)})")
        dt = schema[c].dataType
        if not isinstance(dt, T.NumericType):
            raise ValueError(
                f"stat_bounds column {c!r} has non-numeric type "
                f"{dt.simpleString()} — mean/min/max bounds need a "
                f"numeric column")


def stat_bound_violations_from_stats(spark, fused: FusedAggStats,
                                     stat_bounds: dict) -> CheckViolations:
    """Driver-built Deequ-style aggregate assertions from the fused pass
    (LocalTableScan only — no second scan). ``stat_bounds`` maps column ->
    spec with any of ``min_mean`` / ``max_mean`` (per-group mean bounds;
    code ``stats.mean_bound``) and ``min_value`` / ``max_value`` (hard
    bounds on the group's observed min/max; code ``stats.value_bound``).
    A group whose column is entirely NULL has no mean and no observed
    min/max — it emits nothing (null PRESENCE belongs to null_rate/
    NotNull, the engine-wide convention)."""
    check_stat_bounds(stat_bounds)
    rows = []

    def _emit(gk, code, c, observed, kind, bound):
        arg = f"{kind}={bound}"
        rows.append((None if gk is None else str(gk), code, c,
                     float(observed), arg, render_message(code, arg)))

    for gk, per in fused.stat_stats().items():
        for c, spec in stat_bounds.items():
            n, s, mn, mx = per.get(c, (0, 0.0, None, None))
            if n > 0:
                mean = s / n
                if "min_mean" in spec and mean < spec["min_mean"]:
                    _emit(gk, "stats.mean_bound", c, mean,
                          "min_mean", spec["min_mean"])
                if "max_mean" in spec and mean > spec["max_mean"]:
                    _emit(gk, "stats.mean_bound", c, mean,
                          "max_mean", spec["max_mean"])
            if mn is not None and "min_value" in spec and mn < spec["min_value"]:
                _emit(gk, "stats.value_bound", c, mn,
                      "min_value", spec["min_value"])
            if mx is not None and "max_value" in spec and mx > spec["max_value"]:
                _emit(gk, "stats.value_bound", c, mx,
                      "max_value", spec["max_value"])
    tiny = local_frame(
        spark, rows, "group_key string, constraint_id string, column string, "
                     "observed double, arg string, message string")
    return CheckViolations(tiny.select(
        F.col("group_key").alias("doc_id"),
        "constraint_id", "column",
        F.round("observed", 6).cast("string").alias("value"),
        "arg", "message",
    ), len(rows))


# ------------------------------------------------------------- uniqueness


@dataclass
class UniquenessResult:
    screen_total: int
    screen_distinct: int
    screened_clean: bool
    violations: DataFrame  # empty if screened_clean


def uniqueness_check(
    df: DataFrame,
    key: str | Sequence[str] = "doc_id",
) -> UniquenessResult:
    """Cross-row uniqueness — exact groupBy on the key, ALWAYS run
    (north_star). Emits one violation per duplicate occurrence beyond the
    first, carrying the duplicated value — the cross-row generalization of
    uniqueItems (v4validator.js:233-246).

    An HLL screen CANNOT certify cleanliness: ``approx_count_distinct``
    overestimates ~half the time, so ``distinct >= total`` silently hides
    real duplicates (round-1 ADVICE, confirmed empirically at 1k-500k rows).
    The exact pass is therefore unconditional; ``screen_total`` /
    ``screen_distinct`` / ``screened_clean`` are the EXACT numbers,
    computed from one aggregation: one scan and one map-side-combined
    shuffle of per-key partial counts. The violations frame is lazy: on a
    dirty table, collecting it runs that aggregation again.

    A hot key cannot skew a reducer: partial aggregation folds it to one
    row per map task before the exchange, so the reducer that owns it
    merges at most one partial per task and no salt level is needed.

    ``key`` may be a single column or a list (composite key): the
    aggregation then groups on all key columns, and violation rows carry
    the components joined with '|'.
    """
    keys = [key] if isinstance(key, str) else list(key)
    spark = df.sparkSession

    # NULL keys are excluded (SQL UNIQUE semantics: NULL != NULL — for a
    # composite key, any NULL component); NULL presence belongs to
    # NotNull / null_rate_check.
    not_null = F.lit(True)
    for kc in keys:
        not_null = not_null & F.col(kc).isNotNull()
    # group on the ACTUAL key columns — concat_ws('|') grouping would
    # collide distinct composite keys whose values contain '|'
    # (('x|y','z') vs ('x','y|z')); the joined form is display-only below
    per_key = (df.where(not_null).groupBy(*keys)
               .agg(F.count(F.lit(1)).alias("occurrences")))

    # Exact screen stats from the per-key aggregation.
    screen = per_key.agg(
        F.coalesce(F.sum("occurrences"), F.lit(0)).alias("total"),
        F.count(F.lit(1)).alias("distinct"),
        F.coalesce(F.max("occurrences"), F.lit(0)).alias("max_occ"),
    ).first()
    total, distinct = int(screen["total"]), int(screen["distinct"])
    clean = int(screen["max_occ"]) <= 1

    if clean:
        empty = local_frame(
            spark, [],
            "doc_id string, constraint_id string, column string, value string, arg string, message string",
        )
        return UniquenessResult(total, distinct, True, empty)

    dup_keys = per_key.where(F.col("occurrences") > 1)
    k_display = F.concat_ws("|", *[F.col(kc).cast("string") for kc in keys])
    msg = render_message("unique.doc_id")
    # Suspect set is small → broadcast it back; one violation per extra
    # occurrence = (occurrences - 1) rows per key via sequence+explode (no
    # window over the full table).
    violations = (
        dup_keys.select(
            k_display.alias("k"),
            F.explode(F.sequence(F.lit(2), F.col("occurrences"))).alias("occ"),
        )
        .select(
            F.col("k").cast("string").alias("doc_id"),
            F.lit("unique.doc_id").alias("constraint_id"),
            F.lit("|".join(keys)).alias("column"),
            F.col("k").cast("string").alias("value"),
            F.col("occ").cast("string").alias("arg"),
            F.lit(msg).alias("message"),
        )
    )
    return UniquenessResult(total, distinct, False, violations)


def salted_agg(df: DataFrame, key: str, aggs: list, salt_buckets: int = 64,
               salt_threshold_rows: int | None = None) -> DataFrame:
    """General two-phase salted aggregation for skewed keys (north rule:
    "skew from long-tail sources handled with key salting").

    Phase 1 groups on (key, salt) so a hot key (e.g. source='web' at ~70%)
    spreads over `salt_buckets` reducers; phase 2 merges the tiny partials.
    Supported aggs: ('count',), ('sum', col), ('min', col), ('max', col) —
    the decomposable ones. Non-decomposable aggs belong in plain groupBy
    with AQE skew handling.
    """
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    phase1_exprs, phase2_exprs = [], []
    for i, a in enumerate(aggs):
        name = f"__a{i}"
        if a[0] == "count":
            phase1_exprs.append(F.count(F.lit(1)).alias(name))
            phase2_exprs.append(F.sum(name).alias(a[1] if len(a) > 1 else "count"))
        elif a[0] == "sum":
            phase1_exprs.append(F.sum(a[1]).alias(name))
            phase2_exprs.append(F.sum(name).alias(f"sum_{a[1]}"))
        elif a[0] == "min":
            phase1_exprs.append(F.min(a[1]).alias(name))
            phase2_exprs.append(F.min(name).alias(f"min_{a[1]}"))
        elif a[0] == "max":
            phase1_exprs.append(F.max(a[1]).alias(name))
            phase2_exprs.append(F.max(name).alias(f"max_{a[1]}"))
        else:
            raise ValueError(f"non-decomposable agg {a!r}")
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(key, "__salt")
        .agg(*phase1_exprs)
    )
    return partial.groupBy(key).agg(*phase2_exprs)


# ------------------------------------------------------------- referential


def referential_check(
    df: DataFrame,
    dim: DataFrame,
    column: str = "source",
    dim_column: str | None = None,
    id_column: str = "doc_id",
) -> DataFrame:
    """Broadcast ANTI join against the dimension — the cross-table
    generalization of `enum` (v4validator.js:181-190): error shape keeps
    (code, offending value, arg = dimension name/size)."""
    dim_column = dim_column or column
    dim_small = dim.select(F.col(dim_column).alias(column)).distinct()
    # NULL fact keys skip the check (the engine-wide optional-null
    # convention; NULL presence belongs to NotNull / null_rate_check) —
    # a null join key never matches and would otherwise always violate
    missing = df.where(F.col(column).isNotNull()).join(
        F.broadcast(dim_small), on=column, how="left_anti")
    msg = render_message("ref.source")
    return missing.select(
        F.col(id_column).cast("string").alias("doc_id"),
        F.lit(f"ref.{column}").alias("constraint_id"),
        F.lit(column).alias("column"),
        F.col(column).cast("string").alias("value"),
        F.lit(f"dim({dim_column})").alias("arg"),
        F.lit(msg).alias("message"),
    )


def referential_check_scaled(
    df: DataFrame,
    dim: DataFrame,
    column: str = "source",
    dim_column: str | None = None,
    id_column: str = "doc_id",
    max_missing_keys: int = 100_000,
) -> CheckViolations:
    """Exact referential check for dimensions too LARGE to broadcast —
    a doc-id-like FK whose dimension is another 10^12-row table's key
    column. Same error shape/code as :func:`referential_check`
    (``enum`` membership generalized, v4validator.js:181-190), different
    physical shape — full fact ROWS are never shuffled or broadcast:

    1. distinct fact keys via map-side-combined ``groupBy`` (shuffle
       volume = distinct keys, not rows);
    2. key-only SHUFFLE_MERGE anti join against the dim's distinct keys
       (hinted: planner statistics must not flip this to a broadcast the
       real dim could not survive);
    3. the missing-key set — tiny for healthy data — broadcasts BACK onto
       the fact table (semi join, zero fact exchange) to attribute
       per-row violations. Like ``uniqueness_check``, the screen count
       and the violations collection are actions on one plan instance, so
       the completed phase-1/2 shuffle stages are reused, not re-scanned.

    Returns the violations with the screen's row count (``n_rows``), so
    a caller that only needs the count never runs phase 3.

    ``max_missing_keys`` guards phase 3: a missing-key set beyond it
    means the wrong dimension was wired up (systematic breakage) and
    broadcasting it back would be its own outage — raise loudly instead
    of attempting per-row attribution.
    """
    dim_column = dim_column or column
    # NULL fact keys skip the check (engine-wide optional-null convention)
    facts = df.where(F.col(column).isNotNull())
    fact_keys = facts.groupBy(column).agg(F.count(F.lit(1)).alias("__n"))
    dim_keys = (dim.where(F.col(dim_column).isNotNull())
                   .select(F.col(dim_column).alias(column)).distinct())
    missing = fact_keys.join(dim_keys.hint("shuffle_merge"),
                             on=column, how="left_anti")
    screen = missing.agg(
        F.count(F.lit(1)).alias("k"),
        F.coalesce(F.sum("__n"), F.lit(0)).alias("rows"),
    ).first()
    n_missing_keys, n_rows = int(screen["k"]), int(screen["rows"])
    if n_missing_keys > max_missing_keys:
        raise ValueError(
            f"referential_check_scaled: {n_missing_keys} distinct "
            f"{column!r} keys ({n_rows} rows) are missing from "
            f"dim({dim_column}) — above max_missing_keys={max_missing_keys}. "
            f"This is systematic (wrong dimension table?); refusing to "
            f"broadcast the missing-key set back for per-row attribution.")
    msg = render_message("ref.source")
    shape = (f"doc_id string, constraint_id string, column string, "
             f"value string, arg string, message string")
    if n_missing_keys == 0:
        return CheckViolations(local_frame(df.sparkSession, [], shape), 0)
    rows = facts.join(F.broadcast(missing.select(column)),
                      on=column, how="left_semi")
    return CheckViolations(rows.select(
        F.col(id_column).cast("string").alias("doc_id"),
        F.lit(f"ref.{column}").alias("constraint_id"),
        F.lit(column).alias("column"),
        F.col(column).cast("string").alias("value"),
        F.lit(f"dim({dim_column})").alias("arg"),
        F.lit(msg).alias("message"),
    ), n_rows)


# ------------------------------------------------------------------ drift


def histogram(df: DataFrame, column: str, edges: list[float],
              by: str | None = None) -> DataFrame:
    """Fixed-edge histogram counts: (group_key, bucket, count). Edges are
    data-INdependent (frozen in the checkpoint) so histograms are comparable
    across runs. One groupBy over ≤ len(edges) buckets."""
    n = len(edges) - 1
    x = F.col(column).cast("double")
    # chained whens over the (few) edges — codegen'd branch ladder; bucket i
    # covers [edges[i], edges[i+1]); -1 = underflow, n = overflow.
    bucket = F.when(x < edges[0], F.lit(-1))
    for i in range(n):
        bucket = bucket.when(x < edges[i + 1], F.lit(i))
    bucket = bucket.otherwise(F.lit(n))
    keys = [F.col(by).alias("group_key")] if by else [F.lit("*").alias("group_key")]
    return (
        df.where(x.isNotNull())
        .groupBy(*keys, bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def array_element_bucket_counts(col, edges: Sequence[float]):
    """Per-bucket element-count expressions over an ARRAY column — the ONE
    definition of the element bucket scheme (-1 = underflow, i =
    [edges[i], edges[i+1]), n = overflow), shared by
    :func:`array_histogram` and the fused pass so their boundaries can
    never diverge. Returns [(bucket, size(filter(...)))] in bucket order."""
    n = len(edges) - 1

    def count(lo, hi):
        if lo is None:
            return F.size(F.filter(col, lambda x: x < hi))
        if hi is None:
            return F.size(F.filter(col, lambda x: x >= lo))
        return F.size(F.filter(col, lambda x: (x >= lo) & (x < hi)))

    out = [(-1, count(None, edges[0]))]
    out += [(i, count(edges[i], edges[i + 1])) for i in range(n)]
    out.append((n, count(edges[n], None)))
    return out


def array_histogram(df: DataFrame, array_col: str, edges: list[float],
                    by: str | None = None) -> DataFrame:
    """Fixed-edge histogram over the ELEMENTS of an array column (the
    token-id histogram of the north star) WITHOUT exploding: each row
    contributes per-bucket partial counts via `size(filter(...))`, and a
    single agg sums them — so a 10^12-row table never shuffles 10^14
    elements, only (groups × buckets) partial sums."""
    n = len(edges) - 1
    col = F.col(array_col)

    # same bucket scheme as the scalar histogram(): -1 = underflow,
    # i = [edges[i], edges[i+1]), n = overflow (x >= edges[-1]). Without
    # the -1/n buckets, out-of-range elements silently VANISH from the
    # counts and drift_check stays blind to range shifts the scalar path
    # would flag via its overflow bucket.
    counts = array_element_bucket_counts(col, edges)
    names = {-1: "b_under", n: "b_over"}
    aggs = [F.sum(expr).alias(names.get(b, f"b{b}"))
            for b, expr in counts]
    keys = [F.col(by).alias("group_key")] if by else [F.lit("*").alias("group_key")]
    wide = df.where(col.isNotNull()).groupBy(*keys).agg(*aggs)
    structs = [F.struct(F.lit(-1).alias("bucket"),
                        F.col("b_under").cast("long").alias("count"))]
    structs += [
        F.struct(F.lit(i).alias("bucket"),
                 F.col(f"b{i}").cast("long").alias("count"))
        for i in range(n)
    ]
    structs.append(F.struct(F.lit(n).alias("bucket"),
                            F.col("b_over").cast("long").alias("count")))
    return (wide.select(
        "group_key", F.explode(F.array(*structs)).alias("s")
    ).select("group_key", "s.bucket", "s.count")
        .where(F.col("count") > 0))


def _counts_to_probs(counts: dict[int, int], n_buckets: int, eps: float = 1e-6):
    total = sum(counts.values()) or 1
    # include under/overflow buckets -1 and n
    out = []
    for b in range(-1, n_buckets + 1):
        out.append(max(counts.get(b, 0) / total, eps))
    s = sum(out)
    return [p / s for p in out]


def psi(expected: dict[int, int], actual: dict[int, int], n_buckets: int) -> float:
    """Population Stability Index over aligned fixed-edge buckets."""
    p = _counts_to_probs(expected, n_buckets)
    q = _counts_to_probs(actual, n_buckets)
    return float(sum((qi - pi) * math.log(qi / pi) for pi, qi in zip(p, q)))


def ks_statistic(expected: dict[int, int], actual: dict[int, int], n_buckets: int) -> float:
    """Kolmogorov–Smirnov statistic on the bucketized CDFs."""
    p = _counts_to_probs(expected, n_buckets)
    q = _counts_to_probs(actual, n_buckets)
    cp = cq = 0.0
    worst = 0.0
    for pi, qi in zip(p, q):
        cp += pi
        cq += qi
        worst = max(worst, abs(cp - cq))
    return float(worst)


@dataclass
class DriftResult:
    metric: str
    group_key: str
    psi: float
    ks: float
    passed: bool


def drift_check(
    df: DataFrame,
    baseline_hist: DataFrame,
    column: str,
    edges: list[float],
    by: str | None = None,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.15,
    is_array: bool = False,
) -> list[DriftResult]:
    """PSI + KS of `column`'s distribution vs a checkpointed baseline
    histogram (same fixed edges). `is_array=True` switches to the
    element-level histogram (token-id drift). Row data never leaves the
    cluster — only bucket counts (≤ groups × buckets rows) are collected
    for the math."""
    n = len(edges) - 1
    hist_fn = array_histogram if is_array else histogram
    cur = hist_fn(df, column, edges, by=by).collect()
    return drift_from_counts(hist_rows_to_map(cur),
                             hist_rows_to_map(baseline_hist.collect()),
                             n, column, psi_threshold, ks_threshold)


def hist_rows_to_map(rows) -> dict:
    """(group_key, bucket, count) rows → {group_key: {bucket: count}}."""
    m: dict[str, dict[int, int]] = {}
    for r in rows:
        m.setdefault(r["group_key"], {})[r["bucket"]] = r["count"]
    return m


def drift_from_counts(curm: dict, basem: dict, n_buckets: int, column: str,
                      psi_threshold: float, ks_threshold: float
                      ) -> list[DriftResult]:
    """PSI/KS math over already-collected bucket-count maps — shared by
    the standalone :func:`drift_check` and the fused one-scan engine path."""
    results = []
    for gk in sorted(set(curm) | set(basem),
                     key=lambda g: (g is None, str(g))):
        e, a = basem.get(gk, {}), curm.get(gk, {})
        p = psi(e, a, n_buckets)
        k = ks_statistic(e, a, n_buckets)
        results.append(DriftResult(column, gk, p, k,
                                   p <= psi_threshold and k <= ks_threshold))
    return results


def drift_violations(spark, results: list[DriftResult], psi_threshold: float,
                     ks_threshold: float) -> CheckViolations:
    rows = []
    for r in results:
        if r.psi > psi_threshold:
            rows.append((r.group_key, f"drift.psi.{r.metric}", r.metric,
                         f"{r.psi:.6f}", str(psi_threshold),
                         render_message("drift.psi", psi_threshold)))
        if r.ks > ks_threshold:
            rows.append((r.group_key, f"drift.ks.{r.metric}", r.metric,
                         f"{r.ks:.6f}", str(ks_threshold),
                         render_message("drift.ks", ks_threshold)))
    return CheckViolations(local_frame(
        spark, rows,
        "doc_id string, constraint_id string, column string, value string, arg string, message string",
    ), len(rows))


# ------------------------------------------------- embedding drift


@dataclass
class EmbeddingDriftResult:
    metric: str
    group_key: str
    cosine_dist: float
    l2_shift: float
    n: int
    passed: bool


def embedding_centroids(df: DataFrame, column: str,
                        by: str | None = None) -> DataFrame:
    """Per-group mean vector of an ``array<numeric>`` embedding column, in
    long form ``(group_key, pos, mean, n)`` — the checkpointable baseline
    for :func:`embedding_drift_check`.

    Scale shape: ``posexplode`` → ``groupBy(group, pos)`` with ``avg`` —
    hash aggregation does MAP-SIDE partial sums, so the exchange moves at
    most tasks × groups × dim partial rows, never the exploded data; the
    result is groups × dim rows (sketch-sized, like the histogram family).
    NULL embeddings contribute nothing (posexplode of NULL emits no rows);
    ragged vectors simply have lower ``n`` at their missing tail
    positions."""
    g = (F.col(by).alias("group_key") if by
         else F.lit("*").alias("group_key"))
    ex = df.select(g, F.posexplode(F.col(column)).alias("pos", "v"))
    return (ex.groupBy("group_key", "pos")
              .agg(F.avg("v").alias("mean"),
                   F.count(F.lit(1)).alias("n")))


def _centroid_map(rows) -> dict:
    m: dict = {}
    for r in rows:
        m.setdefault(r["group_key"], {})[r["pos"]] = (r["mean"], r["n"])
    return m


def embedding_drift_check(df: DataFrame, baseline_centroids: DataFrame,
                          column: str, by: str | None = None,
                          cosine_threshold: float = 0.02,
                          l2_threshold: float | None = None,
                          current_centroids: DataFrame | None = None
                          ) -> list[EmbeddingDriftResult]:
    """Centroid drift of an embedding column vs a checkpointed baseline:
    per group, cosine distance and L2 shift between the current mean
    vector and the baseline's. The scalar/token-id drift family (PSI/KS)
    cannot see a rotation or translation in embedding space that keeps
    marginal histograms similar — the centroid catches translation
    directly and is the standard first-order monitor for "did the
    embedding model or the upstream corpus change".

    Only groups × dim centroid rows are ever collected. A group missing
    from either side fails (same contract as PSI against an empty
    baseline bucket: novel/vanished groups ARE drift). Zero-norm pairs:
    both zero → distance 0; one zero → distance 1."""
    import math

    if current_centroids is None:
        current_centroids = embedding_centroids(df, column, by=by)
    cur = _centroid_map(current_centroids.collect())
    base = _centroid_map(baseline_centroids.collect())
    results = []
    for gk in sorted(set(cur) | set(base), key=lambda g: (g is None, str(g))):
        a, b = cur.get(gk), base.get(gk)
        if a is None or b is None:
            results.append(EmbeddingDriftResult(
                column, gk, 1.0, float("inf"),
                0 if a is None else max(x[1] for x in a.values()), False))
            continue
        dim = max(max(a), max(b)) + 1
        va = [a.get(i, (0.0, 0))[0] for i in range(dim)]
        vb = [b.get(i, (0.0, 0))[0] for i in range(dim)]
        dot = sum(x * y for x, y in zip(va, vb))
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(x * x for x in vb))
        if na == 0.0 and nb == 0.0:
            cos_d = 0.0
        elif na == 0.0 or nb == 0.0:
            cos_d = 1.0
        else:
            cos_d = max(0.0, 1.0 - dot / (na * nb))
        l2 = math.sqrt(sum((x - y) ** 2 for x, y in zip(va, vb)))
        ok = cos_d <= cosine_threshold
        if l2_threshold is not None:
            ok = ok and l2 <= l2_threshold
        results.append(EmbeddingDriftResult(
            column, gk, cos_d, l2, max(x[1] for x in a.values()), ok))
    return results
