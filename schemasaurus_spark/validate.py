"""Run a compiled ValidationPlan — the engine's ``begin``/``end`` lifecycle.

The reference returns ``{valid, errors}`` per value
(``/root/reference/src/v4validator.js:326-331``); the engine's unit of
verdict is the **partition** (per north_rule): ``verdicts()`` is one row per
input partition with ``pass ⇔ zero violations`` — the direct generalization
of ``valid = errors.length === 0``.

Execution shape (scale notes):

* ``apply`` is a narrow projection — zero shuffle, whole-stage codegen.
* ``verdicts()``, ``metrics()`` and ``is_valid()`` are computed ONCE per
  result: one counts aggregate (:meth:`ValidationResult.counts_frame`)
  groups one partition entry per row plus one pair entry per violation,
  is collected on first use and memoized on the result — partial
  aggregation means each task emits one partial row per group, and the
  collected output is partitions + failing pairs rows. The verdict and
  metrics frames are local relations built from it, so collecting them
  runs no Spark job.
* ``violations()`` explodes the violation arrays — rows flow only for
  failing checks, so a clean 10^12-row table emits nothing.
* Small driver-built frames (the official corpus batches,
  :func:`make_value_validator`) read the same rows with
  :func:`_collect_violations`, which flattens the collected arrays on the
  driver and runs no Spark job over a local relation.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, functions as F, types as T

from schemasaurus_spark.compiler import (
    VIOLATIONS_COL,
    ValidationPlan,
    compile_suite,
    explode_validated,
)
from schemasaurus_spark.dsl import Suite
from schemasaurus_spark.session import local_frame

VERDICT_SCHEMA = ("partition_id int, n_rows long, n_violations long, "
                  "pass boolean")
METRICS_SCHEMA = "constraint_id string, column string, n_violations long"


@dataclass
class ValidationResult:
    """The outcome of :func:`validate` on one input frame.

    ``violations()`` (and the row filters and ``write_split``) are lazy
    frames, re-planned and re-read on every call. ``verdicts()``,
    ``metrics()``, ``is_valid()`` and ``register_views()`` read ONE counts
    aggregate that runs at the first of those calls and is kept for the
    life of the result, so calling them starts a Spark job at call time and
    later calls see the input as it was then. The row result of
    ``engine.run_full_validation`` is the exception: that call runs the
    counts aggregate itself, concurrently with its aggregate checks, so
    reading these surfaces afterwards starts no job. If the input is re-read
    (a parquet path rewritten, an incremental snapshot advanced), call
    :func:`validate` again rather than mixing a fresh ``violations()`` with
    counts taken earlier."""

    plan: ValidationPlan
    validated: DataFrame  # input + __violations array column
    # (partition rows, (constraint_id, column) rows) of the collected
    # counts aggregate; filled on first use by _counts()
    _count_rows: tuple | None = field(default=None, init=False, repr=False,
                                      compare=False)

    @property
    def id_column(self) -> str:
        return self.plan.suite.id_column

    def violations(self) -> DataFrame:
        """(doc_id, constraint_id, column, value, arg, message) — one row per
        violation, the analog of the reference error list; emission order
        within a row is preserved by posexplode position.

        Plan shape: scan → project → posexplode, all whole-stage-codegen'd,
        with NO size-filter — exploding an empty array emits nothing, and a
        ``where(size(violations) > 0)`` would inline the whole constraint
        tree into the FileScan as an interpreted DataFilter (the
        filter-pushdown pathology, BENCH.md round 2: 77 s vs 7 s at 16M
        rows / 32 cores)."""
        idc = self.id_column
        v = explode_validated(self.validated, idc)
        out = v.select(
            idc,
            "__v.constraint_id",
            "__v.column",
            "__v.value",
            "__v.arg",
            "__v.message",
            F.col("__pos").alias("pos"),
        )
        extra = _undeclared_violation_rows(self)
        if extra:
            out = out.unionByName(
                local_frame(self.validated.sparkSession, extra, out.schema))
        return out

    def undeclared_columns(self) -> list[str]:
        suite = self.plan.suite
        if suite.allow_undeclared_columns:
            return []
        from schemasaurus_spark import dsl as _dsl

        # dotted suite paths declare their TOP-LEVEL column (a.b declares
        # a), and columns the suite reads (Conform extra_cols, Dependency
        # targets) are part of the declared surface — flagging them would
        # report additionalProperties on fully valid data
        declared = {c.split(".")[0] for c in suite.columns}
        declared |= {suite.id_column.split(".")[0], VIOLATIONS_COL}
        declared |= {label.split(".")[0] for label, _ in suite.row}
        refs = _dsl.referenced_columns(
            [c for cs in suite.columns.values() for c in cs]
            + [c for _, c in suite.row],
            definitions=suite.definitions)
        declared |= {r.split(".")[0] for r in refs}
        return [c for c in self.validated.columns if c not in declared]

    def counts_frame(self) -> DataFrame:
        """The ONE aggregate behind verdicts(), metrics() and is_valid().

        Each row explodes ``[null] + __violations``: the null head (pos 0)
        is the row's partition entry, keyed ``(partition_id, null, null)``
        and carrying ``size(__violations)``; each violation is a pair
        entry keyed ``(null, constraint_id, column)``. One ``groupBy`` on
        the three keys then returns partitions + failing pairs rows
        (a pair row has a null ``partition_id``). A clean row costs one
        generated row and one hash probe; grouping sets would feed every
        row to the aggregate once per set, and a 3-key groupBy on the
        plain explode would return partitions x pairs rows."""
        v = F.col(VIOLATIONS_COL)
        elem = self.validated.schema[VIOLATIONS_COL].dataType.elementType
        head = F.col("pos") == 0
        return (
            self.validated.select(
                F.spark_partition_id().alias("__pid"),
                F.size(v).alias("__n"),
                F.posexplode(F.concat(F.array(F.lit(None).cast(elem)), v))
                .alias("pos", "v"))
            .groupBy(F.when(head, F.col("__pid")).alias("partition_id"),
                     F.col("v.constraint_id").alias("constraint_id"),
                     F.col("v.column").alias("column"))
            .agg(F.count(F.when(head, F.lit(1))).alias("n_rows"),
                 F.sum(F.when(head, F.col("__n")).otherwise(1))
                 .alias("n_violations"))
        )

    def _counts(self) -> tuple[list, list]:
        """Collect :meth:`counts_frame` once per result: sorted
        (partition_id, n_rows, n_violations) and (constraint_id, column,
        n_violations) tuples, the latter only for pairs that failed."""
        if self._count_rows is None:
            parts, pairs = [], []
            for r in self.counts_frame().collect():
                if r["partition_id"] is not None:
                    parts.append((r["partition_id"], r["n_rows"],
                                  r["n_violations"]))
                else:
                    pairs.append((r["constraint_id"], r["column"],
                                  r["n_violations"]))
            self._count_rows = (
                sorted(parts),
                sorted(pairs, key=lambda t: (str(t[0]), str(t[1]))))
        return self._count_rows

    def verdict_rows(self) -> list[tuple]:
        """The rows of :meth:`verdicts`, in ``VERDICT_SCHEMA`` order."""
        rows = [(p, n, v, v == 0) for p, n, v in self._counts()[0]]
        extra = self.undeclared_columns()
        if extra:
            rows.append((-2, 0, len(extra), False))
        return rows

    def verdicts(self) -> DataFrame:
        """Per-partition (partition_id, n_rows, n_violations, pass).
        Undeclared-column violations (static, not row-scoped) append as a
        pseudo-partition row (partition_id = -2; the engine's aggregate
        checks use -1) so verdict consumers see what violations() reports
        instead of passing a table the violation report calls invalid.
        A local relation over the memoized counts aggregate."""
        return local_frame(self.validated.sparkSession, self.verdict_rows(),
                           VERDICT_SCHEMA)

    def metrics(self) -> DataFrame:
        """Violation counts per (constraint_id, column) — the metrics table.
        Includes the STATIC undeclared-column additionalProperties counts:
        violations()/verdicts()/is_valid() all report them, and a metrics
        consumer must not see a clean table the other surfaces call
        invalid (round-4 review). A local relation over the memoized
        counts aggregate."""
        rows = self._counts()[1] + [("additionalProperties", c, 1)
                                    for c in self.undeclared_columns()]
        return local_frame(self.validated.sparkSession, rows, METRICS_SCHEMA)

    def violation_examples(self, k: int = 5) -> DataFrame:
        """Up to k example violations per (constraint_id, column) — the
        triage view (SURVEY §2.4 window-functions row). The window runs over
        the already-exploded violation rows (small), never the input."""
        from pyspark.sql.window import Window

        v = self.violations()
        w = Window.partitionBy("constraint_id", "column").orderBy(
            F.col(self.id_column))
        return (
            v.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .drop("rn")
        )

    def register_views(self, prefix: str = "validation") -> list[str]:
        """Expose the result as temp views for the SQL surface:
        <prefix>_violations / _verdicts / _metrics — `spark.sql` users get
        the same DataFrames (violations lazily planned; verdicts and
        metrics local relations over the counts aggregate, which this
        call runs)."""
        names = []
        for suffix, df in (("violations", self.violations()),
                           ("verdicts", self.verdicts()),
                           ("metrics", self.metrics())):
            name = f"{prefix}_{suffix}"
            df.createOrReplaceTempView(name)
            names.append(name)
        return names

    def _row_filter(self, want_valid: bool) -> DataFrame:
        """Row filter with a pushdown barrier. Neither an AND-ed barrier
        nor `when(barrier, pred)` works: Catalyst partitions AND-conjuncts
        by determinism, and SimplifyConditionalsInPredicate rewrites the
        CASE WHEN back into `barrier AND pred` — both still push the whole
        compiled constraint tree into the parquet scan as an interpreted
        DataFilter (round-4 review, verified in the physical plan; the
        exact 77s-vs-5s negative-scaling pathology of BENCH.md round 2).
        An OR-disjunct with a never-true NON-DETERMINISTIC side is not
        conjunct-splittable, so the predicate stays above the scan — but
        the barrier must also survive simplification: Spark 4 range-folds
        `rand() < -1` to false and drops the disjunct (verified).
        `monotonically_increasing_id() < 0` is flagged non-deterministic,
        costs nothing, is false by contract, and is NOT folded;
        tests/test_plans.py pins the scan's DataFilters empty. The pass
        predicate resolves on the plan's bound aliases, projected here
        again and dropped with the violations."""
        rv = self.plan.row_valid
        pred = rv if rv is not None else F.size(VIOLATIONS_COL) == 0
        if not want_valid:
            pred = ~pred
        barrier = F.monotonically_increasing_id() < F.lit(0)  # always FALSE
        return (self.plan.bind(self.validated).where(pred | barrier)
                .drop(VIOLATIONS_COL, *self.plan.bound))

    def valid_rows(self) -> DataFrame:
        return self._row_filter(True)

    def invalid_rows(self) -> DataFrame:
        return self._row_filter(False)

    def write_split(self, out_dir: str, mode: str = "error",
                    flag_col: str = "quarantined",
                    report_col: str = "violation_report",
                    compression: str = "snappy") -> dict:
        """Quarantine split sink: ONE scan writes valid rows under
        ``{out_dir}/{flag_col}=false/`` and failing rows (with their
        violation list as a JSON ``report_col``) under ``…=true/`` — the
        validation-tier gate of a training pipeline (clean corpus flows
        downstream, quarantine goes to triage).

        Scale shape: the flag is computed IN the validation projection and
        routed via ``partitionBy`` — no ``row_valid`` filter (the parquet
        DataFilter-pushdown pathology needs no barrier because there is no
        filter at all), no second scan, no shuffle; the dynamic-partition
        writer's per-task sort is over one boolean. Contrast
        ``valid_rows()``/``invalid_rows()``: TWO scans each re-evaluating
        the constraint tree. Counts come from the parquet FOOTERS of the
        files this call wrote (pyarrow metadata.num_rows — zero data read,
        the lineage module's manifest trick); with ``mode="append"`` the
        files already under ``out_dir`` are not counted.

        Static undeclared-column ``additionalProperties`` violations are
        table-scoped, not row-scoped — they never quarantine rows; check
        ``undeclared_columns()``/``verdicts()`` for them.

        The flag is written as STRING ``"true"``/``"false"``: partition
        directories only keep the rendered value, and Spark's
        partition-type inference reads booleans back as strings anyway —
        a string flag round-trips type-stably (filter with
        ``col(flag_col) == "true"``).
        """
        import glob as _glob
        import os as _os

        import pyarrow.parquet as _pq

        sides = {"n_valid": f"{flag_col}=false",
                 "n_quarantined": f"{flag_col}=true"}

        def files(side):
            return set(_glob.glob(_os.path.join(out_dir, side, "*.parquet")))

        before = {key: files(side) for key, side in sides.items()}
        out = split_frame(self.validated, flag_col, report_col)
        (out.write.mode(mode)
            .option("compression", compression)
            .partitionBy(flag_col)
            .parquet(out_dir))
        counts = {key: sum(_pq.ParquetFile(f).metadata.num_rows
                           for f in files(side) - before[key])
                  for key, side in sides.items()}
        counts["out_dir"] = out_dir
        return counts

    def is_valid(self) -> bool:
        """Table-level verdict, read off the memoized counts aggregate.
        Includes the static undeclared-column check — violations() reports
        those, so the boolean verdict must agree."""
        return all(r[3] for r in self.verdict_rows())


def _undeclared_violation_rows(res: ValidationResult) -> list[tuple]:
    """The static rows :meth:`ValidationResult.violations` appends, in its
    column order: additionalProperty=false analog (v4validator.js:287) —
    the schema is static, so one violation per undeclared COLUMN (doc_id
    null), not per row; documented divergence."""
    extra = res.undeclared_columns()
    if not extra:
        return []
    from schemasaurus_spark.messages import render_message

    msg = render_message("additionalProperties",
                         overrides=res.plan.suite.messages)
    return [(None, "additionalProperties", c, None, None, msg, 0)
            for c in extra]


def _collect_violations(res: ValidationResult) -> list[Row]:
    """The rows of ``res.violations().collect()``, flattened on the driver
    from the collected ``(id, __violations)`` projection instead of a
    ``posexplode``. Over a local relation (``session.local_frame``) the
    projection folds into the relation at optimization
    (``ConvertToLocalRelation``) and the collect runs no Spark job; a
    ``Generate`` does not fold, so ``violations()`` over the same frame is
    planned, code-generated and scheduled as a job. For small driver-built
    frames only: every violation array comes to the driver."""
    sel = res.validated.select(F.col(res.id_column), VIOLATIONS_COL)
    row = Row(sel.columns[0], "constraint_id", "column", "value", "arg",
              "message", "pos")
    out = [row(rid, *v, pos)
           for rid, vs in sel.collect()
           for pos, v in enumerate(vs or ())]
    return out + [row(*r) for r in _undeclared_violation_rows(res)]


def split_frame(validated: DataFrame, flag_col: str = "quarantined",
                report_col: str = "violation_report") -> DataFrame:
    """The quarantine-split projection shared by the batch sink
    (:meth:`ValidationResult.write_split`) and the streaming sink
    (``streaming.stream.quarantine_sink``): flag + JSON violation report
    computed IN the validation projection, violations column dropped —
    ONE implementation so the two paths can never drift. The flag is a
    STRING ``"true"``/``"false"`` for a type-stable partition round-trip
    (write_split's docstring has the full rationale)."""
    clash = {flag_col, report_col} & set(validated.columns)
    if clash - {VIOLATIONS_COL}:
        raise ValueError(
            f"output columns {sorted(clash)} already exist in the "
            f"input — pass different flag_col/report_col")
    q = F.size(F.col(VIOLATIONS_COL)) > 0
    return (validated
            .withColumn(report_col,
                        F.when(q, F.to_json(F.col(VIOLATIONS_COL))))
            .withColumn(flag_col, q.cast("string"))
            .drop(VIOLATIONS_COL))


def validate(df: DataFrame, suite: Suite) -> ValidationResult:
    """Compile (once, driver-side) + apply (lazy)."""
    plan = compile_suite(suite, df.schema)
    return ValidationResult(plan, plan.apply(df))


def make_value_validator(spark, suite: Suite, schema: str):
    """The reference's per-value entry point, verbatim shape:
    ``newValidator(schema)`` returns ``fn(value) -> {valid, errors}``
    (v4validator.js:326-331; iterator.js:16-20). Compile ONCE, then call
    with plain dicts; each error carries the reference's record fields
    (code, message, value, arg, path=[column]).

    Each call builds a one-row local frame, applies the compiled plan and
    reads the row's violation array on the driver: the projection folds
    into the local relation, so a call runs no Spark job (unless the suite
    holds a pandas ``Conform``, which needs a Python worker). It is for
    parity/tests and small interactive checks, NOT the scale path (tables
    go through :func:`validate`)."""
    t = T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    plan = compile_suite(suite, t)

    def validator(value: dict) -> dict:
        row = tuple(value.get(f.name) for f in t.fields)
        df = local_frame(spark, [row], t)
        rows = _collect_violations(ValidationResult(plan, plan.apply(df)))
        errors = [
            {"code": r["constraint_id"], "message": r["message"],
             "value": r["value"], "arg": r["arg"], "path": [r["column"]]}
            for r in rows
        ]
        return {"valid": not errors, "errors": errors}

    return validator
