"""The three workloads. Each is one op shape repeated in a closed loop by a
single client (the driver thread); every op's output is checked against
the oracle.

``prepare`` makes the seeded inputs and does not count as set-up;
``__init__`` is input registration and does; ``op`` is timed; ``check`` is
not.
"""

from __future__ import annotations

import importlib
import json
import random
from contextlib import nullcontext
from pathlib import Path

import inputs
import oracle
import sparkenv

PSI_MAX, KS_MAX = 0.2, 0.15
NULL_RATE_MAX = 0.004
# the corpus op runs one fixed stratified slice, 1/SHARDS of the corpus,
# whose expected outcome is frozen in SHARD_OUTCOME
SHARDS = 8
SHARD_OUTCOME = Path(__file__).with_name("draft4_shard.json")


def _m(name: str):
    """An engine module by name (the package re-exports a function named
    ``validate`` over the module of that name)."""
    return importlib.import_module(f"schemasaurus_spark.{name}")


def _compile_layers() -> list:
    return [(_m("validate"), "compile_suite", "compiler.compile"),
            (_m("compiler"), "compile_suite", "compiler.compile")]


def sequences_suite():
    """The sequences_full_v1 suite, declared through the public DSL."""
    import pyspark.sql.functions as F
    from schemasaurus_spark import datagen, dsl

    return dsl.Suite(
        id_column="doc_id",
        columns={
            "doc_id": [dsl.NotNull(), dsl.Pattern(oracle.PATTERN)],
            "n_tok": [dsl.NotNull(), dsl.Minimum(1),
                      dsl.Maximum(datagen.MAX_TOK)],
            "source": [dsl.NotNull(), dsl.Enum(datagen.SOURCES)],
            "tokens": [
                dsl.MinItems(1), dsl.MaxItems(datagen.MAX_TOK),
                dsl.Items([dsl.Minimum(0), dsl.Maximum(datagen.VOCAB - 1)]),
            ],
        },
        row=[("tokens", dsl.Conform(
            name="size_eq_n_tok",
            expr=lambda c: F.size("tokens") == F.col("n_tok")))],
        name="sequences_full_v1",
    )


class _Gate:
    # JIT warm-up follows the rows processed: on 20,000 rows the split op
    # gets faster over its first six to eight ops
    warmup = 6

    @staticmethod
    def prepare(spark, seed: int, workdir):
        return inputs.make_gate_inputs(spark, seed, workdir)

    def __init__(self, spark, prepared, tracer=None):
        table, self.baseline_rows, self.exp = prepared
        self.df = spark.read.parquet(str(table))
        self.suite = sequences_suite()
        self.out = str(table.parent / "split_out")
        self.rows = self.exp["n_rows"]
        self.cases = self.rows  # every row is one case, valid or not
        self.span = tracer.span if tracer else (lambda name: nullcontext())


class GateRead(_Gate):
    """run_full_validation + verdicts() + row.metrics() over the table."""

    # the cold first op takes over twice as long as a warm one; from the
    # fourth op on, op times stay within about 10 % of each other
    warmup = 3

    def __init__(self, spark, prepared, tracer=None):
        super().__init__(spark, prepared, tracer)
        from schemasaurus_spark import AggregateChecks, datagen

        base = self.baseline_rows
        self.checks = AggregateChecks(
            unique_key="doc_id",
            sources_dim=datagen.sources_dim(spark),
            ref_column="source",
            null_rate_max={"doc_id": NULL_RATE_MAX},
            null_rate_by="source",
            drift_baseline=spark.createDataFrame(
                base, "group_key string, bucket int, count long"),
            drift_column="n_tok",
            drift_edges=inputs.EDGES,
            psi_threshold=PSI_MAX, ks_threshold=KS_MAX,
        )
        baseline: dict[str, dict[int, int]] = {}
        for g, b, c in base:
            baseline.setdefault(g, {})[b] = c
        self.n_agg, self.drift = oracle.aggregate_violations(
            self.exp, baseline, NULL_RATE_MAX, len(inputs.EDGES) - 1,
            PSI_MAX, KS_MAX)

    @staticmethod
    def layers():
        aggregates = _m("operators.aggregates")
        return _compile_layers() + [
            (_m("engine"), "validate", "validate.build"),
            (aggregates, "uniqueness_check", "aggregates.unique"),
            (aggregates, "fused_aggregate_pass", "aggregates.fused")]

    def op(self):
        with self.span("engine.build"):
            res = _m("engine").run_full_validation(self.df, self.suite,
                                                   self.checks)
        with self.span("engine.action"):
            verdicts = res.verdicts().collect()
            metrics = res.row.metrics().collect()
        return verdicts, metrics, res.drift

    def check(self, out) -> bool:
        verdicts, metrics, drift = out
        parts = [r for r in verdicts if r["partition_id"] >= 0]
        pseudo = [r["n_violations"] for r in verdicts if r["partition_id"] < 0]
        got = {f"{r['constraint_id']}|{r['column']}": r["n_violations"]
               for r in metrics}
        drift_ok = len(drift) == len(self.drift) and all(
            d.group_key in self.drift
            and abs(d.psi - self.drift[d.group_key][0]) < 1e-9
            and abs(d.ks - self.drift[d.group_key][1]) < 1e-9
            for d in drift)
        return (got == self.exp["metrics"]
                and sum(r["n_rows"] for r in parts) == self.rows
                and sum(r["n_violations"] for r in parts)
                == sum(self.exp["metrics"].values())
                and pseudo == [self.n_agg]
                and drift_ok)


class GateSplit(_Gate):
    """validate(df, suite).write_split(out) over the same table."""

    @staticmethod
    def layers():
        return _compile_layers()

    def op(self):
        with self.span("validate.build"):
            res = _m("validate").validate(self.df, self.suite)
        with self.span("validate.action"):
            return res.write_split(self.out, mode="overwrite")

    def check(self, out) -> bool:
        q = self.exp["n_quarantined"]
        return out["n_quarantined"] == q and out["n_valid"] == self.rows - q


class Draft4Corpus:
    """run_official_tests over a fixed shard of the draft-4 corpus, in an
    order the seed picks."""

    # the compiler's constant cache fills during the first ops (py4j call
    # counts repeat exactly only after it); the JVM's CPU per op keeps
    # falling for a few more, but the run budget is shared
    warmup = 6

    @staticmethod
    def prepare(spark, seed: int, workdir):
        return seed

    def __init__(self, spark, seed, tracer=None):
        from schemasaurus_spark.official_suite import load_official_suite

        self.spark = spark
        # every SHARDS-th case, so the shard spans every file; the seed only
        # orders it, which must not change any outcome
        self.tests = load_official_suite(sparkenv.CORPUS)[::SHARDS]
        random.Random(seed).shuffle(self.tests)
        self.expected = json.loads(SHARD_OUTCOME.read_text())
        self.rows = self.cases = len(self.expected["graded"])
        self.span = tracer.span if tracer else (lambda name: nullcontext())

    @staticmethod
    def layers():
        osuite = _m("official_suite")
        return _compile_layers() + [
            (osuite, "validate", "validate.build"),
            (osuite, "plan_test", "official_suite.plan"),
            (osuite, "suite_from_json_schema", "schema_json.translate"),
            (osuite, "_constraints_from", "schema_json.translate")]

    def op(self):
        with self.span("official_suite.run"):
            return _m("official_suite").run_official_tests(self.spark,
                                                           self.tests)

    def check(self, res) -> bool:
        """Every frozen graded case passed, and exactly the frozen skipped
        cases were skipped; no engine code decides what is expected."""
        return (not res.failed
                and sorted(map(_case_key, res.passed))
                == self.expected["graded"]
                and sorted(_case_key(t) for t, _ in res.skipped)
                == self.expected["skipped"])


def _case_key(t) -> str:
    return f"{t.file} | {t.case} | {t.test}"


WORKLOADS = {"gate_read": GateRead, "gate_split": GateSplit,
             "draft4_corpus": Draft4Corpus}
