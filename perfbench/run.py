#!/usr/bin/env python3
"""Steady-state benchmark of the schemasaurus_spark engine.

    python3 perfbench/run.py --workload gate_read --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --describe

One client issues ops in a closed loop from the driver thread against a
local[N] session (N = min(4, cores)). A run starts the session, makes or
reuses its seeded inputs (not counted in set-up), registers them, runs a
fixed number of warm-up ops, then times ops for ``--seconds``. Every op's
output is checked against an oracle computed without the engine.
Metric names, units and the default ``--seconds`` come from
``BENCHMARK.json``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced ops and prints the per-layer metrics of the traced ones
(medians per op), their self times, and the tracing overhead. The last line
of standard output is one JSON object; lines before it starting with ``#``
are the same figures for people.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import layers
import proc
import sparkenv

CANARY_ROWS = 5_000_000
# a run times at least this many ops, however long they take, so that the
# slowest workload's median is not of one or two ops
MIN_TIMED_OPS = 3
SPEC = json.loads((sparkenv.ROOT / "BENCHMARK.json").read_text())


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic with ten samples
    above it. Below 22 samples no such statistic lies above the median, so
    the median stands in."""
    if len(xs) < 22:
        return statistics.median(xs), 50.0
    k = len(xs) - 10
    return sorted(xs)[k - 1], 100.0 * k / len(xs)


def canary(spark) -> float:
    """Wall time of a fixed pure-Spark op: flags slow host windows."""
    t0 = time.perf_counter()
    spark.range(CANARY_ROWS).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        from workloads import WORKLOADS

        self.cls = WORKLOADS[workload]
        self.name, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace
        self.attempted = self.failed = 0
        self.untraced: list[float] = []
        self.traced: list[float] = []
        self.per_op: list[dict[str, float]] = []
        self.self_s: list[dict[str, float]] = []

    def _op(self, wl) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = wl.op()
            dt = time.perf_counter() - t0
            ok = wl.check(out)
        except Exception:  # a failed op is counted, and the run goes on
            dt = time.perf_counter() - t0
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            print(f"# op {self.attempted} failed its oracle check",
                  file=sys.stderr)
        return dt

    def _traced_op(self, wl, tracer, counters) -> float:
        tracer.install(self.cls.layers())
        try:
            mark = counters.mark()
            tree0 = proc.Tree()
            with tracer.op_span(self.attempted + 1):
                dt = self._op(wl)
            tree1 = proc.Tree()
            m = counters.since(mark)
        finally:
            tracer.uninstall()
        spans = tracer.op_layers(self.attempted)

        def total(name):
            return spans.get(name, {}).get("total_s", 0.0)

        m.update({
            "spark.busy_frac": m["spark.task_run_s"] / (dt * sparkenv.CORES),
            "py4j.calls": tracer.py4j_calls,
            "py4j.wait_s": tracer.py4j_wait,
            "compiler.calls": spans.get("compiler.compile", {}).get("calls", 0),
            "compiler.compile_s": total("compiler.compile"),
            "compiler.py4j_calls": tracer.py4j_in.get("compiler.compile", 0),
            "schema_json.translate_s": total("schema_json.translate"),
            "official_suite.plan_s": total("official_suite.plan"),
            "engine.build_s": total("engine.build"),
            "aggregates.unique_s": total("aggregates.unique"),
            "aggregates.fused_s": total("aggregates.fused"),
            "validate.build_s": total("validate.build"),
            "validate.action_s": total("validate.action"),
            "driver.py_cpu_s": tree1.cpu["driver"] - tree0.cpu["driver"],
            "jvm.cpu_s": tree1.cpu["jvm"] - tree0.cpu["jvm"],
            "pyworker.cpu_s": tree1.cpu["pyworker"] - tree0.cpu["pyworker"],
            "jvm.rss_mb": tree1.jvm_rss_mb(),
        })
        self.per_op.append(m)
        self.self_s.append({k: v["self_s"] for k, v in spans.items()})
        return dt

    def measure(self) -> dict:
        workdir = sparkenv.WORK / f"run-{os.getpid()}"
        workdir.mkdir(parents=True, exist_ok=True)
        # set-up is timed from process start
        t_start = time.perf_counter() - proc.age()
        t0 = time.perf_counter()
        spark = sparkenv.start(f"perfbench-{self.name}")
        self.session_s = time.perf_counter() - t0
        try:
            return self._measure(spark, workdir, t_start)
        finally:
            sparkenv.stop(spark)
            shutil.rmtree(workdir, ignore_errors=True)

    def _measure(self, spark, workdir, t_start) -> dict:
        t0 = time.perf_counter()
        prepared = self.cls.prepare(spark, self.seed, workdir)
        # before the warm-up: run right before the timed ops, it slowed the
        # first of them
        self.canary_start = canary(spark)
        # input generation and the canary are not the engine's set-up
        not_setup = time.perf_counter() - t0
        tracer = counters = None
        if self.trace:
            from tracing import SparkCounters, Tracer

            tracer, counters = Tracer(), SparkCounters(spark)
        wl = self.cls(spark, prepared, tracer)
        for _ in range(self.cls.warmup):
            self._op(wl)
        self.setup_s = time.perf_counter() - t_start - not_setup
        tree0, steal0 = proc.Tree(), proc.cpu_ticks()
        # peak memory covers the timed ops only
        tree0.reset_peaks()
        deadline = time.perf_counter() + self.seconds
        # a traced run makes at least two traced ops, to compare counters
        while (time.perf_counter() < deadline
               or len(self.untraced) < MIN_TIMED_OPS
               or (self.trace and len(self.traced) < 2)):
            if self.trace and len(self.untraced) > len(self.traced):
                self.traced.append(self._traced_op(wl, tracer, counters))
            else:
                self.untraced.append(self._op(wl))
        tree1, steal1 = proc.Tree(), proc.cpu_ticks()
        self.steal_frac = ((steal1[0] - steal0[0])
                           / max(steal1[1] - steal0[1], 1))
        self.canary_end = canary(spark)
        self.cpu_s = tree1.total_cpu() - tree0.total_cpu()
        self.peaks = tree1.peak_rss_mb()
        self.n_procs = len(tree1.role)
        self.rows, self.cases = wl.rows, wl.cases
        return self.report()

    # ---------------------------------------------------------- report
    def report(self) -> dict:
        ops = self.untraced
        p50 = statistics.median(ops)
        tail_v, tail_p = tail(ops)
        e2e = {
            "setup_s": self.setup_s,
            "op_p50_s": p50,
            "rows_per_s": self.rows / p50,
            "cases_per_s": self.cases / p50,
            "cpu_s_per_op": self.cpu_s / len(ops),
            "peak_rss_mb": sum(self.peaks.values()),
        }
        lines = [
            f"workload {self.name} seed {self.seed}: {len(ops)} timed ops "
            f"after {self.cls.warmup} warm-up ops, {self.rows} rows and "
            f"{self.cases} cases per op",
            f"op_tail_s {tail_v:.6g} s is p{tail_p:.0f} of {len(ops)} samples"
            + (" (below 22 samples no percentile above the median has ten "
               "samples beyond it, so it is not an end-to-end metric)"
               if tail_p == 50.0 else ""),
            "op seconds " + " ".join(f"{t:.3f}" for t in ops),
            f"fail_ratio {self.failed / self.attempted:.4f} ratio "
            f"({self.failed} of {self.attempted} ops)",
            f"peak RSS over the timed ops, {self.n_procs} processes: "
            + ", ".join(f"{k} {v:.0f} MB" for k, v in self.peaks.items()),
            f"host.canary_s start {self.canary_start:.4f} s, "
            f"end {self.canary_end:.4f} s; host.steal_frac "
            f"{self.steal_frac:.3f} over the timed ops",
        ]
        run_level = {"session.start_s": self.session_s,
                     "host.canary_s": self.canary_end,
                     "host.steal_frac": self.steal_frac}
        if not self.trace:
            metrics = _named(SPEC["end_to_end"], e2e)
            lines += [f"{k} {m['value']:.6g} {m['unit']}"
                      for k, m in metrics.items()]
            return self._finish(lines, metrics, correct=self.failed == 0)

        per_layer = {**{k: statistics.median(op[k] for op in self.per_op)
                        for k in self.per_op[0]}, **run_level,
                     "trace.overhead_s":
                         statistics.median(self.traced) - p50}
        varied = {k: [op[k] for op in self.per_op] for k in layers.EXACT
                  if len({op[k] for op in self.per_op}) > 1}
        repeat = self._compare_counters({k: per_layer[k]
                                            for k in layers.EXACT})
        lines.append(f"traced ops {len(self.traced)}, untraced op_p50_s "
                     f"{p50:.4f}, traced {statistics.median(self.traced):.4f}")
        lines.append("exact counters identical on every traced op: "
                     f"{f'NO {varied}' if varied else 'yes'}; "
                     f"same as the last traced run of this seed: {repeat}")
        names = sorted({n for op in self.self_s for n in op})
        lines.append("self seconds per op (median over traced ops):")
        lines += [f"  {n:<24} "
                  f"{statistics.median(op.get(n, 0.0) for op in self.self_s):.4f}"
                  for n in names]
        metrics = _named(SPEC["per_layer"], per_layer)
        lines += [f"{k} {m['value']:.6g} {m['unit']}"
                  for k, m in metrics.items()]
        # counter repeatability is reported, not folded into `correct`,
        # which covers the outputs the oracles check
        return self._finish(lines, metrics, correct=self.failed == 0)

    def _compare_counters(self, counters: dict) -> str:
        path = sparkenv.WORK / "counters" / f"{self.name}-{self.seed}.json"
        prev = json.loads(path.read_text()) if path.exists() else None
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(counters, sort_keys=True))
        if prev is None:
            return "no earlier run"
        return "yes" if prev == json.loads(json.dumps(counters)) else "no"

    def _finish(self, lines, metrics, correct) -> dict:
        for line in lines:
            print("# " + line)
        return {"correct": bool(correct), "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def _named(spec: list[dict], values: dict[str, float]) -> dict:
    """The metrics ``spec`` (a BENCHMARK.json list) names, with its units;
    a measured value it does not name, or a name not measured, is an
    error."""
    names = [m["name"] for m in spec]
    if set(names) != set(values):
        raise KeyError(f"not in BENCHMARK.json: {set(values) - set(names)}; "
                       f"not measured: {set(names) - set(values)}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec}


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--describe", action="store_true",
                    help="print the workloads and the layer map, then exit")
    a = ap.parse_args()
    if a.describe:
        print(layers.describe([m["name"] for m in SPEC["per_layer"]]))
        return 0
    if not a.workload:
        ap.error("--workload is required")
    if not sparkenv.engine_present():
        print(f"schemasaurus_spark or its draft-4 corpus is missing under "
              f"{sparkenv.ROOT}", file=sys.stderr)
        return 2
    sparkenv.prepare()
    result = Run(a.workload, a.seed, a.seconds, bool(a.trace)).measure()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
