"""Spans and counters recorded around the calls into each engine layer.

Everything here is installed from outside the engine: module attributes
are swapped for timing wrappers while an op runs and restored after it,
py4j's ``send_command`` is wrapped to count round trips, and Spark's own
status stores give jobs, stages, task time, bytes and executed plans.
Spans stay in memory as (name, start, end, parent, op).
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import py4j.clientserver
import py4j.java_gateway

# the garbage-collection "delete object" command py4j sends on its own
# schedule; counting it makes the round-trip count drift between ops
_GC_DELETE = "m\nd\n"

_HOF = "lambdafunction"
_DATAFILTERS = re.compile(r"DataFilters: \[([^\]]*)\]")
_COMPUTED_FILTER = re.compile(r"lambdafunction|md5\(|regexp_replace\(|size\(")


class Tracer:
    """Records spans while an op is open; ``install`` patches the layers."""

    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self.op = None
        self._op_span = None
        self._op_stack: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.py4j_calls = 0
        self.py4j_wait = 0.0
        self.py4j_in: dict[str, int] = defaultdict(int)

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if self._op_span is None:  # no traced op open: record nothing
            yield
            return
        stack = self._stack()
        # a pool thread starts with an empty stack: its span belongs to the
        # span the op's own thread has open
        outer = stack or self._op_stack
        parent = outer[-1] if outer else self._op_span
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent,
                               self.op])
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx][2] = time.perf_counter()

    @contextmanager
    def op_span(self, op_id: int):
        self.op = op_id
        self._op_stack = self._stack()
        self.py4j_calls, self.py4j_wait = 0, 0.0
        self.py4j_in = defaultdict(int)
        with self._lock:
            self._op_span = len(self.spans)
            self.spans.append(["op", time.perf_counter(), None, None, op_id])
        try:
            yield
        finally:
            self.spans[self._op_span][2] = time.perf_counter()
            self._op_span = None

    # ---------------------------------------------------------- patches
    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def _wrap_py4j(self, cls) -> None:
        orig = cls.send_command
        tracer = self

        def send_command(conn, command, *args, **kwargs):
            if tracer._op_span is None or command.startswith(_GC_DELETE):
                return orig(conn, command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(conn, command, *args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                names = {tracer.spans[i][0] for i in tracer._stack()}
                with tracer._lock:
                    tracer.py4j_calls += 1
                    tracer.py4j_wait += dt
                    for n in names:
                        tracer.py4j_in[n] += 1

        self._patches.append((cls, "send_command", orig))
        cls.send_command = send_command

    def install(self, layers: list[tuple[object, str, str]]) -> None:
        for owner, attr, name in layers:
            self.wrap(owner, attr, name)
        self._wrap_py4j(py4j.clientserver.ClientServerConnection)
        self._wrap_py4j(py4j.java_gateway.GatewayConnection)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---------------------------------------------------------- summary
    def op_layers(self, op_id: int) -> dict[str, dict[str, float]]:
        """Per layer: calls, total span seconds and self seconds (span
        time not covered by its child spans) for one op."""
        mine = [(i, s) for i, s in enumerate(self.spans) if s[4] == op_id]
        kids: dict[int, list] = defaultdict(list)
        for i, s in mine:
            if s[3] is not None:
                kids[s[3]].append(s)
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for i, (name, start, end, _, _) in mine:
            covered = _union([(max(start, k[1]), min(end, k[2]))
                              for k in kids[i]])
            row = out[name]
            row["calls"] += 1
            row["total_s"] += end - start
            row["self_s"] += (end - start) - covered
        return dict(out)


def _union(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SparkCounters:
    """Per-op deltas from the Spark status stores (works with the UI off)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = sc._jvm
        self._args = (jvm.java.util.ArrayList(), False, False,
                      sc._gateway.new_array(jvm.double, 0),
                      jvm.java.util.ArrayList())
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory
                              .getGarbageCollectorMXBeans())
        # stage inputBytes misses local parquet reads; the Hadoop
        # filesystem's own counter does not
        self._fs_stats = jvm.org.apache.hadoop.fs.FileSystem \
            .getGlobalStorageStatistics()

    def mark(self) -> dict:
        self._bus.waitUntilEmpty()
        stages = self._store.stageList(*self._args)
        return {"jobs": self._store.jobsList(None).size(),
                "stage": stages.apply(0).stageId() if stages.size() else -1,
                "sql": self._sql.executionsCount(),
                "gc_ms": sum(b.getCollectionTime() for b in self._gc_beans),
                "read": self._bytes_read()}

    def _bytes_read(self) -> int:
        st = self._fs_stats.get("file")
        return 0 if st is None else st.getLong("bytesRead")

    def since(self, before: dict) -> dict[str, float]:
        after = self.mark()
        stages = self._store.stageList(*self._args)
        run_ms = cpu_ns = tasks = n = 0
        outb = shw = shr = 0
        for i in range(stages.size()):
            s = stages.apply(i)  # newest first
            if s.stageId() <= before["stage"]:
                break
            n += 1
            tasks += s.numCompleteTasks()
            run_ms += s.executorRunTime()
            cpu_ns += s.executorCpuTime()
            outb += s.outputBytes()
            shw += s.shuffleWriteBytes()
            shr += s.shuffleReadBytes()
        execs = self._sql.executionsList(before["sql"],
                                         after["sql"] - before["sql"])
        plans = [execs.apply(i).physicalPlanDescription()
                 for i in range(execs.size())]
        mb = 1024.0 * 1024.0
        return {
            "spark.jobs": after["jobs"] - before["jobs"],
            "spark.stages": n,
            "spark.tasks": tasks,
            "spark.task_run_s": run_ms / 1e3,
            "spark.task_cpu_s": cpu_ns / 1e9,
            "spark.input_mb": (after["read"] - before["read"]) / mb,
            "spark.output_mb": outb / mb,
            "spark.shuffle_write_mb": shw / mb,
            "spark.shuffle_read_mb": shr / mb,
            "spark.gc_s": (after["gc_ms"] - before["gc_ms"]) / 1e3,
            "plan.codegen_fallback": sum(_HOF in p for p in plans),
            "plan.batch_eval_python": sum(p.count("BatchEvalPython")
                                          for p in plans),
            "plan.interpreted_datafilters": sum(
                1 for p in plans for f in _DATAFILTERS.findall(p)
                if _COMPUTED_FILTER.search(f)),
        }
