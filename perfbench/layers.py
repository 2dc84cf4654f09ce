"""Which end-to-end metric each layer metric should move, and on which
workload.

``BENCHMARK.json`` names the metrics and their units and says why each
workload was chosen; it holds a fixed set of keys, so the layer map and the
list of modules no workload reaches live here. ``run.py --describe`` prints
them and checks that the map covers exactly the per-layer metrics.
"""

ALL = ["gate_read", "gate_split", "draft4_corpus"]

# layer metrics -> (end-to-end metrics they should move, workloads they
# should move on; the other workloads are predicted flat)
LAYER_MAP = [
    (["compiler.compile_s", "compiler.calls", "compiler.py4j_calls",
      "schema_json.translate_s", "official_suite.plan_s", "py4j.calls",
      "py4j.wait_s", "driver.py_cpu_s"],
     ["op_p50_s", "cases_per_s", "cpu_s_per_op"], ["draft4_corpus"]),
    (["spark.task_cpu_s", "spark.task_run_s", "spark.busy_frac",
      "plan.codegen_fallback", "plan.batch_eval_python",
      "plan.interpreted_datafilters"],
     ["rows_per_s", "cpu_s_per_op"], ["gate_read", "gate_split"]),
    (["engine.build_s", "aggregates.unique_s", "aggregates.fused_s",
      "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.jobs",
      "spark.stages", "spark.tasks"],
     ["op_p50_s", "rows_per_s"], ["gate_read"]),
    (["validate.build_s", "validate.action_s", "spark.output_mb",
      "spark.input_mb"],
     ["rows_per_s"], ["gate_split"]),
    (["spark.gc_s", "jvm.rss_mb", "jvm.cpu_s", "pyworker.cpu_s"],
     ["peak_rss_mb", "cpu_s_per_op"], ALL),
    (["session.start_s"], ["setup_s"], ALL),
    (["host.canary_s", "host.steal_frac"], [], ALL),
    (["trace.overhead_s"], [], ALL),
]

# counters that must read the same on every traced op after warm-up, and on
# every traced run of one seed; run.py --trace 1 checks both
EXACT = ["spark.jobs", "spark.stages", "spark.tasks", "py4j.calls",
         "compiler.calls", "plan.codegen_fallback", "plan.batch_eval_python",
         "plan.interpreted_datafilters", "spark.shuffle_write_mb",
         "spark.shuffle_read_mb", "spark.output_mb"]

UNMEASURED = [
    "normalizer", "profiler", "plans/*", "streaming/*", "sources/*",
    "conformance", "operators/dedup", "operators/similarity",
    "operators/text", "operators/sketch",
]


def describe(per_layer: list[str]) -> str:
    """The map, for the per-layer metric names BENCHMARK.json lists."""
    mapped = [m for metrics, _, _ in LAYER_MAP for m in metrics]
    if sorted(mapped) != sorted(per_layer):
        raise ValueError("LAYER_MAP and BENCHMARK.json per_layer differ: "
                         f"{sorted(set(mapped) ^ set(per_layer))}")
    lines = ["layer metrics -> end-to-end metrics they move (on):"]
    for metrics, e2e, on in LAYER_MAP:
        lines.append(f"  {', '.join(metrics)}")
        lines.append(f"    -> {', '.join(e2e) or 'none (reported only)'}"
                     f" on {', '.join(on)}")
    lines.append("exact counters: " + ", ".join(EXACT))
    lines.append("not measured yet: " + ", ".join(UNMEASURED))
    return "\n".join(lines)
