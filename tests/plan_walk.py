"""Walk a physical plan's nodes for plan-shape pins (no Spark job), and
count the Spark jobs and the py4j round trips a block of code makes."""

from contextlib import contextmanager

import py4j.clientserver
import py4j.java_gateway

# py4j's garbage-collection "delete object" command, sent on py4j's own
# schedule; perfbench/tracing.py leaves it out of its count the same way
_GC_DELETE = "m\nd\n"


@contextmanager
def py4j_calls():
    """Yields a one-element list that, during and after the block, holds
    the number of py4j round trips made in it (from any thread), GC
    deletes excluded."""
    n = [0]
    patched = []
    for cls in (py4j.clientserver.ClientServerConnection,
                py4j.java_gateway.GatewayConnection):
        orig = cls.send_command

        def send_command(conn, command, *args, _orig=orig, **kwargs):
            if not command.startswith(_GC_DELETE):
                n[0] += 1
            return _orig(conn, command, *args, **kwargs)

        patched.append((cls, orig))
        cls.send_command = send_command
    try:
        yield n
    finally:
        for cls, orig in patched:
            cls.send_command = orig


@contextmanager
def spark_jobs(spark, group: str):
    """Yields a list that, after the block, holds the ids of the Spark jobs
    the block started (through a job group on this thread)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    out: list = []
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the status store hears of a job through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.extend(sc.statusTracker().getJobIdsForGroup(group))


def all_job_ids(spark) -> set:
    """The ids of every job the status store holds, once the listener bus
    has delivered every event posted so far: a before/after difference is
    the set of jobs started in between, whatever their job group."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def plan_nodes(plan):
    """Every node of a physical plan, through AQE query stages, cached
    relations and subqueries."""
    yield plan
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif name == "InMemoryTableScanExec":
        kids = [plan.relation().cachedPlan()]
    else:
        kids = _seq(plan.children()) + _seq(plan.subqueries())
    for k in kids:
        yield from plan_nodes(k)


def _seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def executed_nodes(df):
    """Every node of ``df``'s executed plan."""
    return list(plan_nodes(df._jdf.queryExecution().executedPlan()))


def python_rdd_scans(nodes):
    """The ``Scan ExistingRDD`` nodes among ``nodes`` that read a pickled
    Python RDD (``createDataFrame`` of a Python list), which every action
    re-runs through Python workers. A local checkpoint also plans as
    ``Scan ExistingRDD`` but is read in the JVM, so it is not one."""
    lineages = [n.rdd().toDebugString() for n in nodes
                if n.getClass().getSimpleName() == "RDDScanExec"]
    return [s.splitlines()[0] for s in lineages if "PythonRDD[" in s]
