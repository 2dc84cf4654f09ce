"""Walk a physical plan's nodes for plan-shape pins (no Spark job), and
count the Spark jobs a block of code starts."""

from contextlib import contextmanager


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
        out.extend(sc.statusTracker().getJobIdsForGroup(group))


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
