"""SparkSession factory with the engine's scale-oriented defaults.

Arrow on (vectorized pandas UDF transfers), AQE on (runtime re-plan, skew
join splitting, partition coalescing). ``shuffle.partitions`` defaults low
for local testing; production submits override via spark-submit conf.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Repo root (parent of the package). Production ships the package with
# `spark-submit --py-files schemasaurus_spark.zip`; in local mode the Python
# workers are separate processes that need the package on PYTHONPATH *before*
# the JVM/daemon starts, which getOrCreate below triggers.
_PKG_ROOT = str(Path(__file__).resolve().parents[1])


def _ensure_pythonpath() -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_ROOT + (os.pathsep + pp if pp else "")
        )


def get_spark(
    app_name: str = "schemasaurus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    _ensure_pythonpath()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "32")),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # InferFiltersFromGenerate copies the ENTIRE generator-input
        # expression into a `size(expr) > 0` filter that pushdown then
        # inlines into the scan as an interpreted DataFilter — for this
        # engine every Generate input is a computed HOF pipeline (violation
        # arrays, shingles, token lists), so the "optimization" re-evaluates
        # the whole tree per row for a filter explode performs anyway
        # (empty arrays emit nothing). Measured 33.7 s -> 4.4 s on the
        # sf1.0 shingle explode; the round-2 "interpreted DataFilter"
        # pathology (CLAUDE.md) entered through this rule.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        # PySpark 4's DataFrame-debugging call-site capture wraps EVERY
        # Column/DataFrame API call with a conf read + stack inspection +
        # origin set/clear — 3 extra py4j round trips per call, on every
        # aggregate builder and Conform callable; it only enriches error
        # messages with user call sites. Off for the engine; re-enable ad
        # hoc when debugging user suites.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/schemasaurus_warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """A driver-side frame of ``rows`` (tuples or Rows in ``schema``'s field
    order; ``schema`` a DDL string or StructType) as a local relation.

    ``spark.createDataFrame(list_of_tuples, ddl)`` plans as ``Scan
    ExistingRDD``: a pickled Python RDD that every action re-runs through
    forked Python workers. Built column by column as a pyarrow Table the
    same rows plan as ``LocalTableScan`` and are read in the JVM. A schema
    Arrow cannot represent raises rather than falling back."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (schema if isinstance(schema, T.StructType)
              else T._parse_datatype_string(schema))
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(arrow)],
        schema=arrow)
    return spark.createDataFrame(table, struct)
