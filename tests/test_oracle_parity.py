"""Local mirror of the driver's correctness gate: every query in the
registry is run on Spark AND its oracle SQL on DuckDB over the same sf0.01
parquet; rows are compared order-insensitively with columns sorted by name.
"""

import math
import os
import re

import duckdb
import pytest

from plan_walk import executed_nodes, python_rdd_scans
from schemasaurus_spark.queries import QUERIES, build_oracles

ORACLES = build_oracles()

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _norm_cell(x):
    if isinstance(x, float):
        if math.isnan(x):
            return "nan"
        return f"{x:.6f}"
    if isinstance(x, bool):
        return str(x)
    if x is None:
        return "<null>"
    return str(x)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out)


# A scan DataFilter is evaluated interpreted, row by row (BENCH.md round 2
# 'filter-pushdown pathology'): none may carry a higher-order function, a
# hash, a regex rewrite, or a size() over a computed tree (size of a bare
# column, `size(tokens#12, false)`, is fine).
SLOW_DATA_FILTERS = re.compile(
    r"lambdafunction|md5\(|regexp_replace\(|size\((?!\w+#\d+L?[,)])")


# Executor-Python plan nodes. Only the queries whose kernels are Arrow
# UDFs by design may carry them: ann_ivf and multimodal (mapInPandas
# kernels) and conformance_all (the pandas_udf Conform family).
PYTHON_EXEC_NODES = {"MapInPandasExec", "FlatMapGroupsInPandasExec",
                     "ArrowEvalPythonExec", "BatchEvalPythonExec"}
PYTHON_BY_DESIGN = {"ann_ivf", "multimodal", "conformance_all"}


def _assert_plan_pins(name, sdf):
    nodes = executed_nodes(sdf)
    if name not in PYTHON_BY_DESIGN:
        py = [n.getClass().getSimpleName() for n in nodes
              if n.getClass().getSimpleName() in PYTHON_EXEC_NODES]
        assert not py, f"{name}: executor-Python nodes {py}"
    # DataFilters read from the scan nodes: the plan string abbreviates
    # each list to 100 characters
    filters = [n.dataFilters().mkString(", ") for n in nodes
               if n.getClass().getSimpleName() == "FileSourceScanExec"]
    slow = [f for f in filters if SLOW_DATA_FILTERS.search(f)]
    assert not slow, f"{name}: interpreted scan DataFilters {slow}"
    # driver-built frames are local relations, never a Python RDD
    rdd = python_rdd_scans(nodes)
    assert not rdd, f"{name}: Python-worker scans {rdd}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    if name not in ORACLES:
        # rows-only contract (approximate/binary ops): must run and return
        # a stable schema; the driver records the weaker check
        sdf = QUERIES[name](spark, SF_DIR)
        assert sdf.columns and sdf.count() >= 0
        _assert_plan_pins(name, sdf)
        return
    sdf = QUERIES[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    _assert_plan_pins(name, sdf)

    cur = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(c.lower() for c in duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    a = _normalize(spark_rows, [c.lower() for c in spark_cols])
    b = _normalize(duck_rows, [c.lower() for c in duck_cols])
    assert len(a) == len(b), f"{name}: row count {len(a)} vs oracle {len(b)}"
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"
