"""Where the benchmark keeps its files and how it starts Spark.

Every file a run writes (inputs, Spark scratch, JVM temp files, the split
writer's output) goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
CORPUS = ROOT / "tests" / "data" / "official_draft4"
# local[N] with N at most the machine's cores
CORES = min(4, os.cpu_count() or 1)
# the heap is fixed (-Xms = -Xmx), so peak RSS does not follow the JVM's
# run-to-run heap resizing
DRIVER_MEM = "2g"


def engine_present() -> bool:
    return ((ROOT / "schemasaurus_spark" / "__init__.py").is_file()
            and CORPUS.is_dir())


def prepare() -> None:
    """Point the engine and every temp-file writer at the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(WORK / "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start(app: str):
    from schemasaurus_spark.session import get_spark

    tmp = WORK / "tmp"
    spark = get_spark(app, master=f"local[{CORES}]", shuffle_partitions=CORES,
                      extra_conf={
                          "spark.ui.showConsoleProgress": "false",
                          "spark.local.dir": str(tmp),
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} "
                              f"-Dderby.system.home={tmp}",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit: the JVM exits when its standard input closes."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=120)
