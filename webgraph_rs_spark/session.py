"""SparkSession factory tuned for the link-graph workload.

Local-mode testing (`local[N]`) stands in for a multi-executor cluster; the
configs below are the ones that carry over to a 1000-executor deployment:
AQE (runtime re-plan + skew-join splitting for hub domains), shuffle
partition sizing, Arrow for the pandas-UDF extraction boundary.

Python runs in exactly one place: the pandas/Arrow UDFs (extraction, page
synthesis and BVGraph decode among them). The engine never builds a DataFrame from a
Python list. ``spark.createDataFrame(<list>)`` parallelizes the list as a
PythonRDD, which runs per-row Python and, started with a different worker
environment than the Arrow UDFs, gets a ``pyspark.daemon`` worker pool of
its own (about 310 MB of resident memory on the benchmark's crawl job).
Small driver-side tables go through :func:`local_table` instead.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "webgraph_rs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale this should instead be ~2-3x total executor cores; AQE coalesces
    down from there.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N; a real cluster would use dynamic sizing + AQE.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    # shuffle/spill on tmpfs: the sandbox disk is shared and slow; a real
    # cluster would use local NVMe. Overridable via SPARK_LOCAL_DIRS.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.local.dir", local_dir)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # safety net for iterative jobs: plan STRINGS (explain, AQE
        # plan-change events) are built by expanding the logical DAG into a
        # tree — an un-truncated iterative lineage can make that string
        # gigabytes and OOM the driver even though execution is fine. Cap
        # it (output is truncated with a marker; no semantic effect).
        .config("spark.sql.maxPlanStringLength", str(4 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_table(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small driver-side table as a JVM local relation.

    ``rows`` are tuples in the order of ``schema``, a DDL string; no rows
    give an empty table of that schema. The rows reach the JVM as one Arrow
    table, so the plan is a ``LocalTableScan`` and no Python process starts.
    """
    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
