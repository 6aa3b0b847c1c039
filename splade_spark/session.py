"""SparkSession factory tuned for local[N] on one host.

On a real cluster the same builder works with ``--master yarn`` etc. via
spark-submit; nothing here is local-only except the defaults for width
and driver memory, which follow the host: every core this process may run
on, and a quarter of physical memory for the driver heap. The
``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM`` environment variables
override them for a deployment.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def default_cpus() -> int:
    """local[N] width: ``SPARK_GRAFT_CPUS``, else the cores this process
    may run on."""
    return int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )


def default_driver_heap_mb() -> int:
    """Driver heap: a quarter of MemTotal, clamped to [1 GiB, 8 GiB]. The
    JVM heap must stay well below physical memory, which also holds the
    Python driver, the Python workers and the page cache — a heap sized
    past RAM grows until the kernel's OOM killer ends the JVM."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return min(8192, max(1024, mem_kb // 1024 // 4))


def get_spark(
    master: str | None = None,
    app_name: str = "splade_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{default_cpus()}]"
    if shuffle_partitions is None:
        # match core count in local mode; a cluster deployment would size
        # this to ~2-3x total executor cores (or rely on AQE coalescing)
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM")
                or f"{default_driver_heap_mb()}m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Throughput GC: G1's concurrent cycles contend with mutator threads
        # at high local parallelism on allocation-heavy stages (measured: a
        # 70M-row string explode runs 1.7x SLOWER at local[32] than local[8]
        # under G1, and scales ~0.85-efficient under ParallelGC). A real
        # cluster sets this per-executor via spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    # Shuffle/spill on tmpfs is OPT-IN (env-gated): this sandbox's block
    # device is burst-throttled and has RAM to spare, so the bench/test
    # entrypoints set SPARK_LOCAL_DIRS=/dev/shm/... — but the library
    # default stays Spark's disk default. Spilling to tmpfs on a real
    # host defeats the purpose of spilling (a large spill would OOM-kill
    # the executor instead of hitting disk); real clusters point
    # spark.local.dir at local NVMe per executor.
    if os.environ.get("SPARK_LOCAL_DIRS"):
        builder = builder.config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession, width: int | None = None) -> None:
    """Fork + import-warm one Arrow Python worker per core.

    The first pandas-UDF stage of a session otherwise pays the whole
    pandas/pyarrow import storm (~0.5s × cores, concurrent) inside real
    work. A long-lived cluster's executors are warm; benchmarks should
    measure the engine, not the one-time daemon startup."""
    width = width or spark.sparkContext.defaultParallelism

    def _noop(batches):
        yield from batches

    (
        spark.range(width * 4, numPartitions=width)
        .mapInPandas(_noop, schema="id long")
        .count()
    )


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Small driver-side ``rows`` (tuples in ``schema`` column order) as a
    DataFrame with the DDL ``schema``. It is built from a pyarrow table,
    so it plans as a ``LocalRelation`` that runs no Python task; a Python
    list would become a Python-RDD scan (``LogicalRDD``) paying a Python
    worker task per partition on every execution."""
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(
        pa.table([pa.array(c, f.type) for c, f in zip(cols, arrow)],
                 schema=arrow),
        schema=struct,
    )
