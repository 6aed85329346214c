"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a cluster deployment would set per-executor:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
shuffle partitions sized to cores rather than the 200 default, a take whose
first job reads one wave of partitions (cores) rather than one, Arrow enabled
for the Pandas-UDF slow path, and a UTC session timezone so timestamp
semantics match columnar stores (and the DuckDB oracle).

The generated-code class cache holds 512 classes instead of Spark's 100,
so a session that reruns the same plan shapes (a dashboard re-querying one
file view, a benchmark loop) compiles each generated class once. The cache
is one per JVM: an LRU split over 4 hash segments, each holding a quarter
of the bound, so a cycle over more classes than fit evicts each class
before its next use, and a reloaded class also restarts interpreted in the
JIT. Measured working sets (local[4]): the 9 ``perfbench`` ``analytics``
queries generate 113 distinct classes on that benchmark's data;
``bench.py``'s warm-up of its 20 headline queries at sf0.001 (count and
noop plans) 341; a session that ran the 9 and then the 20 held 337. At
100 entries an ``analytics`` round in a fixed order recompiled 85 of its
113 classes, every round. With both sets in one session, each round still
recompiled 18-53 classes at 384 entries (one segment overflowed), and none
at 512 after the first. The conf is static, read once when the JVM starts:
a session built elsewhere (a verification driver's own builder, or a JVM
started before :func:`get_spark`) keeps the bound it started with, Spark's
100 unless its builder set one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def runtime_confs(cores: int) -> dict[str, str]:
    """The engine's runtime-settable SQL defaults for ``cores`` task slots."""
    return {
        "spark.sql.shuffle.partitions": str(cores),
        # A take's first job reads one wave of partitions, not one
        # partition: a lookup's limit(2) guard must read every partition
        # when exactly one row matches, which is then one job instead of a
        # 1-partition job and a job over the rest. It still stops once the
        # limit is met; only its first job is wider.
        "spark.sql.limit.initialNumPartitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
    }


def apply(spark: SparkSession) -> None:
    """Pin :func:`runtime_confs` on a session built elsewhere (a
    verification driver's builder, a ``newSession()`` sibling), keeping a
    shuffle width the caller changed from Spark's 200. Static confs stay
    with :func:`get_spark`'s builder: a running session refuses them."""
    conf = spark.conf
    for key, value in runtime_confs(spark.sparkContext.defaultParallelism).items():
        if key != "spark.sql.shuffle.partitions" or conf.get(key) == "200":
            conf.set(key, value)


def get_spark(app_name: str = "bridge-analytics-spark", cores: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a real
    cluster the ``master`` local[) line is replaced by the cluster manager;
    every other conf below is cluster-appropriate as-is.
    """
    n = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config(map=runtime_confs(n))
        # Debug-only call-site capture costs 3-4 extra py4j round trips per
        # DataFrame method — measured 0.4-0.8 s of pure driver latency on
        # plan-heavy queries (the dedup cascade builds ~700 jvm calls).
        # Production clusters run with it off; errors still carry the full
        # Python traceback.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Static: sized to the measured working set (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
