"""SparkSession factory tuned for the validation workload.

Local mode takes its core count from ``SPARK_GRAFT_CPUS`` and its driver
heap from ``SPARK_DRIVER_MEMORY`` (default: half the host's physical
memory, at most 48g, so a small host's JVM never grows past what the
host has); on a real cluster the same settings apply minus the
master/memory overrides. AQE, shuffle partitions and Arrow are set here;
scan splits are left to Spark's own sizing (small files pack into shared
splits, and ``spark-submit --conf`` governs).

PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``)
is turned off. With it on, every DataFrame and Column call records its
Python call site in the JVM: a session lookup, a conf read and a
set/clear of the JVM-side origin around the call (``F.col`` costs 13 Py4J
round trips instead of 3 on PySpark 4.1), a Python stack walk, and an
``import IPython`` on the first call. The operators here build plans from
hundreds of generated expressions, so that tax dominated the driver's fixed
cost per call. What is lost is the Python file:line "DataFrame context" in
Spark error messages; errors still raise with their error class.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical memory, at most 48g, as a Spark size string."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2 // 2**20, 48 * 1024)}m"


def get_spark(
    app_name: str = "pysemantic_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). ``shuffle_partitions`` defaults to the core count — at cluster
    scale this should instead be ~2-3x total executor cores; AQE coalesces
    the excess either way.

    Sets ``spark.python.sql.dataFrameDebugging.enabled=false`` (see the
    module docstring for the cost it removes). To get the Python call site
    back in error messages, pass
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
    PySpark reads the flag once per process, at the first Column call made
    with an active session, and caches it: set it on the first session the
    process builds, since changing it on a later session has no effect.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; leave headroom for AQE to coalesce
        n = cpus if master.startswith("local") else 2 * cpus
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime (AQE) sort-merge→broadcast conversion bound. The STATIC
        # autoBroadcastJoinThreshold stays at its 10 MB default because it
        # acts on size ESTIMATES (often wildly wrong after filters/UDFs);
        # this one acts on MEASURED shuffle sizes, so 128 MB is safe and
        # scale-adaptive by construction: a doc-bounded side (e.g. the
        # shingle-array frame a pair-verify join attaches) broadcasts at
        # bench scale — the pair stream then never exchanges its payload —
        # while at 10^9 docs the measured size exceeds the bound and the
        # join stays a shuffle join. (guide §3.1; round-7 measured: the
        # ngram verify joins shuffled ~19 GB of shingle arrays without it)
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        # wide fused check projections + 64-way sketch aggs generate large
        # methods; default 240m code cache fills and disables the JIT
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
