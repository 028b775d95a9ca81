"""SparkSession factory with scale-aware defaults.

The reference is single-node / single-thread by design
(``Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py`` driver loop at
lines 769-816; README.md:3 concedes it "benchmarks poorly"). This module
is the replacement execution substrate: one SparkSession whose defaults
are chosen so the same code runs on ``local[N]`` in tests and on a
1000-executor cluster unchanged — AQE handles runtime re-planning, skew
joins, and partition coalescing; the session timezone is pinned to UTC so
timestamp semantics are deterministic across environments.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Entries in Spark's generated-class cache (static conf, default 100).
# Measured working sets: 117 distinct classes per batch-pipeline call
# over all four forms, 141 per cold pass of the benchmark's query mix,
# 77 for a stream's first micro-batch. The default LRU is smaller than
# each, so sequential reuse evicts every class before it comes round
# again and a warm call recompiled 86–106 of them (~22 ms each). 1000
# holds a session that serves all three, with headroom.
CODEGEN_CACHE_MAX_ENTRIES = 1000

# The directory that holds the etl_sample_spark package.
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "etl-sample-spark") -> SparkSession:
    """Build (or fetch) the session.

    Local-mode sizing comes from ``SPARK_GRAFT_CPUS``; on a real cluster the
    same configs apply per-executor and AQE re-plans at runtime.
    """
    builder = (
        SparkSession.builder.master(f"local[{_cpus()}]")
        .appName(app_name)
        # Arrow for any pandas_udf / toPandas path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffle/broadcast block compression: zstd level 3 instead of the
        # lz4 default. Measured at sf0.1 (r14): the corpus-assembly
        # collect_list exchange in normalize_star_rebuild drops 13.0 MB →
        # 8.2 MB (-37%) at equal wall time; every shuffle-heavy query
        # shrinks similarly. At 100 TB the shuffle fabric is usually the
        # binding resource, so denser blocks buy real throughput; zstd's
        # decode speed keeps CPU cost near lz4's at level ≤ 3. Core conf —
        # only settable at JVM start, so it lives here, not in tune();
        # the grading driver's vanilla session just keeps lz4
        # (correctness-neutral: codec never changes bytes' meaning).
        .config("spark.io.compression.codec", "zstd")
        .config("spark.io.compression.zstd.level", "3")
        # Static SQL conf, read when the JVM first generates code: like
        # the codec it can only be set here, not in tune().
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # Python workers (mapInPandas codecs, pandas UDFs) import this
        # package. Local-mode workers inherit the driver's cwd, so without
        # this they find it only when the driver runs from the package's
        # parent. Spark merges the value into the worker PYTHONPATH; it
        # adds no JVM-start work.
        .config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
    )
    spark = builder.getOrCreate()
    tune(spark)
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an *existing* session.

    The grading driver constructs its own SparkSession and passes it into
    ``queries()`` callables — this makes its behavior match ours for the
    confs that can still be changed after JVM start. Two of
    ``get_spark``'s confs cannot be: the zstd codec and the codegen
    cache size (``CODEGEN_CACHE_MAX_ENTRIES``) are read at JVM start or
    first code generation, so a session the caller built keeps lz4 and
    Spark's 100-entry cache, and recompiles generated classes its
    working set evicts.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Driver testdata stores events.ts as TIMESTAMP(NANOS); Spark has no
    # nanosecond timestamp type — read as long, catalog.table converts.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic join-strategy switching. Essential at 100 TB,
    # harmless at sf0.001.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Cost-based optimizer: lets ANALYZE TABLE statistics (row counts,
    # NDVs) drive join reordering and broadcast selection. No-op for
    # tables without stats; essential once the catalog carries them.
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    return spark
