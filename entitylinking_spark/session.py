"""SparkSession factory with the configuration this engine assumes.

Local mode stands in for a multi-executor cluster; the same settings
(AQE, Arrow, sensible shuffle partitioning) are what we would pass to
spark-submit on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-class cache (a static, JVM-wide LRU; default 100). A
# resolve() uses ~120 generated classes, a fold ~130 and link_mentions ~95,
# so at the default every warm resolve recompiles ~90 of them in Janino
# (0.6-0.8 s) and runs them JIT-cold (SCALE.md "Memory"). Static conf: a
# caller-built session must set it at build time.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "entitylinking-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    cores: parallelism for local mode (default: $SPARK_GRAFT_CPUS or '*').
    shuffle_partitions: default = max(cores, 8); on a real cluster this
    would be ~2-3x total executor cores (AQE coalesces the excess).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(n_cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big `content` strings: small Arrow batches are a measured 2x on
        # the keys stage (round-5 probe, 200k rows local[8]: batch
        # 10000 = 16.3 s, 2000 = 8.1 s, 1000 = 7.6 s, 20000 = 28.0 s) —
        # 10000-row batches of multi-KB docs are ~20 MB per transfer and
        # thrash the worker's cache/memory bus; 2000 (~4 MB) is the knee.
        # Full-pipeline effect at 200k: -12% wall, identical pair counts.
        # (SURVEY.md §7 names this pitfall; JVM-side pre-tokenization was
        # also measured and is 8-17x WORSE — see the keys-stage record
        # in BASELINE.md's round-5 results.)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        # local scans of medium parquet otherwise yield too few partitions
        # for the Arrow-UDF stage (400 MB -> 4 tasks); on a real cluster the
        # input file count dominates and this only splits giant files
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Catalyst Union constraint rewriting bug with shared-lineage unions
        # (see operators/cc.py); the inference it disables is worthless here
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
