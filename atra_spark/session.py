"""SparkSession builder with the engine's standard configuration.

Scale posture: the same settings are what we would ship in
``spark-submit --py-files`` on a 1000-executor cluster — AQE on
(runtime skew-join splitting for mega-hosts), Arrow enabled for every
pandas UDF, shuffle partitions sized explicitly (never default 200 on
local), and no driver-side collection anywhere in the engine.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Generated-code cache sized to the engine's working set. Spark caches
# Janino-compiled classes in an LRU keyed by (class loader, source), and
# in local mode each stage compiles once under the driver's loader and
# once under the executor's. Measured at 4 vCPU, local[3]: a warm
# analytics pass (12 contract queries) needs ~170 entries and a warm
# crawl unit ~227, so the default 100-entry cache got no hits and every
# pass recompiled 160-230 classes (6-8 s per crawl unit). 1024 leaves
# ~4x headroom and the LRU still bounds memory. Without stage ids in
# class names, two stages with identical generated source share one
# entry; the setting changes only the generated class names.
CODEGEN_CONF = {
    "spark.sql.codegen.cache.maxEntries": "1024",
    "spark.sql.codegen.useIdInClassName": "false",
}


def get_spark(
    app_name: str = "atra-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract), else
    all local cores. On a real cluster the master/deploy settings come
    from spark-submit; everything below is cluster-safe.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(DEFAULT_SHUFFLE_PARTITIONS, cores)

    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep post-shuffle parallelism: with the 64 MB default advisory
        # size AQE coalesces the (compact but CPU-heavy) seen-merge join
        # down to ONE partition — a 23 s serial stage at 8 cores
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size for the pandas stages: 512 rows (~3.5 MB at
        # ~7 KB/page). Re-measured in round 4: the per-batch JVM<->Python
        # round-trip costs ~45 ms regardless of size and larger batches
        # (8192) won an ISOLATED extraction stage by 12% in a calm-DRAM
        # window, but lost 20-55% at round level in four interleaved
        # trials — 3.5 MB batches stay cache-resident across the
        # convert+extract passes while ~57 MB batches stream through
        # this box's contended, anti-scaling DRAM. Small stays the
        # default; CrawlConfig.extract_arrow_batch can override the
        # extraction job per-stage on cache-rich hardware.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.parquet.filterPushdown", "true")
        # pages-scan split size: extraction is Python-CPU-heavy (~10-50x
        # a plain scan per byte), so scan tasks must be much smaller
        # than the 128m default or the mapInPandas stage runs a handful
        # of tasks and starves >8 cores. 8m over the ~400 MB bench
        # corpus = ~50 tasks = 3+ waves at 16 cores.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: driver JVM hosts every executor thread. Measured
        # on this box: 8g outperforms 16-48g by 2-3x on the crawl bench
        # (large G1 heaps add pause time; caches spill to OS page cache
        # instead, which is faster here). Cluster deploys size executor
        # memory via spark-submit.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(map=CODEGEN_CONF)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    # experiment hook: ATRA_SPARK_CONF="k=v;k2=v2" overrides any of the
    # defaults above for a single invocation (used by bench A/Bs; never
    # set in the shipped protocol unless BASELINE.md documents it)
    env_conf = os.environ.get("ATRA_SPARK_CONF")
    if env_conf:
        for pair in env_conf.split(";"):
            if pair.strip():
                k, _, v = pair.partition("=")
                b = b.config(k.strip(), v.strip())
    return b.getOrCreate()
