"""SparkSession factory.

Centralizes the settings every entry point needs:
  - AQE on (runtime coalescing, broadcast decisions, skew-join splitting) —
    at 100 TB this is what keeps shuffle partition counts sane without
    hand-tuning per query.
  - UTC session timezone — ``hour``/``dayofweek``/``date_trunc`` are
    timezone-sensitive (SURVEY.md §7 hard-parts #7).
  - Arrow enabled for the Pandas-UDF operators (similarity/multimodal).
  - Sized to the host unless told otherwise: shuffle partitions default
    to the session's core count (``defaultParallelism``) and the driver
    heap to half the host's memory.

Resolution order, first set wins:
  - master: ``master`` argument, ``SPARK_GRAFT_MASTER``,
    ``local[$SPARK_GRAFT_CPUS]``, ``local[*]``;
  - shuffle partitions: ``spark.sql.shuffle.partitions`` in
    ``extra_conf``, ``shuffle_partitions`` argument,
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS``, ``defaultParallelism``;
  - driver heap: ``SPARK_GRAFT_DRIVER_MEM``, ``default_driver_memory()``.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
# heap cap, sized for local[32]
MAX_DRIVER_MEM_MB = 24 * 1024
# heap when host memory is unknown (no /proc/meminfo)
FALLBACK_DRIVER_MEM = "4g"


def resolve_shuffle_partitions(
    requested: int | None, env_value: str | None, default_parallelism: int
) -> int:
    """The argument, then ``SPARK_GRAFT_SHUFFLE_PARTITIONS``, then the
    session's core count. AQE coalesces batch plans, but not micro-batch
    plans or stateful operators: there every stage runs exactly this
    many tasks, and a streaming state store keeps this many partitions
    for the life of its checkpoint. A count above the cores only adds
    per-task overhead and small files."""
    if requested is not None:
        return int(requested)
    if env_value:
        return int(env_value)
    return default_parallelism


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of ``MemTotal``, clamped to [1g, 24g]; ``FALLBACK_DRIVER_MEM``
    when host memory cannot be read. local[N] runs every task in the
    driver heap, so it wants room for N concurrent tasks, but a heap
    larger than the host ends in an OOM kill instead of a spill."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    half_mb = int(line.split()[1]) // 1024 // 2
                    return f"{max(1024, min(MAX_DRIVER_MEM_MB, half_mb))}m"
    except (OSError, ValueError, IndexError):
        pass
    return FALLBACK_DRIVER_MEM


def get_spark(
    app_name: str = "dbt_datbricks_demo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    extra_conf = extra_conf or {}

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # InferFiltersFromGenerate turns explode(expensive_array_expr)
        # into a size(...)>0 filter that predicate-pushdown then clones
        # BELOW the repartition exchange — the whole array expression
        # (minhash shingles, n-grams) re-executes on the narrow pre-
        # shuffle side, single-threaded, before the real computation
        # runs again post-shuffle. For this engine staged expensive
        # arrays are the norm, so the rule is globally excluded.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ContextCleaner reclaims shuffle files / broadcast blocks / RDD
        # metadata only when driver GC collects their weak references; in
        # a large, rarely-collected heap the cleanup debt accumulates
        # across a many-query session. The default periodic-GC interval
        # (30min) is longer than a whole session here.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # local[N] runs every executor thread inside this one JVM heap — size
        # it for N concurrent tasks, not for a lone driver (GC stalls at 8g)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # the default 100-entry generated-class cache thrashes on a
        # 100+-query session (every query re-pays Janino compile on its
        # second run); static conf, so it must be set before the JVM
        # starts. Memory cost is bounded: classes, not data.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    if SHUFFLE_PARTITIONS not in extra_conf:
        # The default is the context's core count. Start the context on
        # its own, with the settings getOrCreate would give it: reading
        # the count off a session and setting the conf there would build
        # the session's SQL state during start-up instead of lazily.
        sc = SparkContext.getOrCreate(SparkConf().setAll(builder._options.items()))
        partitions = resolve_shuffle_partitions(
            shuffle_partitions,
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"),
            sc.defaultParallelism,
        )
        builder = builder.config(SHUFFLE_PARTITIONS, str(partitions))
    return builder.getOrCreate()
