"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every config here is chosen to be
the right default on a real multi-executor cluster too: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), broadcast joins
enabled with a sane threshold, Arrow for any pandas-UDF exchange, and
shuffle partitions sized for the local fixture scale (overridable).

Generated-code cache. Spark keeps the classes Janino compiles for
whole-stage codegen in a cache keyed by generated source
(``spark.sql.codegen.cache.maxEntries``, a static conf, default 100).
This engine's working set is larger than that (measured on 4 cores):
one round of the perfbench ``dedup_guard`` workload generates 186-192
distinct classes (``dedup_components_star`` alone about 100), and one
round of ``bench.py``'s 27 headline queries at sf0.01 generates 462-508
(the lower figures with stage ids out of the class names, below). With
100 entries the cache evicts in a cycle and every warm run compiles its
whole-stage code again: 181-186 compiles per warm ``dedup_guard`` round,
700 per warm headline round. A compiled entry costs 12-23 KB of
metaspace (metaspace growth per recompile at 100 entries), so
``CODEGEN_CACHE_ENTRIES`` = 2048, four times the largest measured
working set, bounds the cache at under 50 MB. The value is a constant,
not an option: it follows from the engine's own plan shapes, not from
the data or the cluster, and a caller that needs another size can pass
it through ``extra_conf``. The cache holds compiled code only, never
data or results.

The cache only helps if a rebuilt plan generates the same source. By
default Spark names each generated class after its whole-stage codegen
stage id, and under AQE that id follows the order in which query stages
happen to finish (seen on ``pipeline_pretrain``: two aggregation stages
swapped ids between runs and recompiled). ``useIdInClassName`` is
therefore off; the id still shows in plans as ``*(n)``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Measured working sets (module docstring): 186-192 classes per
# dedup_guard round, 462-508 per headline round at sf0.01; 12-23 KB of
# metaspace per class.
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "hadoop-mapreduce-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you'd size this to ~2-3x total executor cores or simply rely
    on AQE coalescing, which is enabled here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    # Local mode runs driver + all 32 executor threads + every broadcast
    # build in ONE JVM whose heap defaults to 1g — that heap, not any
    # plan, is what falls over first as data grows (observed: broadcast
    # build OOM at 8x sf0.1). Size it like the single node it is; on a
    # real cluster this maps to normal executor/driver memory sizing.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        # --- query optimization ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- python/JVM data exchange (pandas UDFs) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- deterministic timestamps across engines ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- compiled whole-stage code survives across queries ---
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # keep the stage id out of the generated class name, so the same
        # stage hits the cache whatever id AQE happened to assign it
        .config("spark.sql.codegen.useIdInClassName", "false")
        # keep the UI off in test/bench runs: less overhead, no port races
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# --- scoped operator caches -------------------------------------------------
# Operators that genuinely need a mid-plan materialisation (iterative CC,
# two-pass LM builds, candidate-pair reuse) persist through this registry
# instead of bare .persist(), so a long registry run (153 queries in one
# session) doesn't accumulate dead cached partitions in executor storage:
# harness code (bench.py, tools/oracle_check.py) calls release_caches()
# after each query's results are materialised.

_SCOPED_CACHES: list = []


def scoped_persist(df, storage_level=None):
    """Persist ``df`` (MEMORY_AND_DISK by default) and register it for
    :func:`release_caches`. Returns the persisted DataFrame."""
    from pyspark import StorageLevel

    df = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)
    _SCOPED_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every DataFrame registered via :func:`scoped_persist`
    (blocking=False — eviction proceeds async). Safe to call at any
    point after the consuming query has materialised its result."""
    n = 0
    while _SCOPED_CACHES:
        df = _SCOPED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may already be stopped
            pass
    return n
