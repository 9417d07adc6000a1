"""SparkSession factory with scale-oriented defaults.

Defaults are tuned so the same plan that runs on ``local[32]`` here would
survive a 1000-executor cluster: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), explicit shuffle partitioning, Arrow for
the few Pandas-UDF paths, and no ANSI surprises left to chance — expressions
in this engine use ``try_*`` variants so they are correct under Spark 4's
ANSI-on default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "csv-etl-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    ``shuffle_partitions`` defaults to 32 on any host, whatever its core
    count; AQE starts every exchange 8× wider (256 by default) and
    coalesces the excess at runtime.  At cluster scale it would be set
    from input size / target partition bytes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start every exchange wide and let AQE coalesce DOWN: with a
        # fixed 32, the multi-million-row stages (5M-doc LSH banding +
        # connected components, r10) exhaust per-task execution memory
        # (SparkOutOfMemoryError UNABLE_TO_ACQUIRE_MEMORY) — the same
        # reasoning as a real cluster's "initial partitions = 2-3x
        # cores, AQE right-sizes per stage".  Small queries still end
        # at few partitions because coalesce merges by size.
        # r11 A/B at n_runs=5 (BENCHNOTES_r11_aqe_ab.json): of the four
        # queries r10 flagged, only image_dup_clusters pays a tax
        # (+0.75 s) while bm25_terms slightly benefits and the rest are
        # noise — kept, since the widening prevents real OOMs and a
        # per-query gate isn't worth the config surface.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions * 8),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r16 (guide §2.4): let AQE re-plan CACHED plans' output
        # partitioning.  Off (Spark's default) every persist() compiles
        # its child with initialPartitionNum partitions and NO runtime
        # coalescing — measured: a persisted groupBy of a 100k-row frame
        # holds 256 partitions (the AQE initial width) instead of the
        # 1-few AQE picks for the same query unpersisted.  Every
        # iterative operator that persists small state (pagerank links/
        # nodes, the CC resolver's edges/labels, the shingle/TF caches)
        # then runs EVERY downstream stage 256-wide: profiled at sf0.1,
        # part_pagerank burned 250 s of task time (21 s GC) on 38 MB of
        # shuffle.  With the flag on, cached plans coalesce by AQE's own
        # size rules — scale-adaptive by construction (a 100 GB cached
        # frame keeps its width; a 1 MB one stops paying 256 empty-task
        # stage launches).  Trade-off per Spark docs: downstream
        # operations may see a different partitioning than planned for;
        # acceptable here because every consumer of the cached frames
        # re-shuffles by its own keys (joins/aggs) or is explicitly
        # repartitioned (ensure_parallelism).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4.1 wraps every F.*/Column call to record its Python
        # call site: an active-session lookup, a conf read, and a set and
        # clear of the JVM's PySparkCurrentOrigin, all over py4j.  Off, a
        # warm record_clusters rep made 628 py4j round trips instead of
        # 1,598 (cProfile, 4 reps).  What is lost: an ANSI error's
        # "== DataFrame ==" context names a JVM frame instead of the
        # Python file:line; its error class and message are unchanged.
        # PySpark reads the flag once per process, at the first Column
        # call made under an active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # many distinct queries per session → lots of generated classes; the
        # JVM default 240 MB code cache fills and silently disables JIT,
        # degrading expression-heavy plans 5-10× mid-session
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
