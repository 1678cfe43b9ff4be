"""SparkSession factory with scale-aware defaults."""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import DataFrame, SparkSession


def drop_zip_finders() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``.

    Call it first in every function that runs in a Python worker (pandas
    UDFs, ``mapInPandas``, ``applyInPandas``). Before each task, pyspark's
    ``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``.
    On CPython 3.10-3.12 that makes every cached zipimporter re-read its
    whole archive directory. A worker that imports pyspark from
    ``pyspark.zip`` (1328 entries) caches one finder per package
    directory it imported from, plus finders on the spark-core jar (5359
    entries) and the py4j zip: 16 in all on Spark 4.1.2. One
    invalidation then took 134-182 ms of worker CPU, against 0.1-4 ms
    without them (CPython 3.11.7, 4-core x86 host); a 4-task pandas-UDF
    job spent 712-863 ms of worker CPU with them and 145-163 ms
    without, ~0.2 s of stage wall per task. CPython 3.13 made the
    invalidation lazy, and there this helper only saves a few dict
    entries.

    Dropping is safe: the cache is only a cache. The next import that
    needs a zip path builds a new finder from ``zipimport``'s own
    directory cache without re-reading the archive. Call it on every
    call, not once per worker: first-time imports add new finders."""
    cache = sys.path_importer_cache
    for key in [k for k, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[key]


def release_checkpoints(df: DataFrame) -> None:
    """Drop the blocks of every ``localCheckpoint`` that ``df`` reads.

    The JVM keeps a checkpoint's blocks until a garbage collection lets
    Spark's ContextCleaner find its RDD unreachable, long after the
    frame's last use; a long-lived service would carry them from call to
    call. Call it once nothing will read ``df`` again: reading it
    afterwards fails."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(True)


def get_spark(
    app_name: str = "thoth_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults target local development; on a real cluster the same settings
    (AQE on, UTC session TZ, Arrow on) remain the right baseline and
    ``shuffle_partitions`` should be left to AQE coalescing.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    # Python workers inherit PYTHONPATH from the JVM's environment, not the
    # driver's sys.path. A driver script that imports thoth_spark via a
    # sys.path edit (or a cwd other than the repo root) would otherwise ship
    # pickled mapInPandas/applyInPandas functions the workers cannot unpickle
    # (ModuleNotFoundError: thoth_spark). Exporting the package root before
    # the JVM forks makes every entry query location-independent; on a real
    # cluster the same need is met by --py-files/pex, so this is a no-op there
    # (workers that already resolve the package are unaffected).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor defaults to 1m, sized for IO-bound
        # scans; this engine's post-shuffle stages are CPU-dense (set
        # intersections, gram explodes, bit_count verifies — seconds of
        # CPU per compressed shuffle MB), and the 1m floor collapses
        # them to a single task whenever a stage's shuffle is small
        # (paired A/B: 24-34% off the simhash/jaccard/containment/
        # survivors walls at 64k). 256k, not 64k: iterative small-frame
        # loops (components pointer-jump) pay per-task overhead for the
        # extra spread, and 256k keeps the single-pass wins while
        # halving that penalty (semdedup A/B: 6.2s@64k / 5.3s@256k /
        # 4.8s@1m vs the 3.6s→2.4s simhash win, stable across floors).
        # parallelismFirst already prefers spreading over the advisory
        # size; the floor is the only blocker, and at production
        # shuffle sizes (partitions ≫ 1m) it never binds.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("THOTH_SPARK_AQE_MIN_PARTITION", "256k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark's codegen cache keeps 100 compiled classes by default.
        # A process of the daily monitoring loop (onboard, then warm
        # assess_new_ts calls and dashboard reads; perfbench
        # daily_monitor, 4 cores) compiles 166 distinct classes, and one
        # of the ANN operators (perfbench ann_dedup) 129. The default
        # evicts that working set on every call: a warm assessment
        # recompiled 83-101 classes, and the JIT compiling them burned
        # more CPU than the assessment's Spark tasks. At 1000 a warm
        # assessment compiles only the few classes that carry its new
        # ts literal. Static SQL conf: set before the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # pyspark's DataFrame debugging (on by default) captures the
        # Python call site of every Column function and DataFrame method
        # it wraps: a stack walk, an `import IPython` attempt and ~10
        # py4j round trips each. Building the lazy profile of one
        # 1000-row day (perfbench daily_monitor inputs, warm, 4 cores)
        # took 0.39-0.46 s and 2.9-3.0k py4j round trips with it, and
        # 0.20-0.23 s and 1.0k without. The cost: an error raised while
        # a DataFrame runs no longer names the Python line that built
        # the failing expression; the error message and the JVM stack
        # trace stay. Static conf: pyspark reads it once per process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("THOTH_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
