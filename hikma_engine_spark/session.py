"""SparkSession factory tuned for the KG-construction workload.

Scale posture: these configs are the local-mode analog of a 1000-executor
cluster profile — AQE on (runtime coalescing + skew-join splitting),
Arrow for every pandas-UDF boundary, shuffle partitions sized to cores
locally (on a real cluster: 2-3x total cores, AQE coalesces down).

The generated-code cache (``spark.sql.codegen.cache.maxEntries``) holds
1,000 classes instead of 100, so a build's compiled plans survive into
the next build and the next incremental re-index.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of the host's physical memory (``MemTotal``), between 1g and
    64g. Local mode is driver-only, so this is the whole JVM heap: a
    large one keeps the executor pool out of GC/spill (8g measured a 2x
    slowdown on a 2M-turn run on a 128 GiB host), but a fixed 64g on a
    16 GiB host let the JVM grow until the kernel OOM-killed it. Hosts
    without ``meminfo`` get the 64g cap."""
    try:
        with open(meminfo) as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "64g"
    return f"{max(1, min(64, kb // (2 * 1024 * 1024)))}g"


def get_spark(
    app_name: str = "hikma_engine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cores`` controls ``local[N]``; ``shuffle_partitions`` defaults to
    ``cores`` (local mode — there is no network shuffle, so more buys
    nothing but task overhead; AQE coalesces small partitions anyway).
    """
    n = cores or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # cap Arrow batches so pathological turns (1M-char text) cannot
        # blow up a python worker (SURVEY.md §7.4)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode = driver-only: this is the whole memory budget
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the cache is keyed by (class loader, source): one full build
        # cycles through ~160 keys, and an LRU smaller than a cyclic
        # access pattern never hits — at the default 100 every warm
        # build Janino-compiled ~134 classes again
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # CodeGenerator sizes its cache once, in its static initializer, from
    # SQLConf.get. Pipeline's first codegen runs on a pool thread, whose
    # JVM thread (pinned-thread mode) has no active session, so SQLConf.get
    # there returns Spark's defaults and the cache stays at 100 entries.
    # Initialize it here, on the thread getOrCreate made the session active
    # on; later sessions in this JVM keep the size the first one set.
    spark._jvm.java.lang.Class.forName(  # noqa: SLF001
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    return spark


def stop_all() -> None:
    """Tear down the active session (needed between local[8]/local[32]
    scaling runs — master cannot change on a live context).

    Quiesce before stop: cancel stragglers and give the DAGScheduler
    event loop a beat to drain — stopping mid-completion races
    updateAccumulators against accumulator teardown and dumps a
    harmless-but-alarming stack trace into the log (seen in BENCH_r01)."""
    import time

    active = SparkSession.getActiveSession()
    if active is not None:
        try:
            active.sparkContext.cancelAllJobs()
            time.sleep(0.3)
        except Exception:
            pass
        active.stop()
    # SparkContext lingers otherwise
    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:  # noqa: SLF001
            SparkContext._active_spark_context.stop()  # noqa: SLF001
    except Exception:
        pass
