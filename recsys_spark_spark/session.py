"""SparkSession factory with scale-appropriate defaults.

Shuffle width rule: unless the caller pins ``shuffle_partitions``, every
shuffle is exactly one wave wide — ``spark.sql.shuffle.partitions`` is the
session's resolved task-thread count (``sparkContext.defaultParallelism``),
and AQE only ever coalesces below it. A wave is one round of tasks with one
task per task thread. Persisted frames keep the width they were built with
(AQE does not coalesce a cached plan's output), so at a fixed width of 32 on
3 task threads every stage that scans the cached CF interaction matrix ran
32 tiny tasks — about 11 waves of per-task overhead for work one wave holds.
Exactly one wave, not a multiple of it: with more partitions than threads
AQE may coalesce a shuffle to a count that is not a whole wave, and a lone
extra task then runs in a second wave. On perfbench itemcf_batch (3 task
threads, 4-CPU host, seeds 61-67) the pass median was 3.27 s at width 3,
3.72 s at 6 (two waves) and 4.71 s at 32; one wave beat two on 6 of 7
seeds. An earlier set saw 6 barely ahead of 32 (4.07-4.33 s against
4.27-4.93 s; 3.05-3.40 s at 3), when AQE coalesced the pair shuffle to 4
partitions on 3 threads. On a real cluster the same code runs with the
cluster-provided session; query code never assumes a specific parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "recsys_spark_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime re-planning — post-shuffle coalesce, skew-join split,
        # broadcast conversion. Core of the 100 TB story (SURVEY.md §5).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all Python<->JVM data transfer (toPandas, pandas_udf).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is parquet TIMESTAMP(NANOS); Spark 4 refuses it unless
        # read as raw longs (catalog._load truncates to µs). Session-level so
        # the per-table loader never mutates a running session's conf.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[32] runs all 32 task threads in the driver JVM; an undersized
        # heap turns the CF pair aggregates (tens of millions of transient
        # structs per run) into multi-second full-GC pauses.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # Whole-stage codegen emits fresh classes per query; the JVM default
        # 240 MB reserved code cache fills after a few dozen stages, silently
        # dropping hot loops back to the interpreter (observed 3-4x CPU
        # inflation with 8s..73s swings on an identical query). A 1 GiB code
        # cache keeps every compiled stage JIT-resident.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffled-hash over sort-merge where AQE doesn't broadcast: the CF
        # self-join and scoring joins have no useful sort order to exploit,
        # and SHJ skips two per-partition sorts.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    # static confs (e.g. spark.driver.maxResultSize) must be set before the
    # context exists — runtime spark.conf.set() silently has no effect on
    # them, so harness tools pass them here (the probe harness collects
    # full sf1 result tables and needs a larger-than-default cap).
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() returns any PRE-EXISTING session, silently ignoring every
    # builder conf above for STATIC/core confs — a probe that expected an 8g
    # maxResultSize could be running with the 1g default (ADVICE r7). Static
    # confs can't be fixed up after the fact, so fail loudly instead of
    # measuring under the wrong limits. Read back from the SparkContext conf
    # (the launch-time truth), NOT spark.conf: getOrCreate copies builder
    # options into the SESSION conf map even when the running JVM ignores
    # them, so the session conf reports the requested value either way.
    for k, v in (extra_conf or {}).items():
        got = spark.sparkContext.getConf().get(k, None)
        if got != v:
            raise RuntimeError(
                f"extra_conf {k}={v!r} not in effect (SparkContext reports "
                f"{got!r}); a pre-existing SparkSession was reused — stop it "
                "first or pass the conf when the FIRST session is created"
            )
    # One wave (module docstring); the thread count is only known once the
    # context exists, and shuffle width is a runtime SQL conf.
    width = shuffle_partitions or spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    return spark
