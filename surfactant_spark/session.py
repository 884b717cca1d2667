"""SparkSession factory with scale-appropriate defaults.

Local mode is the sandbox stand-in for a multi-executor cluster; every
setting here is chosen to also be correct at 1000-executor / 100 TB
scale (AQE on, skew-join on, Arrow transport on, UTC timestamps for
oracle parity).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# heap ceiling: the default never asks for more than this, however
# large the host
MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap that fits the host: half of ``MemTotal``, capped at
    ``MAX_DRIVER_MEM_MB`` (the cap alone when ``meminfo`` is unreadable).
    Local mode runs every executor thread inside this one JVM, and its
    RSS grows well past the heap, so a fixed 48g OOM-kills it on a
    16 GB host."""
    try:
        with open(meminfo, encoding="ascii") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(kb // 2048, MAX_DRIVER_MEM_MB)}m"


def get_spark(
    app_name: str = "surfactant_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # when callers run independent jobs from concurrent driver
        # threads, FAIR keeps a small dimension job from queueing
        # behind hundreds of tasks of a big Arrow pass
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local-bench corpora are a few GB: the 128m default packs the
        # scan into ~a dozen splits and starves cores; 8m keeps every
        # core fed. On a real 100 TB cluster the default is fine (800k
        # splits) — override via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        # same reasoning post-shuffle: AQE's 64m advisory target would
        # coalesce a ~1 GB shuffle into fewer partitions than cores
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "16m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        # this sandbox VM has lazily host-backed memory: first touch of
        # a new page costs 1-9 s/GB (host-side fault). A fixed,
        # pre-touched heap (set e.g. "-Xms24g -XX:+AlwaysPreTouch" via
        # SPARK_GRAFT_DRIVER_JAVA_OPTS) pays that once at startup
        # instead of mid-benchmark. Harmless on normal hosts.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_partitions(df, *cols, factor: int = 2):
    """Raise a DataFrame's partition count to ``factor ×`` the session's
    core count before compute-heavy per-row or per-pair work.

    Parquet splits are sized by *bytes* (maxPartitionBytes), but shingle
    hashing, Arrow UDF passes, and quadratic within-block pair joins
    amplify compute far beyond input bytes: a corpus that fits one scan
    split would otherwise run its entire downstream on ONE task while
    every other core idles (and, with a broadcast dim side, no shuffle
    ever re-spreads it — measured 14-86 s single-task walls for the
    sf0.1 ngram pair join vs ~1 s spread). With key columns the spread
    is a hash repartition keyed for the downstream join. Note a
    localCheckpoint taken after the spread keeps the RDD *width* but
    not the Catalyst-visible partitioning (it scans as ExistingRDD), so
    an equi join may still plan a cheap re-exchange — the point is that
    per-row passes and broadcast-join streamed sides over the
    checkpoint run at session parallelism either way.

    Keyed spreads hash-partition by the key columns, so when the key
    has fewer than ~2× parallelism distinct values only that many tasks
    carry rows — the co-location needed by the downstream equi join
    bounds the achievable width; full-width execution is only promised
    for the unkeyed form.

    No-op when the input is already at least that wide — at 100 TB the
    scan arrives in thousands of splits and this never fires. The width
    probe touches ``df.rdd`` ONLY for scan-rooted plans (no
    exchange-inducing operator anywhere in the tree): with AQE on,
    ``.rdd`` on a plan *with* exchanges eagerly materializes the
    upstream query stages just to read a partition count, and that work
    is recomputed by the real action. Per plan root:

    - GlobalLimit: spread unconditionally — a limit executes as ONE
      partition and its output is small by construction, so the
      repartition is cheap and the single-task cliff is certain
      otherwise.
    - join/aggregate roots: skipped without probing. The exchange
      re-spreads to ``spark.sql.shuffle.partitions`` width (= session
      parallelism here); the residual caveat is a TINY join/agg output
      that AQE coalesces to ~1 partition — a caller feeding
      compute-amplified work from such a frame should repartition
      explicitly (no operator in this codebase does; every internal
      call site is scan-rooted).
    - explicit repartition(n) roots: also skipped, BY CONTRACT — an
      explicit width is a caller decision this helper must not widen
      (note repartition(2) therefore stays at 2, NOT at session
      parallelism; pass the target width at the call site instead)."""
    import re

    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    from pyspark.sql import functions as F

    def _spread(d):
        return (
            d.repartition(target, *[F.col(c) for c in cols])
            if cols
            else d.repartition(target)
        )

    # optimizedPlan() analyzes but never executes; node names are
    # capitalized, expression names (array_join, aggregate(..)) are not
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if "GlobalLimit" in plan:
        return _spread(df)
    if any(
        k in plan
        for k in (
            "Join", "Aggregate", "Window", "Deduplicate", "Sort",
            "RepartitionByExpression",
        )
    ) or re.search(r"Repartition \d+, true", plan):
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return _spread(df)
