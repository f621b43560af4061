"""SparkSession factory for the engine.

The reference's engine instance is ``mr_create(map_fn, reduce_fn, threads,
buffer_size)`` (``mapreduce.c:63-122``): ``threads`` maps to Spark
parallelism, ``buffer_size`` has no user-facing analogue (shuffle-internal
backpressure is Spark's job). ``mr_destroy`` maps to ``spark.stop()``.

Configuration is chosen for correctness against the DuckDB oracle (UTC
session timezone, ANSI off) and for scale-readiness (AQE on, skew-join
handling on, shuffle partitions sized to cores locally — on a real cluster
AQE coalescing makes the initial number far less sensitive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mapreduce-framework-api-spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a configured SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else all local cores. At 100 TB
    the same code runs under whatever master the cluster provides; only the
    ``local[N]`` master line is test-harness specific.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Python workers are spawned by the JVM with a fresh interpreter: make
    # this package importable there no matter the caller's cwd (a driver
    # sys.path.insert does not propagate). On a real cluster the package
    # ships via --py-files / a wheel instead.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Right-size shuffles for local runs; AQE coalesces at runtime so a
        # larger initial value is also safe on a real cluster.
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate synthesizes `size(gen)>0 AND
        # isnotnull(gen)` below every explode and pushes it toward the scan
        # — re-evaluating the generator expression (tokenize/shingle/pair
        # expansion here: the engine's most expensive expressions) up to
        # twice more per row, often on the narrow pre-repartition side.
        # Measured on the trigram pipeline: 3.5s -> 1.6s warm at sf0.1 with
        # the rule excluded. The rule only pays off when generators are
        # frequently empty AND cheap, which never holds in this engine.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def clear_session_caches() -> None:
    """Drop every session artifact (sources.readers' one memo: the
    localCheckpoint'd shared tables, corpus and ANN indexes, tier
    outputs, trainer runs, lazy scan handles) and the memo's per-key
    build locks.

    Callers: tests that need a query to genuinely RE-EXECUTE inside one
    application — e.g. the partitioning-invariance suite, which re-runs
    a query under a different ``spark.sql.shuffle.partitions`` and must
    not be served the first run's checkpointed artifact — and any
    harness that changes runtime confs affecting physical plans.
    Checkpointed blocks are released by the JVM ContextCleaner once the
    dropped DataFrames are garbage-collected."""
    from mapreduce_framework_api_spark.sources import readers

    readers._SESSION_ARTIFACTS.clear()
    readers._ARTIFACT_LOCKS.clear()
