"""Sources: table readers and format connectors.

The reference's only source is a per-mapper POSIX fd on one local file
(``mapreduce.h:48``, byte-range split computed by the app,
``bin/mr-wordc.o:wc_count+0x2d-0x72``). Spark's FileSourceScanExec computes
the same splits (``spark.sql.files.maxPartitionBytes``) with straddle
handling built in, so the "source layer" here is a thin catalog over
``spark.read`` — columnar parquet scans get predicate pushdown and column
pruning from Catalyst for free, which is exactly what a 100 TB scan needs.

Format support beyond the reference (parquet/csv/json/orc/text) is provided
by ``read_any``. Lake formats: with runtime jars, ``read_lake`` uses the
genuine DataSource; without them, DELTA reads through the pure-Spark
transaction-log resolver (``read_delta_log`` — public-protocol subset,
refuses loudly outside it) and ICEBERG stays a guarded stub.
"""

from __future__ import annotations

import functools
import inspect
import os
import threading

from pyspark.sql import DataFrame, SparkSession

# The driver-generated synthetic catalog (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def fixture_fingerprint(sf_dir: str, name: str) -> tuple:
    """(filename, mtime_ns, size) fingerprint of one catalog table's
    parquet file (or file-per-partition directory). Session caches fold
    this into their keys so a fixture regenerated IN PLACE within one
    Spark application rebuilds the cached artifact instead of serving
    stale results (the q_text_bpe_merges trainer-cache fix, round 6
    advice, generalized to every session cache)."""
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    if os.path.isdir(path):
        return tuple(
            sorted(
                (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                for e in os.scandir(path)
                if e.is_file()
            )
        )
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_mtime_ns, st.st_size),)
    # Missing fixture: let the actual read raise the clear error; the
    # sentinel just keeps key construction total.
    return (("missing", 0, 0),)


def parquet_rows(path: str) -> int:
    """Row count of a parquet file, or of a directory of part files, from
    footer metadata: a driver-side read, no Spark job and no data scan."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.read_metadata(path).num_rows


def session_cache_key(spark: SparkSession, sf_dir: str, *names: str) -> tuple:
    """The session part of every memo key (``session_artifact``):
    (applicationId, abspath(sf_dir), input-table fingerprints). One
    definition so every artifact gets the staleness guard."""
    return (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        tuple(fixture_fingerprint(sf_dir, n) for n in names),
    )


# The ONE session memo: every artifact the engine shares across queries
# inside a Spark application (checkpointed pair tables, corpus and ANN
# indexes, tier outputs, trainer runs, lazy scan handles) lives here under
# (builder name, session_cache_key, builder arguments). One dict means one
# clear (session.clear_session_caches) and one seeding seam for the
# artifact store (operators/artifacts.py). A stored None is an entry like
# any other: an empty-corpus result is not rebuilt.
_SESSION_ARTIFACTS: dict[tuple, object] = {}
# One lock per key being built, so concurrent callers (the artifact
# store's persist pool) build a shared prerequisite once.
_ARTIFACT_LOCKS: dict[tuple, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


def memoize(key: tuple, build):
    """The memo entry for ``key``; on a miss, ``build()`` runs and its
    result is stored. The probe precedes any of the builder's work.

    Single-flight: a miss takes ``key``'s own lock and probes again, so
    threads that miss on one key together wait for the first one's build
    and share its result. Builds of different keys run in parallel; a
    builder that needs another artifact takes that key's lock while
    holding its own, which cannot deadlock because builders call each
    other acyclically. A build that raises stores nothing, and the next
    caller builds again."""
    try:
        return _SESSION_ARTIFACTS[key]
    except KeyError:
        pass
    with _LOCKS_GUARD:
        lock = _ARTIFACT_LOCKS.setdefault(key, threading.Lock())
    with lock:
        try:
            return _SESSION_ARTIFACTS[key]
        except KeyError:
            pass
        out = _SESSION_ARTIFACTS[key] = build()
        return out


def peek_artifact(key: tuple):
    """The memo entry for ``key``, or None when absent — never builds."""
    return _SESSION_ARTIFACTS.get(key)


def seed_artifact(builder, spark: SparkSession, sf_dir: str, value) -> None:
    """Make ``builder(spark, sf_dir)`` return ``value`` for the rest of the
    session (the artifact-store load path)."""
    _SESSION_ARTIFACTS[builder.artifact_key(spark, sf_dir)] = value


def session_artifact(*tables: str):
    """Decorator memoizing ``build(spark, sf_dir, *args)`` per session,
    keyed by the builder's qualified name, ``session_cache_key(spark,
    sf_dir, *tables)`` — so a fixture regenerated in place rebuilds — and
    the remaining arguments (defaults applied, so equal calls share an
    entry). The wrapper's ``artifact_key`` computes the key without
    building. The builder decides its own materialization
    (localCheckpoint or lazy)."""

    def deco(build):
        name = f"{build.__module__}.{build.__qualname__}"
        sig = inspect.signature(build)

        def artifact_key(spark: SparkSession, sf_dir: str, *args, **kwargs) -> tuple:
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            rest = tuple(bound.arguments.values())[2:]
            return (name, session_cache_key(spark, sf_dir, *tables), rest)

        @functools.wraps(build)
        def memoized(spark: SparkSession, sf_dir: str, *args, **kwargs):
            key = artifact_key(spark, sf_dir, *args, **kwargs)
            return memoize(key, lambda: build(spark, sf_dir, *args, **kwargs))

        memoized.artifact_key = artifact_key
        return memoized

    return deco


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one catalog table as a DataFrame (lazy; pushdown-capable).

    The handle is session-memoized (r15): ``spark.read.parquet`` costs
    ~80 ms of driver-side listing, footer inference and py4j round trips,
    paid one to three times inside every query build. The memoized object
    is an UNMATERIALIZED plan — every action still reads the files and
    plans afresh — so only the schema discovery is reused, and a fixture
    regenerated in place re-infers (the key carries its fingerprint).

    events.ts normalization is schema-adaptive — fixtures have shipped both
    parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS), and a reader that
    hard-codes one physical encoding breaks on the other:

    - TIMESTAMP(NANOS): Spark 4 refuses to read it as a timestamp
      ([PARQUET_TYPE_ILLEGAL]); retry with legacy.parquet.nanosAsLong and
      convert ns → µs in the plan (``ts DIV 1000`` — integer division; a
      double roundtrip would lose precision above 2^53 ns). Matches
      DuckDB's CAST(ts AS TIMESTAMP) truncation.
    - TIMESTAMP(MICROS) (isAdjustedToUTC=false): reads natively as
      TIMESTAMP_NTZ; cast to TimestampType (value-preserving: the session
      timezone is pinned to UTC) so downstream plans see one type either
      way.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = ("table", session_cache_key(spark, sf_dir, name), (name,))
    return memoize(key, lambda: _build_table(spark, sf_dir, name, path))


def _build_table(
    spark: SparkSession, sf_dir: str, name: str, path: str
) -> DataFrame:
    if name == "events":
        from pyspark.sql import functions as F

        try:
            df = spark.read.parquet(path)
        except Exception:
            # Schema inference failed — the nanos encoding. Enable the
            # legacy long read and retry.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type in ("bigint", "long"):
            # nanosAsLong path (also hit when the conf is already set from
            # an earlier read in this session).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def read_any(spark: SparkSession, path: str, fmt: str = "parquet", **options) -> DataFrame:
    """Generic format connector: parquet/orc/csv/json/text.

    The reference supports exactly one format (local text file via fd); this
    is the widened, Spark-native source surface.
    """
    fmt = fmt.lower()
    reader = spark.read.options(**options)
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "orc":
        return reader.orc(path)
    if fmt == "csv":
        return reader.csv(path)
    if fmt == "json":
        return reader.json(path)
    if fmt == "text":
        return reader.text(path)
    raise ValueError(f"unsupported format: {fmt}")


# Lake-format connectors as an OPTIONAL EXTRA: the provider class each
# format registers on the JVM classpath when its jars are present. The
# sandbox ships neither jar, so the default path is the guarded stub —
# but the detection is a real runtime probe, not a hardcoded no: a
# deployment that launches with --packages io.delta:delta-spark_2.13:...
# or org.apache.iceberg:iceberg-spark-runtime-... gets the genuine read
# path from the same call sites with zero code changes.
_LAKE_PROVIDERS = {
    "delta": "org.apache.spark.sql.delta.sources.DeltaDataSource",
    "iceberg": "org.apache.iceberg.spark.source.IcebergSource",
}


def lake_format_available(spark: SparkSession, fmt: str) -> bool:
    """True iff ``fmt``'s DataSource provider class is loadable by SPARK's
    classloader — a driver-side probe, no job, no file IO. Unknown formats
    are False.

    The probe goes through ``org.apache.spark.util.Utils.classForName``
    (falling back to the context classloader, then bare Class.forName):
    jars added via ``--packages`` / ``spark.jars.packages`` live in
    Spark's MUTABLE context classloader, which a plain
    ``java.lang.Class.forName`` through the py4j gateway's loader cannot
    see — the round-8 advisor's finding: the old probe could return False
    in exactly the advertised deployment mode, making read_lake raise on
    a working classpath (and the auto-skip test, keyed on the same probe,
    would never catch it)."""
    cls = _LAKE_PROVIDERS.get(fmt.lower())
    if cls is None:
        return False
    jvm = spark._jvm  # type: ignore[union-attr]
    try:
        # Spark's own resolution order: context classloader first.
        jvm.org.apache.spark.util.Utils.classForName(cls, True, False)
        return True
    except Exception:
        pass
    try:
        jvm.java.lang.Thread.currentThread().getContextClassLoader().loadClass(cls)
        return True
    except Exception:
        pass
    try:
        jvm.java.lang.Class.forName(cls)
        return True
    except Exception:
        return False


def read_delta_log(spark: SparkSession, path: str) -> DataFrame:
    """Pure-Spark Delta Lake SNAPSHOT resolver — the jarless read path
    (round 15, closing the carried lake gap as far as this container
    allows): the Delta transaction log is a PUBLIC protocol
    (delta.io/protocol: ordered ``_delta_log/<v020>.json`` commit files
    of newline-delimited actions over plain parquet data files), so a
    read-only snapshot needs no runtime jar — replay the log, keep the
    last-action-wins live file set, and scan those parquet files with
    the log's own schema.

    Protocol SUBSET, refused loudly outside it (never silently wrong):
    - reader protocol version 1 only (``minReaderVersion`` > 1 — column
      mapping, deletion vectors, v2 checkpoints — raises
      NotImplementedError naming the protocol);
    - JSON commits only: a ``_last_checkpoint`` means the log head is
      checkpoint-compacted and replay from JSON alone would be WRONG,
      so it refuses (the jar path handles checkpointed tables);
    - parquet data files only (``format.provider`` guard);
    - any ``add.deletionVector`` refuses.

    Supported: multi-commit add/remove replay (updates/deletes via file
    rewrite — the OSS writer's default), partitioned tables (partition
    values live in the LOG, not the files — re-attached per file group
    and cast through the log schema), URL-encoded file paths, empty
    snapshots (full-schema empty frame). Scale shape: the log replay is
    driver-side metadata (KBs per commit — the same work the jar's
    Snapshot class does); the data scan is a normal parquet read per
    partition-value group, so pushdown/pruning apply. With the jar on
    the classpath ``read_lake`` prefers the real DataSource — this
    resolver is the documented fallback, exercised for real in
    tests/test_sinks.py against hand-written protocol-conformant logs."""
    import json as _json
    import re as _re
    from collections import defaultdict
    from urllib.parse import unquote

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"not a Delta table (no _delta_log under {path})")
    if os.path.exists(os.path.join(log_dir, "_last_checkpoint")):
        raise NotImplementedError(
            f"Delta table at {path} has a checkpointed log "
            f"(_last_checkpoint): the jarless resolver replays JSON "
            f"commits only — reading past a checkpoint needs the delta "
            f"runtime jar"
        )
    commits = sorted(
        f for f in os.listdir(log_dir) if _re.fullmatch(r"\d{20}\.json", f)
    )
    if not commits:
        raise ValueError(f"Delta log at {log_dir} has no commit files")
    schema = None
    part_cols: list[str] = []
    live: dict[str, dict] = {}
    for fname in commits:
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                if not line.strip():
                    continue
                act = _json.loads(line)
                if "protocol" in act:
                    p = act["protocol"]
                    if p.get("minReaderVersion", 1) > 1:
                        raise NotImplementedError(
                            f"Delta reader protocol {p} exceeds the "
                            f"jarless resolver's v1 subset (column "
                            f"mapping / deletion vectors / v2 "
                            f"checkpoints need the runtime jar)"
                        )
                elif "metaData" in act:
                    md = act["metaData"]
                    provider = md.get("format", {}).get("provider", "parquet")
                    if provider != "parquet":
                        raise NotImplementedError(
                            f"Delta data format {provider!r}: the "
                            f"resolver reads parquet tables only"
                        )
                    schema = T.StructType.fromJson(
                        _json.loads(md["schemaString"])
                    )
                    part_cols = list(md.get("partitionColumns", []))
                elif "add" in act:
                    a = act["add"]
                    if a.get("deletionVector"):
                        raise NotImplementedError(
                            "Delta deletion vectors need the runtime jar"
                        )
                    live[a["path"]] = a
                elif "remove" in act:
                    live.pop(act["remove"]["path"], None)
    if schema is None:
        raise ValueError(f"Delta log at {log_dir} has no metaData action")
    if not live:
        return spark.createDataFrame([], schema)
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )
    groups: dict[tuple, list[str]] = defaultdict(list)
    for a in live.values():
        pv = tuple(sorted((a.get("partitionValues") or {}).items()))
        groups[pv].append(os.path.join(path, unquote(a["path"])))
    parts = []
    for pv, files in sorted(groups.items()):
        df = spark.read.schema(data_schema).parquet(*files)
        pvmap = dict(pv)
        for name in part_cols:
            field = schema[name]
            df = df.withColumn(
                name, F.lit(pvmap.get(name)).cast(field.dataType)
            )
        parts.append(df.select([f.name for f in schema.fields]))
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


def read_lake(spark: SparkSession, path: str, fmt: str = "delta") -> DataFrame:
    """Lake-format read path (Delta Lake / Apache Iceberg). With the
    runtime jars present this is a plain
    ``spark.read.format(fmt).load(path)`` — snapshot isolation, file
    skipping and column stats come from the format's own reader. Without
    them, DELTA falls back to the pure-Spark log resolver
    (``read_delta_log`` — read-only, protocol-subset v1, refuses
    loudly outside it), so the lake read path is executable in jarless
    containers too; ICEBERG (a manifest-list format whose avro
    metadata has no jarless reader here) keeps the guarded
    NotImplementedError. tests/test_sinks.py exercises the jar branch
    when available (auto-skip otherwise) AND the resolver branch
    against hand-written protocol-conformant logs."""
    fmt = fmt.lower()
    if fmt not in _LAKE_PROVIDERS:
        raise ValueError(f"unsupported lake format: {fmt}")
    if not lake_format_available(spark, fmt):
        if fmt == "delta":
            return read_delta_log(spark, path)
        raise NotImplementedError(
            f"{fmt} requires its runtime jars on the classpath (launch with "
            f"--packages; provider {_LAKE_PROVIDERS[fmt]} not loadable)"
        )
    return spark.read.format(fmt).load(path)


def _size_to_bytes(s: str) -> int:
    """Parse a Spark size conf string ('134217728', '128MB', '1g', '512k')."""
    s = s.strip().lower().removesuffix("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}.get(s[-1:], 1)
    return int(s[:-1] if mult > 1 else s) * mult


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Estimate the scan's partition count from FILE METADATA — no RDD
    handle, no job. Each file contributes ceil(size / maxPartitionBytes)
    splits (the FilePartition math, ignoring small-file packing, which only
    ever LOWERS the true count — so for >=-target gating the estimate can
    overshoot; the affected shape, thousands of tiny files, is a scan
    that needs compaction, not a repartition). Non-local URIs fall back to
    one split per file."""
    spark = df.sparkSession
    try:
        max_bytes = _size_to_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
    except ValueError:
        max_bytes = 128 << 20
    total = 0
    for uri in df.inputFiles():
        path = uri.removeprefix("file:")
        try:
            total += max(1, -(-os.path.getsize(path) // max_bytes))
        except OSError:
            total += 1
    return total


def parallelized(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure at least ``min_partitions`` (default: cluster default
    parallelism) partitions before CPU-heavy per-row work.

    Small parquet fixtures arrive as 1-3 scan partitions
    (files < spark.sql.files.maxPartitionBytes), which would serialize
    expensive map-side kernels (shingling, signatures) onto one core. The
    repartition is GATED: a scan that already has enough partitions — every
    real 100 TB scan — passes through untouched, so this never adds a
    shuffle at scale; locally it shuffles only the (tiny) raw input once in
    exchange for full-width parallelism on the expensive stage. The gate
    reads file metadata (``_estimated_scan_partitions``) instead of
    ``df.rdd.getNumPartitions()`` — the RDD handle materialized a Java RDD
    per query build just to read one number."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if _estimated_scan_partitions(df) >= target:
        return df
    return df.repartition(target)
