"""Persisted dedup-artifact store: the session memo as an on-disk index
layer.

SCALE.md's recurring production note — "a 100 TB pipeline persists this
table at ingest instead of re-running the kernel" — as a real API. The
four kernel-derived corpus artifacts every dedup/similarity session
rebuilds (the trigram shingle table, the MinHash signature table, the
scored dup-pair support, the bottom-k sketch table) are exactly the
columns an ingest job would write next to the corpus ONCE; afterwards any
number of sessions (or any number of queries inside one) read them back
instead of paying the Arrow-kernel passes — the dominant cost of every
set-similarity tier (at sf1 the trigram kernel alone is a 28 s × 32-task
stage; see SCALE.md).

``persist_dedup_artifacts`` materializes each artifact to parquet under
``out_dir`` with a manifest carrying the source-corpus fingerprint;
``load_dedup_artifacts`` validates the fingerprint (a stale store against
a regenerated corpus is an explicit error, the same staleness contract as
the in-memory memo's fingerprinted keys) and seeds the session memo
(``sources.readers.seed_artifact``), so every existing builder — and
every registered query downstream of one — transparently serves from
disk. No query code changes: the memo is the seam.

Scale shape: a persist runs its store's builders on a driver-side pool
of ``defaultParallelism`` threads (``_persist_frames``), and each pool
task writes its builder's frames as soon as they are built while the
other builds go on; Spark overlaps the scheduling latency of jobs
submitted from several threads. Builders that share a prerequisite
build it once (the session memo is single-flight). Every pool job keeps
the caller's job group. A frame's manifest row count is summed from the
footers of the part files just written, so no job re-reads the store.
If a build or a write fails, calls not yet started are cancelled, the
running ones are waited for, and the first exception is raised inside
the writer guard: no write outlives the lock, and no manifest is
written. Loads are lazy parquet scans, opened on the same kind of pool
(each open infers the schema from a footer); nothing is read until a
consumer's plan executes, and column pruning applies (a consumer
projecting only ``n`` never reads ``harr``).

Three stores share the pattern: the dedup kernel artifacts
(``persist_dedup_artifacts``), the incremental-ingest probe indexes
(``persist_ingest_indexes``), and the similarity tiers' ANN serving
indexes (``persist_ann_indexes``). Every persist runs under
``_writer_guard`` (re-persist staleness + concurrent-writer protection);
every load validates the source-table fingerprint before seeding the memo.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from mapreduce_framework_api_spark.sources.readers import (
    fixture_fingerprint,
    parquet_rows,
    seed_artifact,
)

_MANIFEST = "manifest.json"


def _concurrently(spark: SparkSession, calls) -> list:
    """Run ``calls`` on a driver-side pool of ``defaultParallelism``
    threads and return their results in order. Each call is wrapped by
    ``inheritable_thread_target``, so the Spark jobs it fires carry the
    caller's job group and local properties. If a call raises, calls not
    yet started are cancelled and running ones are waited for before the
    first exception is raised: nothing submitted here outlives this
    function."""
    wrap = inheritable_thread_target(spark)
    pool = ThreadPoolExecutor(max_workers=spark.sparkContext.defaultParallelism)
    try:
        futures = [pool.submit(wrap(call)) for call in calls]
        done, _ = wait(futures, return_when=FIRST_EXCEPTION)
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
    for f in futures:
        if f in done and f.exception() is not None:
            raise f.exception()
    return [f.result() for f in futures]


def _persist_frames(spark: SparkSession, sf_dir: str, out_dir: str, specs):
    """Build and write one store's frames concurrently. ``specs`` holds
    ``(builder, names)`` pairs; each pool task runs ``builder(spark,
    sf_dir)`` and writes the result's frames to ``out_dir/<name>`` — the
    result itself for one name, else the leading elements of the result
    tuple, one per name (a None frame is not stored). Returns (each
    builder's result, {name: row count}) in ``specs`` order."""

    def build_and_write(builder, names):
        out = builder(spark, sf_dir)
        parts = out if isinstance(out, tuple) else (out,)
        rows = {}
        for name, df in zip(names, parts):
            if df is not None:
                path = os.path.join(out_dir, name)
                df.write.mode("overwrite").parquet(path)
                rows[name] = parquet_rows(path)
        return out, rows

    done = _concurrently(
        spark, [functools.partial(build_and_write, b, names) for b, names in specs]
    )
    counts = {}
    for _, rows in done:
        counts.update(rows)
    return [out for out, _ in done], counts


def _read_frames(spark: SparkSession, out_dir: str, names) -> dict:
    """{name: lazy parquet scan of ``out_dir/<name>``}, opened on the
    pool."""
    paths = [os.path.join(out_dir, n) for n in names]
    frames = _concurrently(
        spark, [functools.partial(spark.read.parquet, p) for p in paths]
    )
    return dict(zip(names, frames))


def _write_manifest(out_dir: str, name: str, manifest: dict) -> None:
    """Manifest is written LAST and atomically (tmp + rename): a crash
    mid-persist leaves parquet directories but NO manifest, so a later
    load fails loudly on the missing file instead of seeding the memo from
    a half-written store."""
    tmp = os.path.join(out_dir, name + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(out_dir, name))


@contextlib.contextmanager
def _writer_guard(out_dir: str, manifest_name: str):
    """Write-path hardening shared by every ``persist_*`` (VERDICT r10
    tasks — two distinct hazards, one seam):

    1. RE-PERSIST STALENESS: a persist over an EXISTING store used to
       leave the old (fingerprint-valid!) manifest in place while the
       parquet directories underneath were being overwritten — a
       concurrent or crash-interrupted reader could seed the memo from a
       manifest describing data that no longer exists. The old manifest
       is renamed aside (``<name>.stale`` — kept for forensics, never
       read by any loader) at ENTRY, so for the whole write window the
       store has no loadable manifest and every load fails loudly; the
       fresh manifest lands atomically at the end, same as before. A
       crash mid-re-persist therefore leaves a store that refuses to
       load instead of one that loads the previous corpus's artifacts
       over the new parquet.
    2. CONCURRENT WRITERS: two persist jobs racing the same ``out_dir``
       would interleave parquet overwrites and whichever manifest lands
       last silently describes a mix of both runs. An O_CREAT|O_EXCL
       lockfile makes the second writer error immediately with a named
       exception (retry, or point it at another directory); the lock is
       released on every exit path. A crash can strand the lockfile —
       the error message names it, and deleting it is the documented
       manual recovery (the store itself is still consistent: no
       manifest, loads refuse)."""
    lock = os.path.join(out_dir, manifest_name + ".lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise RuntimeError(
            f"another persist is already writing {out_dir} (lockfile "
            f"{lock} exists); wait for it, or delete the lockfile if it "
            f"was stranded by a crash"
        ) from None
    os.close(fd)
    manifest = os.path.join(out_dir, manifest_name)
    if os.path.exists(manifest):
        os.replace(manifest, manifest + ".stale")
    try:
        yield
    finally:
        os.unlink(lock)


def _artifact_specs():
    """name -> session-artifact builder. Resolved lazily so importing
    this module never forces the operator modules (and their kernels)."""
    from mapreduce_framework_api_spark.operators import dedup

    return {
        "shingle_table": dedup.shingle_table,
        "minhash_signatures": dedup.minhash_sig_table,
        "scored_pairs": dedup.scored_pair_table,
        "bk_sketches": dedup._bk_sketch_table,
        # The bk tier's scored output: once the kernel artifacts exist,
        # the tier's remaining cost is its inverted-index + scoring
        # joins — this table is that cost, paid once at ingest (measured
        # at sf1: ~20 s rebuilt vs sub-second from the store).
        "bk_pairs": dedup.bk_pair_table,
    }


def persist_dedup_artifacts(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict:
    """Build (or reuse, if session-cached) the four dedup artifacts for
    ``sf_dir``'s documents table and write each as parquet under
    ``out_dir/<name>``, plus a manifest with the corpus fingerprint.
    Returns {name: row_count} for the ingest log."""
    os.makedirs(out_dir, exist_ok=True)
    with _writer_guard(out_dir, _MANIFEST):
        specs = [(b, (name,)) for name, b in _artifact_specs().items()]
        _, counts = _persist_frames(spark, sf_dir, out_dir, specs)
        manifest = {
            "sf_dir": os.path.abspath(sf_dir),
            "documents_fingerprint": fixture_fingerprint(sf_dir, "documents"),
            "rows": counts,
        }
        _write_manifest(out_dir, _MANIFEST, manifest)
    return counts


def load_dedup_artifacts(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Seed the session memo from a persisted store. The
    manifest's corpus fingerprint must match ``sf_dir``'s documents table
    NOW — loading a store built against a regenerated corpus is an
    explicit error, never silently-stale results. Returns
    {name: row_count} from the manifest."""
    with open(os.path.join(out_dir, _MANIFEST)) as f:
        manifest = json.load(f)
    # JSON round-trips tuples as lists; normalize both sides.
    want = json.loads(json.dumps(fixture_fingerprint(sf_dir, "documents")))
    if manifest["documents_fingerprint"] != want:
        raise ValueError(
            f"artifact store at {out_dir} was built against a different "
            f"documents table than {sf_dir} (fingerprint mismatch); "
            f"re-run persist_dedup_artifacts"
        )
    specs = _artifact_specs()
    for name, df in _read_frames(spark, out_dir, specs).items():
        seed_artifact(specs[name], spark, sf_dir, df)
    return dict(manifest["rows"])


# ------------------------------------------------- ingest probe indexes ----

_IDX_MANIFEST = "index_manifest.json"


def persist_ingest_indexes(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict:
    """Write the four incremental-ingest lanes' probe indexes — the
    artifacts every lane's docstring describes as "persisted thin
    indexes" — so a restarted ingest job reloads them instead of
    rebuilding from the frozen corpus:

    - minhash lane: banded bucket table + frozen signature table +
      shingle-size table (``incremental_corpus_index``);
    - prefix lane: the 3-longs-per-doc head-block index
      (``prefix_corpus_index``; the text LOOKUP frame is deliberately
      NOT persisted — it is a projection of the corpus store itself,
      and writing it would duplicate corpus text into the index);
    - bottom-k containment lane: calm-sketch-value inverted index +
      corpus sketch table (``bk_corpus_index``);
    - SemDeDup lane: the assigned/normed corpus vector index
      (``semdedup_corpus_index``), with the integer-quantized centroid
      matrix serialized into the manifest (K x d int64 — a few KB).

    Returns {frame_name: row_count}."""
    from mapreduce_framework_api_spark.operators import dedup, similarity

    os.makedirs(out_dir, exist_ok=True)
    with _writer_guard(out_dir, _IDX_MANIFEST):
        specs = (
            (
                dedup.incremental_corpus_index,
                ("minhash_bands", "minhash_sigs", "minhash_sizes"),
            ),
            # the second element, the text lookup, is not stored
            (dedup.prefix_corpus_index, ("prefix_head_idx",)),
            (dedup.bk_corpus_index, ("bk_value_idx", "bk_corpus_sk")),
            (similarity.semdedup_corpus_index, ("sem_index",)),
        )
        outs, counts = _persist_frames(spark, sf_dir, out_dir, specs)
        cent = outs[-1][1]
        manifest = {
            "sf_dir": os.path.abspath(sf_dir),
            "documents_fingerprint": fixture_fingerprint(sf_dir, "documents"),
            "embeddings_fingerprint": fixture_fingerprint(sf_dir, "embeddings"),
            "sem_centroids": None if cent is None else cent.tolist(),
            "rows": counts,
        }
        _write_manifest(out_dir, _IDX_MANIFEST, manifest)
    return counts


def load_ingest_indexes(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Seed the four ingest lanes' indexes from a persisted store
    (fingerprint-validated, like load_dedup_artifacts). The prefix
    lane's text lookup is reconstructed as the same lazy corpus-store
    projection the builder uses (one shared definition,
    dedup._prefix_corpus_frame); the SemDeDup centroids round-trip
    through the manifest as int64."""
    import numpy as np

    from mapreduce_framework_api_spark.operators import dedup, similarity
    from pyspark.sql import functions as F

    with open(os.path.join(out_dir, _IDX_MANIFEST)) as f:
        manifest = json.load(f)
    for tbl in ("documents", "embeddings"):
        want = json.loads(json.dumps(fixture_fingerprint(sf_dir, tbl)))
        if manifest[f"{tbl}_fingerprint"] != want:
            raise ValueError(
                f"ingest-index store at {out_dir} was built against a "
                f"different {tbl} table than {sf_dir} (fingerprint "
                f"mismatch); re-run persist_ingest_indexes"
            )

    rd = _read_frames(spark, out_dir, manifest["rows"])
    seed_artifact(
        dedup.incremental_corpus_index,
        spark,
        sf_dir,
        (rd["minhash_bands"], rd["minhash_sigs"], rd["minhash_sizes"]),
    )
    lookup = dedup._prefix_corpus_frame(spark, sf_dir).select(
        F.col("doc_id").alias("corpus_id"), F.col("text").alias("corpus_text")
    )
    seed_artifact(
        dedup.prefix_corpus_index, spark, sf_dir, (rd["prefix_head_idx"], lookup)
    )
    seed_artifact(
        dedup.bk_corpus_index,
        spark,
        sf_dir,
        (rd["bk_value_idx"], rd["bk_corpus_sk"]),
    )
    cent = manifest["sem_centroids"]
    cent = None if cent is None else np.array(cent, dtype=np.int64)
    seed_artifact(
        similarity.semdedup_corpus_index, spark, sf_dir, (rd["sem_index"], cent)
    )
    return dict(manifest["rows"])


# -------------------------------------------------- ANN serving indexes ----

_ANN_MANIFEST = "ann_manifest.json"


def persist_ann_indexes(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Write NINE serving indexes, off which the similarity tier
    queries serve (the composed IVF-PQ operating points store no
    PQ routing of their own — each consumes an ivf half plus its own
    code table; the corpus-scaled point gets its own assignment table
    ``ivf_scaled_assigned`` because its quantizer is a different seed
    universe) — the tables a production vector deployment builds ONCE
    at ingest and every search session mounts read-only:

    - ``vec_norms``: the brute-force tier's normed-vector table
      (similarity.vec_norm_table — vectors + precomputed norms);
    - ``lsh_codes``: the sign-LSH code table (vec_id, table_id, code);
      the derived geometry (g, d) travels in the manifest;
    - ``ivf_assigned``: the IVF index frame (vec_id, embedding, cluster,
      probes[K] — the FULL probe ranking, so any nprobe ≤ K is a
      query-time slice over one stored index); the (K, d) int64 centroid
      matrix travels in the manifest;
    - ``pq_codes``: the full-corpus PQ code table (vec_id, codes[M] —
      the 16× compressed representation); the (M, K, SUB) int64 codebook
      tensor travels in the manifest;
    - ``pq_hq_codes``: the high-quality operating point's code table
      (32 one-byte codes/vector, 8× compression); its (32, 256, 2)
      codebook tensor travels in the manifest;
    - ``maxsim_tokens``: the MaxSim integer-quantized token table
      (vec_id, itok[64]);
    - ``ivf_trained_assigned`` (r15): the Lloyd-TRAINED corpus-scaled
      router's membership/probe table (L2 probe ranking); its refined
      (K, d) centroid matrix travels in the manifest — the table
      retrain_ann_indexes rewrites when the drift monitor fires;
    - ``pq_res_codes`` (r15): the residual-PQ code table; its trained
      residual codebook AND the coarse-centroid matrix at PQ scale
      (the exact reconstruction term) travel in the manifest.

    All six are split/nprobe-agnostic: query-time knobs (hash splits,
    probe counts) slice the stored tables, never re-shape them. An empty
    corpus records null matrices and empty tables. Returns
    {name: row_count} for the ingest log."""
    from mapreduce_framework_api_spark.operators import similarity

    os.makedirs(out_dir, exist_ok=True)
    with _writer_guard(out_dir, _ANN_MANIFEST):
        # A rebuild RESETS the store: clear maintenance residue from any
        # prior life first (ADVICE r14). A crash-recovered re-persist
        # (stranded lockfile deleted, manifest gone) would otherwise
        # leave the old tombstone file on disk while the fresh manifest
        # says pending_tombstones=0 — a later tombstone_ann_indexes call
        # skips its dedup anti-join on the manifest counter and APPENDS
        # to the stale file, and the next load/compact then anti-joins
        # ids never tombstoned in the rebuilt store, silently dropping
        # live vectors. Same for orphaned mid-op temp directories.
        import shutil

        stale_tomb = os.path.join(out_dir, _TOMBSTONES)
        if os.path.isdir(stale_tomb):
            shutil.rmtree(stale_tomb)
        for entry in os.listdir(out_dir):
            if entry.endswith((".__compacting", ".__rebanding", ".__retraining")):
                shutil.rmtree(os.path.join(out_dir, entry), ignore_errors=True)
        specs = (
            (similarity.vec_norm_table, ("vec_norms",)),
            (similarity.lsh_code_table, ("lsh_codes",)),
            (similarity.ivf_index, ("ivf_assigned",)),
            (similarity.pq_index, ("pq_codes",)),
            (similarity.pq_hq_index, ("pq_hq_codes",)),
            (similarity.ivf_scaled_index, ("ivf_scaled_assigned",)),
            (similarity.ivf_trained_index, ("ivf_trained_assigned",)),
            (similarity.pq_res_index, ("pq_res_codes",)),
            (similarity.maxsim_token_table, ("maxsim_tokens",)),
            (similarity._lsh_geometry, ()),
        )
        outs, counts = _persist_frames(spark, sf_dir, out_dir, specs)
        _, _, ivf, pq, pq_hq, ivf_s, ivf_t, pq_r, _, geom = outs

        def mat(out, i):
            return None if out is None else out[i].tolist()

        manifest = {
            "sf_dir": os.path.abspath(sf_dir),
            "embeddings_fingerprint": fixture_fingerprint(sf_dir, "embeddings"),
            "lsh_geometry": None if geom is None else list(geom),
            "ivf_centroids": mat(ivf, 1),
            "ivf_scaled_centroids": mat(ivf_s, 1),
            "ivf_trained_centroids": mat(ivf_t, 1),
            "pq_codebook": mat(pq, 1),
            "pq_hq_codebook": mat(pq_hq, 1),
            "pq_res_codebook": mat(pq_r, 1),
            "pq_res_cpq": mat(pq_r, 2),
            "rows": counts,
        }
        _write_manifest(out_dir, _ANN_MANIFEST, manifest)
    return counts


def _require_live_manifest(out_dir: str, manifest_name: str) -> None:
    """Maintenance-op precondition: the store must have a LIVE manifest
    before the writer guard moves it aside. Without this check every
    maintenance op would fall through to the ``.stale`` file — which on
    a crash-recovered store (stranded lockfile deleted per the
    documented recovery, live manifest gone) is the PRE-CRASH manifest
    describing half-overwritten tables: the op would maintain the
    corrupted store and land a fresh manifest, silently resurrecting
    it. A store with no loadable manifest must be re-persisted, not
    maintained; a store with NO manifest at all gets the same named
    error instead of a FileNotFoundError on the .stale path.

    Ordering vs the lock (ADVICE r14, race closed in the r15
    self-review): a maintenance op racing one that already holds
    _writer_guard sees the live manifest moved to ``.stale`` — without
    distinguishing that state it would raise the "re-run
    persist_ann_indexes" error, and an operator following that message
    would needlessly rebuild a HEALTHY store. The guard creates its
    lockfile BEFORE moving the manifest aside, so the states are
    disjoint by construction: manifest present → healthy (a racing
    writer will still be caught by the caller's own O_EXCL lock
    attempt); manifest absent + lockfile present → in-flight writer
    (retryable lock error); manifest absent + no lockfile → genuine
    crash state (rebuild). Checking the manifest FIRST and the
    lockfile only on the missing path closes the probe-then-check
    TOCTOU window the first version of this fix left open."""
    if os.path.exists(os.path.join(out_dir, manifest_name)):
        return
    lock = os.path.join(out_dir, manifest_name + ".lock")
    if os.path.exists(lock):
        raise RuntimeError(
            f"another persist is already writing {out_dir} (lockfile "
            f"{lock} exists); wait for it, or delete the lockfile if it "
            f"was stranded by a crash"
        )
    raise ValueError(
        f"ANN store at {out_dir} has no loadable manifest (never "
        f"built, or a crashed persist left it refusing loads) — "
        f"maintenance ops require a consistent store; re-run "
        f"persist_ann_indexes"
    )


def append_ann_indexes(
    spark: SparkSession, new_vecs, out_dir: str
) -> dict:
    """Append arriving vectors to ALL SIX stored serving tables under
    the store's FROZEN derived state — the manifest's quantizer,
    codebooks, and LSH geometry; nothing is retrained or reshaped (the
    incremental-MV discipline, q_mv_incremental): appended rows are the
    same bytes a from-scratch bulk build under that state would produce
    for those vectors (ivfpq_append_check is the ONE kernel both paths
    run — pinned row-identical in tests/test_artifacts.py), so
    probe-after-append == probe-after-rebuild by construction. Runs
    under _writer_guard like every persist: the manifest goes offline
    for the write window (loads fail loudly mid-append), a concurrent
    writer errors on the lockfile, and the updated manifest — counts
    advanced, an ``appended`` audit log entry added — lands at the end.

    LSH caveat (the one non-stationary table): codes append under the
    STORED (g, d); the geometry is occupancy-targeted to the build-time
    corpus size, so heavy growth degrades bucket occupancy until the
    deployment re-bands on its compaction cadence — production behavior,
    recorded here rather than hidden by silently re-deriving g (which
    would orphan every previously stored code). Returns
    {table: appended_row_count}."""
    import numpy as np

    from mapreduce_framework_api_spark.operators import similarity

    _require_live_manifest(out_dir, _ANN_MANIFEST)
    with _writer_guard(out_dir, _ANN_MANIFEST):
        # the guard just moved the live manifest aside; read the frozen
        # state from there so two serialized appenders each see the
        # counts their predecessor committed
        with open(os.path.join(out_dir, _ANN_MANIFEST + ".stale")) as f:
            manifest = json.load(f)
        cq = manifest["ivf_centroids"]
        cbook = manifest["pq_codebook"]
        hq_cbook = manifest.get("pq_hq_codebook")
        if cq is None or cbook is None or hq_cbook is None:
            raise ValueError(
                f"ANN store at {out_dir} has no frozen quantizer/codebooks "
                f"(empty-corpus or pre-HQ store) — appends need a full "
                f"build first; re-run persist_ann_indexes"
            )
        geom = manifest["lsh_geometry"]
        s_cq = manifest.get("ivf_scaled_centroids")
        t_cq = manifest.get("ivf_trained_centroids")
        r_cbook = manifest.get("pq_res_codebook")
        r_cpq = manifest.get("pq_res_cpq")
        frames = similarity.ann_append_frames(
            spark,
            new_vecs,
            np.array(cq, dtype=np.int64),
            np.array(cbook, dtype=np.int64),
            np.array(hq_cbook, dtype=np.int64),
            None if geom is None else tuple(geom),
            scaled_cq=None if s_cq is None else np.array(s_cq, dtype=np.int64),
            trained_cq=None if t_cq is None else np.array(t_cq, dtype=np.int64),
            res_cbook=None if r_cbook is None else np.array(r_cbook, dtype=np.int64),
            res_cpq=None if r_cpq is None else np.array(r_cpq, dtype=np.int64),
        )
        appended = {}
        for name, df in frames.items():
            path = os.path.join(out_dir, name)
            # checkpoint-then-count BEFORE the append: counting the
            # batch frame (O(batch)) instead of re-scanning the whole
            # grown table (O(store)) — at production store sizes the
            # full recount would dominate every small append
            df = df.localCheckpoint()
            appended[name] = df.count()
            df.write.mode("append").parquet(path)
            manifest["rows"][name] += appended[name]
        manifest.setdefault("appended", []).append(appended)
        # the health report's "appended since last compact" debt counter
        # (vector rows, the store's growth unit); compact resets it
        manifest["appended_since_compact"] = manifest.get(
            "appended_since_compact", 0
        ) + appended.get("vec_norms", 0)
        _write_manifest(out_dir, _ANN_MANIFEST, manifest)
    return appended


_TOMBSTONES = "tombstones"


def tombstone_ann_indexes(spark: SparkSession, ids, out_dir: str) -> int:
    """Mark vectors DELETED in a persisted ANN store without rewriting
    any serving table — the cheap half of the delete path (cost ∝
    |ids|, a single thin parquet append). ``ids`` is a DataFrame with a
    ``vec_id`` column. Every subsequent ``load_ann_indexes`` anti-joins
    the pending tombstones into all seven serving scans, so tombstoned
    vectors stop serving IMMEDIATELY; the physical rows linger until
    ``compact_ann_indexes`` reclaims them (the LSM discipline: deletes
    are writes, space is reclaimed on the compaction cadence).

    Delete-wins contract: a pending tombstone shadows its vec_id in
    EVERY table — including rows appended AFTER the tombstone. To
    re-ingest a previously deleted id, compact first (clearing the
    tombstone), then append; the shadow behavior is pinned in
    tests/test_artifacts.py. Runs under _writer_guard like every
    store write. Returns the number of NEW distinct ids tombstoned."""
    _require_live_manifest(out_dir, _ANN_MANIFEST)
    with _writer_guard(out_dir, _ANN_MANIFEST):
        with open(os.path.join(out_dir, _ANN_MANIFEST + ".stale")) as f:
            manifest = json.load(f)
        path = os.path.join(out_dir, _TOMBSTONES)
        # null ids can never match a stored row: unfiltered they would
        # survive distinct(), inflate pending_tombstones permanently
        # (the anti-join dedup can't retire them), and force the
        # compaction machinery for a no-op tombstone (ADVICE r14)
        new = (
            ids.select(F.col("vec_id").cast("long"))
            .filter(F.col("vec_id").isNotNull())
            .distinct()
        )
        if manifest.get("pending_tombstones", 0) > 0:
            new = new.join(spark.read.parquet(path), "vec_id", "left_anti")
        # count BEFORE the append: a lazy count after would re-read the
        # grown file and double-count the rows just written
        new = new.localCheckpoint()
        n = new.count()
        if n:
            new.write.mode("append").parquet(path)
        manifest["pending_tombstones"] = (
            manifest.get("pending_tombstones", 0) + n
        )
        manifest.setdefault("tombstoned", []).append(n)
        _write_manifest(out_dir, _ANN_MANIFEST, manifest)
    return n


def compact_ann_indexes(spark: SparkSession, out_dir: str) -> dict:
    """Physically reclaim tombstoned rows from every serving table: for
    each table, survivors = stored rows anti-joined on the pending
    tombstone set, rewritten in place (write-to-sibling + directory
    swap — the stored survivor BYTES are never recomputed, no kernel
    runs; pinned row-identical in tests/test_artifacts.py). Clears the
    tombstone set, updates manifest row counts, and logs a
    ``compacted`` audit entry ({table: rows_removed}). A crash mid-swap
    leaves the store with no loadable manifest (the _writer_guard
    contract) — loads fail loudly rather than serving a half-compacted
    mix. At 100 TB this is the scheduled maintenance job: one
    anti-join scan per table, shuffle-free on the broadcast tombstone
    side, run off-peak on the compaction cadence. Returns
    {table: rows_removed}."""
    import shutil

    from pyspark.sql.functions import broadcast

    _require_live_manifest(out_dir, _ANN_MANIFEST)
    with _writer_guard(out_dir, _ANN_MANIFEST):
        with open(os.path.join(out_dir, _ANN_MANIFEST + ".stale")) as f:
            manifest = json.load(f)
        removed: dict[str, int] = {}
        pending = manifest.get("pending_tombstones", 0)
        if pending > 0:
            tpath = os.path.join(out_dir, _TOMBSTONES)
            tomb = broadcast(spark.read.parquet(tpath))
            for name in list(manifest["rows"]):
                path = os.path.join(out_dir, name)
                survivors = spark.read.parquet(path).join(
                    tomb, "vec_id", "left_anti"
                )
                tmp = path + ".__compacting"
                survivors.write.mode("overwrite").parquet(tmp)
                n_after = spark.read.parquet(tmp).count()
                removed[name] = manifest["rows"][name] - n_after
                manifest["rows"][name] = n_after
                shutil.rmtree(path)
                os.rename(tmp, path)
            shutil.rmtree(tpath)
            manifest["pending_tombstones"] = 0
            manifest["appended_since_compact"] = 0
            manifest.setdefault("compacted", []).append(removed)
        _write_manifest(out_dir, _ANN_MANIFEST, manifest)
    return removed


def reband_ann_lsh(spark: SparkSession, out_dir: str) -> tuple[int, int, int]:
    """Re-band the store's LSH code table on the compaction cadence —
    the maintenance op the append path documents: appends write codes
    under the BUILD-time band width g, so heavy growth degrades bucket
    occupancy (each bucket holds ~n/2^g vectors; candidate cost per
    query grows with it). This re-derives g from the STORE's current
    physical vector count (the same pure-integer clamp the fixture
    derivation uses — similarity._lsh_g_for), recomputes every code
    from the stored ``vec_norms`` vectors with the same Arrow kernel
    the bulk build uses, swaps the table in place, and updates the
    manifest geometry + a ``rebanded`` audit entry — all under
    ``_writer_guard``. Orthogonal to deletes: codes rebuild for ALL
    physical rows; pending tombstones keep shadowing at load until
    compaction. No-op (manifest timestamped, table untouched) when the
    grown count still lands on the stored g. At 100 TB this is one
    kernel pass over the vector table on the maintenance schedule —
    the alternative (re-deriving geometry silently at query time)
    would orphan every previously stored code, which is why the
    serving path treats the manifest as the single source of truth.
    Returns (g, d, code_rows)."""
    import shutil

    from mapreduce_framework_api_spark.operators.similarity import (
        _lsh_codes_udf,
        _lsh_g_for,
    )

    _require_live_manifest(out_dir, _ANN_MANIFEST)
    with _writer_guard(out_dir, _ANN_MANIFEST):
        with open(os.path.join(out_dir, _ANN_MANIFEST + ".stale")) as f:
            manifest = json.load(f)
        stored = manifest.get("lsh_geometry")
        if stored is None:
            raise ValueError(
                f"ANN store at {out_dir} has no LSH geometry (empty-corpus "
                f"build) — nothing to re-band; re-run persist_ann_indexes"
            )
        _g_old, d = stored
        n = manifest["rows"]["vec_norms"]
        g = _lsh_g_for(n)
        if g == _g_old:
            manifest.setdefault("rebanded", []).append(
                {"g": g, "n": n, "noop": True}
            )
            _write_manifest(out_dir, _ANN_MANIFEST, manifest)
            return g, d, manifest["rows"].get("lsh_codes", 0)
        vecs = spark.read.parquet(os.path.join(out_dir, "vec_norms")).select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        codes = vecs.select(
            "vec_id",
            F.posexplode(_lsh_codes_udf(g, d)("v")).alias("table_id", "code"),
        )
        path = os.path.join(out_dir, "lsh_codes")
        tmp = path + ".__rebanding"
        codes.write.mode("overwrite").parquet(tmp)
        n_codes = spark.read.parquet(tmp).count()
        shutil.rmtree(path)
        os.rename(tmp, path)
        manifest["lsh_geometry"] = [g, d]
        manifest["rows"]["lsh_codes"] = n_codes
        manifest.setdefault("rebanded", []).append(
            {"g": g, "n": n, "noop": False}
        )
        _write_manifest(out_dir, _ANN_MANIFEST, manifest)
    return g, d, n_codes


def retrain_ann_indexes(spark: SparkSession, out_dir: str) -> dict:
    """Retrain the store's GROWN-N coarse quantizers — the executable
    op the routing-drift monitors point at (VERDICT r14 task 4): the
    drift queries emit the signal, reband_ann_lsh answers it for LSH,
    and this answers it for IVF. From the store's CURRENT physical
    vector count n it re-derives K = _ivf_scaled_k(n), re-seeds the
    scaled router (salted md5 top-K over the STORED vectors — the
    identical derivation a fresh build runs, which is what makes
    retrain == rebuild provable), re-runs the integer Lloyd refinement
    for the trained router, re-assigns every stored vector through the
    ONE shared kernel (ivfpq_append_check; dot mode for scaled, L2
    mode for trained), swaps both membership tables in place
    (write-to-sibling ``.__retraining`` + directory swap, the
    compact/reband discipline), and lands the updated manifest —
    refreshed centroid matrices, row counts, and a ``retrained`` audit
    entry — under ``_writer_guard``.

    Contract (pinned in tests/test_artifacts.py): after retrain, the
    two router tables and both centroid matrices are ROW-IDENTICAL to
    a from-scratch persist_ann_indexes over the same grown corpus.
    Orthogonal to deletes (the reband rule): all PHYSICAL rows
    re-assign; pending tombstones keep shadowing at load until
    compaction. The frozen-base PQ/HQ/residual code tables are
    untouched — codes are router-independent; re-coding is the
    compaction-cadence job only a codebook change would force. At
    100 TB this is K·n assignment dots + the Lloyd passes — the same
    cost as the original index build, run off-peak when the drift
    report crosses its threshold. Returns {"k", "n", "rows": {table:
    row_count}}."""
    import shutil

    import numpy as np

    from mapreduce_framework_api_spark.operators import similarity

    _require_live_manifest(out_dir, _ANN_MANIFEST)
    with _writer_guard(out_dir, _ANN_MANIFEST):
        with open(os.path.join(out_dir, _ANN_MANIFEST + ".stale")) as f:
            manifest = json.load(f)
        if manifest.get("ivf_scaled_centroids") is None:
            raise ValueError(
                f"ANN store at {out_dir} has no scaled quantizer "
                f"(empty-corpus or pre-r14 build) — nothing to retrain; "
                f"re-run persist_ann_indexes"
            )
        vec = spark.read.parquet(os.path.join(out_dir, "vec_norms")).select(
            "vec_id", "embedding"
        )
        n = manifest["rows"]["vec_norms"]
        k = similarity._ivf_scaled_k(n)
        seed = similarity._md5_topk_seed(vec, k, similarity._IVF_SCALED_SALT)
        cq_s = np.floor(
            np.stack(seed["embedding"].to_numpy()).astype(np.float64)
            * similarity._IVF_SCALE
        ).astype(np.int64)
        rows: dict[str, int] = {}
        retrained = [("ivf_scaled_assigned", cq_s, False)]
        cq_t = None
        if manifest.get("ivf_trained_centroids") is not None:
            # Lloyd passes only when the store HAS a trained router to
            # apply them to — a pre-r15 store would otherwise pay two
            # full corpus passes computing a matrix that is discarded
            # (r15 self-review)
            cq_t = similarity._lloyd_refine(
                spark, vec, cq_s.copy(), similarity._IVF_TRAINED_ITERS
            )
            retrained.append(("ivf_trained_assigned", cq_t, True))
        for name, cq, l2 in retrained:
            assigned = similarity.ivfpq_append_check(
                vec, cq, None, with_codes=False, l2_routing=l2
            ).select("vec_id", "embedding", "cluster", "probes")
            path = os.path.join(out_dir, name)
            tmp = path + ".__retraining"
            assigned.write.mode("overwrite").parquet(tmp)
            rows[name] = spark.read.parquet(tmp).count()
            shutil.rmtree(path)
            os.rename(tmp, path)
            manifest["rows"][name] = rows[name]
        manifest["ivf_scaled_centroids"] = cq_s.tolist()
        if manifest.get("ivf_trained_centroids") is not None:
            manifest["ivf_trained_centroids"] = cq_t.tolist()
        manifest.setdefault("retrained", []).append(
            {"k": int(k), "n": int(n), "tables": sorted(rows)}
        )
        _write_manifest(out_dir, _ANN_MANIFEST, manifest)
    return {"k": int(k), "n": int(n), "rows": rows}


def ann_store_health(spark: SparkSession, out_dir: str) -> list[dict]:
    """The STORE-side health report — q_sim_index_health's twin over a
    real persisted store: one dict per stored router table composing
    the manifest's debt counters with a live occupancy scan. Per row:
    list count, physical rows, occupancy max / exact lower median /
    skew ratio (the re-salt alarm), pending tombstone debt, vector
    rows appended since the last compaction (the compaction-cadence
    trigger), and how many retrains the store has absorbed. Read-only:
    opens the LIVE manifest (a store mid-write or crash-recovered has
    none and fails with the named error) and runs one K-row aggregate
    per router — never a corpus-sized pull. tools/ann_maintenance.py
    prints it as the cycle's final dashboard."""
    mpath = os.path.join(out_dir, _ANN_MANIFEST)
    if not os.path.exists(mpath):
        raise ValueError(
            f"ANN store at {out_dir} has no loadable manifest (never "
            f"built, mid-write, or crash-recovered) — health reads need "
            f"a consistent store"
        )
    with open(mpath) as f:
        manifest = json.load(f)
    rows = manifest["rows"]
    report: list[dict] = []
    routers = (
        ("ivf_fixed", "ivf_assigned", "ivf_centroids"),
        ("ivf_scaled", "ivf_scaled_assigned", "ivf_scaled_centroids"),
        ("ivf_trained", "ivf_trained_assigned", "ivf_trained_centroids"),
    )
    for name, tbl, cent_key in routers:
        cent = manifest.get(cent_key)
        if cent is None or tbl not in rows:
            continue  # pre-r14/r15 store: that router was never built
        occ = sorted(
            (r["sz"], r["cluster"])
            for r in spark.read.parquet(os.path.join(out_dir, tbl))
            .groupBy("cluster")
            .agg(F.count("*").alias("sz"))
            .collect()
        )
        if occ:
            occ_max = max(s for s, _ in occ)
            occ_med = occ[(len(occ) + 1) // 2 - 1][0]
            occ_skew = occ_max * 100 // occ_med
        else:
            # a fully-tombstoned-and-compacted store has zero physical
            # rows: the health probe must report the degenerate shape,
            # not die on max()-of-empty (r15 self-review)
            occ_max = occ_med = occ_skew = 0
        report.append(
            {
                "index_name": name,
                "n_lists": len(cent),
                "n_rows": rows[tbl],
                "occ_max": occ_max,
                "occ_med": occ_med,
                "occ_skew_x100": occ_skew,
                "pending_tombstones": manifest.get("pending_tombstones", 0),
                "appended_since_compact": manifest.get(
                    "appended_since_compact", 0
                ),
                "retrains": len(manifest.get("retrained", [])),
            }
        )
    return report


def load_ann_indexes(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Seed the similarity tiers' serving indexes from a persisted ANN
    store (fingerprint-validated against ``sf_dir``'s embeddings table
    NOW, like every other loader — a store built against a regenerated
    corpus is an explicit error). Each memo entry gets the store's lazy
    parquet scan, so every registered tier — and every query composed on
    one — transparently serves from disk: norms, LSH codes, IVF
    assignments, PQ codes, and MaxSim tokens all skip their build
    kernels. The IVF frame needs no localCheckpoint here: the parquet
    files already pin its contents, which is exactly what the checkpoint
    buys on the build path. Returns {name: row_count} from the
    manifest."""
    import numpy as np

    from mapreduce_framework_api_spark.operators import similarity

    with open(os.path.join(out_dir, _ANN_MANIFEST)) as f:
        manifest = json.load(f)
    want = json.loads(json.dumps(fixture_fingerprint(sf_dir, "embeddings")))
    if manifest["embeddings_fingerprint"] != want:
        raise ValueError(
            f"ANN store at {out_dir} was built against a different "
            f"embeddings table than {sf_dir} (fingerprint mismatch); "
            f"re-run persist_ann_indexes"
        )

    # Pending tombstones shadow their vec_ids in every serving scan (the
    # tombstone_ann_indexes contract): the anti-join rides each lazy
    # read, so between a tombstone and its compaction every tier serves
    # exactly the survivor set. The tombstone side is broadcast — at any
    # realistic pending-set size the join adds no shuffle to any plan.
    rows = dict(manifest["rows"])
    pending = manifest.get("pending_tombstones", 0) > 0
    scans = _read_frames(
        spark, out_dir, list(rows) + ([_TOMBSTONES] if pending else [])
    )
    tomb = None
    if pending:
        from pyspark.sql.functions import broadcast

        tomb = broadcast(scans[_TOMBSTONES])

    def rd(name):
        df = scans[name]
        return df if tomb is None else df.join(tomb, "vec_id", "left_anti")

    # The stored geometry must match what the serving session would derive
    # for this corpus: the LSH tier recomputes (g, d) from corpus metadata
    # at query time and slices the stored code table with it, so a store
    # whose recorded geometry disagrees would be silently mis-probed. The
    # fingerprint check above makes this unreachable today; the assert
    # pins it against any future change to the geometry derivation.
    # MAINTAINED stores (any append/reband history) legitimately diverge
    # from the fixture derivation — appends grow the corpus under the
    # build-time g (the documented occupancy degradation) and
    # reband_ann_lsh re-derives g from the STORE's own count — so for
    # those the check relaxes to structural validity (d matches the
    # fixture, g inside the band-width clamp); the stored codes are
    # self-consistent with the stored geometry by construction (one
    # kernel writes both).
    live_geom = similarity._lsh_geometry(spark, sf_dir)
    stored_geom = manifest["lsh_geometry"]
    maintained = bool(manifest.get("appended") or manifest.get("rebanded"))
    if stored_geom is not None and not maintained and tuple(stored_geom) != live_geom:
        raise ValueError(
            f"ANN store at {out_dir} records lsh_geometry={stored_geom} but "
            f"this session derives {live_geom} for {sf_dir} — the geometry "
            f"derivation changed since the store was built; re-run "
            f"persist_ann_indexes"
        )
    if stored_geom is not None and maintained:
        g, d = stored_geom
        if (live_geom is not None and d != live_geom[1]) or not (
            similarity._LSH_MIN_BITS <= g <= similarity._LSH_MAX_BITS
        ):
            raise ValueError(
                f"ANN store at {out_dir} records lsh_geometry={stored_geom}, "
                f"structurally invalid for {sf_dir} (live d="
                f"{None if live_geom is None else live_geom[1]}, band clamp "
                f"[{similarity._LSH_MIN_BITS}, {similarity._LSH_MAX_BITS}]); "
                f"re-run persist_ann_indexes"
            )

    def seed(builder, value):
        seed_artifact(builder, spark, sf_dir, value)

    def mat(x):
        return np.array(x, dtype=np.int64)

    seed(similarity.vec_norm_table, rd("vec_norms"))
    seed(similarity.lsh_code_table, rd("lsh_codes") if "lsh_codes" in rows else None)
    cq = manifest["ivf_centroids"]
    seed(similarity.ivf_index, None if cq is None else (rd("ivf_assigned"), mat(cq)))
    cbook = manifest["pq_codebook"]
    seed(similarity.pq_index, None if cbook is None else (rd("pq_codes"), mat(cbook)))
    # Stores written before the HQ operating point existed (r12) lack the
    # hq table; loading one leaves the hq index unseeded so the tier
    # falls back to its build path rather than erroring.
    hq_cbook = manifest.get("pq_hq_codebook")
    if hq_cbook is not None and "pq_hq_codes" in rows:
        seed(similarity.pq_hq_index, (rd("pq_hq_codes"), mat(hq_cbook)))
    # Stores written before the corpus-scaled point (r14) lack this
    # table; loading one leaves the scaled index unseeded so the tier
    # falls back to its build path (the pq_hq precedent).
    s_cq = manifest.get("ivf_scaled_centroids")
    if s_cq is not None and "ivf_scaled_assigned" in rows:
        seed(similarity.ivf_scaled_index, (rd("ivf_scaled_assigned"), mat(s_cq)))
    # Stores written before round 15 lack the trained-router and
    # residual tables; loading one leaves those indexes unseeded so the
    # tiers fall back to their build paths (the pq_hq precedent).
    t_cq = manifest.get("ivf_trained_centroids")
    if t_cq is not None and "ivf_trained_assigned" in rows:
        seed(similarity.ivf_trained_index, (rd("ivf_trained_assigned"), mat(t_cq)))
    r_cbook = manifest.get("pq_res_codebook")
    r_cpq = manifest.get("pq_res_cpq")
    if r_cbook is not None and r_cpq is not None and "pq_res_codes" in rows:
        seed(similarity.pq_res_index, (rd("pq_res_codes"), mat(r_cbook), mat(r_cpq)))
    seed(similarity.maxsim_token_table, rd("maxsim_tokens"))
    return rows
