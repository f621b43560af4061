"""Persisted dedup-artifact store: parquet round-trip of the session
memo (operators/artifacts.py) — the "persist the kernel output at
ingest" production story as tested behavior."""

import json
import os

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from mapreduce_framework_api_spark.operators.artifacts import (
    load_dedup_artifacts,
    persist_dedup_artifacts,
)
from mapreduce_framework_api_spark.registry import load_all_queries
from mapreduce_framework_api_spark.session import clear_session_caches
from mapreduce_framework_api_spark.sources import peek_artifact

QUERIES = load_all_queries()


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_served_from_store(spark, *builders):
    """Each builder must return exactly the object the store load seeded.
    The memo is peeked BEFORE the builder runs, so a seed stored under a
    key that drifted from the builder's own key fails here instead of
    quietly rebuilding from the fixture."""
    for builder in builders:
        seeded = peek_artifact(builder.artifact_key(spark, SF_DIR))
        assert seeded is not None, f"{builder.__name__} was not seeded"
        assert builder(spark, SF_DIR) is seeded, builder.__name__


def _assert_rows_match_store(spark, store, manifest_name):
    """The manifest's row counts (summed from the written footers) must
    equal what Spark reads back from every stored frame."""
    with open(os.path.join(store, manifest_name)) as f:
        rows = json.load(f)["rows"]
    assert rows
    for name, n in rows.items():
        assert spark.read.parquet(os.path.join(store, name)).count() == n, name


def test_artifact_store_roundtrip_serves_queries(spark, tmp_path):
    """persist → clear caches → load → every query downstream of a
    persisted artifact returns byte-identical results while the kernels
    never re-run (the builders are served from the seeded memo). The
    store must also report the same row counts it wrote."""
    store = str(tmp_path / "artifacts")
    clear_session_caches()
    try:
        fresh = {
            name: _canon(QUERIES[name].fn(spark, SF_DIR))
            for name in (
                "q_dedup_ngram_jaccard",
                "q_dedup_containment_bk",
                "q_dedup_minhash",
            )
        }
        counts = persist_dedup_artifacts(spark, SF_DIR, store)
        assert set(counts) == {
            "shingle_table",
            "minhash_signatures",
            "scored_pairs",
            "bk_sketches",
            "bk_pairs",
        }
        assert all(n > 0 for n in counts.values()), counts
        _assert_rows_match_store(spark, store, "manifest.json")

        clear_session_caches()
        loaded = load_dedup_artifacts(spark, SF_DIR, store)
        assert loaded == counts
        # The seeded memo IS the seam: every builder must now return the
        # parquet-backed frame, and the queries must agree exactly.
        from mapreduce_framework_api_spark.operators.artifacts import _artifact_specs

        _assert_served_from_store(spark, *_artifact_specs().values())
        for name, want in fresh.items():
            assert _canon(QUERIES[name].fn(spark, SF_DIR)) == want, name
    finally:
        clear_session_caches()


def test_artifact_store_rejects_stale_fingerprint(spark, tmp_path):
    """A store built against a different (or regenerated) documents table
    must refuse to load — the explicit-staleness contract the in-memory
    caches enforce through their fingerprinted keys."""
    store = str(tmp_path / "artifacts")
    clear_session_caches()
    try:
        persist_dedup_artifacts(spark, SF_DIR, store)
        mpath = os.path.join(store, "manifest.json")
        m = json.load(open(mpath))
        m["documents_fingerprint"] = ["tampered", 0, 0]
        json.dump(m, open(mpath, "w"))
        with pytest.raises(ValueError, match="fingerprint mismatch"):
            load_dedup_artifacts(spark, SF_DIR, store)
    finally:
        clear_session_caches()


def test_ingest_index_store_roundtrip_serves_all_four_lanes(spark, tmp_path):
    """persist → clear → load the four ingest lanes' probe indexes, then
    run each lane's check function on the fixture's 1/8 arrival split:
    results must be identical to the fresh-built-index run (the restart
    scenario: an ingest job reloads its indexes instead of rebuilding
    from the frozen corpus). The SemDeDup centroid matrix must
    round-trip the manifest exactly."""
    import numpy as np

    from mapreduce_framework_api_spark.operators import dedup, similarity
    from mapreduce_framework_api_spark.operators.artifacts import (
        load_ingest_indexes,
        persist_ingest_indexes,
    )
    from mapreduce_framework_api_spark.sources import table

    store = str(tmp_path / "ingest_idx")
    new_docs = table(spark, SF_DIR, "documents").filter(dedup.inc_is_new())
    new_vecs = (
        table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .filter(similarity.sem_is_new())
    )

    def run_all():
        bands, sigs, sizes = dedup.incremental_corpus_index(spark, SF_DIR)
        head_idx, lookup = dedup.prefix_corpus_index(spark, SF_DIR)
        value_idx, corpus_sk = dedup.bk_corpus_index(spark, SF_DIR)
        sem_index, cent = similarity.semdedup_corpus_index(spark, SF_DIR)
        return {
            "minhash": _canon(dedup.incremental_check(new_docs, bands, sigs, sizes)),
            "prefix": _canon(dedup.prefix_check(new_docs, head_idx, lookup)),
            "bk": _canon(dedup.bk_containment_check(new_docs, value_idx, corpus_sk)),
            "sem": _canon(similarity.semdedup_check(new_vecs, sem_index, cent)),
        }, cent

    clear_session_caches()
    try:
        fresh, cent_fresh = run_all()
        counts = persist_ingest_indexes(spark, SF_DIR, store)
        assert counts and all(n >= 0 for n in counts.values())
        assert counts["minhash_sigs"] > 0 and counts["bk_corpus_sk"] > 0
        _assert_rows_match_store(spark, store, "index_manifest.json")

        clear_session_caches()
        loaded_counts = load_ingest_indexes(spark, SF_DIR, store)
        assert loaded_counts == counts
        _assert_served_from_store(
            spark,
            dedup.incremental_corpus_index,
            dedup.prefix_corpus_index,
            dedup.bk_corpus_index,
            similarity.semdedup_corpus_index,
        )
        loaded, cent_loaded = run_all()  # builders now serve the store
        assert loaded == fresh
        assert (cent_fresh is None) == (cent_loaded is None)
        if cent_fresh is not None:
            assert cent_loaded.dtype == np.int64
            assert np.array_equal(cent_fresh, cent_loaded)
        # at least one lane must actually flag something on the fixture,
        # or the equality assertions above are vacuous
        assert any(fresh[k] for k in fresh), {k: len(v) for k, v in fresh.items()}
    finally:
        clear_session_caches()


def test_ingest_index_store_rejects_stale_fingerprint(spark, tmp_path):
    import json as _json

    from mapreduce_framework_api_spark.operators.artifacts import (
        load_ingest_indexes,
        persist_ingest_indexes,
    )

    store = str(tmp_path / "ingest_idx")
    clear_session_caches()
    try:
        persist_ingest_indexes(spark, SF_DIR, store)
        mpath = os.path.join(store, "index_manifest.json")
        m = _json.load(open(mpath))
        m["embeddings_fingerprint"] = ["tampered", 0, 0]
        _json.dump(m, open(mpath, "w"))
        with pytest.raises(ValueError, match="fingerprint mismatch"):
            load_ingest_indexes(spark, SF_DIR, store)
    finally:
        clear_session_caches()


def test_streaming_lane_probes_store_loaded_indexes(spark, tmp_path):
    """The restart claim end-to-end IN the streaming runtime: persist the
    ingest indexes, clear every session cache (the 'new process'), load
    the store, then run the bottom-k containment lane as a MICRO-BATCHED
    STREAM whose stream-static joins hit the parquet-backed loaded
    frames — results must equal the fresh-index batch lane row-for-row
    on the fixture's arrival split."""
    from mapreduce_framework_api_spark.operators import dedup
    from mapreduce_framework_api_spark.operators.artifacts import (
        load_ingest_indexes,
        persist_ingest_indexes,
    )
    from mapreduce_framework_api_spark.sources import table
    from mapreduce_framework_api_spark.streaming.pipelines import run_to_memory

    store = str(tmp_path / "ingest_idx")
    stage = str(tmp_path / "arrivals")
    clear_session_caches()
    try:
        arrivals = table(spark, SF_DIR, "documents").filter(dedup.inc_is_new())
        arrivals.write.parquet(stage)
        value_idx, corpus_sk = dedup.bk_corpus_index(spark, SF_DIR)
        batch = _canon(dedup.bk_containment_check(arrivals, value_idx, corpus_sk))
        persist_ingest_indexes(spark, SF_DIR, store)

        clear_session_caches()  # the restarted process
        load_ingest_indexes(spark, SF_DIR, store)
        value_idx2, corpus_sk2 = dedup.bk_corpus_index(spark, SF_DIR)
        stream_in = (
            spark.readStream.schema(arrivals.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        run_to_memory(
            dedup.bk_containment_check(stream_in, value_idx2, corpus_sk2),
            "ta_bk_from_store",
            output_mode="append",
        )
        got = sorted(tuple(r) for r in spark.table("ta_bk_from_store").collect())
        assert got == batch
        assert batch, "fixture arrival split must flag at least one pair"
    finally:
        clear_session_caches()


_ANN_TIERS = (
    "q_sim_cosine_topk",
    "q_sim_ann_lsh",
    "q_sim_ivf_topk",
    "q_sim_pq_topk",
    "q_sim_maxsim_topk",
    # the composed tiers ride stored halves (ivf routing + their code table)
    "q_sim_ivfpq_topk",
    "q_sim_ivfpq_hq_topk",
    # the serving-probe lane rides ivf_assigned + pq_hq_codes
    "q_sim_ivfpq_probe",
    # two-stage retrieval rides the HQ shortlist + the raw vector table
    "q_sim_ivfpq_hq_rerank",
    # r14: the corpus-scaled point rides its own stored assignment table
    # + the hq code table; filtered search rides the hq tables + a
    # predicate scan of the fixture
    "q_sim_ivfpq_scaled_topk",
    "q_sim_filtered_topk",
    # r15: the trained router rides its own stored assignment table +
    # manifest centroids; residual rides its stored code table +
    # manifest (codebook, cpq) 3-tuple; the rerank points ride their
    # router's stored shortlist halves + the raw vector table
    "q_sim_ivfpq_trained_topk",
    "q_sim_ivfpq_residual_topk",
    "q_sim_ivfpq_scaled_rerank",
    "q_sim_ivfpq_trained_rerank",
)


def test_ann_store_roundtrip_serves_all_tiers(spark, tmp_path):
    """persist → clear → load every stored serving index (six), then
    re-run every tier query served off them (_ANN_TIERS — the composed
    IVF-PQ operating points ride the ivf half + their own code table):
    results must be byte-identical to the
    fresh-built run (the memo now holds the store's parquet scans, so
    norms/codes/assignments/tokens all come off disk instead of their
    build kernels). The IVF centroid matrix and PQ codebook tensor must
    round-trip the manifest exactly."""
    import numpy as np

    from mapreduce_framework_api_spark.operators import similarity
    from mapreduce_framework_api_spark.operators.artifacts import (
        load_ann_indexes,
        persist_ann_indexes,
    )

    store = str(tmp_path / "ann_idx")
    clear_session_caches()
    try:
        fresh = {n: _canon(QUERIES[n].fn(spark, SF_DIR)) for n in _ANN_TIERS}
        _, cq_fresh = similarity.ivf_index(spark, SF_DIR)
        _, cbook_fresh = similarity.pq_index(spark, SF_DIR)
        _, hq_cbook_fresh = similarity.pq_hq_index(spark, SF_DIR)
        counts = persist_ann_indexes(spark, SF_DIR, store)
        assert set(counts) == {
            "vec_norms",
            "lsh_codes",
            "ivf_assigned",
            "ivf_scaled_assigned",
            "ivf_trained_assigned",
            "pq_codes",
            "pq_hq_codes",
            "pq_res_codes",
            "maxsim_tokens",
        }
        assert all(n > 0 for n in counts.values()), counts
        _assert_rows_match_store(spark, store, "ann_manifest.json")

        clear_session_caches()
        loaded = load_ann_indexes(spark, SF_DIR, store)
        assert loaded == counts
        # The seeded memo IS the seam: every serving-index builder must
        # now return the parquet-backed frames...
        _assert_served_from_store(
            spark,
            similarity.vec_norm_table,
            similarity.lsh_code_table,
            similarity.ivf_index,
            similarity.pq_index,
            similarity.pq_hq_index,
            similarity.ivf_scaled_index,
            similarity.ivf_trained_index,
            similarity.pq_res_index,
            similarity.maxsim_token_table,
        )
        _, cq_loaded = similarity.ivf_index(spark, SF_DIR)
        _, cbook_loaded = similarity.pq_index(spark, SF_DIR)
        _, hq_cbook_loaded = similarity.pq_hq_index(spark, SF_DIR)
        assert cq_loaded.dtype == np.int64 and np.array_equal(cq_fresh, cq_loaded)
        assert cbook_loaded.dtype == np.int64 and np.array_equal(
            cbook_fresh, cbook_loaded
        )
        assert hq_cbook_loaded.dtype == np.int64 and np.array_equal(
            hq_cbook_fresh, hq_cbook_loaded
        )
        # ...and every tier must agree exactly with its fresh-built run.
        for name, want in fresh.items():
            assert _canon(QUERIES[name].fn(spark, SF_DIR)) == want, name
    finally:
        clear_session_caches()


def test_ann_store_rejects_stale_fingerprint(spark, tmp_path):
    from mapreduce_framework_api_spark.operators.artifacts import (
        load_ann_indexes,
        persist_ann_indexes,
    )

    store = str(tmp_path / "ann_idx")
    clear_session_caches()
    try:
        persist_ann_indexes(spark, SF_DIR, store)
        mpath = os.path.join(store, "ann_manifest.json")
        m = json.load(open(mpath))
        m["embeddings_fingerprint"] = ["tampered", 0, 0]
        json.dump(m, open(mpath, "w"))
        with pytest.raises(ValueError, match="fingerprint mismatch"):
            load_ann_indexes(spark, SF_DIR, store)
    finally:
        clear_session_caches()


def test_repersist_crash_leaves_no_loadable_stale_manifest(
    spark, tmp_path, monkeypatch
):
    """The re-persist staleness window (VERDICT r10/r11 advice): a persist
    that crashes over an EXISTING store must leave a store that refuses
    to load — never one whose old fingerprint-valid manifest silently
    describes parquet that was being overwritten. The guard renames the
    manifest aside at entry, so the crash leaves no manifest.json at all;
    the .stale copy is forensic only and never read by a loader."""
    from mapreduce_framework_api_spark.operators import artifacts

    store = str(tmp_path / "artifacts")
    clear_session_caches()
    try:
        persist_dedup_artifacts(spark, SF_DIR, store)
        load_dedup_artifacts(spark, SF_DIR, store)  # baseline: loads fine
        clear_session_caches()

        def boom(*_a, **_k):
            raise RuntimeError("simulated mid-persist crash")

        monkeypatch.setattr(artifacts, "_artifact_specs", lambda: {"shingle_table": boom})
        with pytest.raises(RuntimeError, match="simulated mid-persist crash"):
            persist_dedup_artifacts(spark, SF_DIR, store)
        monkeypatch.undo()
        assert not os.path.exists(os.path.join(store, "manifest.json"))
        assert os.path.exists(os.path.join(store, "manifest.json.stale"))
        with pytest.raises(FileNotFoundError):
            load_dedup_artifacts(spark, SF_DIR, store)
        # lockfile released on the failure path: a retry persist succeeds
        counts = persist_dedup_artifacts(spark, SF_DIR, store)
        clear_session_caches()
        assert load_dedup_artifacts(spark, SF_DIR, store) == counts
    finally:
        clear_session_caches()


def test_second_concurrent_writer_errors_cleanly(spark, tmp_path):
    """Two persists racing one out_dir: the second must fail fast with a
    named error (not interleave parquet overwrites under a winner-takes-
    the-manifest race), and the first's lock must be gone after it
    finishes so later persists run."""
    store = str(tmp_path / "artifacts")
    os.makedirs(store, exist_ok=True)
    lock = os.path.join(store, "manifest.json.lock")
    open(lock, "w").close()  # writer #1 holds the store
    clear_session_caches()
    try:
        with pytest.raises(RuntimeError, match="another persist"):
            persist_dedup_artifacts(spark, SF_DIR, store)
        os.unlink(lock)  # writer #1 done (or stranded lock removed)
        persist_dedup_artifacts(spark, SF_DIR, store)
        assert not os.path.exists(lock)  # released on success
    finally:
        clear_session_caches()


def test_failed_ann_persist_waits_for_inflight_writes_and_writes_no_manifest(
    spark, tmp_path, monkeypatch
):
    """The concurrent persist's failure contract: when one frame's build
    raises, that exception propagates — after the builds and writes
    already running have finished, and before the writer guard releases
    the lock — and no manifest is written. A retry then succeeds."""
    import time

    from mapreduce_framework_api_spark.operators import similarity
    from mapreduce_framework_api_spark.operators.artifacts import (
        load_ann_indexes,
        persist_ann_indexes,
    )

    store = str(tmp_path / "ann_idx")
    err = RuntimeError("simulated pq_hq build failure")

    def boom(*_a, **_k):
        raise err

    vec_norm_table = similarity.vec_norm_table

    def slow_vec_norm_table(spark, sf_dir):
        time.sleep(1.0)  # still building when the failure lands
        return vec_norm_table(spark, sf_dir)

    clear_session_caches()
    try:
        monkeypatch.setattr(similarity, "pq_hq_index", boom)
        monkeypatch.setattr(similarity, "vec_norm_table", slow_vec_norm_table)
        with pytest.raises(RuntimeError) as raised:
            persist_ann_indexes(spark, SF_DIR, store)
        assert raised.value is err
        monkeypatch.undo()
        # the first task was running when pq_hq failed: its write finished
        # before the exception left the persist
        assert os.path.exists(os.path.join(store, "vec_norms", "_SUCCESS"))
        assert not os.path.exists(os.path.join(store, "ann_manifest.json"))
        assert not os.path.exists(os.path.join(store, "ann_manifest.json.lock"))

        counts = persist_ann_indexes(spark, SF_DIR, store)
        clear_session_caches()
        assert load_ann_indexes(spark, SF_DIR, store) == counts
    finally:
        clear_session_caches()


def test_persist_jobs_stay_in_the_callers_job_group(spark, tmp_path):
    """Builds and writes run on pool threads, yet every Spark job a
    persist fires carries the calling thread's job group (the tracer's
    per-operation attribution depends on it)."""
    from conftest import clear_job_group, job_fence

    store = str(tmp_path / "artifacts")
    sc = spark.sparkContext
    group = "persist-dedup-attribution"
    clear_session_caches()  # so the builds fire their jobs on the pool
    try:
        before = job_fence(spark)
        sc.setJobGroup(group, group)
        try:
            persist_dedup_artifacts(spark, SF_DIR, store)
        finally:
            clear_job_group(spark)
        after = job_fence(spark)
        fired = set(range(before + 1, after))
        grouped = set(sc.statusTracker().getJobIdsForGroup(group))
        assert fired, "the persist fired no Spark job"
        assert fired <= grouped, sorted(fired - grouped)
    finally:
        clear_session_caches()


def test_ann_store_append_equals_frozen_rebuild(spark, tmp_path):
    """The index-maintenance contract (VERDICT r13 task 6), in three
    claims: (1) KERNEL EQUIVALENCE — ivfpq_append_check under the
    manifest's frozen state reproduces the store's bulk-built rows
    byte-for-byte (one kernel, two paths, so append == rebuild by
    construction); (2) APPEND — append_ann_indexes under _writer_guard
    advances all six tables + the manifest counts and audit log;
    (3) SERVING LIVENESS — a probe against the re-loaded store collides
    with an APPENDED row, i.e. arrivals are genuinely served, not just
    stored."""
    import numpy as np

    from mapreduce_framework_api_spark.operators import similarity
    from mapreduce_framework_api_spark.operators.artifacts import (
        _ANN_MANIFEST,
        append_ann_indexes,
        load_ann_indexes,
        persist_ann_indexes,
    )
    from mapreduce_framework_api_spark.sources import table

    # base fixture: the frozen 7/8 split as its own corpus directory
    base_dir = str(tmp_path / "basefx")
    full = table(spark, SF_DIR, "embeddings")
    full.filter(~similarity._hash_split("pqsplit")).write.parquet(
        os.path.join(base_dir, "embeddings.parquet")
    )
    arrivals = full.filter(similarity._hash_split("pqsplit")).select(
        "vec_id", "embedding"
    )
    n_arr = arrivals.count()
    assert n_arr > 0

    store = str(tmp_path / "ann_store")
    clear_session_caches()
    counts0 = persist_ann_indexes(spark, base_dir, store)
    with open(os.path.join(store, _ANN_MANIFEST)) as f:
        manifest = json.load(f)
    cq = np.array(manifest["ivf_centroids"], dtype=np.int64)
    cbook = np.array(manifest["pq_codebook"], dtype=np.int64)
    hq_cbook = np.array(manifest["pq_hq_codebook"], dtype=np.int64)

    # (1) kernel equivalence on every bulk-built row
    base_rows = table(spark, base_dir, "embeddings").select("vec_id", "embedding")
    bulk = similarity.ivfpq_append_check(base_rows, cq, hq_cbook)
    got_ivf = sorted(
        (r["vec_id"], r["cluster"], tuple(r["probes"])) for r in bulk.collect()
    )
    stored_ivf = sorted(
        (r["vec_id"], r["cluster"], tuple(r["probes"]))
        for r in spark.read.parquet(os.path.join(store, "ivf_assigned")).collect()
    )
    assert got_ivf == stored_ivf
    got_hq = sorted((r["vec_id"], tuple(r["codes"])) for r in bulk.collect())
    stored_hq = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in spark.read.parquet(os.path.join(store, "pq_hq_codes")).collect()
    )
    assert got_hq == stored_hq
    got_pq = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in similarity.ivfpq_append_check(base_rows, cq, cbook).collect()
    )
    stored_pq = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in spark.read.parquet(os.path.join(store, "pq_codes")).collect()
    )
    assert got_pq == stored_pq

    # (2) append arrivals; counts advance exactly; audit log written
    appended = append_ann_indexes(spark, arrivals, store)
    assert appended["ivf_assigned"] == n_arr
    assert appended["pq_codes"] == n_arr
    assert appended["pq_hq_codes"] == n_arr
    assert appended["vec_norms"] == n_arr
    assert appended["ivf_scaled_assigned"] == n_arr
    assert appended["ivf_trained_assigned"] == n_arr
    assert appended["pq_res_codes"] == n_arr
    assert appended["maxsim_tokens"] == n_arr
    assert appended["lsh_codes"] == n_arr * similarity._LSH_TABLES
    with open(os.path.join(store, _ANN_MANIFEST)) as f:
        m2 = json.load(f)
    assert m2["appended"] == [appended]
    for name, n0 in counts0.items():
        assert m2["rows"][name] == n0 + appended[name], name

    # (3) the appended rows are served: re-load, probe an exact dup of
    # an ARRIVAL — the collision must name that arrival as corpus
    clear_session_caches()
    rows = load_ann_indexes(spark, base_dir, store)
    assert rows == m2["rows"]
    probe_target = arrivals.limit(1).collect()[0]
    dup = spark.createDataFrame(
        [(990001, probe_target["embedding"])],
        "vec_id long, embedding array<float>",
    )
    pi = similarity.ivfpq_probe_index(spark, base_dir)
    assert pi is not None
    frame, pcq, pcb = pi
    hits = similarity.ivfpq_probe_check(dup, frame, pcq, pcb).collect()
    assert any(r["corpus_id"] == probe_target["vec_id"] for r in hits), hits


def test_ann_store_append_requires_frozen_state(spark, tmp_path):
    """An append against a store with no frozen quantizer (empty-corpus
    build) must fail loudly, not write rows encoded against nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_framework_api_spark.operators.artifacts import (
        append_ann_indexes,
        persist_ann_indexes,
    )
    from mapreduce_framework_api_spark.session import clear_session_caches

    empty_dir = str(tmp_path / "emptyfx")
    os.makedirs(empty_dir)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([], pa.int64()),
                "embedding": pa.array([], pa.list_(pa.float32())),
                "label": pa.array([], pa.int32()),
            }
        ),
        os.path.join(empty_dir, "embeddings.parquet"),
    )
    store = str(tmp_path / "empty_store")
    clear_session_caches()
    persist_ann_indexes(spark, empty_dir, store)
    arrivals = spark.createDataFrame(
        [(1, [0.5] * 64)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="frozen quantizer"):
        append_ann_indexes(spark, arrivals, store)
    clear_session_caches()


def _canon_rows(df):
    def v(x):
        return tuple(x) if isinstance(x, list) else x

    return sorted(tuple(v(x) for x in r) for r in df.collect())


def test_ann_store_tombstone_shadows_then_compact_reclaims(spark, tmp_path):
    """The DELETE half of index maintenance (the append lane's twin), in
    four claims: (1) TOMBSTONE SHADOWS — after tombstone_ann_indexes,
    loads serve exactly the survivor set in every table, and a probe of
    an exact dup of a DELETED vector no longer collides with it;
    (2) DELETE-WINS — a row appended for a tombstoned vec_id stays
    shadowed until compaction; (3) COMPACT PRESERVES — the physical
    rewrite is a pure anti-join: survivor rows are byte-identical to the
    pre-compact stored rows, manifest counts updated, pending cleared,
    audit entry logged; (4) loads pre/post compact are identical, and a
    re-ingest AFTER compaction serves again."""
    from mapreduce_framework_api_spark.operators import similarity
    from mapreduce_framework_api_spark.operators.artifacts import (
        _ANN_MANIFEST,
        append_ann_indexes,
        compact_ann_indexes,
        load_ann_indexes,
        persist_ann_indexes,
        tombstone_ann_indexes,
    )
    from mapreduce_framework_api_spark.sources import table

    store = str(tmp_path / "ann_store")
    clear_session_caches()
    counts0 = persist_ann_indexes(spark, SF_DIR, store)
    tables = sorted(counts0)

    orig = {
        n: _canon_rows(spark.read.parquet(os.path.join(store, n)))
        for n in tables
    }

    full = table(spark, SF_DIR, "embeddings")
    dele = full.filter(similarity._hash_split("delsplit")).select(
        "vec_id", "embedding"
    )
    del_rows = dele.collect()
    del_ids = {r["vec_id"] for r in del_rows}
    assert len(del_ids) > 0

    # (1) tombstone; re-tombstoning the same set is a distinct-id no-op
    n = tombstone_ann_indexes(spark, dele.select("vec_id"), store)
    assert n == len(del_ids)
    assert tombstone_ann_indexes(spark, dele.select("vec_id"), store) == 0
    with open(os.path.join(store, _ANN_MANIFEST)) as f:
        m1 = json.load(f)
    assert m1["pending_tombstones"] == len(del_ids)

    clear_session_caches()
    load_ann_indexes(spark, SF_DIR, store)
    key = similarity.vec_norm_table.artifact_key(spark, SF_DIR)
    served_norm_ids = {
        r["vec_id"]
        for r in peek_artifact(key).select("vec_id").collect()
    }
    orig_ids = {r[0] for r in orig["vec_norms"]}
    assert served_norm_ids == orig_ids - del_ids
    # every serving table excludes every tombstoned id
    pre_compact_served = {}
    for name in tables:
        dfl = spark.read.parquet(os.path.join(store, name))
        import pyspark.sql.functions as SF

        shadowed = dfl.join(
            spark.createDataFrame(
                [(i,) for i in sorted(del_ids)], "vec_id long"
            ),
            "vec_id",
            "left_anti",
        )
        pre_compact_served[name] = _canon_rows(shadowed)
    # a probe of an exact dup of a deleted vector must NOT collide with it
    victim = del_rows[0]
    dup = spark.createDataFrame(
        [(990002, victim["embedding"])], "vec_id long, embedding array<float>"
    )
    pi = similarity.ivfpq_probe_index(spark, SF_DIR)
    assert pi is not None
    frame, pcq, pcb = pi
    hits = similarity.ivfpq_probe_check(dup, frame, pcq, pcb).collect()
    assert all(r["corpus_id"] != victim["vec_id"] for r in hits)

    # (2) delete-wins: append the victim back while its tombstone is
    # pending — it must stay shadowed
    append_ann_indexes(
        spark,
        spark.createDataFrame(
            [(victim["vec_id"], victim["embedding"])],
            "vec_id long, embedding array<float>",
        ),
        store,
    )
    clear_session_caches()
    load_ann_indexes(spark, SF_DIR, store)
    still = {
        r["vec_id"]
        for r in peek_artifact(key).select("vec_id").collect()
    }
    assert victim["vec_id"] not in still

    # (3) compact: survivors byte-identical, counts updated, log entry
    removed = compact_ann_indexes(spark, store)
    with open(os.path.join(store, _ANN_MANIFEST)) as f:
        m2 = json.load(f)
    assert m2["pending_tombstones"] == 0
    assert m2["compacted"] == [removed]
    assert not os.path.exists(os.path.join(store, "tombstones"))
    for name in tables:
        after = _canon_rows(spark.read.parquet(os.path.join(store, name)))
        assert after == pre_compact_served[name], name
        assert m2["rows"][name] == len(after), name
    # compacting with nothing pending is a clean no-op
    assert compact_ann_indexes(spark, store) == {}

    # (4) loads pre/post compact identical; re-ingest after compaction
    # serves again (the documented delete-wins recovery path)
    clear_session_caches()
    load_ann_indexes(spark, SF_DIR, store)
    post = {
        r["vec_id"]
        for r in peek_artifact(key).select("vec_id").collect()
    }
    assert post == still
    append_ann_indexes(
        spark,
        spark.createDataFrame(
            [(victim["vec_id"], victim["embedding"])],
            "vec_id long, embedding array<float>",
        ),
        store,
    )
    clear_session_caches()
    load_ann_indexes(spark, SF_DIR, store)
    back = {
        r["vec_id"]
        for r in peek_artifact(key).select("vec_id").collect()
    }
    assert victim["vec_id"] in back
    clear_session_caches()


def test_ann_store_reband_after_growth(spark, tmp_path):
    """The LSH re-band maintenance op (the append lane's documented
    occupancy-degradation fix), in five claims: (1) a store built at
    n=120 records g=4; appends to n=140 leave g=4 (the documented
    degradation — appends never silently re-derive geometry);
    (2) reband_ann_lsh re-derives g=5 from the STORE's grown count and
    the rewritten code table is byte-identical to a fresh kernel pass
    at g=5 over the same vectors; (3) the manifest geometry, row count,
    and rebanded audit entry update; (4) a maintained store with
    geometry diverging from the fixture derivation LOADS (structural
    validation) and seeds the caches with the rebanded codes;
    (5) re-running reband with no further growth is a logged no-op."""
    import numpy as np

    from mapreduce_framework_api_spark.operators import similarity
    from mapreduce_framework_api_spark.operators.artifacts import (
        _ANN_MANIFEST,
        append_ann_indexes,
        load_ann_indexes,
        persist_ann_indexes,
        reband_ann_lsh,
    )

    rng = np.random.RandomState(14)

    def vec_rows(ids):
        return [(int(i), [float(x) for x in rng.rand(64) - 0.5]) for i in ids]

    base_dir = str(tmp_path / "growfx")
    spark.createDataFrame(
        vec_rows(range(120)), "vec_id long, embedding array<float>"
    ).withColumn("label", (F.col("vec_id") % 4).cast("int")).write.parquet(
        os.path.join(base_dir, "embeddings.parquet")
    )
    store = str(tmp_path / "grow_store")
    clear_session_caches()
    persist_ann_indexes(spark, base_dir, store)
    with open(os.path.join(store, _ANN_MANIFEST)) as f:
        m0 = json.load(f)
    assert m0["lsh_geometry"][0] == 4  # smallest b with 2^b*8 >= 120

    # (1) grow to 140 under the frozen geometry
    append_ann_indexes(
        spark,
        spark.createDataFrame(
            vec_rows(range(1000, 1020)), "vec_id long, embedding array<float>"
        ),
        store,
    )
    with open(os.path.join(store, _ANN_MANIFEST)) as f:
        m1 = json.load(f)
    assert m1["lsh_geometry"][0] == 4
    assert m1["rows"]["vec_norms"] == 140

    # (2)+(3) reband: g follows the grown count; codes == fresh kernel
    g, d, n_codes = reband_ann_lsh(spark, store)
    assert (g, d) == (5, 64)  # 2^4*8=128 < 140 <= 2^5*8
    assert n_codes == 140 * similarity._LSH_TABLES
    with open(os.path.join(store, _ANN_MANIFEST)) as f:
        m2 = json.load(f)
    assert m2["lsh_geometry"] == [5, 64]
    assert m2["rows"]["lsh_codes"] == n_codes
    assert m2["rebanded"][-1] == {"g": 5, "n": 140, "noop": False}
    stored_codes = _canon_rows(
        spark.read.parquet(os.path.join(store, "lsh_codes"))
    )
    fresh = _canon_rows(
        spark.read.parquet(os.path.join(store, "vec_norms"))
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .select(
            "vec_id",
            F.posexplode(similarity._lsh_codes_udf(5, 64)("v")).alias(
                "table_id", "code"
            ),
        )
    )
    assert stored_codes == fresh

    # (4) the maintained store loads despite fixture-derivation drift
    # (base fixture still derives g=4) and serves the rebanded codes
    clear_session_caches()
    load_ann_indexes(spark, base_dir, store)
    key = similarity.lsh_code_table.artifact_key(spark, base_dir)
    served = _canon_rows(peek_artifact(key))
    assert served == stored_codes

    # (5) a second reband with no growth is a logged no-op
    g2, _d2, n2 = reband_ann_lsh(spark, store)
    assert (g2, n2) == (5, n_codes)
    with open(os.path.join(store, _ANN_MANIFEST)) as f:
        m3 = json.load(f)
    assert m3["rebanded"][-1]["noop"] is True
    clear_session_caches()


def test_ann_maintenance_cycle_runbook(spark, tmp_path):
    """The tools/ann_maintenance.py runbook end to end at sf0.001: one
    cycle of build -> append -> drift report -> tombstone -> compact ->
    reband -> reload + probe health, asserting every gate the CLI's
    ``healthy`` verdict folds: arrivals appended to every table, a
    non-negative drift report covering the full slice, deletes
    reclaimed by compaction, a positive rebanded code count, and the
    probe serving exactly the survivor set (appended survivor collides,
    deleted vector doesn't)."""
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from ann_maintenance import run_cycle

    store = str(tmp_path / "maint_store")
    r = run_cycle(spark, SF_DIR, store)
    assert r["healthy"] is True, r
    assert r["appended"]["vec_norms"] > 0
    assert r["drift"]["n_arrivals"] == r["appended"]["vec_norms"]
    assert r["drift"]["min_margin"] >= 0
    assert r["tombstoned"] > 0
    assert r["compacted"]["vec_norms"] == r["tombstoned"]
    assert r["rebanded"]["lsh_codes"] == (
        r["serving_rows"]["vec_norms"] * 16
    )
    assert r["retrained"]["n"] == r["serving_rows"]["vec_norms"]
    assert (
        r["retrained"]["rows"]["ivf_trained_assigned"] == r["retrained"]["n"]
    )
    assert [h["index_name"] for h in r["store_health"]] == [
        "ivf_fixed",
        "ivf_scaled",
        "ivf_trained",
    ]
    assert all(
        h["retrains"] == 1 and h["occ_max"] >= h["occ_med"] >= 1
        for h in r["store_health"]
    )
    assert r["health"] == {
        "probe_index": True,
        "appended_served": True,
        "deleted_not_served": True,
    }


def test_maintenance_ops_refuse_crash_recovered_store(spark, tmp_path):
    """A crash-recovered store (live manifest gone, forensic .stale
    left behind — the _writer_guard crash state after the documented
    lockfile cleanup) must REFUSE every maintenance op with the named
    error, not fall through to the pre-crash .stale manifest and
    silently resurrect half-written tables (r14 self-review finding).
    A store with no manifest at all gets the same named error instead
    of a FileNotFoundError."""
    from mapreduce_framework_api_spark.operators.artifacts import (
        _ANN_MANIFEST,
        append_ann_indexes,
        compact_ann_indexes,
        persist_ann_indexes,
        reband_ann_lsh,
        tombstone_ann_indexes,
    )

    store = str(tmp_path / "crashed_store")
    clear_session_caches()
    persist_ann_indexes(spark, SF_DIR, store)
    # simulate the crash state: live manifest moved aside, never restored
    live = os.path.join(store, _ANN_MANIFEST)
    os.replace(live, live + ".stale")

    arrivals = spark.createDataFrame(
        [(990100, [0.5] * 64)], "vec_id long, embedding array<float>"
    )
    ids = spark.createDataFrame([(1,)], "vec_id long")
    for op in (
        lambda: append_ann_indexes(spark, arrivals, store),
        lambda: tombstone_ann_indexes(spark, ids, store),
        lambda: compact_ann_indexes(spark, store),
        lambda: reband_ann_lsh(spark, store),
    ):
        with pytest.raises(ValueError, match="no loadable manifest"):
            op()
    # never-built store: same named error, no FileNotFoundError
    empty = str(tmp_path / "never_built")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="no loadable manifest"):
        compact_ann_indexes(spark, empty)
    clear_session_caches()


def test_rebuild_clears_prior_life_maintenance_residue(spark, tmp_path):
    """ADVICE r15 (medium): persist over a directory that carries
    residue from a previous store life — a pending-tombstone file and
    orphaned mid-op temp dirs (the crash-recovery replay: stranded
    lockfile deleted, persist re-run) — must RESET that state. Without
    the reset the fresh manifest says pending_tombstones=0 while the
    stale tombstone file survives on disk; the next tombstone call
    (gating its dedup anti-join on the manifest counter) appends to the
    stale file, and load/compact then anti-join ids never tombstoned in
    the rebuilt store — silently dropping live vectors."""
    from mapreduce_framework_api_spark.operators.artifacts import (
        _ANN_MANIFEST,
        _TOMBSTONES,
        compact_ann_indexes,
        persist_ann_indexes,
        tombstone_ann_indexes,
    )

    store = str(tmp_path / "residue_store")
    clear_session_caches()
    counts = persist_ann_indexes(spark, SF_DIR, store)
    victim_id = (
        spark.read.parquet(os.path.join(store, "vec_norms"))
        .select("vec_id")
        .orderBy("vec_id")
        .limit(1)
        .collect()[0][0]
    )
    victim = spark.createDataFrame([(victim_id,)], "vec_id long")
    assert tombstone_ann_indexes(spark, victim, store) == 1
    # orphaned mid-op temp dir from a crashed compact of the prior life
    os.makedirs(os.path.join(store, "pq_codes.__compacting"))

    # the rebuild (same corpus — the crash-recovery replay)
    rebuilt = persist_ann_indexes(spark, SF_DIR, store)
    assert rebuilt == counts
    assert not os.path.exists(os.path.join(store, _TOMBSTONES))
    assert not os.path.exists(os.path.join(store, "pq_codes.__compacting"))
    with open(os.path.join(store, _ANN_MANIFEST)) as f:
        manifest = json.load(f)
    assert manifest.get("pending_tombstones", 0) == 0

    # the fresh life starts clean: one new tombstone pends exactly one
    # id, and compaction removes rows for THAT id only (the stale file
    # would have made it remove the prior life's victim too)
    other_id = (
        spark.read.parquet(os.path.join(store, "vec_norms"))
        .select("vec_id")
        .filter(F.col("vec_id") != victim_id)
        .orderBy("vec_id")
        .limit(1)
        .collect()[0][0]
    )
    other = spark.createDataFrame([(other_id,)], "vec_id long")
    assert tombstone_ann_indexes(spark, other, store) == 1
    removed = compact_ann_indexes(spark, store)
    assert removed["vec_norms"] == 1
    clear_session_caches()


def test_maintenance_race_surfaces_the_retryable_lock_error(spark, tmp_path):
    """ADVICE r15 (low): a maintenance op racing a writer that already
    holds _writer_guard (lockfile present, live manifest moved to
    .stale) must fail with the RETRYABLE lock error, not the 'no
    loadable manifest … re-run persist_ann_indexes' error — an operator
    following the latter message would rebuild a healthy store, losing
    all appended/tombstoned state."""
    from mapreduce_framework_api_spark.operators.artifacts import (
        _ANN_MANIFEST,
        compact_ann_indexes,
        persist_ann_indexes,
        tombstone_ann_indexes,
    )

    store = str(tmp_path / "raced_store")
    clear_session_caches()
    persist_ann_indexes(spark, SF_DIR, store)
    # simulate the in-flight writer: guard entry state
    live = os.path.join(store, _ANN_MANIFEST)
    os.replace(live, live + ".stale")
    open(os.path.join(store, _ANN_MANIFEST + ".lock"), "w").close()

    ids = spark.createDataFrame([(1,)], "vec_id long")
    for op in (
        lambda: tombstone_ann_indexes(spark, ids, store),
        lambda: compact_ann_indexes(spark, store),
    ):
        with pytest.raises(RuntimeError, match="already writing"):
            op()
    clear_session_caches()


def test_tombstone_filters_null_ids(spark, tmp_path):
    """ADVICE r15 (low): a null vec_id can never match a stored row —
    unfiltered it would survive distinct(), permanently inflate
    pending_tombstones (the dedup anti-join cannot retire a null key),
    and force compaction machinery for a no-op. Null ids must be
    dropped before counting."""
    from mapreduce_framework_api_spark.operators.artifacts import (
        _ANN_MANIFEST,
        persist_ann_indexes,
        tombstone_ann_indexes,
    )

    store = str(tmp_path / "null_ids_store")
    clear_session_caches()
    persist_ann_indexes(spark, SF_DIR, store)
    ids = spark.createDataFrame(
        [(None,), (990001,), (None,)], "vec_id long"
    )
    assert tombstone_ann_indexes(spark, ids, store) == 1
    with open(os.path.join(store, _ANN_MANIFEST)) as f:
        manifest = json.load(f)
    assert manifest["pending_tombstones"] == 1
    clear_session_caches()


def test_ann_store_retrain_matches_fresh_build(spark, tmp_path):
    """The retrain/migration op the drift monitor points at (VERDICT
    r14 task 4), in four claims: (1) after growth, retrain_ann_indexes
    re-derives K from the STORE's grown count and rewrites both router
    tables; (2) the rewritten tables AND both manifest centroid
    matrices are ROW-IDENTICAL to a from-scratch persist over the same
    grown corpus (seeds re-derive from the same md5 universe, the
    Lloyd trainer is bit-deterministic, and assignment runs through
    the one shared kernel — so retrain == rebuild by construction);
    (3) the manifest logs a ``retrained`` audit entry with the new K;
    (4) the retrained store loads and serves the rewritten table. The
    frozen-base code tables are untouched (codes are
    router-independent)."""
    import numpy as np

    from mapreduce_framework_api_spark.operators import similarity
    from mapreduce_framework_api_spark.operators.artifacts import (
        _ANN_MANIFEST,
        append_ann_indexes,
        load_ann_indexes,
        persist_ann_indexes,
        retrain_ann_indexes,
    )

    rng = np.random.RandomState(15)

    def vec_rows(ids):
        return [(int(i), [float(x) for x in rng.rand(64) - 0.5]) for i in ids]

    rows_base = vec_rows(range(120))
    rows_new = vec_rows(range(1000, 1020))
    base_dir = str(tmp_path / "rt_basefx")
    grown_dir = str(tmp_path / "rt_grownfx")
    for d, rows in ((base_dir, rows_base), (grown_dir, rows_base + rows_new)):
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).withColumn("label", (F.col("vec_id") % 4).cast("int")).write.parquet(
            os.path.join(d, "embeddings.parquet")
        )

    store = str(tmp_path / "rt_store")
    clear_session_caches()
    persist_ann_indexes(spark, base_dir, store)
    append_ann_indexes(
        spark,
        spark.createDataFrame(rows_new, "vec_id long, embedding array<float>"),
        store,
    )
    with open(os.path.join(store, _ANN_MANIFEST)) as f:
        m_pre = json.load(f)

    # (1) + (3)
    r = retrain_ann_indexes(spark, store)
    assert r["n"] == 140
    assert r["k"] == similarity._ivf_scaled_k(140)
    assert r["rows"] == {
        "ivf_scaled_assigned": 140,
        "ivf_trained_assigned": 140,
    }
    with open(os.path.join(store, _ANN_MANIFEST)) as f:
        m_post = json.load(f)
    assert m_post["retrained"][-1] == {
        "k": r["k"],
        "n": 140,
        "tables": ["ivf_scaled_assigned", "ivf_trained_assigned"],
    }

    # (2) row-identity with a fresh build over the grown corpus
    clear_session_caches()
    fresh_store = str(tmp_path / "rt_fresh")
    persist_ann_indexes(spark, grown_dir, fresh_store)
    with open(os.path.join(fresh_store, _ANN_MANIFEST)) as f:
        m_fresh = json.load(f)
    for name in ("ivf_scaled_assigned", "ivf_trained_assigned"):
        assert _canon_rows(
            spark.read.parquet(os.path.join(store, name))
        ) == _canon_rows(spark.read.parquet(os.path.join(fresh_store, name))), name
    assert m_post["ivf_scaled_centroids"] == m_fresh["ivf_scaled_centroids"]
    assert m_post["ivf_trained_centroids"] == m_fresh["ivf_trained_centroids"]
    # untouched frozen-state tables kept their pre-retrain contents
    assert m_post["rows"]["pq_hq_codes"] == m_pre["rows"]["pq_hq_codes"]
    assert m_post["pq_hq_codebook"] == m_pre["pq_hq_codebook"]

    # (4) the retrained store loads; the scaled index's memo entry
    # serves the rewritten table + refreshed centroids
    clear_session_caches()
    load_ann_indexes(spark, base_dir, store)
    key = similarity.ivf_scaled_index.artifact_key(spark, base_dir)
    served, cq_served = peek_artifact(key)
    assert served.count() == 140
    assert cq_served.tolist() == m_fresh["ivf_scaled_centroids"]
    clear_session_caches()


def test_store_health_survives_fully_compacted_store(spark, tmp_path):
    """r15 self-review: a store whose ENTIRE corpus was tombstoned and
    compacted (zero physical rows, centroids still in the manifest) is
    the unhealthiest store there is — the health probe must report the
    degenerate shape (occ 0/0/0, zero rows), not die on max() of an
    empty occupancy list."""
    from mapreduce_framework_api_spark.operators.artifacts import (
        ann_store_health,
        compact_ann_indexes,
        persist_ann_indexes,
        tombstone_ann_indexes,
    )

    store = str(tmp_path / "wiped_store")
    clear_session_caches()
    persist_ann_indexes(spark, SF_DIR, store)
    everyone = spark.read.parquet(os.path.join(store, "vec_norms")).select(
        "vec_id"
    )
    n = tombstone_ann_indexes(spark, everyone, store)
    assert n > 0
    removed = compact_ann_indexes(spark, store)
    assert removed["vec_norms"] == n
    report = ann_store_health(spark, store)
    assert [h["index_name"] for h in report] == [
        "ivf_fixed",
        "ivf_scaled",
        "ivf_trained",
    ]
    for h in report:
        assert h["n_rows"] == 0
        assert (h["occ_max"], h["occ_med"], h["occ_skew_x100"]) == (0, 0, 0)
    clear_session_caches()
