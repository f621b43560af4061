"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one returns.

A workload object is built from a work directory and a seed (writing its
seeded inputs; the tables are the vendored ``FIXTURE``), then driven by ``run.py`` through:

- ``warmup(ctx)``: the untimed warm-up. It collects results, which are also
  the correctness pass's data;
- ``run_pass(ctx)``: one timed pass over the operations;
- ``after_pass(ctx)``: bookkeeping and checks of the pass just run, outside
  its timing;
- ``verify(ctx)``: the checks that need no timing; returns the names of
  operations whose results were wrong;
- ``report(layers, query_s)``: workload-specific figures for the readable
  summary, from the per-pass layer totals.

``WORKLOADS`` lists them by the names the benchmark uses.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

from perfbench import gen
from perfbench.measure import digest

# The engine's sf0.001 fixture tables (seed 42), vendored so a run reads
# only files of its own checkout.
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.001")

# One query per name family (q_<family>_*): the family member with the least
# warm time on FIXTURE, as measured by pick_catalog.py (the times are in
# catalog_receipt.json). A pass over all 203 queries takes minutes on four
# cores, so the catalog workload runs this fixed cross-section instead; the
# cheapest member is the family's fixed cost (plan building, scheduling,
# worker start), which is what this workload measures. The kernel-heavy
# dedup and similarity members run on ingest-serve.
CATALOG = (
    "q_agg_string_agg",
    "q_dedup_exact",
    "q_dim_scd2",
    "q_events_timeweighted",
    "q_filter_pred",
    "q_fn_json",
    "q_graph_triangles",
    "q_join_anti",
    "q_limit_offset",
    "q_merge_upsert",
    "q_multimodal_meta",
    "q_mv_incremental",
    "q_pipe_sample_hash",
    "q_privacy_kanonymity",
    "q_profile_columns",
    "q_scan_project",
    "q_set_ops_all",
    "q_sim_search_split",
    "q_sketch_hll_merge",
    "q_sort_multi",
    "q_stream_tumbling",
    "q_subquery_scalar",
    "q_text_tokens",
    "q_win_running",
)

# Queries served from the three persisted stores: six over the dedup
# kernel artifacts, three over the ingest probe indexes, three over the ANN
# tiers. Recall queries are left out: their oracles take over a minute.
SERVED = (
    "q_dedup_ngram_jaccard",
    "q_dedup_containment",
    "q_dedup_containment_bk",
    "q_dedup_containment_bk_verified",
    "q_dedup_minhash",
    "q_dedup_minhash_verified",
    "q_dedup_prefix_incremental",
    "q_dedup_incremental",
    "q_dedup_semdedup_incremental",
    "q_sim_ivfpq_hq_rerank",
    "q_sim_cosine_topk",
    "q_sim_maxsim_topk",
)

# The reference application, run as one more catalog operation.
WORDCOUNT = "mr_wordcount"
CORPUS_BYTES = 1 << 20

# Served queries that also run in-session in the warm-up: they start the
# JVM's and the Python workers' first-use costs on the dedup (shingles,
# MinHash) and ANN (IVF-PQ) kernels the persist_* calls build with. Two, not
# every kernel: each further cold query adds ~3 s to a run's set-up.
WARMUP = (
    "q_dedup_minhash_verified",
    "q_sim_ivfpq_hq_rerank",
)


def _seeded_order(names: tuple[str, ...], seed: int) -> list[str]:
    return [names[i] for i in np.random.default_rng([seed, 0x0D]).permutation(len(names))]


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def collect_digest(df) -> tuple[int, str]:
    rows = [tuple(r) for r in df.collect()]
    return len(rows), digest(df.columns, rows)


def oracle_digests(sf_dir: str, queries: dict, cache_path: str) -> dict[str, tuple[int, str]]:
    """(rows, digest) of each query's DuckDB oracle on ``sf_dir``, cached in
    ``cache_path`` per (input fingerprint, query, oracle SQL)."""
    import duckdb

    from mapreduce_framework_api_spark.sources import TABLES

    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    fp = gen.fingerprint(sf_dir)
    out, con = {}, None
    for name, q in queries.items():
        if q.oracle is None:
            continue
        key = f"{fp}:{name}:{hashlib.sha256(q.oracle.encode()).hexdigest()[:12]}"
        if key not in cache:
            if con is None:
                con = duckdb.connect(config={
                    "autoinstall_known_extensions": False,
                    "temp_directory": os.environ["TMPDIR"],
                })
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            tbl = con.execute(q.oracle).fetch_arrow_table()
            rows = [tuple(d[c] for c in tbl.column_names) for d in tbl.to_pylist()]
            cache[key] = [len(rows), digest(tbl.column_names, rows)]
        out[name] = tuple(cache[key])
    if con is not None:
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return out


class _QueryWorkload:
    """Shared correctness logic for workloads made of registered queries."""

    def __init__(self, names: tuple[str, ...]) -> None:
        from mapreduce_framework_api_spark.registry import load_all_queries

        self.sf = FIXTURE
        registry = load_all_queries()
        self.queries = {n: registry[n] for n in names}
        self.got: dict[str, tuple[int, str] | None] = {}  # warm-up results

    def inputs(self) -> dict:
        return {"tables": gen.fingerprint(self.sf), "bytes": _dir_bytes(self.sf)[0]}

    def report(self, layers: dict, query_s: float) -> dict:
        return {}

    def after_pass(self, ctx) -> None:
        pass

    def _query(self, ctx, name: str):
        return ctx.query(name, lambda: self.queries[name].fn(ctx.spark, self.sf))

    def _collect(self, ctx, name: str) -> tuple[int, str] | None:
        ctx.tracer.group(name + " check")
        try:
            return collect_digest(self.queries[name].fn(ctx.spark, self.sf))
        except Exception:  # a failing query is a wrong result, not a crash
            ctx.log_exception(name)
            return None

    def _check_queries(self, ctx, results: dict) -> set[str]:
        """Names in ``results`` whose (rows, digest) is missing or differs
        from the oracle's."""
        from mapreduce_framework_api_spark.session import clear_session_caches

        want = oracle_digests(self.sf, self.queries, os.path.join(ctx.cache_dir, "oracle.json"))
        bad = set()
        for n in results:
            got = results[n]
            if got is None:
                bad.add(n)
            elif n in want:
                if got != want[n]:
                    ctx.log(f"{n}: result {got} != oracle {want[n]}")
                    bad.add(n)
            else:
                # no oracle: the row count must be stable across executions
                clear_session_caches()
                ctx.tracer.group(n + " recount")
                rows = self.queries[n].fn(ctx.spark, self.sf).count()
                if rows != got[0]:
                    ctx.log(f"{n}: {got[0]} rows, then {rows}")
                    bad.add(n)
        return bad


class WordcountApp:
    """The reference word count through the mr_* compat facade, over a
    seeded text corpus."""

    def __init__(self, work: str, seed: int) -> None:
        self.corpus = os.path.join(work, "corpus")
        counts = gen.write_corpus(self.corpus, seed, CORPUS_BYTES)
        self.tokens = sum(counts.values())
        # the reference's sink: "%s, %d\n" per key, ascending byte order
        self.expected = "".join(f"{k}, {v}\n" for k, v in sorted(counts.items()))
        self.out = os.path.join(work, "wordcount.out")
        self.partitions = int(os.environ["SPARK_GRAFT_CPUS"])

    def start(self, spark):
        from mapreduce_framework_api_spark.compat.mapreduce import (
            mr_create,
            wordcount_map,
            wordcount_reduce,
        )

        return mr_create(wordcount_map, wordcount_reduce, self.partitions).start(spark, self.corpus)

    def finish(self, job) -> None:
        job.finish(self.out)

    def output_ok(self) -> bool:
        with open(self.out) as f:
            return f.read() == self.expected


class Catalog(_QueryWorkload):
    """One query per family plus the reference word count, in a seeded
    order."""

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(CATALOG)
        self.app = WordcountApp(work, seed)
        self.order = _seeded_order(CATALOG + (WORDCOUNT,), seed)
        self.wordcount_ok = False
        self.wordcount: list = []  # this pass's word count sample

    def inputs(self) -> dict:
        corpus = {
            "corpus": gen.fingerprint(self.app.corpus),
            "corpus_bytes": _dir_bytes(self.app.corpus)[0],
            "corpus_tokens": self.app.tokens,
        }
        return {**super().inputs(), **corpus}

    def warmup(self, ctx) -> None:
        for n in self.order:
            if n == WORDCOUNT:
                ctx.tracer.group(n + " check")
                self.app.finish(self.app.start(ctx.spark))
                self.wordcount_ok = self.app.output_ok()
            else:
                self.got[n] = self._collect(ctx, n)

    def _wordcount(self, ctx) -> None:
        sample = ctx.query(WORDCOUNT, lambda: self.app.start(ctx.spark), act=self.app.finish)
        self.wordcount.append(sample)
        ctx.layers["mr.start_s"] += sample.build_s
        ctx.layers["mr.finish_s"] += sample.action_s
        ctx.layers["mr.tokens_in"] += self.app.tokens
        ctx.layers["mr.shuffle_bytes_per_token"] += sample.layers["shuffle.write_bytes"] / self.app.tokens

    def run_pass(self, ctx) -> None:
        from mapreduce_framework_api_spark.session import clear_session_caches

        clear_session_caches()
        for n in self.order:
            if n == WORDCOUNT:
                self._wordcount(ctx)
            else:
                self._query(ctx, n)

    def after_pass(self, ctx) -> None:
        for sample in self.wordcount:
            if sample.ok and not self.app.output_ok():
                ctx.log("word count output differs from the corpus token Counter")
                sample.ok = False
        self.wordcount.clear()

    def verify(self, ctx) -> set[str]:
        bad = self._check_queries(ctx, self.got)
        if not self.wordcount_ok:
            ctx.log("word count output differs from the corpus token Counter")
            bad.add(WORDCOUNT)
        return bad


class IngestServe(_QueryWorkload):
    """Persist the three artifact stores, reload them into a cleared session
    and serve queries from them."""

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(SERVED)
        self.order = _seeded_order(SERVED, seed)
        self.store = os.path.join(work, "store")
        self.stores = {k: os.path.join(self.store, k) for k in ("dedup", "ingest", "ann")}

    def warmup(self, ctx) -> None:
        for n in WARMUP:
            self.got[n] = self._collect(ctx, n)

    def run_pass(self, ctx) -> None:
        from mapreduce_framework_api_spark.operators import artifacts as A
        from mapreduce_framework_api_spark.session import clear_session_caches

        spark, sf = ctx.spark, self.sf
        shutil.rmtree(self.store, ignore_errors=True)
        clear_session_caches()
        stores = self.stores
        persist = {
            "dedup": A.persist_dedup_artifacts,
            "ingest": A.persist_ingest_indexes,
            "ann": A.persist_ann_indexes,
        }
        for k, fn in persist.items():
            ctx.op(f"persist_{k}", f"artifacts.persist_{k}_s", lambda fn=fn, k=k: fn(spark, sf, stores[k]))
        clear_session_caches()

        def load():
            A.load_dedup_artifacts(spark, sf, stores["dedup"])
            A.load_ingest_indexes(spark, sf, stores["ingest"])
            A.load_ann_indexes(spark, sf, stores["ann"])

        ctx.op("load_stores", "artifacts.load_s", load)
        for n in self.order:
            self._query(ctx, n)

    def after_pass(self, ctx) -> None:
        for k, path in self.stores.items():
            size, files = _dir_bytes(path)
            ctx.layers[f"artifacts.{k}_bytes"] += size
            ctx.layers["artifacts.store_bytes"] += size
            ctx.layers["artifacts.files_written"] += files

    def report(self, layers: dict, query_s: float) -> dict:
        inputs = sum(os.path.getsize(os.path.join(self.sf, f"{t}.parquet")) for t in ("documents", "embeddings"))
        writes = ("persist_dedup_s", "persist_ingest_s", "persist_ann_s")
        return {
            "store_write_s": sum(layers[f"artifacts.{k}"] for k in writes),
            "store_load_s": layers["artifacts.load_s"],
            "serve_s": query_s,
            "store_bytes_per_input_byte": layers["artifacts.store_bytes"] / inputs,
        }

    def verify(self, ctx) -> set[str]:
        # The last pass left the session caches seeded from the stores, so
        # these results are served from them; the warm-up's in-session
        # results are checked too.
        served = {n: self._collect(ctx, n) for n in self.order}
        return self._check_queries(ctx, served) | self._check_queries(ctx, self.got)


WORKLOADS = {
    "catalog": Catalog,
    "ingest-serve": IngestServe,
}
