"""Plan-shape regressions: the 100 TB discipline, enforced at sf0.001.

Correctness tests say the answer is right; these say the *plan* is the one
we'd accept on a 1000-executor cluster reading 100 TB: filters pushed to
the parquet scan, scans pruned to the referenced columns, small dimension
tables broadcast (never shuffled), whole-stage codegen covering the hot
loops, and no silent Python row-UDFs or cartesian products anywhere. A
change that keeps results identical but regresses one of these fails here.
"""

from conftest import SF_DIR

import pytest

from mapreduce_framework_api_spark.plans.inspect import (
    codegen_stage_count,
    count_exchanges,
    join_strategies,
    pushed_filters,
    read_schemas,
    scans_python_udf,
    simple_plan,
)
from mapreduce_framework_api_spark.operators.similarity import _IVFPQ_POINTS
from mapreduce_framework_api_spark.registry import load_all_queries


@pytest.fixture(scope="module")
def queries():
    return load_all_queries()


def test_filter_pushdown_reaches_scan(spark, queries):
    df = queries["q_filter_pred"].fn(spark, SF_DIR)
    pushed = pushed_filters(df)
    assert any("o_orderdate" in f for f in pushed), pushed
    assert any("o_totalprice" in f for f in pushed), pushed


def test_column_pruning_on_projection(spark, queries):
    """q_scan_project touches 5 lineitem columns; the scan must not decode
    the other 11 (l_comment, l_shipdate, ...)."""
    df = queries["q_scan_project"].fn(spark, SF_DIR)
    (schema,) = read_schemas(df)
    assert "l_comment" not in schema and "l_shipdate" not in schema, schema
    assert schema.count(":") <= 6, schema


def test_small_dims_broadcast_not_shuffled(spark, queries):
    """The TPC-H Q5-shaped 4-way join: every dimension (orders→customer→
    nation→region relative to lineitem) broadcasts; a SortMergeJoin here
    means a full shuffle of the fact table per join at scale."""
    df = queries["q_join_multi"].fn(spark, SF_DIR)
    strategies = join_strategies(df)
    assert strategies == ["BroadcastHashJoin"] * 4, strategies


def test_explicit_broadcast_honored(spark, queries):
    df = queries["q_join_broadcast"].fn(spark, SF_DIR)
    assert "BroadcastHashJoin" in join_strategies(df)


def test_aggregate_is_partial_then_final(spark, queries):
    """Map-side partial aggregation: two HashAggregate operators around one
    Exchange — the shuffle carries one row per (group, partition), not one
    per input row."""
    df = queries["q_agg_basic"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    assert plan.count("HashAggregate") == 2, plan
    # one exchange for the agg + one for the final presentation sort
    assert count_exchanges(df) <= 2, plan


def test_codegen_covers_relational_core(spark, queries):
    for name in ("q_scan_project", "q_agg_basic", "q_join_multi"):
        df = queries[name].fn(spark, SF_DIR)
        assert codegen_stage_count(df) > 0, name


@pytest.mark.parametrize("name", sorted(load_all_queries()))
def test_plan_hygiene_per_query(spark, queries, name):
    """Per-query plan hygiene (parametrized so one broken operator fails
    exactly its own case, not a whole sweep):

    - Python in the hot path is Arrow-batched (MapInPandas) or absent —
      never row-at-a-time BatchEvalPython.
    - No CartesianProduct: unbounded pairwise blowup at scale. (Theta/
      range joins go through broadcast nested loop with one small side
      instead.)"""
    df = queries[name].fn(spark, SF_DIR)
    assert not scans_python_udf(df), "row-at-a-time Python UDF in plan"
    assert "CartesianProduct" not in join_strategies(df), "CartesianProduct in plan"


def test_no_inferred_filter_below_explode(spark, queries):
    """InferFiltersFromGenerate is excluded in the session config: it
    duplicates the generator expression (our most expensive expressions:
    tokenize/shingle/pair expansion) into a pre-Generate filter. Lock the
    exclusion by checking the trigram pipeline's plan has no
    size(...) > 0 filter over the shingle construction."""
    df = queries["q_dedup_ngram_jaccard"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    import re

    assert not re.search(r"Filter \(*size\(array_distinct", plan), plan[:2000]


def test_range_binned_join_is_equi_not_nested_loop(spark, queries):
    """The binned band join exists precisely to avoid the nested-loop tier:
    its physical join on the bin key must be a hash/sort-merge equi-join,
    never BroadcastNestedLoop (which requires one side in memory) or
    CartesianProduct. The residual band predicate rides on the equi-join."""
    df = queries["q_join_range_binned"].fn(spark, SF_DIR)
    strategies = join_strategies(df)
    assert strategies, "expected at least one join in the plan"
    bad = [s for s in strategies if s in ("BroadcastNestedLoopJoin", "CartesianProduct")]
    assert bad == [], strategies


def test_chunk_dedup_tokenizes_exactly_once(spark, queries):
    """Regression guard for the round-6 sf1 finding: with the tokenize
    expression INLINED into the per-chunk transform lambda, Catalyst
    re-evaluated the full regex split once per CHUNK (432 executor-CPU-s
    at sf1 vs 53 s column-bound, same rows). The optimized plan must
    contain exactly one split() — the dedicated tokenize projection —
    with the generator lambda referencing the bound column."""
    df = queries["q_dedup_repeated_chunks"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, (
        f"tokenize evaluated {plan.count('split(')} times — bind the token "
        "array to a column before per-element lambdas capture it"
    )


def test_ngrams_tokenizes_exactly_once(spark, queries):
    """Regression guard for the round-16 finding: q_text_ngrams' bigram
    seed references the token array four times (two sizes, two slices),
    and GenerateExec evaluates its seed without ProjectExec's
    subexpression elimination — inlining the regex split made every
    document pay for tokenization repeatedly (measured 2.6× on the
    noop-sink kernel at sf0.1). The optimized plan must contain exactly
    one split(): the dedicated tokenize projection below the explode."""
    df = queries["q_text_ngrams"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, (
        f"tokenize evaluated {plan.count('split(')} times — bind the token "
        "array to a column before the generator seed captures it"
    )


def test_prefix_self_join_is_bodiless(spark, queries):
    """The round-7 judge's scale-killer finding: q_dedup_prefix's self-join
    used to carry full document bodies on BOTH sides, so at 100 TB the
    sort-merge exchange would move every body through the shuffle twice
    (invisible locally, where AQE broadcasts one side). Post-fix contract:
    the bh-keyed candidate join runs over three-longs-per-doc frames, and
    bodies are fetched by id only for surviving candidates. Broadcast is
    disabled here so every join materializes its exchanges, then the
    bh-keyed (head-hash) exchanges must carry only the fixed-width
    id/length/hash columns — never a text column. (The downstream id-keyed
    fetch exchanges DO carry text: that is the by-id body lookup itself,
    one body per side per candidate doc, not the all-bodies-twice bug.)"""
    from mapreduce_framework_api_spark.plans.inspect import exchange_inputs

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = queries["q_dedup_prefix"].fn(spark, SF_DIR)
        exchanges = exchange_inputs(df)
        bh_exchanges = [
            (args, cols)
            for args, cols in exchanges
            if "hashpartitioning(bh#" in args
        ]
        assert len(bh_exchanges) == 2, (
            f"expected the two self-join sides keyed on bh, got {exchanges}"
        )
        for args, cols in bh_exchanges:
            names = {c.strip().split("#")[0] for c in cols.split(",")}
            bodies = names & {"text", "ta", "tb", "new_text", "corpus_text"}
            assert not bodies, (
                f"document body column {bodies} crosses exchange {args}: {cols}"
            )
            assert len(names) <= 3, f"self-join side wider than the thin index: {cols}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_trigram_kernel_runs_once_per_session(spark, queries):
    """Round-9 extension of test_chunk_dedup_tokenizes_exactly_once's
    discipline to the corpus-wide trigram kernel: before the shared
    shingle table, _shingle_hash_udf re-ran over the full corpus up to
    three times per session (scored_pair_table, the verified tier's
    arrays, the containment estimate's size table) — at sf1 each pass
    was the dominant 28 s × 32-task stage. Post-fix contract: after
    shingle_table() materializes once, NO consumer plan contains a
    Python eval stage at all — every trigram/minhash artifact they need
    is served from a checkpointed table (the minhash sig kernel has its
    own once-per-session cache, exercised inside the builder calls
    below, so its absence is asserted too)."""
    from mapreduce_framework_api_spark.operators.dedup import shingle_table
    from mapreduce_framework_api_spark.session import clear_session_caches

    clear_session_caches()
    try:
        shingle_table(spark, SF_DIR)  # the session's one kernel invocation
        for qname in (
            "q_dedup_ngram_jaccard",
            "q_dedup_containment",
            "q_dedup_minhash_verified",
            "q_dedup_containment_est",
        ):
            df = queries[qname].fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            for node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
                assert node not in plan, (
                    f"{qname}: {node} in plan — a corpus kernel re-ran "
                    f"instead of riding the shared table:\n{plan[:2000]}"
                )
    finally:
        clear_session_caches()


def test_containment_est_joins_sizes_not_arrays(spark, queries):
    """q_dedup_containment_est's design claim: the estimate derives from
    per-doc shingle-set SIZES (one long per doc) — the full shingle-hash
    arrays never cross a shuffle. Broadcast off so every join
    materializes its exchanges; no exchange may carry the kernel's array
    column (the signatures, 16 fixed longs, are the candidate payload
    and are allowed)."""
    from mapreduce_framework_api_spark.plans.inspect import exchange_inputs
    from mapreduce_framework_api_spark.session import clear_session_caches

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    clear_session_caches()  # the cached checkpointed frame would hide the joins
    try:
        df = queries["q_dedup_containment_est"].fn(spark, SF_DIR)
        exchanges = exchange_inputs(df)
        assert exchanges, "expected shuffled joins with broadcast off"
        for args, cols in exchanges:
            names = {c.strip().split("#")[0] for c in cols.split(",")}
            assert "harr" not in names, (args, cols)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        clear_session_caches()


@pytest.mark.parametrize(
    "point", _IVFPQ_POINTS, ids=lambda p: f"q_sim_ivfpq{p.infix}"
)
def test_ivfpq_candidate_pairs_are_unique(spark, point):
    """_ivfpq_search ranks its candidates with no dropDuplicates because a
    (vec_id, neighbor_id) pair is unique by construction: every index
    vector sits in exactly one cluster (the cogroup key) and a query's
    probe slice holds distinct cluster ids, so at most one cogroup block
    proposes a pair. A duplicate would fill two ranks of one query's
    top-k, so each operating point's deepest tier must hold every pair
    exactly once."""
    from pyspark.sql import functions as F

    row = (
        point.search(spark, SF_DIR, point.depth)
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("vec_id", "neighbor_id").alias("n_distinct"),
        )
        .first()
    )
    assert row["n"] > 0 and row["n"] == row["n_distinct"], row
