"""IVF operating-point sweep: recall@3 vs wall across nprobe ∈ {1,2,4,8}
at sf1 (the 10x scale_receipt corpus, 20k vectors) — the recall-vs-cost
curve a production deployment reads before pinning the probe count.

Protocol (the one _ivf_nprobe's docstring documents): per point, set
SPARK_GRAFT_IVF_NPROBE, CLEAR every session cache (so each point
genuinely re-executes — the tier-output cache tag carries the nprobe,
but the shared ivf_index / sampled-truth caches do not carry it and
must not leak across points' timings), then time q_sim_ivf_topk around
its action and read q_sim_ivf_recall's one-row metric. The registered
differential oracle stays pinned to the shipped default — the sweep
never touches it; recall truth here is the exact sampled cosine top-3,
which is nprobe-independent by construction.

Two walls per point: COLD (index build + search — what one-shot
sessions pay) and WARM (search riding the session ivf_index — what a
serving deployment pays per query wave; the index is nprobe-invariant,
so this is the number the knob actually moves).

Usage: python tools/ivf_sweep.py [sf_dir] [--tier ivf|ivfpq_hq]
(default .scratch/sf1, built via tools/scale_receipt.build_sf1 when
missing; default tier ivf). --tier ivfpq_hq sweeps the HIGH-QUALITY
composed operating point instead, via SPARK_GRAFT_IVFPQ_HQ_NPROBE over
q_sim_ivfpq_hq_topk / q_sim_ivfpq_hq_recall — the in-repo reproduction
of the SCALE.md round-13 curve (recall truth = the shared exact
int-dot sampled top-3, nprobe-independent by construction).
"""

from __future__ import annotations

import json
import os
import sys
import time

# Repo root (package imports) AND the tools dir itself (scale_receipt):
# when run as a script sys.path[0] is already tools/, but importing this
# module as tools.ivf_sweep would otherwise fail to resolve scale_receipt.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

from scale_receipt import DST as SF1_DIR, build_sf1  # noqa: E402

from mapreduce_framework_api_spark.registry import load_all_queries  # noqa: E402
from mapreduce_framework_api_spark.session import (  # noqa: E402
    clear_session_caches,
    get_spark,
)

POINTS = (1, 2, 4, 8)

# tier -> (env knob, search query, recall query)
TIERS = {
    "ivf": ("SPARK_GRAFT_IVF_NPROBE", "q_sim_ivf_topk", "q_sim_ivf_recall"),
    "ivfpq_hq": (
        "SPARK_GRAFT_IVFPQ_HQ_NPROBE",
        "q_sim_ivfpq_hq_topk",
        "q_sim_ivfpq_hq_recall",
    ),
    "ivfpq_scaled": (
        "SPARK_GRAFT_IVF_SCALED_NPROBE",
        "q_sim_ivfpq_scaled_topk",
        "q_sim_ivfpq_scaled_recall",
    ),
    # r15: the trained router shares the scaled point's nprobe knob
    # (same derivation, same clamp); the residual point rides the HQ
    # tier's knob (same router, same probe widths — only the encoding
    # differs), so all four composed operating points sweep through
    # the same protocol.
    "ivfpq_trained": (
        "SPARK_GRAFT_IVF_SCALED_NPROBE",
        "q_sim_ivfpq_trained_topk",
        "q_sim_ivfpq_trained_recall",
    ),
    "ivfpq_residual": (
        "SPARK_GRAFT_IVFPQ_HQ_NPROBE",
        "q_sim_ivfpq_residual_topk",
        "q_sim_ivfpq_residual_recall",
    ),
}


def main() -> int:
    args = sys.argv[1:]
    tier = "ivf"
    if "--tier" in args:
        i = args.index("--tier")
        if i + 1 >= len(args):
            print(f"--tier needs a value; choices: {sorted(TIERS)}", file=sys.stderr)
            return 2
        tier = args[i + 1]
        del args[i : i + 2]
    if tier not in TIERS:
        print(f"unknown tier {tier!r}; choices: {sorted(TIERS)}", file=sys.stderr)
        return 2
    knob, q_search, q_recall = TIERS[tier]
    sf_dir = args[0] if args else SF1_DIR
    if sf_dir == SF1_DIR and not os.path.isdir(sf_dir):
        print("# building .scratch/sf1 (10x replica corpus)", file=sys.stderr)
        build_sf1()
    registry = load_all_queries()
    spark = get_spark("ivf-sweep")
    # warm the Arrow/codegen path once so point 1 isn't billed for JIT
    clear_session_caches()
    registry[q_search].fn(spark, "/root/testdata/sf0.001").count()

    rows = []
    for nprobe in POINTS:
        os.environ[knob] = str(nprobe)
        clear_session_caches()
        t0 = time.perf_counter()
        n_rows = registry[q_search].fn(spark, sf_dir).count()
        cold = time.perf_counter() - t0
        # warm: the ivf_index + tier outputs are memoized; re-time the
        # search with ONLY the tier-output entries dropped from the
        # session memo (the serving shape: frozen index, fresh query wave)
        from mapreduce_framework_api_spark.operators import similarity
        from mapreduce_framework_api_spark.sources import readers

        memo = readers._SESSION_ARTIFACTS
        for key in [k for k in memo if k[0] == similarity._TIER_OUT]:
            del memo[key]
        t0 = time.perf_counter()
        registry[q_search].fn(spark, sf_dir).count()
        warm = time.perf_counter() - t0
        rec = registry[q_recall].fn(spark, sf_dir).collect()[0]
        rows.append(
            {
                "nprobe": nprobe,
                "rows": n_rows,
                "cold_sec": round(cold, 2),
                "warm_sec": round(warm, 2),
                "n_queries": rec["n_queries"],
                "n_truth": rec["n_truth"],
                "n_hits": rec["n_hits"],
                "recall_x10000": rec["recall_x10000"],
            }
        )
        print(f"# {rows[-1]}", file=sys.stderr)
    os.environ.pop(knob, None)
    clear_session_caches()
    print(json.dumps({"sf_dir": sf_dir, "tier": tier, "points": rows}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
