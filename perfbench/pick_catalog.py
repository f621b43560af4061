"""Measure every registered query on the benchmark's fixture and pick the
``catalog`` workload's cross-section: per name family (``q_<family>_*``) the
member with the least warm time, the family's fixed-cost floor.

    python3 perfbench/pick_catalog.py

Run from the repository root (about ten minutes on four cores). One
session runs every query once untimed, then times two passes (the second in
reverse order), each query's plan build plus a ``noop``-format write after
clearing the session caches. Writes ``perfbench/catalog_receipt.json``: the
fixture fingerprint, the environment, each query's mean time and each
family's pick. ``workloads.CATALOG`` is that pick.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.workloads import FIXTURE  # noqa: E402


def family(name: str) -> str:
    return name.split("_")[1]


def pick(seconds: dict[str, float]) -> dict[str, str]:
    """Per family, the member with the least time."""
    fams: dict[str, str] = {}
    for name in sorted(seconds, key=lambda n: (seconds[n], n)):
        fams.setdefault(family(name), name)
    return dict(sorted(fams.items()))


def main() -> int:
    work_root = os.path.join(ROOT, ".perfbench_work")
    env = run.pin_environment(work_root)
    from mapreduce_framework_api_spark.registry import load_all_queries
    from mapreduce_framework_api_spark.session import clear_session_caches, get_spark

    queries = load_all_queries()
    names = sorted(queries)
    spark = get_spark("perfbench-pick", extra_conf={"spark.ui.enabled": "false"})
    times: dict[str, list[float]] = {n: [] for n in names}
    try:
        for order in (names, names, names[::-1]):  # warm-up, then two timed
            for n in order:
                clear_session_caches()
                t0 = time.perf_counter()
                run._noop_write(queries[n].fn(spark, FIXTURE))
                times[n].append(time.perf_counter() - t0)
            print(f"pass done: {sum(t[-1] for t in times.values()):.1f}s", file=sys.stderr, flush=True)
    finally:
        run._stop_spark(spark)

    seconds = {n: statistics.mean(t[1:]) for n, t in times.items()}
    receipt = {
        "fixture": os.path.relpath(FIXTURE, ROOT),
        "fingerprint": gen.fingerprint(FIXTURE),
        "environment": {**{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
                        "machine": f"{platform.machine()}, {os.cpu_count()} CPUs", "versions": run._versions()},
        "pass_s": sum(seconds.values()),
        "pick": pick(seconds),
        "seconds": {n: round(s, 4) for n, s in seconds.items()},
    }
    with open(os.path.join(ROOT, "perfbench", "catalog_receipt.json"), "w") as f:
        json.dump(receipt, f, indent=1)
        f.write("\n")
    print(json.dumps(receipt["pick"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
