"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's seeded inputs are generated under
``.perfbench_work/`` (removed afterwards), a SparkSession runs the untimed
warm-up (which also collects results for the correctness pass), then whole
passes of the workload run until ``--seconds`` have elapsed. Results are
checked outside the timed window. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``). A readable summary goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import measure  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "memory.jvm_peak_pss_mb": "MB",
    "memory.workers_peak_pss_mb": "MB",
    "plan.build_s": "s",
    "plan.build_jobs": "count",
    "plan.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_deser_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.failed_tasks": "count",
    "scan.input_bytes": "B",
    "scan.input_records": "count",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.records_written": "count",
    "shuffle.spill_bytes": "B",
    "kernel.python_run_s": "s",
    "kernel.python_startup_s": "s",
    "kernel.bytes_to_python": "B",
    "kernel.bytes_from_python": "B",
    "kernel.rows_from_python": "count",
    "artifacts.persist_dedup_mb_per_s": "MB/s",
    "artifacts.persist_ingest_mb_per_s": "MB/s",
    "artifacts.persist_ann_mb_per_s": "MB/s",
    "artifacts.load_mb_per_s": "MB/s",
    "artifacts.store_bytes": "B",
    "artifacts.files_written": "count",
    "mr.start_tokens_per_s": "tokens/s",
    "mr.finish_tokens_per_s": "tokens/s",
    "mr.shuffle_bytes_per_token": "B/token",
    "trace.wall_s": "s",
    "trace.collect_s": "s",
}

# Layers only one workload uses report throughput, not seconds: a time
# that reads 0 on every run of the other workload looks like a constant.
# metric -> (numerator, seconds, scale), over the raw per-run totals
RATES = {
    "artifacts.persist_dedup_mb_per_s": ("artifacts.dedup_bytes", "artifacts.persist_dedup_s", 2**-20),
    "artifacts.persist_ingest_mb_per_s": ("artifacts.ingest_bytes", "artifacts.persist_ingest_s", 2**-20),
    "artifacts.persist_ann_mb_per_s": ("artifacts.ann_bytes", "artifacts.persist_ann_s", 2**-20),
    "artifacts.load_mb_per_s": ("artifacts.store_bytes", "artifacts.load_s", 2**-20),
    "mr.start_tokens_per_s": ("mr.tokens_in", "mr.start_s", 1),
    "mr.finish_tokens_per_s": ("mr.tokens_in", "mr.finish_s", 1),
}


def pin_environment(work_root: str) -> dict[str, str]:
    """Fix the settings the numbers depend on, and keep every file Spark,
    the JVM and Python workers write inside ``work_root``."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work_root, "spark-local"),
        "TMPDIR": os.path.join(work_root, "tmp"),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    time.tzset()
    return env


def _versions() -> str:
    from importlib.metadata import version

    return ", ".join(f"{p} {version(p)}" for p in ("pyspark", "duckdb", "pyarrow", "numpy"))


@dataclass
class Sample:
    op: str
    kind: str  # "query" samples feed the latency percentiles
    seconds: float
    ok: bool = True
    build_s: float = 0.0
    action_s: float = 0.0
    layers: Counter = field(default_factory=Counter)  # traced runs only


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Context:
    """What a workload needs while it runs: the session, the tracer, and
    the sinks for samples and per-layer totals."""

    def __init__(self, spark, tracer, cache_dir: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.cache_dir = cache_dir
        self.samples: list[Sample] = []
        self.layers: Counter = Counter()

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def log_exception(self, op: str) -> None:
        self.log(f"{op} raised:\n{traceback.format_exc()}")

    def query(self, name: str, build, act=_noop_write) -> Sample:
        """One latency sample: ``build()`` (the plan build), then ``act`` on
        what it returned. The default action is a noop-format write, which
        computes every column and keeps none."""
        build_group = self.tracer.group(name)
        groups = [build_group]
        t0 = time.perf_counter()
        t1 = None
        ok = True
        try:
            plan = build()
            t1 = time.perf_counter()
            groups.append(self.tracer.group(name + " action"))
            act(plan)
        except Exception:
            self.log_exception(name)
            ok = False
        t2 = time.perf_counter()
        t1 = t1 or t2
        sample = Sample(name, "query", t2 - t0, ok, t1 - t0, t2 - t1, self.tracer.collect(groups))
        self.layers.update(sample.layers)
        self.layers["plan.build_s"] += sample.build_s
        self.layers["plan.action_s"] += sample.action_s
        self.layers["plan.build_jobs"] += self.tracer.jobs_in(build_group)
        self.samples.append(sample)
        return sample

    def op(self, name: str, layer: str, fn):
        """Time one non-query operation into ``layer``; return its result
        (None if it raised)."""
        group = self.tracer.group(name)
        t0 = time.perf_counter()
        result = None
        ok = True
        try:
            result = fn()
        except Exception:
            self.log_exception(name)
            ok = False
        dt = time.perf_counter() - t0
        self.layers[layer] += dt
        sample = Sample(name, "op", dt, ok, layers=self.tracer.collect([group]))
        self.layers.update(sample.layers)
        self.samples.append(sample)
        return result


def _stop_spark(spark) -> None:
    """Stop the session, the Spark JVM and the Python workers it forked,
    and wait for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = measure.process_tree(proc.pid)[1:]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, cache_dir: str) -> dict:
    from mapreduce_framework_api_spark.session import get_spark
    from perfbench.trace import NullTracer, Tracer

    log = Context.log
    t0 = time.perf_counter()
    wl = WORKLOADS[workload](work, seed)  # input generation: not set-up time
    log(f"workload={workload} seed={seed} inputs={wl.inputs()} ({time.perf_counter() - t0:.1f}s)")

    conf = {
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    start_s = time.perf_counter() - t0
    try:
        from pyspark import SparkContext

        with measure.MemorySampler(SparkContext._gateway.proc.pid) as mem:
            tracer = (Tracer if trace else NullTracer)(spark)
            ctx = Context(spark, tracer, cache_dir)
            t0 = time.perf_counter()
            wl.warmup(ctx)
            warmup_s = time.perf_counter() - t0
            ctx.samples.clear()
            ctx.layers.clear()
            passes = []
            steal0 = measure.host_steal()
            t_start = time.perf_counter()
            while True:
                c0, p0 = tracer.collect_s, time.perf_counter()
                wl.run_pass(ctx)
                passes.append(time.perf_counter() - p0 - (tracer.collect_s - c0))
                wl.after_pass(ctx)
                if time.perf_counter() - t_start >= seconds:
                    break
            collect_s = tracer.collect_s
            timed_s = time.perf_counter() - t_start
            steal1 = measure.host_steal()
        t0 = time.perf_counter()
        bad = wl.verify(ctx)
        log(f"start {start_s:.1f}s, warm-up {warmup_s:.1f}s, timed {timed_s:.1f}s, "
            f"checks {time.perf_counter() - t0:.1f}s")
    finally:
        _stop_spark(spark)

    samples = ctx.samples
    failed = sum(1 for s in samples if not s.ok or s.op in bad)
    wrong_untimed = sorted(bad - {s.op for s in samples})
    lat = [s.seconds for s in samples if s.kind == "query"]
    n = len(passes)
    wall_s = statistics.median(passes)
    e2e = {
        "setup_s": start_s + warmup_s,
        "wall_s": wall_s,
    }
    raw = ctx.layers
    layers = {k: raw.get(k, 0) / n for k in PER_LAYER}
    for k, (num, secs, scale) in RATES.items():
        layers[k] = raw[num] * scale / raw[secs] if raw[secs] else 0.0
    layers["session.start_s"] = start_s
    layers["session.warmup_s"] = warmup_s
    layers["memory.jvm_peak_pss_mb"] = mem.peak_root_bytes / 2**20
    layers["memory.workers_peak_pss_mb"] = mem.peak_children_bytes / 2**20
    layers["trace.wall_s"] = wall_s
    layers["trace.collect_s"] = collect_s / n

    # Printed for reading only. A p90 needs 100 samples to have ten beyond
    # it, and a pass yields 25 (catalog) or 12 (ingest-serve). The p50 and
    # the peak PSS spread between runs of the same code by as much as the
    # largest bound allows (see README.md).
    extras = {
        "failed_frac": failed / len(samples),
        "passes": n,
        "peak_pss_mb": mem.peak_bytes / 2**20,
        "host_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "query_samples": len(lat),
        "query_p50_s": measure.percentile(lat, 0.5),
        "query_p90_s": measure.percentile(lat, 0.9),
        "samples_beyond_p90": measure.samples_beyond(len(lat), 0.9),
    }
    extras.update(wl.report({k: v / n for k, v in raw.items()}, sum(lat) / n))
    for k, v in {**e2e, **extras}.items():
        log(f"{k:>28} = {v:.6g} {END_TO_END.get(k, '')}")
    if trace:
        for k, v in layers.items():
            log(f"{k:>28} = {v:.6g} {PER_LAYER[k]}")
        for secs in dict.fromkeys(secs for _, secs, _ in RATES.values()):
            log(f"{secs:>28} = {raw[secs] / n:.6g} s")
    log("operations in run order: " + ", ".join(f"{s.op} {s.seconds:.3f}s" for s in samples))
    if wrong_untimed:
        log(f"wrong results outside the timed operations: {wrong_untimed}")
    correct = not bad and failed == 0
    log(f"correct={correct} attempted={len(samples)} failed={failed}")

    chosen, units = (layers, PER_LAYER) if trace else (e2e, END_TO_END)
    return {
        "correct": correct,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in chosen.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work_root = os.path.join(ROOT, ".perfbench_work")
    env = pin_environment(work_root)
    Context.log(f"environment: {env}, {_versions()}")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work, work_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
