"""Per-layer collector for the traced run.

Each timed operation runs under its own Spark job group. After the
operation returns, ``Tracer.collect`` fires a one-task barrier job and polls
the status tracker until that job is finished: the status store applies
listener events in order, so every job, stage and SQL execution of the
operation is final by then. No fixed sleep is involved. It then reads
Spark's status REST API (``/jobs``, ``/stages``, ``/sql?details=true``) and
folds the group's numbers into layer totals:

- ``spark.*``: jobs, stages, tasks, deserialize/run/CPU/GC time, failed tasks;
- ``scan.*``: input bytes and records of the stages;
- ``shuffle.*``: bytes and records written and read, spill;
- ``kernel.*``: the Python-worker metrics of SQL nodes that hand rows to
  Python workers (``MapInPandas``, ``ArrowEvalPython``, ...).
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import Counter

from perfbench.measure import parse_metric

_TERMINAL = {"SUCCEEDED", "FAILED"}

# stage field -> (layer metric, scale to seconds/bytes/count)
_STAGE_FIELDS = {
    "numTasks": ("spark.tasks", 1),
    "executorDeserializeTime": ("spark.task_deser_s", 1e-3),
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.jvm_gc_s", 1e-3),
    "numFailedTasks": ("spark.failed_tasks", 1),
    "inputBytes": ("scan.input_bytes", 1),
    "inputRecords": ("scan.input_records", 1),
    "shuffleWriteBytes": ("shuffle.write_bytes", 1),
    "shuffleReadBytes": ("shuffle.read_bytes", 1),
    "shuffleWriteRecords": ("shuffle.records_written", 1),
    "memoryBytesSpilled": ("shuffle.spill_bytes", 1),
    "diskBytesSpilled": ("shuffle.spill_bytes", 1),
}

# SQL node metric name prefix -> layer metric (Python-worker nodes only).
# Starting a worker is folded into initializing it: once the warm-up has
# started the workers, start time alone reads 0 on every pass.
_KERNEL_FIELDS = {
    "time to run Python workers": "kernel.python_run_s",
    "time to start Python workers": "kernel.python_startup_s",
    "time to initialize Python workers": "kernel.python_startup_s",
    "data sent to Python workers": "kernel.bytes_to_python",
    "data returned from Python workers": "kernel.bytes_from_python",
}

LAYER_METRICS = (
    ["spark.jobs", "spark.stages"]
    + sorted({m for m, _ in _STAGE_FIELDS.values()} - {"spark.tasks"})
    + ["spark.tasks"]
    + list(dict.fromkeys(_KERNEL_FIELDS.values()))
    + ["kernel.rows_from_python"]
)


def kernel_totals(executions: list[dict]) -> Counter:
    """Sum the Python-worker metrics of every SQL node in ``executions``
    (``/sql?details=true`` entries). A node counts as a kernel node when
    it reports data returned from Python workers; its output rows are the
    rows the kernel returned."""
    out: Counter = Counter()
    for ex in executions:
        for node in ex.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if "data returned from Python workers" not in metrics:
                continue
            for name, value in metrics.items():
                for prefix, key in _KERNEL_FIELDS.items():
                    if name.startswith(prefix):
                        out[key] += parse_metric(value)
            if "number of output rows" in metrics:
                out["kernel.rows_from_python"] += parse_metric(metrics["number of output rows"])
    return out


class Tracer:
    """Job-group tagging plus REST collection for one SparkSession started
    with ``spark.ui.enabled=true``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self._n = 0
        self._sql_seen = 0
        self.collect_s = 0.0
        self._api("/jobs")  # the first request starts the REST handlers (~1.5 s)

    def _api(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def group(self, name: str) -> str:
        """Start a fresh job group for the next Spark calls; return its id."""
        self._n += 1
        gid = f"op{self._n}"
        self.sc.setJobGroup(gid, name)
        return gid

    def jobs_in(self, group: str) -> int:
        """Jobs started so far under ``group``."""
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def _barrier(self) -> None:
        gid = self.group("trace barrier")
        self.spark.range(1, numPartitions=1).write.format("noop").mode("overwrite").save()
        tracker = self.sc.statusTracker()
        t_end = time.monotonic() + 60
        while time.monotonic() < t_end:
            ids = tracker.getJobIdsForGroup(gid)
            infos = [tracker.getJobInfo(j) for j in ids]
            if ids and all(i is not None and i.status in _TERMINAL for i in infos):
                return
            time.sleep(0.002)
        raise TimeoutError("status store did not catch up with the barrier job")

    def collect(self, groups: list[str]) -> Counter:
        """Layer totals of every job in ``groups`` (all finished)."""
        t0 = time.perf_counter()
        self._barrier()
        wanted = set(groups)
        jobs = [j for j in self._api("/jobs") if j.get("jobGroup") in wanted]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out: Counter = Counter({m: 0 for m in LAYER_METRICS})
        out["spark.jobs"] = len(jobs)
        for sid in sorted(stage_ids):
            for st in self._api(f"/stages/{sid}?details=false"):
                if st["status"] == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                for field, (key, scale) in _STAGE_FIELDS.items():
                    out[key] += st.get(field, 0) * scale
        # executions are listed in id order; a run stays far below the
        # store's retention limit (1000), so none is dropped before it is read
        fresh = self._api(f"/sql?details=true&planDescription=false&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(fresh)
        mine = [
            ex for ex in fresh
            if job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", []))
        ]
        out.update(kernel_totals(mine))
        self.collect_s += time.perf_counter() - t0
        return out


class NullTracer:
    """Untraced runs: job groups still name the operations, nothing is read."""

    collect_s = 0.0

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def group(self, name: str) -> str:
        self.sc.setJobGroup(name, name)
        return name

    def jobs_in(self, group: str) -> int:
        return 0

    def collect(self, groups: list[str]) -> Counter:
        return Counter()
