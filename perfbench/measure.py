"""Small measurement helpers: percentiles, order-insensitive result digests,
Spark SQL-metric string parsing, and a /proc memory sampler."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import re
import threading


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-quantile's
    position: the guide's rule reports a percentile only with >= 10."""
    return n - 1 - math.floor(q * (n - 1))


# ------------------------------------------------------------ digests ----


def _norm_cell(v):
    """Engine-neutral form of one result cell (Spark Row vs DuckDB Arrow)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, decimal.Decimal):
        return ("decimal", repr(v.normalize()))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):  # Spark Rows are tuples
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):  # DuckDB structs, in field order
        return tuple(_norm_cell(x) for x in v.values())
    if isinstance(v, (int, str, bytes)):
        return v
    return repr(v)


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: column names (case-folded,
    sorted) plus the sorted multiset of normalized rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    h = hashlib.sha256(repr([columns[i].lower() for i in order]).encode())
    for r in sorted(repr(tuple(_norm_cell(row[i]) for i in order)) for row in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# ------------------------------------------------- SQL metric strings ----

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_LEAD = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric(value: str) -> float:
    """Leading total of a formatted Spark SQL metric, in seconds, bytes or
    a plain count: ``"7.3 s (1.7 s, 1.9 s, ...)"`` -> 7.3, ``"783.3 KiB"``
    -> 802099.2, ``"1,694"`` -> 1694. Task-aggregated metrics carry a
    ``"total (min, med, max ...)"`` header line, which is skipped."""
    text = value.split("\n", 1)[1] if value.startswith("total") else value
    m = _LEAD.match(text)
    if not m:
        raise ValueError(f"not a Spark metric value: {value!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in {value!r}")
    return num * _UNITS[unit]


# ----------------------------------------------------- memory sampler ----


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # process exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def host_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) from the first line of /proc/stat: the CPU
    time the VM's host took from this machine."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided by
    the number of processes mapping it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemorySampler:
    """Samples the PSS of a process (the Spark JVM) and the summed PSS of
    all its descendants (the Python workers it forks) on a background
    thread and keeps the peaks of each and of their sum. PSS, not RSS: forked workers share most of their pages
    with the daemon they fork from, and an RSS sum counts those once per
    worker, so it would swing with how many workers happen to be alive.
    Use as a context manager."""

    # one sample of a 2 GB JVM costs ~10 ms of kernel time
    INTERVAL_S = 0.25

    def __init__(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self.peak_bytes = 0  # the whole tree
        self.peak_root_bytes = 0
        self.peak_children_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            root, *children = process_tree(self.root_pid)
            root_bytes = _pss_bytes(root)
            children_bytes = sum(_pss_bytes(p) for p in children)
            self.peak_bytes = max(self.peak_bytes, root_bytes + children_bytes)
            self.peak_root_bytes = max(self.peak_root_bytes, root_bytes)
            self.peak_children_bytes = max(self.peak_children_bytes, children_bytes)
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
