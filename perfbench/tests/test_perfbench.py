"""Unit tests for the benchmark's own pieces (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import decimal
import json
import os
import re
import sys
from collections import Counter

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, measure, run, trace  # noqa: E402


# ------------------------------------------------------------ generators ----


def test_fixture_is_the_one_the_catalog_was_picked_on():
    from perfbench.workloads import CATALOG, FIXTURE

    with open(os.path.join(ROOT, "perfbench", "catalog_receipt.json")) as f:
        receipt = json.load(f)
    assert gen.fingerprint(FIXTURE) == receipt["fingerprint"]
    assert sorted(os.listdir(FIXTURE)) == sorted(
        f"{t}.parquet"
        for t in ("region nation customer supplier part orders lineitem events documents embeddings").split()
    )
    assert tuple(sorted(receipt["pick"].values())) == CATALOG


def test_pick_takes_each_familys_cheapest_member():
    from perfbench.pick_catalog import pick

    secs = {"q_a_x": 3.0, "q_a_y": 1.0, "q_a_z": 2.0, "q_b_only": 9.0, "q_c_q": 1.0, "q_c_p": 1.0}
    assert pick(secs) == {"a": "q_a_y", "b": "q_b_only", "c": "q_c_p"}


def test_corpus_counter_is_the_reference_tokenization(tmp_path):
    counts = gen.write_corpus(str(tmp_path / "a"), 3, 200_000)
    seen: Counter = Counter()
    files = sorted(os.listdir(tmp_path / "a"))
    for name in files:
        with open(tmp_path / "a" / name) as f:
            seen.update(re.findall(r"[A-Za-z0-9]+", f.read()))
    assert seen == counts
    assert any(t[0].isupper() for t in counts) and any(t.islower() for t in counts)
    with open(tmp_path / "a" / files[-1]) as f:
        assert f.read()[-1].isalnum()  # EOF terminates the last token


def test_corpus_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_corpus(str(tmp_path / name), seed, 100_000)
    assert gen.fingerprint(str(tmp_path / "a")) == gen.fingerprint(str(tmp_path / "b"))
    assert gen.fingerprint(str(tmp_path / "a")) != gen.fingerprint(str(tmp_path / "c"))


# --------------------------------------------------------------- digest ----


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 2.5), (2, "b", None)]
    d = measure.digest(["k", "s", "x"], rows)
    assert d == measure.digest(["k", "s", "x"], rows[::-1])
    assert d == measure.digest(["x", "K", "s"], [(r[2], r[0], r[1]) for r in rows])


def test_digest_sees_values_multiplicity_and_types():
    base = measure.digest(["k"], [(1,), (2,)])
    assert base != measure.digest(["k"], [(1,), (3,)])
    assert base != measure.digest(["k"], [(1,), (2,), (2,)])
    assert measure.digest(["k"], [(1,)]) != measure.digest(["k"], [(decimal.Decimal(1),)])
    assert measure.digest(["k"], [(1,)]) != measure.digest(["k"], [(True,)])
    assert measure.digest(["x"], [(0.0,)]) == measure.digest(["x"], [(-0.0,)])


def test_digest_struct_from_either_engine():
    # Spark returns structs as Rows (tuples), DuckDB as dicts in field order
    assert measure.digest(["s"], [((1, "a"),)]) == measure.digest(["s"], [({"x": 1, "y": "a"},)])


# --------------------------------------------------------- metric parser ----


@pytest.mark.parametrize(
    "text, value",
    [
        ("7.3 s (1.7 s, 1.9 s, 2.0 s (stage 3.0: task 5))", 7.3),
        ("783.3 KiB (190.1 KiB, 196.0 KiB, 201.2 KiB (stage 3.0: task 4))", 783.3 * 1024),
        ("total (min, med, max (stageId: taskId))\n8.9 s (2.2 s, 2.2 s, 2.3 s (stage 3.0: task 5))", 8.9),
        ("total (min, med, max (stageId: taskId))\n176 ms (8 ms, 55 ms, 68 ms (stage 3.0: task 4))", 0.176),
        ("1,694", 1694),
        ("0 ms", 0.0),
        ("1221.0 B", 1221.0),
        ("64.2 MiB", 64.2 * 2**20),
        ("2.5 m", 150.0),
    ],
)
def test_parse_metric_leading_total(text, value):
    assert measure.parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_garbage():
    with pytest.raises(ValueError):
        measure.parse_metric("n/a")
    with pytest.raises(ValueError):
        measure.parse_metric("3 parsecs")


def test_kernel_totals_reads_python_worker_nodes_only():
    ex = {"nodes": [
        {"nodeName": "MapInPandas", "metrics": [
            {"name": "time to run Python workers", "value": "total (min, med, max (stageId: taskId))\n2.0 s (1 s, 1 s, 1 s (stage 1.0: task 1))"},
            {"name": "time to start Python workers", "value": "300 ms"},
            {"name": "time to initialize Python workers", "value": "1.5 s"},
            {"name": "data sent to Python workers", "value": "1.0 KiB"},
            {"name": "data returned from Python workers", "value": "2.0 KiB"},
            {"name": "number of output rows", "value": "1,000"},
        ]},
        {"nodeName": "Filter", "metrics": [{"name": "number of output rows", "value": "7"}]},
    ]}
    got = trace.kernel_totals([ex])
    assert got["kernel.python_run_s"] == pytest.approx(2.0)
    assert got["kernel.python_startup_s"] == pytest.approx(0.3 + 1.5)
    assert got["kernel.bytes_to_python"] == 1024
    assert got["kernel.bytes_from_python"] == 2048
    assert got["kernel.rows_from_python"] == 1000


# ------------------------------------------------------------ percentiles ----


def test_percentile_interpolates():
    xs = list(range(1, 11))
    assert measure.percentile(xs, 0.5) == pytest.approx(5.5)
    assert measure.percentile(xs[::-1], 0.9) == pytest.approx(9.1)
    assert measure.percentile([4.0], 0.9) == 4.0
    with pytest.raises(ValueError):
        measure.percentile([], 0.5)


def test_samples_beyond_percentile():
    assert measure.samples_beyond(100, 0.9) == 10
    assert measure.samples_beyond(24, 0.9) == 3
    assert measure.samples_beyond(1, 0.5) == 0


# ----------------------------------------------------------- manifest ----


def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert set(trace.LAYER_METRICS) <= set(run.PER_LAYER)
