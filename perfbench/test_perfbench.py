"""Self-tests of the benchmark: generator determinism, span bookkeeping,
metric parsing, and a tiny-size smoke run of every workload.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.layers import time_metric  # noqa: E402
from perfbench.trace import (  # noqa: E402
    SparkLedger,
    Tracer,
    _first_quantity,
    steal_share,
    union_length,
)


def test_vectors_deterministic_per_seed():
    a, b = gen.clustered_vectors(7, 500), gen.clustered_vectors(7, 500)
    assert a.dtype == np.float32 and a.shape == (500, 384)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, gen.clustered_vectors(8, 500))
    norms = np.linalg.norm(a, axis=1)
    assert 5.0 < np.median(norms) < 6.0
    # 1% exact duplicates
    assert len({r.tobytes() for r in a}) <= 500 - 4


def test_tables_deterministic_per_seed():
    a, b = gen.relational_tables(3, "tiny"), gen.relational_tables(3, "tiny")
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    c = gen.relational_tables(4, "tiny")
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == gen.MIX_SIZES["tiny"]["lineitem"]


def test_split_by_order_is_contiguous_and_complete():
    ev = gen.relational_tables(3, "tiny")["events"]
    parts = gen.split_by_order(ev, "ts", 3)
    assert sum(p.num_rows for p in parts) == ev.num_rows
    for lo, hi in zip(parts, parts[1:]):
        assert max(lo.column("ts").to_pylist()) <= min(hi.column("ts").to_pylist())


def test_spans_nest_and_self_time_is_non_negative():
    tr = Tracer("t")
    with tr.span("root"):
        with tr.span("a.b"):
            time.sleep(0.02)
            with tr.span("c"):
                time.sleep(0.02)
        with tr.span("a.b"):
            time.sleep(0.01)
    root, ab1, c, ab2 = tr.spans
    assert root.parent is None and ab1.parent == root.id
    assert c.parent == ab1.id and ab2.parent == root.id
    selfs = tr.self_times()
    assert all(v >= 0 for v in selfs.values())
    assert abs(selfs[ab1.id] - ((ab1.end - ab1.start) - (c.end - c.start))) < 1e-9
    agg = tr.by_name()
    assert agg["a.b"]["count"] == 2
    assert agg["root"]["self"] < agg["root"]["total"]
    assert time_metric("a.b") == "a.b_s" and time_metric("vote") == "vote.s"


def test_recorded_spans_overlap_and_take_no_jobs():
    tr = Tracer("t")
    with tr.span("root") as root:
        t0, w0 = time.perf_counter(), time.time()
        time.sleep(0.03)
        t1, w1 = time.perf_counter(), time.time()
        a = tr.record("s.a", t0, t1, w0, w1)
        b = tr.record("s.b", t0 + 0.01, t1, w0 + 0.01, w1)
    assert a.parent == b.parent == root.id and a.overlapping and b.overlapping
    selfs = tr.self_times()
    assert selfs[a.id] == pytest.approx(t1 - t0)
    assert selfs[root.id] == pytest.approx((root.end - root.start) - (t1 - t0))
    # a job submitted while both ran, from a thread without a description,
    # goes to the enclosing span
    ledger = SparkLedger.__new__(SparkLedger)
    ledger.jobs_since = lambda mark: [{"desc": None, "submit": w0 + 0.02}]
    assert list(ledger.jobs_by_span(None, tr.spans)) == [root.id]


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert union_length([]) == 0


def test_sql_metric_parsing():
    assert _first_quantity("total (min, med, max (stageId: taskId))\n7.5 s (1.8 s, 1.9 s)") == 7.5
    assert _first_quantity("783.3 KiB") == pytest.approx(783.3 * 1024)
    assert _first_quantity("13 ms") == pytest.approx(0.013)
    assert _first_quantity("100,000") == 100000


def test_steal_share():
    assert steal_share([0] * 8, [10, 0, 10, 70, 0, 0, 0, 10]) == pytest.approx(0.1)


def _workload_names():
    from perfbench.run import _workloads

    return sorted(_workloads())


@pytest.mark.parametrize("workload", _workload_names())
def test_tiny_smoke_run(workload):
    """Every workload runs end to end at tiny size, traced, with correct
    outputs and every per-layer metric of BENCHMARK.json reported."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "0", "--trace", "1", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stdout[-3000:]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(result["metrics"]) == {m["name"] for m in spec["per_layer"]}


def test_refuses_to_run_without_the_package(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "wm_clean", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and not p.stdout.strip()
