"""Self-test of the benchmark harness.

    python3 -m pytest perfbench/test_perfbench.py -q

The span arithmetic tests run in milliseconds; the smoke tests run each
workload at the tiny scale, traced, in a subprocess (about 90 s each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import Tracer, self_time, union_length  # noqa: E402
from perfbench.workloads import rounding_equal  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3.0
    assert union_length([(1, 1), (3, 2)]) == 0.0  # empty and inverted


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    assert self_time(0, 10, []) == 10
    # two concurrent children overlap: counted once
    assert self_time(0, 10, [(1, 4), (2, 6)]) == 5
    # children that spill past the parent are clipped
    assert self_time(0, 10, [(-5, 2), (9, 15)]) == 7
    assert self_time(0, 10, [(0, 10), (3, 4)]) == 0


def test_worker_thread_spans_attach_to_the_open_main_span():
    import threading

    tr = Tracer("t")
    with tr.span("round") as rnd:
        t = threading.Thread(target=lambda: tr.close(tr.open("append")))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    child = [s for s in tr.spans if s.name == "append"][0]
    assert child.parent == rnd.sid
    assert tr.children(rnd) == [child]


def test_rounding_equal_allows_only_a_last_digit_flip():
    a = pd.DataFrame({"k": ["x", "y"], "v": [24256694.29, 1.5]})
    assert rounding_equal(a, a.assign(v=[24256694.30, 1.5]))
    assert not rounding_equal(a, a.assign(v=[24256694.31, 1.5]))
    assert not rounding_equal(a, a.assign(k=["x", "z"]))


@pytest.mark.parametrize("workload", ["fresh_crawl", "query_leaves"])
def test_tiny_traced_smoke(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "1", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(out["metrics"]) == names
    assert "tracing overhead" in p.stdout
