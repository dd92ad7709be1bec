"""Self-test of the benchmark's own code: ``python3 -m pytest perfbench -q``.

The pure helpers are checked directly. Each workload then runs end to end
at self-test size (fixture tables at sf0.001, a 3 MB corpus) and must
print one result line with every metric ``BENCHMARK.json`` declares.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from checks import compare_rows, tail  # noqa: E402


def test_tail_is_the_sample_with_ten_beyond_it():
    samples = [float(x) for x in range(30, 0, -1)]  # 1..30, unsorted
    value, pct, beyond = tail(samples)
    assert (value, beyond) == (20.0, 10)
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(s > value for s in samples) == 10


def test_tail_of_twenty_one_samples_is_the_median():
    samples = [float(x) for x in range(21)]
    assert tail(samples) == (10.0, 100 * 11 / 21, 10)


def test_tail_below_the_median_falls_back_to_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert tail([5.0, 1.0] + [9.0] * 17 + [12.0]) == (12.0, 100.0, 0)
    with pytest.raises(ValueError):
        tail([])


def test_compare_rows_is_order_free_and_float_tolerant():
    cols = ["k", "v"]
    assert compare_rows([(1, 0.5), (2, 1.0)], cols, [(2, 1.0), (1, 0.5)], cols) is None
    assert compare_rows([(1, 0.1 + 0.2)], cols, [(1, 0.3)], cols) is None
    assert compare_rows([(1, 0.5)], cols, [(1, 0.6)], cols) is not None
    assert compare_rows([(1, 0.5)], cols, [(1, 0.5), (1, 0.5)], cols) is not None
    assert compare_rows([(0.5, 1)], ["v", "k"], [(1, 0.5)], cols) is None


def _declared(kind: str) -> set[str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "10", "--trace", str(trace), "--tiny"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace", [("grep_corpus", 0), ("curation_ops", 0), ("grep_corpus", 1)]
)
def test_tiny_run_is_correct_and_complete(workload, trace):
    r = _run(workload, trace)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0
    assert set(r["metrics"]) == _declared("per_layer" if trace else "end_to_end")
    if not trace:
        assert all(m["value"] > 0 for m in r["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name)) as src:
                (tmp_path / "perfbench" / name).write_text(src.read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "grep_corpus", "--seed", "1",
         "--seconds", "10", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout == ""
