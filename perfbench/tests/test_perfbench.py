"""Tests of the benchmark itself: the answer checker, and a tiny-scale
run of every workload that must print every metric with its unit.

    python -m pytest perfbench/tests -q
"""

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.check import (Oracle, Query, compare_engine,  # noqa: E402
                             compare_ranked)
from perfbench.workloads import Outcome, _check_query  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

DOCS = [
    (0, ["search", "index", "search"]),
    (1, ["search", "data"]),
    (2, ["index", "data", "process", "search"]),
    (3, ["data", "process"]),
    (4, ["search", "index", "data", "process", "merge", "block"]),
]


@pytest.fixture()
def oracle():
    o = Oracle()
    o.add([d for d, _ in DOCS], [t for _, t in DOCS],
          ["user", "assistant", "user", "user", "tool"])
    yield o
    o.close()


def _engine_result(want, total, k=10):
    top = want[0][1]
    rows = [{"score": round(s / top * 100.0, 1), "document": {"doc_id": d}}
            for d, s in want[:k]]
    return {"results": rows, "total": total, "count": len(rows),
            "next_cursor": [want[:k][-1][1], want[:k][-1][0], top]}


def test_ranked_identical_passes(oracle):
    q = Query("search", "single", ("search",))
    want, _ = oracle.answer(q)
    assert compare_ranked(list(want[:10]), want, 10) is None


def test_ranked_swapped_ranks_fail(oracle):
    q = Query("search", "single", ("search",))
    want, _ = oracle.answer(q)
    got = list(want)
    i = next(i for i in range(len(got) - 1) if got[i][1] != got[i + 1][1])
    got[i], got[i + 1] = got[i + 1], got[i]
    assert compare_ranked(got, want, 10) is not None


def test_ranked_score_off_by_1e6_fails(oracle):
    q = Query("data AND process", "and", ("data", "process"))
    want, _ = oracle.answer(q)
    got = [(d, s + 1e-6) if i == 0 else (d, s) for i, (d, s) in enumerate(want)]
    assert compare_ranked(got, want, 10) is not None


def test_ranked_ties_are_interchangeable():
    want = [(7, 2.0), (3, 1.0), (5, 1.0)]
    assert compare_ranked([(7, 2.0), (5, 1.0), (3, 1.0)], want, 3) is None
    assert compare_ranked([(7, 2.0), (5, 1.0), (5, 1.0)], want, 3) is not None


def test_engine_result_checks(oracle):
    q = Query('"data process"', "phrase", ("data", "process"))
    want, total = oracle.answer(q)
    assert compare_engine(_engine_result(want, total), want, total, 10) is None
    wrong_total = _engine_result(want, total + 1)
    assert compare_engine(wrong_total, want, total, 10) is not None
    off = _engine_result(want, total)
    off["next_cursor"][2] += 1e-6
    assert compare_engine(off, want, total, 10) is not None


def test_role_filter_matches_side_table(oracle):
    q = Query("search", "single", ("search",), role="user")
    want, total = oracle.answer(q)
    assert {d for d, _ in want} == {0, 2} and total == 2


def test_perturbed_answer_raises_error_rate(oracle):
    q = Query("search", "single", ("search",))
    want, _ = oracle.answer(q)
    out = Outcome(attempted=2)
    _check_query(out, oracle, q, list(want[:10]), engine=False)
    assert out.failed == 0 and out.checked == 1
    swapped = [want[1], want[0]] + list(want[2:10])
    _check_query(out, oracle, q, swapped, engine=False)
    assert out.checked == 2 and out.failed / out.attempted == 0.5


def _run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.02"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    report = json.loads(lines[-2])["report"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert result["correct"] is True
    assert report["checked_share"] > 0
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        n: v["unit"] for n, v in result["metrics"].items()}
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], float) and math.isfinite(v["value"])
        if not trace:
            assert v["value"] > 0, name


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("serve_mixed", 0, cwd=tmp_path)
    assert p.returncode != 0
    assert "metrics" not in p.stdout
