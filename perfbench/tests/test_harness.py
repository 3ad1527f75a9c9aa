"""Tests of the benchmark harness itself.

    python -m pytest perfbench/tests -q

Unit tests of the summary statistics, the answer checks and the table
digest, plus tiny-corpus smoke runs of each workload through run.py.
"""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, compare, metrics  # noqa: E402


def test_tail_needs_ten_samples_above():
    xs = list(range(1, 31))                     # 30 samples
    pct, value, n = metrics.tail(xs)
    assert n == 30 and value == 20              # 21..30 lie above it
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_with_ten_or_fewer_samples_is_the_maximum():
    assert metrics.tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)
    assert metrics.tail(list(range(10)))[1] == 9
    assert metrics.tail(list(range(11)))[1] == 0
    with pytest.raises(ValueError):
        metrics.tail([])


def test_failed_ratio():
    assert metrics.failed_ratio(0, 5) == 0.0
    assert metrics.failed_ratio(2, 4) == 0.5
    for bad in ((0, 0), (3, 2), (-1, 2)):
        with pytest.raises(ValueError):
            metrics.failed_ratio(*bad)


def test_oracle_and_answer_checks():
    docs = [(0, "a b"), (1, "b"), (2, "b c c"), (3, "c d"), (4, "d"), (5, "e")]
    oracle = checks.Oracle(docs, {"a", "b", "c"})
    ranked = oracle.ranking("a c", conjunctive=False)
    assert [d for d, _ in ranked] == [0, 2, 3]
    assert all(s > 0 for _, s in ranked)
    assert oracle.ranking("a b", conjunctive=True) == [
        (0, dict(oracle.ranking("a b", False))[0])]
    rows = [(d, s, r + 1) for r, (d, s) in enumerate(ranked[:3])]
    assert checks.check_answer(rows, ranked, k=3) is None
    # a score off by more than the tolerance, a swapped doc, a short
    # answer and a rising score are each caught
    d0, s0, _ = rows[0]
    assert checks.check_answer([(d0, s0 * (1 + 1e-6), 1)] + rows[1:], ranked, 3)
    swapped = [(rows[1][0], rows[0][1], 1), (rows[0][0], rows[1][1], 2), rows[2]]
    if ranked[0][1] != ranked[1][1]:
        assert checks.check_answer(swapped, ranked, 3)
    assert checks.check_answer(rows[:2], ranked, 3)
    assert checks.check_shape([(1, 1.0, 1), (2, 2.0, 2)], 3)
    assert checks.check_shape([(1, 2.0, 1), (2, 1.0, 3)], 3)


def test_answer_check_allows_reordering_within_a_tie():
    ranked = [(5, 2.0), (7, 2.0), (9, 1.0)]
    assert checks.check_answer([(7, 2.0, 1), (5, 2.0, 2)], ranked, 2) is None


@pytest.fixture(scope="module")
def spark():
    from cs6913_web_search_engines_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=2)
    yield s


def test_digest_ignores_order_and_layout_but_not_content(spark):
    rows = [("t1", 1, bytearray(b"\x01\x02")), ("t2", 2, bytearray(b"\x03"))]
    schema = "term string, n int, payload binary"
    a = spark.createDataFrame(rows, schema)
    b = spark.createDataFrame(list(reversed(rows)), schema).repartition(2)
    assert checks.digest(a) == checks.digest(b)
    changed = spark.createDataFrame(
        [("t1", 1, bytearray(b"\x01\x03")), rows[1]], schema)
    assert checks.digest(a) != checks.digest(changed)
    assert checks.digest(a)[0] == 2


def _declared(section):
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _run(workload, trace, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc


@pytest.mark.parametrize("workload,trace", [("build", 0), ("search", 0),
                                            ("search", 1)])
def test_smoke_run(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = _declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        # singles on the local tier, hot batches on the pruned tier,
        # zipf batches on the segmented tier
        for tier in ("local", "pruned", "segmented"):
            assert result["metrics"][f"engine.requests.{tier}"]["value"] > 0
        assert result["metrics"]["pruning.blocks_exhaustive"]["value"] > 0
    assert "provenance" in proc.stdout
    if workload == "search" and trace:
        assert "auto_route" in proc.stdout


def test_compare_prints_tracing_overhead(tmp_path, capsys):
    def write(name, trace, metrics_):
        prov = {"nproc": 4, "workload": "build", "trace": trace}
        result = {"correct": True, "attempted": 1, "failed": 0,
                  "metrics": {k: {"value": v, "unit": "ms"} for k, v in metrics_.items()}}
        (tmp_path / name).write_text(
            f"provenance {json.dumps(prov)}\nmetric drain_s 2.5 s\n{json.dumps(result)}\n")
        return str(tmp_path / name)

    base = write("base.out", 0, {"op_p50_ms": 100.0})
    new = write("new.out", 1, {"trace.op_p50_ms": 108.0})
    assert compare.main([base, new]) == 0
    out = capsys.readouterr().out
    assert "tracing overhead +0.080" in out
    assert "drain_s" in out and "WARNING" not in out


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = dict(os.environ, PYTHONPATH="")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
