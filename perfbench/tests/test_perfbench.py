"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(ROOT))

import check  # noqa: E402
import kernels  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads as W  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_seed_fixes_query_order_and_feed_cuts():
    items = W.WORKLOADS["sql_analytics"].items
    assert W.pass_order(items, 5, 8) == W.pass_order(items, 5, 8)
    assert W.pass_order(items, 5, 8) != W.pass_order(items, 6, 8)
    assert all(sorted(o) == sorted(items) for o in W.pass_order(items, 5, 8))
    for feed in ("events", "orders"):
        cuts = W.cut_points(10_000, 5, feed)
        assert cuts == W.cut_points(10_000, 5, feed)
        assert cuts != W.cut_points(10_000, 6, feed)
        assert cuts[0] == 0 and cuts[-1] == 10_000
        assert all(a < b for a, b in zip(cuts, cuts[1:]))
        assert len(cuts) == W.N_BATCHES + 1


def test_benchmark_workloads_are_defined():
    for w in SPEC["workloads"]:
        assert w["name"] in W.WORKLOADS


def test_end_to_end_names_and_units_match_benchmark_json():
    res = {"wall": [1.0, 3.0, 2.0], "cpu": [4.0, 5.0, 6.0]}
    m = run.end_to_end_metrics(10.0, res, 400, 900.0, 1, 10)
    assert {k: v["unit"] for k, v in m.items()} == {
        e["name"]: e["unit"] for e in SPEC["end_to_end"]}
    assert m["wall_s"]["value"] == 2.0
    assert m["input_rows_per_s"]["value"] == 200.0
    assert abs(m["success_rate"]["value"] - 0.9) < 1e-12


def test_per_layer_names_and_units_match_benchmark_json():
    layer = run._zero_layer()
    layer.update({"operators.exec_s": 2.0, "operators.task_run_s": 4.0,
                  "streaming.batches": 3.0, "streaming.fold_s": 1.5,
                  "streaming.feed_mb": 1.0, "streaming.state_mb_written": 2.0})
    runner = SimpleNamespace(layers=[layer], once={
        "session.get_spark_s": 1.0, "session.warm_s": 2.0, "plans.load_all_s": 0.1})
    rates = kernels.measure(0, min_s=0.0)
    m = run.layer_metrics(runner, {"wall": [1.0], "traced_wall": [1.25]}, 0.5, rates,
                          {"plans": 0.3})
    assert {k: v["unit"] for k, v in m.items()} == {
        e["name"]: e["unit"] for e in SPEC["per_layer"]}
    assert m["trace.overhead_s"]["value"] == 0.25
    assert m["trace.self_s.plans"]["value"] == 0.3
    assert m["streaming.batch_s"]["value"] == 0.5
    assert m["streaming.write_amp"]["value"] == 2.0
    assert m["operators.slot_busy_frac"]["value"] == 4.0 / (run.cores() * 2.0)


def test_output_check_fails_on_a_wrong_expected_result():
    rows, cols = [(1, "a", 0.5), (2, "b", None)], ["k", "s", "x"]
    assert check.oracle_mismatch(rows, cols, list(reversed(rows)), cols) is None
    # column order does not matter, the set of columns does
    swapped = [(x, s, k) for k, s, x in rows]
    assert check.oracle_mismatch(swapped, ["x", "s", "k"], rows, cols) is None
    assert check.oracle_mismatch(rows, cols, [(1, "a", 0.6), (2, "b", None)], cols)
    assert check.oracle_mismatch(rows, cols, rows[:1], cols)
    assert check.oracle_mismatch(rows, ["k", "s", "y"], rows, cols)

    assert check.twin_mismatch(rows, cols, list(reversed(rows)), cols) is None
    assert check.twin_mismatch(rows, cols, [(1, "a", 0.5), (3, "b", None)], cols)
    assert check.twin_mismatch(rows, ["k", "x", "s"], rows, cols)
    assert check.twin_mismatch(rows, cols, [], cols)


class _Sink:
    def __init__(self, calls: list[str], name: str) -> None:
        self.calls, self.name = calls, name
        self.write = self

    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        self.calls.append(self.name)


def test_a_raising_query_counts_as_failed_and_the_pass_goes_on(tmp_path):
    calls: list[str] = []

    def bad(spark, sf_dir):
        raise RuntimeError("boom")

    def good(spark, sf_dir):
        return _Sink(calls, "good")

    wl = W.Workload("t", ("bad", "good"), ("documents",))
    runner = run.Runner(wl, 0, tmp_path, "bench", "warm", traced=False)
    runner.registry = {"bad": SimpleNamespace(fn=bad), "good": SimpleNamespace(fn=good)}
    rdds = SimpleNamespace(values=lambda: [])
    runner.spark = SimpleNamespace(sparkContext=SimpleNamespace(
        _jsc=SimpleNamespace(getPersistentRDDs=lambda: rdds)))
    elapsed = runner.run_pass("pass0", "bench", ["bad", "good"])
    assert elapsed >= 0.0
    assert calls == ["good"]
    assert runner.attempted == 2
    assert len(runner.failures) == 1 and runner.failures[0].startswith("pass0:bad:")
    m = run.end_to_end_metrics(1.0, {"wall": [elapsed or 1.0], "cpu": [0.1]}, 10, 1.0,
                               len(runner.failures), runner.attempted)
    assert m["success_rate"]["value"] == 0.5


def test_self_time_subtracts_the_union_of_children():
    sp = [
        {"id": 0, "parent": None, "layer": "bench", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "layer": "plans", "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "layer": "operators", "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 0, "layer": "operators", "start": 8.0, "end": 12.0},
    ]
    st = spans.self_times(sp)
    assert st[0] == 10.0 - (4.0 + 2.0)
    assert spans.layer_rollup(sp) == {"bench": 4.0, "plans": 2.0, "operators": 7.0}


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_pass_count_is_fixed_not_set_by_the_clock(tmp_path):
    wl = W.Workload("t", ("a", "b"), ("documents",))
    proc = SimpleNamespace(cpu_s=lambda: 0.0)
    for traced, plan in ((False, run.UNTRACED_PASSES), (True, run.TRACED_PASSES)):
        runner = run.Runner(wl, 0, tmp_path, "bench", "warm", traced=traced)
        runner.tracer = spans.Tracer()
        runner.run_pass = lambda label, sf_dir, order, layer=None: 0.001  # a fast pass
        res = runner.measure(proc)
        assert len(res["wall"]) == plan.count("U")
        assert len(res["traced_wall"]) == plan.count("T")
