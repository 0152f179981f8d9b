"""Smoke tests for the benchmark's own plumbing (no Spark session needed).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import spec  # noqa: E402


def test_an_op_that_raises_is_counted_as_failed():
    log = harness.OpLog()
    ok = log.run("counts", lambda: 42)

    def boom():
        raise RuntimeError("AMBIGUOUS_REFERENCE")

    bad = log.run("neighbors_out", boom)
    assert ok.ok and ok.result == 42
    assert not bad.ok and bad.error.startswith("RuntimeError")
    assert (log.attempted, log.failed) == (2, 1)
    assert log.by_kind()["neighbors_out"]["failed"] == 1


def test_a_failed_check_marks_its_op_failed():
    log = harness.OpLog()
    op = log.run("build", lambda: None)
    harness.OpLog.fail(op, "fingerprint mismatch")
    assert log.failed == 1


def test_tail_is_the_highest_percentile_with_ten_samples_above():
    xs = [float(i) for i in range(1, 41)]
    value, pct, n = harness.tail(xs)
    assert n == 40 and value == 30.0 and sum(x > value for x in xs) == 10
    assert pct == 75.0
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_self_time_subtracts_overlapping_children():
    tr = harness.Tracer(sc=None, cores=4)
    mk = harness.Span
    tr.spans = [
        mk("a", "root", None, "op", 0.0, 10.0),
        mk("b", "child", "a", "op", 1.0, 4.0),
        mk("c", "child", "a", "op", 3.0, 6.0),
        mk("d", "grandchild", "b", "op", 1.0, 2.0),
    ]
    assert tr.self_time(tr.spans[0]) == 5.0
    assert tr.self_time(tr.spans[1]) == 2.0


def test_blocking_self_time_leaves_out_the_root():
    tr = harness.Tracer(sc=None, cores=4)
    mk = harness.Span
    root = mk("r", "plans.pipeline.run_pipeline", None, "op", 0.0, 10.0)
    tr.spans = [
        root,
        mk("a", "linking.cross_link", "r", "op", 1.0, 5.0),
        mk("b", "table_io.write_stage", "r", "op", 5.0, 8.0),
        mk("c", "table_io.compact", "r", "op", 8.0, 9.0, on_path=False),
    ]
    m = spec.layer_metrics(tr, 7.5, root)
    assert m["trace.blocking_self_s"] == 7.0
    assert m["trace.unattributed_s"] == 2.0
    assert m["trace.overhead_s"] == 2.5


def test_benchmark_json_lists_the_metrics_the_code_reports():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]] == spec.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == {
        n: (u, spec.better(n)) for n, u in spec.PER_LAYER.items()}


def test_without_the_engine_package_the_run_fails_without_a_result(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60, env=env,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
