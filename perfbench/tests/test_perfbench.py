"""The benchmark's own tests: run each workload in smoke mode and check the
result contract against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def run_bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    return proc, proc.stdout.strip().splitlines()


def result(workload: str, trace: int, *extra: str) -> dict:
    proc, lines = run_bench(workload, trace, *extra)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(lines[-1])


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]] + WORKLOADS
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_reports_every_end_to_end_metric(workload):
    res = result(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_reports_every_per_layer_metric(workload):
    res = result(workload, 1)
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    touched = {
        "stream_relay": ["stream.trigger_ms_p50", "broker.read_range_s",
                         "datasource.write_s", "codec.decode_s", "bulk.publish_msgs_per_s"],
        "analytics_suite": ["suite.build_s", "suite.exec_s"],
    }[workload]
    for name in touched + ["session.start_s", "control.range_agg_s"]:
        assert res["metrics"][name]["value"] > 0, name
    assert res["metrics"]["failed_ops_frac"]["value"] == 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_value_is_counted_as_failed(workload):
    res = result(workload, 1, "--wrong-expected")
    assert not res["correct"] and res["failed"] > 0
    assert res["metrics"]["failed_ops_frac"]["value"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc, lines = run_bench(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in lines)


def test_inputs_follow_the_seed():
    import gen

    assert gen.log_rows(5, 1000).equals(gen.log_rows(5, 1000))
    assert not gen.log_rows(5, 1000).equals(gen.log_rows(6, 1000))


def test_overhead_compares_with_the_recorded_untraced_run(tmp_path, monkeypatch):
    from argparse import Namespace

    import harness
    import run

    monkeypatch.setattr(harness, "OUT_DIR", str(tmp_path))
    args = Namespace(workload="analytics_suite", seed=3, seconds=20.0, smoke=False)
    assert run.untraced_measured_s(args) is None

    def record(seed, measured_s, smoke=False):
        other = Namespace(**{**vars(args), "seed": seed, "smoke": smoke})
        with open(run.measured_path(other), "w") as fh:
            json.dump({"measured_s": measured_s}, fh)

    record(1, 10.0)
    record(2, 30.0)
    record(4, 99.0, smoke=True)
    assert run.untraced_measured_s(args) == 20.0  # median over other seeds
    record(3, 12.0)
    assert run.untraced_measured_s(args) == 12.0  # the same seed wins


def test_tail_needs_ten_samples_beyond():
    from harness import tail

    assert tail(list(range(15))) is None
    p, value, beyond = tail(list(range(1000)))
    assert (p, value, beyond) == (99, 989, 10)
