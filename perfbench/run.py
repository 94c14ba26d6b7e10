#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_relay --seed 1 --seconds 10 --trace 0

Runs one workload from a checkout of the repository: starts a Spark
session, generates the workload's inputs from the seed, warms up, measures
for `--seconds`, checks every output, and prints one line per metric
followed by the result as one JSON line (the last line of stdout). With
`--trace 1` the JSON carries the per-layer metrics instead of the
end-to-end ones, and the spans are written to .perfbench_out/. Untraced
runs leave their measured time there too: trace.overhead_frac compares a
traced run with them.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
import traceback

import harness
from harness import ROOT, Run

WORKLOADS = {
    "stream_relay": ("stream_relay", "StreamRelay"),
    "analytics_suite": ("analytics_suite", "AnalyticsSuite"),
}
CONTROL_ROWS = 5_000_000


def load_spec() -> dict:
    with open(harness.SPEC_PATH) as fh:
        return json.load(fh)


def checkout_ok() -> str | None:
    for need in ("rocketmq_flink_spark/__init__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return f"{need} not found under {ROOT}: run from a full checkout"
    return None


def source_id() -> str:
    """The commit, or a hash of the package sources outside a git tree."""
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], check=True,
                              capture_output=True, text=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        h = hashlib.sha1()
        pkg = os.path.join(ROOT, "rocketmq_flink_spark")
        for d, _, files in sorted(os.walk(pkg)):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
        return "tree-" + h.hexdigest()[:12]


def control_range_agg(spark) -> float:
    """A fixed aggregate that no change to the package can move, run on the
    warm session after measuring: drift on the box, as a number."""
    t0 = time.perf_counter()
    spark.range(CONTROL_ROWS).selectExpr("sum(id % 7)", "max(id * 3 % 11)").collect()
    return time.perf_counter() - t0


def measured_path(args, seed="") -> str:
    tag = (f"{args.workload}-seed{seed or args.seed}-{args.seconds:g}s"
           + ("-smoke" if args.smoke else ""))
    return os.path.join(harness.OUT_DIR, f"measured-{tag}.json")


def untraced_measured_s(args) -> float | None:
    """The measured time of the untraced run with the same arguments, from
    the record it left in this checkout; without one, the median over the
    recorded untraced runs of the same workload at other seeds; None when
    no untraced run of the workload was recorded here."""
    same = measured_path(args)
    paths = [same] if os.path.exists(same) else glob.glob(measured_path(args, seed="*"))
    times = []
    for p in paths:
        with open(p) as fh:
            times.append(json.load(fh)["measured_s"])
    return harness.median(times) if times else None


def execute(run: Run, spec: dict, args) -> dict:
    import importlib

    module, cls = WORKLOADS[run.workload]
    harness.prepare_env(run.scratch)
    with run.span("session.start"):
        start_s, run.spark = harness.timed(harness.start_session, run.scratch)
    wl = getattr(importlib.import_module(module), cls)(run)
    with run.span("setup.generate"):
        gen_s, _ = harness.timed(wl.generate)
    with run.span("session.warm_up"):
        warm_s, _ = harness.timed(wl.warm_up)
    run.e2e["setup_s"] = (start_s + gen_s + warm_s, "s")
    run.layers["session.start_s"] = (start_s, "s")
    run.layers["session.warmup_s"] = (warm_s, "s")
    run.info["setup.generate_s"] = (gen_s, "s")

    measured_s, _ = harness.timed(wl.measure)
    if run.trace:
        base = untraced_measured_s(args)
        if base is None:
            print("trace.overhead_frac: no untraced run of this workload recorded in "
                  "this checkout; reported as 0", file=sys.stderr)
        run.layers["trace.overhead_frac"] = (
            (measured_s - base) / base if base else 0.0, "frac")
        wl.probe()
    else:
        os.makedirs(harness.OUT_DIR, exist_ok=True)
        with open(measured_path(args), "w") as fh:
            json.dump({"measured_s": measured_s}, fh)
    run.layers["control.range_agg_s"] = (control_range_agg(run.spark), "s")
    run.layers["failed_ops_frac"] = (run.failed / max(run.attempted, 1), "frac")

    import pyarrow
    import pyspark

    run.meta = {
        "source": source_id(), "nproc": harness.cpu_count(),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"], "seed": run.seed,
        "workload": run.workload, "seconds": run.seconds, "trace": int(run.trace),
    }
    wanted = spec["per_layer"] if run.trace else spec["end_to_end"]
    measured = run.layers if run.trace else run.e2e
    metrics = {}
    for m in wanted:
        if m["name"] in measured:
            value, unit = measured[m["name"]]
        elif run.trace:
            value, unit = 0, m["unit"]  # a layer the workload does not touch did no work
        else:
            raise RuntimeError(f"{m['name']} was not measured")
        if unit != m["unit"]:
            raise RuntimeError(f"{m['name']}: unit {unit} != {m['unit']}")
        metrics[m["name"]] = {"value": float(value), "unit": unit}
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="small inputs, for the benchmark's own tests")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="self-test: perturb one expected value so the checks must fail")
    args = ap.parse_args(argv)
    # a terminated run still stops its session and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    problem = checkout_ok()
    if problem:
        print(problem, file=sys.stderr)
        return 2
    spec = load_spec()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke,
              args.wrong_expected)
    try:
        metrics = execute(run, spec, args)
    except Exception:  # noqa: BLE001 - report, clean up, fail without a result
        traceback.print_exc()
        return 1
    finally:
        try:
            if run.spark is not None:
                for q in run.spark.streams.active:
                    q.stop()
                harness.stop_session(run.spark)
        finally:
            if run.trace:
                run.tracer.dump(os.path.join(
                    harness.OUT_DIR, f"spans-{run.workload}-seed{run.seed}.json"))
            run.cleanup()
    for name, (value, unit) in {**run.e2e, **run.info, **run.layers}.items():
        print(f"{name} {value:.6g} {unit}")
    print("meta " + json.dumps(run.meta))
    for f in run.failures:
        print("FAILED " + f, file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
