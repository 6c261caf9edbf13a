"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: stream_zipf_keys, batch (see
BENCHMARK.json and perfbench/README.md).  Inputs are generated from
``--seed`` before anything is timed; the program under test only sees the
generated files.  Every output is checked against a reference.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer metrics (spans are also written to ``.perfbench/traces/``).  The
line before it names the workload's own end-to-end figures with their units
and the error rate.  ``--size smoke`` shrinks every input for a quick check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

WORKLOADS = ("stream_zipf_keys", "batch")


def _module(workload: str):
    if workload == "stream_zipf_keys":
        from perfbench import stream as mod
    else:
        from perfbench import batch as mod
    return mod


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _overhead(results: str, workload: str, seed: int, traced: dict) -> float:
    """Traced over untraced median batch/operation latency, minus one, for
    the same workload and seed (0.0 until an untraced run has been made)."""
    try:
        with open(os.path.join(results, f"{workload}-seed{seed}-trace0.json")) as f:
            base = json.load(f)["latency_ms_p50"]
    except (OSError, KeyError, ValueError):
        print("no untraced run of this workload and seed: overhead not known", file=sys.stderr)
        return 0.0
    return traced["latency_ms_p50"] / base - 1.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    spec = _spec()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    harness.prepare_env(work)
    load_1m = os.getloadavg()[0]
    print(f"load average at start: {load_1m:.2f}", file=sys.stderr)

    tracer = harness.Tracer(enabled=bool(args.trace))
    mod = _module(args.workload)
    t0, cpu0 = time.time(), harness.cpu_seconds(harness.process_tree())
    try:
        res = mod.run(args.workload, args.seed, args.seconds, tracer, work, args.size)
        pids = harness.process_tree()
        wall, cpu = time.time() - t0, harness.cpu_seconds(pids) - cpu0
        rss = harness.peak_rss_mb(pids)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    for note in res["notes"]:
        print(note, file=sys.stderr)
    error_rate = res["failed"] / res["attempted"]
    named = ", ".join(f"{k}={v:.4g} {u}" for k, (v, u) in res["named"].items())
    print(f"{args.workload}: {named}, error_rate={error_rate:.4g} ratio")

    if args.trace:
        layers = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
        layers.update(res["layers"])
        layers.update({
            "proc.peak_rss_mb": rss,
            "proc.cpu_s": cpu,
            "proc.cpu_util": cpu / (wall * harness.CPUS),
            "proc.loadavg_1m": load_1m,
            "trace.latency_ms_p50": res["e2e"]["latency_ms_p50"],
            "trace.overhead_share": _overhead(results, args.workload, args.seed, res["e2e"]),
        })
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.write(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"))
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json"), "w") as f:
            json.dump(res["e2e"], f)
        metrics = {
            m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]
        }
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
