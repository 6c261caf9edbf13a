"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads stream_zipf_keys,batch --seeds 1-10

Runs ``run.py`` once per (workload, seed), one run at a time, with
BENCHMARK.json's ``run_seconds`` and tracing off, and prints for every
end-to-end metric the median, the quartiles (``statistics.quantiles(n=4)``)
and the inter-quartile range as a share of the median, next to the metric's
bound.  ``--out`` also writes every run's metrics as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out")
    args = ap.parse_args()

    runs, worst = {}, 0.0
    for workload in args.workloads.split(","):
        rows = []
        for seed in _seeds(args.seeds):
            cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                return 1
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            rows.append({"seed": seed, "wall_s": time.time() - t0, "failed": out["failed"],
                         **{k: v["value"] for k, v in out["metrics"].items()}})
            print(workload, rows[-1], flush=True)
        runs[workload] = rows
        walls = [r["wall_s"] for r in rows]
        print(f"{workload}: run wall time median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for m in spec["end_to_end"]:
            xs = [r[m["name"]] for r in rows]
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            share = (q3 - q1) / q2
            if m["name"] != "setup_s":
                worst = max(worst, share / m["bound"])
            print(f"  {m['name']:16} median {q2:12.4f} {m['unit']:6} quartiles {q1:.4f}..{q3:.4f}"
                  f"  spread {share:.3f}  bound {m['bound']}")
    print(f"largest spread as a share of its bound (setup_s excluded): {worst:.2f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
