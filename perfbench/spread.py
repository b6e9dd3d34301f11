"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve_mor --seeds 1-10 [--traced 1-3]

For every end-to-end metric it prints the median of the runs and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), the figure a metric's ``bound``
in BENCHMARK.json is held against. ``--traced`` adds traced runs and
reports the tracing overhead: the traced runs' median events/s against
the untraced median. Runs are made one after another, never in parallel.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    if not spec:
        return []
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(HERE),
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"seed {seed} failed (rc {out.returncode}):\n{out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    res["info"] = json.loads(lines[-2]) if len(lines) > 1 else {}
    return res


def spread(vals: list[float]) -> tuple[float, float]:
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", default="")
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs = []
    for s in seeds(args.seeds):
        r = run(args.workload, s, seconds, 0)
        runs.append(r)
        print(json.dumps({"seed": s, "wall_s": round(r["wall_s"], 1),
                          "correct": r["correct"], "attempted": r["attempted"],
                          "failed": r["failed"],
                          **{k: v["value"] for k, v in r["metrics"].items()}}),
              flush=True)
    if len(runs) >= 2:
        print(f"{'metric':24} {'median':>14} {'spread':>8} {'bound/3':>8}")
        for name in runs[0]["metrics"]:
            med, sp = spread([r["metrics"][name]["value"] for r in runs])
            b3 = bounds.get(name, float("nan")) / 3
            flag = "" if sp < b3 else "  <-- wide"
            print(f"{name:24} {med:14.6g} {sp:8.4f} {b3:8.4f}{flag}")
        print(f"run wall: median {statistics.median(r['wall_s'] for r in runs):.1f} s,"
              f" max {max(r['wall_s'] for r in runs):.1f} s")
    traced = [run(args.workload, s, seconds, 1) for s in seeds(args.traced)]
    if traced and runs:
        t = statistics.median(
            r["metrics"]["trace.ingest_events_per_s"]["value"] for r in traced)
        u = statistics.median(r["metrics"]["ingest_events_per_s"]["value"] for r in runs)
        print(f"tracing overhead: traced {t:.0f} ev/s vs untraced {u:.0f} ev/s"
              f" ({100 * (1 - t / u):+.1f}% slower, {len(traced)} traced runs)")
        print("per-layer (first traced run):")
        print(json.dumps({k: v["value"] for k, v in traced[0]["metrics"].items()}))


if __name__ == "__main__":
    main()
