"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload ingest_mixed --seeds 1-10 --seconds 12

Runs ``perfbench/run.py`` once per seed, one after another, and prints a
JSON object: per metric the values, median, quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the quartile distance
as a share of the median, next to the metric's bound from BENCHMARK.json.
Per-op medians from each run's report line are summarized the same way.
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


def seeds_of(text: str) -> list:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    metrics, routes, walls, failures = {}, {}, [], []
    for seed in seeds_of(args.seeds):
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(args.trace)]
        t = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.perf_counter() - t)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            failures.append({"seed": seed, "exit": p.returncode,
                             "stderr": p.stderr[-2000:]})
            continue
        out, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
        if out["failed"]:
            failures.append({"seed": seed, "failed": out["failed"],
                             "ops": report["ops"]})
        for k, v in out["metrics"].items():
            metrics.setdefault(k, []).append(v["value"])
        for k, v in report["ops"].items():
            routes.setdefault(k, []).append(v["p50_ms"])
    summary = {
        "workload": args.workload, "seconds": seconds, "trace": args.trace,
        "run_wall_s": spread(walls) if len(walls) > 1 else walls,
        "metrics": {k: {**spread(v), "bound": bounds.get(k)}
                    for k, v in metrics.items() if len(v) > 1},
        "op_p50_ms": {k: spread(v) for k, v in routes.items() if len(v) > 1},
        "failures": failures,
    }
    print(json.dumps(summary, indent=1))
    return 1 if any("exit" in f for f in failures) else 0


if __name__ == "__main__":
    sys.exit(main())
