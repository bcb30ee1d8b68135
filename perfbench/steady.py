"""Steadiness check: run workloads repeatedly on one commit and report each
metric's median, quartiles and spread against its bound.

    python3 perfbench/steady.py --workload drain_wire --runs 5 --seconds 10
    python3 perfbench/steady.py --runs 10              # the workloads in BENCHMARK.json

Each run is ``perfbench/run.py`` with a different seed (``--first-seed``
upward); its output is kept in ``.perfbench_work/steady/``.  The spread is
``(q3 - q1) / median`` with the quartiles of
``statistics.quantiles(values, n=4)``; the bound is the metric's ``bound``
in ``BENCHMARK.json``.  A spread above a third of its bound is flagged, as
the benchmark aims to stay below it.
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
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    t = time.time()
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=240, check=False
    )
    log = os.path.join(ROOT, ".perfbench_work", "steady", f"{workload}-s{seed}-t{trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        fh.write(proc.stdout)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "metrics": {}, "error": proc.stderr[-2000:]}
    result["exit"] = proc.returncode
    result["wall_s"] = time.time() - t
    return result


def summarize(name: str, values: list[float], bound: float | None) -> str:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    spread = (q3 - q1) / med if med else float("inf")
    verdict = ""
    if bound is not None:
        verdict = "ok" if spread <= bound / 3 else ("within bound" if spread <= bound else "WIDE")
        verdict = f"bound {bound:.3f} {verdict}"
    return (
        f"  {name:32s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
        f"spread {spread:7.4f}  {verdict}"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description="steadiness of the benchmark")
    ap.add_argument("--workload", action="append", help="repeatable; default: all")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    bad = 0
    for w in workloads:
        results = []
        for k in range(args.runs):
            r = run_once(w, args.first_seed + k, seconds, args.trace)
            results.append(r)
            vals = {m: round(v["value"], 4) for m, v in r["metrics"].items()}
            print(
                f"{w} seed {args.first_seed + k}: exit {r['exit']} correct {r['correct']} "
                f"wall {r['wall_s']:.1f}s {vals}",
                flush=True,
            )
            if r["exit"] != 0 or not r["correct"]:
                bad += 1
                print(r.get("error", ""), file=sys.stderr)
        print(f"{w}: {len(results)} runs")
        names = sorted({m for r in results for m in r["metrics"]})
        for name in names:
            values = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
            print(summarize(name, values, bounds.get(name) if not args.trace else None))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
