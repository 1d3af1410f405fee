"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload store_sql --seeds 1 2 3 4 5 \
        [--trace 0] [--seconds 10] [--out FILE]

For every metric: the median, the quartiles from
`statistics.quantiles(values, n=4)`, and the spread (Q3 - Q1) as a share
of the median, beside the bound BENCHMARK.json fixes.  Also the wall time
of each run.  `--out` writes the same as JSON, with each run's result and
the human-readable lines it printed (contention probe included).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def summarize(runs: list[dict], bounds: dict) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                     else (vals[0],) * 3)
        out[name] = {"unit": runs[0]["metrics"][name]["unit"],
                     "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0,
                     "bound": bounds.get(name), "values": vals}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs, walls = [], []
    for seed in args.seeds:
        t = time.perf_counter()
        p = subprocess.run(spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True)
        walls.append(time.perf_counter() - t)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        res["seed"] = seed
        res["wall_s"] = walls[-1]
        res["lines"] = lines[:-1]  # per-op numbers, contention probe
        runs.append(res)
        print(f"seed {seed}: {walls[-1]:.1f} s wall, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
    stats = summarize(runs, bounds)
    print(f"{'metric':<28} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for name, s in stats.items():
        b = "" if s["bound"] is None else f"{s['bound']:.2f}"
        print(f"{name:<28} {s['median']:>12.4f} {s['q1']:>12.4f} "
              f"{s['q3']:>12.4f} {s['spread']:>7.3f} {b:>6}")
    print(f"run wall: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    if args.out:
        Path(args.out).write_text(json.dumps(
            {"workload": args.workload, "trace": args.trace,
             "seconds": seconds, "walls_s": walls, "metrics": stats,
             "runs": runs}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
