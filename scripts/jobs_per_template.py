"""Per-operation Spark job table of one traced perfbench run.

    python3 scripts/jobs_per_template.py .perfbench_out/trace-store_sql-seed7.json

Reads the trace a `perfbench/run.py --trace 1` run writes and prints one
line per operation: its template (store_sql, where the statement stream
runs every template once per round in `perfbench.inputs.TEMPLATES` order)
or its kind (ingest_scan), wall time, Spark jobs and tasks, driver gap
(wall time no stage was running) and the longest job.  A last block gives
the median wall and jobs per template or kind.  It only reads the file.
"""

from __future__ import annotations

import json
import os
import sys
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _op_spans(trace: dict) -> dict[int, set[int]]:
    """op span id -> ids of every span under it (itself included)."""
    by_id = {sp["id"]: sp for sp in trace["spans"]}
    out: dict[int, set[int]] = {}
    for sp in trace["spans"]:
        root = sp
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        if root["name"] == "op":
            out.setdefault(root["id"], set()).add(sp["id"])
    return out


def rows(trace: dict) -> list[dict]:
    from perfbench.inputs import TEMPLATES
    subtree = _op_spans(trace)
    jobs = list(trace["jobs"].values())
    out = []
    for op in trace["ops"]:
        ids = subtree.get(op["span"], set())
        mine = [j for j in jobs if j.get("span") in ids]
        longest = max((j["end"] - j["submit"] for j in mine), default=0.0)
        name = (TEMPLATES[op["id"] % len(TEMPLATES)]
                if trace["workload"] == "store_sql" else op["kind"])
        out.append({"op": op["id"], "name": name, "kind": op["kind"],
                    "wall_s": op["wall_s"], "jobs": len(mine),
                    "tasks": op.get("tasks", 0),
                    "driver_gap_s": op.get("driver_gap_s", 0.0),
                    "longest_job_s": longest})
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        trace = json.load(f)
    table = rows(trace)
    print(f"{trace['workload']} seed {trace['seed']}, {trace['cores']} cores")
    print(f"{'op':>3} {'template/kind':<14} {'path':<9} {'wall_s':>7} "
          f"{'jobs':>4} {'tasks':>5} {'gap_s':>6} {'longest_s':>9}")
    for r in table:
        print(f"{r['op']:>3} {r['name']:<14} {r['kind']:<9} "
              f"{r['wall_s']:>7.3f} {r['jobs']:>4} {r['tasks']:>5} "
              f"{r['driver_gap_s']:>6.3f} {r['longest_job_s']:>9.3f}")
    print()
    print(f"{'template/kind':<14} {'n':>3} {'p50_wall_s':>10} {'p50_jobs':>8}")
    for name in dict.fromkeys(r["name"] for r in table):
        xs = [r for r in table if r["name"] == name]
        print(f"{name:<14} {len(xs):>3} "
              f"{median(r['wall_s'] for r in xs):>10.3f} "
              f"{median(r['jobs'] for r in xs):>8g}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
