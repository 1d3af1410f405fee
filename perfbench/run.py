"""Repository benchmark launcher.

    python3 perfbench/run.py --workload store_sql --seed 1 --seconds 20 --trace 0

Runs one workload of `perfbench.workloads` in a child process with
`local[nproc]` Spark, then prints human-readable lines and, as the last
line of stdout, one JSON object: correct / attempted / failed / metrics.
With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json;
with `--trace 1` Spark's event log is switched on for that run and the
metrics are the per-layer ones (the spans and job attribution are written
to `.perfbench_out/`).

The launcher owns everything around the program: the worker import path,
temporary directories inside the checkout, the contention probe before and
after the workload, the peak resident memory of the child's process tree,
and stopping that tree.  It exits non-zero, printing no result, when the
child fails (for example when the package is not importable).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("store_sql", "ingest_scan")
# the whole run must end within 180 s: child, then up to 15 s of stopping
# its process tree and the two probes
CHILD_TIMEOUT_S = 150.0
DRIVER_MEM = "1g"


def contention_probe(floor: list) -> tuple[float, float]:
    """(best seconds, factor) of a fixed pure-CPU numpy probe: best of
    three bincounts over 50M bytes.  The factor divides by the lowest
    probe this launcher has seen, clamped to [0.10, 0.45] s, so it reads
    1.0 on a quiet host and grows with contention."""
    import numpy as np
    a = np.zeros(50_000_000, dtype=np.uint8)
    times = []
    for _ in range(3):
        t = time.perf_counter()
        np.bincount(a, minlength=256)
        times.append(time.perf_counter() - t)
    best = min(times)
    floor[0] = best if floor[0] is None else min(floor[0], best)
    return best, best / min(max(floor[0], 0.10), 0.45)


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def _rss(pids) -> tuple[int, int, int]:
    """(driver RSS bytes, Python worker RSS bytes, Python worker process
    count): the driver side is the benchmark process and its JVM, the
    workers are Spark's `pyspark.daemon` and the processes it forks."""
    page = os.sysconf("SC_PAGE_SIZE")
    driver = workers = n_workers = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{p}/cmdline", "rb") as f:
                is_worker = b"pyspark.daemon" in f.read()
        except OSError:
            continue  # exited while sampling
        if is_worker:
            workers += rss
            n_workers += 1
        else:
            driver += rss
    return driver, workers, n_workers


class RssSampler(threading.Thread):
    """Peak RSS of one session (the benchmark process, its JVM, the Python
    daemon and workers), sampled every 200 ms (a /proc scan costs ~3 ms,
    so this keeps the sampler near 1-2% of one core).  The driver side
    (benchmark process and JVM) is kept apart from the Python daemon and
    workers so a change in either shows on its own."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.driver_peak = self.tree_peak = self.workers_peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            driver, workers, n = _rss(_session_pids(self.sid))
            self.driver_peak = max(self.driver_peak, driver)
            self.tree_peak = max(self.tree_peak, driver + workers)
            self.workers_peak = max(self.workers_peak, n)
            self._stop_evt.wait(0.2)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=5)


def stop_session(sid: int) -> None:
    """TERM, then KILL, every process left in the session; return once
    none is left."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        pids = _session_pids(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while _session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)
    if _session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def child_env(run_dir: Path, trace: bool) -> dict:
    env = dict(os.environ)
    # Spark's Python workers import the package (mapInArrow encode,
    # applyInArrow decode): put the checkout on their path
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    env["TMPDIR"] = str(run_dir / "tmp")
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    args = ["--driver-java-options",
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
            "--conf", f"spark.sql.warehouse.dir={run_dir / 'warehouse'}"]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{run_dir / 'events'}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return env


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    floor = [None]
    probe_before = contention_probe(floor)
    run_dir = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events", "warehouse"):
        (run_dir / sub).mkdir(parents=True)
    if args.trace:
        out_dir.mkdir(exist_ok=True)
    result_path = run_dir / "result.json"
    trace_path = out_dir / f"trace-{args.workload}-seed{args.seed}.json"
    cmd = [sys.executable, "-m", "perfbench.workloads",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(run_dir), "--result", str(result_path),
           "--trace-out", str(trace_path)]
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=child_env(run_dir, args.trace),
                                start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.stop()
            stop_session(proc.pid)
            proc.wait()
        if code != 0:
            print(f"perfbench: workload process "
                  f"{'timed out' if code is None else f'exited {code}'}",
                  file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    probe_after = contention_probe(floor)

    driver_mb, tree_mb = sampler.driver_peak / 1e6, sampler.tree_peak / 1e6
    print(f"[perfbench] driver_peak_rss_mb = {driver_mb:.1f} MB")
    print(f"[perfbench] peak_rss_mb = {tree_mb:.1f} MB (with "
          f"{sampler.workers_peak} Python worker processes at most)")
    print(f"[perfbench] contention probe before {probe_before[0]:.4f} s "
          f"(x{probe_before[1]:.2f}), after {probe_after[0]:.4f} s "
          f"(x{probe_after[1]:.2f})")
    frac = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    print(f"[perfbench] ops_failed_frac = {frac:.4f} "
          f"({res['failed']} of {res['attempted']})")
    for line in res["failures"]:
        print(f"[perfbench] FAILED {line}")
    if args.trace:
        from perfbench.layers import PER_LAYER
        metrics = dict(res["layer"])
        metrics["host.probe_before_s"] = probe_before[0]
        metrics["host.probe_after_s"] = probe_after[0]
        metrics["host.driver_peak_rss_mb"] = driver_mb
        metrics["host.tree_peak_rss_mb"] = tree_mb
        metrics["host.python_procs_peak"] = sampler.workers_peak
        units = {name: unit for name, unit, _ in PER_LAYER}
        print(f"[perfbench] trace written to {trace_path.relative_to(ROOT)}")
    else:
        from perfbench.layers import END_TO_END
        metrics = dict(res["e2e"])
        units = dict(END_TO_END)
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
