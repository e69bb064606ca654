"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_seeded --seed 1 --seconds 15 --trace 0

Runs one workload in a fresh interpreter and JVM (worker.py), samples the
resident memory of its whole process tree, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, plus the end-to-end metrics as measured with tracing on (the
tracing overhead is those minus the untraced runs' medians). The work of
a run is fixed (see workloads.py), so ``--seconds`` is accepted and not
used. Every file a run writes lives under ``.perfbench/`` in the
checkout; a run's own directory is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170.0
CORES = 4
DRIVER_MEM = "4g"     # a quarter of a 15 GB machine
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def _session_pids(sid: int) -> list:
    """Live (not zombie) processes of session ``sid``."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(pid)
    return pids


def _tree_rss(sid: int) -> int:
    """Resident bytes of every process in session ``sid``."""
    total = 0
    for pid in _session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_BYTES
        except OSError:
            continue
    return total


def _kill_session(sid: int):
    """SIGKILL every process of session ``sid`` and wait until none is
    left (the JVM and Python workers are not our children, so they are
    polled rather than waited for)."""
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while _session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.05)


def run_worker(workload: str, seed: int, trace: int,
               timeout: float) -> "dict | None":
    """One worker process; returns its result (plus peak_rss_mb), or None
    when it crashed or ran out of time."""
    work = os.path.join(BASE, f"run-{os.getpid()}-{time.time_ns()}")
    tmp, local, events = (os.path.join(work, d)
                          for d in ("tmp", "local", "events"))
    for d in (tmp, local, events):
        os.makedirs(d)
    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # keep the JVM's scratch files (and hsperfdata) out of /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": events,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=tmp,
               SPARK_LOCAL_DIRS=local, DISCO_SPARK_EXTRA=json.dumps(extra),
               SPARK_GRAFT_CPUS=str(CORES), SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--trace", str(trace),
           "--work-dir", work,
           "--event-log", events, "--out", out]
    log = open(os.path.join(BASE, f"worker-{workload}-{trace}.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                            stderr=subprocess.STDOUT, start_new_session=True)
    peak, t_end, res = 0, time.monotonic() + timeout, None
    try:
        while proc.poll() is None and time.monotonic() < t_end:
            peak = max(peak, _tree_rss(proc.pid))
            time.sleep(0.2)
        _kill_session(proc.pid)
        if proc.wait() == 0 and os.path.exists(out):
            with open(out) as f:
                res = json.load(f)
            res["peak_rss_mb"] = peak / 2**20
    finally:
        _kill_session(proc.pid)
        proc.wait()
        log.close()
        shutil.rmtree(work, ignore_errors=True)
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.CHECKS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its worker (see run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if not os.path.isfile(os.path.join(ROOT, "disco_crawl_spark",
                                       "__init__.py")):
        print("perfbench: disco_crawl_spark is not in this checkout",
              file=sys.stderr)
        return 2
    os.makedirs(BASE, exist_ok=True)
    spec = load_spec()
    res = run_worker(a.workload, a.seed, a.trace, DEADLINE_S)
    if res is None:
        # every check the run would have made counts as failed
        n = wl.CHECKS[a.workload]
        print(json.dumps({"correct": False, "attempted": n, "failed": n,
                          "metrics": {}}))
        return 1
    if a.trace:
        values = dict(res["per_layer"])
        values["process.peak_rss_mb"] = res["peak_rss_mb"]
        for k, v in res["end_to_end"].items():
            values[f"trace.{k}"] = v
        wanted = spec["per_layer"]
    else:
        values, wanted = res["end_to_end"], spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    failed, attempted = res["failed"], res["attempted"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def load_spec() -> dict:
    """BENCHMARK.json, the one place metric names and units are declared."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
