"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (``analytic_suite``, ``served_mix``, ``acid_lifecycle``)
in a child process tree of its own, samples that tree's resident
memory from /proc, stops every process of the tree when the run ends
and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the ``end_to_end`` metrics of BENCHMARK.json, with
``--trace 1`` its ``per_layer`` metrics; the line before it is a
verbose record. ``--tiny`` runs on the small parity-test scale (used by
``selftest.py``). NOTES.md explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

from common import BENCH_DIR, ROOT, WORK_DIR

WORKLOADS = ("analytic_suite", "served_mix", "acid_lifecycle")
RUN_TIMEOUT_S = 150.0


def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # field 6 of stat: session id
            pids.append(int(name))
    return pids


def _resident_bytes(pids: list[int]) -> int:
    """Resident memory of the processes with shared pages counted once:
    the sum of their proportional set sizes. Summed RSS would count the
    pages a forked Python worker shares with its parent twice."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class _PeakRss(threading.Thread):
    """Samples the resident memory of one session's processes twice a
    second (reading a JVM's smaps_rollup costs about 12 ms)."""

    def __init__(self, sid: int) -> None:
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self.halt = threading.Event()

    def run(self) -> None:
        while not self.halt.is_set():
            self.peak = max(self.peak,
                            _resident_bytes(_session_pids(self.sid)))
            self.halt.wait(0.5)


def _reap(sid: int) -> None:
    """TERM, then KILL, every process of the session; return once none
    is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            pids = _session_pids(sid)
            if not pids:
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
    if _session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload: str, seed: int, seconds: float, trace: int,
             tiny: bool = False) -> tuple[dict, dict]:
    """One run: (result line, verbose record). Raises on failure."""
    start_wall = time.time()
    specs = _metric_specs()
    if not os.path.isdir(os.path.join(ROOT, "amplab_hive_spark")):
        raise RuntimeError("amplab_hive_spark is not in this checkout")
    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cpus),
        # A fixed JVM heap keeps runs comparable. The package default
        # (8g) is sized for long test-suite sessions; sf0.1 runs need far
        # less, and with 8g the heap's growth made resident memory swing
        # by a third between runs.
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # No hsperfdata file in the system temp directory either.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    out_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [sys.executable, os.path.join(BENCH_DIR, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--run-dir", run_dir, "--out", out_path]
    if tiny:
        cmd.append("--tiny")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
    sampler = _PeakRss(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _reap(proc.pid)
        proc.wait()
        sampler.halt.set()
        sampler.join()
    try:
        if code != 0 or not os.path.exists(out_path):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise RuntimeError(f"{workload} worker ended with code {code}")
        with open(out_path) as fh:
            res = json.load(fh)
        if res.get("spans_file"):
            os.makedirs(os.path.join(WORK_DIR, "traces"), exist_ok=True)
            kept = os.path.join(WORK_DIR, "traces",
                                f"{workload}-seed{seed}.jsonl")
            shutil.move(res["spans_file"], kept)
            res["spans_file"] = os.path.relpath(kept, ROOT)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = dict(res["e2e"])
    e2e["setup_s"] = res["first_op_wall"] - start_wall
    e2e["peak_rss_mb"] = sampler.peak / 2**20
    values = e2e if not trace else res["layer"]
    wanted = specs["per_layer" if trace else "end_to_end"]
    # A layer the workload never enters did no work there: 0.
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    line = {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}
    verbose = {"workload": workload, "seed": seed, "seconds": seconds,
               "trace": trace, "cpus": cpus, "end_to_end": e2e,
               **{k: res[k] for k in ("detail", "wrong", "spans_file")
                  if k in res}}
    return line, verbose


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)
    try:
        line, verbose = run_once(args.workload, args.seed, args.seconds,
                                 args.trace, args.tiny)
    except (OSError, RuntimeError, KeyError, ValueError) as exc:
        print(f"perfbench: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(verbose))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
