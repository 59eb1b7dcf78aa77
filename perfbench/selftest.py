"""Self-test of the benchmark on the small parity-test scale.

    python3 perfbench/selftest.py

For every workload it makes one untraced and one traced run and checks
that each BENCHMARK.json metric is emitted with its unit, that every
end-to-end value is a positive number, that the outputs were correct,
and that the traced run wrote spans for every layer the workload
enters, with Spark job counts on its operations. It also checks that
the benchmark fails, printing no result, in a directory that holds only
BENCHMARK.json and the benchmark. Takes about six minutes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

from common import BENCH_DIR, ROOT, WORK_DIR
from run import WORKLOADS, run_once

# Span names each workload's trace must hold; "server" spans come from
# the traced TCLI front.
LAYER_SPANS = {
    "analytic_suite": {"session.get_spark", "catalog.attach", "query",
                       "registry.build", "query.collect"},
    "served_mix": {"front.start", "loadgen.op", "tcli.statement",
                   "server:session.get_spark", "server:catalog.attach",
                   "server:tcli.execute", "server:tcli.fetch_results",
                   "server:engine.sql", "server:spark.sql",
                   "server:variables.substitute",
                   "server:variables.handle_set"},
    "acid_lifecycle": {"session.get_spark", "catalog.attach", "acid.op",
                       "registry.build", "engine.sql",
                       "spark.sql", "acid.update_mor", "acid.delete_mor",
                       "acid.compact_mor", "streaming.merge_upsert_batch",
                       "ddl.merge_into"},
}
# The span that carries one operation's Spark counts.
OP_SPAN = {"analytic_suite": "query",
           "served_mix": "server:tcli.fetch_results",
           "acid_lifecycle": "acid.op"}


def _check_line(line: dict, specs: list[dict], positive: bool) -> list[str]:
    errors = []
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(line)}")
    if line.get("correct") is not True or line.get("failed") != 0:
        errors.append(f"outputs not correct: {line.get('failed')} failed")
    if not isinstance(line.get("attempted"), int) or line["attempted"] < 1:
        errors.append(f"attempted {line.get('attempted')!r}")
    metrics = line.get("metrics", {})
    if set(metrics) != {m["name"] for m in specs}:
        errors.append(f"metric names differ: {sorted(metrics)}")
    for m in specs:
        got = metrics.get(m["name"], {})
        value = got.get("value")
        if got.get("unit") != m["unit"]:
            errors.append(f"{m['name']}: unit {got.get('unit')!r}")
        if not isinstance(value, float) or not math.isfinite(value):
            errors.append(f"{m['name']}: value {value!r}")
        elif positive and value <= 0:
            errors.append(f"{m['name']}: value {value} is not positive")
    return errors


def _check_spans(workload: str, path: str) -> list[str]:
    with open(os.path.join(ROOT, path)) as fh:
        spans = [json.loads(line) for line in fh]
    names = {("server:" if s.get("process") == "server" else "") + s["name"]
             for s in spans}
    errors = [f"no {n} span" for n in sorted(LAYER_SPANS[workload] - names)]
    op_spans = [s for s in spans if ("server:" if s.get("process") == "server"
                                     else "") + s["name"] == OP_SPAN[workload]]
    if not any(s.get("jobs", 0) > 0 for s in op_spans):
        errors.append(f"no Spark job counts on {OP_SPAN[workload]} spans")
    return errors


def _check_refuses_bare_checkout() -> list[str]:
    bare = os.path.join(WORK_DIR, "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return ["a checkout without the package did not fail cleanly"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = [f"bare checkout: {e}" for e in _check_refuses_bare_checkout()]
    for workload in WORKLOADS:
        for trace in (0, 1):
            line, verbose = run_once(workload, seed=1, seconds=2,
                                     trace=trace, tiny=True)
            specs = spec["per_layer" if trace else "end_to_end"]
            errors = _check_line(line, specs, positive=not trace)
            if trace:
                errors += _check_spans(workload, verbose["spans_file"])
            failures += [f"{workload} trace={trace}: {e}" for e in errors]
            print(f"{workload} trace={trace}: "
                  f"{'ok' if not errors else 'FAILED'}", flush=True)
    for f in failures:
        print(f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
