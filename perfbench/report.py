"""Run every workload, untraced and then traced, and print the
end-to-end metrics of each by name with units, the workload-specific
ones included, and the tracing overhead.

    python3 perfbench/report.py [--seed N] [--seconds S] [--tiny]

The last line is one JSON object with the same content. Takes about
five minutes at sf0.1.
"""

from __future__ import annotations

import argparse
import json

from run import WORKLOADS, run_once

# Workload-specific metrics, read from the untraced verbose record:
# (name, unit, where in the record).
SPECIFIC = {
    "analytic_suite": [("suite_s", "s", "end_to_end"),
                       ("first_pass_s", "s", "end_to_end")],
    "served_mix": [("latency_p50_ms", "ms", "end_to_end"),
                   ("latency_tail_ms", "ms", "end_to_end"),
                   ("goodput_per_s", "1/s", "end_to_end")],
    "acid_lifecycle": [("write_p50_s", "s", "workload_metrics"),
                       ("write_tail_s", "s", "workload_metrics"),
                       ("read_p50_s", "s", "workload_metrics"),
                       ("compact_s", "s", "workload_metrics"),
                       ("space_amp", "ratio", "workload_metrics")],
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()
    report = {}
    for workload in WORKLOADS:
        line, verbose = run_once(workload, args.seed, args.seconds, 0,
                                 args.tiny)
        traced, _ = run_once(workload, args.seed, args.seconds, 1, args.tiny)
        e2e = verbose["end_to_end"]
        rows = [("setup_s", "s", e2e["setup_s"]),
                ("failed_ratio", "ratio",
                 line["failed"] / line["attempted"]),
                ("peak_rss_mb", "MB", e2e["peak_rss_mb"])]
        for name, unit, where in SPECIFIC[workload]:
            src = e2e if where == "end_to_end" else \
                verbose["detail"]["workload_metrics"]
            rows.append((name, unit, src[name]))
        tm = traced["metrics"]
        overhead = {
            "suite_s": tm["trace.suite_s"]["value"] - e2e["suite_s"],
            "latency_p50_ms": (tm["trace.latency_p50_ms"]["value"]
                               - e2e["latency_p50_ms"]),
        }
        print(f"{workload} (seed {args.seed}, {line['attempted']} operations)")
        for name, unit, value in rows:
            print(f"  {name:16s} {value:12.4f} {unit}")
        for name, value in overhead.items():
            print(f"  tracing overhead on {name}: {value:+.4f}")
        report[workload] = {
            "metrics": {n: {"value": v, "unit": u} for n, u, v in rows},
            "tracing_overhead": overhead,
            "correct": line["correct"] and traced["correct"],
        }
    print(json.dumps(report))
    return 0 if all(r["correct"] for r in report.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
