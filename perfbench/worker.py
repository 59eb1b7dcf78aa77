"""One workload run in its own process tree; ``run.py`` starts it,
samples its memory and prints the result."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager

from common import data_dir, sum_of_kind_medians
from spans import NullTracer, SparkCounts, Tracer


class _NoCounts:
    @contextmanager
    def group(self, group_id=None):
        yield {}


class Context:
    """What a workload needs from the harness: its inputs, the tracer
    and the per-layer sink."""

    def __init__(self, args) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.data_dir = data_dir(args.tiny)
        self.run_dir = args.run_dir
        self.tracer = Tracer() if self.traced else NullTracer()
        self.layer: dict[str, float] = {}
        self._kind_samples: dict[str, dict[str, list[float]]] = {}
        self.first_op_wall: float | None = None

    def first_op(self) -> None:
        """Marks the end of set-up: the first workload operation starts."""
        if self.first_op_wall is None:
            self.first_op_wall = time.time()

    def spark_counts(self, spark):
        return SparkCounts(spark) if self.traced else _NoCounts()

    def kind_sample(self, metric: str, kind: str, value: float) -> None:
        """One per-operation layer sample; the layer metric is the sum
        over operation kinds of the per-kind medians."""
        self._kind_samples.setdefault(metric, {}).setdefault(
            kind, []).append(value)

    def layer_from_spans(self, name: str, metric: str) -> None:
        secs = [r["end"] - r["start"] for r in self.tracer.spans
                if r["name"] == name]
        self.layer[metric] = sum(secs) / len(secs) if secs else 0.0

    def finish_layers(self) -> dict[str, float]:
        out = dict(self.layer)
        for metric, per_kind in self._kind_samples.items():
            out[metric] = sum_of_kind_medians(per_kind)
        return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import acid
    import analytic
    import served

    workload = {"analytic_suite": analytic, "served_mix": served,
                "acid_lifecycle": acid}[args.workload]
    ctx = Context(args)
    result = workload.run(ctx)
    result["first_op_wall"] = ctx.first_op_wall
    if ctx.traced:
        result["layer"] = ctx.finish_layers()
        path = os.path.join(args.run_dir, "spans.jsonl")
        ctx.tracer.dump(path)
        result["spans_file"] = path
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    # The JVM and Python workers go with this process's session; run.py
    # reaps them. Skipping interpreter teardown keeps exit prompt.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main())
