"""analytic_suite: the 11 headline registry queries (``bench=True``)
run through ``spec.fn(spark, sf_dir).collect()``.

Closed loop, one client: one cold pass in name order, then warm passes
in a seeded order, their number following from ``seconds`` alone (one
per ten seconds, at least one), never from elapsed time. The
workload never calls ``Engine.sql`` or a network front, so it carries
the Catalyst, executor, shuffle and Python/Arrow costs without the
per-statement fixed costs that served_mix measures.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

from common import BENCH_DIR, median, sum_of_kind_medians, tail
from spans import COUNT_KEYS, plan_shape

# A query slower than this counts as missing the latency limit.
LATENCY_LIMIT_S = 30.0
PASSES_PER_S = 0.1
DIGESTS = os.path.join(BENCH_DIR, "digests.json")


class _Collected:
    """Rows already collected, shaped for ``testing.spark_rows``."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def result_digest(columns, rows) -> str:
    """sha256 over the parity harness's canonical form of a result."""
    from amplab_hive_spark.testing import spark_rows

    cols, canon = spark_rows(_Collected(list(columns), rows))
    return hashlib.sha256(json.dumps([cols, canon]).encode()).hexdigest()


def expected_digests(data_dir: str) -> dict[str, str]:
    """Stored DuckDB-oracle digests of the headline queries at the scale
    of ``data_dir`` (``make_digests.py`` regenerates them)."""
    with open(DIGESTS) as fh:
        return json.load(fh)[os.path.basename(data_dir)]


def headline_specs():
    from amplab_hive_spark.registry import all_queries

    return sorted((s for s in all_queries().values() if s.bench),
                  key=lambda s: s.name)


def run(ctx) -> dict:
    from amplab_hive_spark.catalog import load_tables
    from amplab_hive_spark.session import get_spark

    tr = ctx.tracer
    with tr.span("session.get_spark"):
        spark = get_spark("perfbench-analytic")
    with tr.span("catalog.attach"):
        load_tables(spark, ctx.data_dir)
    specs = headline_specs()
    expected = expected_digests(ctx.data_dir)
    counts = ctx.spark_counts(spark)
    warm: dict[str, list[float]] = {s.name: [] for s in specs}
    wrong: list[str] = []

    def one(spec, phase: str) -> float:
        with tr.span("query", op=tr.new_op(), query=spec.name,
                     phase=phase) as q, counts.group() as c:
            t0 = time.perf_counter()
            with tr.span("registry.build"):
                df = spec.fn(spark, ctx.data_dir)
            t1 = time.perf_counter()
            with tr.span("query.collect"):
                rows = df.collect()
            t2 = time.perf_counter()
        if ctx.traced and phase == "warm":
            q.update(c)
            q.update(plan_shape(df))
            for key in (*COUNT_KEYS, "plan.exchanges", "plan.python_eval"):
                ctx.kind_sample(key, spec.name, q[key])
            ctx.kind_sample("query.build_s", spec.name, t1 - t0)
            ctx.kind_sample("query.collect_s", spec.name, t2 - t1)
        if result_digest(df.columns, rows) != expected[spec.name]:
            wrong.append(f"{phase}:{spec.name}")
        return t2 - t0

    ctx.first_op()
    cold_start = time.perf_counter()
    for spec in specs:
        one(spec, "cold")
    first_pass_s = time.perf_counter() - cold_start

    rng = random.Random(ctx.seed)
    warm_start = time.perf_counter()
    passes = max(1, round(ctx.seconds * PASSES_PER_S))
    for _ in range(passes):
        order = list(specs)
        rng.shuffle(order)
        for spec in order:
            warm[spec.name].append(one(spec, "warm"))
    warm_s = time.perf_counter() - warm_start

    samples = [x for v in warm.values() for x in v]
    warm_wrong = sum(1 for w in wrong if w.startswith("warm:"))
    in_limit = sum(1 for x in samples if x <= LATENCY_LIMIT_S) - warm_wrong
    tail_v, tail_pct, n = tail(samples)
    suite_s = sum_of_kind_medians(warm)
    if ctx.traced:
        ctx.layer_from_spans("session.get_spark", "session.get_spark_s")
        ctx.layer_from_spans("catalog.attach", "catalog.attach_s")
        ctx.layer["trace.suite_s"] = suite_s
        ctx.layer["trace.latency_p50_ms"] = median(samples) * 1e3
    return {
        "attempted": len(specs) + len(samples),
        "failed": len(wrong),
        "wrong": wrong,
        "e2e": {
            "first_pass_s": first_pass_s,
            "suite_s": suite_s,
            "latency_p50_ms": median(samples) * 1e3,
            "latency_tail_ms": tail_v * 1e3,
            "goodput_per_s": in_limit / warm_s,
        },
        "detail": {
            "warm_passes": passes,
            "latency_tail_percentile": tail_pct,
            "latency_samples": n,
            "warm_medians_s": {k: median(v) for k, v in warm.items()},
        },
    }
