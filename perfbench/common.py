"""Shared helpers: checkout paths, summary statistics and the
per-kind aggregation every workload uses."""

from __future__ import annotations

import os
import statistics

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# Everything a run writes stays under this directory of the checkout.
WORK_DIR = os.path.join(ROOT, ".perfbench_work")


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). Below 21 samples that
    percentile would not reach the median, so the maximum stands in
    and the percentile reads 100."""
    values = sorted(values)
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 21:
        return float(values[-1]), 100.0, n
    idx = n - 11  # ten samples lie beyond this one
    return float(values[idx]), round(100.0 * (idx + 1) / n, 1), n


def sum_of_kind_medians(samples: dict[str, list[float]]) -> float:
    """Cost of running every operation kind once, each at its median."""
    return float(sum(median(v) for v in samples.values() if v))



def data_dir(tiny: bool) -> str:
    """The testdata scale a run reads: sf0.1, or in tiny mode the sf0.01
    scale the parity tests use. Both sit beside the package's default
    test scale."""
    from amplab_hive_spark.testing import DEFAULT_SF_DIR

    root = os.path.dirname(DEFAULT_SF_DIR.rstrip("/"))
    return os.path.join(root, "sf0.01" if tiny else "sf0.1")
