"""Regenerate digests.json: the expected result digest of every
headline query, computed once by its DuckDB oracle.

    python3 perfbench/make_digests.py

Run from the root of the repository. It takes a few minutes at sf0.1
(the dedup_minhash_lsh oracle alone runs for over a minute), which is
why the benchmark compares against stored digests instead of running
the oracles on every run.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

from analytic import DIGESTS, headline_specs
from common import ROOT, data_dir


def oracle_digest(con, sql: str) -> str:
    from amplab_hive_spark.testing import duckdb_rows

    cols, rows = duckdb_rows(con, sql)
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def main() -> int:
    sys.path.insert(0, ROOT)
    from amplab_hive_spark.testing import duckdb_connection

    out = {}
    for tiny in (False, True):
        sf_dir = data_dir(tiny)
        con = duckdb_connection(sf_dir)
        digests = {}
        for spec in headline_specs():
            t0 = time.perf_counter()
            digests[spec.name] = oracle_digest(con, spec.oracle)
            print(f"{os.path.basename(sf_dir)} {spec.name} "
                  f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
        con.close()
        out[os.path.basename(sf_dir)] = digests
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
