"""acid_lifecycle: writes beside reads on a transactional merge-on-read
(MOR) table, whose UPDATE and DELETE write delta files that readers
merge with the base until compaction folds them in.

The table holds the sf0.1 ``lineitem`` rows with ``l_orderkey <= 60000``.
Closed loop, one client, every statement through ``Engine.sql`` except
the one ``streaming.upsert.merge_upsert_batch`` call, which comes first
because MERGE on a table that already has MOR deltas is refused. Then
seeded rounds of UPDATE, DELETE, two merged reads (a GROUP BY aggregate
and a key lookup) and the ``dedup_minhash_lsh`` registry query, a batch
read beside the writes that carries the Python/Arrow layer, with
``COMPACT 'minor'`` in the first warm round and every second round after
it; ``COMPACT 'major'`` ends the run. The number of rounds follows from
``seconds`` alone, never from elapsed time, so a faster engine does the
same work in less time.
A DuckDB mirror table takes the same writes, and every merged read is
compared with it on integer aggregates only, so summation order cannot
cause a false failure. The dedup result is compared with its stored
DuckDB-oracle digest.
"""

from __future__ import annotations

import os
import random
import time

from analytic import expected_digests, result_digest
from common import median, sum_of_kind_medians, tail
from spans import COUNT_KEYS, children, plan_shape, preparse_ms

TABLE = "perfbench_mor"
# (l_orderkey, l_linenumber) repeats in the testdata; these four do not.
KEYS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
COLUMNS = ", ".join(KEYS) + ", l_returnflag, l_quantity, v"
ORDERKEY_BOUND = 60000  # at sf0.1; scaled with the data
UPSERT_KEYS = 400  # order keys in the upsert batch, half of them new
# Warm rounds per second of --seconds: one round at 10 s. A round takes
# about 17 s on the 4-core host, so the run outlasts --seconds.
ROUNDS_PER_S = 0.1
MINOR_EVERY = 2
WRITE_VERBS = ("upsert", "update", "delete")
# Verbs that return rows; "dedup" is the registry query, not an ACID verb.
QUERY_VERBS = ("read_agg", "read_point", "dedup")
DEDUP = "dedup_minhash_lsh"
_UPSERT_QTY = "CAST(l_quantity AS BIGINT) + 7 AS l_quantity"
_UPSERT_V = "CAST(1000 AS BIGINT) AS v"
# A lifecycle operation slower than this counts as missing the limit.
LATENCY_LIMIT_S = 10.0


def _tree(path: str) -> dict[str, int]:
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _statement(verb: str, p: dict) -> str:
    if verb == "update":
        return (f"UPDATE {TABLE} SET v = v + {p['d']}, "
                f"l_quantity = l_quantity + {p['d']} "
                f"WHERE l_orderkey % 97 = {p['r']}")
    if verb == "delete":
        return (f"DELETE FROM {TABLE} WHERE l_orderkey % 101 = {p['r']} "
                f"AND l_linenumber <= 2")
    if verb == "read_agg":
        return (f"SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sq, "
                f"SUM(v) AS sv, SUM(l_linenumber) AS sl FROM {TABLE} "
                f"GROUP BY l_returnflag")
    if verb == "read_point":
        return f"SELECT {COLUMNS} FROM {TABLE} WHERE l_orderkey = {p['key']}"
    if verb in ("compact_minor", "compact_major"):
        return f"ALTER TABLE {TABLE} COMPACT '{verb.split('_')[1]}'"
    raise ValueError(verb)


def _canon(rows) -> list[tuple]:
    return sorted(map(tuple, rows), key=repr)


def _install_spans(tracer) -> None:
    import amplab_hive_spark.acid as acid_mod
    import amplab_hive_spark.streaming.upsert as upsert_mod
    from amplab_hive_spark.engine import Engine
    from pyspark.sql import SparkSession

    tracer.wrap(Engine, "sql", "engine.sql")
    tracer.wrap(SparkSession, "sql", "spark.sql")
    for fn in ("update_mor", "delete_mor", "compact_mor"):
        tracer.wrap(acid_mod, fn, f"acid.{fn}")
    tracer.wrap(upsert_mod, "merge_into", "ddl.merge_into")
    tracer.wrap(upsert_mod, "merge_upsert_batch",
                "streaming.merge_upsert_batch")


def run(ctx) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    from amplab_hive_spark.catalog import load_tables
    from amplab_hive_spark.engine import Engine
    from amplab_hive_spark.registry import all_queries
    from amplab_hive_spark.session import get_spark

    tr = ctx.tracer
    if ctx.traced:
        _install_spans(tr)
    import amplab_hive_spark.streaming.upsert as upsert_mod

    lineitem = os.path.join(ctx.data_dir, "lineitem.parquet")
    n_orders = pq.ParquetFile(
        os.path.join(ctx.data_dir, "orders.parquet")).metadata.num_rows
    bound = ORDERKEY_BOUND * n_orders // 150_000
    loc = os.path.join(ctx.run_dir, "tables", TABLE)

    with tr.span("session.get_spark"):
        spark = get_spark("perfbench-acid")
    with tr.span("catalog.attach"):
        load_tables(spark, ctx.data_dir)
    engine = Engine(spark)
    dedup = all_queries()[DEDUP]
    dedup_digest = expected_digests(ctx.data_dir)[DEDUP]
    engine.sql(
        f"CREATE TABLE {TABLE} (l_orderkey BIGINT, l_linenumber INT, "
        f"l_partkey BIGINT, l_suppkey BIGINT, l_returnflag STRING, "
        f"l_quantity BIGINT, v BIGINT) USING parquet "
        f"LOCATION '{loc}' TBLPROPERTIES ('transactional'='true', "
        f"'merge_keys'='{','.join(KEYS)}')")
    source = (f"SELECT {', '.join(KEYS)}, l_returnflag, "
              f"CAST(l_quantity AS BIGINT) AS l_quantity, CAST(0 AS BIGINT) "
              f"AS v FROM {{}} WHERE l_orderkey <= {bound}")
    engine.sql(f"INSERT INTO {TABLE} " + source.format("lineitem"))
    mirror = duckdb.connect()
    mirror.execute(f"CREATE TABLE {TABLE} AS "
                   + source.format(f"read_parquet('{lineitem}')"))
    counts = ctx.spark_counts(spark)
    rng = random.Random(ctx.seed)

    samples: dict[str, list[float]] = {}  # warm seconds per verb
    writes: list[float] = []  # every phase
    wrong: list[str] = []
    attempted = 0

    def op(verb: str, phase: str, p: dict | None = None) -> float:
        nonlocal attempted
        attempted += 1
        p = p or {}
        before = _tree(loc) if ctx.traced else {}
        with tr.span("acid.op", op=tr.new_op(), verb=verb,
                     phase=phase) as rec, counts.group() as c:
            t0 = time.perf_counter()
            if verb == "upsert":
                batch = spark.table("lineitem").filter(
                    f"l_orderkey BETWEEN {p['lo']} AND {p['hi']}"
                ).selectExpr(*KEYS, "l_returnflag", _UPSERT_QTY, _UPSERT_V)
                upsert_mod.merge_upsert_batch(spark, TABLE, batch, KEYS, ["v"])
                df = rows = None
            else:
                if verb == "dedup":
                    with tr.span("registry.build"):
                        df = dedup.fn(spark, ctx.data_dir)
                else:
                    df = engine.sql(_statement(verb, p))
                t_built = time.perf_counter()
                rows = df.collect()
            dt = time.perf_counter() - t0
        if ctx.traced:
            rec.update(c)
            if verb != "dedup":
                ctx.kind_sample(f"acid.{verb}_s", verb, dt)
                ctx.kind_sample(f"acid.{verb}_jobs", verb, c["jobs"])
            if verb not in QUERY_VERBS:
                after = _tree(loc)
                new = [f for f, size in after.items()
                       if before.get(f) != size and f.endswith(".parquet")]
                ctx.kind_sample(f"acid.{verb}_delta_files", verb, len(new))
                ctx.kind_sample(f"acid.{verb}_bytes_written", verb,
                                sum(after[f] for f in new))
            if phase == "warm":
                for key in COUNT_KEYS:
                    ctx.kind_sample(key, verb, c[key])
                if verb in QUERY_VERBS:
                    ctx.kind_sample("query.build_s", verb, t_built - t0)
                    ctx.kind_sample("query.collect_s", verb,
                                    dt - (t_built - t0))
                    for key, val in plan_shape(df).items():
                        ctx.kind_sample(key, verb, val)
        _check(verb, p, df, rows)
        if phase == "warm":
            samples.setdefault(verb, []).append(dt)
        if verb in WRITE_VERBS:
            writes.append(dt)
        return dt

    def _check(verb: str, p: dict, df, rows) -> None:
        if verb == "dedup":
            if result_digest(df.columns, rows) != dedup_digest:
                wrong.append(f"{DEDUP}: result digest differs")
        elif verb == "upsert":
            mirror.execute(
                f"DELETE FROM {TABLE} WHERE l_orderkey BETWEEN {p['lo']} "
                f"AND {p['hi']}")
            mirror.execute(
                f"INSERT INTO {TABLE} SELECT {', '.join(KEYS)}, l_returnflag, "
                f"{_UPSERT_QTY}, {_UPSERT_V} "
                f"FROM read_parquet('{lineitem}') WHERE l_orderkey "
                f"BETWEEN {p['lo']} AND {p['hi']}")
        elif verb in ("update", "delete"):
            mirror.execute(_statement(verb, p))
        elif verb.startswith("read"):
            want = mirror.execute(_statement(verb, p)).fetchall()
            got, want = _canon(rows), _canon(want)
            if got != want:
                diff = [(g, w) for g, w in zip(got, want) if g != w]
                wrong.append(f"{verb}:{p}: rows {len(got)} vs {len(want)}, "
                             f"first diff {diff[:1]}"[:300])

    def round_params() -> dict:
        r = rng.randrange(97)
        return {"update": {"r": r, "d": rng.randrange(1, 10)},
                "delete": {"r": rng.randrange(101)},
                "read_point": {"key": 97 * rng.randrange(bound // 97) + r}}

    def lifecycle_round(phase: str, minor: bool = False) -> None:
        p = round_params()
        op("update", phase, p["update"])
        op("delete", phase, p["delete"])
        op("read_agg", phase)
        op("read_point", phase, p["read_point"])
        op("dedup", phase)
        if minor:
            op("compact_minor", phase)
            op("read_agg", phase)

    lo = bound - UPSERT_KEYS // 2 + rng.randrange(-50, 50)
    ctx.first_op()
    cold_start = time.perf_counter()
    # The batch replaces the rows of its window that exist (v=1000 wins
    # over v=0) and inserts the rest.
    op("upsert", "cold", {"lo": lo, "hi": lo + UPSERT_KEYS - 1})
    lifecycle_round("cold")
    first_pass_s = time.perf_counter() - cold_start

    warm_start = time.perf_counter()
    rounds = max(1, round(ctx.seconds * ROUNDS_PER_S))
    for r in range(rounds):
        lifecycle_round("warm", minor=r % MINOR_EVERY == 0)
    bytes_before = sum(_tree(loc).values())
    op("compact_major", "warm")
    bytes_after = sum(_tree(loc).values())
    op("read_agg", "warm")
    warm_s = time.perf_counter() - warm_start
    mirror.close()

    warm_all = [x for v in samples.values() for x in v]
    tail_v, tail_pct, n = tail(warm_all)
    w_tail, w_pct, w_n = tail(writes)
    lifecycle = {
        "write_p50_s": median(writes), "write_tail_s": w_tail,
        "write_tail_percentile": w_pct, "write_samples": w_n,
        "read_p50_s": median(samples.get("read_agg", [])
                             + samples.get("read_point", [])),
        "compact_s": median(samples.get("compact_minor", []) or [0.0])
        + samples["compact_major"][0],
        "space_amp": bytes_before / bytes_after,
    }
    if ctx.traced:
        ctx.layer_from_spans("session.get_spark", "session.get_spark_s")
        ctx.layer_from_spans("catalog.attach", "catalog.attach_s")
        ctx.layer["acid.space_amp"] = lifecycle["space_amp"]
        ctx.layer["trace.suite_s"] = sum_of_kind_medians(samples)
        ctx.layer["trace.latency_p50_ms"] = median(warm_all) * 1e3
        _preparse(ctx)
    in_limit = sum(1 for x in warm_all if x <= LATENCY_LIMIT_S)
    return {
        "attempted": attempted,
        "failed": len(wrong),
        "wrong": wrong,
        "e2e": {
            "first_pass_s": first_pass_s,
            "suite_s": sum_of_kind_medians(samples),
            "latency_p50_ms": median(warm_all) * 1e3,
            "latency_tail_ms": tail_v * 1e3,
            "goodput_per_s": max(0, in_limit - len(wrong)) / warm_s,
        },
        "detail": {
            "rounds": rounds,
            "latency_tail_percentile": tail_pct,
            "latency_samples": n,
            "workload_metrics": lifecycle,
            "compactions": len(samples.get("compact_minor", [])) + 1,
            "verb_p50_s": {k: median(v) for k, v in samples.items()},
        },
    }


def _preparse(ctx) -> None:
    """engine.preparse_ms on the warm merged reads."""
    spans = ctx.tracer.spans
    kids = children(spans)
    for rec in spans:
        if rec["name"] != "acid.op" or rec.get("phase") != "warm" \
                or not rec["verb"].startswith("read"):
            continue
        for e in kids.get(rec["id"], []):
            if e["name"] == "engine.sql":
                ctx.kind_sample("engine.preparse_ms", rec["verb"],
                                preparse_ms(e, kids))
