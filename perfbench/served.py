"""served_mix: statements served by the TCLIService front
(``python -m amplab_hive_spark.cli --serve-tcli``) in a process of its
own, driven by this module's minimal client.

Open loop: a seeded schedule offers ``RATE_PER_S`` operations per
second (jittered periodic arrivals, a balanced seeded shuffle of the
six kinds) over at most ``CONNECTIONS`` connections; each operation is
timed from the moment it was due, so a stall also charges the
operations queued behind it. Before the schedule, a cold pass runs
each kind once on every connection, the connections side by side, and
an untimed warm-up runs ``WARMUP_SETS`` more sets of the kinds the same
way, so the schedule meets a warmed front. The workload carries the
per-statement fixed costs: the Engine.sql pre-parse chain, analysis,
job scheduling, ``toLocalIterator`` result transfer and the front's
session and operation handling.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import re
import subprocess
import sys
import threading
import time

from common import BENCH_DIR, median, sum_of_kind_medians, tail
from tcli_client import Client, TCLIError

KINDS = ("select1", "point", "agg", "join", "range", "hivevar")
# Closed-loop capacity is about 6 statements/s on 3 connections
# (NOTES.md); the offered rate stays at a quarter of it, so host speed
# swings are little amplified by queueing.
RATE_PER_S = 1.5
# Operations in the schedule per second of --seconds: 24 at 10 s.
OPS_PER_S = 2.0
CONNECTIONS = 3
# Sets of the six kinds each connection runs, untimed, between the cold
# pass and the schedule. Without them statements in the first third of
# the schedule ran about 16% slower than in the last third (the front
# was still warming, as fast as the host's speed of the moment let it);
# with one set the difference is about 8%, with two about 1-11%. Two
# sets cost 4 s more per run than the run budget has to spare.
WARMUP_SETS = 1
LATENCY_LIMIT_MS = 3000.0
PAGE_ROWS = 1000
# Range fetch sizes, in rows at sf0.1.
RANGE_ROWS = (5000, 20000)
_SHIP_FIRST = dt.date(1995, 1, 2)

_ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"


def statements(kind: str, p: dict) -> list[str]:
    if kind == "select1":
        return ["SELECT 1"]
    if kind == "point":
        return [f"SELECT {_ORDER_COLS} FROM orders WHERE o_orderkey = {p['key']}"]
    if kind == "agg":
        return ["SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
                "SUM(l_linenumber) AS s FROM lineitem "
                f"WHERE l_shipdate >= DATE '{p['d0']}' "
                f"AND l_shipdate < DATE '{p['d1']}' "
                "GROUP BY l_returnflag, l_linestatus"]
    if kind == "join":
        return ["SELECT n.n_name, COUNT(*) AS n, SUM(c.c_custkey) AS s "
                "FROM customer c JOIN nation n "
                "ON c.c_nationkey = n.n_nationkey "
                f"WHERE n.n_regionkey = {p['region']} GROUP BY n.n_name"]
    if kind == "range":
        return [f"SELECT {_ORDER_COLS} FROM orders "
                f"WHERE o_orderkey BETWEEN {p['lo']} AND {p['hi']}"]
    if kind == "hivevar":
        return [f"SET hivevar:k={p['key']}",
                f"SELECT {_ORDER_COLS} FROM orders "
                "WHERE o_orderkey = ${hivevar:k}"]
    raise ValueError(kind)


def kind_of(sql: str) -> str:
    """Statement kind from its text (the traced server's view)."""
    s = sql.strip()
    if s.startswith("SET hivevar"):
        return "set"
    if "${hivevar:k}" in s:
        return "hivevar"
    if s == "SELECT 1":
        return "select1"
    for marker, kind in (("BETWEEN", "range"), ("JOIN nation", "join"),
                         ("FROM lineitem", "agg"), ("FROM orders", "point")):
        if marker in s:
            return kind
    return "other"


def _params(kind: str, rng: random.Random, n_orders: int, span: int) -> dict:
    if kind in ("point", "hivevar"):
        return {"key": rng.randrange(n_orders)}
    if kind == "agg":
        d0 = _SHIP_FIRST + dt.timedelta(days=rng.randrange(0, 2000))
        return {"d0": d0.isoformat(),
                "d1": (d0 + dt.timedelta(days=180)).isoformat()}
    if kind == "join":
        return {"region": rng.randrange(5)}
    if kind == "range":
        lo = rng.randrange(0, n_orders - span)
        return {"lo": lo, "hi": lo + span - 1}
    return {}


def schedule(seed: int, seconds: float, n_orders: int,
             connections: int) -> tuple[list, list, list]:
    """(cold pass per connection, warm-up per connection, open-loop
    operations); an operation is (due offset in s, kind, params)."""
    rng = random.Random(seed)
    scale = n_orders / 150_000
    lo_rows, hi_rows = (max(1, int(r * scale)) for r in RANGE_ROWS)
    mid = (lo_rows + hi_rows) // 2
    cold = [[(0.0, k, _params(k, rng, n_orders, mid)) for k in KINDS]
            for _ in range(connections)]
    warmup = [[(0.0, k, _params(k, rng, n_orders, mid))
               for _ in range(WARMUP_SETS) for k in KINDS]
              for _ in range(connections)]
    # Every kind equally often (the count rounded up to whole sets of
    # six), so the median's place in the mix does not move with the seed.
    n = len(KINDS) * max(1, math.ceil(OPS_PER_S * seconds / len(KINDS)))
    kinds = [KINDS[i % len(KINDS)] for i in range(n)]
    rng.shuffle(kinds)
    # Range sizes evenly cover the interval, so every seed fetches the
    # same total; only their order and keys change.
    n_range = kinds.count("range")
    spans = [lo_rows + (hi_rows - lo_rows) * i // max(1, n_range - 1)
             for i in range(n_range)]
    rng.shuffle(spans)
    ops = []
    for i, kind in enumerate(kinds):
        span = spans.pop() if kind == "range" else 0
        ops.append(((i + rng.random()) / RATE_PER_S, kind,
                    _params(kind, rng, n_orders, span)))
    return cold, warmup, ops


def _run_statement(client: Client, sql: str) -> tuple[list, float, float, int]:
    t0 = time.perf_counter()
    op = client.execute(sql)
    t1 = time.perf_counter()
    rows, calls = [], 0
    while True:
        batch, more = client.fetch(op, PAGE_ROWS)
        rows += batch
        calls += 1
        if not more:
            break
    t2 = time.perf_counter()
    client.close_operation(op)
    return rows, (t1 - t0) * 1e3, (t2 - t1) * 1e3, calls


def _start_server(ctx) -> tuple[subprocess.Popen, int, str | None]:
    spans = None
    args = ["--serve-tcli", "--port", "0", "--sf-dir", ctx.data_dir]
    if ctx.traced:
        spans = os.path.join(ctx.run_dir, "server-spans.jsonl")
        cmd = [sys.executable, os.path.join(BENCH_DIR, "traced_server.py"),
               spans, *args]
    else:
        cmd = [sys.executable, "-m", "amplab_hive_spark.cli", *args]
    log = open(os.path.join(ctx.run_dir, "server.log"), "w")
    with log:
        proc = subprocess.Popen(cmd, cwd=ctx.run_dir, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=log, text=True)
    line = proc.stdout.readline()
    m = re.search(r":(\d+)\s*$", line)
    if not m:
        proc.kill()
        proc.wait()
        raise RuntimeError(f"tcli front did not start: {line!r}")
    return proc, int(m.group(1)), spans


def _stop_server(proc: subprocess.Popen) -> None:
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    proc.stdout.close()


def run(ctx) -> dict:
    import pyarrow.parquet as pq

    tr = ctx.tracer
    n_orders = pq.ParquetFile(
        os.path.join(ctx.data_dir, "orders.parquet")).metadata.num_rows
    n_conn = max(1, min(CONNECTIONS, len(os.sched_getaffinity(0)) - 1))
    cold, warmup, ops = schedule(ctx.seed, ctx.seconds, n_orders, n_conn)

    with tr.span("front.start"):
        proc, port, server_spans = _start_server(ctx)
    try:
        clients: list = [None] * n_conn

        def connect(i: int) -> None:
            clients[i] = Client("127.0.0.1", port)

        threads = [threading.Thread(target=connect, args=(i,))
                   for i in range(n_conn)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if not all(clients):
            raise RuntimeError("a TCLI connection failed to open")
        results = _drive(ctx, clients, cold, warmup, ops)
        results["connections"] = n_conn
        for c in clients:
            c.close()
    finally:
        _stop_server(proc)
    return _summarise(ctx, results, server_spans)


def _drive(ctx, clients, cold, warmup, ops) -> dict:
    tr = ctx.tracer
    records: list[dict] = []

    def do(client, due_offset, kind, params, t_base, phase) -> None:
        due = t_base + due_offset
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        started = time.perf_counter()
        rec = {"kind": kind, "params": params, "phase": phase,
               "lag_ms": (started - due) * 1e3, "stmts": []}
        with tr.span("loadgen.op", op=tr.new_op(), kind=kind, phase=phase):
            try:
                for sql in statements(kind, params):
                    with tr.span("tcli.statement", stmt_kind=kind_of(sql)):
                        rows, ex, fe, calls = _run_statement(client, sql)
                    rec["stmts"].append({"kind": kind_of(sql), "rows": rows,
                                         "execute_ms": ex, "fetch_ms": fe,
                                         "fetch_calls": calls})
                rec["ok"] = True
            except (TCLIError, ConnectionError, OSError) as exc:
                rec["ok"] = False
                rec["error"] = f"{type(exc).__name__}: {exc}"
        rec["latency_ms"] = (time.perf_counter() - due) * 1e3
        records.append(rec)

    # Cold pass: every connection runs each kind once, all at once, so
    # no session pays a first-use cost inside the schedule. The warm-up
    # runs the same way.
    def closed_pass(per_connection, phase) -> None:
        def loop(client, pass_ops) -> None:
            for _, kind, params in pass_ops:
                do(client, 0.0, kind, params, time.perf_counter(), phase)

        threads = [threading.Thread(target=loop, args=(c, p))
                   for c, p in zip(clients, per_connection)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    ctx.first_op()
    cold_start = time.perf_counter()
    closed_pass(cold, "cold")
    first_pass_s = time.perf_counter() - cold_start
    closed_pass(warmup, "warmup")

    lock = threading.Lock()
    pending = iter(ops)
    t_base = time.perf_counter() + 0.05

    def connection_loop(client) -> None:
        while True:
            with lock:
                op = next(pending, None)
            if op is None:
                return
            do(client, op[0], op[1], op[2], t_base, "open")

    threads = [threading.Thread(target=connection_loop, args=(c,))
               for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"records": records, "first_pass_s": first_pass_s,
            "elapsed_s": time.perf_counter() - t_base}


def _expected(con, kind: str, params: dict) -> list[list]:
    out = []
    for sql in statements(kind, params):
        if sql.startswith("SET hivevar:k="):
            out.append([("hivevar:k", str(params["key"]))])
            continue
        sql = sql.replace("${hivevar:k}", str(params.get("key")))
        out.append(con.execute(sql).fetchall())
    return out


def _same(got: list, want: list) -> bool:
    """Equal as row multisets."""
    return sorted(map(tuple, got), key=repr) == sorted(map(tuple, want),
                                                       key=repr)


def _summarise(ctx, res: dict, server_spans: str | None) -> dict:
    from amplab_hive_spark.testing import duckdb_connection

    records = res["records"]
    con = duckdb_connection(ctx.data_dir)
    wrong = []
    for rec in records:
        if rec["ok"]:
            want = _expected(con, rec["kind"], rec["params"])
            got = [s["rows"] for s in rec["stmts"]]
            rec["ok"] = len(got) == len(want) and all(
                _same(g, w) for g, w in zip(got, want))
        if not rec["ok"]:
            wrong.append(f"{rec['phase']}:{rec['kind']}:"
                         f"{rec.get('error', 'wrong result')}"[:200])
    con.close()

    open_recs = [r for r in records if r["phase"] == "open"]
    lat = [r["latency_ms"] for r in open_recs]
    by_kind: dict[str, list[float]] = {}
    for r in open_recs:
        by_kind.setdefault(r["kind"], []).append(r["latency_ms"] / 1e3)
    good = sum(1 for r in open_recs
               if r["ok"] and r["latency_ms"] <= LATENCY_LIMIT_MS)
    tail_v, tail_pct, n = tail(lat)
    if ctx.traced:
        _layers(ctx, open_recs, server_spans, res["connections"])
        ctx.layer["trace.suite_s"] = sum_of_kind_medians(by_kind)
        ctx.layer["trace.latency_p50_ms"] = median(lat)
    return {
        "attempted": len(records),
        "failed": len(wrong),
        "wrong": wrong,
        "e2e": {
            "first_pass_s": res["first_pass_s"],
            "suite_s": sum_of_kind_medians(by_kind),
            "latency_p50_ms": median(lat),
            "latency_tail_ms": tail_v,
            "goodput_per_s": good / res["elapsed_s"],
        },
        "detail": {
            "offered_rate_per_s": RATE_PER_S,
            "connections": res["connections"],
            "latency_limit_ms": LATENCY_LIMIT_MS,
            "latency_tail_percentile": tail_pct,
            "latency_samples": n,
            "kind_p50_ms": {k: median(v) * 1e3 for k, v in by_kind.items()},
            "lag_max_ms": max((r["lag_ms"] for r in open_recs), default=0.0),
        },
    }


def _layers(ctx, open_recs: list[dict], server_spans: str,
            connections: int) -> None:
    """Client-side front costs per kind, generator lag, and the
    server-side layers read from the traced server's spans."""
    import json

    from spans import COUNT_KEYS, children, preparse_ms

    for r in open_recs:
        if not r["ok"]:
            continue
        k = r["kind"]
        ctx.kind_sample(f"tcli.execute_ms.{k}", k,
                        sum(s["execute_ms"] for s in r["stmts"]))
        ctx.kind_sample(f"tcli.fetch_ms.{k}", k,
                        sum(s["fetch_ms"] for s in r["stmts"]))
        ctx.kind_sample("tcli.fetch_calls", k,
                        sum(s["fetch_calls"] for s in r["stmts"]))
        for s in r["stmts"]:
            if s["kind"] == "set":
                ctx.kind_sample("stmt.set_ms", "set",
                                s["execute_ms"] + s["fetch_ms"])
    lags = [r["lag_ms"] for r in open_recs]
    ctx.layer["loadgen.lag_ms"] = median(lags)
    ctx.layer["loadgen.lag_max_ms"] = max(lags, default=0.0)

    with open(server_spans) as fh:
        spans = [json.loads(line) for line in fh]
    # Keep the server's spans in this run's trace, ids kept apart.
    for s in spans:
        s["id"] = f"server-{s['id']}"
        if s["parent"] is not None:
            s["parent"] = f"server-{s['parent']}"
        s["process"] = "server"
    ctx.tracer.spans.extend(spans)
    # The client starts no Spark session: these spans are the front's.
    ctx.layer_from_spans("session.get_spark", "session.get_spark_s")
    ctx.layer_from_spans("catalog.attach", "catalog.attach_s")
    kids = children(spans)

    def dur(s) -> float:
        return s["end"] - s["start"]

    fetches: dict = {}
    for s in spans:
        if s["name"] == "tcli.fetch_results":
            fetches.setdefault(s.get("guid"), []).append(s)
    executes = sorted((s for s in spans if s["name"] == "tcli.execute"),
                      key=lambda s: s["start"])
    # The cold pass and the warm-up ran first: one statement per kind,
    # two for hivevar, on each connection, once per set.
    n_before = (len(KINDS) + 1) * connections * (1 + WARMUP_SETS)
    for ex in executes[n_before:]:
        kind = ex["kind"]
        engine = [c for c in kids.get(ex["id"], [])
                  if c["name"] == "engine.sql"]
        if engine:
            e = engine[0]
            ctx.kind_sample("query.build_s", kind, dur(e))
            if kind != "set":
                ctx.kind_sample("engine.preparse_ms", kind,
                                preparse_ms(e, kids))
        fs = fetches.get(ex.get("guid"), [])
        ctx.kind_sample("query.collect_s", kind, sum(dur(f) for f in fs))
        for key in COUNT_KEYS:
            ctx.kind_sample(key, kind, ex.get(key, 0)
                            + sum(f.get(key, 0) for f in fs))
