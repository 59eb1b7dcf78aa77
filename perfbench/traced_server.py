"""The TCLIService front with spans around its layers, for the traced
served_mix run:

    python3 perfbench/traced_server.py SPANS.jsonl --serve-tcli [cli args]

It wraps the layer entry points from outside the package (session
build, catalog attach, ExecuteStatement, FetchResults, Engine.sql,
SparkSession.sql, the variables layer), then runs the package CLI
unchanged. On SIGTERM it writes the spans as JSONL and exits.
"""

from __future__ import annotations

import functools
import os
import signal
import sys

from served import kind_of
from spans import SparkCounts, Tracer


def _op_guid(handle: dict) -> str:
    # TOperationHandle field 1 is a THandleIdentifier whose field 1 is
    # the guid.
    return handle.get(1, {}).get(1, b"").hex()


def install(tracer: Tracer) -> None:
    import amplab_hive_spark.session as session
    from amplab_hive_spark.engine import Engine
    from amplab_hive_spark.tcli import TCLIFront
    from amplab_hive_spark.variables import VariableRegistry
    from pyspark.sql import SparkSession

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(Engine, "attach", "catalog.attach")
    tracer.wrap(Engine, "sql", "engine.sql")
    tracer.wrap(SparkSession, "sql", "spark.sql")
    tracer.wrap(VariableRegistry, "substitute", "variables.substitute")
    tracer.wrap(VariableRegistry, "handle_set", "variables.handle_set")

    made: list[SparkCounts] = []  # built on first use, on the front's session
    seen: dict[str, set] = {}  # job ids already counted, per operation

    def counts(front) -> SparkCounts:
        if not made:
            made.append(SparkCounts(front.spark))
        return made[0]

    execute = TCLIFront._rpc_ExecuteStatement
    fetch = TCLIFront._rpc_FetchResults

    @functools.wraps(execute)
    def traced_execute(self, req):
        stmt = req.get(2, b"")
        stmt = stmt.decode("utf-8") if isinstance(stmt, bytes) else stmt
        with tracer.span("tcli.execute", kind=kind_of(stmt)) as rec, \
                counts(self).group() as c:
            resp = execute(self, req)
        rec.update(c)
        for fid, _, handle in resp:
            if fid == 2:  # TOperationHandle: [(1, struct, [(1, str, guid), ..
                rec["guid"] = handle[0][2][0][2].hex()
        return resp

    @functools.wraps(fetch)
    def traced_fetch(self, req):
        guid = _op_guid(req.get(1, {}))
        with tracer.span("tcli.fetch_results", guid=guid) as rec:
            resp = fetch(self, req)
        # FetchResults tags its Spark jobs with the operation's group.
        group = TCLIFront._job_group(bytes.fromhex(guid))
        rec.update(counts(self).read(group, seen.setdefault(guid, set())))
        return resp

    TCLIFront._rpc_ExecuteStatement = traced_execute
    TCLIFront._rpc_FetchResults = traced_fetch


def main() -> int:
    spans_path, cli_args = sys.argv[1], sys.argv[2:]
    tracer = Tracer()
    install(tracer)

    def stop(signum, frame):
        tracer.dump(spans_path)
        sys.stdout.flush()
        os._exit(0)

    signal.signal(signal.SIGTERM, stop)
    from amplab_hive_spark.cli import main as cli_main

    return cli_main(cli_args)


if __name__ == "__main__":
    raise SystemExit(main())
