"""Driver-side statement results are JVM LocalRelations.

SET echoes, UPDATE/DELETE/MERGE/COMPACT counts, SHOW listings and
``dfs`` output are built by ``session.local_result``: rows already in
driver memory, so ``isLocal()`` is true and ``collect()`` runs no Spark
job — the engine's analogue of the reference answering simple
statements in FetchTask without a job. These tests pin each verb's
result schema (as it was on the row path, so a bigint count stays
bigint), its rows, and zero jobs; and that the TCLI front pages such a
result from a job-free collect with the usual FETCH_NEXT contract.
"""

import os
import uuid

import pytest

from amplab_hive_spark import acid
from amplab_hive_spark import authorization as az
from amplab_hive_spark.engine import Engine
from amplab_hive_spark.session import local_result
from amplab_hive_spark.tcli import TCLIFront, _Operation


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; (result, jobs it ran)."""
    sc = spark.sparkContext
    group = f"local-results-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "local results test")
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_local(spark, df, schema: str, rows: list) -> None:
    assert df.schema.simpleString() == schema
    assert df.isLocal()
    got, jobs = _jobs_of(spark, df.collect)
    assert [tuple(r) for r in got] == rows
    assert jobs == 0


@pytest.fixture()
def eng(spark):
    return Engine(spark)


@pytest.fixture()
def mor(spark, tmp_path):
    name = "local_results_mor"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (k INT, v INT) USING parquet "
        f"LOCATION '{tmp_path}/{name}' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    spark.sql(f"INSERT INTO {name} VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
    yield name
    acid.unpublish_mor_views(spark, [name])
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_row_path_control_runs_jobs(spark):
    """The counter is not vacuous: a parallelized Python list (the
    path local_result replaces) is not local and runs a job."""
    df = spark.createDataFrame([(1,)], "n bigint")
    assert not df.isLocal()
    assert _jobs_of(spark, df.collect)[1] >= 1


def test_local_result_types_nulls_and_empty(spark):
    _assert_local(
        spark,
        local_result(spark, [("a", None, True, 2.5, 7), (None, 3, False, None, None)],
                     "s string, n bigint, b boolean, d double, i int"),
        "struct<s:string,n:bigint,b:boolean,d:double,i:int>",
        [("a", None, True, 2.5, 7), (None, 3, False, None, None)],
    )
    _assert_local(spark, local_result(spark, [], "n bigint, s string"),
                  "struct<n:bigint,s:string>", [])


def test_set_hivevar(spark, eng):
    _assert_local(spark, eng.sql("SET hivevar:lr_x=41"),
                  "struct<key:string,value:string>", [("hivevar:lr_x", "41")])
    _assert_local(spark, eng.sql("SET hivevar:lr_x"),
                  "struct<key:string,value:string>", [("hivevar:lr_x", "41")])


def test_update_delete_compact(spark, eng, mor):
    _assert_local(spark, eng.sql(f"UPDATE {mor} SET v = v + 1 WHERE k <= 2"),
                  "struct<updated:bigint>", [(2,)])
    _assert_local(spark, eng.sql(f"DELETE FROM {mor} WHERE k = 4"),
                  "struct<deleted:bigint>", [(1,)])
    # UPDATE's delete and insert halves plus DELETE's flat file
    _assert_local(spark, eng.sql(f"ALTER TABLE {mor} COMPACT 'minor'"),
                  "struct<compacted_deltas:bigint>", [(3,)])
    assert sorted(tuple(r) for r in eng.sql(f"SELECT k, v FROM {mor}").collect()) \
        == [(1, 11), (2, 21), (3, 30)]


def test_merge(spark, eng, tmp_path):
    name = "local_results_merge"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"CREATE TABLE {name} (k INT, v INT) USING parquet "
              f"LOCATION '{tmp_path}/{name}'")
    spark.sql(f"INSERT INTO {name} VALUES (1, 10), (2, 20)")
    try:
        _assert_local(
            spark,
            eng.sql(f"MERGE INTO {name} t USING (SELECT 2 AS k, 0 AS v "
                    f"UNION ALL SELECT 5, 50) s ON t.k = s.k "
                    f"WHEN MATCHED THEN UPDATE SET v = s.v "
                    f"WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)"),
            "struct<updated:bigint,deleted:bigint,inserted:bigint>",
            [(1, 0, 1)],
        )
        assert sorted(tuple(r) for r in spark.table(name).collect()) == \
            [(1, 10), (2, 0), (5, 50)]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_show_roles(spark, eng):
    path = az._store_path(spark)
    if os.path.exists(path):
        os.remove(path)
    try:
        _assert_local(spark, eng.sql("SHOW ROLES"), "struct<role:string>",
                      [("admin",), ("public",)])
    finally:
        if os.path.exists(path):
            os.remove(path)


def test_dfs_ls(spark, eng, tmp_path):
    (tmp_path / "one.txt").write_text("x")
    df = eng.sql(f"dfs -ls {tmp_path}")
    assert df.schema.simpleString() == "struct<DFS Output:string>"
    assert df.isLocal()
    rows, jobs = _jobs_of(spark, df.collect)
    assert jobs == 0
    assert rows[0][0] == "Found 1 items"
    assert len(rows) == 2 and rows[1][0].endswith(f"{tmp_path}/one.txt")


# -- TCLI front: FetchResults over a local result -----------------------


def _fields(resp: list) -> dict:
    return {fid: value for fid, _, value in resp}


def _handle(struct_fields: list) -> dict:
    ident = _fields(struct_fields)[1]  # THandleIdentifier
    return {1: _fields(ident)}


@pytest.fixture()
def tcli_session(spark):
    front = TCLIFront(spark)
    resp = _fields(front._dispatch("OpenSession", {1: {1: 9, 2: b"tester"}}))
    sess = _handle(resp[3])
    yield front, sess
    front._dispatch("CloseSession", {1: {1: sess}})


def _execute(front, sess, sql: str) -> dict:
    resp = _fields(front._dispatch("ExecuteStatement", {1: {1: sess, 2: sql}}))
    assert _fields(resp[1])[1] == 0, resp  # TStatus SUCCESS
    return _handle(resp[2])


def _fetch(front, op, n: int) -> tuple[bool, int, int]:
    """(has_more, rows in the batch, Spark jobs run so far by fetches of
    ``op``): jobs land in the op's own group when FetchResults tags
    one, else in the test's group around the call."""
    spark = front.spark
    raw, untagged = _jobs_of(spark, lambda: front._dispatch(
        "FetchResults", {1: {1: op, 3: n}}))
    resp = _fields(raw)
    assert _fields(resp[1])[1] == 0, resp
    first_col = _fields(resp[3])[3][1][0]  # TRowSet.columns[0]
    n_rows = len(_fields(first_col[0][2])[1][1])  # its value list
    group = TCLIFront._job_group(op[1][1])
    tagged = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    return resp[2], n_rows, tagged + untagged


def test_tcli_fetch_of_set_hivevar_runs_no_job(tcli_session):
    front, sess = tcli_session
    op = _execute(front, sess, "SET hivevar:lr_tcli=1")
    assert _fetch(front, op, 1000) == (False, 1, 0)
    # control: a non-local result pages through toLocalIterator's jobs
    op = _execute(front, sess, "SELECT id FROM range(3)")
    has_more, n_rows, jobs = _fetch(front, op, 1000)
    assert (has_more, n_rows) == (False, 3) and jobs >= 1


def test_tcli_pages_local_result_and_cancel_close(spark, tcli_session):
    front, sess = tcli_session
    session = front.sessions[sess[1][1]]
    guid, secret = uuid.uuid4().bytes, uuid.uuid4().bytes
    df = local_result(spark, [(i,) for i in range(2500)], "i bigint")
    session.operations[guid] = _Operation(df, secret=secret)
    op = {1: {1: guid, 2: secret}}
    pages = [_fetch(front, op, 1000) for _ in range(3)]
    assert pages == [(True, 1000, 0), (True, 1000, 0), (False, 500, 0)]
    cancel = _fields(front._dispatch("CancelOperation", {1: {1: op}}))
    assert _fields(cancel[1])[1] == 0
    assert _fetch(front, op, 1000)[:2] == (False, 0)  # canceled: no rows
    close = _fields(front._dispatch("CloseOperation", {1: {1: op}}))
    assert _fields(close[1])[1] == 0
    assert guid not in session.operations
