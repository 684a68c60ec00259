"""Metadata-only DELETE: a data file whose statistics prove that every live
row matches the WHERE retires in the catalog alone (no scan, no Spark job,
no delete file).  Files the statistics cannot prove, and inlined rows, go
through the scan and positional delete files; both land in one snapshot."""

from __future__ import annotations

import glob

import duckdb
import pytest

from ducklakexl_spark.engine import DuckLakeSpark, sql_identifiers
from tests.test_commit_invariants import _count_py4j
from tests.test_lakehouse import _group_jobs, rows


@pytest.fixture()
def lake(spark, tmp_path):
    return DuckLakeSpark(
        spark=spark,
        data_path=str(tmp_path / "data"),
        local_catalog=str(tmp_path / "catalog"),
    )


def _files(lake, name):
    return lake.catalog.data_files(lake.catalog.table_id(name))


def _deletes(lake, name):
    return lake.catalog.delete_files(lake.catalog.table_id(name))


def _table_stats(lake, name):
    st = lake.catalog.tables["ducklake_table_stats"]
    row = st[st["table_id"] == lake.catalog.table_id(name)].iloc[0]
    return int(row["record_count"]), int(row["file_size_bytes"])


def _last_change(lake):
    ch = lake.catalog.tables["ducklake_snapshot_changes"]
    return ch.loc[ch["snapshot_id"].idxmax(), "changes_made"]


def _plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_delete_of_a_files_only_row_runs_no_job_and_no_py4j_call(
    lake, monkeypatch
):
    lake.sql("CREATE TABLE t(k BIGINT, v VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c')")
    lake.sql("INSERT INTO t VALUES (10,'x')")
    lake.sql("INSERT INTO t VALUES (11,'y')")
    lake.sql("DELETE FROM t WHERE k = 11")  # warm the path
    pre = lake.catalog.current_snapshot
    files = _files(lake, "t")
    gone = files.iloc[-1]  # the k = 10 file
    records, nbytes = _table_stats(lake, "t")
    counter = _count_py4j(monkeypatch)
    trips = []

    def delete():
        counter["n"] = 0
        lake.sql("DELETE FROM t WHERE k = 10")
        trips.append(counter["n"])

    assert _group_jobs(lake.spark, "retire-one", delete) == []
    assert trips == [0]
    tid = lake.catalog.table_id("t")
    assert lake.catalog.current_snapshot == pre + 1
    assert _last_change(lake) == f"deleted_from_table:{tid}"
    assert _deletes(lake, "t").empty
    assert gone["data_file_id"] not in set(_files(lake, "t")["data_file_id"])
    assert _table_stats(lake, "t") == (
        records - 1, nbytes - int(gone["file_size_bytes"])
    )
    assert rows(lake.sql("SELECT k FROM t")) == [(1,), (2,), (3,)]
    assert rows(lake.sql(f"SELECT k FROM t AT (VERSION => {pre})")) == [
        (1,), (2,), (3,), (10,)
    ]


def test_delete_without_where_retires_every_file(lake, tmp_path):
    lake.sql("CREATE TABLE t(k INTEGER, v VARCHAR)")
    for i in range(3):
        lake.sql(f"INSERT INTO t VALUES ({i}, 'a'), ({i + 10}, 'b')")
    lake.sql("DELETE FROM t WHERE k = 1")  # a live delete file ends too
    assert len(_deletes(lake, "t")) == 1
    pre = lake.catalog.current_snapshot
    assert len(_files(lake, "t")) == 3
    jobs = _group_jobs(lake.spark, "delete-all", lambda: lake.sql("DELETE FROM t"))
    assert jobs == []
    assert lake.catalog.current_snapshot == pre + 1
    assert _files(lake, "t").empty and _deletes(lake, "t").empty
    assert len(glob.glob(str(tmp_path / "data" / "t" / "delete-*"))) == 1
    assert _table_stats(lake, "t") == (0, 0)
    assert rows(lake.sql("SELECT count(*) FROM t")) == [(0,)]
    assert len(rows(lake.sql(f"SELECT * FROM t AT (VERSION => {pre})"))) == 5


def test_returning_and_time_travel_see_retired_rows(lake):
    lake.sql("CREATE TABLE t(k INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1,'a'),(2,'b')")
    lake.sql("INSERT INTO t VALUES (10,'x')")
    lake.sql("INSERT INTO t VALUES (11,'y')")
    pre = lake.catalog.current_snapshot
    out = lake.sql("DELETE FROM t WHERE k >= 10 RETURNING k, v")
    assert rows(out) == [(10, "x"), (11, "y")]
    assert _deletes(lake, "t").empty
    assert rows(lake.sql("SELECT k FROM t")) == [(1,), (2,)]
    assert rows(lake.sql(f"SELECT k FROM t AT (VERSION => {pre})")) == [
        (1,), (2,), (10,), (11,)
    ]
    assert rows(lake.table_deletions("t", pre).select("k")) == [(10,), (11,)]


def test_rollback_restores_retired_files(lake):
    lake.sql("CREATE TABLE t(k INTEGER)")
    lake.sql("INSERT INTO t VALUES (1), (2)")
    lake.sql("INSERT INTO t VALUES (10)")
    files = set(_files(lake, "t")["data_file_id"])
    lake.sql("BEGIN TRANSACTION")
    lake.sql("DELETE FROM t WHERE k = 10")
    assert rows(lake.sql("SELECT k FROM t")) == [(1,), (2,)]
    lake.sql("ROLLBACK")
    assert set(_files(lake, "t")["data_file_id"]) == files
    assert rows(lake.sql("SELECT k FROM t")) == [(1,), (2,), (10,)]


def test_mixed_delete_commits_one_snapshot(lake):
    """Covered files retire, a partly hit file gets a delete file and
    inlined rows end, all in one snapshot."""
    lake.sql("CREATE TABLE t(k INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d')")
    lake.sql("INSERT INTO t VALUES (20,'x')")
    lake.sql("INSERT INTO t VALUES (21,'y'),(22,'z')")
    lake.sql("SET ducklake.data_inlining_row_limit = 10")
    lake.sql("INSERT INTO t VALUES (30,'i'), (2,'j')")
    tid = lake.catalog.table_id("t")
    assert len(lake.catalog.inlined_rows(tid)) == 2
    pre = lake.catalog.current_snapshot
    lake.sql("DELETE FROM t WHERE k >= 3")
    assert lake.catalog.current_snapshot == pre + 1
    assert _last_change(lake) == f"deleted_from_table:{tid}"
    assert len(_files(lake, "t")) == 1  # 20 and 21-22 retired
    dels = _deletes(lake, "t")
    assert len(dels) == 1 and int(dels.iloc[0]["delete_count"]) == 2
    assert list(lake.catalog.inlined_rows(tid)["row_id"].map(int)) == [
        int(r) for r in lake.catalog.inlined_rows(tid, pre)["row_id"]
    ][1:]
    assert _table_stats(lake, "t")[0] == 3
    assert rows(lake.sql("SELECT k, v FROM t")) == [
        (1, "a"), (2, "b"), (2, "j")
    ]
    assert len(rows(lake.sql(f"SELECT k FROM t AT (VERSION => {pre})"))) == 9


def test_update_of_a_whole_file_retires_it(lake):
    lake.sql("CREATE TABLE t(k INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1,'a'),(2,'b')")
    lake.sql("INSERT INTO t VALUES (10,'x')")
    lake.sql("UPDATE t SET v = 'z' WHERE k = 10")
    assert _deletes(lake, "t").empty
    assert rows(lake.sql("SELECT k, v FROM t")) == [
        (1, "a"), (2, "b"), (10, "z")
    ]


@pytest.mark.parametrize("ddl,insert,where,left", [
    # a NULL does not satisfy n = 3, whatever min/max say
    ("k INTEGER, n INTEGER", "(1, 3), (2, NULL)", "n = 3", [(2,)]),
    ("k INTEGER, f DOUBLE", "(1, 1.5), (2, 1.5)", "f = 1.5", []),
    ("k INTEGER, s VARCHAR", "(1, 'a'), (2, 'a')", "s = 'a'", []),
    ("k INTEGER", "(1), (2)", "k = 1 OR k = 2", []),
    ("k INTEGER, s VARCHAR", "(1, 'a'), (1, 'ab')", "k = 1 AND s LIKE 'a%'", []),
    # values float64 cannot tell apart
    ("k BIGINT", "(9007199254740993)", "k = 9007199254740992",
     [(9007199254740993,)]),
    ("k DECIMAL(20,2)", "(9007199254740993.00)", "k = 9007199254740992.00",
     [("9007199254740993.00",)]),
])
def test_coverage_is_refused_without_exact_proof(lake, ddl, insert, where, left):
    lake.sql(f"CREATE TABLE t({ddl})")
    lake.sql(f"INSERT INTO t VALUES {insert}")
    files = set(_files(lake, "t")["data_file_id"])
    lake.sql(f"DELETE FROM t WHERE {where}")
    # the file was not retired: it is live, with a delete file when a
    # row matched
    assert set(_files(lake, "t")["data_file_id"]) == files
    matched = insert.count("(") > len(left)
    assert len(_deletes(lake, "t")) == int(matched)
    got = rows(lake.sql("SELECT k FROM t"))
    assert [tuple(str(v) if ddl.startswith("k DEC") else v for v in r)
            for r in got] == left


def test_coverage_is_refused_for_a_column_added_after_the_file(lake):
    lake.sql("CREATE TABLE t(k INTEGER)")
    lake.sql("INSERT INTO t VALUES (1), (2)")
    lake.sql("ALTER TABLE t ADD COLUMN w INTEGER DEFAULT 7")
    lake.sql("INSERT INTO t VALUES (3, 7)")
    old = set(_files(lake, "t")["data_file_id"])
    lake.sql("DELETE FROM t WHERE w = 7")
    # the new file's stats prove w = 7; the old file has no w stats
    assert len(_files(lake, "t")) == 1
    assert len(_deletes(lake, "t")) == 1
    assert set(_files(lake, "t")["data_file_id"]) < old
    assert rows(lake.sql("SELECT * FROM t")) == []


def test_exact_bounds_beyond_float_precision(lake):
    """A file holding only 2^53 + 1 under ``> 2^53``: BIGINT stats
    compare as exact integers; DECIMAL stats go through float64, which
    ties at the bound, and only the exact compare keeps the file and
    proves it."""
    lake.sql("CREATE TABLE t(k BIGINT)")
    lake.sql("INSERT INTO t VALUES (NULL)")
    lake.sql("INSERT INTO t VALUES (9007199254740993)")
    lake.sql("DELETE FROM t WHERE k > 9007199254740992")
    assert _deletes(lake, "t").empty
    assert rows(lake.sql("SELECT k FROM t")) == [(None,)]
    lake.sql("CREATE TABLE d(x DECIMAL(20,2))")
    lake.sql("INSERT INTO d VALUES (1.00)")
    lake.sql("INSERT INTO d VALUES (9007199254740993.00)")
    lake.sql("DELETE FROM d WHERE x > 9007199254740992.00")
    assert _deletes(lake, "d").empty
    assert [str(r[0]) for r in rows(lake.sql("SELECT x FROM d"))] == ["1.00"]


def test_decimal_ranges_and_partition_values_retire_files(lake):
    lake.sql("CREATE TABLE t(g INTEGER, d DECIMAL(10,2))")
    lake.sql("ALTER TABLE t SET PARTITIONED BY (g)")
    lake.sql("INSERT INTO t VALUES (1, 1.25), (1, 2.50), (2, 7.75)")
    lake.sql("INSERT INTO t VALUES (3, 9.10), (3, 9.20)")
    assert len(_files(lake, "t")) == 3
    lake.sql("DELETE FROM t WHERE d >= 9.10")
    lake.sql("DELETE FROM t WHERE g = 1")
    assert _deletes(lake, "t").empty
    assert [(g, str(d)) for g, d in rows(lake.sql("SELECT g, d FROM t"))] == [
        (2, "7.75")
    ]
    # the partition value alone proves g = 2 when the file's g stats are
    # gone
    tid = lake.catalog.table_id("t")
    paths = list(_files(lake, "t")["path"])
    stats = lake.catalog.tables["ducklake_file_column_statistics"]
    gid = int(lake.catalog.columns(tid).iloc[0]["column_id"])
    lake.catalog.tables["ducklake_file_column_statistics"] = stats[
        stats["column_id"] != gid
    ]
    assert lake._file_matches(tid, None, paths, [("g", "=", 2)], prove=True) == (
        paths, paths
    )
    assert lake._file_matches(tid, None, paths, [("g", ">", 1)], prove=True)[1] == paths


def test_partition_values_compare_only_under_their_own_scheme(lake):
    """A file written under an earlier partition scheme numbers its keys
    after that scheme: its key 0 (a) must not prune or prove a predicate
    on the current key 0 (b)."""
    lake.sql("CREATE TABLE p(a INTEGER, b INTEGER)")
    lake.sql("ALTER TABLE p SET PARTITIONED BY (a)")
    lake.sql("INSERT INTO p VALUES (1, 5)")
    lake.sql("ALTER TABLE p SET PARTITIONED BY (b)")
    lake.sql("INSERT INTO p VALUES (2, 6)")
    assert rows(lake.sql("SELECT * FROM p WHERE b = 5")) == [(1, 5)]
    assert rows(lake.sql("SELECT * FROM p WHERE b = 1")) == []
    lake.sql("DELETE FROM p WHERE b = 1")
    assert rows(lake.sql("SELECT * FROM p")) == [(1, 5), (2, 6)]


def test_scan_frames_are_local_relations(lake):
    """The empty scan, the per-file begin-snapshot frame of a DEFAULT-added
    column and the inlined rows are built from arrow: no Python-rows RDD
    in the executed plan, and the same rows."""
    lake.sql("CREATE TABLE t(k INTEGER, v VARCHAR)")
    empty = lake.sql("SELECT * FROM t")
    assert "ExistingRDD" not in _plan(empty) and rows(empty) == []
    lake.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    skipped = lake.sql("SELECT * FROM t WHERE k = 99")
    assert "ExistingRDD" not in _plan(skipped) and rows(skipped) == []
    lake.sql("ALTER TABLE t ADD COLUMN w INTEGER DEFAULT 7")
    lake.sql("INSERT INTO t VALUES (3, 'c', 8)")
    point = lake.sql("SELECT * FROM t WHERE k = 1")
    assert "ExistingRDD" not in _plan(point)
    assert rows(point) == [(1, "a", 7)]
    lake.sql("SET ducklake.data_inlining_row_limit = 10")
    lake.sql("INSERT INTO t VALUES (4, 'd', 9), (5, NULL, NULL)")
    inl = lake.sql("SELECT * FROM t")
    assert "ExistingRDD" not in _plan(inl)
    assert rows(inl) == [
        (1, "a", 7), (2, "b", 7), (3, "c", 8), (4, "d", 9), (5, None, None)
    ]


def test_table_names_match_without_case(lake):
    con = duckdb.connect()
    for st in ("CREATE TABLE t(k INTEGER, v VARCHAR)",
               "INSERT INTO t VALUES (1, 'a'), (2, 'b')"):
        lake.sql(st)
        con.execute(st)
    q = "SELECT count(*) FROM T"
    assert rows(lake.sql(q)) == con.execute(q).fetchall() == [(2,)]
    lake.sql("SELECT * FROM t").collect()
    lake.sql("INSERT INTO t VALUES (3, 'c')")
    con.execute("INSERT INTO t VALUES (3, 'c')")
    for q in ("SELECT count(*) FROM T", "SELECT V FROM T WHERE K = 3"):
        assert rows(lake.sql(q)) == sorted(con.execute(q).fetchall()), q
    con.close()
    # the encrypted-scan column narrowing folds case too
    stmt = "SELECT V FROM T"
    assert lake._extract_scan_columns(stmt, sql_identifiers(stmt), "t") == ["v"]
