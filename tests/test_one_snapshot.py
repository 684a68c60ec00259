"""One snapshot per statement: every change a statement makes lands in
the snapshot its first change opens, the statement commits that snapshot
once, with one ``changes_made`` row listing every change, and saves the
store once.  A read opens nothing and saves nothing."""

from __future__ import annotations

import pytest

from ducklakexl_spark.catalog.store import CatalogStore
from ducklakexl_spark.engine import DuckLakeSpark
from ducklakexl_spark.sync import sync as sync_mod
from tests.test_lakehouse import rows


@pytest.fixture()
def lake(spark, tmp_path):
    return DuckLakeSpark(
        spark=spark,
        excel_file=str(tmp_path / "wb.csvdir"),
        data_path=str(tmp_path / "data"),
        local_catalog=str(tmp_path / "catalog"),
    )


@pytest.fixture()
def calls(monkeypatch):
    """Counts of CatalogStore.save and push_serialize calls."""
    n = {"save": 0, "serialize": 0}
    real_save, real_ser = CatalogStore.save, sync_mod.push_serialize

    def save(*a, **k):
        n["save"] += 1
        return real_save(*a, **k)

    def ser(*a, **k):
        n["serialize"] += 1
        return real_ser(*a, **k)

    monkeypatch.setattr(CatalogStore, "save", save)
    monkeypatch.setattr(sync_mod, "push_serialize", ser)
    return n


def _last_changes(lake) -> str:
    ch = lake.catalog.tables["ducklake_snapshot_changes"]
    return ch.loc[ch["snapshot_id"].idxmax(), "changes_made"]


def test_each_statement_commits_one_snapshot(lake, calls):
    lake.sql("CREATE TABLE t(id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)")
    lake.sql("CREATE SEQUENCE sq START 1")
    lake.sql("CREATE TABLE s(id INTEGER, v VARCHAR)")
    lake.sql("CREATE TABLE src(id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO src VALUES (3, 300), (9, 900)")
    cat = lake.catalog

    def tid(name):
        return cat.table_id(name)

    def both(name):
        return f"deleted_from_table:{tid(name)},inserted_into_table:{tid(name)}"

    def inline():
        lake.sql("SET ducklake.data_inlining_row_limit = 10")
        lake.sql("INSERT INTO t VALUES (4, 40)")
        lake.sql("SET ducklake.data_inlining_row_limit = 0")
        assert not cat.inlined_rows(tid("t")).empty

    merge = (
        "MERGE INTO t USING src ON t.id = src.id "
        "WHEN MATCHED THEN UPDATE SET v = src.v + t.v "
        "WHEN NOT MATCHED THEN INSERT VALUES (src.id, src.v)"
    )
    cases = [
        ("UPDATE t SET v = v + 1 WHERE id = 1", None, lambda: both("t")),
        (
            "CREATE TABLE c AS SELECT * FROM t",
            None,
            lambda: f'created_table:"c",inserted_into_table:{tid("c")}',
        ),
        (
            "CREATE TABLE p(id INTEGER PRIMARY KEY, v INTEGER CHECK (v > 0))",
            None,
            lambda: f'created_table:"p",set_tag:{tid("p")}:checks,'
            f'set_tag:{tid("p")}:primary_key',
        ),
        (
            "CREATE TABLE g(a INTEGER, v INTEGER, b AS (v * 2))",
            None,
            lambda: f'created_table:"g",set_tag:{tid("g")}:generated:b',
        ),
        (
            "INSERT INTO s VALUES (nextval('sq'), 'a'), (nextval('sq'), 'b')",
            None,
            lambda: f"set_tag:0:sequence:sq,inserted_into_table:{tid('s')}",
        ),
        (merge, inline, lambda: both("t")),  # flushes the inlined row first
        (merge, None, lambda: both("t")),
        ("flush_inlined", inline, lambda: both("t")),
        (
            "compact",
            None,
            lambda: f"compacted_table:{tid('t')},inserted_into_table:{tid('t')}",
        ),
        ("BEGIN; UPDATE t SET v = 0 WHERE id = 1; COMMIT", None, lambda: both("t")),
    ]
    for stmt, prepare, want in cases:
        if prepare:
            prepare()
        before, saves = cat.current_snapshot, calls["save"]
        if stmt == "flush_inlined":
            assert lake.flush_inlined() == 1
        elif stmt == "compact":
            assert lake.compact("t")["compacted"]
        else:
            lake.sql(stmt)
        assert cat.current_snapshot == before + 1, stmt
        assert calls["save"] - saves == 1, stmt
        assert _last_changes(lake) == want(), stmt
    assert rows(lake.sql("SELECT * FROM t")) == [
        (1, 0), (2, 20), (3, 630), (4, 40), (4, 40), (9, 1800)
    ]
    assert rows(lake.sql("SELECT * FROM s")) == [(1, "a"), (2, "b")]

    # a point read neither serializes for the workbook nor saves
    before = dict(calls)
    assert rows(lake.sql("SELECT v FROM t WHERE id = 2")) == [(20,)]
    assert calls == before


def test_reads_inside_a_statement_see_its_own_changes(lake):
    """The open snapshot is the current one: a later change in the same
    statement acts on the rows an earlier one wrote."""
    lake.sql("CREATE TABLE t(id INTEGER, v INTEGER)")
    before = lake.catalog.current_snapshot
    with lake.catalog.statement():
        lake._execute("INSERT INTO t VALUES (1, 10), (2, 20)")
        lake._execute("DELETE FROM t WHERE id = 1")
        assert rows(lake.table_df("t")) == [(2, 20)]
    assert lake.catalog.current_snapshot == before + 1
    assert rows(lake.sql("SELECT * FROM t")) == [(2, 20)]
    assert rows(lake.sql(f"SELECT * FROM t AT (VERSION => {before})")) == []


def test_failed_statement_commits_nothing(lake, calls):
    lake.sql("CREATE TABLE t(id INTEGER NOT NULL, v INTEGER)")
    lake.sql("INSERT INTO t VALUES (1, 10)")
    before, saves = lake.catalog.current_snapshot, calls["save"]
    with pytest.raises(Exception):
        lake.sql("INSERT INTO t VALUES (2, 20), (NULL, 30)")
    with pytest.raises(ValueError, match="already exists"):
        lake.sql("CREATE TABLE t AS SELECT 1 AS id")
    assert lake.catalog.current_snapshot == before
    assert calls["save"] == saves
    assert rows(lake.sql("SELECT * FROM t")) == [(1, 10)]


def test_snapshot_time_is_the_commit_time(lake, monkeypatch):
    """A snapshot is stamped when its statement commits, not when its
    first change opens it, so ``AT (TIMESTAMP => t)`` for a t while the
    statement still ran reads the state before it."""
    from datetime import timedelta

    from ducklakexl_spark.catalog import catalog as catalog_mod

    base = catalog_mod._now() + timedelta(hours=1)
    tick = iter(range(1_000_000))
    monkeypatch.setattr(
        catalog_mod, "_now", lambda: base + timedelta(seconds=next(tick))
    )
    lake.sql("CREATE TABLE t(id INTEGER)")
    snaps = lake.catalog.snapshots
    with lake.catalog.statement():
        lake._execute("INSERT INTO t VALUES (1)")
        opened = snaps()["snapshot_time"].max()
        mid = catalog_mod._now()
        lake._execute("INSERT INTO t VALUES (2)")
    assert snaps()["snapshot_time"].max() > mid > opened
    assert rows(lake.sql(f"SELECT * FROM t AT (TIMESTAMP => '{mid}')")) == []
    assert rows(lake.sql("SELECT * FROM t")) == [(1,), (2,)]
