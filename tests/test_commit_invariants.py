"""Change-only commits and pushes: after every statement the catalog store
and the workbook mirror hold exactly the in-memory catalog, although a
save writes only the tables that changed and a push serializes only those.
Also pins the driver↔JVM round-trip budget of a one-row INSERT and of a
point read."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from ducklakexl_spark.catalog.schemas import CATALOG_SCHEMAS, sheet_name
from ducklakexl_spark.catalog.store import MANIFEST, CatalogStore
from ducklakexl_spark.engine import DuckLakeSpark
from ducklakexl_spark.sync import sync as sync_mod
from ducklakexl_spark.sync.coercions import push_serialize


def _arrow(table, frame):
    # a copy: from_pandas may share buffers that later in-place edits change
    return pa.Table.from_pandas(
        frame.copy(), schema=CATALOG_SCHEMAS[table], preserve_index=False
    )


def _live_files(cat_dir):
    with open(os.path.join(cat_dir, MANIFEST)) as fh:
        return json.load(fh)


class _Calls:
    """Counts calls to push_serialize and CatalogStore.save."""

    def __init__(self, monkeypatch):
        self.serialized = 0
        self.saves = 0
        real_ser, real_save = sync_mod.push_serialize, CatalogStore.save

        def ser(*a, **k):
            self.serialized += 1
            return real_ser(*a, **k)

        def save(*a, **k):
            self.saves += 1
            return real_save(*a, **k)

        monkeypatch.setattr(sync_mod, "push_serialize", ser)
        monkeypatch.setattr(CatalogStore, "save", save)


def test_store_and_sheets_match_catalog_after_every_statement(
    spark, tmp_path, monkeypatch
):
    cat_dir = str(tmp_path / "cat")
    wb_dir = str(tmp_path / "wb.csvdir")
    data = str(tmp_path / "data")
    lake = DuckLakeSpark(
        spark=spark, excel_file=wb_dir, data_path=data, local_catalog=cat_dir
    )
    calls = _Calls(monkeypatch)

    committed = {}  # the state a reader outside an open transaction sees

    def check_store(label):
        if not lake.catalog.in_txn():
            committed.update(
                (t, _arrow(t, lake.catalog.tables[t])) for t in CATALOG_SCHEMAS
            )
        disk = CatalogStore(cat_dir).load()
        for t in CATALOG_SCHEMAS:
            assert _arrow(t, disk[t]).equals(committed[t]), (
                f"{label}: store differs on {t}"
            )

    def check(label):
        check_store(label)
        for t in CATALOG_SCHEMAS:
            sheet = lake.workbook.read_sheet(sheet_name(t))
            assert sync_mod._fingerprint(*sheet) == sync_mod._fingerprint(
                *push_serialize(t, committed[t].to_pandas())
            ), f"{label}: sheet differs on {t}"

    def run(stmt):
        lake.sql(stmt)
        check(stmt)

    script = [
        "CREATE TABLE t(id INTEGER NOT NULL, v VARCHAR, d DOUBLE)",
        "INSERT INTO t VALUES (1, 'a', 1.5), (2, 'b', 2.5), (3, 'c', 3.5)",
        "INSERT INTO t VALUES (4, 'd', 4.5)",
        "UPDATE t SET v = 'bb' WHERE id = 2",
        "DELETE FROM t WHERE id = 3",
        "CREATE TABLE src(id INTEGER, v VARCHAR)",
        "INSERT INTO src VALUES (1, 'm1'), (9, 'm9')",
        "MERGE INTO t USING src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.v, 0.0)",
        "ALTER TABLE t ADD COLUMN extra BIGINT",
        "ALTER TABLE t DROP COLUMN d",
        "ALTER TABLE t RENAME COLUMN extra TO e",
        "COMMENT ON TABLE t IS 'mixed'",
        "CREATE SEQUENCE sq START 10",
        "CREATE TABLE s2(id BIGINT DEFAULT nextval('sq'), v VARCHAR)",
        "INSERT INTO s2 (v) VALUES ('x'), ('y')",
        "SET ducklake.data_inlining_row_limit = 10",
        "INSERT INTO t VALUES (20, 'inl', 7)",
        "DELETE FROM t WHERE id = 20",
        "SET ducklake.data_inlining_row_limit = 0",
        "BEGIN",
        "INSERT INTO t VALUES (30, 'gone', 1)",
        "ROLLBACK",
        "BEGIN TRANSACTION",
        "INSERT INTO t VALUES (31, 'kept', 1)",
        "DELETE FROM src WHERE id = 9",
        "COMMIT",
    ]
    for stmt in script:
        run(stmt)

    with pytest.raises(Exception):
        lake.sql("INSERT INTO t VALUES (NULL, 'null id', 1)")
    check("failed statement")

    lake.compact("t")
    check_store("compact")
    run("SELECT count(*) FROM t")
    lake.expire_snapshots(before_version=lake.catalog.current_snapshot)
    check_store("expire_snapshots")
    lake.vacuum()
    check_store("vacuum")
    run("SELECT count(*) FROM t")

    # a point read neither serializes for the workbook nor saves the store
    before = (calls.serialized, calls.saves)
    assert lake.sql("SELECT v FROM t WHERE id = 31").collect()[0]["v"] == "kept"
    assert (calls.serialized, calls.saves) == before

    # an INSERT's commit replaces exactly the files of the tables it
    # changed; the manifest names the other catalog files again
    files = _live_files(cat_dir)
    run("INSERT INTO t VALUES (40, 'ins', 4)")
    after = _live_files(cat_dir)
    assert sorted(t for t in CATALOG_SCHEMAS if after[t] != files[t]) == [
        "ducklake_data_file",
        "ducklake_file_column_statistics",
        "ducklake_snapshot",
        "ducklake_snapshot_changes",
        "ducklake_table_stats",
    ]

    # an adopting pull: a second writer on the same workbook and data
    # commits; this engine's next statement adopts that state
    other = DuckLakeSpark(
        spark=spark, excel_file=wb_dir, data_path=data,
        local_catalog=str(tmp_path / "cat2"),
    )
    other.sql("INSERT INTO t VALUES (50, 'other', 5)")
    run("SELECT count(*) FROM t")
    assert lake.catalog.current_snapshot == other.catalog.current_snapshot
    run("INSERT INTO t VALUES (51, 'after adopt', 5)")
    got = sorted(r["id"] for r in lake.sql("SELECT id FROM t").collect())
    assert got == [1, 2, 4, 9, 31, 40, 50, 51]


def test_store_save_rewrites_a_table_another_writer_replaced(tmp_path):
    """The store keeps a table's file only while the manifest names the
    file it last wrote or read; a file another store instance replaced
    is written again from memory."""
    from ducklakexl_spark.catalog import DuckLakeCatalog

    path = str(tmp_path / "cat")
    a = DuckLakeCatalog(CatalogStore(path), str(tmp_path / "data"))
    b = DuckLakeCatalog(CatalogStore(path), str(tmp_path / "data"))
    b.set_metadata("note", "from b")  # b replaces the metadata file
    a.store.save(a.tables)  # a's metadata is unchanged in a's memory
    disk = CatalogStore(path).load()["ducklake_metadata"]
    assert "note" not in set(disk["key"])  # a's memory won, not b's file


def _count_py4j(monkeypatch):
    """Count driver→JVM commands, leaving out the deferred frees of Python
    proxies garbage-collected meanwhile (``m\\nd\\n``): when those run
    depends on the collector, not on the statement measured."""
    from py4j.clientserver import ClientServerConnection

    counter = {"n": 0}
    real = ClientServerConnection.send_command

    def send(self, command):
        if not command.startswith("m\nd\n"):
            counter["n"] += 1
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", send)
    return counter


def test_py4j_round_trips_of_small_insert_and_point_read(
    spark, tmp_path, monkeypatch
):
    lake = DuckLakeSpark(
        spark=spark,
        excel_file=str(tmp_path / "wb.csvdir"),
        data_path=str(tmp_path / "data"),
        local_catalog=str(tmp_path / "cat"),
    )
    lake.sql(
        "CREATE TABLE li(k BIGINT NOT NULL, a INTEGER, b DOUBLE, c VARCHAR, "
        "d DATE, e DECIMAL(12,2), f VARCHAR DEFAULT 'x', g BOOLEAN, "
        "h BIGINT, i VARCHAR, j DOUBLE)"
    )
    row = "(%d, 1, 2.0, 'c', DATE '2024-01-01', 3.25, 'f', true, 7, 'i', 9.5)"
    for k in range(3):  # warm the insert and scan paths
        lake.sql(f"INSERT INTO li VALUES {row % k}")
        lake.sql(f"SELECT * FROM li WHERE k = {k}").collect()
    counter = _count_py4j(monkeypatch)
    lake.sql(f"INSERT INTO li VALUES {row % 10}")
    insert_trips = counter["n"]
    counter["n"] = 0
    got = lake.sql("SELECT * FROM li WHERE k = 1").collect()
    read_trips = counter["n"]
    assert len(got) == 1
    assert insert_trips < 100, insert_trips
    assert read_trips <= 28, read_trips
