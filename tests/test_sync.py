"""Sync-plane tests: the §1.1 coercion rules, workbook round-trip through
the engine, adopt-remote-state bootstrap, retry ladder, range math."""

from __future__ import annotations

import asyncio

import pandas as pd
import pytest

from ducklakexl_spark.catalog.schemas import CATALOG_SCHEMAS, sheet_name
from ducklakexl_spark.engine import DuckLakeSpark
from ducklakexl_spark.sync.coercions import pull_coerce, push_serialize
from ducklakexl_spark.sync.excel import CsvWorkbook
from ducklakexl_spark.sync.graph import (
    RetryPolicy,
    excel_column_name,
    used_range_address,
)

# ---------------------------------------------------------------- coercions


def test_pull_coerce_int_blank_is_null():
    df = pull_coerce(
        "ducklake_snapshot",
        ["snapshot_id", "snapshot_time", "schema_version", "next_catalog_id",
         "next_file_id"],
        [["0", "2024-01-01 00:00:00", "0", "1", ""],
         ["1", "2024-01-02 10:20:30", "0", "5", "3"]],
    )
    assert df["next_file_id"].isna().iloc[0]
    assert df["next_file_id"].iloc[1] == 3
    assert str(df["snapshot_time"].dtype) == "datetime64[ns]"  # tz-naive


def test_pull_coerce_bool_prefixes():
    # reference rule: 't*'→True, 'f*'→False, else NULL (ducklakexl.py:434-453)
    df = pull_coerce(
        "ducklake_column",
        ["column_id", "nulls_allowed"],
        [["1", "true"], ["2", "t"], ["3", "FALSE"], ["4", "f"], ["5", "xyz"],
         ["6", ""]],
    )
    vals = list(df["nulls_allowed"])
    assert bool(vals[0]) and bool(vals[1])
    assert not bool(vals[2]) and not bool(vals[3])
    assert pd.isna(vals[4]) and pd.isna(vals[5])


def test_pull_coerce_na_forms_to_null():
    df = pull_coerce(
        "ducklake_data_file",
        ["data_file_id", "path", "footer_size"],
        [["1", "<NA>", "nan"], ["2", "/x.parquet", "None"]],
    )
    assert pd.isna(df["path"].iloc[0]) and pd.isna(df["footer_size"].iloc[0])
    assert df["path"].iloc[1] == "/x.parquet"


def test_metadata_encrypted_lowercased_both_ways():
    # ducklakexl.py:501-505: Excel bools round-trip as TRUE/FALSE strings
    df = pull_coerce(
        "ducklake_metadata", ["key", "value"],
        [["version", "0.1"], ["encrypted", "FALSE"]],
    )
    assert df.loc[df["key"] == "encrypted", "value"].iloc[0] == "false"
    header, rows = push_serialize("ducklake_metadata", df)
    assert header == ["key", "value"]
    assert ["encrypted", "false"] in rows


def test_push_serialize_strips_tz_and_na():
    snap = pd.DataFrame(
        {
            "snapshot_id": pd.array([0], dtype="Int64"),
            "snapshot_time": [pd.Timestamp("2024-01-01 05:06:07", tz="UTC")],
            "schema_version": pd.array([0], dtype="Int64"),
            "next_catalog_id": pd.array([1], dtype="Int64"),
            "next_file_id": pd.array([None], dtype="Int64"),
        }
    )
    header, rows = push_serialize("ducklake_snapshot", snap)
    assert rows[0][1] == "2024-01-01 05:06:07"  # tz gone
    assert rows[0][4] is None  # NA → empty cell


# ------------------------------------------------------------ workbook sync


def test_sheet_name_rule():
    assert sheet_name("ducklake_snapshot") == "snapshot"
    assert sheet_name("ducklake_files_scheduled_for_deletion") == \
        "files_scheduled_for_deletion"
    assert all(len(sheet_name(t)) <= 31 for t in CATALOG_SCHEMAS)


def test_workbook_roundtrip_and_adopt(spark, tmp_path):
    wb_path = str(tmp_path / "workbook.csvdir")
    lake1 = DuckLakeSpark(
        spark=spark,
        excel_file=wb_path,
        data_path=str(tmp_path / "data"),
        local_catalog=str(tmp_path / "cat1"),
    )
    lake1.sql("CREATE TABLE t(id INTEGER, val VARCHAR)")
    lake1.sql("INSERT INTO t VALUES (1,'alpha'),(2,'beta')")

    wb = CsvWorkbook(wb_path)
    assert set(wb.sheet_names()) == {sheet_name(t) for t in CATALOG_SCHEMAS}
    header, rows = wb.read_sheet("table")
    assert "table_name" in header
    assert any("t" in r for r in rows)

    # second engine, fresh local catalog, same workbook: all sheets exist
    # ⇒ pull (adopt remote state) — reference rule ducklakexl.py:261-267
    lake2 = DuckLakeSpark(
        spark=spark,
        excel_file=wb_path,
        data_path=str(tmp_path / "data"),
        local_catalog=str(tmp_path / "cat2"),
    )
    out = sorted(tuple(r) for r in lake2.sql("SELECT * FROM t").collect())
    assert out == [(1, "alpha"), (2, "beta")]


# ------------------------------------------------------------- graph client


def test_excel_column_name_past_z():
    assert excel_column_name(1) == "A"
    assert excel_column_name(26) == "Z"
    assert excel_column_name(27) == "AA"  # the reference's :570 bug zone
    assert excel_column_name(52) == "AZ"
    assert excel_column_name(703) == "AAA"
    assert used_range_address(4, 28) == "A1:AB5"


def test_retry_ladder_404_then_success():
    calls = []

    async def transport(method, url, **kw):
        calls.append(url)
        if len(calls) < 3:
            return 404, {}, None
        return 200, {}, {"ok": True}

    async def fake_sleep(_):
        pass

    policy = RetryPolicy(sleep=fake_sleep)
    status, _, body = asyncio.new_event_loop().run_until_complete(
        policy.request(transport, "GET", "u")
    )
    assert status == 200 and body == {"ok": True} and len(calls) == 3


def test_retry_ladder_401_refreshes_token():
    state = {"refreshes": 0, "calls": 0}

    async def transport(method, url, **kw):
        state["calls"] += 1
        return (401, {}, None) if state["refreshes"] == 0 else (200, {}, {})

    async def refresh():
        state["refreshes"] += 1

    async def fake_sleep(_):
        pass

    policy = RetryPolicy(sleep=fake_sleep)
    status, _, _ = asyncio.new_event_loop().run_until_complete(
        policy.request(transport, "GET", "u", refresh_token=refresh)
    )
    assert status == 200 and state["refreshes"] == 1


def test_retry_ladder_429_honors_retry_after():
    sleeps = []
    seen = {"n": 0}

    async def transport(method, url, **kw):
        seen["n"] += 1
        return (429, {"Retry-After": "7"}, None) if seen["n"] == 1 else (200, {}, {})

    async def fake_sleep(d):
        sleeps.append(d)

    policy = RetryPolicy(sleep=fake_sleep)
    status, _, _ = asyncio.new_event_loop().run_until_complete(
        policy.request(transport, "GET", "u")
    )
    assert status == 200 and sleeps == [7.0]


def test_retry_404_gives_up_after_max():
    async def transport(method, url, **kw):
        return 404, {}, None

    async def fake_sleep(_):
        pass

    policy = RetryPolicy(sleep=fake_sleep)
    status, _, _ = asyncio.new_event_loop().run_until_complete(
        policy.request(transport, "GET", "u")
    )
    assert status == 404


def test_onedrive_workbook_with_fake_transport():
    """Drive the full Graph read/write path through an injected transport."""
    from ducklakexl_spark.sync.graph import OneDriveWorkbook

    sheets = {"snapshot": [["snapshot_id"], ["0"]]}
    log = []

    async def transport(method, url, **kw):
        log.append((method, url))
        if url.endswith("/workbook/worksheets"):
            return 200, {}, {"value": [{"name": n} for n in sheets]}
        if "/usedRange/clear" in url:
            return 200, {}, {}
        if "/usedRange" in url:
            name = url.split("worksheets('")[1].split("')")[0]
            return 200, {}, {"values": sheets[name]}
        if "/range(address=" in url:
            name = url.split("worksheets('")[1].split("')")[0]
            sheets[name] = kw["json"]["values"]
            return 200, {}, {}
        if url.endswith("/worksheets/add"):
            sheets[kw["json"]["name"]] = []
            return 200, {}, {}
        return 404, {}, None

    wb = OneDriveWorkbook("/drives/d/items/i", transport=transport)
    assert wb.sheet_names() == ["snapshot"]
    header, rows = wb.read_sheet("snapshot")
    assert header == ["snapshot_id"] and rows == [["0"]]
    wb.create_sheet("table")
    wb.write_sheet("table", ["table_id", "table_name"], [["1", "t"]])
    assert sheets["table"][0] == ["table_id", "table_name"]
    # write = clear + PATCH range (3 round trips incl. usedRange semantics)
    assert any("/usedRange/clear" in u for _, u in log)


def test_onedrive_filename_resolution_and_create():
    """Bare-filename targets resolve via /drives/<d>/root:/<path>; a 404
    with create_if_missing uploads a blank workbook via PUT :/content
    (ducklakexl.py:185-228, 586-628)."""
    from ducklakexl_spark.sync.graph import OneDriveWorkbook

    log = []

    async def transport(method, url, **kw):
        log.append((method, url))
        if method == "GET" and url.endswith("/root:/books/cat.xlsx"):
            return 404, {}, None
        if method == "PUT" and url.endswith("/root:/books/cat.xlsx:/content"):
            assert kw["data"][:2] == b"PK"  # a real zip/xlsx payload
            return 201, {}, {"id": "item42"}
        return 500, {}, None

    with pytest.raises(FileNotFoundError):
        OneDriveWorkbook(
            "cat.xlsx", transport=transport, drive_id="d1", folder_path="books"
        )
    wb = OneDriveWorkbook(
        "cat.xlsx",
        transport=transport,
        drive_id="d1",
        folder_path="books",
        create_if_missing=True,
    )
    assert wb.target == "/drives/d1/items/item42"
    # resid form: {drive}!{item} parses without any round-trip
    wb2 = OneDriveWorkbook("d9!abc", transport=transport)
    assert wb2.target == "/drives/d9/items/d9!abc"
    # drive_id required for bare filenames
    with pytest.raises(ValueError, match="drive_id"):
        OneDriveWorkbook("x.xlsx", transport=transport)


def test_workbook_sync_uses_concurrent_fanout():
    """WorkbookSync.pull/push must hit the batched read_sheets /
    write_sheets fan-out when the backend provides it — one gather over
    all sheets, not serialized per-sheet round-trips."""
    from ducklakexl_spark.catalog.schemas import CATALOG_SCHEMAS

    calls = {"read_batch": 0, "write_batch": 0, "read_one": 0, "write_one": 0}

    class BatchingWorkbook:
        def sheet_names(self):
            return []

        def create_sheet(self, name):
            pass

        def read_sheet(self, name):
            calls["read_one"] += 1
            return [], []

        def write_sheet(self, name, header, rows):
            calls["write_one"] += 1

        def read_sheets(self, names):
            calls["read_batch"] += 1
            assert len(names) == len(CATALOG_SCHEMAS)
            return [([], []) for _ in names]

        def write_sheets(self, payloads):
            calls["write_batch"] += 1
            assert len(payloads) == len(CATALOG_SCHEMAS)

    from ducklakexl_spark.catalog.catalog import DuckLakeCatalog
    from ducklakexl_spark.catalog.store import CatalogStore
    from ducklakexl_spark.sync.sync import WorkbookSync

    import tempfile

    tmp = tempfile.mkdtemp(prefix="sync_t_")
    cat = DuckLakeCatalog(CatalogStore(tmp + "/cat"), tmp + "/data")
    ws = WorkbookSync(BatchingWorkbook())
    ws.pull(cat)
    ws.push(cat)
    assert calls["read_batch"] == 1 and calls["write_batch"] == 1
    assert calls["read_one"] == 0 and calls["write_one"] == 0


def test_onedrive_graph_ops_batch_concurrently():
    """read_sheets/write_sheets issue all per-sheet requests in one
    gather: with an instant fake transport every request is logged before
    any result is consumed (ducklakexl.py:467-481, 539-550)."""
    from ducklakexl_spark.sync.graph import OneDriveWorkbook

    log = []

    async def transport(method, url, **kw):
        log.append((method, url))
        if "/usedRange/clear" in url:
            return 200, {}, {}
        if "/usedRange" in url:
            return 200, {}, {"values": [["h"], ["1"]]}
        if "/range(address=" in url:
            return 200, {}, {}
        return 404, {}, None

    wb = OneDriveWorkbook("/drives/d/items/i", transport=transport)
    out = wb.read_sheets(["a", "b", "c"])
    assert len(out) == 3 and all(h == ["h"] for h, _ in out)
    assert len(log) == 3
    wb.write_sheets([("a", ["h"], [["1"]]), ("b", ["h"], [["2"]])])
    # each write = clear + PATCH
    assert len(log) == 3 + 4


def test_push_is_changed_tables_only(tmp_path):
    """Second statement's push rewrites only the catalog tables it
    touched — the delta-push the reference README plans (README.md:
    160-163) instead of its clear+rewrite of all ~19 sheets."""
    from ducklakexl_spark.catalog import CatalogStore, DuckLakeCatalog
    from ducklakexl_spark.sync.sync import WorkbookSync

    writes: list[str] = []

    class CountingWorkbook:
        def __init__(self):
            self.sheets: dict[str, tuple] = {}

        def sheet_names(self):
            return list(self.sheets)

        def create_sheet(self, name):
            self.sheets[name] = ([], [])

        def read_sheet(self, name):
            return self.sheets[name]

        def write_sheet(self, name, header, rows):
            writes.append(name)
            self.sheets[name] = (header, rows)

    cat = DuckLakeCatalog(
        CatalogStore(str(tmp_path / "cat")), str(tmp_path / "data")
    )
    sync = WorkbookSync(CountingWorkbook())
    sync.initialize(cat)  # fresh workbook -> full push
    first = set(writes)
    assert "snapshot" in first and "table" in first

    writes.clear()
    n = sync.push(cat)  # nothing changed -> zero writes
    assert n == 0 and writes == []

    cat.create_table("t2", [("id", "INTEGER", None, None, True, None)])
    writes.clear()
    n = sync.push(cat)
    assert 0 < n < len(first)
    assert "inlined_data" not in writes  # untouched table not rewritten
    assert "table" in writes and "column" in writes and "snapshot" in writes


def test_push_sheet_counts_per_statement(spark, tmp_path, monkeypatch):
    """Workbook-plane scale pin (reference README.md:160-163 delta-push
    TODO as implemented behavior): bootstrap pushes ALL 19 catalog
    sheets; each subsequent DML statement rewrites EXACTLY the sheets
    whose catalog tables it touched — 5 for CREATE TABLE, 5 for INSERT —
    never the full set.  On the OneDrive backend each sheet write is an
    HTTP round-trip, so this IS the per-statement cost model."""
    from ducklakexl_spark.sync.excel import CsvWorkbook

    writes: list[str] = []
    orig = CsvWorkbook.write_sheet

    def spy(self, name, header, rows):
        writes.append(name)
        return orig(self, name, header, rows)

    monkeypatch.setattr(CsvWorkbook, "write_sheet", spy)

    lake = DuckLakeSpark(
        spark=spark,
        excel_file=str(tmp_path / "wb.csvdir"),
        data_path=str(tmp_path / "data"),
        local_catalog=str(tmp_path / "cat"),
    )
    assert sorted(writes) == sorted(
        sheet_name(t) for t in CATALOG_SCHEMAS
    ), "bootstrap must project every catalog table out"
    assert len(writes) == 19

    writes.clear()
    lake.sql("CREATE TABLE t(id INTEGER, val VARCHAR)")
    assert sorted(writes) == [
        "column", "snapshot", "snapshot_changes", "table", "table_stats",
    ]

    writes.clear()
    lake.sql("INSERT INTO t VALUES (1,'a'),(2,'b')")
    assert sorted(writes) == [
        "data_file", "file_column_statistics",
        "snapshot", "snapshot_changes", "table_stats",
    ]

    # no-op statement: zero sheet writes
    writes.clear()
    lake.sql("SELECT * FROM t").collect()
    assert writes == []


def test_onedrive_workbook_under_running_loop():
    """Jupyter parity (reference ducklakexl.py:68-71 + README
    nest_asyncio note): when the CALLING thread already runs an asyncio
    loop — exactly a notebook cell — the sync surface must not raise
    'asyncio.run() cannot be called from a running event loop'.  _run
    detects the running loop and drives the private loop from a
    background thread via run_coroutine_threadsafe; this exercises that
    path end to end (reads AND writes), no nest_asyncio required."""
    import asyncio

    from ducklakexl_spark.sync.graph import OneDriveWorkbook

    sheets = {"snapshot": [["snapshot_id"], ["0"]]}

    async def transport(method, url, **kw):
        if url.endswith("/workbook/worksheets"):
            return 200, {}, {"value": [{"name": n} for n in sheets]}
        if "/usedRange/clear" in url:
            return 200, {}, {}
        if "/usedRange" in url:
            name = url.split("worksheets('")[1].split("')")[0]
            return 200, {}, {"values": sheets[name]}
        if "/range(address=" in url:
            name = url.split("worksheets('")[1].split("')")[0]
            sheets[name] = kw["json"]["values"]
            return 200, {}, {}
        if url.endswith("/worksheets/add"):
            sheets[kw["json"]["name"]] = []
            return 200, {}, {}
        return 404, {}, None

    async def notebook_cell():
        # everything in here executes WITH a running loop in this thread
        wb = OneDriveWorkbook("/drives/d/items/i", transport=transport)
        assert wb.sheet_names() == ["snapshot"]
        header, rows = wb.read_sheet("snapshot")
        assert header == ["snapshot_id"] and rows == [["0"]]
        wb.create_sheet("table")
        wb.write_sheet("table", ["table_id"], [["1"]])
        return sheets["table"][0]

    assert asyncio.run(notebook_cell()) == ["table_id"]


def test_workbook_optimistic_concurrency(spark, tmp_path):
    """Workbook-plane conflict detection (the reference TODO's OneDrive
    ACID, done the versioned way): two engines share one workbook; when
    writer B commits between writer A's pull and push, A's push must
    raise ConcurrentWriteError instead of clobbering B's snapshot —
    re-running A's statement then pulls B's state and succeeds."""
    import pytest as _pytest

    from ducklakexl_spark.catalog.catalog import ConcurrentWriteError
    from ducklakexl_spark.engine import DuckLakeSpark

    wb_path = str(tmp_path / "wb.csvdir")
    a = DuckLakeSpark(
        spark=spark, excel_file=wb_path,
        data_path=str(tmp_path / "data"),
        local_catalog=str(tmp_path / "cat_a"),
    )
    a.sql("CREATE TABLE t(id INTEGER)")
    b = DuckLakeSpark(
        spark=spark, excel_file=wb_path,
        data_path=str(tmp_path / "data"),
        local_catalog=str(tmp_path / "cat_b"),
    )
    # A pulls (inside sql) then B commits before A's push lands:
    # simulate by running B's statement between A's pull and push
    a._pull()
    b.sql("INSERT INTO t VALUES (1)")
    a._execute("INSERT INTO t VALUES (2)")
    with _pytest.raises(ConcurrentWriteError, match="workbook advanced"):
        a._push()
    # re-running the whole statement pulls B's state first, then succeeds
    a.sql("INSERT INTO t VALUES (3)")
    assert sorted(
        r[0] for r in b.sql("SELECT id FROM t").collect()
    ) == [1, 3]


def test_user_provided_logger(spark, tmp_path):
    """A user-provided logger (reference TODO, README.md:157-159)
    receives statement traces and sync round-trip summaries."""
    import logging

    from ducklakexl_spark.engine import DuckLakeSpark

    records = []

    class Capture(logging.Handler):
        def emit(self, record):
            records.append(record.getMessage())

    lg = logging.getLogger("test_ducklakexl_capture")
    lg.setLevel(logging.DEBUG)
    lg.addHandler(Capture())
    lake = DuckLakeSpark(
        spark=spark, excel_file=str(tmp_path / "wb.csvdir"),
        data_path=str(tmp_path / "d"),
        local_catalog=str(tmp_path / "c"),
        logger=lg,
    )
    lake.sql("CREATE TABLE lt(id INTEGER); INSERT INTO lt VALUES (1);")
    assert any(m.startswith("sql: CREATE TABLE lt") for m in records)
    assert any("pushed" in m and "sheet" in m for m in records)
    assert any(m.startswith("pulled workbook state") for m in records)


# ------------------------------------------------- no-op pull and its fallout


def _wb_lake(spark, tmp_path, cat="cat"):
    return DuckLakeSpark(
        spark=spark,
        excel_file=str(tmp_path / "wb.csvdir"),
        data_path=str(tmp_path / "data"),
        local_catalog=str(tmp_path / cat),
    )


def _store_snapshot(tmp_path, cat="cat") -> int:
    """Latest snapshot a fresh reader of the catalog store sees."""
    from ducklakexl_spark.catalog import CatalogStore, DuckLakeCatalog

    fresh = DuckLakeCatalog(
        CatalogStore(str(tmp_path / cat)), str(tmp_path / "data")
    )
    return int(fresh.current_snapshot)


def _sheet_snapshots(tmp_path) -> list[int]:
    header, rows = CsvWorkbook(str(tmp_path / "wb.csvdir")).read_sheet(
        sheet_name("ducklake_snapshot")
    )
    i = header.index("snapshot_id")
    return sorted(int(r[i]) for r in rows)


def test_unchanged_workbook_pull_saves_nothing(spark, tmp_path, monkeypatch,
                                               caplog):
    """Reads on an unchanged workbook never rewrite the catalog store;
    an external edit to one sheet is still adopted by the next pull."""
    import logging

    from ducklakexl_spark.catalog.store import CatalogStore

    lake = _wb_lake(spark, tmp_path)
    lake.sql("CREATE TABLE t(id INTEGER)")
    lake.sql("INSERT INTO t VALUES (1)")
    saves = []
    orig = CatalogStore.save
    monkeypatch.setattr(
        CatalogStore, "save",
        lambda self, tables: (saves.append(1), orig(self, tables))[1],
    )
    caplog.set_level(logging.INFO, logger="ducklakexl_spark")
    for _ in range(3):
        assert lake.sql("SELECT id FROM t").collect()[0][0] == 1
    assert saves == []
    assert sum("workbook unchanged" in m for m in caplog.messages) == 3

    # external edit: one metadata row added straight to its sheet
    wb = CsvWorkbook(str(tmp_path / "wb.csvdir"))
    meta = lake.catalog.tables["ducklake_metadata"]
    edited = pd.concat(
        [meta, pd.DataFrame({"key": ["edited_by"], "value": ["hand"]})],
        ignore_index=True,
    )
    wb.write_sheet(
        sheet_name("ducklake_metadata"),
        *push_serialize("ducklake_metadata", edited),
    )
    caplog.clear()
    lake.sql("SELECT id FROM t").collect()
    assert len(saves) == 1
    assert any("adopted sheets" in m for m in caplog.messages)
    meta = lake.catalog.tables["ducklake_metadata"]
    assert list(meta.loc[meta["key"] == "edited_by", "value"]) == ["hand"]


def test_compaction_survives_next_sql(spark, tmp_path):
    """compact() commits to the store only; the next sql() must keep the
    compacted file set and snapshot (not re-adopt the older workbook),
    and its push publishes them."""
    lake = _wb_lake(spark, tmp_path)
    lake.sql("CREATE TABLE t(id INTEGER)")
    for i in range(3):
        lake.sql(f"INSERT INTO t VALUES ({i})")
    tid = lake.catalog.table_id("t")
    assert len(lake.catalog.data_files(tid)) == 3
    assert lake.compact("t")["compacted"]
    snap = int(lake.catalog.current_snapshot)

    rows = sorted(r[0] for r in lake.sql("SELECT id FROM t").collect())
    assert rows == [0, 1, 2]
    assert int(lake.catalog.current_snapshot) == snap
    assert len(lake.catalog.data_files(tid)) == 1
    assert _store_snapshot(tmp_path) == snap
    assert _sheet_snapshots(tmp_path)[-1] == snap

    # a second engine adopting the workbook sees the compacted layout
    other = _wb_lake(spark, tmp_path, cat="cat2")
    assert len(other.catalog.data_files(other.catalog.table_id("t"))) == 1
    assert sorted(r[0] for r in other.sql("SELECT id FROM t").collect()) == [
        0, 1, 2,
    ]


def test_open_transaction_stays_private(spark, tmp_path):
    """Mid-transaction, neither the catalog store nor the workbook shows
    uncommitted state; COMMIT publishes to both."""
    lake = _wb_lake(spark, tmp_path)
    lake.sql("CREATE TABLE t(id INTEGER)")
    lake.sql("INSERT INTO t VALUES (1)")
    committed = int(lake.catalog.current_snapshot)
    sheet_before = _sheet_snapshots(tmp_path)

    lake.sql("BEGIN")
    lake.sql("INSERT INTO t VALUES (2)")
    assert sorted(r[0] for r in lake.sql("SELECT id FROM t").collect()) == [
        1, 2,
    ]
    assert _store_snapshot(tmp_path) == committed
    assert _sheet_snapshots(tmp_path) == sheet_before

    lake.sql("COMMIT")
    assert _store_snapshot(tmp_path) == committed + 1
    assert _sheet_snapshots(tmp_path) == sheet_before + [committed + 1]
    other = _wb_lake(spark, tmp_path, cat="cat2")
    assert sorted(r[0] for r in other.sql("SELECT id FROM t").collect()) == [
        1, 2,
    ]


def test_failed_statement_leaves_no_trace(spark, tmp_path, monkeypatch):
    """A statement that fails after editing catalog frames in memory is
    dropped whole; statements that committed before it in the same
    sql() call are kept."""
    from ducklakexl_spark.catalog.catalog import DuckLakeCatalog

    lake = _wb_lake(spark, tmp_path)
    lake.sql("CREATE TABLE t(id INTEGER)")
    lake.sql("INSERT INTO t VALUES (1)")
    base = int(lake.catalog.current_snapshot)
    orig = DuckLakeCatalog._checked_save
    failed = []

    def flaky_save(self):
        # the second commit of the next call fails once, after the
        # INSERT already added its snapshot and file rows in memory
        if not failed and int(self.current_snapshot) == base + 2:
            failed.append(1)
            raise RuntimeError("injected save failure")
        return orig(self)

    monkeypatch.setattr(DuckLakeCatalog, "_checked_save", flaky_save)
    with pytest.raises(RuntimeError, match="injected"):
        lake.sql("INSERT INTO t VALUES (5); INSERT INTO t VALUES (6)")
    assert failed
    assert int(lake.catalog.current_snapshot) == base + 1
    assert sorted(r[0] for r in lake.sql("SELECT id FROM t").collect()) == [
        1, 5,
    ]
    lake.sql("INSERT INTO t VALUES (7)")
    assert _store_snapshot(tmp_path) == base + 2
    assert _sheet_snapshots(tmp_path)[-1] == base + 2
    other = _wb_lake(spark, tmp_path, cat="cat2")
    assert sorted(r[0] for r in other.sql("SELECT id FROM t").collect()) == [
        1, 5, 7,
    ]
