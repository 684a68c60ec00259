"""DuckLake catalog semantics on driver-side DataFrames.

Implements the MVCC model from the public DuckLake spec (SURVEY §1.1):
every versioned row carries ``[begin_snapshot, end_snapshot)`` validity; a
read at snapshot S selects rows with ``begin_snapshot <= S AND
(end_snapshot IS NULL OR S < end_snapshot)``.  Deletes never rewrite data
files — a delete file lists deleted row positions of one data file.

The reference reaches these tables through DuckDB's ducklake extension
(ATTACH at ducklakexl.py:236); here they are plain pandas frames with the
spec schemas, committed atomically through :class:`CatalogStore`.

``tables`` is a :class:`CatalogTables`: every reassignment of a frame
bumps that table's change number, and every in-place edit here calls
``tables.touch``.  The store writes and the workbook sync serializes only
the tables whose numbers moved, so a statement pays for what it changed.

One statement, one snapshot (:meth:`DuckLakeCatalog.statement`): its
changes land in one snapshot, committed with one ``changes_made`` row
and one save.  A mutator called outside a statement is its own.
"""

from __future__ import annotations

import contextlib
import functools
import os
import uuid
from datetime import datetime, timezone

import pandas as pd

from ducklakexl_spark import iofs
from ducklakexl_spark.catalog.schemas import CATALOG_SCHEMAS
from ducklakexl_spark.catalog.store import (
    CatalogStore,
    CatalogTables,
    conform,
    empty_frame,
    read_manifest,
)

MAIN_SCHEMA = "main"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed to the catalog store since this instance
    last synchronized — refresh() and retry the statement."""


def _now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _remove_path(path: str) -> None:
    """Remove a data file or a delete file, which is a directory."""
    if iofs.has_scheme(path) or os.path.isdir(path):
        # remote GC targets are insert-/delete- directories
        iofs.rmtree(path, ignore_errors=False)
    else:
        iofs.remove(path)


def _tag_table(object_id: int, column_id: int | None) -> tuple[str, dict]:
    """The tag table of an object or a column, and its key columns."""
    if column_id is None:
        return "ducklake_tag", {"object_id": object_id}
    return "ducklake_column_tag", {"table_id": object_id, "column_id": column_id}


def _tag_mask(df: pd.DataFrame, ids: dict, key: str):
    mask = df["key"] == key
    for col, v in ids.items():
        mask &= df[col] == v
    return mask


def _statement(method):
    """Run a catalog method inside :meth:`DuckLakeCatalog.statement`: on
    its own it commits once; inside a caller's statement it joins that
    statement's snapshot."""

    @functools.wraps(method)
    def run(self, *args, **kwargs):
        with self.statement():
            return method(self, *args, **kwargs)

    return run


class DuckLakeCatalog:
    def __init__(
        self, store: CatalogStore, data_path: str, encrypted: bool = False
    ):
        self.store = store
        self.data_path = data_path
        self._txn_backup: CatalogTables | None = None
        # data and delete files registered since the last save
        self._new_files: list[str] = []
        # the open statement: nesting depth, the snapshot id its first
        # change opened, its change tokens, and whether it needs a save
        self._depth = 0
        self._sid: int | None = None
        self._changes: list[str] = []
        self._unsaved = False
        created = False
        if not store.exists():
            if read_manifest(store.path + ".old") is not None:
                raise RuntimeError(
                    f"catalog store {store.path!r} is empty but "
                    f"{store.path}.old holds a catalog: an interrupted "
                    "commit of an earlier version left it there.  Move its "
                    "files back into the store directory to open it."
                )
            with store.commit_lock():
                # another engine may have created the catalog meanwhile
                if not store.exists():
                    self._bootstrap(encrypted)
                    created = True
        if not created:
            self.tables = store.load()
            if encrypted and not self.encrypted:
                raise ValueError(
                    "encrypted=True requested but this existing lake is "
                    "unencrypted; already-written plain files cannot be "
                    "retroactively protected — create a new lake"
                )
        self._base_snapshot = self.current_snapshot

    @property
    def encrypted(self) -> bool:
        """Spec ``ducklake_metadata['encrypted']`` — when true, data and
        delete files are written with Parquet Modular Encryption and
        their per-file keys live in the ``encryption_key`` columns (the
        reference round-trips this flag through its sync plane at
        ducklakexl.py:501-505 and delegates the cryptography to DuckDB;
        here crypto.py implements it on the Spark side)."""
        meta = self.tables.get("ducklake_metadata")
        if meta is None or meta.empty:
            return False
        enc = meta[meta["key"] == "encrypted"]
        return (not enc.empty) and str(enc.iloc[0]["value"]).lower() == "true"

    def refresh(self) -> None:
        """Re-synchronize with the store (drop any unsaved in-memory
        state) — the recovery step after a ConcurrentWriteError."""
        if self._txn_backup is not None:
            raise ValueError("refresh() inside a transaction")
        self.tables = self.store.load()
        self._base_snapshot = self.current_snapshot

    # -- transactions --------------------------------------------------------

    def begin_txn(self) -> None:
        """Multi-statement transaction: snapshot the in-memory catalog;
        until COMMIT, statements mutate memory only (store saves are
        deferred), so a crash mid-transaction leaves the persisted
        catalog at the pre-BEGIN state — readers of the store never see
        a partial transaction.  No nesting."""
        if self._txn_backup is not None:
            raise ValueError("already in a transaction")
        self._txn_backup = self.tables.copy()  # frames and change numbers

    def in_txn(self) -> bool:
        return self._txn_backup is not None

    def commit_txn(self) -> None:
        """Persist everything since BEGIN in one atomic store commit."""
        if self._txn_backup is None:
            return  # autocommit mode: COMMIT is a no-op
        self._txn_backup = None
        self._checked_save()

    def rollback_txn(self) -> None:
        """Restore the pre-BEGIN catalog and delete data/delete files
        written during the transaction (they were never visible outside
        it, so removal is safe — no snapshot references them)."""
        if self._txn_backup is None:
            return
        self.tables = self._txn_backup
        self._txn_backup = None
        self._remove_new_files()

    def _remove_new_files(self) -> None:
        """Delete the files registered since the last save, which no
        saved snapshot references; files adopted from outside the data
        path are not the lake's to delete."""
        own = os.path.join(self.data_path, "")
        for p in self._new_files:
            if p.startswith(own):
                with contextlib.suppress(OSError):
                    _remove_path(p)
        self._new_files = []

    def _save(self) -> None:
        """Persist unless inside a transaction (deferred to COMMIT)."""
        if self._txn_backup is None:
            self._checked_save()

    @contextlib.contextmanager
    def statement(self):
        """One statement: every change made inside lands in one snapshot,
        committed with one save when the outermost statement ends.  A
        statement that raises commits nothing: outside a transaction the
        catalog falls back to the store and the files the statement
        wrote are deleted; inside one, the changes already made stay in
        memory under their own snapshot."""
        self._depth += 1
        try:
            yield
            if self._depth == 1:
                self._end_statement()
        except BaseException as exc:
            if self._depth == 1:
                if self.in_txn():
                    self._end_statement()
                elif isinstance(exc, Exception):
                    self._remove_new_files()
                    self.refresh()
            raise
        finally:
            self._depth -= 1
            if not self._depth:
                self._sid, self._changes, self._unsaved = None, [], False

    def _end_statement(self) -> None:
        if self._sid is not None:
            self.commit_snapshot()
        elif self._unsaved:
            self._save()

    def _checked_save(self) -> None:
        """Optimistic concurrency: refuse to clobber a commit another
        writer landed since this instance last synchronized.  The check
        reads one column of one small parquet; the save commits with one
        atomic manifest replace.  (Single-writer-at-a-time per store —
        the same model DuckLake gets from its catalog database's
        transactions; a loser refresh()es and retries.)  The store's
        commit_lock makes the check-then-save pair atomic — without it
        two same-base writers racing through this window could both
        save, silently dropping one commit (thread-fuzz find,
        tests/fuzz_concurrency.py)."""
        with self.store.commit_lock():
            disk = self.store.peek_snapshot()
            if disk is not None and disk != self._base_snapshot:
                raise ConcurrentWriteError(
                    f"catalog store advanced to snapshot {disk} (this "
                    f"writer is at {self._base_snapshot}): refresh() and "
                    "retry"
                )
            self.store.save(self.tables)
        self._base_snapshot = self.current_snapshot
        self._new_files = []

    # -- low-level helpers --------------------------------------------------

    def _append(self, table: str, rows: list[dict]) -> None:
        if not rows:
            return
        cur = self.tables[table]
        add = conform(table, pd.DataFrame(rows))
        self.tables[table] = (
            add if cur.empty else pd.concat([cur, add], ignore_index=True)
        )

    def _end_rows(self, table: str, mask, snapshot: int) -> None:
        """End-snapshot the rows under ``mask`` in place."""
        if mask.any():
            self.tables[table].loc[mask, "end_snapshot"] = snapshot
            self.tables.touch(table)

    def _edit_stats(self, table_id: int, **values) -> bool:
        """Set ``ducklake_table_stats`` columns of one table in place (a
        callable value maps the current column slice); False when the
        table has no stats row."""
        stats = self.tables["ducklake_table_stats"]
        mask = stats["table_id"] == table_id
        if not mask.any():
            return False
        for col, v in values.items():
            stats.loc[mask, col] = v(stats.loc[mask, col]) if callable(v) else v
        self.tables.touch("ducklake_table_stats")
        return True

    def _bootstrap(self, encrypted: bool) -> None:
        """Create and save an empty catalog; the caller holds the commit
        lock."""
        self.tables = CatalogTables(
            {t: empty_frame(t) for t in CATALOG_SCHEMAS}
        )
        self._append(
            "ducklake_metadata",
            [
                {"key": "version", "value": "0.1"},
                {"key": "created_by", "value": "ducklakexl_spark"},
                {"key": "data_path", "value": self.data_path},
                {
                    "key": "encrypted",
                    "value": "true" if encrypted else "false",
                },
            ],
        )
        self._append(
            "ducklake_schema",
            [
                {
                    "schema_id": 0,
                    "schema_uuid": str(uuid.uuid4()),
                    "begin_snapshot": 0,
                    "end_snapshot": None,
                    "schema_name": MAIN_SCHEMA,
                }
            ],
        )
        self._append(
            "ducklake_snapshot",
            [
                {
                    "snapshot_id": 0,
                    "snapshot_time": _now(),
                    "schema_version": 0,
                    "next_catalog_id": 1,
                    "next_file_id": 0,
                }
            ],
        )
        self._append(
            "ducklake_snapshot_changes",
            [{"snapshot_id": 0, "changes_made": f'created_schema:"{MAIN_SCHEMA}"'}],
        )
        self.store.save(self.tables)

    # -- snapshot machinery ---------------------------------------------------

    @property
    def current_snapshot(self) -> int:
        return int(self.tables["ducklake_snapshot"]["snapshot_id"].max())

    def _change(self, token: str) -> int:
        """Record one change of the open statement and return the id of
        the snapshot it lands in.  The statement's first change appends
        that snapshot's row, with the last snapshot's id counters, so
        reads inside the statement see its own changes."""
        if self._sid is None:
            if not self._depth:
                raise RuntimeError("catalog change outside a statement")
            snap = self.tables["ducklake_snapshot"]
            row = snap.loc[snap["snapshot_id"].idxmax()].to_dict()
            self._sid = self.current_snapshot + 1
            row.update(snapshot_id=self._sid, snapshot_time=_now())
            self._append("ducklake_snapshot", [row])
        if token not in self._changes:
            self._changes.append(token)
        return self._sid

    def _take_ids(self, n_cat: int = 0, n_file: int = 0) -> tuple[int, int]:
        """Take ``n_cat`` catalog ids and ``n_file`` file ids from the open
        snapshot's counters; returns the first id of each."""
        snap = self.tables["ducklake_snapshot"]
        row = snap.index[snap["snapshot_id"] == self._sid][0]
        cols = ["next_catalog_id", "next_file_id"]
        cat, fid = (int(v) for v in snap.loc[row, cols])
        snap.loc[row, cols] = [cat + n_cat, fid + n_file]
        return cat, fid

    def commit_snapshot(self) -> int:
        """Commit the open statement's snapshot: its commit time, one
        ``changes_made`` row listing every change, and one save."""
        sid = self._sid
        snap = self.tables["ducklake_snapshot"]
        snap.loc[snap["snapshot_id"] == sid, "snapshot_time"] = _now()
        self.tables.touch("ducklake_snapshot")
        self._append(
            "ducklake_snapshot_changes",
            [{"snapshot_id": sid, "changes_made": ",".join(self._changes)}],
        )
        self._sid = None
        self._save()
        return sid

    def live_mask(self, df: pd.DataFrame, snapshot: int | None = None):
        s = self.current_snapshot if snapshot is None else snapshot
        end = df["end_snapshot"]
        return (df["begin_snapshot"] <= s) & (end.isna() | (s < end))

    def live(self, table: str, snapshot: int | None = None) -> pd.DataFrame:
        df = self.tables[table]
        if df.empty:
            return df
        return df[self.live_mask(df, snapshot)]

    # -- lookups ----------------------------------------------------------------

    def schema_id(self, name: str = MAIN_SCHEMA) -> int:
        live = self.live("ducklake_schema")
        hit = live[live["schema_name"] == name]
        if hit.empty:
            raise KeyError(f"schema not found: {name}")
        return int(hit.iloc[0]["schema_id"])

    def table_id(self, name: str, snapshot: int | None = None) -> int:
        live = self.live("ducklake_table", snapshot)
        hit = live[live["table_name"] == name]
        if hit.empty:
            raise KeyError(f"table not found: {name}")
        return int(hit.iloc[0]["table_id"])

    def table_names(self, snapshot: int | None = None) -> list[str]:
        return list(self.live("ducklake_table", snapshot)["table_name"])

    def columns(self, table_id: int, snapshot: int | None = None) -> pd.DataFrame:
        live = self.live("ducklake_column", snapshot)
        cols = live[live["table_id"] == table_id]
        return cols.sort_values("column_order")

    def data_files(self, table_id: int, snapshot: int | None = None) -> pd.DataFrame:
        live = self.live("ducklake_data_file", snapshot)
        out = live[live["table_id"] == table_id]
        # files append in id order; skipping the no-op sort avoids an
        # O(n) argsort + full-frame copy per query at million-file scale
        if out["data_file_id"].is_monotonic_increasing:
            return out
        return out.sort_values("data_file_id")

    def delete_files(self, table_id: int, snapshot: int | None = None) -> pd.DataFrame:
        live = self.live("ducklake_delete_file", snapshot)
        return live[live["table_id"] == table_id].sort_values("delete_file_id")

    # -- DDL ---------------------------------------------------------------------

    @_statement
    def create_table(self, name: str, columns: list[tuple]) -> int:
        """columns: [(name, ducklake SQL type[, nulls_allowed, default])]
        — returns table_id."""
        live = self.live("ducklake_table")
        if (live["table_name"] == name).any():
            raise ValueError(f"table already exists: {name}")
        snapshot = self._change(f'created_table:"{name}"')
        table_id, _ = self._take_ids(1 + len(columns))
        self._append(
            "ducklake_table",
            [
                {
                    "table_id": table_id,
                    "table_uuid": str(uuid.uuid4()),
                    "begin_snapshot": snapshot,
                    "end_snapshot": None,
                    "schema_id": self.schema_id(),
                    "table_name": name,
                }
            ],
        )
        col_rows = []
        for order, cdef in enumerate(columns):
            cname, ctype = cdef[0], cdef[1]
            nulls_allowed = bool(cdef[2]) if len(cdef) > 2 else True
            default = cdef[3] if len(cdef) > 3 else None
            col_rows.append(
                {
                    "column_id": table_id + 1 + order,
                    "begin_snapshot": snapshot,
                    "end_snapshot": None,
                    "table_id": table_id,
                    "column_order": order,
                    "column_name": cname,
                    "column_type": ctype,
                    "initial_default": None,
                    "default_value": default,
                    "nulls_allowed": nulls_allowed,
                    "parent_column": None,
                }
            )
        self._append("ducklake_column", col_rows)
        self._append(
            "ducklake_table_stats",
            [
                {
                    "table_id": table_id,
                    "record_count": 0,
                    "next_row_id": 0,
                    "file_size_bytes": 0,
                }
            ],
        )
        return table_id

    @_statement
    def create_view(self, name: str, sql: str, replace: bool = False) -> int:
        """Register a SQL view in ducklake_view (dialect 'spark'); the
        engine re-resolves the text at read time, so views always see the
        current snapshot — matching DuckDB view semantics."""
        live = self.live("ducklake_view")
        exists = live[live["view_name"] == name]
        if not exists.empty:
            if not replace:
                raise ValueError(f"view already exists: {name}")
            self.drop_view(name)
        snapshot = self._change(f'created_view:"{name}"')
        view_id, _ = self._take_ids(1)
        self._append(
            "ducklake_view",
            [
                {
                    "view_id": view_id,
                    "view_uuid": str(uuid.uuid4()),
                    "begin_snapshot": snapshot,
                    "end_snapshot": None,
                    "schema_id": self.schema_id(),
                    "view_name": name,
                    "dialect": "spark",
                    "sql": sql,
                    "column_aliases": None,
                }
            ],
        )
        return view_id

    @_statement
    def drop_view(self, name: str) -> None:
        df = self.tables["ducklake_view"]
        mask = self.live_mask(df) & (df["view_name"] == name)
        if not mask.any():
            raise KeyError(f"view not found: {name}")
        snapshot = self._change(f'dropped_view:"{name}"')
        self._end_rows("ducklake_view", mask, snapshot)

    def view_names(self, snapshot: int | None = None) -> list[str]:
        return list(self.live("ducklake_view", snapshot)["view_name"])

    def view_sql(self, name: str, snapshot: int | None = None) -> str:
        live = self.live("ducklake_view", snapshot)
        hit = live[live["view_name"] == name]
        if hit.empty:
            raise KeyError(f"view not found: {name}")
        return str(hit.iloc[0]["sql"])

    @_statement
    def rename_table(self, old: str, new: str) -> None:
        """ALTER TABLE … RENAME TO …: MVCC row swap — the old name row
        ends, a new row with the SAME table_id begins, so data files and
        history carry over and time travel still resolves the old name at
        old snapshots."""
        table_id = self.table_id(old)
        df = self.tables["ducklake_table"]
        snapshot = self._change(f'renamed_table:"{old}"->"{new}"')
        mask = self.live_mask(df) & (df["table_id"] == table_id)
        old_row = df[mask].iloc[0].to_dict()
        self._end_rows("ducklake_table", mask, snapshot)
        old_row.update(
            {"begin_snapshot": snapshot, "end_snapshot": None, "table_name": new}
        )
        self._append("ducklake_table", [old_row])

    @_statement
    def create_schema(self, name: str) -> int:
        live = self.live("ducklake_schema")
        if (live["schema_name"] == name).any():
            raise ValueError(f"schema already exists: {name}")
        snapshot = self._change(f'created_schema:"{name}"')
        schema_id, _ = self._take_ids(1)
        self._append(
            "ducklake_schema",
            [
                {
                    "schema_id": schema_id,
                    "schema_uuid": str(uuid.uuid4()),
                    "begin_snapshot": snapshot,
                    "end_snapshot": None,
                    "schema_name": name,
                }
            ],
        )
        return schema_id

    @_statement
    def drop_table(self, name: str) -> None:
        table_id = self.table_id(name)
        snapshot = self._change(f'dropped_table:"{name}"')
        for t in ("ducklake_table", "ducklake_column", "ducklake_data_file",
                  "ducklake_delete_file", "ducklake_inlined_data"):
            df = self.tables[t]
            if df.empty:
                continue
            mask = self.live_mask(df) & (df["table_id"] == table_id)
            self._end_rows(t, mask, snapshot)

    # -- schema evolution --------------------------------------------------------

    def _column_row(self, table_id: int, name: str) -> "pd.Series":
        cols = self.columns(table_id)
        hit = cols[cols["column_name"] == name]
        if hit.empty:
            raise KeyError(f"column not found: {name}")
        return hit.iloc[0]

    @_statement
    def add_column(
        self, table_id: int, name: str, col_type: str, default: str | None = None
    ) -> int:
        """ALTER TABLE … ADD COLUMN as an MVCC ducklake_column row: the
        column begins at the next snapshot; files written before it keep
        their narrower physical schema and scans fill the column with
        NULL (or ``initial_default``) — no data rewrite, the DuckLake
        evolution model."""
        cols = self.columns(table_id)
        if (cols["column_name"] == name).any():
            raise ValueError(f"column already exists: {name}")
        snapshot = self._change(f"altered_table:{table_id}:add_column:{name}")
        column_id, _ = self._take_ids(1)
        self._append(
            "ducklake_column",
            [
                {
                    "column_id": column_id,
                    "begin_snapshot": snapshot,
                    "end_snapshot": None,
                    "table_id": table_id,
                    "column_order": (
                        int(cols["column_order"].max()) + 1 if len(cols) else 0
                    ),
                    "column_name": name,
                    "column_type": col_type,
                    "initial_default": default,
                    "default_value": default,
                    "nulls_allowed": True,
                    "parent_column": None,
                }
            ],
        )
        return snapshot

    @_statement
    def drop_column(self, table_id: int, name: str) -> int:
        """End-snapshot the column row; data files keep the physical
        column, scans stop projecting it — instant at any table size.
        A live partition KEY cannot be dropped: the scheme would dangle
        and the next partitioned write would fail confusingly."""
        row = self._column_row(table_id, name)
        scheme = self.partition_scheme(table_id)
        if scheme and any(
            cid == int(row["column_id"]) for cid, _t in scheme[1]
        ):
            raise ValueError(
                f"cannot drop column {name!r}: it is a partition key of "
                "the live partition scheme (SET PARTITIONED BY a new "
                "scheme first)"
            )
        snapshot = self._change(f"altered_table:{table_id}:drop_column:{name}")
        df = self.tables["ducklake_column"]
        mask = self.live_mask(df) & (df["column_id"] == int(row["column_id"]))
        self._end_rows("ducklake_column", mask, snapshot)
        return snapshot

    @_statement
    def _transition_column(
        self, table_id: int, name: str, changes: dict, message: str
    ) -> int:
        """Close the live column row and open a successor with the same
        column_id — the MVCC shape for rename/retype (time travel sees
        the old definition through the old row)."""
        row = self._column_row(table_id, name)
        snapshot = self._change(message)
        df = self.tables["ducklake_column"]
        mask = self.live_mask(df) & (df["column_id"] == int(row["column_id"]))
        self._end_rows("ducklake_column", mask, snapshot)
        new_row = {
            k: (None if pd.isna(v) else v) for k, v in row.to_dict().items()
        }
        new_row.update(begin_snapshot=snapshot, end_snapshot=None, **changes)
        self._append("ducklake_column", [new_row])
        return snapshot

    def rename_column(self, table_id: int, old: str, new: str) -> int:
        cols = self.columns(table_id)
        if (cols["column_name"] == new).any():
            raise ValueError(f"column already exists: {new}")
        return self._transition_column(
            table_id,
            old,
            {"column_name": new},
            f"altered_table:{table_id}:rename_column:{old}:{new}",
        )

    @_statement
    def set_metadata(self, key: str, value: str | None) -> None:
        """Upsert (or delete, when value is None) a ducklake_metadata
        k/v row — engine-level registry entries like enum types."""
        meta = self.tables["ducklake_metadata"]
        self.tables["ducklake_metadata"] = meta[meta["key"] != key].reset_index(
            drop=True
        )
        if value is not None:
            self._append("ducklake_metadata", [{"key": key, "value": value}])
        self._unsaved = True

    def set_column_default(
        self, table_id: int, name: str, default: str | None
    ) -> int:
        """ALTER COLUMN SET/DROP DEFAULT as an MVCC column transition
        (affects future INSERTs only — the SQL semantics)."""
        return self._transition_column(
            table_id,
            name,
            {"default_value": default},
            f"altered_column_default:{table_id}.{name}",
        )

    def set_column_nullability(
        self, table_id: int, name: str, nulls_allowed: bool
    ) -> int:
        """ALTER COLUMN SET/DROP NOT NULL (caller validates stored data
        before tightening)."""
        return self._transition_column(
            table_id,
            name,
            {"nulls_allowed": bool(nulls_allowed)},
            f"altered_column_nullability:{table_id}.{name}",
        )

    def alter_column_type(self, table_id: int, name: str, new_type: str) -> int:
        return self._transition_column(
            table_id,
            name,
            {"column_type": new_type},
            f"altered_table:{table_id}:alter_column_type:{name}",
        )

    # -- tags --------------------------------------------------------------------

    @_statement
    def set_tag(
        self,
        object_id: int,
        key: str,
        value: str,
        column_id: int | None = None,
    ) -> None:
        """MVCC tag upsert: old value (if any) ends at the snapshot the
        new one begins (ducklake_tag / ducklake_column_tag spec tables —
        COMMENT ON maps to key='comment')."""
        snapshot = self._change(f"set_tag:{object_id}:{key}")
        table, ids = _tag_table(object_id, column_id)
        df = self.tables[table]
        mask = self.live_mask(df) & _tag_mask(df, ids, key)
        self._end_rows(table, mask, snapshot)
        self._append(
            table,
            [
                {
                    **ids,
                    "begin_snapshot": snapshot,
                    "end_snapshot": None,
                    "key": key,
                    "value": value,
                }
            ],
        )

    def get_tag(
        self,
        object_id: int,
        key: str,
        column_id: int | None = None,
        snapshot: int | None = None,
    ) -> str | None:
        table, ids = _tag_table(object_id, column_id)
        live = self.live(table, snapshot)
        hit = live[_tag_mask(live, ids, key)]
        return None if hit.empty else str(hit.iloc[0]["value"])

    # -- partitioning ------------------------------------------------------------

    @_statement
    def set_partitioned_by(
        self,
        table_id: int,
        column_ids: list[int],
        transforms: list[str] | None = None,
    ) -> int:
        """ALTER TABLE … SET PARTITIONED BY: new partition scheme starts
        at the next snapshot (spec tables ducklake_partition_info /
        ducklake_partition_column); existing data files stay valid —
        only new writes follow the scheme, exactly DuckLake's behavior.

        ``transforms`` (parallel to ``column_ids``; default identity)
        records the spec's ``ducklake_partition_column.transform`` —
        'identity' | 'year' | 'month' | 'day' | 'hour'.  Temporal
        transforms partition on the truncated value (``month(ts)`` →
        one directory per calendar month) instead of the raw column."""
        if transforms is None:
            transforms = ["identity"] * len(column_ids)
        if len(transforms) != len(column_ids):
            raise ValueError("transforms must parallel column_ids")
        snapshot = self._change(f"set_partitioned_by:{table_id}")
        info = self.tables["ducklake_partition_info"]
        if not info.empty:
            mask = self.live_mask(info) & (info["table_id"] == table_id)
            self._end_rows("ducklake_partition_info", mask, snapshot)
        partition_id, _ = self._take_ids(1)
        self._append(
            "ducklake_partition_info",
            [
                {
                    "partition_id": partition_id,
                    "table_id": table_id,
                    "begin_snapshot": snapshot,
                    "end_snapshot": None,
                }
            ],
        )
        self._append(
            "ducklake_partition_column",
            [
                {
                    "partition_id": partition_id,
                    "table_id": table_id,
                    "partition_key_index": i,
                    "column_id": cid,
                    "transform": transforms[i],
                }
                for i, cid in enumerate(column_ids)
            ],
        )
        return partition_id

    def partition_scheme(
        self, table_id: int, snapshot: int | None = None
    ) -> tuple[int, list[tuple[int, str]]] | None:
        """Live (partition_id, [(column_id, transform) by key index])
        or None."""
        info = self.live("ducklake_partition_info", snapshot)
        hit = info[info["table_id"] == table_id]
        if hit.empty:
            return None
        pid = int(hit.iloc[0]["partition_id"])
        cols = self.tables["ducklake_partition_column"]
        keys = cols[cols["partition_id"] == pid].sort_values("partition_key_index")
        return pid, [
            (int(r.column_id), str(r.transform)) for r in keys.itertuples()
        ]

    # -- file registration (DML support) -------------------------------------------

    @_statement
    def register_data_files(
        self, table_id: int, files: list[dict], column_stats: list[dict] | None = None
    ) -> int:
        """Register newly written parquet files.  Each file dict needs:
        path, record_count, file_size_bytes, footer_size.
        column_stats rows (optional): per (path, column_id) min/max/nulls.
        Returns the snapshot id the files begin at."""
        self._new_files += [f["path"] for f in files]
        snapshot = self._change(f"inserted_into_table:{table_id}")
        _, next_file = self._take_ids(n_file=len(files))
        stats = self.tables["ducklake_table_stats"]
        srow = stats[stats["table_id"] == table_id]
        next_row_id = int(srow.iloc[0]["next_row_id"]) if not srow.empty else 0

        rows, stat_rows = [], []
        path_to_id = {}
        order_base = len(self.data_files(table_id))
        for i, f in enumerate(sorted(files, key=lambda x: x["path"])):
            fid = next_file
            next_file += 1
            path_to_id[f["path"]] = fid
            rows.append(
                {
                    "data_file_id": fid,
                    "table_id": table_id,
                    "begin_snapshot": snapshot,
                    "end_snapshot": None,
                    "file_order": order_base + i,
                    "path": f["path"],
                    "path_is_relative": False,
                    "file_format": "parquet",
                    "record_count": f["record_count"],
                    "file_size_bytes": f["file_size_bytes"],
                    "footer_size": f.get("footer_size"),
                    "row_id_start": next_row_id,
                    "partition_id": f.get("partition_id"),
                    "encryption_key": f.get("encryption_key"),
                    "partial_file_info": None,
                }
            )
            next_row_id += int(f["record_count"])
        self._append("ducklake_data_file", rows)

        pv_rows = []
        for f in files:
            for idx, val in enumerate(f.get("partition_values") or []):
                pv_rows.append(
                    {
                        "data_file_id": path_to_id[f["path"]],
                        "table_id": table_id,
                        "partition_key_index": idx,
                        "partition_value": None if val is None else str(val),
                    }
                )
        if pv_rows:
            self._append("ducklake_file_partition_value", pv_rows)

        for s in column_stats or []:
            stat_rows.append(
                {
                    "data_file_id": path_to_id[s["path"]],
                    "table_id": table_id,
                    "column_id": s["column_id"],
                    "column_size_bytes": s.get("column_size_bytes"),
                    "value_count": s.get("value_count"),
                    "null_count": s.get("null_count"),
                    "min_value": s.get("min_value"),
                    "max_value": s.get("max_value"),
                    "contains_nan": s.get("contains_nan", False),
                }
            )
        self._append("ducklake_file_column_statistics", stat_rows)

        added = sum(int(f["record_count"]) for f in files)
        added_bytes = sum(int(f["file_size_bytes"]) for f in files)
        self._bump_table_stats(table_id, added, next_row_id, added_bytes)
        return snapshot

    @_statement
    def replace_table_files(
        self, table_id: int, files: list[dict], column_stats: list[dict] | None
    ) -> int:
        """Atomic file-set swap for compaction: the old data/delete file
        rows and inlined rows end at snapshot S and the new files begin
        at S — no snapshot ever sees both (or neither).  The retired
        files stay on disk for the older snapshots until
        ``expire_snapshots`` queues them."""
        snapshot = self._change(f"compacted_table:{table_id}")
        for t in (
            "ducklake_data_file", "ducklake_delete_file", "ducklake_inlined_data"
        ):
            df = self.tables[t]
            if df.empty:
                continue
            mask = self.live_mask(df) & (df["table_id"] == table_id)
            self._end_rows(t, mask, snapshot)
        # reset stats: register_data_files adds on top, so zero them first
        self._edit_stats(table_id, record_count=0, file_size_bytes=0)
        return self.register_data_files(table_id, files, column_stats)

    @_statement
    def expire_snapshots(self, before_snapshot: int) -> dict:
        """Expire every snapshot older than ``before_snapshot`` (never
        the current one): their rows leave ``ducklake_snapshot``, and any
        data/delete file whose validity ended at-or-before the retained
        horizon — invisible to every surviving snapshot — is dropped
        from the catalog and queued for vacuum().  This is the only way
        a file joins the GC queue, so vacuum() never removes a file that
        a surviving snapshot reads.  Also bounds catalog metadata: dead
        file rows don't accumulate forever."""
        snaps = self.tables["ducklake_snapshot"]
        cutoff = min(int(before_snapshot), self.current_snapshot)
        expired = snaps[snaps["snapshot_id"] < cutoff]
        n_expired = int(len(expired))
        self.tables["ducklake_snapshot"] = snaps[
            snaps["snapshot_id"] >= cutoff
        ].reset_index(drop=True)
        gc_rows: list[dict] = []
        for t in ("ducklake_data_file", "ducklake_delete_file"):
            df = self.tables[t]
            if df.empty:
                continue
            dead = df["end_snapshot"].notna() & (df["end_snapshot"] <= cutoff)
            for r in df[dead].itertuples():
                gc_rows.append(
                    {
                        # a delete file's row names its data file
                        "data_file_id": int(r.data_file_id),
                        "table_id": int(r.table_id),
                        "path": r.path,
                        "path_is_relative": False,
                        "schedule_start": _now(),
                    }
                )
            self.tables[t] = df[~dead].reset_index(drop=True)
        if gc_rows:
            seen: set[str] = set()
            gc_rows = [
                g for g in gc_rows
                if g["path"] not in seen and not seen.add(g["path"])
            ]
            self._append("ducklake_files_scheduled_for_deletion", gc_rows)
        # dead inlined rows have no on-disk artifact — dropping their
        # catalog rows IS the garbage collection
        inl = self.tables["ducklake_inlined_data"]
        if not inl.empty:
            dead = inl["end_snapshot"].notna() & (inl["end_snapshot"] <= cutoff)
            self.tables["ducklake_inlined_data"] = inl[~dead].reset_index(
                drop=True
            )
        self._unsaved = True
        return {"snapshots_expired": n_expired, "files_queued": len(gc_rows)}

    @_statement
    def vacuum(self) -> int:
        """Delete queued files from disk; returns the number removed.

        Refused inside BEGIN…COMMIT: the physical deletes are not
        rollback-able and the save here would persist mid-transaction
        catalog state, breaking the invariant that store readers never
        see a partial transaction."""
        if self.in_txn():
            raise ValueError(
                "VACUUM cannot run inside a transaction: its file deletes "
                "are irreversible; COMMIT or ROLLBACK first"
            )
        q = self.tables["ducklake_files_scheduled_for_deletion"]
        removed = 0
        for r in q.itertuples():
            try:
                _remove_path(r.path)
                removed += 1
            except OSError:
                pass
        self.tables["ducklake_files_scheduled_for_deletion"] = q.iloc[0:0]
        self._unsaved = True
        return removed

    def _bump_table_stats(
        self, table_id: int, added_records: int, next_row_id: int, added_bytes: int
    ) -> None:
        if not self._edit_stats(
            table_id,
            record_count=lambda c: c.fillna(0) + added_records,
            next_row_id=next_row_id,
            file_size_bytes=lambda c: c.fillna(0) + added_bytes,
        ):
            self._append(
                "ducklake_table_stats",
                [
                    {
                        "table_id": table_id,
                        "record_count": added_records,
                        "next_row_id": next_row_id,
                        "file_size_bytes": added_bytes,
                    }
                ],
            )

    @_statement
    def register_delete_files(
        self, table_id: int, entries: list[dict], removed_records: int
    ) -> int:
        """Register one delete parquet PER data file (the spec's shape:
        at most one live delete file per data file).  Each entry:
        ``{data_file_id, path, delete_count, file_size_bytes}``.  The
        previous live delete files for those data files are
        end-snapshotted."""
        self._new_files += [e["path"] for e in entries]
        snapshot = self._change(f"deleted_from_table:{table_id}")
        _, next_file = self._take_ids(n_file=len(entries))

        dels = self.tables["ducklake_delete_file"]
        if not dels.empty:
            mask = (
                self.live_mask(dels)
                & (dels["table_id"] == table_id)
                & (dels["data_file_id"].isin([e["data_file_id"] for e in entries]))
            )
            self._end_rows("ducklake_delete_file", mask, snapshot)

        rows = []
        for e in sorted(entries, key=lambda x: x["data_file_id"]):
            rows.append(
                {
                    "delete_file_id": next_file,
                    "table_id": table_id,
                    "begin_snapshot": snapshot,
                    "end_snapshot": None,
                    "data_file_id": e["data_file_id"],
                    "path": e["path"],
                    "path_is_relative": False,
                    "format": "parquet",
                    "delete_count": e["delete_count"],
                    "file_size_bytes": e["file_size_bytes"],
                    "footer_size": None,
                    "encryption_key": e.get("encryption_key"),
                }
            )
            next_file += 1
        self._append("ducklake_delete_file", rows)

        self._edit_stats(
            table_id, record_count=lambda c: c - removed_records
        )
        return snapshot

    @_statement
    def retire_data_files(self, table_id: int, data_file_ids) -> int:
        """Metadata-only delete of whole data files: their
        ``ducklake_data_file`` rows and live delete files end at the
        statement's snapshot, and the table's record count drops by their
        live rows (record_count − delete_count) and its byte count by
        their bytes.  The files are not queued for GC: they still back
        the older snapshots, and expire_snapshots queues them once those
        expire."""
        fids = [int(f) for f in data_file_ids]
        snapshot = self._change(f"deleted_from_table:{table_id}")
        data = self.tables["ducklake_data_file"]
        mask = (
            self.live_mask(data)
            & (data["table_id"] == table_id)
            & data["data_file_id"].isin(fids)
        )
        removed = int(data.loc[mask, "record_count"].sum())
        removed_bytes = int(data.loc[mask, "file_size_bytes"].fillna(0).sum())
        dels = self.tables["ducklake_delete_file"]
        if not dels.empty:
            dmask = (
                self.live_mask(dels)
                & (dels["table_id"] == table_id)
                & dels["data_file_id"].isin(fids)
            )
            removed -= int(dels.loc[dmask, "delete_count"].sum())
            self._end_rows("ducklake_delete_file", dmask, snapshot)
        self._end_rows("ducklake_data_file", mask, snapshot)
        self._edit_stats(
            table_id,
            record_count=lambda c: c - removed,
            file_size_bytes=lambda c: c - removed_bytes,
        )
        return snapshot

    # -- data inlining (DuckLake spec "Data Inlining") -------------------------

    def inlined_rows(
        self, table_id: int, snapshot: int | None = None
    ) -> pd.DataFrame:
        live = self.live("ducklake_inlined_data", snapshot)
        if live.empty:
            return live
        return live[live["table_id"] == table_id].sort_values("row_id")

    @_statement
    def append_inlined(self, table_id: int, rows_json: list[str]) -> int:
        """Store a small insert's rows in the catalog itself — no parquet
        file is written.  Row ids come from the table's next_row_id
        counter (the same id space data files consume), so a later flush
        preserves stable row identity."""
        snapshot = self._change(f"inserted_into_table:{table_id}")
        stats = self.tables["ducklake_table_stats"]
        srow = stats[stats["table_id"] == table_id]
        next_row_id = int(srow.iloc[0]["next_row_id"]) if not srow.empty else 0
        self._append(
            "ducklake_inlined_data",
            [
                {
                    "table_id": table_id,
                    "row_id": next_row_id + i,
                    "begin_snapshot": snapshot,
                    "end_snapshot": None,
                    "row_json": j,
                }
                for i, j in enumerate(rows_json)
            ],
        )
        self._bump_table_stats(
            table_id, len(rows_json), next_row_id + len(rows_json), 0
        )
        return snapshot

    @_statement
    def end_inlined_rows(self, table_id: int, row_ids: list[int]) -> None:
        """MVCC-delete inlined rows: set end_snapshot (no delete files —
        the rows ARE catalog rows, so visibility is native)."""
        if not row_ids:
            return
        df = self.tables["ducklake_inlined_data"]
        snapshot = self._change(f"deleted_from_table:{table_id}")
        mask = (
            self.live_mask(df)
            & (df["table_id"] == table_id)
            & (df["row_id"].isin(list(row_ids)))
        )
        n = int(mask.sum())
        self._end_rows("ducklake_inlined_data", mask, snapshot)
        self._edit_stats(table_id, record_count=lambda c: c - n)

    @_statement
    def truncate_table(self, name: str) -> int:
        table_id = self.table_id(name)
        snapshot = self._change(f"truncated_table:{table_id}")
        for t in (
            "ducklake_data_file",
            "ducklake_delete_file",
            "ducklake_inlined_data",
        ):
            df = self.tables[t]
            if df.empty:
                continue
            mask = self.live_mask(df) & (df["table_id"] == table_id)
            self._end_rows(t, mask, snapshot)
        self._edit_stats(table_id, record_count=0)
        return snapshot

    def snapshots(self) -> pd.DataFrame:
        return self.tables["ducklake_snapshot"].copy()
