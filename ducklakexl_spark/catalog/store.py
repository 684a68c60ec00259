"""Local catalog store: one parquet file per catalog table under a
directory, with atomic swap on commit.

Mirrors the reference's ``local_catalog`` DuckDB file (ducklakexl.py:20,
236); the reference's per-table ``BEGIN; TRUNCATE; INSERT; COMMIT``
refresh (ducklakexl.py:461-464) becomes write-temp-then-rename here.

A save writes only the tables that changed.  The catalog hands the store
a :class:`CatalogTables`, whose per-table change numbers say which frames
were reassigned or edited; the store remembers the number and the file
identity (inode, size, mtime) of every live file it last wrote, linked or
read.  A table whose number and live file both still match is hard-linked
from the live directory into the commit directory (copied where links
fail) instead of re-encoded, so a one-row INSERT writes its 5 touched
tables and links the other 14.  A file another writer replaced no longer
matches and is written from memory.  The directory swap is unchanged, and
the hard links leave no second copy once the old directory is removed.

Catalog tables are tiny (SURVEY §1.2), so they live driver-side as pandas
DataFrames with pyarrow-enforced schemas — metadata operations never
launch Spark jobs (BASELINE.md's explicit guidance for the 2x bench
envelope), and the data plane reads them to resolve file lists.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import tempfile
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ducklakexl_spark.catalog.schemas import CATALOG_SCHEMAS


def empty_frame(table: str) -> pd.DataFrame:
    schema = CATALOG_SCHEMAS[table]
    return schema.empty_table().to_pandas(types_mapper=_types_mapper)


def _types_mapper(t: pa.DataType):
    # nullable pandas dtypes so blank Excel cells round-trip as NULL ints
    # (the reference's Int64 coercion, ducklakexl.py:413-417)
    if pa.types.is_int64(t):
        return pd.Int64Dtype()
    if pa.types.is_boolean(t):
        return pd.BooleanDtype()
    if pa.types.is_string(t):
        return pd.StringDtype()
    return None


def conform(table: str, df: pd.DataFrame) -> pd.DataFrame:
    """Coerce a frame to the catalog schema (column order + dtypes)."""
    schema = CATALOG_SCHEMAS[table]
    out = {}
    for field in schema:
        col = df[field.name] if field.name in df.columns else None
        if col is None:
            col = pd.Series([None] * len(df))
        out[field.name] = col
    pdf = pd.DataFrame(out, index=df.index if len(df) else None)
    arrow = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    return arrow.to_pandas(types_mapper=_types_mapper)


_change_numbers = itertools.count(1)


class CatalogTables(dict):
    """Catalog frames by table name, each with a change number.

    Every assignment takes a fresh number from one process-wide counter,
    and in-place edits call :meth:`touch`, so a number names one content
    of one table.  The store and the workbook sync compare numbers to
    skip the tables they already hold.  :meth:`copy` keeps the numbers
    with copied frames (a transaction's rollback image)."""

    def __init__(self, *args, **kwargs):
        super().__init__()
        self.versions: dict[str, int] = {}
        self.update(*args, **kwargs)

    def __setitem__(self, table: str, frame: pd.DataFrame) -> None:
        super().__setitem__(table, frame)
        self.touch(table)

    def update(self, *args, **kwargs) -> None:
        for table, frame in dict(*args, **kwargs).items():
            self[table] = frame

    def touch(self, table: str) -> None:
        self.versions[table] = next(_change_numbers)

    def copy(self) -> "CatalogTables":
        out = CatalogTables()
        dict.update(out, {t: f.copy() for t, f in self.items()})
        out.versions = dict(self.versions)
        return out


def _file_key(st: os.stat_result) -> tuple:
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)


def _write_table(table: str, frame: pd.DataFrame | None, path: str) -> None:
    schema = CATALOG_SCHEMAS[table]
    if frame is None:
        arrow = schema.empty_table()
    else:
        try:
            arrow = pa.Table.from_pandas(
                frame, schema=schema, preserve_index=False
            )
        except KeyError:  # a frame without every schema column
            arrow = pa.Table.from_pandas(
                conform(table, frame), schema=schema, preserve_index=False
            )
    pq.write_table(arrow, path)


class CatalogStore:
    """Directory of parquet files, one per catalog table, swapped atomically."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        # table -> (change number, _file_key) of the live file this
        # instance last wrote, linked or read
        self._live: dict[str, tuple[int, tuple]] = {}

    def _file(self, table: str, root: str | None = None) -> str:
        return os.path.join(root or self.path, f"{table}.parquet")

    def _recover(self) -> None:
        """Heal the crash window in save(): if a commit died between
        renaming the live dir to ``.old`` and renaming the new dir into
        place, the live dir is empty/absent while the backup holds the
        last durable catalog.  Restoring it here means a restart can
        never silently bootstrap a fresh catalog over existing data."""
        backup = self.path + ".old"
        primary_has = any(
            os.path.exists(self._file(t)) for t in CATALOG_SCHEMAS
        )
        backup_has = os.path.isdir(backup) and any(
            os.path.exists(self._file(t, backup)) for t in CATALOG_SCHEMAS
        )
        if not primary_has and backup_has:
            if os.path.isdir(self.path):
                os.rmdir(self.path)  # empty dir from __init__'s makedirs
            os.rename(backup, self.path)

    @contextlib.contextmanager
    def commit_lock(self, timeout: float = 30.0):
        """Mutual exclusion for the optimistic check-then-save pair.

        peek_snapshot() → save() is check-then-act; without a lock, two
        writers at the same base snapshot can interleave between the
        check and the rename and BOTH succeed — one commit silently
        lost (found by tests/fuzz_concurrency.py with real threads).
        An O_EXCL lockfile serializes the critical section across
        processes and threads on the same store; a lock older than
        ``timeout`` is presumed crashed and broken.  Contention is
        per-COMMIT (milliseconds), not per-row, so this adds nothing
        to the data plane."""
        lock = self.path + ".lock"
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                break
            except FileExistsError:
                try:
                    # wall clock here, NOT monotonic: getmtime is epoch
                    # seconds, monotonic is seconds-since-boot — mixing
                    # them makes the staleness test always false
                    if time.time() - os.path.getmtime(lock) > timeout:
                        os.unlink(lock)  # stale holder — break the lock
                        continue
                except FileNotFoundError:
                    continue  # released between open and stat — retry now
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"catalog commit lock {lock!r} held too long"
                    )
                time.sleep(0.005)
        try:
            yield
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    def exists(self) -> bool:
        self._recover()
        return any(
            os.path.exists(self._file(t)) for t in CATALOG_SCHEMAS
        )

    def peek_snapshot(self) -> int | None:
        """The on-disk catalog's latest snapshot id without loading the
        whole catalog — one column of one small parquet.  Used for
        optimistic-concurrency checks before a save."""
        self._recover()
        f = self._file("ducklake_snapshot")
        if not os.path.exists(f):
            return None
        col = pq.read_table(f, columns=["snapshot_id"])["snapshot_id"]
        if col.length() == 0:
            return None
        import pyarrow.compute as pc

        return int(pc.max(col).as_py())

    def load(self) -> CatalogTables:
        self._recover()
        tables = CatalogTables()
        live = {}
        for t in CATALOG_SCHEMAS:
            try:
                with open(self._file(t), "rb") as fh:
                    # identity of the file actually read, even if a
                    # concurrent save swaps the directory meanwhile
                    key = _file_key(os.fstat(fh.fileno()))
                    tables[t] = pq.read_table(fh).to_pandas(
                        types_mapper=_types_mapper
                    )
            except FileNotFoundError:
                tables[t] = empty_frame(t)
                continue
            live[t] = (tables.versions[t], key)
        self._live = live
        return tables

    def _unchanged(self, table: str, version: int | None) -> bool:
        """Whether the live file holds ``version`` of ``table``: this
        instance last wrote, linked or read it at that change number,
        and no other writer has replaced it since."""
        rec = self._live.get(table)
        if version is None or rec is None or rec[0] != version:
            return False
        try:
            return _file_key(os.stat(self._file(table))) == rec[1]
        except FileNotFoundError:
            return False

    def save(self, tables: dict[str, pd.DataFrame]) -> None:
        """Atomic commit: write the changed tables to a temp dir, link the
        unchanged ones into it, then swap.  A plain dict (no change
        numbers) writes every table."""
        versions = getattr(tables, "versions", {})
        parent = os.path.dirname(os.path.abspath(self.path)) or "."
        tmp = tempfile.mkdtemp(prefix=".catalog_commit_", dir=parent)
        live = {}
        try:
            for t in CATALOG_SCHEMAS:
                dst = self._file(t, tmp)
                v = versions.get(t)
                if self._unchanged(t, v):
                    try:
                        os.link(self._file(t), dst)
                    except OSError:
                        shutil.copyfile(self._file(t), dst)
                else:
                    _write_table(t, tables.get(t), dst)
                if v is not None:
                    live[t] = (v, _file_key(os.stat(dst)))
            # POSIX can't atomically swap two non-empty dirs, so there is
            # an unavoidable instant with the live dir absent.  Order the
            # renames so the previous commit stays recoverable the whole
            # time (backup removed only after the new dir is in place) and
            # pair with _recover() on every read path.
            backup = self.path + ".old"
            if os.path.exists(backup):
                shutil.rmtree(backup)
            if os.path.exists(self.path):
                os.rename(self.path, backup)
            os.rename(tmp, self.path)
            if os.path.exists(backup):
                shutil.rmtree(backup)
        except Exception:
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            raise
        self._live = live
