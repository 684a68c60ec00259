"""Local catalog store: a directory of immutable parquet files, one live
version per catalog table, named by ``manifest.json``.

Mirrors the reference's ``local_catalog`` DuckDB file (ducklakexl.py:20,
236); the reference's per-table ``BEGIN; TRUNCATE; INSERT; COMMIT``
refresh (ducklakexl.py:461-464) becomes write-new-files, then publish the
manifest with one ``os.replace`` here.  A reader sees the manifest before
or after a commit, never a mix, and every file a manifest names stays
unchanged until a newer manifest drops it.

A save writes only the tables that changed.  The catalog hands the store
a :class:`CatalogTables`, whose per-table change numbers say which frames
were reassigned or edited; the store remembers the change number of every
live file it last wrote or read.  A table whose number matches the file
the current manifest names keeps that file, so a one-row INSERT writes
its 5 touched tables and names the other 14 again.  A file another writer
replaced is no longer in the manifest, and the table is written from
memory.  After the replace the commit deletes every parquet file the
manifest no longer names: superseded versions and a crashed commit's
leftovers.

Catalog tables are tiny (SURVEY §1.2), so they live driver-side as pandas
DataFrames with pyarrow-enforced schemas — metadata operations never
launch Spark jobs (BASELINE.md's explicit guidance for the 2x bench
envelope), and the data plane reads them to resolve file lists.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
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


MANIFEST = "manifest.json"


def read_manifest(root: str) -> dict[str, str] | None:
    """Table -> live file name of the store at ``root``, or None when it
    holds no catalog.  A store written before manifests existed holds one
    ``<table>.parquet`` per table and reads as the manifest naming them;
    its first commit writes a real one."""
    path = os.path.join(root, MANIFEST)
    while True:
        try:
            with open(path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            pass
        legacy = {
            t: f"{t}.parquet"
            for t in CATALOG_SCHEMAS
            if os.path.exists(os.path.join(root, f"{t}.parquet"))
        }
        # no legacy files: none ever existed, or the converting commit
        # deleted them after it published a manifest
        if legacy or not os.path.exists(path):
            return legacy or None


class CatalogStore:
    """Directory of immutable parquet files, one live version per catalog
    table, named by ``manifest.json``; replacing the manifest commits."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        # file name -> change number of the table version it holds, for
        # the live files this instance last wrote or read
        self._live: dict[str, int] = {}

    def _file(self, name: str) -> str:
        return os.path.join(self.path, name)

    def _consistent(self, read):
        """``(files, read(files))`` for one committed state.  A file a
        manifest names is deleted only after a newer manifest replaced
        it, so a missing file re-reads the manifest and retries; under an
        unchanged manifest it is an error."""
        files = read_manifest(self.path) or {}
        while True:
            try:
                return files, read(files)
            except FileNotFoundError:
                again = read_manifest(self.path) or {}
                if again == files:
                    raise
                files = again

    @contextlib.contextmanager
    def commit_lock(self, timeout: float = 30.0):
        """Mutual exclusion for the optimistic check-then-save pair.

        peek_snapshot() → save() is check-then-act; without a lock, two
        writers at the same base snapshot can interleave between the
        check and the manifest replace and BOTH succeed — one commit
        silently lost (found by tests/fuzz_concurrency.py with real
        threads).  Every save runs under it, so no commit deletes the
        files of another that is still being written.
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
        return read_manifest(self.path) is not None

    def peek_snapshot(self) -> int | None:
        """The on-disk catalog's latest snapshot id without loading the
        whole catalog — one column of one small parquet.  Used for
        optimistic-concurrency checks before a save."""

        def read(files):
            name = files.get("ducklake_snapshot")
            if name is None:
                return None
            return pq.read_table(self._file(name), columns=["snapshot_id"])

        _, snap = self._consistent(read)
        if snap is None or snap.num_rows == 0:
            return None
        return int(pc.max(snap["snapshot_id"]).as_py())

    def load(self) -> CatalogTables:
        def read(files):
            tables = CatalogTables()
            for t in CATALOG_SCHEMAS:
                tables[t] = (
                    pq.read_table(self._file(files[t])).to_pandas(
                        types_mapper=_types_mapper
                    )
                    if t in files
                    else empty_frame(t)
                )
            return tables

        files, tables = self._consistent(read)
        self._live = {name: tables.versions[t] for t, name in files.items()}
        return tables

    def save(self, tables: dict[str, pd.DataFrame]) -> None:
        """Commit ``tables``; the caller holds :meth:`commit_lock`.  A
        table still at the change number of the file the manifest names
        keeps that file; a plain dict (no change numbers) writes every
        table."""
        versions = getattr(tables, "versions", {})
        current = read_manifest(self.path) or {}
        files, live = {}, {}
        for t in CATALOG_SCHEMAS:
            v, name = versions.get(t), current.get(t)
            if v is None or self._live.get(name) != v:
                name = f"{t}-{uuid.uuid4().hex}.parquet"
                _write_table(t, tables.get(t), self._file(name))
            files[t] = name
            if v is not None:
                live[name] = v
        tmp = self._file(MANIFEST + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(files, fh, indent=1)
        os.replace(tmp, self._file(MANIFEST))
        self._live = live
        named = set(files.values())
        for name in os.listdir(self.path):
            if name.endswith(".parquet") and name not in named:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(self._file(name))
