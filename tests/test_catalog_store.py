"""The catalog store's commit point: immutable table files named by
``manifest.json``, published with one ``os.replace``.

Each test stages the interleaving it checks by hooking the file calls a
commit or a load makes, so it needs no threads and no Spark."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from ducklakexl_spark.catalog import DuckLakeCatalog
from ducklakexl_spark.catalog import store as store_mod
from ducklakexl_spark.catalog.schemas import CATALOG_SCHEMAS
from ducklakexl_spark.catalog.store import MANIFEST, CatalogStore


def _state(tables):
    return {
        t: pa.Table.from_pandas(
            tables[t].copy(), schema=CATALOG_SCHEMAS[t], preserve_index=False
        )
        for t in CATALOG_SCHEMAS
    }


def _same(a, b) -> bool:
    return all(a[t].equals(b[t]) for t in CATALOG_SCHEMAS)


def _manifest(path):
    with open(os.path.join(path, MANIFEST)) as fh:
        return json.load(fh)


def _catalog(tmp_path, name="cat"):
    return DuckLakeCatalog(
        CatalogStore(str(tmp_path / name)), str(tmp_path / "data")
    )


def test_load_overlapping_a_commit_returns_one_committed_state(
    tmp_path, monkeypatch
):
    reader, writer = _catalog(tmp_path), _catalog(tmp_path)
    before = _state(reader.store.load())
    real_read = store_mod.pq.read_table
    calls = []

    def read_table(*a, **k):
        calls.append(1)
        if len(calls) == 3:  # mid-load: another writer commits
            writer.create_table("t", [("id", "INTEGER")])
        return real_read(*a, **k)

    monkeypatch.setattr(store_mod.pq, "read_table", read_table)
    got = _state(reader.store.load())
    monkeypatch.undo()
    after = _state(CatalogStore(reader.store.path).load())
    assert not _same(before, after)
    assert _same(got, before) or _same(got, after), "torn load"


def test_refresh_during_a_commit_does_not_fail_the_writer(
    tmp_path, monkeypatch
):
    writer, other = _catalog(tmp_path), _catalog(tmp_path)
    refreshed = []

    def hooked(real):
        def call(*a, **k):
            if len(refreshed) % 2 == 0:  # not inside the refresh itself
                refreshed.append("start")
                other.refresh()
                refreshed.append("done")
            return real(*a, **k)

        return call

    # a reader refreshes before every rename or replace of the commit
    monkeypatch.setattr(os, "rename", hooked(os.rename))
    monkeypatch.setattr(os, "replace", hooked(os.replace))
    writer.create_table("t", [("id", "INTEGER")])
    monkeypatch.undo()
    assert refreshed
    other.refresh()
    assert other.table_names() == ["t"]
    assert _same(_state(other.tables), _state(writer.tables))


def test_crash_before_manifest_replace_reopens_at_previous_commit(
    tmp_path, monkeypatch
):
    cat = _catalog(tmp_path)
    path = cat.store.path
    committed = _state(cat.tables)

    def crash(*_a, **_k):
        raise KeyboardInterrupt("crash before the manifest replace")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(KeyboardInterrupt):
        cat.create_table("t", [("id", "INTEGER")])
    monkeypatch.undo()
    named = set(_manifest(path).values())
    leftovers = {
        f for f in os.listdir(path) if f.endswith(".parquet")
    } - named
    assert leftovers  # the crashed commit's table files
    reopened = _catalog(tmp_path)
    assert _same(_state(reopened.tables), committed)
    assert reopened.table_names() == []

    reopened.create_table("t", [("id", "INTEGER")])
    files = set(_manifest(path).values())
    assert set(os.listdir(path)) == files | {MANIFEST}
    assert reopened.table_names() == ["t"]


def test_store_of_the_per_table_layout_opens_and_converts(tmp_path):
    """A store of one ``<table>.parquet`` per table and no manifest opens
    with equal tables; its first commit writes a manifest and deletes
    the files it no longer names."""
    src = _catalog(tmp_path, "src")
    src.create_table("t", [("id", "INTEGER")])
    legacy = tmp_path / "legacy"
    legacy.mkdir()
    for t in CATALOG_SCHEMAS:
        store_mod._write_table(t, src.tables[t], str(legacy / f"{t}.parquet"))

    cat = DuckLakeCatalog(CatalogStore(str(legacy)), str(tmp_path / "data"))
    assert _same(_state(cat.tables), _state(src.tables))
    assert not (legacy / MANIFEST).exists()

    cat.create_table("u", [("id", "INTEGER")])
    files = set(_manifest(str(legacy)).values())
    assert set(os.listdir(legacy)) == files | {MANIFEST}
    reopened = DuckLakeCatalog(
        CatalogStore(str(legacy)), str(tmp_path / "data")
    )
    assert sorted(reopened.table_names()) == ["t", "u"]
    assert _same(_state(reopened.tables), _state(cat.tables))


def test_empty_store_beside_an_interrupted_swap_refuses_to_bootstrap(
    tmp_path,
):
    """A commit of the two-directory layout that died between its renames
    left the catalog in ``<store>.old``; opening the empty store raises
    instead of creating a fresh catalog over existing data."""
    src = _catalog(tmp_path, "cat.old")
    backup = tmp_path / "cat.old"
    for name in os.listdir(backup):
        os.remove(backup / name)
    for t in CATALOG_SCHEMAS:
        store_mod._write_table(t, src.tables[t], str(backup / f"{t}.parquet"))
    with pytest.raises(RuntimeError, match="interrupted commit"):
        _catalog(tmp_path)
    assert not os.listdir(tmp_path / "cat")
