"""Two writer engines over one catalog store: from real threads, every
interleaving must equal a serial replay of its committed statements
(the harness is tests/fuzz_concurrency.py); and with a hook, a commit
that lands inside another statement's window makes that statement fail
whole."""

from __future__ import annotations

import os

import pytest

from tests.fuzz_concurrency import run_interleaving
from tests.test_lakehouse import rows


def test_concurrency_fuzz_pinned(spark, tmp_path):
    """Pinned fuzz slice for the suite: 4 randomized two-writer
    interleavings (seeds 600-603), zero divergences, and at least one
    genuine ConcurrentWriteError→refresh→retry exercised.  The full
    30-interleaving sweep runs via ``python tests/fuzz_concurrency.py``."""
    total_conflicts = 0
    for seed in range(600, 604):
        conflicts, divergence = run_interleaving(
            spark, str(tmp_path), seed, n_stmts=5
        )
        assert divergence is None, divergence
        total_conflicts += conflicts
    assert total_conflicts >= 1, (
        "no write-write conflict was ever provoked — the harness lost "
        "its interleaving pressure"
    )


def _two_writers(spark, tmp_path):
    from ducklakexl_spark.engine import DuckLakeSpark

    kw = dict(
        spark=spark,
        data_path=str(tmp_path / "data"),
        local_catalog=str(tmp_path / "catalog"),
    )
    a = DuckLakeSpark(**kw)
    a.sql("CREATE TABLE t(id INTEGER, v INTEGER)")
    a.sql("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)")
    return a, DuckLakeSpark(**kw)


def _commit_inside_window(monkeypatch, lake, other, stmt):
    """Make ``other`` run ``stmt`` when ``lake``'s next statement first
    registers data files: after that statement's first catalog change (an
    UPDATE's delete, a MERGE's retiring of inlined rows) and before it
    commits."""
    real = lake.catalog.register_data_files
    fired = []

    def register(*args, **kwargs):
        if not fired:
            fired.append(1)
            other.refresh()
            other.sql(stmt)
        return real(*args, **kwargs)

    monkeypatch.setattr(lake.catalog, "register_data_files", register)
    return fired


@pytest.mark.parametrize(
    "inline, stmt, want",
    [
        (
            False,
            "UPDATE t SET v = v + 1 WHERE id = 3",
            [(1, 10), (2, 20), (3, 31), (7, 70)],
        ),
        (
            True,
            "MERGE INTO t USING (SELECT 3 AS id UNION ALL SELECT 4) s "
            "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = t.v + 1",
            [(1, 10), (2, 20), (3, 31), (4, 41), (7, 70)],
        ),
    ],
    ids=["update", "merge-over-inlined-rows"],
)
def test_a_commit_inside_the_statement_window_loses_nothing(
    spark, tmp_path, monkeypatch, inline, stmt, want
):
    """Another writer commits between a statement's first catalog change
    and its commit: the statement raises ConcurrentWriteError and commits
    none of its changes, so after refresh() the table holds the rows from
    before it plus the other writer's, its files are deleted, and a retry
    applies it once."""
    from ducklakexl_spark.catalog.catalog import ConcurrentWriteError

    a, b = _two_writers(spark, tmp_path)
    if inline:
        a.sql("SET ducklake.data_inlining_row_limit = 10")
        a.sql("INSERT INTO t VALUES (4, 40)")
        assert not a.catalog.inlined_rows(a.catalog.table_id("t")).empty
    before = rows(a.sql("SELECT * FROM t"))
    fired = _commit_inside_window(monkeypatch, a, b, "INSERT INTO t VALUES (7, 70)")
    with pytest.raises(ConcurrentWriteError):
        a.sql(stmt)
    assert fired
    monkeypatch.undo()
    a.refresh()
    assert rows(a.sql("SELECT * FROM t")) == sorted(before + [(7, 70)])
    # the failed statement's data and delete files are gone with it
    cat = a.catalog.tables
    known = set(cat["ducklake_data_file"]["path"]) | set(
        cat["ducklake_delete_file"]["path"]
    )
    on_disk = {
        os.path.join(d, f)
        for d, _s, fs in os.walk(tmp_path / "data")
        for f in fs
        if f.endswith(".parquet")
    }
    # a delete file is the directory its parquet parts sit in
    assert on_disk and all(
        f in known or os.path.dirname(f) in known for f in on_disk
    )
    a.sql(stmt)
    assert rows(a.sql("SELECT * FROM t")) == want
    b.refresh()
    assert rows(b.sql("SELECT * FROM t")) == want
