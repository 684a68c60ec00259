"""One path for join mutations and one parser for SET lists.

DELETE … USING, UPDATE … FROM and INSERT … ON CONFLICT DO UPDATE run as
MERGE's arms; every SET list (UPDATE, UPDATE … FROM, MERGE, ON CONFLICT,
UPDATE … RETURNING) goes through ``_parse_set_list``, which also
refuses assignments to generated columns.  Each SET form and each
RETURNING projection is checked against DuckDB running the same
statements (DuckDB 1.0 has no MERGE: its twin is the equivalent
UPDATE … FROM)."""

from __future__ import annotations

import pytest

from ducklakexl_spark.engine import DuckLakeSpark
from tests.test_lakehouse import _group_jobs, rows


@pytest.fixture()
def lake(spark, tmp_path):
    return DuckLakeSpark(
        spark=spark,
        data_path=str(tmp_path / "data"),
        local_catalog=str(tmp_path / "catalog"),
    )


@pytest.fixture()
def twin(lake, duck):
    """Run each statement on the lake and on DuckDB; drop the tables
    DuckDB made afterwards."""
    made = []

    def run(ours: str, theirs: str | None = None):
        if ours.upper().startswith("CREATE TABLE"):
            made.append(ours.split()[2].split("(")[0])
        lake.sql(ours)
        duck.execute(theirs or ours)

    yield run
    for t in made:
        duck.execute(f"DROP TABLE IF EXISTS {t}")


def _same(lake, duck, table: str) -> list[tuple]:
    want = sorted(duck.execute(f"SELECT * FROM {table}").fetchall())
    assert rows(lake.sql(f"SELECT * FROM {table}")) == want
    return want


@pytest.mark.parametrize(
    "stmt",
    [
        "UPDATE jm_r SET V = 99 WHERE id = 1 RETURNING id, v",
        "UPDATE jm_r SET (id, v) = (2, 77) WHERE id = 2 RETURNING id, v",
        # the RETURNING rows read the SET list in DuckDB's dialect, as the
        # UPDATE does
        "UPDATE jm_r SET v = v // 2 WHERE id = 1 RETURNING id, v",
    ],
)
def test_update_returning_shows_the_post_image(lake, duck, twin, stmt):
    twin("CREATE TABLE jm_r(id INTEGER, v INTEGER)")
    twin("INSERT INTO jm_r VALUES (1, 10), (2, 20)")
    got = rows(lake.sql(stmt))
    assert got == sorted(duck.execute(stmt).fetchall())
    _same(lake, duck, "jm_r")


@pytest.mark.parametrize(
    "ours, theirs",
    [
        (
            "MERGE INTO jm_m USING (SELECT 1 AS id) s ON jm_m.id = s.id "
            "WHEN MATCHED THEN UPDATE SET V = 5",
            "UPDATE jm_m SET V = 5 FROM (SELECT 1 AS id) s "
            "WHERE jm_m.id = s.id",
        ),
        ("UPDATE jm_m SET V = 6 FROM jm_k WHERE jm_m.id = jm_k.id", None),
        ("UPDATE jm_m SET (v) = (7) FROM jm_k WHERE jm_m.id = jm_k.id", None),
        (
            "INSERT INTO jm_m VALUES (1, 8) "
            "ON CONFLICT (id) DO UPDATE SET V = excluded.v",
            None,
        ),
        (
            "INSERT INTO jm_m VALUES (1, 9) "
            "ON CONFLICT (id) DO UPDATE SET (v) = (excluded.v)",
            None,
        ),
    ],
)
def test_join_update_set_forms_match_duckdb(lake, duck, twin, ours, theirs):
    """Upper-case and tuple SET targets in the MERGE-backed UPDATE forms
    update the row, as in DuckDB."""
    twin("CREATE TABLE jm_m(id INTEGER PRIMARY KEY, v INTEGER)")
    twin("INSERT INTO jm_m VALUES (1, 10), (2, 20)")
    twin("CREATE TABLE jm_k(id INTEGER)")
    twin("INSERT INTO jm_k VALUES (1)")
    twin(ours, theirs)
    assert (1, 10) not in _same(lake, duck, "jm_m")


def test_set_list_rejects_unknown_columns_and_subquery_tuples(lake):
    lake.sql("CREATE TABLE jm_e(id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO jm_e VALUES (1, 10)")
    for stmt in (
        "UPDATE jm_e SET nope = 1",
        "UPDATE jm_e SET t.nope = 1 FROM (SELECT 1 AS id) t "
        "WHERE jm_e.id = t.id",
        "MERGE INTO jm_e USING (SELECT 1 AS id) s ON jm_e.id = s.id "
        "WHEN MATCHED THEN UPDATE SET nope = 1",
    ):
        with pytest.raises(ValueError, match="no column named 'nope'"):
            lake.sql(stmt)
    with pytest.raises(ValueError, match="arity"):
        lake.sql("UPDATE jm_e SET (id, v) = (1)")
    with pytest.raises(NotImplementedError, match="SELECT"):
        lake.sql("UPDATE jm_e SET (v) = (SELECT 2)")
    assert rows(lake.sql("SELECT * FROM jm_e")) == [(1, 10)]


@pytest.mark.parametrize(
    "ours, theirs",
    [
        ("UPDATE jm_g SET b = 5", None),
        ("UPDATE jm_g SET b = 5 FROM jm_gk WHERE jm_g.a = jm_gk.a", None),
        (
            "MERGE INTO jm_g USING jm_gk ON jm_g.a = jm_gk.a "
            "WHEN MATCHED THEN UPDATE SET b = 5",
            "UPDATE jm_g SET b = 5 FROM jm_gk WHERE jm_g.a = jm_gk.a",
        ),
        (
            "INSERT INTO jm_g (a, v) VALUES (1, 3) "
            "ON CONFLICT (a) DO UPDATE SET b = 5",
            None,
        ),
    ],
    ids=["update", "update-from", "merge", "on-conflict"],
)
def test_set_list_refuses_generated_columns(lake, duck, twin, ours, theirs):
    """Every UPDATE form refuses to assign a generated column, with
    DuckDB's message, and changes nothing."""
    twin("CREATE TABLE jm_g(a INTEGER PRIMARY KEY, v INTEGER, b AS (v * 2))")
    twin("INSERT INTO jm_g (a, v) VALUES (1, 10), (2, 20)")
    twin("CREATE TABLE jm_gk(a INTEGER)")
    twin("INSERT INTO jm_gk VALUES (1)")
    with pytest.raises(Exception, match="generated column") as theirs_err:
        duck.execute(theirs or ours)
    msg = str(theirs_err.value).split("Error: ", 1)[1].rstrip("!")
    before = lake.catalog.current_snapshot
    with pytest.raises(ValueError, match=msg):
        lake.sql(ours)
    assert lake.catalog.current_snapshot == before
    assert _same(lake, duck, "jm_g") == [(1, 10, 20), (2, 20, 40)]


@pytest.mark.parametrize(
    "stmt",
    [
        "UPDATE jm_rp SET v = v + 1 WHERE id = 1 RETURNING id, v // 2 AS h",
        "DELETE FROM jm_rp WHERE id = 2 RETURNING v // 3 AS h",
    ],
)
def test_returning_projections_read_duckdb_dialect(lake, duck, twin, stmt):
    twin("CREATE TABLE jm_rp(id INTEGER, v INTEGER)")
    twin("INSERT INTO jm_rp VALUES (1, 7), (2, 20)")
    got = rows(lake.sql(stmt))
    assert got == sorted(duck.execute(stmt).fetchall())
    _same(lake, duck, "jm_rp")


def test_returning_an_unknown_column_commits_nothing(lake):
    lake.sql("CREATE TABLE jm_ru(id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO jm_ru VALUES (1, 7), (2, 20)")
    before = lake.catalog.current_snapshot
    for stmt in (
        "UPDATE jm_ru SET v = v + 1 WHERE id = 1 RETURNING nope",
        "DELETE FROM jm_ru WHERE id = 2 RETURNING nope",
        "INSERT INTO jm_ru VALUES (3, 30) RETURNING nope",
    ):
        with pytest.raises(Exception, match="nope"):
            lake.sql(stmt)
        assert lake.catalog.current_snapshot == before
        assert rows(lake.sql("SELECT * FROM jm_ru")) == [(1, 7), (2, 20)]


def _compacted(lake):
    """A fixed compacted table with one prior delete file, and a
    three-row source with a duplicate key."""
    lake.sql("CREATE TABLE jm_t(id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO jm_t SELECT i, i * 10 FROM range(0, 20000) r(i)")
    lake.compact("jm_t", sort_by=["id"])
    lake.sql("DELETE FROM jm_t WHERE id = 7")
    lake.sql("CREATE TABLE jm_s(id INTEGER)")
    lake.sql("INSERT INTO jm_s VALUES (3), (3), (500)")


def test_delete_using_job_count(lake):
    """DELETE … USING is MERGE's lone unconditional MATCHED DELETE: a
    semi join, no checkpoint.  Six Spark jobs, as the separate
    join-delete it replaced ran."""
    _compacted(lake)
    jobs = _group_jobs(
        lake.spark, "delete-using",
        lambda: lake.sql("DELETE FROM jm_t USING jm_s WHERE jm_t.id = jm_s.id"),
    )
    assert len(jobs) <= 6
    assert rows(lake.sql("SELECT id FROM jm_t WHERE id < 10 OR id = 500")) == [
        (i,) for i in (0, 1, 2, 4, 5, 6, 8, 9)
    ]
    owners = lake.catalog.delete_files(lake.catalog.table_id("jm_t"))
    assert owners["data_file_id"].is_unique


def test_merge_update_job_count(lake):
    """A MERGE with an UPDATE arm still checkpoints its touched rows
    once: ten Spark jobs on the fixed table, as before the arms were
    folded into one loop."""
    _compacted(lake)
    jobs = _group_jobs(
        lake.spark, "merge-update",
        lambda: lake.sql(
            "MERGE INTO jm_t USING jm_s ON jm_t.id = jm_s.id "
            "WHEN MATCHED THEN UPDATE SET v = -1"
        ),
    )
    assert len(jobs) <= 10
    assert rows(lake.sql("SELECT * FROM jm_t WHERE v < 0")) == [
        (3, -1), (3, -1), (500, -1)
    ]


@pytest.mark.parametrize(
    "script",
    [
        [
            "CREATE TABLE jm_i(id INTEGER, v INTEGER)",
            "INSERT INTO jm_i VALUES (1, 10), (2, 20)",
            "ALTER TABLE jm_i RENAME COLUMN v TO w",
        ],
        [
            "CREATE TABLE jm_i(id INTEGER)",
            "INSERT INTO jm_i VALUES (1)",
            "ALTER TABLE jm_i ADD COLUMN x INTEGER DEFAULT 5",
        ],
    ],
    ids=["renamed-column", "added-default"],
)
def test_flush_inlined_reads_rows_as_a_scan_does(lake, duck, twin, script):
    """Flushing writes the inlined rows as a scan reads them: each column
    under the name it had when the row was inlined, and a column added
    later as its default."""
    lake.sql("SET ducklake.data_inlining_row_limit = 10")
    for stmt in script:
        twin(stmt)
    before = _same(lake, duck, "jm_i")
    assert lake.flush_inlined("jm_i") == len(before)
    tid = lake.catalog.table_id("jm_i")
    assert lake.catalog.inlined_rows(tid).empty
    assert _same(lake, duck, "jm_i") == before
