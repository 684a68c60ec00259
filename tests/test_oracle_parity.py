"""Every registered (query, oracle) pair must hash-match DuckDB — the
local twin of the driver's CORRECTNESS gate, run at sf0.001 for speed
(driver uses sf0.01; set SPARK_GRAFT_TEST_SF_DIR to override)."""

from __future__ import annotations

import pytest

from ducklakexl_spark import queries as qmod
from tests.compare import compare
from tests.conftest import SF_DIR, register_duck_views

qmod.load_all()


@pytest.fixture(scope="module")
def duck_views(duck):
    register_duck_views(duck, SF_DIR)
    return duck


ORACLE_NAMES = sorted(qmod.ORACLES)
ROWS_ONLY_NAMES = sorted(set(qmod.QUERIES) - set(qmod.ORACLES))


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(name, spark, duck_views):
    df = qmod.QUERIES[name](spark, SF_DIR)
    compare(df, duck_views, qmod.ORACLES[name], name=name)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(name, spark):
    df = qmod.QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_sessionize_counts_subsecond_gap(spark, tmp_path):
    """A gap of 30 min plus 50 ms starts a new session, as in the
    oracle; whole-second gap arithmetic would call it 30 min flat."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 900_000)
    gap = dt.timedelta(minutes=30, milliseconds=50)
    ts = [t0, t0 + gap, t0 + gap + dt.timedelta(minutes=5), t0]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3, 4], pa.int64()),
                "user_id": pa.array([1, 1, 1, 2], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    df = qmod.QUERIES["sessionize_events"](spark, str(tmp_path))
    assert sorted(tuple(r) for r in df.collect()) == [(1, 2, 3), (2, 1, 1)]
    with duckdb.connect() as con:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'events.parquet'}')"
        )
        compare(df, con, qmod.ORACLES["sessionize_events"],
                name="sessionize_events")
