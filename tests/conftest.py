from __future__ import annotations

import os

import duckdb
import pytest

os.environ.setdefault("TZ", "UTC")
# the suite's data is sf0.001-sf0.01: a 4 GiB driver heap is ample, and
# get_spark's default (half the process's memory) would let the test JVM
# grow into memory that other processes on the host need
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


@pytest.fixture(scope="session")
def spark():
    from ducklakexl_spark.session import get_spark

    s = get_spark(app_name="ducklakexl_spark_tests", master="local[4]",
                  shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con, sf_dir: str) -> None:
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
