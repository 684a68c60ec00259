"""Round-8 regression tests for the r7 VERDICT tasks and ADVICE findings.

The round-7 gate regression was representational: q01/q03 emitted values
bit-identical to the oracle but typed DECIMAL(29/33/35,2) instead of the
r6-green DOUBLE, and the driver's value hash failed while the local
float-canonicalizing compare passed.  These tests pin (a) the restored
DOUBLE output contract, (b) that the hardened compare harness now FAILS
on the exact r7 formulation, and (c) the ADVICE-r7 fixes (decimal-div
comment guard, dedup cache eviction, timestamp prune normalization).
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import duckdb
import pytest

from ducklakexl_spark.engine import rewrite_decimal_div
from tests.compare import (
    canon_value,
    duck_type_family,
    schema_types_compare,
    spark_type_family,
)
from tests.conftest import SF_DIR


# --------------------------------------------------- VERDICT task 1+2
def test_compare_fails_on_r7_q01_formulation(spark, duck):
    """The EXACT r7 failure class: Spark round(sum(decimal)) widens to
    DECIMAL(29,2) while DuckDB widens to DECIMAL(38,2) — values equal,
    representation drifted.  The hardened harness must refuse it."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    # r7 q01 shape: decimal stays in the OUTPUT column (the regression)
    df = li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2
        ).alias("sum_base_price")
    )
    assert dict(df.dtypes)["sum_base_price"] == "decimal(29,2)"
    res = duck.sql(
        f"""
        SELECT l_returnflag,
               round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                   AS sum_base_price
        FROM read_parquet('{SF_DIR}/lineitem.parquet')
        GROUP BY l_returnflag
        """
    )
    with pytest.raises(AssertionError, match="output-dtype drift"):
        schema_types_compare(df, res, name="r7_q01_shape")


def test_type_family_mapping():
    # int widths collapse to one family (grouping() tinyint vs BIGINT
    # passed four decades of driver/sweep hashes)
    assert spark_type_family("tinyint") == duck_type_family("BIGINT")
    # float vs decimal is a mismatch even at same rendered value
    assert spark_type_family("double") != duck_type_family("DECIMAL(18,2)")
    # decimal needs exact (p, s)
    assert spark_type_family("decimal(29,2)") != duck_type_family(
        "DECIMAL(38,2)"
    )
    assert spark_type_family("decimal(38,2)") == duck_type_family(
        "DECIMAL(38,2)"
    )
    assert spark_type_family("double") == duck_type_family("DOUBLE")


def test_canon_value_strict_keeps_type_families():
    # strict: Decimal('3.50') != 3.5 (their reprs hash differently)
    assert canon_value(Decimal("3.50")) != canon_value(3.5)
    assert canon_value(Decimal("3.50")) != canon_value(Decimal("3.5"))
    # strict: int 3 != float 3.0
    assert canon_value(3) != canon_value(3.0)
    # legacy mode still floats decimals (diagnostic use)
    assert canon_value(Decimal("3.50"), strict=False) == canon_value(
        3.5, strict=False
    )


def test_q01_q03_output_contract_is_double(spark):
    """The r6-green contract: every money aggregate column is DOUBLE.
    (Values are produced by internal exact-decimal sums — only the final
    rounded output casts to double.)"""
    from ducklakexl_spark import queries as qmod

    qmod.load_all()
    # dtypes need no execution — the plan alone carries the contract
    q01 = qmod.QUERIES["q01_pricing_summary"](spark, SF_DIR)
    t01 = dict(q01.dtypes)
    for c in ("sum_base_price", "sum_disc_price", "sum_charge",
              "avg_qty", "avg_price", "avg_disc", "sum_qty"):
        assert t01[c] == "double", (c, t01[c])
    q03 = qmod.QUERIES["q03_shipping_priority"](spark, SF_DIR)
    assert dict(q03.dtypes)["revenue"] == "double"


def test_registry_has_no_decimal_output_columns(spark):
    """Sweep the whole hash-gated registry's output schemas: no decimal
    column may reach an output, because the scorer's value hash floats
    one side's decimals (the answer of the retired representation
    canaries)."""
    from ducklakexl_spark import queries as qmod

    qmod.load_all()
    offenders = []
    for name in sorted(qmod.ORACLES):
        if name.startswith(("lakehouse_", "stream_")):
            continue  # stateful flows rebuild
        try:
            df = qmod.QUERIES[name](spark, SF_DIR)
        except Exception:
            continue  # non-buildable at this SF (scale-only ops)
        for c, t in df.dtypes:
            if t.startswith("decimal"):
                offenders.append((name, c, t))
    assert not offenders, offenders


def test_windowed_stateful_queries_have_no_decimal_outputs(spark):
    """ADVICE r8 #3: the blanket lakehouse_/stream_ prefix skip above
    would let a decimal output regress into the two stateful queries
    that sit INSIDE the driver's scored top-50 window
    (lakehouse_roundtrip, stream_tumbling_hour) and reproduce the r7
    gate-failure class.  Build them for real — they are buildable in
    the test env (throwaway lake / real micro-batch drive) — and
    assert the no-decimal policy on their actual output schemas."""
    from ducklakexl_spark import queries as qmod

    qmod.load_all()
    for name in ("lakehouse_roundtrip", "stream_tumbling_hour"):
        df = qmod.QUERIES[name](spark, SF_DIR)
        for c, t in df.dtypes:
            assert not t.startswith("decimal"), (name, c, t)


# --------------------------------------------------- ADVICE r7 #2
def test_decimal_div_after_block_comment():
    """`a/*c*// 2` — the division after `*/` is a real divide and must be
    CAST-wrapped; the old out[-1].endswith('/') guard read it as the
    tail of a `//` integer-div."""
    assert (
        rewrite_decimal_div("SELECT a/*c*// 2 FROM t")
        == "SELECT a/*c*// CAST(2 AS DOUBLE) FROM t"
    )
    # integer div still untouched
    assert rewrite_decimal_div("SELECT a // 2 FROM t") == "SELECT a // 2 FROM t"
    # normal division still wrapped
    assert (
        rewrite_decimal_div("SELECT a / b FROM t")
        == "SELECT a / CAST(b AS DOUBLE) FROM t"
    )
    # comment content itself never rewritten
    assert (
        rewrite_decimal_div("SELECT a /* x/y */ FROM t")
        == "SELECT a /* x/y */ FROM t"
    )


# --------------------------------------------------- ADVICE r7 #3
def test_dedup_index_caps_to_one_sf_dir(spark):
    from ducklakexl_spark.queries import dedup

    dedup.invalidate_dedup_index(spark)
    dedup.shingle_rows(spark, SF_DIR)
    assert list(dedup._SHINGLE_CACHE[spark]) == [SF_DIR]
    other = "/root/testdata/sf0.01"
    dedup.shingle_rows(spark, other)
    # crossing to a new corpus evicted the old index
    assert list(dedup._SHINGLE_CACHE[spark]) == [other]
    dedup.invalidate_dedup_index(spark)
    assert spark not in dedup._SHINGLE_CACHE or not dedup._SHINGLE_CACHE.get(
        spark
    )


# --------------------------------------------------- ADVICE r7 #1
def test_timestamp_prune_bounds_are_utc_instants(spark, tmp_path):
    """Timestamp-keyed MERGE pruning: the catalog preds passed to
    _skip_files must be the true UTC instants (naive-UTC or tz-aware),
    never raw OS-local naive datetimes.  On a UTC box the two coincide;
    this pins the normalized FORM so a non-UTC driver can't shift the
    window (ADVICE r7 medium)."""
    from ducklakexl_spark.engine import DuckLakeSpark

    lake = DuckLakeSpark(
        spark=spark,
        data_path=str(tmp_path / "d"),
        local_catalog=str(tmp_path / "c"),
    )
    lake.sql("CREATE TABLE tsk(ts TIMESTAMP, v INT)")
    lake.sql(
        "INSERT INTO tsk VALUES (TIMESTAMP '2024-06-01 12:00:00', 1), "
        "(TIMESTAMP '2024-06-02 12:00:00', 2)"
    )
    src = spark.createDataFrame(
        [(dt.datetime(2024, 6, 1, 12, 0, 0), 10)], "ts timestamp, v int"
    )
    src.createOrReplaceTempView("tsk_src")
    tdf = lake.table("tsk")
    pruned, preds = lake._prune_by_source_bounds(
        tdf, src, "t.ts = s.ts", "t", "s", {"ts", "v"}, {"ts", "v"}
    )
    ts_preds = [(c, op, v) for c, op, v in preds if c == "ts"]
    assert len(ts_preds) == 2
    for _c, _op, v in ts_preds:
        assert isinstance(v, dt.datetime)
        # normalized form: naive values are UTC instants by contract
        if v.tzinfo is not None:
            assert v.utcoffset() == dt.timedelta(0)
        else:
            assert v == dt.datetime(2024, 6, 1, 12, 0, 0)
    # and the MERGE built on it still matches the row
    lake.sql(
        "MERGE INTO tsk t USING tsk_src s ON t.ts = s.ts "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    got = {tuple(r) for r in lake.sql("SELECT v FROM tsk").collect()}
    assert got == {(10,), (2,)}


# --------------------------------------------------- VERDICT task 8
class TestJsonArrowOperator:
    """The JSON `->` operator over catalog-resolved columns (top item in
    VERDICT r7 'What's missing').  DuckDB-verified semantics: `->` on a
    JSON or VARCHAR column extracts (implicit VARCHAR→JSON cast); a bare
    identifier in the direct argument position of a lambda HOF is the
    lambda parameter even when it shadows a string-typed column."""

    @pytest.fixture()
    def jlake(self, spark, tmp_path):
        from ducklakexl_spark.engine import DuckLakeSpark

        lake = DuckLakeSpark(
            spark=spark,
            data_path=str(tmp_path / "d"),
            local_catalog=str(tmp_path / "c"),
        )
        con = duckdb.connect()
        for ex in (con.execute, lake.sql):
            ex("CREATE TABLE jt(id INT, j JSON)")
            ex(
                'INSERT INTO jt VALUES '
                '(1, \'{"a": {"b": 7}, "arr": [1,2,3], "s": "txt"}\'), '
                '(2, \'{"a": {"b": 9}}\'), (3, NULL)'
            )
            ex("CREATE TABLE vt(id INT, j VARCHAR)")
            ex('INSERT INTO vt VALUES (1, \'{"a": 10}\')')
        return lake, con

    QUERIES = [
        "SELECT id, j->'a' AS ja FROM jt ORDER BY id",
        "SELECT id, j->'a'->'b' AS jb FROM jt ORDER BY id",        # chained ->
        "SELECT id, j->'a'->>'b' AS tb FROM jt ORDER BY id",       # -> then ->>
        "SELECT id, j->'arr'->1 AS a1 FROM jt ORDER BY id",        # array index
        "SELECT id, j->'s' AS js, j->>'s' AS ts FROM jt ORDER BY id",
        "SELECT id, j->'$.a.b' AS pb, j->>'$.arr[2]' AS p2 FROM jt ORDER BY id",
        "SELECT id, j->'missing' AS jm FROM jt ORDER BY id",
        "SELECT t.id, t.j->'a' AS ja FROM jt t ORDER BY t.id",     # alias-qualified
        "SELECT id FROM jt WHERE j->>'a' IS NOT NULL ORDER BY id",
        "SELECT j->'a' AS ja FROM vt",                             # VARCHAR col extracts
        "SELECT t.j->'a' AS ja FROM vt t",
        # lambda precedence: param shadows a string-typed column name
        "SELECT list_transform([5], j -> 1) AS lt FROM vt",
        "SELECT list_transform([5], j -> j + 1) AS lt FROM vt",
        "SELECT list_filter([1,2,3], x -> x > 1) AS lf",           # plain lambda parses
    ]

    @pytest.mark.parametrize("q", QUERIES)
    def test_differential(self, jlake, q):
        lake, con = jlake
        dres = [tuple(str(x) for x in r) for r in con.sql(q).fetchall()]
        sres = [tuple(str(x) for x in r) for r in lake.sql(q).collect()]
        assert sres == dres, f"{q}\n duck ={dres}\n spark={sres}"

    def test_json_column_type_roundtrips(self, jlake):
        lake, _ = jlake
        desc = {
            r["column_name"]: r["column_type"]
            for r in lake.sql("DESCRIBE jt").collect()
        }
        assert desc["j"].upper() == "JSON"


# --------------------------------------------------- VERDICT task 9
class TestValuesAliasTyping:
    """VALUES-alias column types resolved by analyzing the VALUES
    literals (closes the documented text-layer boundary): string/map
    subscripts over ``(VALUES …) v(c)`` columns now take their
    DuckDB-typed semantics instead of defaults."""

    @pytest.fixture()
    def vlake(self, spark, tmp_path):
        from ducklakexl_spark.engine import DuckLakeSpark

        lake = DuckLakeSpark(
            spark=spark,
            data_path=str(tmp_path / "d"),
            local_catalog=str(tmp_path / "c"),
        )
        con = duckdb.connect()
        for ex in (con.execute, lake.sql):
            ex("CREATE TABLE vst(id INT, c VARCHAR)")
            ex("INSERT INTO vst VALUES (1, 'abcdef')")
        return lake, con

    QUERIES = [
        # string subscript / slice, qualified and bare
        "SELECT v.c[2] AS ch, v.c[1:3] AS sl FROM (VALUES ('hello'), ('world')) v(c)",
        "SELECT c[2] AS ch FROM (VALUES ('hello')) v(c)",
        "SELECT c[-2] AS ch, c[2:] AS sl FROM (VALUES ('hello')) v(c)",
        # map subscript takes DuckDB's list-wrap semantics
        "SELECT m['a'] AS x FROM (VALUES (MAP {'a': 1}), (MAP {'a': 2})) v(m)",
        "SELECT v.m['a'] AS x, v.m['zz'] AS miss FROM (VALUES (MAP {'a': 1})) v(m)",
        # NULL rows don't break classification
        "SELECT c[1] AS ch FROM (VALUES ('x'), (NULL)) v(c) ORDER BY ch",
        # non-string literals stay default semantics
        "SELECT c + 1 AS n FROM (VALUES (1), (2)) v(c) ORDER BY n",
        # scope: VALUES alias beside a catalog table with same col name
        "SELECT t.c[2] AS tc, v.c[2] AS vc FROM vst t, (VALUES ('hello')) v(c)",
        # JSON arrow over a VALUES string column (VARCHAR implicit cast)
        "SELECT v.c->'a' AS ja FROM (VALUES ('{\"a\": 5}')) v(c)",
        "SELECT c->>'a' AS ta FROM (VALUES ('{\"a\": 5}')) v(c)",
        # multi-column tuples classify per-position
        "SELECT a[1] AS c1, b['k'] AS c2 FROM (VALUES ('xy', MAP {'k': 9})) v(a, b)",
    ]

    @pytest.mark.parametrize("q", QUERIES)
    def test_differential(self, vlake, q):
        lake, con = vlake
        dres = [tuple(str(x) for x in r) for r in con.sql(q).fetchall()]
        sres = [tuple(str(x) for x in r) for r in lake.sql(q).collect()]
        assert sres == dres, f"{q}\n duck ={dres}\n spark={sres}"

    def test_fuzz_values_subscripts(self, vlake):
        """Small deterministic fuzz family over VALUES-sourced string
        subscripts: every (string, index/slice) combination must match
        DuckDB exactly (the VERDICT-r7 task-9 'zero finds' gate)."""
        lake, con = vlake
        strings = ["'hello'", "'a'", "''", "'xy''z'"]
        subs = ["[1]", "[2]", "[0]", "[-1]", "[6]", "[1:2]", "[2:]",
                "[:2]", "[-3:-1]", "[0:0]"]
        fails = []
        for s in strings:
            for sub in subs:
                q = f"SELECT c{sub} AS r FROM (VALUES ({s})) v(c)"
                dres = [tuple(r) for r in con.sql(q).fetchall()]
                sres = [tuple(r) for r in lake.sql(q).collect()]
                if sres != dres:
                    fails.append((q, dres, sres))
        assert not fails, fails[:5]
