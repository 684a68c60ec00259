"""Lakehouse-engine queries: exercise DuckLakeSpark (catalog, snapshots,
DML, time travel) end to end inside the driver's queries()/oracle_sql()
gate.  Oracles are constant VALUES tables because the engine flows are
fully deterministic — they replay the reference's own smoke sequence
(ducklakexl.py:716-741 and test_module.ipynb cell 4/8) and assert the
same visible end states.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession

from ducklakexl_spark.engine import DuckLakeSpark
from ducklakexl_spark.queries import query


def _fresh_lake(spark: SparkSession) -> DuckLakeSpark:
    tmp = tempfile.mkdtemp(prefix="ducklake_q_")
    return DuckLakeSpark(
        spark=spark, data_path=f"{tmp}/data", local_catalog=f"{tmp}/catalog"
    )


@query(
    "lakehouse_roundtrip",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (1, 'alpha'), (2, 'beta'), (4, 'delta'), (5, 'epsilon')
    ) t(id, val)
    """,
)
def lakehouse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay of the reference's test_excel() statement flow
    (ducklakexl.py:716-741) + the notebook's epsilon insert: CREATE →
    INSERT 4 → DELETE gamma → INSERT epsilon → SELECT."""
    lake = _fresh_lake(spark)
    return lake.sql(
        """
        USE my_excel_ducklake;
        CREATE TABLE my_table(id INTEGER, val VARCHAR);
        INSERT INTO my_table VALUES (1, 'alpha'), (2, 'beta'),
                                    (3, 'gamma'), (4, 'delta');
        DELETE FROM my_table WHERE id = 3;
        INSERT INTO my_table VALUES (5, 'epsilon');
        SELECT * FROM my_table;
        """
    )


@query(
    "lakehouse_time_travel",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (2, 'after_insert', 4), (3, 'after_delete', 2), (4, 'now', 3)
    ) t(snapshot_probe, label, n_rows)
    """,
)
def lakehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation: row counts AT (VERSION => n) before and after a
    DELETE (SURVEY §2.C row "time travel / snapshots")."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE tt(id INTEGER, val VARCHAR);
        INSERT INTO tt VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d');
        DELETE FROM tt WHERE id IN (1, 3);
        INSERT INTO tt VALUES (5,'e');
        """
    )
    return lake.sql(
        """
        SELECT 2 AS snapshot_probe, 'after_insert' AS label,
               (SELECT count(*) FROM tt AT (VERSION => 2)) AS n_rows
        UNION ALL
        SELECT 3, 'after_delete', (SELECT count(*) FROM tt AT (VERSION => 3))
        UNION ALL
        SELECT 4, 'now', (SELECT count(*) FROM tt AT (VERSION => 4))
        """
    )


@query(
    "lakehouse_update_ctas",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (1, 'A', CAST(20.0 AS DOUBLE)), (2, 'B', CAST(40.0 AS DOUBLE))
    ) t(id, val, n)
    """,
)
def lakehouse_update_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE (a positional delete file), UPDATE (= delete + rewrite; its
    WHERE covers the whole file, which retires in the catalog) then CTAS
    over the result."""
    lake = _fresh_lake(spark)
    return lake.sql(
        """
        CREATE TABLE base(id INTEGER, val VARCHAR, n DOUBLE);
        INSERT INTO base VALUES (1,'a',10.0),(2,'b',20.0),(3,'drop',0.0);
        DELETE FROM base WHERE val = 'drop';
        UPDATE base SET n = n * 2, val = upper(val) WHERE id >= 1;
        CREATE TABLE derived AS SELECT id, val, n FROM base;
        SELECT * FROM derived;
        """
    )


@query(
    "lakehouse_merge_compact",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (1, 10), (2, 25), (3, 30), (4, 40)
    ) t(id, qty)
    """,
)
def lakehouse_merge_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert then small-file compaction: content identical across
    the file-set swap, delete files folded in, one snapshot per step."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE inv(id INTEGER, qty INTEGER);
        INSERT INTO inv VALUES (1, 10), (2, 20);
        INSERT INTO inv VALUES (4, 40);
        CREATE TABLE delta(id INTEGER, qty INTEGER);
        INSERT INTO delta VALUES (2, 25), (3, 30);
        MERGE INTO inv USING delta AS d ON inv.id = d.id
        WHEN MATCHED THEN UPDATE SET qty = d.qty
        WHEN NOT MATCHED THEN INSERT VALUES (d.id, d.qty);
        """
    )
    lake.compact("inv")
    return lake.sql("SELECT * FROM inv;")


@query(
    "lakehouse_zorder_compact",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (1, 'rows',       CAST(64 AS BIGINT)),
      (2, 'sum_a',      CAST(224 AS BIGINT)),
      (3, 'sum_b',      CAST(224 AS BIGINT)),
      (4, 'files_ge_2', CAST(1 AS BIGINT)),
      (5, 'prune_a',    CAST(1 AS BIGINT)),
      (6, 'prune_b',    CAST(1 AS BIGINT))
    ) t(probe, label, n)
    """,
)
def lakehouse_zorder_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compact(zorder_by=[a, b]): content survives the clustered rewrite
    and the per-file min/max stats prune on BOTH interleaved dimensions
    (a sort_by=[a] layout could only prune on a)."""
    lake = _fresh_lake(spark)
    vals = ", ".join(f"({a}, {b})" for a in range(8) for b in range(8))
    lake.sql(
        f"""
        CREATE TABLE zg(a INTEGER, b INTEGER);
        INSERT INTO zg VALUES {vals};
        """
    )
    tid = lake.catalog.table_id("zg")
    total = int(
        lake.catalog.data_files(tid)["file_size_bytes"].fillna(0).sum()
    )
    lake.compact("zg", target_file_bytes=max(1, total // 4), zorder_by=["a", "b"])
    files = lake.catalog.data_files(tid)
    paths = list(files["path"])
    kept_a = lake._skip_files(tid, None, paths, [("a", ">", 6)])
    kept_b = lake._skip_files(tid, None, paths, [("b", ">", 6)])
    agg = lake.sql("SELECT count(*) AS c, sum(a) AS sa, sum(b) AS sb FROM zg;").first()
    probe = [
        (1, "rows", int(agg["c"])),
        (2, "sum_a", int(agg["sa"])),
        (3, "sum_b", int(agg["sb"])),
        (4, "files_ge_2", int(len(files) >= 2)),
        (5, "prune_a", int(len(kept_a) < len(files))),
        (6, "prune_b", int(len(kept_b) < len(files))),
    ]
    return spark.createDataFrame(probe, "probe int, label string, n bigint")


@query(
    "lakehouse_schema_evolution",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (CAST(2 AS BIGINT), 'pre_alter_cols',  CAST(2 AS BIGINT)),
      (CAST(2 AS BIGINT), 'pre_alter_rows',  CAST(2 AS BIGINT)),
      (CAST(4 AS BIGINT), 'post_alter_cols', CAST(3 AS BIGINT)),
      (CAST(4 AS BIGINT), 'null_filled',     CAST(2 AS BIGINT)),
      (CAST(4 AS BIGINT), 'scored',          CAST(1 AS BIGINT))
    ) t(snapshot_probe, label, n)
    """,
)
def lakehouse_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD COLUMN as an MVCC ducklake_column transition
    (VERDICT r1 missing #1): rows written before the ALTER NULL-fill the
    new column with no data rewrite, and time travel to a pre-ALTER
    snapshot still presents the old 2-column schema."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE ev(id INTEGER, val VARCHAR);
        INSERT INTO ev VALUES (1, 'a'), (2, 'b');
        ALTER TABLE ev ADD COLUMN score BIGINT;
        INSERT INTO ev VALUES (3, 'c', 30);
        """
    )
    old = lake.sql("SELECT * FROM ev AT (VERSION => 2)")
    cur = lake.sql("SELECT * FROM ev")
    import pyspark.sql.functions as F

    probe = [
        (2, "pre_alter_cols", len(old.columns)),
        (2, "pre_alter_rows", old.count()),
        (4, "post_alter_cols", len(cur.columns)),
        (4, "null_filled", cur.filter(F.col("score").isNull()).count()),
        (4, "scored", cur.filter(F.col("score").isNotNull()).count()),
    ]
    return spark.createDataFrame(
        probe, "snapshot_probe bigint, label string, n bigint"
    )


@query(
    "lakehouse_qualify_ilike",
    pure=False,
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           round(o_totalprice, 2) AS price,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey) AS rnk
    FROM orders
    WHERE o_orderpriority ILIKE '%urgent%'
    QUALIFY rnk <= 3
    ORDER BY o_orderpriority, rnk
    """,
)
def lakehouse_qualify_ilike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY + ILIKE routed through the engine's sql() TEXT path
    (VERDICT r1 missing #2): the DuckDB-dialect statement the reference
    would accept runs verbatim — QUALIFY rewrites to a wrapped subquery,
    ILIKE parses natively in Spark SQL."""
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        SELECT o_orderpriority, o_orderkey,
               round(o_totalprice, 2) AS price,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM read_parquet('{sf_dir}/orders.parquet')
        WHERE o_orderpriority ILIKE '%urgent%'
        QUALIFY rnk <= 3
        ORDER BY o_orderpriority, rnk
        """
    )


@query(
    "lakehouse_exclude_alias_join",
    pure=False,
    oracle="""
    SELECT c.* EXCLUDE (c_acctbal, c_mktsegment),
           n.n_name
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_custkey <= 50
    """,
)
def lakehouse_exclude_alias_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias-qualified ``c.* EXCLUDE (…)`` across a join through sql()
    text — rewritten to Spark's native ``c.* EXCEPT(…)``."""
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        SELECT c.* EXCLUDE (c_acctbal, c_mktsegment),
               n.n_name
        FROM read_parquet('{sf_dir}/customer.parquet') c
        JOIN read_parquet('{sf_dir}/nation.parquet') n
          ON c.c_nationkey = n.n_nationkey
        WHERE c.c_custkey <= 50
        """
    )


@query(
    "lakehouse_at_timestamp",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      ('as_of_insert_1', CAST(2 AS BIGINT)), ('now', CAST(3 AS BIGINT))
    ) t(label, n)
    """,
)
def lakehouse_at_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``AT (TIMESTAMP => …)`` time travel: the statement resolves to the
    last snapshot at-or-before the given wall-clock time."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE t(id INTEGER);
        INSERT INTO t VALUES (1), (2);
        """
    )
    snaps = lake.catalog.snapshots()
    ts = snaps[snaps["snapshot_id"] == 2]["snapshot_time"].iloc[0].isoformat()
    lake.sql("INSERT INTO t VALUES (3)")
    return lake.sql(
        f"""
        SELECT 'as_of_insert_1' AS label,
               (SELECT count(*) FROM t AT (TIMESTAMP => '{ts}')) AS n
        UNION ALL
        SELECT 'now', (SELECT count(*) FROM t)
        """
    )


@query(
    "lakehouse_recursive_cte",
    pure=False,
    oracle="""
    WITH RECURSIVE reach(node) AS (
      SELECT 1
      UNION
      SELECT e.dst FROM reach r
      JOIN (VALUES (1,2),(2,3),(3,4),(4,2),(10,11)) e(src, dst)
        ON e.src = r.node
    )
    SELECT node FROM reach
    """,
)
def lakehouse_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH RECURSIVE`` accepted as sql() TEXT (VERDICT r1 missing #5):
    the engine runs the semi-naive fixpoint loop (cycle-safe via UNION
    dedup) against a lake table; DuckDB's native recursive CTE is the
    oracle."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE edges(src INTEGER, dst INTEGER);
        INSERT INTO edges VALUES (1,2),(2,3),(3,4),(4,2),(10,11);
        """
    )
    return lake.sql(
        """
        WITH RECURSIVE reach(node) AS (
          SELECT 1
          UNION
          SELECT e.dst FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node FROM reach
        """
    )


@query(
    "lakehouse_tablesample",
    pure=False,
    oracle="""
    SELECT count(*) AS n_total, TRUE AS sample_within_bounds
    FROM orders
    """,
)
def lakehouse_tablesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``USING SAMPLE 50%`` accepted as sql() TEXT (VERDICT r1 missing
    #6), rewritten to Spark's TABLESAMPLE.  Row-level Bernoulli sampling
    is engine-specific, so the audited output is the exact total plus a
    bound check: the sampled count must land within [30%, 70%] of the
    total (Chernoff-tight at every fixture SF)."""
    import pyspark.sql.functions as F

    lake = _fresh_lake(spark)
    sampled = lake.sql(
        f"SELECT count(*) AS n FROM read_parquet('{sf_dir}/orders.parquet') "
        f"USING SAMPLE 50% (bernoulli, 42)"
    ).collect()[0]["n"]
    total = lake.sql(
        f"SELECT count(*) AS n FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    return total.select(
        F.col("n").alias("n_total"),
        (
            (F.lit(sampled) >= 0.3 * F.col("n"))
            & (F.lit(sampled) <= 0.7 * F.col("n"))
        ).alias("sample_within_bounds"),
    )


@query(
    "lakehouse_distinct_on",
    pure=False,
    oracle="""
    SELECT DISTINCT ON (o_custkey)
           o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS orderdate,
           round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_custkey <= 200
    ORDER BY o_custkey, o_orderdate DESC, o_orderkey
    """,
)
def lakehouse_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT DISTINCT ON`` (DuckDB/Postgres sugar) through sql()
    TEXT: each customer's most recent order, rewritten to a
    row_number-over-partition window — the standard decorrelation, one
    shuffle on the key.  DuckDB runs the same statement natively as the
    oracle."""
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        SELECT DISTINCT ON (o_custkey)
               o_custkey, o_orderkey,
               CAST(o_orderdate AS DATE) AS orderdate,
               round(o_totalprice, 2) AS price
        FROM read_parquet('{sf_dir}/orders.parquet')
        WHERE o_custkey <= 200
        ORDER BY o_custkey, o_orderdate DESC, o_orderkey
        """
    )


@query(
    "lakehouse_group_by_all",
    pure=False,
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           round(sum(o_totalprice), 2) AS total_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY ALL
    """,
)
def lakehouse_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` (DuckDB sugar) through sql()
    TEXT — Spark 4 parses both natively, so the dialect surface lines up
    with no rewrite; registered to pin that behavior."""
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus,
               round(sum(o_totalprice), 2) AS total_price,
               count(*) AS n_orders
        FROM read_parquet('{sf_dir}/orders.parquet')
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "lakehouse_merge_by_source",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (2, 'B'), (4, 'd')
    ) t(id, v)
    """,
)
def lakehouse_merge_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-sync MERGE (``WHEN NOT MATCHED BY SOURCE``): one statement
    upserts the snapshot AND deletes target rows the source no longer
    carries — matched updates and source-orphans both become positional
    delete entries plus appends in a single catalog snapshot; the
    by-source arm is a left-anti join on the merge key (co-partitioned
    with the match join, no row explosion)."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE cur(id INTEGER, v VARCHAR);
        INSERT INTO cur VALUES (1, 'a'), (2, 'b'), (3, 'c');
        CREATE TABLE snap(id INTEGER, v VARCHAR);
        INSERT INTO snap VALUES (2, 'B'), (4, 'd');
        MERGE INTO cur USING snap AS s ON cur.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.v)
        WHEN NOT MATCHED BY SOURCE THEN DELETE;
        """
    )
    return lake.sql("SELECT * FROM cur;")


@query(
    "lakehouse_cluster_compact",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (1, 'a'), (2, 'd'), (3, 'g'), (50, 'b'), (51, 'e'),
      (52, 'h'), (100, 'c'), (101, 'f'), (102, 'i')
    ) t(id, v)
    """,
)
def lakehouse_cluster_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered compaction (OPTIMIZE … SORT BY): a range repartition on
    the key folds interleaved micro-batch files into files with disjoint
    key intervals, making min/max stats selective for range predicates —
    content identical across the rewrite, one snapshot."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE cl(id INTEGER, v VARCHAR);
        INSERT INTO cl VALUES (1,'a'), (50,'b'), (100,'c');
        INSERT INTO cl VALUES (2,'d'), (51,'e'), (101,'f');
        INSERT INTO cl VALUES (3,'g'), (52,'h'), (102,'i');
        """
    )
    lake.compact("cl", target_file_bytes=1, sort_by=["id"])
    return lake.sql("SELECT * FROM cl;")


@query(
    "lakehouse_transaction",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES (1, 'keep'), (4, 'committed')) t(id, v)
    """,
)
def lakehouse_transaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-statement transactions through sql() text: a rolled-back
    transaction leaves neither catalog rows nor data files behind (the
    store never persists mid-transaction state), and a committed one
    lands as one atomic store swap."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE tx(id INTEGER, v VARCHAR);
        INSERT INTO tx VALUES (1, 'keep');
        BEGIN;
        INSERT INTO tx VALUES (2, 'discarded');
        INSERT INTO tx VALUES (3, 'discarded');
        ROLLBACK;
        BEGIN;
        INSERT INTO tx VALUES (4, 'committed');
        COMMIT;
        """
    )
    return lake.sql("SELECT * FROM tx;")


@query(
    "lakehouse_table_changes",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (2, 'B',  'insert'),
      (4, 'd',  'insert'),
      (2, 'b',  'delete'),
      (3, 'c',  'delete')
    ) t(id, v, change_type)
    """,
)
def lakehouse_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed: ``table_changes('t', from, to)`` through sql()
    text diffs two snapshots — an UPDATE shows as its delete+insert
    pair, a DELETE as a delete row.  The DuckLake
    ducklake_table_changes surface, computed as two co-partitioned
    exceptAll aggregations."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE cdc(id INTEGER, v VARCHAR);
        INSERT INTO cdc VALUES (1, 'a'), (2, 'b'), (3, 'c');
        UPDATE cdc SET v = 'B' WHERE id = 2;
        DELETE FROM cdc WHERE id = 3;
        INSERT INTO cdc VALUES (4, 'd');
        """
    )
    base = 2  # snapshot after the first INSERT
    cur = lake.catalog.current_snapshot
    return lake.sql(f"SELECT * FROM table_changes('cdc', {base}, {cur})")


@query(
    "lakehouse_split_change_feeds",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (2, 'B',  'ins'),
      (4, 'd',  'ins'),
      (2, 'b',  'del'),
      (3, 'c',  'del')
    ) t(id, v, feed)
    """,
)
def lakehouse_split_change_feeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DuckLake spec's split CDC surface —
    ``ducklake_table_insertions`` / ``ducklake_table_deletions`` TVFs
    through sql() text (optional schema argument accepted, spec
    signature).  Each feed is ONE exceptAll between the two snapshot
    scans, so a consumer that only needs inserts (the common CDC-ingest
    case) never pays the delete-side diff."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE cdc2(id INTEGER, v VARCHAR);
        INSERT INTO cdc2 VALUES (1, 'a'), (2, 'b'), (3, 'c');
        UPDATE cdc2 SET v = 'B' WHERE id = 2;
        DELETE FROM cdc2 WHERE id = 3;
        INSERT INTO cdc2 VALUES (4, 'd');
        """
    )
    base = 2
    cur = lake.catalog.current_snapshot
    return lake.sql(
        f"""
        SELECT *, 'ins' AS feed
        FROM ducklake_table_insertions('main', 'cdc2', {base}, {cur})
        UNION ALL
        SELECT *, 'del' AS feed
        FROM table_deletions('cdc2', {base}, {cur})
        """
    )


@query(
    "lakehouse_table_info",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      ('ti_a', 0, 2, 1, TRUE),
      ('ti_b', 0, 1, 0, TRUE)
    ) t(table_name, schema_id, file_count, delete_file_count, has_bytes)
    """,
)
def lakehouse_table_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DuckLake spec's ``ducklake_table_info()`` TVF through sql()
    text: per-table live data-file / delete-file counts and sizes read
    straight from the catalog frames (no file listing, no data scan).
    Two INSERTs mint exactly two files for ti_a (one per VALUES
    statement); the DELETE of one row of the two-row file adds one
    positional delete file (a file whose every row matched would retire
    whole instead); ti_b keeps its single file and no deletes."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE ti_a(id INTEGER, v VARCHAR);
        INSERT INTO ti_a VALUES (1, 'a');
        INSERT INTO ti_a VALUES (2, 'b'), (3, 'c');
        DELETE FROM ti_a WHERE id = 2;
        CREATE TABLE ti_b(id INTEGER);
        INSERT INTO ti_b VALUES (7);
        """
    )
    return lake.sql(
        """
        SELECT table_name, schema_id, file_count, delete_file_count,
               file_size_bytes > 0 AS has_bytes
        FROM ducklake_table_info()
        """
    )


@query(
    "lakehouse_partitioned_scan",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (3, 'b', CAST(30.0 AS DOUBLE)), (4, 'b', CAST(40.0 AS DOUBLE))
    ) t(id, grp, v)
    """,
)
def lakehouse_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lake table: ALTER TABLE SET PARTITIONED BY
    clusters writes by key and records per-file partition values, so the
    grp predicate prunes at the catalog before Spark lists any files."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE pt(id INTEGER, grp VARCHAR, v DOUBLE);
        ALTER TABLE pt SET PARTITIONED BY (grp);
        INSERT INTO pt VALUES (1,'a',10.0), (2,'a',20.0), (3,'b',30.0), (4,'b',40.0);
        """
    )
    return lake.table("pt", predicates=[("grp", "=", "b")]).filter("grp = 'b'")


@query(
    "lakehouse_partition_transform",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (3, 3, 2, CAST(9.0 AS DOUBLE))
    ) t(files_total, months, files_after_prune, march_sum)
    """,
)
def lakehouse_partition_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal partition transforms (spec field
    ducklake_partition_column.transform): SET PARTITIONED BY (month(ts))
    writes one directory per calendar month — bounded cardinality where
    identity on a raw timestamp would mint a file per distinct value —
    and a timestamp predicate prunes non-matching months at the catalog
    (here via partition values alone: trunc is monotone, so ts >= Feb 10
    keeps Feb + Mar and drops Jan) before Spark lists any files."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE evp(id INTEGER, ts TIMESTAMP, v DOUBLE);
        ALTER TABLE evp SET PARTITIONED BY (month(ts));
        INSERT INTO evp VALUES
          (1, TIMESTAMP '2024-01-05 10:00:00', 1.0),
          (2, TIMESTAMP '2024-01-20 11:00:00', 2.0),
          (3, TIMESTAMP '2024-02-03 12:00:00', 3.0),
          (4, TIMESTAMP '2024-03-15 13:00:00', 4.0),
          (5, TIMESTAMP '2024-03-16 14:00:00', 5.0);
        """
    )
    tid = lake.catalog.table_id("evp")
    files = lake.catalog.data_files(tid)
    pv = lake.catalog.tables["ducklake_file_partition_value"]
    months = len(set(pv[pv["table_id"] == tid]["partition_value"]))
    # isolate the transform-prune path (no column stats): Feb survives
    # because its month may still contain matches
    st = lake.catalog.tables["ducklake_file_column_statistics"]
    lake.catalog.tables["ducklake_file_column_statistics"] = st[
        st["table_id"] != tid
    ]
    kept = lake._skip_files(
        tid, None, list(files["path"]),
        [("ts", ">=", "2024-02-10 00:00:00")],
    )
    lake.catalog.tables["ducklake_file_column_statistics"] = st
    march = lake.sql(
        "SELECT sum(v) AS s FROM evp "
        "WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'"
    ).collect()[0]["s"]
    return spark.createDataFrame(
        [(len(files), months, len(kept), float(march))],
        "files_total int, months int, files_after_prune int, march_sum double",
    )


@query(
    "lakehouse_meta_time_travel",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      ('now', 3), ('v2', 2)
    ) t(probe, n_cols)
    """,
)
def lakehouse_meta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """META time travel (reference README.md:164's planned feature):
    the catalog tables are MVCC frames, so `ducklake_column AT
    (VERSION n)` reads the catalog itself as of snapshot n — here the
    column set a table had before an ALTER ADD COLUMN.  Driver-sized:
    catalog frames, never data files."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE mtt(id INTEGER, v VARCHAR);
        INSERT INTO mtt VALUES (1, 'a');
        ALTER TABLE mtt ADD COLUMN w DOUBLE;
        """
    )
    return lake.sql(
        """
        SELECT 'now' AS probe, count(*) AS n_cols
        FROM ducklake_column WHERE table_id = 1
        UNION ALL
        SELECT 'v2' AS probe, count(*) AS n_cols
        FROM ducklake_column AT (VERSION => 2) WHERE table_id = 1
        """
    )


@query(
    "lakehouse_pivot_statement",
    pure=False,
    oracle="""
    SELECT o_orderpriority,
           round("F", 2) AS f_total,
           round("O", 2) AS o_total,
           round("P", 2) AS p_total
    FROM (PIVOT orders ON o_orderstatus USING sum(o_totalprice)
          GROUP BY o_orderpriority)
    """,
)
def lakehouse_pivot_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's PIVOT statement through sql() text: value discovery is
    one distinct scan, then Spark's native pivoted hash aggregation
    (map-side partials, one shuffle on the group key).  Both engines
    name the pivoted columns by the ON values, so the surfaces line up
    1:1."""
    import pyspark.sql.functions as F

    lake = _fresh_lake(spark)
    out = lake.sql(
        f"""
        PIVOT read_parquet('{sf_dir}/orders.parquet')
        ON o_orderstatus USING sum(o_totalprice)
        GROUP BY o_orderpriority
        """
    )
    return out.select(
        "o_orderpriority",
        F.round("F", 2).alias("f_total"),
        F.round("O", 2).alias("o_total"),
        F.round("P", 2).alias("p_total"),
    )


@query(
    "lakehouse_unpivot_statement",
    pure=False,
    oracle="""
    UNPIVOT (SELECT p_partkey, round(p_retailprice, 2) AS retail,
                    CAST(p_size AS DOUBLE) AS size_val
             FROM part WHERE p_partkey <= 50)
    ON retail, size_val INTO NAME measure VALUE val
    """,
)
def lakehouse_unpivot_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's UNPIVOT statement through sql() text → Spark's native
    unpivot: a per-row expand with no shuffle; untouched columns become
    the identifier set automatically."""
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        UNPIVOT (SELECT p_partkey, round(p_retailprice, 2) AS retail,
                        CAST(p_size AS DOUBLE) AS size_val
                 FROM read_parquet('{sf_dir}/part.parquet')
                 WHERE p_partkey <= 50)
        ON retail, size_val INTO NAME measure VALUE val
        """
    )


@query(
    "lakehouse_asof_statement",
    pure=False,
    oracle="""
    SELECT event_id, user_id, purchase_value, last_click_value
    FROM (SELECT event_id, user_id, ts, round(value, 2) AS purchase_value
          FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN
         (SELECT user_id AS uid, ts AS click_ts,
                 round(value, 2) AS last_click_value
          FROM events WHERE event_type = 'click') c
      ON p.user_id = c.uid AND p.ts >= c.click_ts
    """,
)
def lakehouse_asof_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's ``ASOF LEFT JOIN`` keyword through the engine's sql()
    TEXT path (the reference accepts it verbatim via ducklakexl.py:394):
    parsed and delegated to the union + carry-forward composite
    (operators/joins.py:asof_join) — one shuffle on the key, no range
    cross-product."""
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        SELECT event_id, user_id, purchase_value, last_click_value
        FROM (SELECT event_id, user_id, ts, round(value, 2) AS purchase_value
              FROM read_parquet('{sf_dir}/events.parquet')
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN
             (SELECT user_id AS uid, ts AS click_ts,
                     round(value, 2) AS last_click_value
              FROM read_parquet('{sf_dir}/events.parquet')
              WHERE event_type = 'click') c
          ON p.user_id = c.uid AND p.ts >= c.click_ts
        """
    )


@query(
    "lakehouse_positional_statement",
    pure=False,
    oracle="""
    SELECT r.r_regionkey, r.r_name, n.n_nationkey, n.n_name
    FROM (SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey) r
    POSITIONAL JOIN
         (SELECT n_nationkey, n_name FROM nation
          ORDER BY n_nationkey LIMIT 7) n
    """,
)
def lakehouse_positional_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's ``POSITIONAL JOIN`` keyword through sql() TEXT — each
    side must carry a top-level ORDER BY (a distributed engine has no
    physical row order), and the zip is the row_number full-outer
    composite (operators/joins.py:positional_join)."""
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        SELECT r.r_regionkey, r.r_name, n.n_nationkey, n.n_name
        FROM (SELECT r_regionkey, r_name
              FROM read_parquet('{sf_dir}/region.parquet')
              ORDER BY r_regionkey) r
        POSITIONAL JOIN
             (SELECT n_nationkey, n_name
              FROM read_parquet('{sf_dir}/nation.parquet')
              ORDER BY n_nationkey LIMIT 7) n
        """
    )


@query(
    "lakehouse_macro_statement",
    pure=False,
    oracle="""
    CREATE MACRO disc_price(p, d) AS p * (1 - d);
    SELECT l_orderkey, round(sum(disc_price(l_extendedprice, l_discount)), 2) AS rev
    FROM lineitem GROUP BY l_orderkey ORDER BY rev DESC, l_orderkey LIMIT 10
    """,
)
def lakehouse_macro_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB ``CREATE MACRO`` through sql() text: the macro is stored
    as a template and textually expanded at reference time (DuckDB's own
    lazy-binding semantics), so the expression runs JVM-side like any
    hand-written column expression — no UDF, no Python."""
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        CREATE MACRO disc_price(p, d) AS p * (1 - d);
        SELECT l_orderkey,
               round(sum(disc_price(l_extendedprice, l_discount)), 2) AS rev
        FROM read_parquet('{sf_dir}/lineitem.parquet')
        GROUP BY l_orderkey ORDER BY rev DESC, l_orderkey LIMIT 10
        """
    )


@query(
    "lakehouse_series_statement",
    pure=False,
    oracle="""
    SELECT g.n, count(*) AS cnt
    FROM (SELECT generate_series AS n FROM generate_series(0, 9)) g
    JOIN orders o ON o.o_orderkey % 10 = g.n
    GROUP BY g.n ORDER BY g.n
    """,
)
def lakehouse_series_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB ``generate_series``/``range`` table functions in FROM
    position through sql() text — rewritten to explode(sequence(...))
    views (the 10-row side broadcasts into the join)."""
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        SELECT g.n, count(*) AS cnt
        FROM (SELECT generate_series AS n FROM generate_series(0, 9)) g
        JOIN read_parquet('{sf_dir}/orders.parquet') o
          ON o.o_orderkey % 10 = g.n
        GROUP BY g.n ORDER BY g.n
        """
    )


@query(
    "lakehouse_upsert_returning",
    pure=False,
    oracle="""
    CREATE TABLE up_t(id INTEGER PRIMARY KEY, v VARCHAR);
    INSERT INTO up_t VALUES (1, 'a'), (2, 'b');
    INSERT INTO up_t VALUES (2, 'b2'), (3, 'c')
      ON CONFLICT (id) DO UPDATE SET v = excluded.v;
    INSERT INTO up_t VALUES (3, 'zzz'), (4, 'd') ON CONFLICT (id) DO NOTHING;
    SELECT * FROM up_t ORDER BY id
    """,
)
def lakehouse_upsert_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's ``INSERT … ON CONFLICT DO UPDATE/NOTHING`` upsert through
    sql() text, MERGE-backed (delete-file + append commit — a 1-row
    upsert never rewrites the table).  Oracle is DuckDB's native upsert
    over a PRIMARY KEY table."""
    lake = _fresh_lake(spark)
    return lake.sql(
        """
        CREATE TABLE up_t(id INTEGER PRIMARY KEY, v VARCHAR);
        INSERT INTO up_t VALUES (1, 'a'), (2, 'b');
        INSERT INTO up_t VALUES (2, 'b2'), (3, 'c')
          ON CONFLICT (id) DO UPDATE SET v = excluded.v;
        INSERT INTO up_t VALUES (3, 'zzz'), (4, 'd') ON CONFLICT (id) DO NOTHING;
        SELECT * FROM up_t ORDER BY id
        """
    )


@query(
    "lakehouse_columns_expression",
    pure=False,
    oracle="""
    SELECT l_returnflag,
           round(min(COLUMNS('l_(quantity|discount|tax)')), 4)
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def lakehouse_columns_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's ``COLUMNS('regex')`` star expression through sql() text:
    the wrapped aggregate replicates per matched column, each expansion
    named after its column (DuckDB's own naming) — one scan, one
    aggregation, columns pruned to the regex matches."""
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        SELECT l_returnflag,
               round(min(COLUMNS('l_(quantity|discount|tax)')), 4)
        FROM read_parquet('{sf_dir}/lineitem.parquet')
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


@query(
    "lakehouse_union_by_name",
    pure=False,
    oracle="""
    SELECT n_name AS name, CAST(n_nationkey AS INTEGER) AS key, 'nation' AS src
    FROM nation WHERE n_nationkey < 3
    UNION ALL BY NAME
    SELECT 'region' AS src, r_name AS name FROM region WHERE r_regionkey < 2
    ORDER BY src, name
    """,
)
def lakehouse_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's ``UNION ALL BY NAME`` through sql() text: by-name column
    alignment with NULL fill for missing columns (here `key` is absent
    on the region side), independent of projection order."""
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        SELECT n_name AS name, CAST(n_nationkey AS INTEGER) AS key, 'nation' AS src
        FROM read_parquet('{sf_dir}/nation.parquet') WHERE n_nationkey < 3
        UNION ALL BY NAME
        SELECT 'region' AS src, r_name AS name
        FROM read_parquet('{sf_dir}/region.parquet') WHERE r_regionkey < 2
        ORDER BY src, name
        """
    )


_DIALECT_FN_BODY = """
    SELECT event_type,
           round(epoch(arg_max(ts, event_id)), 6)     AS ep_latest,
           round(quantile_cont(value, 0.5), 6)        AS med_value,
           isodow(min(ts))                            AS dw_first,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S')     AS first_ts,
           list_extract(
             list_sort(list_value(max(user_id), min(user_id))), 1
           )                                          AS lo_user,
           count_if(starts_with(event_type, 'c'))     AS n_c
    FROM {src}
    GROUP BY event_type
"""


@query(
    "lakehouse_duckdb_fn_dialect",
    pure=False,
    oracle=_DIALECT_FN_BODY.format(src="events"),
)
def lakehouse_duckdb_fn_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB-dialect function names through sql() text: the engine runs
    the ORACLE'S OWN SQL verbatim (epoch, arg_max, quantile_cont,
    isodow, C-style strftime, list_*, starts_with, count_if), translated
    to Spark builtins by rewrite_duckdb_functions — a reference user's
    DuckDB SQL keeps working unchanged."""
    lake = _fresh_lake(spark)
    return lake.sql(
        _DIALECT_FN_BODY.format(
            src=f"read_parquet('{sf_dir}/events.parquet')"
        )
    )


_BRACKET_RECURSIVE_BODY = """
    WITH RECURSIVE fib(n, a, b) AS (
      SELECT 1, 0, 1
      UNION ALL
      SELECT n + 1, b, a + b FROM fib WHERE n < 12
    )
    SELECT n,
           a AS fib_n,
           [a, b][1]                 AS via_index,
           [a, b, a + b][2:3]        AS next_two,
           {'n': n, 'fib': a}.fib    AS via_struct
    FROM fib
"""


@query(
    "lakehouse_bracket_recursive",
    pure=False,
    oracle=_BRACKET_RECURSIVE_BODY,
)
def lakehouse_bracket_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE + DuckDB bracket syntax through sql() text — the
    engine runs the ORACLE'S OWN SQL verbatim: semi-naive fixpoint for
    the recursive CTE, list literals, 1-based indexing/slicing, struct
    literals with field access."""
    lake = _fresh_lake(spark)
    return lake.sql(_BRACKET_RECURSIVE_BODY)


@query(
    "lakehouse_prepared_statements",
    pure=False,
    oracle="""
    SELECT id, grp, CAST(amount AS DOUBLE) AS amount FROM (VALUES
      (1, 'a', 10.5), (2, 'b', 21.0), (3, 'b', 1.25)
    ) t(id, grp, amount)
    """,
)
def lakehouse_prepared_statements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB prepared statements through sql() text: PREPARE templates,
    EXECUTE with $n and ? placeholders feeding INSERTs and a
    parameterized SELECT."""
    lake = _fresh_lake(spark)
    lake.sql(
        "CREATE TABLE ps(id INTEGER, grp VARCHAR, amount DOUBLE);"
        "PREPARE ins AS INSERT INTO ps VALUES ($1, $2, $3)"
    )
    lake.sql("EXECUTE ins(1, 'a', 10.5)")
    lake.sql("EXECUTE ins(2, 'b', 21.0)")
    lake.sql("EXECUTE ins(3, 'b', 1.25)")
    lake.sql("PREPARE sel AS SELECT * FROM ps WHERE amount >= ? ORDER BY id")
    return lake.sql("EXECUTE sel(0.0)")


def _smz_col_oracle(name: str, spark_type: str) -> str:
    """One SUMMARIZE output row, recomputed explicitly in DuckDB SQL.

    The engine's SUMMARIZE mirrors DuckDB's shape (approx_unique, avg,
    std, quartiles); the oracle checks the deterministic subset —
    min/max/count/null% — because approx_unique is HLL-estimated and the
    quantiles are percentile_approx on the Spark side.  Timestamp min/max
    are VARCHAR-cast the way Spark casts them."""
    if spark_type == "TIMESTAMP":
        mn = f"strftime(min({name}), '%Y-%m-%d %H:%M:%S')"
        mx = f"strftime(max({name}), '%Y-%m-%d %H:%M:%S')"
    else:
        mn, mx = f"CAST(min({name}) AS VARCHAR)", f"CAST(max({name}) AS VARCHAR)"
    return f"""
      SELECT '{name}' AS column_name, '{spark_type}' AS column_type,
             {mn} AS min, {mx} AS max,
             CAST(round(100.0 * (count(*) - count({name})) / count(*), 2)
                  AS DECIMAL(9,2)) AS null_percentage,
             count(*) AS count
      FROM orders"""


# DuckDB-dialect type names, matching the engine's SUMMARIZE output
# (round 5 aligned it with DuckDB's column_type/null_percentage shape)
_SMZ_ORDERS_COLS = [
    ("o_orderkey", "BIGINT"),
    ("o_custkey", "BIGINT"),
    ("o_orderstatus", "VARCHAR"),
    ("o_totalprice", "DOUBLE"),
    ("o_orderdate", "TIMESTAMP"),
    ("o_orderpriority", "VARCHAR"),
]


@query(
    "lakehouse_summarize",
    pure=False,
    oracle="\nUNION ALL\n".join(
        _smz_col_oracle(n, s) for n, s in _SMZ_ORDERS_COLS
    ),
)
def lakehouse_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's ``SUMMARIZE <table|query>`` statement through the
    engine's sql() TEXT path (the reference reached SUMMARIZE through its
    DuckDB dispatch, /root/reference/ducklakexl/ducklakexl.py:394): one
    aggregation pass computes every column's stats with map-side
    partials.  The registered result projects the deterministic columns
    (min/max/null%/count) — approx_unique and the quartiles are
    estimator-based on both engines and legitimately differ."""
    lake = _fresh_lake(spark)
    summ = lake.sql(f"SUMMARIZE read_parquet('{sf_dir}/orders.parquet')")
    return summ.select(
        "column_name", "column_type", "min", "max",
        "null_percentage", "count",
    )


@query(
    "lakehouse_sequences",
    pure=False,
    oracle="""
    SELECT CAST(1000 + 3 * (i - 1) AS INTEGER) AS id,
           ['a', 'b', 'c', 'd', 'e'][i] AS nm
    FROM generate_series(1, 5) t(i)
    """,
)
def lakehouse_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE SEQUENCE + DEFAULT nextval id assignment through sql()
    text: the insert block-allocates ONE range against its row count
    (one catalog commit per statement — the only sequence shape that
    scales; see engine._seq_alloc).  The oracle recomputes the arithmetic
    the allocation guarantees."""
    lake = _fresh_lake(spark)
    lake.sql("CREATE SEQUENCE ids START 1000 INCREMENT 3;")
    lake.sql("CREATE TABLE seq_t(id INTEGER DEFAULT nextval('ids'), nm VARCHAR);")
    lake.sql("INSERT INTO seq_t (nm) VALUES ('a'), ('b'), ('c'), ('d'), ('e');")
    return lake.sql("SELECT id, nm FROM seq_t;")


@query(
    "lakehouse_check_constraint",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES (1, 10), (2, 20)) t(id, v)
    """,
)
def lakehouse_check_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint enforcement through sql() text: a violating
    INSERT and a violating UPDATE both abort atomically (validation is
    fused into the write/materialization job — engine._check_observer),
    leaving exactly the valid rows.  The oracle pins the surviving
    table."""
    lake = _fresh_lake(spark)
    lake.sql("CREATE TABLE ct(id INTEGER, v INTEGER CHECK (v > 0));")
    lake.sql("INSERT INTO ct VALUES (1, 10), (2, 20);")
    for bad in (
        "INSERT INTO ct VALUES (3, -5);",
        "UPDATE ct SET v = -1 WHERE id = 1;",
    ):
        try:
            lake.sql(bad)
            raise AssertionError("CHECK violation not raised")
        except ValueError:
            pass
    return lake.sql("SELECT id, v FROM ct;")


@query(
    "lakehouse_delete_using",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES (1, 'a'), (3, 'c')) t(id, v)
    """,
)
def lakehouse_delete_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB/Postgres join-delete through sql() text: LEFT SEMI
    semantics (duplicate source matches never double-delete), positional
    delete files against only the touched data files."""
    lake = _fresh_lake(spark)
    return lake.sql(
        """
        CREATE TABLE dt(id INTEGER, v VARCHAR);
        INSERT INTO dt VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d');
        CREATE TABLE kill(id INTEGER);
        INSERT INTO kill VALUES (2),(2),(4);
        DELETE FROM dt USING kill WHERE dt.id = kill.id;
        SELECT * FROM dt;
        """
    )


@query(
    "lakehouse_fuzzy_strings",
    pure=False,
    oracle="""
    SELECT c_custkey,
           damerau_levenshtein(c_name, 'Customer#000000042') AS dl,
           round(jaccard(c_name, 'Customer#000000042'), 6) AS jac,
           round(jaro_winkler_similarity(c_name, 'Customer#000000042'), 6)
             AS jw,
           hamming(c_name, 'Customer#000000042') AS ham
    FROM customer WHERE c_custkey < 50
    """,
)
def lakehouse_fuzzy_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's fuzzy-string scalar family through sql() TEXT —
    damerau_levenshtein (OSA), char-set jaccard, jaro_winkler_similarity,
    hamming — implemented as Arrow-batched pandas UDFs registered at
    engine construction (functions/__init__.py::register_all; the
    reference reaches these via DuckDB pass-through,
    /root/reference/ducklakexl/ducklakexl.py:394).  Slow-path by
    declaration: each docstring names the JVM built-in to prefer
    (levenshtein) where exact parity with DuckDB's variant isn't needed.
    """
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        SELECT c_custkey,
               damerau_levenshtein(c_name, 'Customer#000000042') AS dl,
               round(jaccard(c_name, 'Customer#000000042'), 6) AS jac,
               round(jaro_winkler_similarity(c_name,
                     'Customer#000000042'), 6) AS jw,
               hamming(c_name, 'Customer#000000042') AS ham
        FROM read_parquet('{sf_dir}/customer.parquet')
        WHERE c_custkey < 50
        """
    )


@query(
    "lakehouse_scalar_compat",
    pure=False,
    oracle="""
    SELECT week(DATE '2024-02-03') AS wk,
           sha256('spark') AS h,
           even(2.5) AS ev,
           signbit(-0.5) AS sb,
           CAST(trunc(-1.7) AS BIGINT) AS tr,
           to_base(255, 16) AS tb,
           unicode('A') AS uc,
           to_base64('abc'::BLOB) AS b64,
           CAST(from_base64('YWJj') AS VARCHAR) AS unb64,
           nextafter(1.0, 2.0) AS na,
           round(gamma(5.0), 6) AS gm,
           round(lgamma(5.0), 6) AS lg
    """,
)
def lakehouse_scalar_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 scalar-dialect sweep through sql() TEXT: week, sha256,
    even, signbit, numeric trunc, to_base, unicode, base64 both ways,
    nextafter, gamma, lgamma — each rewritten to a Spark builtin where
    one exists and a registered UDF where not."""
    lake = _fresh_lake(spark)
    return lake.sql(
        """
        SELECT week(DATE '2024-02-03') AS wk,
               sha256('spark') AS h,
               even(2.5) AS ev,
               signbit(-0.5) AS sb,
               CAST(trunc(-1.7) AS BIGINT) AS tr,
               to_base(255, 16) AS tb,
               unicode('A') AS uc,
               to_base64('abc'::BLOB) AS b64,
               CAST(from_base64('YWJj') AS VARCHAR) AS unb64,
               nextafter(1.0, 2.0) AS na,
               round(gamma(5.0), 6) AS gm,
               round(lgamma(5.0), 6) AS lg
        """
    )


@query(
    "lakehouse_window_exclude",
    pure=False,
    oracle="""
    SELECT o_custkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
             EXCLUDE CURRENT ROW), 2) AS sum_others,
           count(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
             EXCLUDE CURRENT ROW) AS n_others,
           round(avg(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
             EXCLUDE CURRENT ROW), 6) AS avg_others
    FROM orders WHERE o_custkey < 40
    """,
)
def lakehouse_window_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB window-frame ``EXCLUDE CURRENT ROW`` through sql() TEXT —
    Spark has no frame exclusion, so the rewriter subtracts the current
    row's contribution algebraically (engine.rewrite_window_exclude):
    sum/count/avg over the same frame minus the row's own null-aware
    term.  DuckDB evaluates the native EXCLUDE on the oracle side."""
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        SELECT o_custkey,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
                 EXCLUDE CURRENT ROW), 2) AS sum_others,
               count(*) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
                 EXCLUDE CURRENT ROW) AS n_others,
               round(avg(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
                 EXCLUDE CURRENT ROW), 6) AS avg_others
        FROM read_parquet('{sf_dir}/orders.parquet') WHERE o_custkey < 40
        """
    )


@query(
    "lakehouse_insert_or_replace",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (1, 'a', 10), (2, 'B', 21), (3, 'c', 30), (4, 'd', 40)
    ) t(k, v, n)
    """,
)
def lakehouse_insert_or_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's ``INSERT OR REPLACE / OR IGNORE`` shorthand upserts keyed
    by the table's declared PRIMARY KEY — text-rewritten onto the ON
    CONFLICT machinery, which commits as delete-file + append (never a
    table rewrite).  The PK columns persist as an MVCC table tag at
    CREATE TABLE, so the shorthand survives engine restarts."""
    lake = _fresh_lake(spark)
    lake.sql("CREATE TABLE kv (k INT PRIMARY KEY, v VARCHAR, n INT)")
    lake.sql("INSERT INTO kv VALUES (1, 'a', 10), (2, 'b', 20)")
    lake.sql("INSERT OR REPLACE INTO kv VALUES (2, 'B', 21), (3, 'c', 30)")
    lake.sql("INSERT OR IGNORE INTO kv VALUES (3, 'X', 99), (4, 'd', 40)")
    return lake.sql("SELECT * FROM kv")


@query(
    "lakehouse_export_import",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (1, 'alpha', DATE '2024-01-01'), (2, 'beta', DATE '2024-02-02'),
      (4, 'delta', NULL)
    ) t(id, val, d)
    """,
)
def lakehouse_export_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's EXPORT DATABASE / IMPORT DATABASE dump-restore pair
    (inherited surface via the reference's pass-through,
    ducklakexl.py:394): export writes per-table parquet plus a
    schema.sql replay script, import replays it into a FRESH lake —
    DDL (types + NOT NULL), data, and a post-delete state all survive
    the round trip.  The export itself is executor-parallel parquet
    writes; only the script text touches the driver."""
    import tempfile as _tf

    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE exp_t(id INTEGER NOT NULL, val VARCHAR, d DATE);
        INSERT INTO exp_t VALUES (1, 'alpha', DATE '2024-01-01'),
                                 (2, 'beta',  DATE '2024-02-02'),
                                 (3, 'gamma', DATE '2024-03-03'),
                                 (4, 'delta', NULL);
        DELETE FROM exp_t WHERE id = 3;
        """
    )
    dump = _tf.mkdtemp(prefix="ducklake_export_")
    lake.sql(f"EXPORT DATABASE '{dump}'")
    fresh = _fresh_lake(spark)
    fresh.sql(f"IMPORT DATABASE '{dump}'")
    return fresh.sql("SELECT * FROM exp_t")


@query(
    "lakehouse_data_inlining",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (1, 'files_before_flush',  CAST(0 AS BIGINT)),
      (2, 'inlined_before',      CAST(3 AS BIGINT)),
      (3, 'rows_visible',        CAST(3 AS BIGINT)),
      (4, 'rows_after_delete',   CAST(2 AS BIGINT)),
      (5, 'tt_pre_delete',       CAST(3 AS BIGINT)),
      (6, 'files_after_flush',   CAST(1 AS BIGINT)),
      (7, 'inlined_after_flush', CAST(0 AS BIGINT)),
      (8, 'sum_after_flush',     CAST(4 AS BIGINT))
    ) t(probe, label, n)
    """,
)
def lakehouse_data_inlining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckLake data inlining: trickle INSERTs below
    ``data_inlining_row_limit`` become catalog rows (zero parquet files
    minted — the 100 TB defense against millions of KB-files between
    compactions), stay fully visible/deletable/time-travelable, and
    ``CALL ducklake_flush_inlined_data()`` materializes the survivors
    into one data file with every prior snapshot intact.  Spec surface:
    "Data Inlining" (ducklake.select/docs); the reference inherits it
    via its DuckDB dispatch (ducklakexl.py:394)."""
    lake = _fresh_lake(spark)
    lake.sql("SET ducklake.data_inlining_row_limit = 100")
    lake.sql(
        """
        CREATE TABLE inl(id INTEGER, val VARCHAR);
        INSERT INTO inl VALUES (1, 'a');
        INSERT INTO inl VALUES (2, 'b'), (3, 'c');
        """
    )
    tid = lake.catalog.table_id("inl")
    files_before = len(lake.catalog.data_files(tid))
    inl_before = len(lake.catalog.inlined_rows(tid))
    rows_visible = lake.sql("SELECT count(*) AS n FROM inl").collect()[0]["n"]
    snap_pre_delete = lake.catalog.current_snapshot
    lake.sql("DELETE FROM inl WHERE id = 2")
    rows_after_delete = (
        lake.sql("SELECT count(*) AS n FROM inl").collect()[0]["n"]
    )
    tt = lake.sql(
        f"SELECT count(*) AS n FROM inl AT (VERSION => {snap_pre_delete})"
    ).collect()[0]["n"]
    lake.sql("CALL ducklake_flush_inlined_data()")
    files_after = len(lake.catalog.data_files(tid))
    inl_after = len(lake.catalog.inlined_rows(tid))
    total_after = lake.sql("SELECT sum(id) AS s FROM inl").collect()[0]["s"]
    return spark.createDataFrame(
        [
            (1, "files_before_flush", files_before),
            (2, "inlined_before", inl_before),
            (3, "rows_visible", rows_visible),
            (4, "rows_after_delete", rows_after_delete),
            (5, "tt_pre_delete", tt),
            (6, "files_after_flush", files_after),
            (7, "inlined_after_flush", inl_after),
            (8, "sum_after_flush", int(total_after)),
        ],
        "probe int, label string, n bigint",
    )


_VECTOR_FN_BODY = """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM {src} WHERE vec_id < 6
    ),
    p AS (
      SELECT a.vec_id AS ai, b.vec_id AS bi, a.v AS av, b.v AS bv
      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
    )
    SELECT ai, bi,
           round(list_dot_product(av, bv), 6)       AS dot,
           round(list_cosine_similarity(av, bv), 6) AS cos_sim,
           round(list_distance(av, bv), 6)          AS l2,
           list_has_all(av, list_value(av[1]))      AS has_first,
           round(list_aggregate(av, 'sum'), 6)      AS vsum,
           round(list_aggregate(av, 'max'), 6)      AS vmax,
           CAST(list_aggregate(av, 'count') AS BIGINT) AS vcount,
           printf('%s-%04d', 'v', ai)               AS tag,
           CAST(cardinality(MAP {{'a': 1, 'b': 2}}) AS BIGINT) AS dim,
           strftime(try_strptime('2024-01-02 03:04:05',
                                 '%Y-%m-%d %H:%M:%S'),
                    '%Y-%m-%d %H:%M:%S')            AS parsed
    FROM p
"""


@query(
    "lakehouse_vector_fn_dialect",
    pure=False,
    oracle=_VECTOR_FN_BODY.format(src="embeddings"),
)
def lakehouse_vector_fn_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's vector-similarity function family through sql() text —
    the engine runs the ORACLE'S OWN SQL verbatim: list_dot_product /
    array_inner_product / list_cosine_similarity / list_cosine_distance /
    list_distance become DOUBLE zip_with/aggregate folds (whole-stage
    codegen, no UDF), plus list_has_all, list_aggregate('sum'|'max'|
    'count'), printf, cardinality, try_strptime.  Inputs are cast to
    DOUBLE[] because DuckDB evaluates FLOAT[] vector math in float32."""
    lake = _fresh_lake(spark)
    return lake.sql(
        _VECTOR_FN_BODY.format(
            src=f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
    )


@query(
    "lakehouse_generated_columns",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (1, CAST(100 AS BIGINT), CAST(101 AS BIGINT), CAST(0.5 AS DOUBLE)),
      (2, CAST(20 AS BIGINT),  CAST(22 AS BIGINT),  CAST(1.0 AS DOUBLE)),
      (5, CAST(50 AS BIGINT),  CAST(55 AS BIGINT),  CAST(2.5 AS DOUBLE))
    ) t(a, b, total, half)
    """,
)
def lakehouse_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIRTUAL generated columns (DuckDB ``GENERATED ALWAYS AS (expr)``
    and the bare ``c AS (expr)`` shorthand, type inferred when omitted):
    computed inside the scan projection from an MVCC ``generated:<col>``
    table tag — never stored, so an UPDATE to a base column is reflected
    with no rewrite, and INSERT/UPDATE targeting the column raise.
    Enforced across insert, join-free update, delete, and INSERT
    SELECT."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE g(
          a INTEGER,
          b BIGINT,
          total BIGINT GENERATED ALWAYS AS (a + b),
          half AS (CAST(a AS DOUBLE) / 2)
        );
        INSERT INTO g VALUES (1, 10), (2, 20), (3, 30);
        UPDATE g SET b = 100 WHERE a = 1;
        DELETE FROM g WHERE a = 3;
        INSERT INTO g SELECT 5, 50;
        """
    )
    return lake.sql("SELECT a, b, total, half FROM g")


@query(
    "lakehouse_add_data_files",
    pure=False,
    oracle="""
    SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey < 50
    """,
)
def lakehouse_add_data_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL ducklake_add_data_files: zero-copy adoption of existing
    parquet into a lake table — footer reads collect counts + min/max
    stats (file skipping works immediately), one snapshot registers the
    files, bytes never move.  The migration path for a pre-existing
    100 TB parquet directory."""
    import tempfile as _tf

    from ducklakexl_spark.queries import load

    ext = _tf.mkdtemp(prefix="adopt_")
    load(spark, sf_dir, "orders").filter("o_orderkey < 50").coalesce(
        1
    ).write.mode("overwrite").parquet(ext)
    lake = _fresh_lake(spark)
    lake.sql(
        f"CREATE TABLE o AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet') LIMIT 0"
    )
    lake.sql(f"CALL ducklake_add_data_files('o', '{ext}/*.parquet')")
    return lake.sql(
        "SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum "
        "FROM o"
    )


@query(
    "lakehouse_alter_column_props",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (1, CAST(NULL AS VARCHAR)),
      (2, 'filled'),
      (3, 'explicit')
    ) t(id, v)
    """,
)
def lakehouse_alter_column_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER COLUMN SET/DROP DEFAULT and SET/DROP NOT NULL as MVCC
    column transitions: defaults affect only future INSERTs; SET NOT
    NULL validates stored data metadata-first (zero recorded nulls in
    the per-file footer stats -> catalog-only, no scan job — the shape
    that keeps this DDL O(metadata) on a 100 TB table)."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE acp(id INTEGER, v VARCHAR);
        INSERT INTO acp (id) VALUES (1);
        ALTER TABLE acp ALTER COLUMN v SET DEFAULT 'filled';
        INSERT INTO acp (id) VALUES (2);
        ALTER TABLE acp ALTER COLUMN v DROP DEFAULT;
        INSERT INTO acp VALUES (3, 'explicit');
        ALTER TABLE acp ALTER COLUMN id SET NOT NULL;
        """
    )
    return lake.sql("SELECT id, v FROM acp")


_COMPREHENSION_BODY = """
    SELECT x,
           [y * 2 FOR y IN [1, 2, x,]] AS doubled,
           [y FOR y IN [1, 2, 3, 4] IF y % 2 = 0] AS evens,
           len([s FOR s IN ['a', 'bb', 'ccc'] IF length(s) > 1]) AS n_long,
    FROM (VALUES (3), (5)) t(x)
"""


@query(
    "lakehouse_comprehension_dialect",
    pure=False,
    oracle=_COMPREHENSION_BODY,
)
def lakehouse_comprehension_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB list comprehensions (``[expr FOR x IN lst IF cond]`` →
    transform/filter higher-order rewrites) and trailing-comma
    tolerance, run as the ORACLE'S OWN SQL verbatim through sql()."""
    lake = _fresh_lake(spark)
    return lake.sql(_COMPREHENSION_BODY)


@query(
    "lakehouse_writer_options",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      ('ZSTD', TRUE, 2)
    ) t(codec, target_parsed, n_rows)
    """,
)
def lakehouse_writer_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec options made ACTIVE: ``SET ducklake.parquet_compression``
    switches the codec of every engine-minted parquet file (verified by
    reading the written footer back), and ``SET
    ducklake.target_file_size`` feeds compaction's output sizing (the
    64MB parse asserted).  A script tuned for DuckDB's ducklake keeps
    its storage knobs when replayed here."""
    import pyarrow.parquet as _pq

    lake = _fresh_lake(spark)
    lake.sql("SET ducklake.parquet_compression = 'zstd'")
    lake.sql("SET ducklake.target_file_size = '64MB'")
    lake.sql(
        """
        CREATE TABLE wo(id INTEGER, v VARCHAR);
        INSERT INTO wo VALUES (1, 'a');
        INSERT INTO wo VALUES (2, 'b');
        """
    )
    tid = lake.catalog.table_id("wo")
    path = lake.catalog.data_files(tid)["path"].iloc[0]
    codec = (
        _pq.ParquetFile(path).metadata.row_group(0).column(0).compression
    )
    target_ok = lake._target_file_bytes() == (64 << 20)
    n = lake.sql("SELECT count(*) AS n FROM wo").collect()[0]["n"]
    return spark.createDataFrame(
        [(str(codec), bool(target_ok), int(n))],
        "codec string, target_parsed boolean, n_rows int",
    )


@query(
    "lakehouse_multi_catalog",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      ('one', CAST(5.0 AS DOUBLE)), ('two', CAST(2.5 AS DOUBLE))
    ) t(label, total)
    """,
)
def lakehouse_multi_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-catalog federation: ATTACH mounts a second DuckLake
    (bootstrapped on first attach, exactly like DuckDB's ducklake
    extension), USE routes DDL/DML to it, and ``<name>.<table>``
    references read cross-lake — here a fact table in the home lake
    joins a dimension living in the attached one.  Both sides are
    snapshot-resolved scans; the dimension is metadata-mounted, so the
    join plans exactly like any two-table query (broadcast the small
    side)."""
    import tempfile

    lake = _fresh_lake(spark)
    tmp = tempfile.mkdtemp(prefix="attach_gate_")
    home = lake.name
    lake.sql(
        f"""
        ATTACH 'ducklake:{tmp}/cat' AS dimlake (DATA_PATH '{tmp}/d');
        USE dimlake;
        CREATE TABLE dim(k INTEGER, label VARCHAR);
        INSERT INTO dim VALUES (1, 'one'), (2, 'two');
        USE {home};
        CREATE TABLE fact(k INTEGER, v DOUBLE);
        INSERT INTO fact VALUES (1, 1.5), (2, 2.5), (1, 3.5);
        """
    )
    return lake.sql(
        """
        SELECT d.label, round(sum(f.v), 2) AS total
        FROM fact f JOIN dimlake.dim d ON f.k = d.k
        GROUP BY d.label
        """
    )


@query(
    "lakehouse_list_files",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (2, 2, 2)
    ) t(n_files, total_records, n_snapshots)
    """,
)
def lakehouse_list_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ducklake_list_files('t')`` through sql() text: the per-file
    registry view (id, path, record count, bytes, begin snapshot) an
    operator uses to reason about layout before compacting — pure
    catalog metadata, no file listing, no data scan."""
    lake = _fresh_lake(spark)
    lake.sql(
        """
        CREATE TABLE lf(id INTEGER);
        INSERT INTO lf VALUES (1);
        INSERT INTO lf VALUES (2);
        """
    )
    return lake.sql(
        """
        SELECT CAST(count(*) AS INTEGER) AS n_files,
               CAST(sum(record_count) AS INTEGER) AS total_records,
               CAST(count(DISTINCT begin_snapshot) AS INTEGER)
                 AS n_snapshots
        FROM ducklake_list_files('lf')
        """
    )


@query(
    "lakehouse_parquet_encryption",
    pure=False,
    oracle="""
    SELECT o_orderstatus AS status,
           count(*) AS n,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
    FROM orders
    WHERE o_orderkey % 10 <> 3
    GROUP BY o_orderstatus
    ORDER BY status
    """,
)
def lakehouse_parquet_encryption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet Modular Encryption end to end (spec: ducklake_metadata
    'encrypted' + per-file ducklake_data_file.encryption_key; the
    reference syncs the flag at ducklakexl.py:501-505 and delegates the
    cryptography to DuckDB — crypto.py implements it Spark-side): CTAS
    the sf orders table into an ENCRYPTED lake (distributed mapInArrow
    AES-GCM writes, one random 128-bit key per file), positional-DELETE
    a slice (the delete file is encrypted too), then aggregate through
    the decrypting scan.  The oracle computes the same result from the
    PLAIN source parquet — matching proves the encrypt→delete→decrypt
    cycle is lossless.  On-disk ciphertext unreadability is asserted in
    tests/test_encryption.py."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ducklake_enc_q_")
    lake = DuckLakeSpark(
        spark=spark,
        data_path=f"{tmp}/data",
        local_catalog=f"{tmp}/catalog",
        encrypted=True,
    )
    return lake.sql(
        f"""
        CREATE TABLE ord AS
          SELECT * FROM read_parquet('{sf_dir}/orders.parquet');
        DELETE FROM ord WHERE o_orderkey % 10 = 3;
        SELECT o_orderstatus AS status,
               count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM ord
        GROUP BY o_orderstatus
        ORDER BY status;
        """
    )


@query(
    "lakehouse_copy_encrypted",
    pure=False,
    oracle="""
    SELECT count(*) AS n,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents,
           count(DISTINCT o_custkey) AS custs
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def lakehouse_copy_encrypted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's user-managed parquet-encryption statement surface
    (PRAGMA add_parquet_key + COPY TO (ENCRYPTION_CONFIG {footer_key})
    + read_parquet(…, encryption_config=…)), reachable in the reference
    through its DuckDB dispatch (ducklakexl.py:394).  COPY the urgent
    orders out under a named 128-bit key (distributed PME write), read
    the ciphertext back through the decrypting read_parquet TVF, and
    aggregate; the oracle computes the same numbers from the plain
    source — matching proves the key-gated round trip is lossless."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ducklake_cpenc_")
    lake = _fresh_lake(spark)
    return lake.sql(
        f"""
        PRAGMA add_parquet_key('copykey', 'urgentkey0123456');
        COPY (SELECT * FROM read_parquet('{sf_dir}/orders.parquet')
              WHERE o_orderpriority = '1-URGENT')
          TO '{tmp}/urgent' (ENCRYPTION_CONFIG {{footer_key: 'copykey'}});
        SELECT count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents,
               count(DISTINCT o_custkey) AS custs
        FROM read_parquet('{tmp}/urgent/*.parquet',
                          encryption_config={{footer_key: 'copykey'}});
        """
    )


@query(
    "lakehouse_time_roundtrip",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (1, TIME '05:06:07'), (2, TIME '23:59:59.999999'),
      (4, TIME '13:45:09.5')
    ) t(id, t)
    """,
)
def lakehouse_time_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-typed column DDL/DML flow (round-7): CREATE with a TIME
    column, INSERT literals (incl. sub-second and NULL), UPDATE, DELETE
    of the NULL row, filtered SELECT.  Logical TimeType in-memory;
    the lake stores ISO strings in parquet (Spark has no parquet TIME
    writer) and the scan casts back — order-preserving, so file-stat
    pruning still works."""
    lake = _fresh_lake(spark)
    return lake.sql(
        """
        CREATE TABLE times7(id INTEGER, t TIME);
        INSERT INTO times7 VALUES (1, TIME '01:02:03'),
          (2, TIME '23:59:59.999999'), (3, NULL), (4, TIME '13:45:09.5');
        UPDATE times7 SET t = TIME '05:06:07' WHERE id = 1;
        DELETE FROM times7 WHERE t IS NULL;
        SELECT id, t FROM times7;
        """
    )


_JSON_ARROW_BODY = """
    CREATE TABLE jdocs(id INTEGER, j JSON, raw VARCHAR);
    INSERT INTO jdocs VALUES
      (1, '{"user": {"name": "ada", "score": 7}, "tags": ["a", "b"]}',
          '{"k": 1}'),
      (2, '{"user": {"name": "bob", "score": 9}, "tags": []}',
          '{"k": 2}'),
      (3, NULL, NULL);
    SELECT id,
           j->'user'->>'name'                         AS uname,
           CAST(j->'user'->>'score' AS INTEGER)       AS score,
           j->'tags'->0                               AS tag0,
           j->'$.user.score'                          AS jscore,
           raw->>'k'                                  AS rk,
           list_transform([1, 2], x -> x * 10)        AS lambda_ok
    FROM jdocs ORDER BY id;
"""


@query(
    "lakehouse_json_arrow",
    pure=False,
    oracle=_JSON_ARROW_BODY,
)
def lakehouse_json_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON `->` / `->>` arrows through sql() text on CATALOG-TYPED
    columns (round-8, closes SURVEY §8.12's documented gap): the engine
    runs the ORACLE'S OWN SQL verbatim — a JSON column end-to-end
    (CREATE/INSERT/scan), chained `->`, `->` on a VARCHAR column
    (DuckDB's implicit cast), array-index and `$`-path arguments, and a
    lambda in the same statement (arrow/lambda disambiguation is by
    catalog-resolved operand type + HOF argument position; see
    engine._json_column_set / _lambda_param_position)."""
    lake = _fresh_lake(spark)
    return lake.sql(_JSON_ARROW_BODY)
