"""Exploratory differential DML STATE fuzzing.

Run by hand per work session (tests/test_fuzz_dml.py runs a pinned
slice in the suite):

    python tests/fuzz_dml.py [n_scripts] [seed]

Runs IDENTICAL random DML scripts (CREATE TABLE → a dozen
INSERT/UPDATE/DELETE/ALTER/TRUNCATE statements) through the engine's
lakehouse plane AND a DuckDB connection, comparing the full table state
after every statement.  This is the write-path complement of
fuzz_explore.py: it exercises file mints, positional delete files,
inlined rows, schema evolution, snapshot bookkeeping and whole-file
metadata-only deletes against DuckDB's transactional semantics, and
checks that each statement commits at most one snapshot (none when it
fails).  Finds get fixed and pinned as curated flows in
tests/test_lakehouse.py.
"""

from __future__ import annotations

import random
import sys
import tempfile

import duckdb

sys.path.insert(0, "tests")
sys.path.insert(0, ".")

from ducklakexl_spark.engine import DuckLakeSpark  # noqa: E402
from ducklakexl_spark.session import get_spark  # noqa: E402

rng = random.Random()


def _script(tbl: str) -> list[str]:
    n_seed = rng.randint(3, 8)
    rows = ", ".join(
        f"({i}, {rng.randint(-50, 150)}, '{rng.choice('abcdef')}{i}')"
        for i in range(n_seed)
    )
    stmts = [
        f"CREATE TABLE {tbl} (k INTEGER, v INTEGER, s VARCHAR)",
        f"INSERT INTO {tbl} VALUES {rows}",
    ]
    next_k = [n_seed]
    has_w = [False]

    def op_insert() -> str:
        vals = ", ".join(
            f"({next_k[0] + i}, {rng.randint(-50, 150)}, "
            f"'{rng.choice('xyz')}{next_k[0] + i}'"
            + (f", {rng.randint(0, 9)}" if has_w[0] else "")
            + ")"
            for i in range(rng.randint(1, 4))
        )
        cols = "(k, v, s, w)" if has_w[0] else "(k, v, s)"
        next_k[0] += 4
        return f"INSERT INTO {tbl} {cols} VALUES {vals}"

    def op_self_insert() -> str:
        off = next_k[0] + 100
        next_k[0] += 200
        cols = "(k, v, s)" if has_w[0] else ""
        return (
            f"INSERT INTO {tbl} {cols} SELECT k + {off}, v + 1, s || '!' "
            f"FROM {tbl} WHERE k % {rng.randint(2, 4)} = 0"
        )

    def op_update() -> str:
        return rng.choice([
            f"UPDATE {tbl} SET v = v + {rng.randint(1, 9)} "
            f"WHERE k % {rng.randint(2, 5)} = {rng.randint(0, 1)}",
            f"UPDATE {tbl} SET s = upper(s) WHERE v > {rng.randint(0, 99)}",
            f"UPDATE {tbl} SET v = -v, s = s || '_m' "
            f"WHERE v < {rng.randint(-20, 20)}",
            f"UPDATE {tbl} SET V = v - {rng.randint(1, 9)} "
            f"WHERE k % {rng.randint(2, 5)} = 0",
            f"UPDATE {tbl} SET (v, S) = (v * 2, s || '_t') "
            f"WHERE v > {rng.randint(0, 99)}",
        ])

    def op_point_cycle() -> list[str]:
        # a one-row INSERT writes a file its DELETE retires whole
        k = next_k[0]
        next_k[0] += 1
        cols = "(k, v, s)" if has_w[0] else ""
        return [
            f"INSERT INTO {tbl} {cols} VALUES ({k}, {rng.randint(-50, 150)}, "
            f"'p{k}')",
            f"DELETE FROM {tbl} WHERE k = {k}",
        ]

    def op_delete() -> str:
        return rng.choice([
            f"DELETE FROM {tbl} WHERE k % {rng.randint(3, 7)} = "
            f"{rng.randint(0, 2)}",
            f"DELETE FROM {tbl} WHERE k >= {rng.randint(0, next_k[0] + 2)}",
            f"DELETE FROM {tbl} WHERE v BETWEEN {rng.randint(-30, 0)} "
            f"AND {rng.randint(1, 40)}",
            f"DELETE FROM {tbl} WHERE s LIKE '%{rng.choice('abxyz')}%'",
        ])

    def op_alter() -> str:
        if has_w[0]:
            return op_update()
        has_w[0] = True
        return f"ALTER TABLE {tbl} ADD COLUMN w INTEGER DEFAULT 7"

    def op_truncate() -> str:
        return f"DELETE FROM {tbl}"

    def op_drop_w() -> str:
        if not has_w[0]:
            return op_delete()
        has_w[0] = False
        return f"ALTER TABLE {tbl} DROP COLUMN w"

    def op_update_from() -> str:
        ks = rng.sample(range(next_k[0] + 4), k=min(3, next_k[0]))
        vals = ", ".join(f"({k2}, {rng.randint(-9, 9)})" for k2 in ks)
        set_list = rng.choice([
            f"v = {tbl}.v + d.dv",
            f"V = {tbl}.v - d.dv",
            f"(v, s) = ({tbl}.v * d.dv, {tbl}.s || '_f')",
            "(V) = (d.dv)",
        ])
        return (
            f"UPDATE {tbl} SET {set_list} "
            f"FROM (VALUES {vals}) d(k, dv) WHERE {tbl}.k = d.k"
        )

    def op_delete_using() -> str:
        ks = rng.sample(range(next_k[0] + 4), k=min(2, next_k[0]))
        vals = ", ".join(f"({k2})" for k2 in ks)
        return (
            f"DELETE FROM {tbl} USING (VALUES {vals}) d(k) "
            f"WHERE {tbl}.k = d.k"
        )

    pool = [op_insert, op_insert, op_self_insert, op_update, op_update,
            op_delete, op_delete, op_alter, op_truncate,
            op_update_from, op_delete_using, op_drop_w, op_point_cycle]
    return stmts + _draw(pool, 6, 14)


def _draw(pool, lo: int, hi: int) -> list[str]:
    """Between ``lo`` and ``hi`` ops drawn from ``pool``; an op returns
    one statement or a list of them."""
    out: list[str] = []
    for _ in range(rng.randint(lo, hi)):
        st = rng.choice(pool)()
        out += st if isinstance(st, list) else [st]
    return out


def _retire_script(tbl: str) -> list[str]:
    """Whole-file deletes: small INSERTs write files a DELETE's WHERE can
    cover (a BIGINT key, a DECIMAL and a nullable INTEGER holding NULLs),
    with point, range, OR and NULL-column filters, a column added after
    the files, and UPDATEs (whose delete half goes the same way)."""
    next_k = [0]
    has_w = [False]

    def row() -> str:
        k = next_k[0]
        next_k[0] += 1
        n = "NULL" if rng.random() < 0.3 else str(rng.randint(0, 5))
        return f"({k}, {rng.randint(-300, 300) / 100:.2f}, {n}, 's{k}')"

    def op_insert() -> str:
        rows = ", ".join(row() for _ in range(rng.randint(1, 4)))
        return f"INSERT INTO {tbl} (k, d, n, s) VALUES {rows}"

    def op_point_cycle() -> list[str]:
        k = next_k[0]
        return [
            f"INSERT INTO {tbl} (k, d, n, s) VALUES {row()}",
            f"DELETE FROM {tbl} WHERE k = {k}",
        ]

    def op_delete() -> str:
        k = rng.randint(0, next_k[0] + 1)
        d = f"{rng.randint(-300, 300) / 100:.2f}"
        return rng.choice([
            f"DELETE FROM {tbl} WHERE k = {k}",
            f"DELETE FROM {tbl} WHERE k = {k}.0",
            f"DELETE FROM {tbl} WHERE k >= {k}",
            f"DELETE FROM {tbl} WHERE k < {k}",
            f"DELETE FROM {tbl} WHERE k > {k} AND k <= {k + 3}",
            f"DELETE FROM {tbl} WHERE k = {k} OR k = {k + 1}",
            f"DELETE FROM {tbl} WHERE d >= {d}",
            f"DELETE FROM {tbl} WHERE d < {d} AND k >= {k}",
            f"DELETE FROM {tbl} WHERE n = {rng.randint(0, 5)}",
            f"DELETE FROM {tbl} WHERE n >= {rng.randint(0, 5)}",
            f"DELETE FROM {tbl} WHERE k >= {k} AND s LIKE 's%'",
        ])

    def op_update() -> str:
        return (
            f"UPDATE {tbl} SET s = s || '!' "
            f"WHERE k >= {rng.randint(0, next_k[0] + 1)}"
        )

    def op_alter() -> str:
        if has_w[0]:
            return f"DELETE FROM {tbl} WHERE w = 7"
        has_w[0] = True
        return f"ALTER TABLE {tbl} ADD COLUMN w INTEGER DEFAULT 7"

    def op_delete_all() -> str:
        return f"DELETE FROM {tbl}"

    stmts = [
        f"CREATE TABLE {tbl} (k BIGINT, d DECIMAL(10,2), n INTEGER, "
        f"s VARCHAR)",
        op_insert(),
    ]
    pool = [op_insert, op_insert, op_point_cycle, op_point_cycle,
            op_delete, op_delete, op_delete, op_update, op_alter,
            op_delete_all]
    return stmts + _draw(pool, 8, 16)


def _pk_script(tbl: str) -> list[str]:
    """Upsert-flavored variant: k is a PRIMARY KEY, ops are the
    conflict-handling inserts (ON CONFLICT DO UPDATE / DO NOTHING,
    INSERT OR REPLACE / OR IGNORE)."""
    n_seed = rng.randint(3, 6)
    rows = ", ".join(
        f"({i}, {rng.randint(0, 99)}, '{rng.choice('abc')}{i}')"
        for i in range(n_seed)
    )
    stmts = [
        f"CREATE TABLE {tbl} (k INTEGER PRIMARY KEY, v INTEGER, s VARCHAR)",
        f"INSERT INTO {tbl} VALUES {rows}",
    ]

    def keyval() -> tuple[int, int, str]:
        return (rng.randint(0, n_seed + 4), rng.randint(0, 99),
                rng.choice("xyz"))

    def op_upsert_update() -> str:
        k2, v2, s2 = keyval()
        set_list = rng.choice([
            "v = excluded.v, s = excluded.s",
            "V = excluded.v, S = excluded.s",
            "(v, s) = (excluded.v, excluded.s)",
            "(S) = (excluded.s)",
        ])
        return (
            f"INSERT INTO {tbl} VALUES ({k2}, {v2}, '{s2}{k2}') "
            f"ON CONFLICT (k) DO UPDATE SET {set_list}"
        )

    def op_upsert_nothing() -> str:
        k2, v2, s2 = keyval()
        return (
            f"INSERT INTO {tbl} VALUES ({k2}, {v2}, '{s2}{k2}') "
            f"ON CONFLICT DO NOTHING"
        )

    def op_or_replace() -> str:
        k2, v2, s2 = keyval()
        return f"INSERT OR REPLACE INTO {tbl} VALUES ({k2}, {v2}, '{s2}{k2}')"

    def op_or_ignore() -> str:
        k2, v2, s2 = keyval()
        return f"INSERT OR IGNORE INTO {tbl} VALUES ({k2}, {v2}, '{s2}{k2}')"

    def op_update() -> str:
        return (f"UPDATE {tbl} SET v = v + {rng.randint(1, 5)} "
                f"WHERE k % {rng.randint(2, 4)} = 0")

    def op_delete() -> str:
        return f"DELETE FROM {tbl} WHERE k = {rng.randint(0, n_seed + 4)}"

    pool = [op_upsert_update, op_upsert_update, op_upsert_nothing,
            op_or_replace, op_or_ignore, op_update, op_delete]
    return stmts + _draw(pool, 5, 10)


def run_scripts(spark, n: int, seed: int, work_dir: str | None = None) -> int:
    """Run ``n`` seeded scripts through the engine and DuckDB; print each
    divergence and return their count."""
    rng.seed(seed)
    con = duckdb.connect()
    finds = 0
    for si in range(n):
        tmp = tempfile.mkdtemp(prefix="lake_dmlfuzz_", dir=work_dir)
        lake = DuckLakeSpark(
            spark=spark, data_path=f"{tmp}/d", local_catalog=f"{tmp}/c"
        )
        tbl = f"t{si}"
        stmts = (_script, _retire_script, _pk_script)[si % 3](tbl)
        snap_states: dict[int, list] = {}  # snapshot_id -> duck state
        for idx, st in enumerate(stmts):
            eng_err = duck_err = None
            pre = lake.catalog.current_snapshot
            try:
                lake.sql(st)
            except Exception as e:
                eng_err = e
            try:
                con.execute(st)
            except Exception as e:
                duck_err = e
            # a statement commits at most one snapshot, a failed one none
            moved = lake.catalog.current_snapshot - pre
            if moved > (0 if eng_err else 1):
                print(f"\n=== {moved} SNAPSHOTS script {si} stmt {idx} "
                      f"({'failed' if eng_err else 'succeeded'}) ===\n{st}\n")
                finds += 1
                break
            # occasionally COMPACT mid-script (engine-only maintenance —
            # a no-op relationally): the state compare AND the end-of-
            # script time-travel replay must both survive file rewrites
            if rng.random() < 0.12 and not eng_err and not duck_err:
                try:
                    lake.sql(f"CALL merge_adjacent_files('{tbl}')")
                except Exception as e:
                    print(f"\n=== COMPACT ERROR script {si} stmt {idx} ===\n"
                          f"{str(e)[:250]}\n")
                    finds += 1
                    break
            if eng_err and duck_err:
                continue  # both reject (e.g. constraint) — parity holds
            if eng_err or duck_err:
                side = "ENGINE-ONLY" if eng_err else "DUCK-ONLY"
                print(f"\n=== {side} ERROR script {si} stmt {idx} ===\n"
                      f"{st}\n{str(eng_err or duck_err)[:300]}\n")
                finds += 1
                break
            srows = sorted(
                tuple("NULL" if v is None else str(v) for v in r)
                for r in lake.sql(f"SELECT * FROM {tbl}").collect()
            )
            drows = sorted(
                tuple("NULL" if v is None else str(v) for v in r)
                for r in con.execute(f"SELECT * FROM {tbl}").fetchall()
            )
            if srows != drows:
                print(f"\n=== STATE DIVERGENCE script {si} after stmt "
                      f"{idx} ===\n{st}\nscript so far:")
                for s2 in stmts[: idx + 1]:
                    print(f"  {s2}")
                only_s = [r for r in srows if r not in drows][:5]
                only_d = [r for r in drows if r not in srows][:5]
                print(f"  engine-only: {only_s}\n  duck-only  : {only_d}")
                finds += 1
                break
            snap_states[int(lake.catalog.snapshots()["snapshot_id"].max())] = drows
        else:
            # TIME TRAVEL replay: every recorded snapshot must
            # reproduce the table state duckdb had at that point
            # (exercises positional deletes + schema evolution across
            # snapshot boundaries)
            for sid, want in snap_states.items():
                got = sorted(
                    tuple("NULL" if v is None else str(v) for v in r)
                    for r in lake.sql(
                        f"SELECT * FROM {tbl} AT (VERSION => {sid})"
                    ).collect()
                )
                if got != want:
                    print(f"\n=== TIME-TRAVEL DIVERGENCE script {si} "
                          f"snapshot {sid} ===\nscript:")
                    for s2 in stmts:
                        print(f"  {s2}")
                    only_s = [r for r in got if r not in want][:5]
                    only_d = [r for r in want if r not in got][:5]
                    print(f"  engine-only: {only_s}\n  expected-only: {only_d}")
                    finds += 1
                    break
        if (si + 1) % 10 == 0:
            print(f"{si + 1}/{n} scripts done, {finds} finds")
    con.close()
    return finds


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else random.randrange(1 << 30)
    print(f"seed={seed} n_scripts={n}")
    spark = get_spark(app_name="fuzz_dml", master="local[8]",
                      shuffle_partitions=8)
    finds = run_scripts(spark, n, seed)
    print(f"\nTOTAL: {n} scripts, {finds} finds")
    return 1 if finds else 0


if __name__ == "__main__":
    sys.exit(main())
