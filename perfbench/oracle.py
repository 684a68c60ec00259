"""Output check against DuckDB, with the repository's own comparer.

The canonical value forms, the row canonicalisation and the output-dtype
family check all come from ``tests/compare.py``, the comparer the parity
tests use: values compare exactly and with their type family kept
(``Decimal('3.50')`` is not ``3.5``, ``3`` is not ``3.0``), columns are
matched by name and rows as a multiset, and every column's Spark dtype
must map to the DuckDB result type.
"""

from __future__ import annotations

from dataclasses import dataclass
from types import SimpleNamespace

from tests.compare import _duck_rel_rows, _sort_key, canon_value, schema_types_compare


@dataclass
class Expected:
    """DuckDB's result: column types by name and sorted canonical rows."""

    columns: list[str]
    types: list
    rows: list[tuple]


def canon_rows(columns: list[str], rows) -> list[tuple]:
    """Rows reduced to canonical values in column-name order, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return out


def expect(con, sql: str) -> Expected:
    res = con.sql(sql)
    columns, types = list(res.columns), list(res.types)
    _, rows = _duck_rel_rows(res)
    rows.sort(key=_sort_key)
    return Expected(columns, types, rows)


def matches(dtypes: list[tuple[str, str]], rows, want: Expected) -> bool:
    """Spark's ``(df.dtypes, collected rows)`` against DuckDB's result.

    A dtype-family or column-name mismatch raises ``AssertionError`` with
    the comparer's message; a value mismatch returns ``False``.
    """
    schema_types_compare(
        SimpleNamespace(dtypes=dtypes),
        SimpleNamespace(columns=want.columns, types=want.types),
    )
    return canon_rows([c for c, _ in dtypes], rows) == want.rows
