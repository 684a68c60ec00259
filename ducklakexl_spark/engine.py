"""DuckLakeSpark — the Spark-native twin of the reference's DuckLakeXL class.

The reference wraps every ``sql()`` call in a catalog pull/push and hands
the statement to DuckDB (ducklakexl.py:387-397).  Here the engine *is*
Spark: statements are classified, DDL/DML mutate the DuckLake catalog and
write parquet through Spark executors, and reads resolve a snapshot-scoped
file list before handing the query text to ``spark.sql`` (Catalyst does
all optimization — SURVEY §4).

Lifecycle parity (SURVEY §3.2)::

    _pull()   -> refresh catalog from the workbook     (ducklakexl.py:393)
    execute   -> per-statement dispatch                 (ducklakexl.py:394)
    _push()   -> publish catalog to the workbook        (ducklakexl.py:395)
    return    -> last result DataFrame (lazy, like DuckDBPyRelation)

Custom physical pieces (SURVEY §4 list): snapshot-scoped scan resolution,
catalog-level file skipping, positional-delete application via
``_metadata.row_index`` + broadcast anti-join, and DML planning (delete
files, stats collection from parquet footers).
"""

from __future__ import annotations

import base64
import bisect
import datetime as _dt
import decimal as _decimal
import functools
import hashlib
import json
import os
import re
import shutil
import urllib.parse
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema

from ducklakexl_spark import iofs
from ducklakexl_spark.catalog import (
    CATALOG_SCHEMAS,
    CatalogStore,
    DuckLakeCatalog,
)
from ducklakexl_spark.operators import joins as joins_ops

# ---------------------------------------------------------------------------
# SQL text utilities
# ---------------------------------------------------------------------------


def split_statements(text: str) -> list[str]:
    """Split a multi-statement string on ';' outside literals, quoted
    identifiers and comments (reference relies on DuckDB accepting
    multi-statement strings, test_module.ipynb cell 4; README.md:70-74)."""
    lex = _literal_spans(text)
    cuts = [
        m.start() for m in re.finditer(";", text) if lex.span(m.start()) is None
    ]
    bounds = zip([-1] + cuts, cuts + [len(text)])
    return [s for a, b in bounds if (s := text[a + 1 : b].strip())]


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at bracket depth 0 outside literals, quoted
    identifiers and comments; pieces come back stripped, a trailing
    empty one dropped."""
    parts = [p.strip() for p in _split_at(s, re.compile(re.escape(sep)))]
    return parts if parts[-1] else parts[:-1]


_TYPE_MAP: list[tuple[re.Pattern, object]] = [
    (re.compile(r"^(BIGINT|INT8|LONG|HUGEINT)$", re.I), T.LongType()),
    (re.compile(r"^(INTEGER|INT|INT4|SIGNED)$", re.I), T.IntegerType()),
    (re.compile(r"^(SMALLINT|INT2|SHORT)$", re.I), T.ShortType()),
    (re.compile(r"^(TINYINT|INT1)$", re.I), T.ByteType()),
    (re.compile(r"^(VARCHAR|TEXT|STRING|CHAR|BPCHAR)(\(\d+\))?$", re.I), T.StringType()),
    (re.compile(r"^(DOUBLE|FLOAT8)$", re.I), T.DoubleType()),
    (re.compile(r"^(REAL|FLOAT4|FLOAT)$", re.I), T.FloatType()),
    (re.compile(r"^(BOOLEAN|BOOL|LOGICAL)$", re.I), T.BooleanType()),
    (re.compile(r"^DATE$", re.I), T.DateType()),
    # TIME columns are logical TimeType in-memory; Spark has no
    # parquet TIME writer, so the lake stores them as ISO strings and
    # the scan casts back — see _write_files / table_df.  TIME columns
    # do NOT participate in file skipping: the predicate extractor only
    # recognizes DATE/TIMESTAMP literals and _prune_by_source_bounds
    # excludes datetime.time bounds.  (If TIME pruning is ever wired
    # up, first normalize the two write paths to one fixed-width
    # fractional-second format — inline encode uses Python isoformat
    # '13:45:09.500000' while _write_files uses Spark's cast
    # '13:45:09.5', which compare unequal lexicographically.)
    (re.compile(r"^TIME(\(\d+\))?$", re.I), T.TimeType()),
    (re.compile(r"^TIMESTAMP(TZ)?(\(\d+\))?$", re.I), T.TimestampType()),
    (re.compile(r"^BLOB|^BYTEA|^BINARY", re.I), T.BinaryType()),
    # JSON columns (duckdb json extension type): stored as strings —
    # Spark has no JSON column type and every json_* function takes the
    # document text.  The CATALOG keeps the declared "JSON" tag, which is
    # what lets the `->` arrow disambiguate from lambda syntax on column
    # operands (see _json_column_set / rewrite_ansi_fetch_and_json_arrow).
    (re.compile(r"^JSON$", re.I), T.StringType()),
]
_DECIMAL_RE = re.compile(r"^(DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", re.I)


def ducklake_type_to_spark(sql_type: str) -> T.DataType:
    """Map DuckDB/DuckLake SQL types to Spark types (SURVEY §1.1 table),
    including nested list (``T[]`` / ``LIST(T)``), ``MAP(K, V)`` and
    ``STRUCT(name T, …)`` forms so array/struct-typed tables round-trip
    through CTAS + catalog + scan."""
    t = sql_type.strip()
    if t.endswith("[]"):
        return T.ArrayType(ducklake_type_to_spark(t[:-2]))
    lm = re.match(r"^LIST\s*\((.+)\)$", t, re.I | re.S)
    if lm:
        return T.ArrayType(ducklake_type_to_spark(lm.group(1)))
    mm = re.match(r"^MAP\s*\((.+)\)$", t, re.I | re.S)
    if mm:
        parts = split_top_level(mm.group(1))
        if len(parts) == 2:
            return T.MapType(
                ducklake_type_to_spark(parts[0]),
                ducklake_type_to_spark(parts[1]),
            )
    sm = re.match(r"^STRUCT\s*\((.+)\)$", t, re.I | re.S)
    if sm:
        fields = []
        for part in split_top_level(sm.group(1)):
            name, _, ftype = part.strip().partition(" ")
            fields.append(
                T.StructField(name.strip('"'), ducklake_type_to_spark(ftype))
            )
        return T.StructType(fields)
    m = _DECIMAL_RE.match(t)
    if m:
        return T.DecimalType(int(m.group(2)), int(m.group(3)))
    for pat, typ in _TYPE_MAP:
        if pat.match(t):
            return typ
    raise ValueError(f"unsupported column type: {sql_type}")


_USE_RE = re.compile(r"^\s*USE\s+([\w.]+)\s*$", re.I)
_ATTACH_RE = re.compile(r"^\s*(?:ATTACH|DETACH)\b", re.I)
_ATTACH_DUCKLAKE_RE = re.compile(
    r"^\s*ATTACH\s+(?:IF\s+NOT\s+EXISTS\s+)?'ducklake:([^']+)'\s+"
    r"AS\s+(\w+)\s*"
    r"(?:\(\s*(?:DATA_PATH\s+'([^']+)')?\s*,?\s*(ENCRYPTED)?\s*\))?\s*$",
    re.I,
)
_DETACH_RE = re.compile(
    r"^\s*DETACH\s+(?:DATABASE\s+)?(?:IF\s+EXISTS\s+)?(\w+)\s*$", re.I
)
_TXN_RE = re.compile(r"^\s*(BEGIN(\s+TRANSACTION)?|COMMIT|ROLLBACK|ABORT)\s*$", re.I)
_CREATE_SEQ_RE = re.compile(
    r"^\s*CREATE\s+SEQUENCE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.\"]+)"
    r"(?:\s+START(?:\s+WITH)?\s+(-?\d+))?"
    r"(?:\s+INCREMENT(?:\s+BY)?\s+(-?\d+))?\s*$",
    re.I,
)
_DROP_SEQ_RE = re.compile(
    r"^\s*DROP\s+SEQUENCE\s+(IF\s+EXISTS\s+)?([\w.\"]+)\s*$", re.I
)
_NEXTVAL_RE = re.compile(r"\b(nextval|currval)\s*\(\s*'([^']+)'\s*\)", re.I)
_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"([\w.\"]+)\s*\((.*)\)\s*$",
    re.I | re.S,
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+([\w.\"]+)\s+AS\s+"
    r"(SELECT\b.*|WITH\b.*|FROM\b.*|VALUES\b.*)$",
    re.I | re.S,
)
_DROP_RE = re.compile(r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.\"]+)\s*$", re.I)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([\w.\"]+)\s*(\([^)]*\))?\s*"
    r"(?:(BY\s+NAME)\s+|BY\s+POSITION\s+)?"
    r"(VALUES\b.*|SELECT\b.*|WITH\b.*|FROM\b.*)$",
    re.I | re.S,
)
_INSERT_DEFAULTS_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([\w.\"]+)\s+DEFAULT\s+VALUES\s*$", re.I
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.\"]+)(?:\s+WHERE\s+(.*))?$", re.I | re.S
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+([\w.\"]+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?$", re.I | re.S
)
_UPDATE_FROM_RE = re.compile(
    r"^\s*UPDATE\s+([\w.\"]+)(?:\s+(?:AS\s+)?(\w+))?\s+SET\s+(.*?)\s+"
    r"FROM\s+(\(.*?\)|[\w.\"]+)"
    r"(?:\s+(?:AS\s+)?(\w+)\s*(?:\(([\w\s,]*)\))?)?\s+WHERE\s+(.*)$",
    re.I | re.S,
)
_DELETE_USING_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.\"]+)(?:\s+(?:AS\s+)?(\w+))?\s+"
    r"USING\s+(\(.*?\)|[\w.\"]+)"
    r"(?:\s+(?:AS\s+)?(\w+)\s*(?:\(([\w\s,]*)\))?)?\s+WHERE\s+(.*)$",
    re.I | re.S,
)
_TRUNCATE_RE = re.compile(r"^\s*TRUNCATE\s+(?:TABLE\s+)?([\w.\"]+)\s*$", re.I)


def _aliased_source(src: str, salias: str | None, collist: str | None) -> str:
    """Fold a ``(subquery) alias(col, …)`` column-alias list into the
    source text so the downstream subquery execution sees NAMED columns
    (``DELETE … USING (VALUES (1)) d(k) WHERE t.k = d.k``) — the DML
    regexes capture the list as their own group."""
    if collist and collist.strip() and src.lstrip().startswith("("):
        return f"(SELECT * FROM {src} {salias or '__src'}({collist}))"
    return src
_SET_RE = re.compile(
    r"^\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?([\w.]+)\s*(?:=|TO)\s*(.+?)\s*$", re.I
)
_RESET_RE = re.compile(r"^\s*RESET\s+([\w.]+)\s*$", re.I)
_SET_VARIABLE_RE = re.compile(
    r"^\s*SET\s+VARIABLE\s+(\w+)\s*=\s*(.+?)\s*$", re.I | re.S
)
_RESET_VARIABLE_RE = re.compile(r"^\s*RESET\s+VARIABLE\s+(\w+)\s*$", re.I)
_GETVARIABLE_RE = re.compile(r"\bgetvariable\s*\(\s*'(\w+)'\s*\)", re.I)
_PRAGMA_RE = re.compile(
    r"^\s*PRAGMA\s+(\w+)\s*(?:\(\s*'?([\w.]*)'?\s*\))?\s*$", re.I
)
_ADD_PARQUET_KEY_RE = re.compile(
    r"^\s*PRAGMA\s+add_parquet_key\s*\(\s*'([^']+)'\s*,\s*'([^']*)'\s*\)\s*$",
    re.I,
)
_ENCRYPTION_CONFIG_RE = re.compile(
    r"\bENCRYPTION_CONFIG\s*\{\s*footer_key\s*:\s*'?([\w]+)'?\s*\}", re.I
)
_PIVOT_RE = re.compile(
    r"^\s*PIVOT\s+(.+?)\s+ON\s+([\w\"]+)"
    r"(?:\s+IN\s+\(([^)]*)\))?\s+"
    r"USING\s+(.+?)(?:\s+GROUP\s+BY\s+(.+?))?"
    r"(?:\s+ORDER\s+BY\s+(.+?))?(?:\s+LIMIT\s+(\d+))?\s*$",
    re.I | re.S,
)
_UNPIVOT_RE = re.compile(
    r"^\s*UNPIVOT\s+(.+?)\s+ON\s+(.+?)\s+"
    r"INTO\s+NAME\s+([\w\"]+)\s+VALUE\s+([\w\"]+)"
    r"(?:\s+ORDER\s+BY\s+(.+?))?(?:\s+LIMIT\s+(\d+))?\s*$",
    re.I | re.S,
)
_COMMENT_RE = re.compile(
    r"^\s*COMMENT\s+ON\s+(TABLE|COLUMN)\s+([\w.\"]+)\s+IS\s+'((?:[^']|'')*)'\s*$",
    re.I,
)
_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+TABLES\s*$", re.I)
_DESCRIBE_RE = re.compile(r"^\s*(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?([\w.\"]+)\s*$", re.I)
# DuckDB's DESCRIBE output shape (column_name/column_type/null/key/
# default/extra, null spelled 'YES'/'NO')
_DESCRIBE_SCHEMA = (
    "column_name string, column_type string, null string, key string, "
    "default string, extra string"
)
_EXPLAIN_RE = re.compile(r"^\s*EXPLAIN\s+(ANALYZE\s+)?(SELECT\b.*|WITH\b.*)$", re.I | re.S)
_SUMMARIZE_RE = re.compile(r"^\s*SUMMARIZE\s+(.*)$", re.I | re.S)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.\"]+)(?:\s+(?:AS\s+)?(\w+))?\s+"
    r"USING\s+(\(.*?\)|[\w.\"]+)(?:\s+(?:AS\s+)?(\w+))?\s+"
    r"ON\s+(.*?)\s+(WHEN\s+.*)$",
    re.I | re.S,
)
_MERGE_CLAUSE_START_RE = re.compile(r"\bWHEN\s+(?:NOT\s+)?MATCHED\b", re.I)
_MERGE_CLAUSE_RE = re.compile(
    r"^WHEN\s+(NOT\s+)?MATCHED\s*(?:BY\s+(SOURCE|TARGET)\s*)?"
    r"(?:AND\s+(.*?)\s+)?THEN\s+"
    r"((?:UPDATE|DELETE|INSERT)\b.*)$",
    re.I | re.S,
)
_MERGE_UPDATE_ACTION_RE = re.compile(r"^UPDATE\s+SET\s+(.*)$", re.I | re.S)
_MERGE_DELETE_ACTION_RE = re.compile(r"^DELETE\s*$", re.I)
_MERGE_INSERT_STAR_RE = re.compile(r"^INSERT\s*\*\s*$", re.I)
_MERGE_INSERT_ACTION_RE = re.compile(
    r"^INSERT\s*(\([^)]*\))?\s*VALUES\s*\((.*)\)\s*$", re.I | re.S
)


def _parse_set_list(
    set_clause: str, columns: list[str], stmt: str, generated=frozenset()
) -> dict[str, str]:
    """The ``SET`` list of every UPDATE form (UPDATE, UPDATE … FROM,
    MERGE's UPDATE arms, ON CONFLICT DO UPDATE, UPDATE … RETURNING) as
    {column: expression}.  ``(a, b) = (x, y)`` assigns pairwise; a target
    may be quoted or qualified (``t.v``) and resolves case-insensitively
    against ``columns``; an unknown column, a column in ``generated``
    and ``(…) = (SELECT …)`` raise."""
    by_lower = {c.lower(): c for c in columns}
    out: dict[str, str] = {}
    for part in split_top_level(set_clause):
        lhs, rhs = (x.strip() for x in part.split("=", 1))
        if lhs.startswith("("):
            if re.match(r"(?is)^\(\s*SELECT\b", rhs):
                raise NotImplementedError(
                    f"{stmt} SET (…) = (SELECT …) is not supported"
                )
            targets = split_top_level(lhs[1:-1])
            values = (
                split_top_level(rhs[1:-1])
                if rhs.startswith("(") and matching_paren(rhs, 0) == len(rhs) - 1
                else [rhs]
            )
            if len(targets) != len(values):
                raise ValueError(
                    f"{stmt} SET tuple arity mismatch: {len(targets)} "
                    f"columns, {len(values)} values"
                )
        else:
            targets, values = [lhs], [rhs]
        for target, value in zip(targets, values):
            key = target.split(".")[-1].strip('"')
            col = by_lower.get(key.lower())
            if col is None:
                raise ValueError(f"{stmt}: no column named {key!r}")
            if col in generated:
                raise ValueError(
                    f'Cant update column "{col}" because it is a generated '
                    "column"
                )
            out[col] = value
    return out


def _parse_merge_clauses(
    actions: str, columns: list[str], generated: set[str]
) -> list[dict]:
    """Tokenize every WHEN clause of a MERGE, in order; raise on any
    clause the planner does not implement (a silently dropped clause
    would execute a partial merge).  Supported per the SQL shape:
    ``WHEN MATCHED [AND cond] THEN UPDATE SET …|DELETE``,
    ``WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT
    [*|(cols) VALUES (…)]``, and ``WHEN NOT MATCHED BY SOURCE
    [AND cond] THEN UPDATE SET …|DELETE`` (target rows with no source
    match).  SET lists resolve against the target's ``columns`` and may
    not assign its ``generated`` ones."""
    starts = [m.start() for m in _MERGE_CLAUSE_START_RE.finditer(actions)]
    if not starts or actions[: starts[0]].strip():
        raise ValueError(f"MERGE: unparsable WHEN clauses: {actions!r}")
    clauses = []
    for i, s in enumerate(starts):
        chunk = actions[s : starts[i + 1] if i + 1 < len(starts) else None].strip()
        m = _MERGE_CLAUSE_RE.match(chunk)
        if not m:
            raise ValueError(f"MERGE: unsupported WHEN clause: {chunk!r}")
        is_not = m.group(1) is not None
        by = (m.group(2) or "").upper()
        cond = m.group(3)
        act = m.group(4).strip()
        if by and not is_not:
            raise ValueError(f"MERGE: BY {by} requires NOT MATCHED: {chunk!r}")
        by_source = by == "SOURCE"
        # NOT MATCHED BY SOURCE acts on *target* rows, so its actions are
        # the matched-style ones (UPDATE/DELETE), not INSERT
        matched = not is_not
        cl: dict = {"matched": matched, "cond": cond, "by_source": by_source}
        if (matched or by_source) and (u := _MERGE_UPDATE_ACTION_RE.match(act)):
            cl["action"] = "update"
            cl["assignments"] = _parse_set_list(
                u.group(1), columns, "MERGE", generated
            )
        elif (matched or by_source) and _MERGE_DELETE_ACTION_RE.match(act):
            cl["action"] = "delete"
        elif by_source:
            raise ValueError(
                f"MERGE: NOT MATCHED BY SOURCE allows UPDATE/DELETE "
                f"only, got: {act!r}"
            )
        elif not matched and _MERGE_INSERT_STAR_RE.match(act):
            cl["action"] = "insert_star"
        elif not matched and (ins := _MERGE_INSERT_ACTION_RE.match(act)):
            cl["action"] = "insert"
            cl["ins_cols"] = (
                [c.strip().strip('"') for c in split_top_level(ins.group(1)[1:-1])]
                if ins.group(1)
                else None
            )
            cl["ins_vals"] = split_top_level(ins.group(2))
        else:
            raise ValueError(
                f"MERGE: unsupported action for "
                f"{'MATCHED' if matched else 'NOT MATCHED'} clause: {act!r}"
            )
        clauses.append(cl)
    return clauses
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([\w.\"]+)\s+AS\s+(.*)$", re.I | re.S
)
_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.\"]+)\s*$", re.I
)
_RENAME_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"]+)\s+RENAME\s+TO\s+([\w.\"]+)\s*$", re.I
)
_ALTER_ADD_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"]+)\s+ADD\s+(?:COLUMN\s+)?"
    r"(?:(IF\s+NOT\s+EXISTS)\s+)?([\w\"]+)\s+([^;]+?)\s*$",
    re.I,
)
_ALTER_DROP_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"]+)\s+DROP\s+(?:COLUMN\s+)?"
    r"(?:(IF\s+EXISTS)\s+)?([\w\"]+)\s*$",
    re.I,
)
_ALTER_RENAME_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"]+)\s+RENAME\s+(?:COLUMN\s+)?"
    r"([\w\"]+)\s+TO\s+([\w\"]+)\s*$",
    re.I,
)
_ALTER_TYPE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"]+)\s+ALTER\s+(?:COLUMN\s+)?([\w\"]+)\s+"
    r"(?:SET\s+DATA\s+)?TYPE\s+([\w()\[\], ]+?)\s*$",
    re.I,
)
_ALTER_COL_PROP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"]+)\s+ALTER\s+(?:COLUMN\s+)?([\w\"]+)\s+"
    r"(SET\s+DEFAULT\s+(.+?)|DROP\s+DEFAULT|SET\s+NOT\s+NULL|"
    r"DROP\s+NOT\s+NULL)\s*$",
    re.I | re.S,
)

# lossless widenings the scan's cast can always honor (DuckLake's type
# promotion rules); anything else needs a rewrite and is rejected
_TYPE_PROMOTIONS = {
    ("TINYINT", "SMALLINT"), ("TINYINT", "INTEGER"), ("TINYINT", "BIGINT"),
    ("SMALLINT", "INTEGER"), ("SMALLINT", "BIGINT"),
    ("INTEGER", "BIGINT"), ("INTEGER", "DOUBLE"),
    ("FLOAT", "DOUBLE"), ("BIGINT", "DOUBLE"),
}
_SET_PARTITIONED_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"]+)\s+SET\s+PARTITIONED\s+BY\s*\((.*)\)\s*$",
    re.I | re.S,
)
# one partition key: bare column (identity) or transform(column) with
# transform in the DuckLake spec set year/month/day/hour
_PART_KEY_RE = re.compile(
    r"^\s*(?:(year|month|day|hour)\s*\(\s*\"?(\w+)\"?\s*\)"
    r"|\"?(\w+)\"?)\s*$",
    re.I,
)
# lexicographically order-preserving per-granularity truncations: the
# recorded partition VALUE and the driver-side predicate BOUND use the
# same strings, so plain string comparison prunes correctly
_PART_TRANSFORM_FMT = {
    "year": "yyyy",
    "month": "yyyy-MM",
    "day": "yyyy-MM-dd",
    "hour": "yyyy-MM-dd HH",
}
_PART_TRANSFORM_SLICE = {"year": 4, "month": 7, "day": 10, "hour": 13}


def _transform_partition_bound(value: object, transform: str) -> str | None:
    """Truncate a predicate literal to the partition transform's
    granularity string, or None when the literal isn't temporal (no
    pruning — conservative).  Accepts ISO date / timestamp strings."""
    s = str(value)
    if re.match(r"^\d{4}-\d{2}-\d{2}$", s):
        s += " 00:00:00"
    if not re.match(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}", s):
        return None
    return s.replace("T", " ")[: _PART_TRANSFORM_SLICE[transform]]


# column types whose statistics compare exactly against a numeric literal
_EXACT_TYPES = (T.IntegralType, T.DecimalType)
# what a file's [lo, hi] must satisfy for EVERY row to match ``col op v``
_PROOF = {
    "=": lambda lo, hi, v: lo == v and hi == v,
    ">=": lambda lo, hi, v: lo >= v,
    ">": lambda lo, hi, v: lo > v,
    "<=": lambda lo, hi, v: hi <= v,
    "<": lambda lo, hi, v: hi < v,
}


def _footer_min_max(st) -> tuple:
    """(min, max) of a parquet column chunk's statistics.  pyarrow cannot
    decode a DECIMAL stored as INT32/INT64 (how Spark writes precision
    <= 18): those come from the raw unscaled integers."""
    try:
        return st.min, st.max
    except NotImplementedError:
        if st.logical_type.type != "DECIMAL" or st.physical_type not in (
            "INT32", "INT64"
        ):
            raise
        scale = -int(json.loads(st.logical_type.to_json())["scale"])
        return (
            _decimal.Decimal(int(st.min_raw)).scaleb(scale),
            _decimal.Decimal(int(st.max_raw)).scaleb(scale),
        )


def _exact_number(s) -> _decimal.Decimal | None:
    """A statistics or partition value string as an exact finite
    Decimal, else None."""
    try:
        d = _decimal.Decimal(str(s))
    except (_decimal.InvalidOperation, ValueError):
        return None
    return d if d.is_finite() else None


def _proven(fids, los, his, op: str, value) -> list[int]:
    """The file ids whose exact [lo, hi] prove ``col op value`` for every
    row (see DuckLakeSpark._file_matches)."""
    test = _PROOF.get(op)
    if test is None:
        return []
    out = []
    for f, lo, hi in zip(fids, los, his):
        lo, hi = _exact_number(lo), _exact_number(hi)
        if lo is not None and hi is not None and test(lo, hi, value):
            out.append(int(f))
    return out


_CREATE_SCHEMA_RE = re.compile(
    r"^\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?([\w.\"]+)\s*$", re.I
)
_COPY_RE = re.compile(
    r"^\s*COPY\s+(\(.*\)|[\w.\"]+)\s+TO\s+'([^']+)'\s*"
    r"(?:\((.*)\))?\s*$",
    re.I | re.S,
)
_COPY_FORMAT_RE = re.compile(r"\bFORMAT\s+(\w+)", re.I)
_COPY_PARTITION_BY_RE = re.compile(
    r"\bPARTITION_BY\s*(?:\(([^)]*)\)|([\w\"]+))", re.I
)
_READ_FILE_RE = re.compile(
    r"\bread_(parquet|csv|json|csv_auto|json_auto|ndjson|ndjson_auto)"
    r"\s*\(\s*(\[[^\]]*\]|'[^']+')\s*"
    r"((?:,\s*(?:[^(){}',]|'[^']*'|\([^()]*\)|\{[^{}]*\})+)*)\)",
    re.I,
)


def _parse_tvf_options(tail: str) -> dict[str, str]:
    """``key = value`` pairs from a read_* TVF's option tail, split on
    top-level commas (``columns={'a': 'INT', …}`` keeps its own)."""
    opts: dict[str, str] = {}
    for p in split_top_level(tail):
        if not p:
            continue
        k, eq, v = p.partition("=")
        if not eq:
            raise ValueError(f"read_*: malformed option {p!r}")
        opts[k.strip().lower()] = v.strip()
    return opts


def _tvf_columns_schema(spec: str) -> "T.StructType":
    """``columns={'name': 'TYPE', …}`` → explicit Spark schema."""
    body = spec.strip()
    if not (body.startswith("{") and body.endswith("}")):
        raise ValueError(f"read_*: malformed columns spec {spec!r}")
    fields = []
    for e in split_top_level(body[1:-1]):
        if not e:
            continue
        name, _, typ = e.partition(":")
        fields.append(
            T.StructField(
                name.strip().strip("'\""),
                ducklake_type_to_spark(typ.strip().strip("'\"")),
            )
        )
    return T.StructType(fields)
_COPY_FROM_RE = re.compile(
    r"^\s*COPY\s+([\w.\"]+)\s+FROM\s+'([^']+)'\s*(?:\((.*)\))?\s*$",
    re.I | re.S,
)
_AT_VERSION_RE = re.compile(
    r"\b([\w]+)\s+AT\s*\(\s*VERSION\s*=>\s*(\d+)\s*\)", re.I
)
_AT_TIMESTAMP_RE = re.compile(
    r"\b([\w]+)\s+AT\s*\(\s*TIMESTAMP\s*=>\s*(?:TIMESTAMP\s*)?'([^']+)'\s*\)",
    re.I,
)


def find_top_level_keyword(s: str, kw: str, start: int = 0) -> int:
    """Index of the first word-bounded ``kw`` at/after ``start``, at the
    bracket depth of ``start`` and outside literals, or -1."""
    rx = re.compile(rf"(?<!\w){re.escape(kw)}(?!\w)", re.I)
    return _top_level_find(s, rx, start)


_WITH_RECURSIVE_RE = re.compile(
    r"^\s*WITH\s+RECURSIVE\s+(\w+)\s*(?:\(([^)]*)\))?\s*AS\s*\(", re.I
)

_CREATE_MACRO_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?MACRO\s+(\w+)\s*\(([^)]*)\)\s*AS\s+(.*)$",
    re.I | re.S,
)
_DROP_MACRO_RE = re.compile(
    r"^\s*DROP\s+MACRO\s+(IF\s+EXISTS\s+)?(\w+)\s*$", re.I
)

_CALL_RE = re.compile(r"^\s*CALL\s+([\w.]+)\s*\(([^)]*)\)\s*$", re.I)
_CREATE_TYPE_RE = re.compile(
    r"^\s*CREATE\s+TYPE\s+([\w\"]+)\s+AS\s+ENUM\s*\(([^)]*)\)\s*$", re.I
)
_DROP_TYPE_RE = re.compile(
    r"^\s*DROP\s+TYPE\s+(?:IF\s+EXISTS\s+)?([\w\"]+)\s*$", re.I
)

_ON_CONFLICT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([\w.\"]+)\s*(\([^)]*\))?\s*"
    r"(VALUES\b.*?|SELECT\b.*?|FROM\b.*?)\s*"
    r"ON\s+CONFLICT\s*(?:\(([^)]*)\))?\s*DO\s+(.*)$",
    re.I | re.S,
)

_INSERT_OR_RE = re.compile(
    r"^\s*INSERT\s+OR\s+(REPLACE|IGNORE)\s+INTO\s+([\w.\"]+)\s*"
    r"(\([^)]*\))?\s*(VALUES\b.*|SELECT\b.*|FROM\b.*)$",
    re.I | re.S,
)

_SERIES_TVF_RE = re.compile(
    r"(\bFROM\s+|\bJOIN\s+|,\s*)(generate_series|range)\s*\(\s*(-?\d+)\s*"
    r"(?:,\s*(-?\d+)\s*)?(?:,\s*(-?\d+)\s*)?\)"
    r"(?:\s*(?:AS\s+)?(\w+)\s*\(\s*(\w+)\s*\))?",
    re.I,
)
_SERIES_TVF_TEMPORAL_RE = re.compile(
    r"(\bFROM\s+|\bJOIN\s+|,\s*)(generate_series|range)\s*\(\s*"
    r"((?:DATE|TIMESTAMP)\s*'[^']+')\s*,\s*"
    r"((?:DATE|TIMESTAMP)\s*'[^']+')\s*,\s*"
    r"(-?\s*INTERVAL\s+'?(-?\d+)'?\s+\w+?S?)\s*\)"
    r"(?:\s*(?:AS\s+)?(\w+)\s*\(\s*(\w+)\s*\))?",
    re.I,
)


def split_rel_alias(seg: str) -> tuple[str, str | None]:
    """Split a FROM-clause item into (relation, alias).  The relation is
    either a parenthesized subquery or a dotted identifier; the alias an
    optional trailing ``[AS] name``."""
    seg = seg.strip()
    if seg.startswith("("):
        close = matching_paren(seg, 0)
        rel, rest = seg[: close + 1], seg[close + 1 :].strip()
    else:
        m = re.match(r"[\w.]+", seg)
        if not m:
            raise ValueError(f"cannot parse relation: {seg!r}")
        rel, rest = m.group(0), seg[m.end() :].strip()
    alias = None
    if rest:
        m = re.fullmatch(r"(?:AS\s+)?(\w+)", rest, re.I)
        if not m:
            raise ValueError(f"cannot parse relation alias: {seg!r}")
        alias = m.group(1)
    return rel, alias


_REL_ALIAS_STOP = frozenset(
    "where group order limit having qualify window union intersect except "
    "offset fetch join on using left right full inner outer cross semi "
    "anti asof positional lateral natural values set returning when then "
    "else end and or not as tablesample sample at for".split()
)


def stmt_alias_tables(stmt: str) -> dict[str, str]:
    """alias (lower) → table name (lower) bindings visible in the
    statement's FROM/JOIN text, with each bare table name also bound to
    itself.  Subquery/VALUES aliases are NOT bound (their columns are
    not catalog columns — text-layer resolution for those falls back to
    the bare-name union, documented).  Parsing is best-effort: an alias
    this scan misses simply keeps the bare-name fallback, it never
    mis-binds."""
    out: dict[str, str] = {}

    def _bind(tbl: str, alias: str | None) -> None:
        t = tbl.rsplit(".", 1)[-1].lower()
        a = (alias or "").lower()
        if a and a not in _REL_ALIAS_STOP:
            out[a] = t
        out.setdefault(t, t)

    for m in re.finditer(
        r"\b(?:FROM|JOIN)\s+([A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?(\w+))?",
        stmt,
        re.I,
    ):
        if _inside_string_literal(stmt, m.start()):
            continue
        _bind(m.group(1), m.group(2))
        # comma-separated FROM items: ``FROM t1 a, t2 b``
        pos = m.end()
        while True:
            cm = re.match(
                r"\s*,\s*([A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?(\w+))?",
                stmt[pos:],
            )
            if not cm:
                break
            _bind(cm.group(1), cm.group(2))
            pos += cm.end()
    return out


_VALUES_ALIAS_RE = re.compile(
    r"\)\s*(?:AS\s+)?([A-Za-z_]\w*)\s*\(\s*([\w\s,\"]+?)\s*\)", re.I
)


def values_alias_column_classes(stmt: str) -> dict[str, str]:
    """``alias.col`` (lower) → 'str' | 'map' for every ``(VALUES …)
    v(c1, …)`` derived table in the statement, classified by ANALYZING
    THE VALUES LITERALS (VERDICT r7 task 9 — closes the documented
    text-layer boundary where VALUES-alias columns were type-unresolvable
    and string/map subscripts took default semantics).  A column
    classifies 'str' when every non-NULL literal is a string literal,
    'map' when every non-NULL literal is a MAP constructor; anything
    mixed/other is omitted (default semantics, same as before).  Only
    whole-row tuples are analyzed — best-effort: a shape this scan
    misses keeps the old fallback, it never mis-binds."""
    out: dict[str, str] = {}
    pos = 0
    up = stmt.upper()
    while True:
        v = up.find("VALUES", pos)
        if v < 0:
            break
        pos = v + 6
        if _inside_string_literal(stmt, v):
            continue
        if v > 0 and (stmt[v - 1].isalnum() or stmt[v - 1] == "_"):
            continue
        # the derived table opens with a paren just before VALUES
        j = v - 1
        while j >= 0 and stmt[j].isspace():
            j -= 1
        if j < 0 or stmt[j] != "(":
            continue
        try:
            close = matching_paren(stmt, j)
        except ValueError:
            continue
        am = _VALUES_ALIAS_RE.match(stmt, close)
        if not am:
            continue
        alias = am.group(1).lower()
        cols = [
            c.strip().strip('"').lower()
            for c in am.group(2).split(",")
            if c.strip()
        ]
        rows = split_top_level(stmt[v + 6 : close])
        classes: list[set[str]] = [set() for _ in cols]
        for row in rows:
            row = row.strip()
            if not (row.startswith("(") and row.endswith(")")):
                classes = []  # unparseable shape: classify nothing
                break
            vals = split_top_level(row[1:-1])
            if len(vals) != len(cols):
                classes = []
                break
            for i, val in enumerate(vals):
                t = val.strip()
                tl = t.upper()
                if tl == "NULL":
                    continue
                if t.startswith("'") or (
                    # rewrite_quote_escapes runs before this pass and
                    # re-emits quote-bearing literals as ('…'||chr(39)…)
                    # concat chains — still a string literal
                    t.startswith("(")
                    and "||" in t
                    and re.match(r"^\(\s*(?:'|chr\()", t, re.I)
                ):
                    classes[i].add("str")
                elif re.match(r"MAP\s*[{(]", tl):
                    # only a MAP constructor (MAP {…} / MAP(…)) — a
                    # map_*() function call (e.g. map_keys) returns a
                    # LIST and must keep default semantics (ADVICE r8)
                    classes[i].add("map")
                else:
                    classes[i].add("other")
        for i, cls in enumerate(classes):
            if i < len(cols) and len(cls) == 1 and cls != {"other"}:
                out[f"{alias}.{cols[i]}"] = next(iter(cls))
    return out


def split_top_level_kw(s: str, kw: str) -> list[str]:
    """Split ``s`` on top-level occurrences of the keyword ``kw``."""
    parts, start = [], 0
    while True:
        pos = find_top_level_keyword(s, kw, start)
        if pos < 0:
            parts.append(s[start:])
            return parts
        parts.append(s[start:pos])
        start = pos + len(kw)


_TAIL_KEYWORDS = ("WHERE", "GROUP", "HAVING", "QUALIFY", "ORDER", "LIMIT")


def tail_keyword_pos(stmt: str, start: int = 0) -> int:
    """Position of the first top-level tail-clause keyword at/after
    ``start``, or len(stmt)."""
    candidates = [
        p
        for p in (
            find_top_level_keyword(stmt, k, start) for k in _TAIL_KEYWORDS
        )
        if p >= 0
    ]
    return min(candidates) if candidates else len(stmt)


def matching_paren(s: str, open_idx: int) -> int:
    """Index of the bracket closing the (, [ or { at ``open_idx``;
    ValueError when there is none."""
    close = _literal_spans(s).partner.get(open_idx, -1)
    if close < open_idx:
        raise ValueError("unbalanced brackets in statement")
    return close


_WORD_RE = re.compile(r"[^\W\d]\w*")


def sql_identifiers(stmt: str) -> set[str]:
    """All identifier tokens in a statement — bare words plus
    double-quoted identifiers — with string literals and comments
    skipped.  Used to decide which catalog tables/views a query actually
    references: a table name inside a '…' literal or a comment is NOT a
    reference (the old word-boundary regex matched those too)."""
    lex = _literal_spans(stmt)
    ids = {
        m.group(0)
        for m in _WORD_RE.finditer(stmt)
        if lex.span(m.start()) is None
    }
    for s, e in zip(lex.starts, lex.ends):
        if stmt[s] == '"':
            ids.add(_quoted_body(stmt[s : e + 1])[0].replace('""', '"'))
    return ids


# the session temp views a lake registered for one of its tables or
# views, by name, with the DataFrame it registered: lakes on one
# SparkSession share its temp views
_LAKE_VIEWS: dict[str, DataFrame] = {}


def _register_lake_view(name: str, df: DataFrame) -> None:
    df.createOrReplaceTempView(name)
    _LAKE_VIEWS[name] = df


def _named_in(names, idents: set[str]) -> list[str]:
    """The ``names`` that occur among a statement's identifiers: SQL
    names (DuckDB's tables and columns, Spark's temp views) match
    without regard to case."""
    folded = {i.lower() for i in idents}
    return [n for n in names if n.lower() in folded]


def _drop_stale_lake_views(
    spark: SparkSession, idents: set[str], fresh: set[str]
) -> None:
    """Drop the lake views a statement names but did not just register:
    another lake's table, or this lake's dropped or renamed one, must not
    answer for a name the statement's lake does not hold.  A view that
    other code registered under the name since is left alone."""
    for name in set(_named_in(_LAKE_VIEWS, idents)) - fresh:
        df = _LAKE_VIEWS.pop(name, None)
        try:
            ours = df is not None and spark.table(name).sameSemantics(df)
        except AnalysisException:  # no such view in this session
            continue
        if ours:
            spark.catalog.dropTempView(name)


_DISTINCT_ON_RE = re.compile(r"^(\s*SELECT)\s+DISTINCT\s+ON\s*\(", re.I)


def rewrite_distinct_on(stmt: str) -> str:
    """DuckDB/Postgres ``SELECT DISTINCT ON (keys) …  ORDER BY …`` →
    a row_number window: first row per key group under the query's
    ORDER BY (keys themselves when absent), which is exactly DuckDB's
    semantics.  The outer ORDER BY is re-applied through helper
    ``__ob<N>`` columns spliced into the inner select (the sort keys may
    reference base columns the projection dropped — DuckDB resolves
    DISTINCT ON's ORDER BY against the full FROM scope), each carrying
    its ASC/DESC/NULLS modifiers.  Outermost query only, like
    rewrite_qualify."""
    m = _DISTINCT_ON_RE.match(stmt)
    if not m:
        return stmt
    i = m.end() - 1
    j = _literal_spans(stmt).partner.get(i, len(stmt))
    keys = stmt[i + 1 : j].strip()
    body = stmt[j + 1 :]
    opos = find_top_level_keyword(body, "ORDER BY")
    lpos = find_top_level_keyword(body, "LIMIT")
    ends = [p for p in (opos, lpos) if p >= 0]
    cut = min(ends) if ends else len(body)
    core = body[:cut].rstrip()
    order = None
    if opos >= 0:
        oend = lpos if lpos > opos else len(body)
        order = body[opos + len("ORDER BY") : oend].strip()
    win_order = order if order else keys
    fpos = find_top_level_keyword(core, "FROM")
    if fpos < 0:
        return stmt
    # outer-sort helpers: expr -> __ob<N> (+ preserved modifiers), so
    # presentation order survives even when the sort keys aren't
    # projected
    ob_cols, ob_outer = [], []
    if order:
        for n, item in enumerate(split_top_level(order)):
            mm = re.match(
                r"^(.*?)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)$",
                item.strip(),
                re.I | re.S,
            )
            expr, mods = mm.group(1).strip(), mm.group(2).strip()
            ob_cols.append(f"{expr} AS __ob{n}")
            ob_outer.append(f"__ob{n} {mods}".strip())
    helper_cols = ", ".join(["row_number() OVER "
                             f"(PARTITION BY {keys} ORDER BY {win_order}) "
                             "AS __rn"] + ob_cols)
    inner = f"SELECT {core[:fpos].strip()}, {helper_cols} {core[fpos:]}"
    drop = ", ".join(["__rn"] + [f"__ob{n}" for n in range(len(ob_cols))])
    out = (
        f"SELECT * EXCEPT({drop}) FROM ({inner}) __distinct_on "
        f"WHERE __rn = 1"
    )
    if ob_outer:
        out += f" ORDER BY {', '.join(ob_outer)}"
    if lpos >= 0:
        out += f" {body[lpos:].strip()}"
    return out


def rewrite_qualify(stmt: str) -> str:
    """DuckDB's ``QUALIFY <pred>`` sugar → standard SQL: compute the
    predicate as an extra select-list column, wrap, filter on it, and
    drop the helper with Spark's native ``* EXCEPT``.

    The predicate is SPLICED into the original select list (not
    evaluated over a wrapping subquery) so it resolves against the full
    FROM scope the way DuckDB's does — a QUALIFY may reference base
    columns the projection dropped (fuzz find #4).  Select-list alias
    references inside the predicate still resolve via Spark's lateral
    column aliases (window-expression aliases included).  DISTINCT and
    set-operation queries keep the old wrap (splicing would change the
    DISTINCT row set / the branch arity), where only projected columns
    are in scope — DuckDB's own scope for those shapes.  Applies to the
    outermost query only (the fixture surface; nested QUALIFY would
    need a recursive parser)."""
    if "qualify" not in stmt.lower():
        return stmt
    qpos = find_top_level_keyword(stmt, "QUALIFY")
    if qpos < 0:
        return stmt
    tail_pos = len(stmt)
    for kw in ("ORDER BY", "LIMIT"):
        p = find_top_level_keyword(stmt, kw, qpos)
        if 0 <= p < tail_pos:
            tail_pos = p
    before = stmt[:qpos].rstrip()
    pred = stmt[qpos + len("QUALIFY") : tail_pos].strip()
    tail = stmt[tail_pos:].strip()
    head = before.lstrip()
    simple = head[:6].upper() == "SELECT" and not head[6:].lstrip()[
        :8
    ].upper().startswith("DISTINCT")
    if simple:
        for kw in ("UNION", "INTERSECT", "EXCEPT"):
            if find_top_level_keyword(before, kw) >= 0:
                simple = False
                break
    fpos = find_top_level_keyword(before, "FROM") if simple else -1
    if fpos > 0:
        inner = (
            f"{before[:fpos].rstrip()}, ({pred}) AS __q {before[fpos:]}"
        )
    else:
        inner = f"SELECT *, ({pred}) AS __q FROM ({before}) __qualify_src"
    return (
        f"SELECT * EXCEPT(__q) FROM ({inner}) __qualify WHERE __q"
        + (f" {tail}" if tail else "")
    )


_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.I)
_NULLS_SPEC_RE = re.compile(r"\bNULLS\s+(?:FIRST|LAST)\s*$", re.I)
_OB_BOUNDARY_RE = re.compile(
    r"\b(LIMIT|OFFSET|FETCH|FOR|UNION|INTERSECT|EXCEPT|ROWS|RANGE|"
    r"GROUPS|WINDOW|QUALIFY|HAVING)\b|;",
    re.I,
)
# containing-paren tokens that mark a CLAUSE context (subquery, window
# spec, CTE/window definition) rather than a function-call argument list
_OB_CLAUSE_TOKENS = {
    "OVER", "AS", "FROM", "JOIN", "WHERE", "SELECT", "IN", "EXISTS",
    "ON", "AND", "OR", "NOT", "THEN", "ELSE", "WHEN", "UNION",
    "INTERSECT", "EXCEPT", "ALL", "ANY", "SOME", "VALUES", "LATERAL",
    "BY", "USING",
}


def rewrite_order_by_null_defaults(stmt: str) -> str:
    """DuckDB's default null ordering is NULLS LAST for both ASC and
    DESC; Spark defaults to NULLS FIRST on ASC.  With NULL sort keys
    this silently changes which rows an ``ORDER BY … LIMIT`` keeps and
    every ``row_number()/rank()`` assignment (found by the differential
    fuzzer).  Append an explicit ``NULLS LAST`` to every sort key that
    lacks a NULLS spec — in top-level/subquery ORDER BY clauses and
    window specs.  ORDER BYs inside ordinary function calls (ordered
    aggregates) are left alone: their templates translated them
    earlier in the chain, and this rewrite runs late."""
    if not _ORDER_BY_RE.search(stmt):
        return stmt
    lex = _literal_spans(stmt)
    out = stmt
    for m in reversed(list(_ORDER_BY_RE.finditer(stmt))):
        if _inside_string_literal(stmt, m.start()):
            continue
        # the word before the bracket enclosing the match (None at top
        # level) tells a clause from a function-call argument list
        enc = lex.enclosing(m.start())
        if enc >= 0:
            wm = re.search(r"(\w+)\s*$", stmt[:enc])
            tok = wm.group(1).upper() if wm else ""
            if tok and tok not in _OB_CLAUSE_TOKENS:
                continue  # function-call argument list (ordered aggregate)
        end = _clause_end(stmt, m.end(), _OB_BOUNDARY_RE)
        span = stmt[m.end() : end]
        if not span.strip():
            continue
        new_keys = []
        for key in split_top_level(span):  # segments come back stripped
            body = key.strip()
            if not body or _NULLS_SPEC_RE.search(body):
                new_keys.append(body)
            else:
                new_keys.append(f"{body} NULLS LAST")
        out = out[: m.end()] + " " + ", ".join(new_keys) + " " + out[end:]
    return out


_EXCLUDE_RE = re.compile(
    r"(\*\s*)EXCLUDE\s*(?:\(([^)]*)\)|(\w+))", re.I
)

_USING_SAMPLE_RE = re.compile(
    r"\bUSING\s+SAMPLE\s+(\d+(?:\.\d+)?)\s*(%|PERCENT|ROWS)"
    r"(?:\s*\(\s*(?:bernoulli|system|reservoir)\s*(?:,\s*(\d+))?\s*\))?",
    re.I,
)


def rewrite_using_sample(stmt: str) -> str:
    """DuckDB's ``USING SAMPLE n% [(method, seed)]`` → Spark's
    ``TABLESAMPLE (n PERCENT) [REPEATABLE(seed)]`` (``n ROWS`` maps
    directly).  Sampling method is engine-specific either way; the
    rewrite preserves the fraction/row-count and the seed."""

    def _sub(m: re.Match) -> str:
        n, unit, seed = m.group(1), m.group(2).upper(), m.group(3)
        unit = "PERCENT" if unit in ("%", "PERCENT") else "ROWS"
        out = f"TABLESAMPLE ({n} {unit})"
        if seed is not None:
            out += f" REPEATABLE({seed})"
        return out

    return _USING_SAMPLE_RE.sub(_sub, stmt)


def rewrite_exclude(stmt: str) -> str:
    """``* EXCLUDE (…)`` / ``alias.* EXCLUDE col`` → Spark's native
    ``* EXCEPT(…)`` — alias-aware and multi-table for free.  Star
    modifiers that ALSO carry REPLACE are left for the schema-based
    expansion (_expand_star_modifiers), which needs the column list."""

    def _sub(m: re.Match) -> str:
        rest = stmt[m.end() :].lstrip()
        if rest[:7].upper() == "REPLACE":
            return m.group(0)
        cols = m.group(2) if m.group(2) is not None else m.group(3)
        return f"{m.group(1)}EXCEPT({cols})"

    return _EXCLUDE_RE.sub(_sub, stmt)


_WINDOW_EXCLUDE_RE = re.compile(
    r"\s*EXCLUDE\s+(CURRENT\s+ROW|NO\s+OTHERS|GROUP|TIES)\s*", re.I
)


# one alternation matching every '…' literal (with '' escapes), "…"
# quoted identifier (with "" escapes), -- line comment and /* */ block
# comment — unterminated forms run to end-of-text
_LITERAL_SPAN_RE = re.compile(
    r"'[^']*(?:''[^']*)*'?|\"[^\"]*(?:\"\"[^\"]*)*\"?|--[^\n]*"
    r"|/\*.*?(?:\*/|\Z)",
    re.S,
)
_BRACKET_RE = re.compile(r"[()\[\]{}]")
_BRACKET_PAIRS = {"(": ")", "[": "]", "{": "}"}


class _Lex:
    """Lexical structure of one text, built by _literal_spans: the
    literal / quoted-identifier / comment spans (``starts``/``ends``,
    inclusive), every () [] {} outside them, ascending (``brackets``),
    the depth after each (``depths``), the innermost bracket still open
    after each, or -1 (``tops``), and open <-> close of every matched
    pair (``partner``; a mismatched closer stays unpaired but counts
    toward depth)."""

    __slots__ = ("starts", "ends", "brackets", "depths", "tops", "partner")

    def __init__(self, text: str):
        ms = list(_LITERAL_SPAN_RE.finditer(text))
        starts = self.starts = [m.start() for m in ms]
        ends = self.ends = [m.end() - 1 for m in ms]
        brackets: list[int] = []
        depths: list[int] = []
        tops: list[int] = []
        partner: dict[int, int] = {}
        stack: list[int] = []
        depth = k = 0
        for m in _BRACKET_RE.finditer(text):
            p = m.start()
            while k < len(ends) and ends[k] < p:
                k += 1
            if k < len(starts) and starts[k] <= p:
                continue  # inside a literal, identifier or comment
            c = text[p]
            if c in _BRACKET_PAIRS:
                stack.append(p)
                depth += 1
            else:
                depth -= 1
                if stack and _BRACKET_PAIRS[text[stack[-1]]] == c:
                    partner[p] = stack[-1]
                    partner[stack.pop()] = p
            brackets.append(p)
            depths.append(depth)
            tops.append(stack[-1] if stack else -1)
        self.brackets, self.depths = brackets, depths
        self.tops, self.partner = tops, partner

    def span(self, pos: int) -> tuple[int, int] | None:
        """The span covering ``pos`` (bounds inclusive), or None."""
        k = bisect.bisect_right(self.starts, pos) - 1
        if k >= 0 and pos <= self.ends[k]:
            return self.starts[k], self.ends[k]
        return None

    def depth(self, pos: int) -> int:
        """Bracket depth just before ``pos``."""
        k = bisect.bisect_left(self.brackets, pos)
        return self.depths[k - 1] if k else 0

    def enclosing(self, pos: int) -> int:
        """The innermost bracket still open just before ``pos``, or -1."""
        k = bisect.bisect_left(self.brackets, pos)
        return self.tops[k - 1] if k else -1


@functools.lru_cache(maxsize=512)
def _literal_spans(stmt: str) -> _Lex:
    """The dialect layer's one lexer, built once per distinct text (see
    _Lex).  Every question about the text — is a position masked, at
    what bracket depth, which bracket closes which — is then a bisect
    or dict lookup; the lru_cache makes the scan free for the (common)
    passes that don't mutate the text."""
    return _Lex(stmt)


def _inside_string_literal(stmt: str, pos: int) -> bool:
    """True when ``pos`` sits inside a '…' literal, a "…" quoted
    identifier, or a comment."""
    sp = _literal_spans(stmt).span(pos)
    # start EXCLUSIVE: a match anchored at the opening quote of its own
    # string-literal operand (quote-parity semantics) is not "inside"
    return sp is not None and sp[0] < pos


def _span_end(stmt: str, pos: int) -> int:
    """End (inclusive) of the literal / quoted identifier / comment that
    starts exactly at ``pos``, or -1."""
    sp = _literal_spans(stmt).span(pos)
    return sp[1] if sp and sp[0] == pos else -1


def _quoted_body(tok: str) -> tuple[str, bool]:
    """(inner text with escapes intact, closed?) of one '…' / "…" span."""
    inner = tok[1:]
    closed = (len(inner) - len(inner.rstrip(tok[0]))) % 2 == 1
    return (inner[:-1] if closed else inner), closed


def _top_level_matches(s: str, rx: re.Pattern, start: int = 0):
    """Matches of ``rx`` at/after ``start`` that begin outside every
    literal, quoted identifier and comment, at the bracket depth of
    ``start``."""
    lex = _literal_spans(s)
    base = lex.depth(start)
    for m in rx.finditer(s, start):
        p = m.start()
        if lex.depth(p) == base and lex.span(p) is None:
            yield m


def _top_level_find(s: str, rx: re.Pattern, start: int = 0) -> int:
    """Start of the first _top_level_matches match, or -1."""
    return next((m.start() for m in _top_level_matches(s, rx, start)), -1)


def _scope_end(s: str, start: int = 0) -> int:
    """The bracket closing the scope ``start`` sits in, else len(s)."""
    lex = _literal_spans(s)
    base = lex.depth(start)
    for k in range(bisect.bisect_left(lex.brackets, start), len(lex.brackets)):
        if lex.depths[k] < base:
            return lex.brackets[k]
    return len(s)


def _clause_end(s: str, start: int, stop: re.Pattern) -> int:
    """End of the clause that starts at ``start``: the first top-level
    match of ``stop``, else _scope_end."""
    end = _scope_end(s, start)
    hit = _top_level_find(s, stop, start)
    return hit if 0 <= hit < end else end


def _split_at(s: str, rx: re.Pattern) -> list[str]:
    """``s`` cut at every top-level match of ``rx`` (pieces unstripped)."""
    parts, last = [], 0
    for m in _top_level_matches(s, rx):
        parts.append(s[last : m.start()])
        last = m.end()
    parts.append(s[last:])
    return parts


_GROUPS_FRAME_RE = re.compile(
    # every digit-less frame: with only UNBOUNDED/CURRENT bounds,
    # GROUPS coincides with RANGE outright (RANGE bounds at CURRENT ROW
    # span the whole peer group by definition)
    r"\bGROUPS\s+(BETWEEN\s+(?:UNBOUNDED\s+PRECEDING|CURRENT\s+ROW)\s+"
    r"AND\s+(?:UNBOUNDED\s+FOLLOWING|CURRENT\s+ROW)"
    r"|UNBOUNDED\s+PRECEDING)\b",
    re.I,
)


_GROUPS_BOUND = (
    r"(?:UNBOUNDED\s+(?:PRECEDING|FOLLOWING)|CURRENT\s+ROW|"
    r"\d+\s+(?:PRECEDING|FOLLOWING))"
)
_GROUPS_OFFSET_RE = re.compile(
    rf"\bGROUPS\s+(?:BETWEEN\s+({_GROUPS_BOUND})\s+AND\s+"
    rf"({_GROUPS_BOUND})|(\d+\s+PRECEDING))",
    re.I,
)
_SIMPLE_REL_RE = re.compile(
    r"^\s*([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s*(?:\bWHERE\b.*)?$",
    re.I | re.S,
)


_STAR_RE = re.compile(r"\*")


def rewrite_groups_offset_frames(stmt: str) -> str:
    """DuckDB ``GROUPS`` frames WITH numeric group offsets (``GROUPS
    BETWEEN 2 PRECEDING AND 1 FOLLOWING``): offsets count peer GROUPS,
    which Spark's ROWS/RANGE cannot express directly.  General rewrite
    (VERDICT r5 task 8): materialize the running group index —
    ``dense_rank()`` over the window's own partition/order — in a
    derived table, then reframe as ``RANGE`` over that dense integer
    (offsets over a dense group index ARE group offsets; CURRENT
    ROW/UNBOUNDED bounds carry over unchanged since peers share one
    index).  Scope: plain SELECT (no top-level GROUP BY/HAVING —
    windows over aggregated rows would need the subquery to aggregate
    first); EXCLUDE combined with a GROUPS offset still raises."""
    if not _GROUPS_OFFSET_RE.search(stmt):
        return stmt
    fpos = find_top_level_keyword(stmt, "FROM")
    specs: list[tuple[int, int, str]] = []  # (open, close, inner)
    for m in re.finditer(r"\bOVER\s*\(", stmt, re.I):
        if _inside_string_literal(stmt, m.start()):
            continue
        open_p = m.end() - 1
        close = matching_paren(stmt, open_p)
        specs.append((open_p, close, stmt[open_p + 1 : close]))
    grp_keys: dict[tuple[str, str], str] = {}
    edits: list[tuple[int, int, str]] = []
    for open_p, close, spec in specs:
        fm = _GROUPS_OFFSET_RE.search(spec)
        if not fm or not re.search(r"\d", fm.group(0)):
            continue
        if re.search(r"\bEXCLUDE\b", spec, re.I):
            raise ValueError(
                "GROUPS offset frames with EXCLUDE are not supported"
            )
        pm = re.search(r"\bPARTITION\s+BY\b", spec, re.I)
        om = re.search(r"\bORDER\s+BY\b", spec, re.I)
        if not om:
            raise ValueError("GROUPS frame requires an ORDER BY")
        part = spec[pm.start() : om.start()].strip() if pm else ""
        order = spec[om.end() : fm.start()].strip().rstrip(",")
        key = (re.sub(r"\s+", " ", part).lower(),
               re.sub(r"\s+", " ", order).lower())
        if key not in grp_keys:
            grp_keys[key] = (f"__grp{len(grp_keys) + 1}", part, order)
        col = grp_keys[key][0]
        if fm.group(3):  # shorthand "GROUPS n PRECEDING"
            lo, hi = fm.group(3), "CURRENT ROW"
        else:
            lo, hi = fm.group(1), fm.group(2)
        new_spec = (
            (part + " " if part else "")
            + f"ORDER BY {col} RANGE BETWEEN {lo} AND {hi}"
        )
        edits.append((open_p + 1, close, new_spec))
    if not edits:
        return stmt
    if fpos < 0:
        raise ValueError(
            "GROUPS frames with group offsets need a FROM clause"
        )
    for open_p, close, new_spec in sorted(edits, reverse=True):
        stmt = stmt[:open_p] + new_spec + stmt[close:]
    # re-locate FROM: the spec edits shifted every offset after them
    fpos = find_top_level_keyword(stmt, "FROM")
    for kw in ("GROUP", "HAVING"):
        p = find_top_level_keyword(stmt, kw, fpos)
        if p >= 0:
            raise ValueError(
                "GROUPS frames with group offsets are not supported "
                "over aggregated (GROUP BY/HAVING) queries"
            )
    # split the outer tail (ORDER BY / LIMIT apply to the final result)
    tail_candidates = [
        p
        for p in (
            find_top_level_keyword(stmt, k, fpos) for k in ("ORDER", "LIMIT")
        )
        if p >= 0
    ]
    cut = min(tail_candidates) if tail_candidates else len(stmt)
    head, inner_src, outer_tail = stmt[:fpos], stmt[fpos + 4 : cut], stmt[cut:]
    rel_m = _SIMPLE_REL_RE.match(inner_src)
    sub_alias = (
        (rel_m.group(2) or rel_m.group(1).rsplit(".", 1)[-1])
        if rel_m
        else "__groups_src"
    )
    grp_exprs = ", ".join(
        f"DENSE_RANK() OVER ({(part + ' ') if part else ''}"
        f"ORDER BY {order}) AS {col}"
        for col, part, order in grp_keys.values()
    )
    # a top-level bare `*` (or a star qualified by the subquery's own
    # alias) in the outer list would leak the helper __grpN columns —
    # append `EXCEPT (__grp1, ...)` to every such star item
    exc = ", ".join(col for col, _, _ in grp_keys.values())
    star_edits: list[int] = []  # insertion points (after the `*`)
    for sm in _top_level_matches(head, _STAR_RE):
        i = sm.start()
        k = i
        qual = None
        if k > 0 and head[k - 1] == ".":
            e = k - 1
            k = e
            while k > 0 and (head[k - 1].isalnum() or head[k - 1] == "_"):
                k -= 1
            qual = head[k:e]
        p = k - 1
        while p >= 0 and head[p].isspace():
            p -= 1
        prev_ok = p < 0 or head[p] == "," or head[
            max(0, p - 7) : p + 1
        ].upper().endswith(("SELECT", "DISTINCT", " ALL"))
        q = i + 1
        while q < len(head) and head[q].isspace():
            q += 1
        next_ok = q >= len(head) or head[q] == ","
        if prev_ok and next_ok and (qual is None or qual == sub_alias):
            star_edits.append(i + 1)
    for pos in reversed(star_edits):
        head = head[:pos] + f" EXCEPT ({exc})" + head[pos:]
    return (
        f"{head} FROM (SELECT *, {grp_exprs} FROM {inner_src.strip()}) "
        f"{sub_alias} {outer_tail}"
    )


def rewrite_groups_frame(stmt: str) -> str:
    """DuckDB ``GROUPS`` frame mode, for the frames where it coincides
    with RANGE: unbounded-to-current (RANGE includes the current row's
    peer group by definition, which is exactly what GROUPS means there)
    and the mirror current-to-unbounded.  Offset GROUPS frames (``2
    PRECEDING``) count peer GROUPS — the dense_rank pre-pass
    (rewrite_groups_offset_frames) handles supported shapes first; any
    residual raises rather than silently mis-frames."""
    out = _GROUPS_FRAME_RE.sub(
        lambda m: m.group(0)
        if _inside_string_literal(stmt, m.start())
        else "RANGE " + m.group(1),
        stmt,
    )
    # residual GROUPS frames (offset form) — keyword sequence only, so a
    # column literally named "groups" in a BETWEEN predicate can't trip it
    rm = re.search(
        r"\bGROUPS\s+(?:BETWEEN\s+)?(?:\d+|UNBOUNDED|CURRENT)\s+"
        r"(?:PRECEDING|FOLLOWING|ROW)\b",
        out,
        re.I,
    )
    if rm and not _inside_string_literal(out, rm.start()):
        raise ValueError(
            "GROUPS frames with group offsets are not supported — "
            "use RANGE over a dense_rank() ordering instead"
        )
    return out


def rewrite_window_exclude(stmt: str) -> str:
    """DuckDB window-frame ``EXCLUDE CURRENT ROW`` → algebraic rewrite
    over Spark's EXCLUDE-less frames: the current row's contribution is
    SUBTRACTED from the including frame (``sum(x) OVER f - coalesce(x,
    0)``; count subtracts its null-aware indicator; avg recomposes from
    both).  Valid because every frame that can carry EXCLUDE contains the
    current row (ROWS/RANGE ... AND CURRENT ROW/FOLLOWING; RANGE frames
    always include peers).  ``EXCLUDE NO OTHERS`` is the default —
    stripped; EXCLUDE GROUP/TIES (peer exclusion) and non-subtractable
    aggregates (min/max/...) raise rather than mis-answer.  Inline OVER
    specs only — a named WINDOW clause carrying EXCLUDE also raises."""
    if "exclude" not in stmt.lower():
        return stmt
    while True:
        target = None
        for m in re.finditer(r"\bOVER\s*\(", stmt, re.I):
            if _inside_string_literal(stmt, m.start()):
                continue
            close = matching_paren(stmt, m.end() - 1)
            spec = stmt[m.end() : close]
            em = _WINDOW_EXCLUDE_RE.search(spec)
            if em and not _inside_string_literal(spec, em.start()):
                target = (m, close, spec, em)
                break
        if target is None:
            wm = _WINDOW_EXCLUDE_RE.search(stmt)
            if wm and not _inside_string_literal(stmt, wm.start()):
                raise ValueError(
                    "EXCLUDE in a named WINDOW clause is not supported — "
                    "inline the OVER specification"
                )
            return stmt
        m, close, spec, em = target
        mode = re.sub(r"\s+", " ", em.group(1).upper())
        spec2 = (spec[: em.start()] + " " + spec[em.end() :]).strip()
        if mode == "NO OTHERS":
            stmt = stmt[: m.end()] + spec2 + stmt[close:]
            continue
        if mode in ("GROUP", "TIES"):
            raise ValueError(f"EXCLUDE {mode} is not supported")
        # locate the aggregate call `fn(args)` immediately before OVER
        i = m.start() - 1
        while i >= 0 and stmt[i].isspace():
            i -= 1
        if i < 0 or stmt[i] != ")":
            raise ValueError("EXCLUDE CURRENT ROW: cannot parse the "
                             "window aggregate preceding OVER")
        j = _literal_spans(stmt).partner.get(i, -1)
        args = stmt[j + 1 : i].strip()
        k = j - 1
        while k >= 0 and (stmt[k].isalnum() or stmt[k] == "_"):
            k -= 1
        fn = stmt[k + 1 : j].strip().lower()
        over2 = f"OVER ({spec2})"
        nn = (
            f"(count({args}) {over2} - CASE WHEN ({args}) IS NULL "
            f"THEN 0 ELSE 1 END)"
        )
        if fn == "sum":
            # NULL when the exclusive frame holds no non-null values
            # (empty frame, or every other row NULL) — DuckDB semantics
            repl = (
                f"(CASE WHEN {nn} = 0 THEN NULL "
                f"ELSE sum({args}) {over2} - coalesce({args}, 0) END)"
            )
        elif fn == "count":
            if args.strip() == "*":
                repl = f"(count(*) {over2} - 1)"
            else:
                repl = (
                    f"(count({args}) {over2} - CASE WHEN ({args}) IS NULL "
                    f"THEN 0 ELSE 1 END)"
                )
        elif fn == "avg":
            repl = (
                f"(CAST(sum({args}) {over2} - coalesce({args}, 0) AS DOUBLE)"
                f" / nullif(count({args}) {over2} - CASE WHEN ({args}) IS "
                f"NULL THEN 0 ELSE 1 END, 0))"
            )
        else:
            raise ValueError(
                f"EXCLUDE CURRENT ROW is supported for sum/count/avg, "
                f"not {fn!r}"
            )
        stmt = stmt[: k + 1] + repl + stmt[close + 1 :]


# --------------------------------------------------------------- dialect fns
# DuckDB scalar/aggregate function names a reference user would write in
# sql() text, mapped onto the Spark SQL builtin surface.  Two tiers:
# straight renames (argument lists pass through untouched) and template
# transforms (argument reorder / format-string translation / composition).
# The rewriter is quote- and comment-aware and recurses into argument
# lists, so nested dialect calls translate too.

_DUCK_FN_RENAME = {
    # list/array family (DuckDB list_* ↔ Spark array/higher-order names)
    "list_has_any": "arrays_overlap",
    "list_transform": "transform",
    "list_apply": "transform",
    "list_filter": "filter",
    "list_distinct": "array_distinct",
    "list_value": "array",
    "array_value": "array",  # DuckDB's fixed-size ARRAY constructor
    "list_pack": "array",
    "list_append": "array_append",
    # try_element_at: DuckDB list_extract is NULL out of bounds, and
    # plain element_at is the dialect's MAP-extract (list-wrapped) —
    # the emitted name must not re-match that template
    "list_extract": "try_element_at",
    "list_element": "try_element_at",
    "array_extract": "try_element_at",
    "array_transform": "transform",
    "array_apply": "transform",
    "apply": "transform",
    "array_filter": "filter",
    "array_indexof": "array_position",
    "array_zip": "arrays_zip",
    "row_to_json": "to_json",
    "array_to_json": "to_json",
    "list_position": "array_position",
    "list_indexof": "array_position",
    "list_sort": "array_sort",
    "array_to_string": "array_join",
    "list_min": "array_min",
    "list_max": "array_max",
    "list_zip": "arrays_zip",  # Spark names struct fields 0/1, not list_N
    "array_length": "size",
    # string family
    "strpos": "instr",
    "starts_with": "startswith",
    "ends_with": "endswith",
    "prefix": "startswith",
    "suffix": "endswith",
    "editdist3": "levenshtein",
    "ucase": "upper",
    "lcase": "lower",
    "regexp_matches": "regexp_like",
    "to_hex": "hex",
    "from_hex": "unhex",
    "strlen": "length",
    # date/time family
    "epoch_ms": "unix_millis",
    "epoch_us": "unix_micros",
    "week": "weekofyear",
    "weekofyear": "weekofyear",
    "today": "current_date",
    "get_current_timestamp": "current_timestamp",
    # aggregate family
    "arg_max": "max_by",
    "arg_min": "min_by",
    "arbitrary": "any_value",
    "quantile_cont": "percentile",
    "countif": "count_if",
    "ord": "ascii",
    "transaction_timestamp": "now",
    # misc
    "unnest": "explode",
    "gen_random_uuid": "uuid",
    "uuid": "uuid",
    "unicode": "ascii",  # Spark ascii() returns the first code point
    "from_base64": "unbase64",
    "to_base64": "base64",
    "base64": "base64",
    "printf": "format_string",  # both are C-printf-style
    "json_keys": "json_object_keys",
    "cardinality": "size",
    "list_intersect": "array_intersect",
    "datetrunc": "date_trunc",  # same (part, ts) order in both
    "list_reverse": "reverse",
    "row": "struct",  # DuckDB's anonymous-struct constructor
}

# C-style strftime codes (DuckDB) → Java SimpleDateFormat (Spark)
_STRFTIME_MAP = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS", "%g": "SSS",
    "%j": "DDD", "%a": "EEE", "%A": "EEEE", "%b": "MMM", "%B": "MMMM",
    "%p": "a", "%Z": "zzz", "%G": "YYYY", "%V": "ww", "%%": "%",
    # DuckDB's %- prefix removes zero padding; Java single letters
    # are already unpadded
    "%-d": "d", "%-m": "M", "%-H": "H", "%-I": "h", "%-M": "m",
    "%-S": "s", "%-j": "D",
}

_SQL_LITERAL_RE = re.compile(r"^'((?:[^']|'')*)'$")


def _strftime_to_java(fmt: str) -> str:
    """Translate a C strftime pattern to a Java datetime pattern; literal
    alphabetic runs are quoted so Java doesn't interpret them."""
    out: list[str] = []
    i, n = 0, len(fmt)
    while i < n:
        if fmt[i] == "%" and i + 1 < n:
            code = fmt[i : i + 2]
            if code == "%-" and i + 2 < n:
                code = fmt[i : i + 3]
            if code not in _STRFTIME_MAP:
                raise ValueError(f"strftime: unsupported code {code}")
            out.append(_STRFTIME_MAP[code])
            i += len(code)
        else:
            j = i
            while j < n and not (fmt[j] == "%"):
                j += 1
            lit = fmt[i:j]
            if any(c.isalpha() for c in lit):
                out.append("'" + lit.replace("'", "''") + "'")
            else:
                out.append(lit)
            i = j
    return "".join(out)


def _sql_str(value: str) -> str:
    """Encode a Python string as a SQL string literal.  The engine runs
    with ``spark.sql.parser.escapedStringLiterals=true`` (standard /
    DuckDB literal semantics: backslashes are verbatim) — in that mode
    ``''`` doubling does NOT collapse, so values containing a single
    quote use a double-quoted literal (or concat() when both appear)."""
    if "'" not in value:
        return f"'{value}'"
    if '"' not in value:
        return f'"{value}"'
    pieces = [f"'{p}'" for p in value.split("'")]
    return "concat(" + ", \"'\", ".join(pieces) + ")"


def _literal_str(arg: str) -> str | None:
    """The Python value of a SQL string literal argument, else None."""
    m = _SQL_LITERAL_RE.match(arg.strip())
    return m.group(1).replace("''", "'") if m else None


def _py_value_to_sql(v) -> str:
    """Render a collected Python value back as a SQL literal (the
    getvariable() substitution path)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float, _decimal.Decimal)):
        return str(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_py_value_to_sql(x) for x in v) + ")"
    if isinstance(v, str):
        return _sql_str(v)
    raise ValueError(f"getvariable: unsupported value type {type(v)!r}")


def _re2_rewrite_to_java(s: str) -> str:
    """Translate an RE2 rewrite string (DuckDB regexp_replace
    replacement: ``\\1`` groups, literal ``$``) into Java's
    (``$1`` groups, ``\\$`` literal dollar, ``\\\\`` literal
    backslash)."""
    out: list[str] = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt.isdigit():
                out.append("$" + nxt)
            elif nxt == "\\":
                out.append("\\\\")
            else:
                out.append("\\" + nxt)
            i += 2
            continue
        if c == "$":
            out.append("\\$")
        else:
            out.append(c)
        i += 1
    return "".join(out)


def _json_norm_path_lit(lit: str) -> str | None:
    """DuckDB JSON path literal → Spark get_json_object path.  DuckDB
    accepts '$'-prefixed JSONPath, '/'-separated pointer paths, or a
    bare key (looked up literally, no dot splitting)."""
    if lit.startswith("$"):
        return lit
    if lit.startswith("/"):
        segs = [p for p in lit.split("/") if p]
        if not all(
            re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*|\d+", p) for p in segs
        ):
            return None
        return "$" + "".join(
            f"[{p}]" if p.isdigit() else f".{p}" for p in segs
        )
    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", lit):
        return "$." + lit
    return None


def _json_path_arg(args: list[str]) -> str | None:
    """Combine json_extract path arguments (string literals or bare
    integer indexes) into ONE quoted Spark path literal; None when the
    path is not statically derivable (expression path)."""
    segs: list[str] = []
    for p in args:
        lit = _literal_str(p)
        if lit is None:
            t = p.strip()
            if re.fullmatch(r"\d+", t):
                segs.append(f"[{t}]")
                continue
            return None
        norm = _json_norm_path_lit(lit)
        if norm is None:
            return None
        segs.append(norm[1:])
    return _sql_str("$" + "".join(segs))


def _jsonify_expr(x: str, null_form: str) -> str:
    """A Spark SQL expression rendering ``x`` as its JSON encoding
    (DuckDB json_quote semantics): strings quoted, numbers bare,
    arrays/structs recursive — via to_json of a one-field struct with
    the wrapper stripped.  ``null_form`` is what a NULL input yields
    ('null' inside json_array elements, NULL for json_quote)."""
    body = f"to_json(struct({x} AS v))"
    return (
        f"(CASE WHEN ({x}) IS NULL THEN {null_form} "
        f"ELSE substring({body}, 6, length({body}) - 6) END)"
    )


_DUCK_DDL_TYPES = {
    "VARCHAR": "STRING", "INTEGER": "INT", "UBIGINT": "BIGINT",
    "BIGINT": "BIGINT", "DOUBLE": "DOUBLE", "BOOLEAN": "BOOLEAN",
    "DATE": "DATE", "TIMESTAMP": "TIMESTAMP", "FLOAT": "FLOAT",
    "SMALLINT": "SMALLINT", "TINYINT": "TINYINT",
    "HUGEINT": "DECIMAL(38,0)", "NULL": "STRING", "JSON": "STRING",
}


def _duck_json_structure_to_ddl(node) -> str:
    """DuckDB from_json type-structure document → Spark type string."""
    if isinstance(node, str):
        return _DUCK_DDL_TYPES.get(node.upper(), node)
    if isinstance(node, list):
        inner = _duck_json_structure_to_ddl(node[0]) if node else "STRING"
        return f"ARRAY<{inner}>"
    if isinstance(node, dict):
        fields = ", ".join(
            f"{k}: {_duck_json_structure_to_ddl(v)}"
            for k, v in node.items()
        )
        return f"STRUCT<{fields}>"
    raise ValueError(f"from_json: unsupported structure node {node!r}")


def _ordered_sort_spec(keys: list[str]) -> tuple[list[str], str]:
    """Parse ORDER BY key specs (ASC/DESC + NULLS FIRST/LAST; DuckDB
    defaults NULLS LAST on BOTH directions) into struct fields plus an
    ``array_sort`` comparator body over ``__l``/``__r``.  Spark's plain
    struct ``array_sort`` is ASC NULLS FIRST, so ordered-aggregate
    emissions sort with this explicit comparator instead — which also
    unlocks multi-key DESC and explicit NULLS placement (round-5 fuzz
    family ``ordered_agg``)."""
    fields, parts = [], []
    for idx, kexpr in enumerate(keys):
        t = kexpr.strip()
        nm = re.search(r"\bNULLS\s+(FIRST|LAST)\s*$", t, flags=re.I)
        nulls_last = True
        if nm:
            nulls_last = nm.group(1).upper() == "LAST"
            t = t[: nm.start()].rstrip()
        desc = bool(re.search(r"\bDESC\s*$", t, re.I))
        t = re.sub(r"\s+(ASC|DESC)\s*$", "", t, flags=re.I)
        fields.append(f"{t} AS __k{idx}")
        lk, rk = f"__l.__k{idx}", f"__r.__k{idx}"
        lt, gt = ("1", "-1") if desc else ("-1", "1")
        nl, nr = ("1", "-1") if nulls_last else ("-1", "1")
        parts.append(
            f"nullif(CASE WHEN {lk} IS NULL AND {rk} IS NULL THEN 0 "
            f"WHEN {lk} IS NULL THEN {nl} WHEN {rk} IS NULL THEN {nr} "
            f"WHEN {lk} < {rk} THEN {lt} WHEN {lk} > {rk} THEN {gt} "
            f"ELSE 0 END, 0)"
        )
    return fields, f"coalesce({', '.join(parts)}, 0)"


def _ordered_collect(val: str, keys: list[str]) -> str:
    """``transform(array_sort(collect_list(struct(keys…, val))), .__v)``
    with the comparator from :func:`_ordered_sort_spec` — the shared
    shape behind every ordered aggregate (list/array_agg, multi-key
    string_agg, first/last, any_value).  NULL values survive (they ride
    inside never-NULL structs, matching DuckDB's NULL-keeping list())."""
    fields, cmp_body = _ordered_sort_spec(keys)
    return (
        f"transform(array_sort(collect_list(struct("
        f"{', '.join(fields)}, {val} AS __v)), "
        f"(__l, __r) -> {cmp_body}), __s -> __s.__v)"
    )


def _duck_fn_emit(key: str, args: list[str]) -> str:
    """Emit the Spark SQL call for one DuckDB-dialect call site."""
    a = args
    if (
        key == "unnest"
        and len(a) == 2
        and re.match(r"(?i)recursive\s*:=\s*true$", a[1].strip())
    ):
        # DuckDB's recursive unnest over an array of structs expands one
        # output column per struct field — Spark's inline().  (The
        # array-of-arrays flattening reading of recursive unnest is
        # spelled explode(flatten(x)) instead.)
        return f"inline({a[0]})"
    if key in ("list_contains", "list_has", "array_has", "array_contains"):
        # DuckDB NULL semantics (fuzz find #2): NULL needle/list → NULL,
        # otherwise strictly true/false — in-list NULLs never contaminate
        # a miss into NULL the way Spark's array_contains 3VL does.
        # exists() also tolerates an untyped NULL needle (array_contains
        # rejects VOID at analysis).
        arr, x = a[0], a[1]
        return (
            f"(CASE WHEN ({x}) IS NULL OR ({arr}) IS NULL "
            f"THEN CAST(NULL AS BOOLEAN) "
            f"ELSE coalesce(exists({arr}, __lc -> __lc = ({x})), false) "
            f"END)"
        )
    if key == "abs":
        # DuckDB types abs(NULL) BIGINT; Spark promotes VOID → DOUBLE,
        # which changes rendering once nested in an array ([1, NULL] vs
        # [1.0, None]) — fuzz find #3
        if len(a) == 1 and a[0].strip().upper() == "NULL":
            return "CAST(NULL AS BIGINT)"
        return f"abs({', '.join(a)})"
    if key in ("string_split", "str_split", "string_to_array"):
        # DuckDB splits on a LITERAL separator; Spark split() takes a
        # regex — escape metachars when the separator is a literal
        sep = _literal_str(a[1]) if len(a) == 2 else None
        if sep is not None:
            return f"split({a[0]}, {_sql_str(re.escape(sep))})"
        return f"split({', '.join(a)})"
    if key in ("string_split_regex", "str_split_regex", "regexp_split_to_array"):
        return f"split({', '.join(a)})"
    if key == "strftime":
        # strftime(ts, '%Y-%m-%d') → date_format(ts, 'yyyy-MM-dd');
        # DuckDB also accepts (fmt, ts) — detect by which side is a
        # %-carrying literal
        ts, fmt = (a[0], a[1]) if len(a) == 2 else (a[0], "'%Y-%m-%d'")
        fl = _literal_str(fmt)
        tl = _literal_str(ts)
        if fl is None and tl is not None and "%" in tl:
            ts, fl = fmt, tl
        if fl is None:
            raise ValueError("strftime: format must be a string literal")
        return f"date_format({ts}, {_sql_str(_strftime_to_java(fl))})"
    if key == "strptime":
        fl = _literal_str(a[1])
        if fl is None:
            raise ValueError("strptime: format must be a string literal")
        return f"to_timestamp({a[0]}, {_sql_str(_strftime_to_java(fl))})"
    if key in ("list_slice", "array_slice"):
        # DuckDB: 1-based inclusive [a, b] → Spark slice(l, a, b-a+1)
        return f"slice({a[0]}, {a[1]}, ({a[2]}) - ({a[1]}) + 1)"
    if key == "list_prepend":
        # DuckDB list_prepend(elem, list) → Spark array_prepend(list, elem)
        return f"array_prepend({a[1]}, {a[0]})"
    if key == "struct_pack":
        # struct_pack(k := v, …) → named_struct('k', v, …)
        parts = []
        for arg in a:
            k, _, v = arg.partition(":=")
            if not v:
                raise ValueError(f"struct_pack: expected k := v, got {arg!r}")
            parts.append(f"'{k.strip()}', {v.strip()}")
        return f"named_struct({', '.join(parts)})"
    if key == "date_diff" or (key == "datediff" and len(a) == 3):
        # DuckDB date_diff counts PART BOUNDARIES CROSSED, not complete
        # intervals (date_diff('month', Jan 15, Mar 1) = 2; the
        # complete-interval form is date_sub) — truncating both
        # operands to the part before timestampdiff turns complete
        # intervals between boundaries into exactly the crossing count.
        part = _literal_str(a[0])
        if part is None:
            raise ValueError("date_diff: part must be a string literal")
        _alias = {
            "yr": "year", "y": "year", "mon": "month", "m": "month",
            "d": "day", "dayofyear": "day", "doy": "day", "h": "hour",
            "hr": "hour", "min": "minute", "n": "minute", "sec": "second",
            "msec": "millisecond", "ms": "millisecond",
            "usec": "microsecond", "us": "microsecond", "w": "week",
            "qtr": "quarter",
        }
        raw = part.lower()
        p = _alias.get(raw)
        if p is None:
            p = raw[:-1] if raw.endswith("s") and len(raw) > 2 else raw
            p = _alias.get(p, p)
        if p in ("decade", "century", "millennium"):
            # boundary count via the same year arithmetic as the part
            # extractors (decade floors, century/millennium ceil)
            n = {"decade": 10, "century": 100, "millennium": 1000}[p]
            fn = "floor" if p == "decade" else "ceil"
            return (
                f"CAST({fn}(year({a[2]}) / {n}.0) - "
                f"{fn}(year({a[1]}) / {n}.0) AS BIGINT)"
            )
        if p not in ("year", "quarter", "month", "week", "day", "hour",
                     "minute", "second", "millisecond", "microsecond"):
            raise ValueError(f"date_diff: unsupported part {part!r}")

        def _t(x: str) -> str:
            # truncate-to-part in CHAIN-STABLE spellings: a day-or-
            # coarser date_trunc would be rewritten to its DATE-
            # returning form on re-entry (idempotence); emit that form
            # directly (timestampdiff coerces DATE back fine)
            base = f"CAST({x} AS TIMESTAMP)"
            if p == "day":
                return f"CAST({base} AS DATE)"
            if p in ("week", "month", "quarter", "year"):
                return f"trunc({base}, '{p}')"
            return f"date_trunc('{p.upper()}', {base})"

        return f"timestampdiff({p.upper()}, {_t(a[1])}, {_t(a[2])})"
    if key == "epoch":
        # DuckDB epoch() returns DOUBLE seconds (fraction preserved);
        # divide by a DOUBLE so Spark doesn't type the result DECIMAL
        return (
            f"(unix_micros(CAST({a[0]} AS TIMESTAMP)) "
            f"/ CAST(1000000 AS DOUBLE))"
        )
    if key == "xor":
        return f"(({a[0]}) ^ ({a[1]}))"
    if key in ("list", "array_agg"):
        # DuckDB list(x ORDER BY k…) — ordered aggregation; Spark's
        # collect_list has no internal order, so collect (key, value)
        # structs and sort (array_sort orders by fields left-to-right).
        # ORDER BY is located in the REJOINED argument text: a multi-key
        # order ("ORDER BY ts, id") was comma-split across args.
        joined = ", ".join(a)
        m = re.search(r"\bORDER\s+BY\b", joined, re.I)
        if not m:
            if re.match(r"^DISTINCT\b", joined, re.I):
                return f"collect_list({joined})"
            # DuckDB list()/array_agg() KEEP NULL elements (fuzz find
            # #14: list(x) over (1, NULL) → [1, NULL]); Spark's
            # collect_list drops them — wrap in a struct (never NULL)
            # and unwrap after collection
            return (
                f"transform(collect_list(struct({joined} AS __v)), "
                f"s -> s.__v)"
            )
        val = joined[: m.start()].strip().rstrip(",").strip()
        keys = split_top_level(joined[m.end() :])
        dm = re.match(r"^DISTINCT\s+(.*)$", val, re.I | re.S)
        if dm:
            # DISTINCT + ORDER BY: Spark's collect_set has no internal
            # order; when the sort key IS the value (the only form whose
            # order is well-defined after dedup) sort the set
            bare = dm.group(1).strip()
            k0 = re.sub(
                r"\s+NULLS\s+(FIRST|LAST)\s*$", "", keys[0].strip(),
                flags=re.I,
            )
            k0 = re.sub(r"\s+(ASC|DESC)\s*$", "", k0, flags=re.I)
            if len(keys) != 1 or k0 != bare:
                raise ValueError(
                    "list(DISTINCT …) supports ORDER BY the value only"
                )
            inner = f"array_sort(collect_set({bare}))"
            desc0 = re.search(r"\bDESC\b", keys[0], re.I)
            return f"reverse({inner})" if desc0 else inner
        return _ordered_collect(val, keys)
    if key in ("string_agg", "group_concat", "listagg"):
        # DuckDB: string_agg(x, sep ORDER BY o…) — the ORDER BY rides
        # inside the argument list (and a multi-key order was comma-split
        # across args, so search the REJOINED text); Spark wants WITHIN
        # GROUP.  Spark's listagg accepts ONE sort key, so multi-key
        # orders go through the collect-sort-join shape instead (same as
        # ordered list()).
        joined = ", ".join(a)
        m = re.search(r"\bORDER\s+BY\b", joined, re.I)
        if m:
            a = split_top_level(joined[: m.start()].strip().rstrip(","))
            order = joined[m.start() :]
            keys = split_top_level(
                re.sub(r"^\s*ORDER\s+BY\s*", "", order, flags=re.I)
            )
            if len(keys) == 1:
                # Spark's WITHIN GROUP accepts ASC/DESC + NULLS specs,
                # but its ASC default is NULLS FIRST where DuckDB's is
                # NULLS LAST — inject the DuckDB default when absent
                k = keys[0].strip()
                if not re.search(r"\bNULLS\s+(FIRST|LAST)\s*$", k, re.I):
                    k += " NULLS LAST"
                return (
                    f"listagg({', '.join(a)}) WITHIN GROUP (ORDER BY {k})"
                )
            val = a[0]
            sep = a[1] if len(a) > 1 else "','"
            # string_agg skips NULL values like listagg — filter them
            # off the ordered collection before joining
            return (
                f"array_join(filter({_ordered_collect(val, keys)}, "
                f"__v -> __v IS NOT NULL), {sep})"
            )
        return f"listagg({', '.join(a)})"
    if key == "format":
        # DuckDB fmt-style templates -> printf: {} -> %s, {N} -> %N+1$s,
        # {:.2f}/{:d} -> %.2f/%d, {{ }} escapes, % escapes to %%
        fmt = _literal_str(a[0])
        if fmt is None:
            raise ValueError("format: template must be a string literal")
        out, i, n = [], 0, len(fmt)
        # java.util.Formatter %f rejects DECIMAL/BigDecimal values (a
        # DuckDB numeric literal like 3.14 parses DECIMAL in Spark) —
        # args consumed by an f-spec get a CAST(... AS DOUBLE)
        float_args: set[int] = set()
        seq = 0  # next sequential arg index (0-based into a[1:])
        while i < n:
            ch = fmt[i]
            if ch == "{" and i + 1 < n and fmt[i + 1] == "{":
                out.append("{")
                i += 2
            elif ch == "}" and i + 1 < n and fmt[i + 1] == "}":
                out.append("}")
                i += 2
            elif ch == "{":
                close = fmt.find("}", i)
                if close < 0:
                    raise ValueError(f"format: unbalanced brace in {fmt!r}")
                spec = fmt[i + 1 : close]
                pos, _, conv = spec.partition(":")
                positional = pos.strip().isdigit()
                arg_idx = int(pos) if positional else seq
                if not positional:
                    seq += 1
                prefix = f"%{arg_idx + 1}$"if positional else "%"
                if not conv:
                    out.append(prefix + "s")
                elif re.fullmatch(r"\.\d+f", conv):
                    out.append(prefix + conv)
                    float_args.add(arg_idx)
                elif conv in ("d", "s", "x", "o"):
                    out.append(prefix + conv)
                else:
                    raise ValueError(f"format: unsupported spec {spec!r}")
                i = close + 1
            elif ch == "%":
                out.append("%%")
                i += 1
            else:
                out.append(ch)
                i += 1
        args = [
            f"CAST({arg} AS DOUBLE)" if j in float_args else arg
            for j, arg in enumerate(a[1:])
        ]
        return (
            f"format_string({_sql_str(''.join(out))}"
            + (", " + ", ".join(args) if args else "")
            + ")"
        )
    if key == "skewness":
        # DuckDB reports SAMPLE skewness G1 = g1 * sqrt(n(n-1))/(n-2);
        # Spark's skewness() is the population g1
        x = a[0]
        return (
            f"(skewness({x}) * sqrt(count({x}) * (count({x}) - 1)) "
            f"/ (count({x}) - 2))"
        )
    if key == "kurtosis":
        # DuckDB reports SAMPLE excess kurtosis
        # G2 = ((n+1)*g2 + 6) * (n-1)/((n-2)(n-3)); Spark's kurtosis()
        # is the population excess g2
        x = a[0]
        return (
            f"((((count({x}) + 1) * kurtosis({x}) + 6) "
            f"* (count({x}) - 1)) "
            f"/ ((count({x}) - 2) * (count({x}) - 3)))"
        )
    if key == "geomean":
        # alias of the engine-registered geo_mean grouped-agg UDF
        return f"geo_mean({a[0]})"
    if key == "concat":
        # DuckDB concat skips NULL arguments; Spark concat returns NULL
        # if any argument is NULL.  concat_ws('') has DuckDB's skip
        # semantics exactly.
        return f"concat_ws('', {', '.join(a)})"
    if key == "regexp_escape":
        # 4-arg position form: global in Spark AND a rewrite fixed point
        return (
            f"regexp_replace({a[0]}, "
            "'([\\\\.^$|?*+()\\[\\]{}])', '\\\\$1', 1)"
        )
    if key == "parse_filename" and len(a) == 1:
        return f"regexp_extract({a[0]}, '([^/\\\\]*)$', 1)"
    if key == "json_group_array":
        # DuckDB JSON aggregate: collect into a JSON array string
        return f"to_json(collect_list({a[0]}))"
    if key == "json_valid":
        return f"(try_parse_json({a[0]}) IS NOT NULL)"
    if (
        key == "map"
        and len(a) == 2
        and a[0].lstrip().lower().startswith(("array(", "["))
        and a[1].lstrip().lower().startswith(("array(", "["))
    ):
        # DuckDB map(keys_list, values_list) — only when both args are
        # visibly list constructors; Spark's own alternating-scalar
        # map(k, v) (emitted by the inlined-insert writer) passes through
        return f"map_from_arrays({a[0]}, {a[1]})"
    if key == "timezone" and len(a) == 2:
        # DuckDB timezone(tz, naive_ts): interpret the naive timestamp
        # in tz -> TIMESTAMPTZ (rendered in the UTC session zone).  The
        # TIMESTAMPTZ-input overload (convert the other way) is not
        # detectable from text; scripts overwhelmingly use the naive
        # form.
        return f"to_utc_timestamp({a[1]}, {a[0]})"
    if key == "date_add" and len(a) == 2 and re.match(
        r"^\s*INTERVAL\b", a[1], re.I
    ):
        # DuckDB date_add(date, INTERVAL): Spark's date_add takes an
        # int of days — the interval form is plain date arithmetic
        return f"({a[0]} + {a[1]})"
    if key == "len":
        # DuckDB len() is polymorphic (lists AND strings); Spark splits
        # it into size()/length().  A string literal argument is the one
        # case detectable from text — everything else assumes list, the
        # dominant DuckDB idiom (strings normally use length/strlen).
        if _literal_str(a[0]) is not None:
            return f"length({a[0]})"
        return f"size({a[0]})"
    if key == "try_strptime":
        fl = _literal_str(a[1])
        if fl is None:
            raise ValueError("try_strptime: format must be a string literal")
        return f"try_to_timestamp({a[0]}, {_sql_str(_strftime_to_java(fl))})"
    if key == "list_has_all":
        # list_has_all(l, sub): every element of sub present in l
        return f"(size(array_except({a[1]}, {a[0]})) = 0)"
    if key in ("list_aggregate", "list_aggr", "array_aggregate",
               "array_aggr"):
        fn = (_literal_str(a[1]) or "").lower()
        if fn in ("sum", "avg", "min", "max"):
            return _duck_fn_emit(f"list_{fn}", [a[0]]) if fn in (
                "sum", "avg"
            ) else f"array_{fn}({a[0]})"
        if fn == "count":
            return f"size(filter({a[0]}, x -> x IS NOT NULL))"
        if fn in ("first", "last"):
            fl = f"filter({a[0]}, __v -> __v IS NOT NULL)"
            return f"try_element_at({fl}, {1 if fn == 'first' else -1})"
        if fn == "string_agg":
            fl = f"filter({a[0]}, __v -> __v IS NOT NULL)"
            return (
                f"array_join(transform({fl}, "
                f"__v -> CAST(__v AS STRING)), ',')"
            )
        raise ValueError(f"list_aggregate: unsupported function {fn!r}")
    # vector math (DuckDB array/list similarity family).  All folds in
    # DOUBLE; DuckDB computes FLOAT[] inputs in float32, so dialect
    # parity needs DOUBLE[] (or literal) inputs on the DuckDB side.
    _VDOT = (
        "aggregate(zip_with({x}, {y}, (p, q) -> CAST(p AS DOUBLE) * "
        "CAST(q AS DOUBLE)), CAST(0 AS DOUBLE), (s, v) -> s + v)"
    )
    _VSQ = (
        "aggregate({x}, CAST(0 AS DOUBLE), (s, v) -> s + CAST(v AS DOUBLE)"
        " * CAST(v AS DOUBLE))"
    )
    if key in ("list_dot_product", "list_inner_product", "array_inner_product"):
        return _VDOT.format(x=a[0], y=a[1])
    if key in ("list_cosine_similarity", "array_cosine_similarity"):
        return (
            f"({_VDOT.format(x=a[0], y=a[1])} / "
            f"(sqrt({_VSQ.format(x=a[0])}) * sqrt({_VSQ.format(x=a[1])})))"
        )
    if key in ("list_cosine_distance", "array_cosine_distance"):
        return (
            f"(1.0 - ({_VDOT.format(x=a[0], y=a[1])} / "
            f"(sqrt({_VSQ.format(x=a[0])}) * sqrt({_VSQ.format(x=a[1])}))))"
        )
    if key in ("list_distance", "array_distance"):
        return (
            f"sqrt(aggregate(zip_with({a[0]}, {a[1]}, (p, q) -> "
            f"(CAST(p AS DOUBLE) - CAST(q AS DOUBLE)) * "
            f"(CAST(p AS DOUBLE) - CAST(q AS DOUBLE))), "
            f"CAST(0 AS DOUBLE), (s, v) -> s + v))"
        )
    if key == "list_reduce":
        # DuckDB list_reduce seeds the fold with the FIRST element
        return (
            f"aggregate(slice({a[0]}, 2, greatest(size({a[0]}) - 1, 0)), "
            f"try_element_at({a[0]}, 1), {a[1]})"
        )
    if key == "struct_extract":
        field = _literal_str(a[1])
        if field is None:
            raise ValueError("struct_extract: field must be a string literal")
        return f"({a[0]}).{field}"
    if key == "list_any_value":
        return f"try_element_at(filter({a[0]}, x -> x IS NOT NULL), 1)"
    if key in ("product", "prod"):
        # multiset product as an array fold (commutative, so collect
        # order doesn't matter); NULLs ignored like every aggregate
        return (
            f"aggregate(filter(collect_list(CAST({a[0]} AS DOUBLE)), "
            f"x -> x IS NOT NULL), CAST(1.0 AS DOUBLE), (acc, x) -> acc * x)"
        )
    if key == "entropy":
        # Shannon entropy (base 2) of the value multiset:
        # log2(n) - sum(c*log2(c))/n over per-distinct-value counts c
        lst = f"collect_list(CAST({a[0]} AS STRING))"
        counts = (
            f"transform(array_distinct(filter({lst}, "
            f"__x -> __x IS NOT NULL)), "
            f"v -> CAST(size(filter({lst}, y -> y = v)) AS DOUBLE))"
        )
        return (
            f"(log2(size({lst})) - aggregate({counts}, 0D, "
            f"(acc, c) -> acc + c * log2(c)) / size({lst}))"
        )
    if key in ("array_to_string", "list_string_agg") and len(a) == 2:
        # DuckDB stringifies elements of ANY type (array_to_string([1,
        # NULL, 2], ',') → '1,2'); Spark's array_join requires
        # ARRAY<STRING>, so cast per element (NULLs stay NULL and are
        # skipped by array_join, matching DuckDB).  Already-cast args
        # (our own emission) pass through for chain idempotence.
        arg = a[0].lstrip()
        if arg.startswith("transform(") and "CAST(__e AS STRING)" in arg:
            return f"array_join({', '.join(a)})"
        return (
            f"array_join(transform({a[0]}, __e -> CAST(__e AS STRING)), "
            f"{a[1]})"
        )
    if key == "split_part" and len(a) == 3:
        # DuckDB's split_part never returns NULL: NULL string or NULL
        # index → ''; NULL separator → NO split (the whole string is
        # part ±1, '' otherwise); '' separator splits into CHARACTERS.
        # Spark propagates NULLs and treats '' separator as no-split —
        # wrap the native call (which already matches the out-of-range
        # → '' and negative-index-from-end behavior).
        s, sep, n = a
        return (
            f"(CASE WHEN ({s}) IS NULL OR ({n}) IS NULL THEN '' "
            f"WHEN ({sep}) IS NULL THEN "
            f"(CASE WHEN ({n}) IN (1, -1) THEN ({s}) ELSE '' END) "
            f"WHEN ({sep}) = '' THEN "
            f"coalesce(try_element_at(split({s}, ''), CAST({n} AS INT)), '') "
            f"ELSE split_part({s}, {sep}, {n}) END)"
        )
    if key == "quantile_disc" and len(a) == 2:
        # DuckDB's quantile_disc returns the ELEMENT at (1-based) index
        # ceil(q*n) of the NULL-stripped sorted values, in the
        # element's own type; Spark's percentile_disc always returns
        # DOUBLE.  The repeated array expression collapses under
        # Catalyst CSE (same pattern as mad()).
        arr = f"array_sort(filter(collect_list({a[0]}), __x -> __x IS NOT NULL))"
        idx = f"greatest(CAST(ceil(({a[1]}) * size({arr})) AS INT), 1)"
        return f"try_element_at({arr}, {idx})"
    if key == "mad":
        # median absolute deviation via one collected sorted array; the
        # inner median expression repeats (no SQL lets), Catalyst CSE
        # collapses the duplicate aggregates
        lst = f"array_sort(collect_list(CAST({a[0]} AS DOUBLE)))"
        med = (
            f"((try_element_at({lst}, CAST((size({lst}) + 1) / 2 AS INT)) + "
            f"try_element_at({lst}, CAST(size({lst}) / 2 + 1 AS INT))) / 2.0)"
        )
        dev = f"array_sort(transform({lst}, v -> abs(v - {med})))"
        return (
            f"((try_element_at({dev}, CAST((size({dev}) + 1) / 2 AS INT)) + "
            f"try_element_at({dev}, CAST(size({dev}) / 2 + 1 AS INT))) / 2.0)"
        )
    if key in ("first", "last"):
        # DuckDB's ordered first/last aggregate: first(x ORDER BY k) —
        # collect (key, value) structs, sort, take an end.  Orderless
        # forms pass through to Spark's own first/last.
        joined = ", ".join(a)
        m = re.search(r"\bORDER\s+BY\b", joined, re.I)
        if not m:
            return f"{key}({joined})"
        val = joined[: m.start()].strip().rstrip(",").strip()
        keys = split_top_level(joined[m.end() :])
        arr = _ordered_collect(val, keys)
        return f"try_element_at({arr}, {-1 if key == 'last' else 1})"
    if key in ("range", "generate_series"):
        # Scalar-position series (the FROM-position table forms resolve
        # earlier in _rewrite_series_tvf).  DuckDB: range() is
        # END-EXCLUSIVE, generate_series() inclusive; BOTH return an
        # EMPTY list when the step's sign can't reach the stop (Spark's
        # sequence() errors or runs descending), and both type the
        # temporal form TIMESTAMP.
        if len(a) == 3 and re.search(r"\bINTERVAL\b", a[2], re.I):
            lo = f"CAST({a[0]} AS TIMESTAMP)"
            hi = f"CAST({a[1]} AS TIMESTAMP)"
            seq = f"sequence({lo}, {hi}, {a[2]})"
            if key == "range":
                return f"filter({seq}, __t -> __t <> {hi})"
            return seq
        if len(a) == 1:
            lo, hi, step = "0", a[0], "1"
        elif len(a) == 2:
            lo, hi, step = a[0], a[1], "1"
        else:
            lo, hi, step = a
        if key == "range":
            # exclusive stop: pull the bound one step-sign inward (AS
            # INT both keeps INT-typed series INT for element_at
            # consumers and matches the sign() idempotence guard)
            hi = f"({hi}) - CAST(sign({step}) AS INT)"
        # type-matched empty array: forcing ARRAY<BIGINT> would widen
        # the CASE result and break INT-typed consumers
        empty = f"slice(sequence({lo}, {lo}), 1, 0)"
        return (
            f"(CASE WHEN (CAST({hi} AS DOUBLE) - CAST({lo} AS DOUBLE)) "
            f"* CAST({step} AS DOUBLE) >= 0 "
            f"THEN sequence({lo}, {hi}, {step}) ELSE {empty} END)"
        )
    if key == "list_sum":
        # DuckDB list_sum ignores NULLs and keeps the element type
        # (INT lists sum integral, DECIMAL lists sum decimal); seed the
        # fold with an element-typed zero instead of 0D
        fl = f"filter({a[0]}, __v -> __v IS NOT NULL)"
        # element-typed zero via * 0L: INT lists sum integral, DOUBLE
        # stays double (both duck-exact).  DECIMAL lists cannot fold in
        # Spark's aggregate() (precision grows each merge) — they raise
        # the analyzer's type error.
        return (
            f"aggregate({fl}, try_element_at({fl}, 1) * 0L, "
            f"(acc, __v) -> acc + __v)"
        )
    if key == "list_avg":
        fl = f"filter({a[0]}, __v -> __v IS NOT NULL)"
        return (
            f"(aggregate({fl}, 0D, (acc, __v) -> acc + __v) / size({fl}))"
        )
    if key in ("encode", "decode"):
        # DuckDB's 1-arg form is UTF-8; Spark requires the charset
        if len(a) == 1:
            return f"{key}({a[0]}, 'UTF-8')"
        return f"{key}({', '.join(a)})"
    if key == "regexp_extract" and len(a) == 2:
        # DuckDB's default group is 0 (whole match); Spark's is 1
        return f"regexp_extract({a[0]}, {a[1]}, 0)"
    if (
        key == "regexp_extract"
        and len(a) == 3
        and re.match(r"(?is)^array\s*\(", a[2].strip())
    ):
        # DuckDB's name-list form returns a STRUCT of capture groups:
        # regexp_extract(s, pat, ['w', 'n']) → {'w': g1, 'n': g2}
        # (the ['w','n'] literal already became array('w','n') in the
        # bracket rewrite)
        names = re.findall(r"'((?:[^']|'')*)'", a[2])
        fields = ", ".join(
            f"'{nm}', regexp_extract({a[0]}, {a[1]}, {i + 1})"
            for i, nm in enumerate(names)
        )
        return f"named_struct({fields})"
    if key == "regexp_extract_all" and len(a) == 2:
        return f"regexp_extract_all({a[0]}, {a[1]}, 0)"
    if key == "regexp_replace" and len(a) in (3, 4):
        # DuckDB's 4th arg is an options string ('g' = global, 'i' =
        # case-fold); WITHOUT 'g' DuckDB replaces only the FIRST match,
        # while Spark's regexp_replace is always global.  The
        # replacement string also changes dialect: DuckDB (RE2 rewrite)
        # spells group backreferences \1 and treats $ literally; Java
        # spells them $1 and needs $ escaped as \$.
        if a[0].lstrip().lower().startswith("regexp_extract("):
            # inner call of our own first-match splice (below) — pass
            # through so repeated rewrite passes stay idempotent
            return f"regexp_replace({', '.join(a)})"
        rep = a[2]
        rl = _literal_str(rep)
        if rl is not None:
            if re.search(r"\\\d", rl):
                # \N backreference present -> RE2-style rewrite string
                rep = _sql_str(_re2_rewrite_to_java(rl))
            elif "$" in rl:
                # no backrefs: only escape bare $ (Java group syntax);
                # $<digit> / \$ are left alone so the pass is idempotent
                esc = re.sub(r"(?<!\\)\$(?!\d)", r"\\$", rl)
                if esc != rl:
                    rep = _sql_str(esc)
        pat = a[1]
        global_replace = False
        if len(a) == 4:
            flags = _literal_str(a[3])
            if flags is None:
                return f"regexp_replace({a[0]}, {pat}, {rep}, {a[3]})"
            global_replace = "g" in flags
            if "i" in flags:
                pl = _literal_str(pat)
                pat = _sql_str("(?i)" + pl) if pl is not None else pat
        if global_replace:
            # Spark's 4-arg form with position 1 ≡ 3-arg global, and the
            # integer 4th arg makes the emission a rewrite FIXED POINT
            # (a bare 3-arg output would be re-read as DuckDB
            # first-match-only on the next pass)
            return f"regexp_replace({a[0]}, {pat}, {rep}, 1)"
        # first-match-only: splice the replaced first match between the
        # unmatched prefix and suffix; the inner regexp_replace runs on
        # the matched text alone (so backreferences still expand)
        x = a[0]
        instr = f"regexp_instr({x}, {pat})"
        m0 = f"regexp_extract({x}, {pat}, 0)"
        # concat_ws (NULL-skipping) keeps the emission a rewrite fixed
        # point vs plain concat; the explicit IS NULL arm restores
        # NULL-in/NULL-out (concat_ws would yield '')
        return (
            f"(CASE WHEN {x} IS NULL THEN NULL "
            f"WHEN {instr} = 0 THEN {x} ELSE concat_ws('', "
            f"substr({x}, 1, {instr} - 1), "
            f"regexp_replace({m0}, {pat}, {rep}), "
            f"substr({x}, {instr} + length({m0}))) END)"
        )
    if key == "sha256":
        return f"sha2({a[0]}, 256)"
    if key == "to_base":
        return f"conv(CAST({a[0]} AS STRING), 10, {a[1]})"
    if key == "trunc" and len(a) == 1:
        # DuckDB numeric trunc (toward zero); 2-arg date trunc passes
        # through to Spark's own trunc below
        return f"(floor(abs({a[0]})) * CAST(sign({a[0]}) AS BIGINT))"
    if key == "age" and not a[0].lstrip().upper().startswith("CAST("):
        # age(a[, b]): PG-style CALENDAR decomposition (years/months/
        # days borrow against real month lengths), rendered as DuckDB's
        # VARCHAR text by the duck_age UDF — Spark has no mixed
        # month+day+time interval type, and the old day-time interval
        # subtraction could not show '2 months 5 days'.  1-arg form
        # measures from current_date (PG semantics).
        args = (
            ["CAST(current_date() AS TIMESTAMP)",
             f"CAST({a[0]} AS TIMESTAMP)"]
            if len(a) == 1
            else [f"CAST({a[0]} AS TIMESTAMP)", f"CAST({a[1]} AS TIMESTAMP)"]
        )
        return f"age({', '.join(args)})"
    if key == "even":
        # round away from zero to the next even number
        return (
            f"(CASE WHEN ({a[0]}) >= 0 THEN "
            f"CASE WHEN ceil({a[0]}) % 2 = 0 THEN CAST(ceil({a[0]}) AS DOUBLE)"
            f" ELSE CAST(ceil({a[0]}) + 1 AS DOUBLE) END "
            f"ELSE CASE WHEN floor({a[0]}) % 2 = 0 THEN "
            f"CAST(floor({a[0]}) AS DOUBLE)"
            f" ELSE CAST(floor({a[0]}) - 1 AS DOUBLE) END END)"
        )
    if key == "signbit":
        # DuckDB's signbit is a plain < 0 test — signbit(-0.0) is FALSE
        # there (verified), and the 1/-0.0 trick would yield NULL under
        # the engine's DuckDB-style NULL division anyway
        return f"(CAST({a[0]} AS DOUBLE) < 0D)"
    if key in ("format_bytes", "formatreadablesize"):
        # DuckDB's binary-prefix humanizer: 999 bytes / 1.4 KiB / 1.0 MiB
        x = f"CAST({a[0]} AS DOUBLE)"
        tiers = [
            (1024.0 ** 5, "PiB"), (1024.0 ** 4, "TiB"),
            (1024.0 ** 3, "GiB"), (1024.0 ** 2, "MiB"), (1024.0, "KiB"),
        ]
        arms = " ".join(
            # DuckDB TRUNCATES to one decimal (1500 B = 1.4 KiB); %.1f
            # alone would round half up
            f"WHEN {x} >= {int(f)}D THEN "
            f"format_string('%.1f {u}', floor({x} / {int(f)}D * 10) / 10)"
            for f, u in tiers
        )
        return (
            f"(CASE {arms} ELSE format_string('%d bytes', "
            f"CAST({a[0]} AS BIGINT)) END)"
        )
    if key in ("to_seconds", "to_minutes", "to_hours", "to_days"):
        # numeric * day-time interval (make_interval yields the legacy
        # CalendarIntervalType, which the Python client can't collect)
        unit = key[3:].rstrip("s").upper()
        return f"(CAST({a[0]} AS BIGINT) * INTERVAL '1' {unit})"
    if key == "datesub" or (key == "date_sub" and len(a) == 3):
        # complete-interval count (DuckDB date_sub); Spark's own 2-arg
        # date_sub(date, n) passes through below
        part = _literal_str(a[0])
        if part is None:
            raise ValueError("datesub: part must be a string literal")
        return f"timestampdiff({part.upper()}, {a[1]}, {a[2]})"
    if key == "time_bucket":
        im = re.match(
            r"^\s*INTERVAL\s+'?(\d+)'?\s+"
            r"(SECOND|MINUTE|HOUR|DAY|WEEK)S?\s*$",
            a[0],
            re.I,
        )
        if not im:
            raise ValueError(
                "time_bucket: only INTERVAL n SECOND/MINUTE/HOUR/DAY/"
                "WEEK buckets are supported"
            )
        secs = int(im.group(1)) * {
            "SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400,
            "WEEK": 604800,
        }[im.group(2).upper()]
        # DuckDB's bucket origin is 2000-01-03 00:00:00 (a Monday —
        # epoch 946857600); invisible for sub-day buckets that divide
        # it, decisive for multi-day/week buckets
        org = 946857600
        ts = (
            f"timestamp_seconds(CAST(floor((unix_timestamp({a[1]}) "
            f"- {org}) / {secs}D) AS BIGINT) * {secs} + {org})"
        )
        if re.match(r"^\s*DATE\s*'", a[1], re.I):
            # a DATE operand stays DATE in DuckDB; only a literal is
            # provably a date from the text
            return f"CAST({ts} AS DATE)"
        return ts
    if key == "century":
        return f"CAST(ceil(year({a[0]}) / 100.0) AS BIGINT)"
    if key == "histogram":
        lst = f"collect_list({a[0]})"
        return (
            f"map_from_entries(transform(array_sort(array_distinct("
            f"filter({lst}, __x -> __x IS NOT NULL))), "
            f"v -> struct(v, CAST(size(filter({lst}, y -> y = v)) "
            f"AS BIGINT))))"
        )
    if key in ("sum", "avg", "min", "max", "count"):
        if key == "count" and not a:
            # DuckDB allows zero-arg count()
            return "count(*)"
        # DuckDB tolerates ORDER BY inside any aggregate; for these the
        # order can't change the answer — strip it (top level only: an
        # ORDER BY inside a nested subquery argument must survive)
        joined = ", ".join(a)
        pos = find_top_level_keyword(joined, "ORDER BY")
        if pos >= 0:
            joined = joined[:pos].strip().rstrip(",").strip()
        return f"{key}({joined})"
    if key in ("trim", "ltrim", "rtrim") and len(a) == 2:
        # DuckDB: trim(str, chars); Spark's two-arg form is the legacy
        # reversed (trimStr, str) — use the unambiguous ANSI form
        side = {"trim": "BOTH", "ltrim": "LEADING", "rtrim": "TRAILING"}[key]
        return f"trim({side} {a[1]} FROM {a[0]})"
    if key == "hash":
        # DuckDB hash() is an unsigned 64-bit value; Spark's 64-bit hash
        # is xxhash64 (signed) — mask to non-negative so magnitude
        # comparisons behave (values differ across engines by design)
        return f"(xxhash64({', '.join(a)}) & 9223372036854775807)"
    if key == "strip_accents":
        low = "àáâãäåèéêëìíîïòóôõöùúûüýÿçñ"
        upp = "ÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÝŸÇÑ"
        plain_l = "aaaaaaeeeeiiiiooooouuuuyycn"
        plain_u = "AAAAAAEEEEIIIIOOOOOUUUUYYCN"
        return (
            f"translate({a[0]}, '{low}{upp}', '{plain_l}{plain_u}')"
        )
    if key == "sign":
        # DuckDB sign() returns INTEGER; Spark signum() returns DOUBLE
        return f"CAST(sign({a[0]}) AS INT)"
    if key == "bit_count":
        # DuckDB counts set bits WITHIN the operand's declared width
        # (bit_count(-4::INTEGER) = 30 — two's complement over 32 bits);
        # Spark's bit_count always evaluates the 64-bit pattern (= 62).
        # Mask to the runtime width via typeof().  Found by the round-5
        # exploratory fuzz sweep.  Already-masked args are this
        # template's own output: pass through (idempotence).
        if "WHEN 'int' THEN CAST(4294967295 AS BIGINT)" in a[0]:
            return f"bit_count({a[0]})"
        if re.search(r"\b(least|greatest)\s*\(", a[0], re.I):
            # DuckDB's least/greatest are declared over BIGINT (an
            # INTEGER input promotes, bit_count sees 64 bits) while
            # Spark's keep INT — the typeof mask would follow Spark's
            # narrower type.  Promote like DuckDB does.
            return f"bit_count(CAST({a[0]} AS BIGINT))"
        return (
            f"bit_count(({a[0]}) & "
            f"(CASE typeof({a[0]}) "
            f"WHEN 'int' THEN CAST(4294967295 AS BIGINT) "
            f"WHEN 'smallint' THEN CAST(65535 AS BIGINT) "
            f"WHEN 'tinyint' THEN CAST(255 AS BIGINT) "
            f"ELSE CAST(-1 AS BIGINT) END))"
        )
    if key == "cbrt":
        # passthrough, documented divergence: DuckDB computes cbrt as
        # exp(ln(x)/3) and its libm differs from the JVM's by 1 ulp
        # (cbrt(27): 3.0000000000000004 vs Spark's correctly-rounded
        # 3.0) — reproducing the wrong value is not worth the fakery
        return f"cbrt({a[0]})"
    if key == "isinf":
        return (
            f"({a[0]} = CAST('Infinity' AS DOUBLE) "
            f"OR {a[0]} = CAST('-Infinity' AS DOUBLE))"
        )
    if key in ("gcd", "lcm", "greatest_common_divisor",
               "least_common_multiple"):
        # no Spark builtin: bounded Euclid via aggregate() — 90 steps
        # covers the worst case (consecutive Fibonacci) for 64-bit ints,
        # stays JVM-side (interpreted HOF, but gcd args are scalar)
        x, y = a[0], a[1]
        g = (
            f"aggregate(sequence(1, 90), "
            f"named_struct('x', abs(CAST({x} AS BIGINT)), "
            f"'y', abs(CAST({y} AS BIGINT))), "
            f"(acc, i) -> CASE WHEN acc.y = 0 THEN acc "
            f"ELSE named_struct('x', acc.y, 'y', acc.x % acc.y) END, "
            f"acc -> acc.x)"
        )
        if key in ("gcd", "greatest_common_divisor"):
            return g
        return (
            f"CASE WHEN {x} = 0 OR {y} = 0 THEN 0 "
            f"ELSE abs(CAST({x} AS BIGINT) DIV {g} * CAST({y} AS BIGINT)) "
            f"END"
        )
    if key == "list_select":
        return f"transform({a[1]}, i -> try_element_at({a[0]}, CAST(i AS INT)))"
    if key == "list_where":
        return (
            f"transform(filter(sequence(1, size({a[0]})), "
            f"i -> try_element_at({a[1]}, i)), i -> try_element_at({a[0]}, i))"
        )
    if key == "list_resize":
        val = a[2] if len(a) > 2 else "NULL"
        return (
            f"CASE WHEN size({a[0]}) >= {a[1]} THEN slice({a[0]}, 1, {a[1]}) "
            f"ELSE flatten(array({a[0]}, array_repeat({val}, "
            f"CAST({a[1]} AS INT) - size({a[0]})))) END"
        )
    if key == "regexp_full_match":
        return f"regexp_like({a[0]}, concat('^(?:', {a[1]}, ')$'))"
    if key == "isodow":
        # DAYOFWEEK_ISO (Mon=1..Sun=7); spelled as extract so the
        # emission cannot re-match the weekday/dayofweek templates
        return f"extract(DAYOFWEEK_ISO FROM {a[0]})"
    if key in ("date_trunc", "datetrunc") and len(a) == 2:
        part = _literal_str(a[0])
        p = part.lower() if part else None
        # DuckDB's date_trunc returns DATE for day-or-coarser units on
        # ANY input (DATE or TIMESTAMP — typeof-verified on 1.0);
        # Spark's always returns TIMESTAMP.  Round-6 interval2 fuzz
        # find — previously only literal-DATE operands were handled.
        # Emissions deliberately avoid the date_trunc spelling so the
        # chain can't re-wrap them (idempotence): Spark's trunc()
        # already RETURNS DATE for week..year; day is a plain date
        # cast; decade/century/millennium anchor with make_date
        # (DuckDB 1.0 floors to year/N*N — 1997 → 1990/1900/1000).
        if p == "day":
            return f"CAST(({a[1]}) AS DATE)"
        if p in ("week", "month", "quarter", "year"):
            return f"trunc({a[1]}, '{p}')"
        if p in ("decade", "century", "millennium"):
            span = {"decade": 10, "century": 100, "millennium": 1000}[p]
            return (
                f"make_date(CAST(FLOOR(year({a[1]}) / {span}) * {span} "
                f"AS INT), 1, 1)"
            )
        return f"date_trunc({a[0]}, {a[1]})"
    if key in ("date_part", "datepart") and len(a) == 2:
        part = _literal_str(a[0])
        p = part.lower() if part else None
        if re.match(r"(?is)^(age|duck_age)\s*\(", a[1].lstrip()):
            # date_part over an INTERVAL extracts the calendar
            # COMPONENT (date_part('day', age(…)) = the days field).
            # age() renders DuckDB's interval text ('3 years 2 months
            # 14 days 10:20:30.5'), so pull the component back out;
            # absent components are 0.  Spark regexp_extract returns ''
            # (not NULL) on a miss — nullif bridges to the 0 default.
            comp_pats = {
                "year": r"(-?\d+) years?", "month": r"(-?\d+) months?",
                "day": r"(-?\d+) days?",
                "hour": r"(-?\d+):\d{2}:\d{2}",
                "minute": r"-?\d+:(\d{2}):\d{2}",
                "second": r"-?\d+:\d{2}:(\d{2})",
            }
            base = (p or "").rstrip("s")
            if base in comp_pats:
                return (
                    f"CAST(coalesce(nullif(regexp_extract({a[1]}, "
                    f"'{comp_pats[base]}', 1), ''), '0') AS BIGINT)"
                )
        # day-of-week numbering differs: DuckDB dow/dayofweek/weekday
        # are Sunday=0, isodow is Monday=1; Spark date_part('dow') is
        # Sunday=1.  Spelled as pure date arithmetic (1970-01-04 was a
        # Sunday) so the emission is a fixed point of the chain.
        if p in ("dow", "dayofweek", "weekday"):
            return (
                f"pmod(datediff(CAST({a[1]} AS DATE), "
                f"DATE '1970-01-04'), 7)"
            )
        if p == "isodow":
            return f"extract(DAYOFWEEK_ISO FROM {a[1]})"
        if p in ("decade", "century", "millennium", "era", "isoyear",
                 "julian", "yearweek"):
            # Spark's date_part lacks these fields — delegate to the
            # standalone translations (decade(), era(), …)
            return _duck_fn_emit(p, [a[1]])
        if p == "epoch":
            # same emission as epoch(): DuckDB returns DOUBLE seconds
            # with the fraction; unix_timestamp would truncate to BIGINT
            return (
                f"(unix_micros(CAST({a[1]} AS TIMESTAMP)) "
                f"/ CAST(1000000 AS DOUBLE))"
            )
        if p in ("second", "seconds"):
            # DuckDB: integer seconds, fraction truncated; Spark's
            # date_part('second') returns DECIMAL(8,6) with the
            # fraction.  second() (Spark builtin, INT, truncating) is
            # also rewrite-idempotent where a date_part re-emission
            # would not be.
            return f"CAST(second(CAST({a[1]} AS TIMESTAMP)) AS BIGINT)"
        if p in ("microsecond", "microseconds"):
            # DuckDB: sub-minute microseconds incl. whole seconds
            # (10:20:30.123456 → 30123456); Spark's extract has no
            # microsecond field.  pmod keeps pre-epoch timestamps
            # positive (minutes align to 60 s boundaries).
            return (
                f"pmod(unix_micros(CAST({a[1]} AS TIMESTAMP)), "
                f"CAST(60000000 AS BIGINT))"
            )
        if p in ("millisecond", "milliseconds"):
            return (
                f"(pmod(unix_micros(CAST({a[1]} AS TIMESTAMP)), "
                f"CAST(60000000 AS BIGINT)) DIV 1000)"
            )
        return f"date_part({a[0]}, {a[1]})"
    if key == "microsecond" and len(a) == 1:
        return (
            f"pmod(unix_micros(CAST({a[0]} AS TIMESTAMP)), "
            f"CAST(60000000 AS BIGINT))"
        )
    if key == "millisecond" and len(a) == 1:
        return (
            f"(pmod(unix_micros(CAST({a[0]} AS TIMESTAMP)), "
            f"CAST(60000000 AS BIGINT)) DIV 1000)"
        )
    if key == "typeof":
        # DuckDB spells SQL type names upper-case (VARCHAR, BIGINT);
        # Spark's typeof returns lower-case catalyst names
        inner = f"typeof({a[0]})"
        return (
            f"CASE {inner} WHEN 'string' THEN 'VARCHAR' "
            f"WHEN 'int' THEN 'INTEGER' "
            f"WHEN 'timestamp_ntz' THEN 'TIMESTAMP' "
            f"ELSE upper({inner}) END"
        )
    if key == "setseed":
        # DuckDB's setseed() seeds its PRNG and returns NULL; Spark
        # seeds per-expression — accept and discard
        return "CAST(NULL AS STRING)"
    if key == "printf":
        # Spark's format_string is strict about conversion/arg types
        # (%f rejects DECIMAL literals, %d rejects INT): cast each arg
        # to the width its conversion wants
        fmt = _literal_str(a[0])
        if fmt is not None and len(a) > 1:
            convs = re.findall(r"%[-+ #0]*\d*(?:\.\d+)?([diufFeEgGxXos])", fmt)
            casted = []
            for arg, conv in zip(a[1:], convs):
                if conv in "fFeEgG":
                    casted.append(f"CAST({arg} AS DOUBLE)")
                elif conv in "diuxX":
                    casted.append(f"CAST({arg} AS BIGINT)")
                else:
                    casted.append(arg)
            casted += a[1 + len(convs):]
            return f"format_string({a[0]}, {', '.join(casted)})"
        return f"format_string({', '.join(a)})"
    if key == "dayname":
        return f"date_format({a[0]}, 'EEEE')"
    if key == "monthname":
        return f"date_format({a[0]}, 'MMMM')"
    if key == "log" and len(a) == 1:
        # DuckDB single-arg log is base-10; Spark's is natural
        return f"log10({a[0]})"
    if key == "list_reverse_sort":
        if len(a) == 2 and re.fullmatch(
            r"(?is)'\s*NULLS\s+FIRST\s*'", a[1].strip()
        ):
            return f"reverse(array_sort({a[0]}))"
        return f"sort_array({a[0]}, false)"
    if key in ("list_sort", "array_sort") and len(a) >= 2 and re.fullmatch(
        r"(?is)'\s*(ASC|DESC)\s*'", a[1].strip()
    ):
        # DuckDB's list_sort(x, 'ASC'|'DESC'[, 'NULLS FIRST'|'NULLS
        # LAST']) — string-literal modifiers, default NULLS LAST both
        # directions (same as its ORDER BY default).  A non-literal
        # second argument falls through to Spark's comparator-lambda
        # array_sort.
        desc = "desc" in a[1].lower()
        nulls_first = len(a) == 3 and re.fullmatch(
            r"(?is)'\s*NULLS\s+FIRST\s*'", a[2].strip()
        )
        if desc:
            return (
                f"reverse(array_sort({a[0]}))" if nulls_first
                else f"sort_array({a[0]}, false)"
            )
        return (
            f"sort_array({a[0]})" if nulls_first
            else f"array_sort({a[0]})"
        )
    if key in ("list_unique", "array_unique"):
        # DuckDB counts distinct NON-NULL elements
        arg = a[0].lstrip()
        if arg.startswith("filter(") and "IS NOT NULL" in arg:
            return f"size(array_distinct({a[0]}))"
        return (
            f"size(array_distinct(filter({a[0]}, "
            f"__v -> __v IS NOT NULL)))"
        )
    # ------------------------------------------- round-5 breadth batch
    # DuckDB functions a switching user writes daily, surveyed against
    # duckdb_functions() (reference delegates its whole SQL surface to
    # DuckDB via ducklakexl.py:394, so every one of these is reachable
    # reference behavior).  Every emission is a fixed point of the
    # rewrite chain (idempotence property).
    if key in ("list_cat", "array_cat", "list_concat"):
        # DuckDB skips NULL list arguments (list_cat(NULL, [2]) = [2]);
        # NOT spelled concat() — that is the NULL-skipping STRING
        # template and would corrupt arrays on a chained rewrite
        return (
            f"flatten(filter(array({', '.join(a)}), "
            f"__l -> __l IS NOT NULL))"
        )
    if key in ("list_intersect", "array_intersect") and len(a) == 2:
        # DuckDB: set semantics, NULLs dropped even when shared (Spark
        # keeps a NULL present in both).  Output ORDER is engine-defined
        # on both sides (DuckDB iterates a hash set) — compare sorted.
        arg = a[0].lstrip()
        if arg.startswith("filter(") and "IS NOT NULL" in arg:
            return f"array_intersect({', '.join(a)})"
        return (
            f"array_intersect(filter({a[0]}, __v -> __v IS NOT NULL), "
            f"{a[1]})"
        )
    if key in ("list_distinct", "array_distinct"):
        # DuckDB drops NULLs (element order is engine-defined — compare
        # sorted).  Already-filtered args are this template's own
        # output: pass through so the rewrite stays idempotent.
        arg = a[0].lstrip()
        if arg.startswith("filter(") and "IS NOT NULL" in arg:
            return f"array_distinct({a[0]})"
        return f"array_distinct(filter({a[0]}, __v -> __v IS NOT NULL))"
    if key in ("list_grade_up", "array_grade_up"):
        # indexes that would sort the list ascending, NULLs last,
        # ties by position (verified against DuckDB [2,NULL,1]→[3,1,2])
        x = a[0]
        return (
            f"transform(array_sort(zip_with({x}, sequence(1, size({x})), "
            f"(__v, __i) -> struct(__v AS v, __i AS i)), "
            f"(l, r) -> CASE "
            f"WHEN l.v IS NULL AND r.v IS NULL THEN "
            f"(CASE WHEN l.i < r.i THEN -1 ELSE 1 END) "
            f"WHEN l.v IS NULL THEN 1 WHEN r.v IS NULL THEN -1 "
            f"WHEN l.v < r.v THEN -1 WHEN l.v > r.v THEN 1 "
            f"WHEN l.i < r.i THEN -1 ELSE 1 END), __s -> __s.i)"
        )
    if key in ("element_at", "map_extract") and len(a) == 2:
        # DuckDB element_at/map_extract are MAP-only and return the
        # match LIST-WRAPPED ([] on a miss); list positions use
        # list_extract/[i], which emit try_element_at
        return (
            f"map_values(map_filter({a[0]}, (__k, __v) -> __k = {a[1]}))"
        )
    if key == "aggregate" and len(a) == 2 and _literal_str(a[1]) is not None:
        # DuckDB's 2-arg list-fold alias; Spark's own 3-arg aggregate
        # passes through below
        return _duck_fn_emit("list_aggregate", a)
    if key in ("reduce", "array_reduce") and len(a) == 2:
        return _duck_fn_emit("list_reduce", a)
    # ---- date/time parts DuckDB spells as functions
    if key == "decade":
        return f"CAST(floor(year({a[0]}) / 10.0) AS BIGINT)"
    if key == "millennium":
        return f"CAST(ceil(year({a[0]}) / 1000.0) AS BIGINT)"
    if key == "era":
        return f"(CASE WHEN year({a[0]}) > 0 THEN 1 ELSE 0 END)"
    if key == "isoyear":
        return f"extract(YEAROFWEEK FROM {a[0]})"
    if key == "julian":
        # DuckDB julian(DATE '2024-01-01') = 2460311.0 (midnight maps
        # to .0, noon to .5): epoch days + 2440588
        return (
            f"(unix_micros(CAST({a[0]} AS TIMESTAMP)) / "
            f"CAST(86400000000 AS DOUBLE) + 2440588)"
        )
    if key == "yearweek":
        return (
            f"(extract(YEAROFWEEK FROM {a[0]}) * 100 + "
            f"weekofyear({a[0]}))"
        )
    if key in ("dayofweek", "weekday"):
        # DuckDB numbers Sunday=0; spelled as date arithmetic
        # (1970-01-04 was a Sunday) so the emission cannot re-match
        # this template or the extract→date_part rewrite
        return (
            f"pmod(datediff(CAST({a[0]} AS DATE), "
            f"DATE '1970-01-04'), 7)"
        )
    if key == "epoch_ns":
        return (
            f"(unix_micros(CAST({a[0]} AS TIMESTAMP)) * "
            f"CAST(1000 AS BIGINT))"
        )
    if key in ("timezone_hour", "timezone_minute"):
        # naive timestamps (and this engine's UTC session) have no
        # zone offset; NULL propagates
        return (
            f"(CASE WHEN CAST({a[0]} AS TIMESTAMP) IS NULL "
            f"THEN NULL ELSE 0 END)"
        )
    if key == "make_timestamp" and len(a) == 1:
        # 1-arg form takes epoch MICROseconds
        return f"timestamp_micros(CAST({a[0]} AS BIGINT))"
    if key in ("to_years", "to_months", "to_quarters", "to_decades",
               "to_centuries", "to_millennia"):
        months = {"to_months": 1, "to_quarters": 3, "to_years": 12,
                  "to_decades": 120, "to_centuries": 1200,
                  "to_millennia": 12000}[key]
        return f"(CAST({a[0]} AS INT) * INTERVAL '{months}' MONTH)"
    if key == "to_weeks":
        return f"(CAST({a[0]} AS BIGINT) * INTERVAL '7' DAY)"
    if key == "to_milliseconds":
        return f"(CAST({a[0]} AS BIGINT) * INTERVAL '0.001' SECOND)"
    if key == "to_microseconds":
        return f"(CAST({a[0]} AS BIGINT) * INTERVAL '0.000001' SECOND)"
    # ---- string family
    if key in ("like_escape", "not_like_escape", "ilike_escape",
               "not_ilike_escape"):
        op = "ILIKE" if "ilike" in key else "LIKE"
        neg = "NOT " if key.startswith("not_") else ""
        return f"({a[0]} {neg}{op} {a[1]} ESCAPE {a[2]})"
    if key == "formatreadabledecimalsize":
        # decimal (SI) tiers, truncated to one decimal, lowercase kB —
        # mirrors the binary-tier format_bytes arm above
        x = a[0]
        arms = " ".join(
            f"WHEN {x} >= {int(f)}D THEN "
            f"format_string('%.1f {u}', floor({x} / {int(f)}D * 10) / 10)"
            for f, u in [
                (1000.0 ** 5, "PB"), (1000.0 ** 4, "TB"),
                (1000.0 ** 3, "GB"), (1000.0 ** 2, "MB"), (1000.0, "kB"),
            ]
        )
        return (
            f"(CASE {arms} ELSE format_string('%d bytes', "
            f"CAST({x} AS BIGINT)) END)"
        )
    if key == "bar":
        # ASCII-art bar: full blocks + one eighth-block partial, then
        # space-padded to ``width`` BYTES (block chars are 3 UTF-8
        # bytes — verified against DuckDB: bar(3,0,10,10) = '███ ')
        x, lo, hi = a[0], a[1], a[2]
        w = a[3] if len(a) == 4 else "80"
        t = (
            f"(least(greatest((CAST({x} AS DOUBLE) - {lo}) / "
            f"({hi} - {lo}), 0D), 1D) * {w})"
        )
        full = f"CAST(floor({t}) AS INT)"
        e8 = f"CAST(floor(({t} - floor({t})) * 8) AS INT)"
        return (
            f"concat_ws('', repeat('█', {full}), "
            f"if({e8} < 1, '', substring('▏▎▍▌▋▊▉', {e8}, 1)), "
            f"repeat(' ', greatest(CAST({w} AS INT) - "
            f"3 * ({full} + if({e8} < 1, 0, 1)), 0)))"
        )
    if key == "parse_path":
        if len(a) == 2:
            sep = (_literal_str(a[1]) or "").lower()
            if sep not in ("forward", "both"):
                raise ValueError(
                    "parse_path: only 'forward'/'both' separators are "
                    "supported"
                )
        comps = f"filter(split({a[0]}, '/'), __p -> __p != '')"
        return (
            f"if(startswith({a[0]}, '/'), "
            f"array_insert({comps}, 1, '/'), {comps})"
        )
    if key == "parse_dirname":
        # FIRST path component when the path has a directory part
        # (DuckDB: '/a/b/c.txt' → '/', 'a/b/c.txt' → 'a', 'c.txt' → '')
        pp = _duck_fn_emit("parse_path", [a[0]])
        return f"if(size({pp}) >= 2, try_element_at({pp}, 1), '')"
    if key == "parse_dirpath":
        return (
            f"(CASE WHEN contains({a[0]}, '/') THEN "
            f"regexp_replace({a[0]}, '/[^/]*$', '', 1) ELSE '' END)"
        )
    if key == "constant_or_null":
        conds = " OR ".join(f"({x}) IS NULL" for x in a[1:])
        return f"(CASE WHEN {conds} THEN NULL ELSE {a[0]} END)"
    if key == "current_schema":
        return "'main'"
    # ---- json family
    if key in ("json_extract", "json_extract_path") and len(a) >= 2:
        # returns JSON text (strings stay quoted — get_json_object
        # would strip them): variant round-trip keeps the encoding
        path = _json_path_arg(a[1:])
        if path is not None:
            return (
                f"to_json(try_variant_get(try_parse_json({a[0]}), "
                f"{path}))"
            )
        if len(a) == 2:
            return f"get_json_object({a[0]}, {a[1]})"
        raise ValueError("json_extract_path: path must be literal")
    if key in ("json_extract_string", "json_extract_path_text") and (
        len(a) >= 2
    ):
        path = _json_path_arg(a[1:])
        if path is not None:
            return f"get_json_object({a[0]}, {path})"
        return f"get_json_object({', '.join(a)})"
    if key == "json_array":
        if not a:
            return "'[]'"
        parts = ", ".join(_jsonify_expr(x, "'null'") for x in a)
        return f"concat_ws('', '[', concat_ws(',', {parts}), ']')"
    if key == "json_object":
        if len(a) % 2:
            raise ValueError("json_object: even argument count required")
        if not a:
            return "'{}'"
        pairs = ", ".join(
            f"concat_ws(':', {_jsonify_expr(a[i], 'NULL')}, "
            f"{_jsonify_expr(a[i + 1], chr(39) + 'null' + chr(39))})"
            for i in range(0, len(a), 2)
        )
        return (
            "concat_ws('', '{', concat_ws(',', " + pairs + "), '}')"
        )
    if key == "json_quote":
        return _jsonify_expr(a[0], "NULL")
    if key == "json_type":
        j = _duck_fn_emit("json_extract", a) if len(a) == 2 else a[0]
        v = f"ltrim({j})"
        q = chr(34)
        return (
            f"(CASE WHEN {v} IS NULL THEN NULL "
            f"WHEN startswith({v}, '{{') THEN 'OBJECT' "
            f"WHEN startswith({v}, '[') THEN 'ARRAY' "
            f"WHEN startswith({v}, '{q}') THEN 'VARCHAR' "
            f"WHEN {v} IN ('true', 'false') THEN 'BOOLEAN' "
            f"WHEN {v} = 'null' THEN 'NULL' "
            f"WHEN contains({v}, '.') OR contains({v}, 'e') OR "
            f"contains({v}, 'E') THEN 'DOUBLE' "
            f"WHEN startswith({v}, '-') THEN 'BIGINT' "
            f"ELSE 'UBIGINT' END)"
        )
    if key in ("from_json", "from_json_strict") and len(a) == 2:
        lit = _literal_str(a[1])
        if lit is not None:
            try:
                structure = json.loads(lit)
            except ValueError:
                structure = None
            if structure is not None:
                ddl = _duck_json_structure_to_ddl(structure)
                return f"from_json({a[0]}, {_sql_str(ddl)})"
        return f"from_json({', '.join(a)})"
    if key == "mode" and len(a) == 1:
        # Spark's deterministic mode breaks count ties toward the
        # LOWEST value; DuckDB's tie-break is first-seen scan order
        # (officially unspecified) — deterministic-min is the stable
        # choice.  The 2-arg emission cannot re-match this 1-arg guard.
        return f"mode({a[0]}, true)"
    if key in ("fsum", "sumkahan", "kahan_sum"):
        # Kahan-compensated float sum: DuckDB returns DOUBLE even for
        # integer inputs
        return f"sum(CAST({a[0]} AS DOUBLE))"
    if key == "favg":
        return f"avg(CAST({a[0]} AS DOUBLE))"
    if key == "struct_insert":
        kv: list[tuple[str, str]] = []
        for arg in a[1:]:
            k, _, v = arg.partition(":=")
            if not v:
                raise ValueError(
                    f"struct_insert: expected k := v, got {arg!r}"
                )
            kv.append((k.strip(), v.strip()))
        base = a[0].strip()
        nm = re.match(r"^named_struct\s*\(", base, re.I)
        if nm and matching_paren(base, nm.end() - 1) == len(base) - 1:
            # struct literal: splice the new fields into the same
            # named_struct (Spark can't expand `(expr).*`)
            inner = base[nm.end() : -1].strip()
            news = ", ".join(f"'{k}', {v}" for k, v in kv)
            return f"named_struct({inner}, {news})"
        if re.fullmatch(r"\w+(?:\.\w+)*", base):
            # column reference: `ref.*` expands the existing fields
            news = ", ".join(f"{v} AS {k}" for k, v in kv)
            return f"struct({base}.*, {news})"
        raise ValueError(
            "struct_insert: base must be a struct literal or a column "
            "reference"
        )
    if key == "regexp_matches" and len(a) == 3:
        # options string (RE2 flags): i case-insensitive, s dot-matches-
        # newline, m/n/p newline-sensitive anchors, l literal, c/g no-op
        opts = _literal_str(a[2])
        if opts is None:
            raise ValueError("regexp_matches: options must be a literal")
        if any(ch not in "ismnplcg" for ch in opts):
            raise ValueError(f"regexp_matches: unknown options {opts!r}")
        pat = a[1]
        if "l" in opts:
            pat = f"concat('\\Q', {pat}, '\\E')"
        flags = "".join(
            sorted({{"i": "i", "s": "s", "m": "m", "n": "m",
                     "p": "m"}[ch] for ch in opts if ch in "ismnp"})
        )
        if flags:
            pat = f"concat('(?{flags})', {pat})"
        return f"regexp_like({a[0]}, {pat})"
    if key == "isfinite":
        x = f"CAST({a[0]} AS DOUBLE)"
        return (
            f"(CASE WHEN {x} IS NULL THEN NULL ELSE "
            f"NOT (isnan({x}) OR abs({x}) = CAST('Infinity' AS DOUBLE)) "
            f"END)"
        )
    if key == "isinf":
        return f"(abs(CAST({a[0]} AS DOUBLE)) = CAST('Infinity' AS DOUBLE))"
    if key == "fdiv":
        # floor division, NULL on zero divisor (like every DuckDB
        # division); DOUBLE result
        return (
            f"CAST(floor(try_divide(CAST({a[0]} AS DOUBLE), {a[1]})) "
            f"AS DOUBLE)"
        )
    if key == "fmod":
        # floor-mod (sign of the divisor): fmod(-7.5, 2) = 0.5 in
        # DuckDB, verified — NOT C fmod
        x, y = f"CAST({a[0]} AS DOUBLE)", f"({a[1]})"
        return f"({x} - floor(try_divide({x}, {y})) * {y})"
    if key == "generate_subscripts":
        if len(a) > 1 and a[1].strip() not in ("1", "1L"):
            raise ValueError(
                "generate_subscripts: only dimension 1 is supported"
            )
        return f"explode(sequence(1, size({a[0]})))"
    if key in ("left", "right") and len(a) == 2:
        # DuckDB's negative count drops |n| characters from the other
        # end (left('hello', -1) = 'hell'); Spark returns ''.  Emitted
        # as substring with a greatest() start so the 3-arg substring
        # template's idempotence guard passes it through untouched.
        s, n = a[0], f"CAST({a[1]} AS INT)"
        ln = (
            f"(CASE WHEN {n} >= 0 THEN {n} "
            f"ELSE greatest(length({s}) + {n}, 0) END)"
        )
        if key == "left":
            return f"substring({s}, greatest(1, 1), {ln})"
        pos = (
            f"greatest(CASE WHEN {n} >= 0 THEN length({s}) - {n} + 1 "
            f"ELSE 1 - {n} END, 1)"
        )
        return f"substring({s}, {pos}, {ln})"
    if key in ("substring", "substr") and len(a) == 3:
        # DuckDB's zero/negative start consumes count before the string
        # begins: substring('hello', 0, 3) = 'he' (positions 0..2
        # clipped to 1..2); negatives resolve from the end FIRST, then
        # clip.  Spark treats 0 as 1 without shortening.  The inner
        # substring call keeps a greatest() start — the guard below
        # keeps the rewrite idempotent.
        if a[1].lstrip().startswith("greatest("):
            return f"{key}({', '.join(a)})"
        s, st, ln = a[0], f"CAST({a[1]} AS INT)", f"CAST({a[2]} AS INT)"
        pos = (
            f"(CASE WHEN {st} >= 0 THEN {st} "
            f"ELSE length({s}) + {st} + 1 END)"
        )
        eff = f"greatest({pos}, 1)"
        return (
            f"substring({s}, {eff}, "
            f"greatest({ln} - ({eff} - {pos}), 0))"
        )
    if key == "any_value" and re.search(
        r"\bORDER\s+BY\b", ", ".join(a), re.I
    ):
        # any_value(x ORDER BY k…): first NON-NULL in order (unlike
        # ordered first(), which keeps NULLs) — same collect-sort-pick
        # shape as first/last with a null filter before the pick.  The
        # ORDER BY is searched in the REJOINED text (a multi-key order
        # was comma-split across args).
        joined = ", ".join(a)
        m = re.search(r"\bORDER\s+BY\b", joined, re.I)
        val = joined[: m.start()].strip().rstrip(",").strip()
        keys = split_top_level(joined[m.end():])
        arr = _ordered_collect(val, keys)
        return f"try_element_at(filter({arr}, __v -> __v IS NOT NULL), 1)"
    # template keys whose guard didn't match (e.g. Spark-style arg
    # counts) pass through under their own name
    name = _DUCK_FN_RENAME.get(key, key)
    return f"{name}({', '.join(a)})"


_DUCK_FN_TEMPLATES = {
    "string_split", "str_split", "string_to_array", "string_split_regex",
    "str_split_regex", "regexp_split_to_array", "strftime", "strptime",
    "list_slice", "array_slice", "list_prepend", "struct_pack",
    "date_diff", "isodow", "dayname", "monthname", "log", "epoch",
    "list_unique", "list_reverse_sort", "xor", "range", "generate_series", "list_sum", "split_part", "array_sort",
    "list_avg", "encode", "decode", "regexp_extract",
    "regexp_extract_all", "regexp_replace", "string_agg",
    "group_concat", "listagg", "list", "array_agg",
    "sha256", "to_base", "trunc", "age", "even", "signbit", "list_reduce",
    "struct_extract", "list_any_value", "product", "prod", "entropy",
    "quantile_disc", "mad", "first", "last",
    "format_bytes", "formatreadablesize", "to_seconds", "to_minutes",
    "to_hours", "to_days", "datesub", "time_bucket", "century",
    "histogram", "sum", "avg", "min", "max", "count",
    "date_part", "datepart", "typeof", "setseed", "printf",
    "trim", "ltrim", "rtrim", "hash", "strip_accents", "sign", "cbrt",
    "bit_count", "microsecond", "millisecond",
    "isinf", "gcd", "lcm", "greatest_common_divisor",
    "least_common_multiple", "list_select", "list_where", "list_resize",
    "regexp_full_match", "datediff", "date_trunc",
    "format", "len", "try_strptime", "list_has_all", "list_aggregate",
    "list_aggr", "json_group_array", "timezone", "date_add",
    "json_valid", "map", "skewness", "kurtosis", "geomean",
    "concat", "regexp_escape", "parse_filename", "nfc_normalize",
    "list_dot_product", "list_inner_product", "array_inner_product",
    "list_cosine_similarity", "array_cosine_similarity",
    "list_cosine_distance", "array_cosine_distance",
    "list_distance", "array_distance",
    # round-5 breadth batch
    "list_intersect", "array_intersect",
    "list_cat", "array_cat", "list_concat", "list_distinct",
    "array_distinct", "array_unique", "list_grade_up", "array_grade_up",
    "element_at", "map_extract", "aggregate", "reduce", "array_reduce",
    "array_aggregate", "array_aggr", "decade", "millennium", "era",
    "isoyear", "julian", "yearweek", "dayofweek", "weekday", "epoch_ns",
    "timezone_hour", "timezone_minute", "make_timestamp", "to_years",
    "to_months", "to_quarters", "to_decades", "to_centuries",
    "to_millennia", "to_weeks", "to_milliseconds", "to_microseconds",
    "like_escape", "not_like_escape", "ilike_escape", "not_ilike_escape",
    "formatreadabledecimalsize", "bar", "parse_path", "parse_dirname",
    "parse_dirpath", "constant_or_null", "current_schema",
    "json_extract", "json_extract_path", "json_extract_string",
    "json_extract_path_text", "json_array", "json_object", "json_quote",
    "json_type", "from_json", "from_json_strict", "date_sub",
    "mode", "fsum", "sumkahan", "kahan_sum", "favg", "count",
    "struct_insert", "regexp_matches",
    "signbit", "isfinite", "isinf", "fdiv", "fmod",
    "generate_subscripts", "left", "right", "substring", "substr",
    "any_value", "age",
    "list_contains", "list_has", "array_has", "array_contains", "abs",
}

# DuckDB type names (in CAST position etc.) Spark spells differently.
# Only bare names translate; parameterized forms (VARCHAR(10)) are valid
# Spark already.  'text' is NOT aliased — it is a common column name.
_DUCK_TYPE_ALIASES = {
    "varchar": "STRING",
    "bpchar": "STRING",
    "hugeint": "DECIMAL(38,0)",
    "ubigint": "DECIMAL(20,0)",
    "uinteger": "BIGINT",
    "usmallint": "INT",
    "utinyint": "SMALLINT",
    "int1": "TINYINT",
    "int2": "SMALLINT",
    "int4": "INT",
    "int8": "BIGINT",
    "signed": "INT",
    "float4": "FLOAT",
    "float8": "DOUBLE",
    "logical": "BOOLEAN",
    "blob": "BINARY",
    "bytea": "BINARY",
    "json": "STRING",  # Spark has no JSON type; json fns take strings
}
_DUCK_FNS = set(_DUCK_FN_RENAME) | _DUCK_FN_TEMPLATES


_SQL_KEYWORDS = frozenset(
    """select from where group having order limit offset join on using as and
    or not in is null true false case when then else end union all except
    intersect distinct values returning set insert update delete into with
    recursive over partition window rows range between unbounded preceding
    following current row like ilike rlike exists any some cast try_cast
    interval lateral left right full inner outer cross semi anti natural asc
    desc nulls first last filter within qualify sample tablesample pivot
    unpivot by if then""".split()
)


_COLON_RE = re.compile(":")
_CONCAT_RE = re.compile(r"\|\|")


def _col_in_set(
    qual: str | None,
    name: str,
    cols: frozenset[str] | None,
    quals: frozenset[str] | None,
) -> bool:
    """Scope-aware membership for text-layer column-type resolution:
    ``cols`` carries bare names (only where unambiguous across the
    statement's referenced tables) plus ``alias.col`` qualified
    entries; ``quals`` is the set of alias/table names the statement
    scanner bound.  A qualified reference whose qualifier IS a known
    alias resolves strictly through its own table's entries — no
    bare-name fallback (VERDICT r6 task 5); an unknown qualifier
    (subquery alias, struct path) keeps the bare-name fallback."""
    if not cols:
        return False
    name = name.lower()
    if qual:
        q = qual.lower()
        if f"{q}.{name}" in cols:
            return True
        if quals and q in quals:
            return False
    return name in cols


def _expr_is_stringy(
    expr: str,
    str_cols: frozenset[str] | None,
    quals: frozenset[str] | None = None,
) -> bool:
    """True when a subscript operand is VARCHAR-typed by resolution:
    a bare/qualified column in ``str_cols``, or a top-level ``||``
    concat with a string-literal (or string-column) operand."""
    e = expr.strip()
    while e.startswith("(") and matching_paren(e, 0) == len(e) - 1:
        e = e[1:-1].strip()
    parts = _split_at(e, _CONCAT_RE)
    if len(parts) > 1:
        for p in parts:
            p = p.strip()
            if re.fullmatch(r"'(?:[^']|'')*'", p):
                return True
            if str_cols and _expr_is_stringy(p, str_cols, quals):
                return True
        return False
    if str_cols:
        m = re.fullmatch(r'(?:(?:\w+\.)*(\w+)\.)?(\w+|"[^"]+")', e)
        if m and _col_in_set(
            m.group(1), m.group(2).strip('"'), str_cols, quals
        ):
            return True
    return False


def _slice_emission(expr: str, lo: str, hi: str, is_str: bool) -> str:
    """DuckDB slice semantics (uniform strings/lists, verified
    exhaustively against DuckDB 1.0): 1-based INCLUSIVE bounds;
    ``lo`` empty/0 → 1, negative → n+lo+1 clamped to ≥ 1; ``hi``
    empty → n, negative → n+hi+1, positive → min(hi, n); empty result
    when lo' > hi'."""
    size = f"length({expr})" if is_str else f"size({expr})"
    if not lo:
        L = "1"
    elif re.fullmatch(r"\d+", lo):
        L = str(max(int(lo), 1))
    else:
        L = (
            f"greatest(CASE WHEN ({lo}) < 0 THEN {size} + ({lo}) + 1 "
            f"ELSE ({lo}) END, 1)"
        )
    if not hi:
        H = size
    elif re.fullmatch(r"\d+", hi):
        H = f"least({hi}, {size})"
    else:
        H = (
            f"CASE WHEN ({hi}) < 0 THEN {size} + ({hi}) + 1 "
            f"ELSE least(({hi}), {size}) END"
        )
    fn = "substr" if is_str else "slice"
    core = f"{fn}({expr}, {L}, greatest(({H}) - ({L}) + 1, 0))"
    # a NULL bound yields NULL in DuckDB; Spark's greatest() SKIPS
    # nulls, so non-literal bounds need an explicit propagation guard
    guards = [
        b for b in (lo, hi) if b and not re.fullmatch(r"-?\d+", b)
    ]
    if guards:
        cond = " OR ".join(f"({g}) IS NULL" for g in guards)
        return f"(CASE WHEN {cond} THEN NULL ELSE {core} END)"
    return core


def rewrite_bracket_syntax(
    stmt: str,
    map_cols: frozenset[str] | None = None,
    str_cols: frozenset[str] | None = None,
    quals: frozenset[str] | None = None,
) -> str:
    """DuckDB bracket syntax → Spark SQL:

    - ``[e1, e2, …]`` list literal → ``array(e1, e2, …)``
    - ``expr[i]`` (1-based, like DuckDB) → ``try_element_at(expr, i)``
      (index 0 → NULL via a nullif guard; strings go through substr
      with DuckDB's 0 → '' rule)
    - ``expr[a:b]`` (1-based inclusive, open/0/negative/out-of-range
      bounds per DuckDB — see _slice_emission)
    - ``{'k': v, …}`` struct literal → ``named_struct('k', v, …)``

    A bracket is INDEXING when the previous significant token is an
    identifier / ``)`` / ``]`` / string literal (chained through ``.``),
    and a LITERAL otherwise (after keywords, operators, commas, or at
    expression start).  Quote/comment-aware; recursive.

    ``map_cols`` / ``str_cols`` carry the MAP- and VARCHAR-typed column
    names of every table the statement references (resolved by the
    engine from the catalog before this text pass): a subscript whose
    operand resolves MAP takes DuckDB's list-wrapped map semantics,
    one that resolves VARCHAR subscripts CHARACTERS.  ``quals`` is
    the set of alias/table names the engine's FROM/JOIN scan bound —
    a qualified operand whose qualifier is a known alias resolves
    strictly through that table's own entries (scope-correct), with
    the bare-name union as fallback only for unknown qualifiers."""
    if "[" not in stmt and "{" not in stmt:
        return stmt
    out: list[str] = []
    mark: int | None = None  # out-index where the current primary expr begins
    prev = ""  # last significant char class: 'w' word, '.', ')', "'", etc.
    i, n = 0, len(stmt)
    while i < n:
        ch = stmt[i]
        j = _span_end(stmt, i)
        if j >= 0:  # literal, quoted identifier or comment: copied whole
            if ch == "'":  # a literal is a primary
                mark, prev = len(out), "'"
            elif ch == '"':  # a quoted identifier is a word
                if prev != ".":
                    mark = len(out)
                prev = "w"
            out.append(stmt[i : j + 1])
            i = j + 1
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (stmt[j].isalnum() or stmt[j] == "_"):
                j += 1
            word = stmt[i:j]
            k2 = j
            while k2 < n and stmt[k2].isspace():
                k2 += 1
            if word.lower() in _SQL_KEYWORDS and not (
                k2 < n and stmt[k2] == "(" and word.lower() in _DUCK_FNS
            ):
                # keyword — except keyword-NAMED functions being called
                # (range(1,5)[2], left(s,2)[1]: RANGE/LEFT are window
                # frame / join keywords but here they're the primary)
                mark = None
                prev = "k"
            else:
                if prev != ".":
                    mark = len(out)
                prev = "w"
            out.append(word)
            i = j
            continue
        if ch == "(":
            close = matching_paren(stmt, i)
            inner = rewrite_bracket_syntax(
                stmt[i + 1 : close], map_cols, str_cols, quals
            )
            if prev not in ("w",):  # not a function call → new primary
                mark = len(out)
            out.append("(" + inner + ")")
            prev = ")"
            i = close + 1
            continue
        if ch == "[":
            close = matching_paren(stmt, i)
            inner = rewrite_bracket_syntax(
                stmt[i + 1 : close], map_cols, str_cols, quals
            ).strip()
            indexing = prev in ("w", ")", "]", "'") and mark is not None
            if indexing and not inner:
                # DDL array-type suffix (INT[]) — leave untouched
                out.append("[]")
                prev = "]"
            elif indexing:
                expr = "".join(out[mark:])
                del out[mark:]
                cpos = _top_level_find(inner, _COLON_RE)
                # a string-literal primary subscripts CHARACTERS (DuckDB
                # 'abc'[2] / 'abcdef'[2:4]) — element_at/slice are
                # array-only in Spark, so literals go through substr
                is_str = (
                    re.fullmatch(r"\(*\s*'(?:[^']|'')*'\s*\)*", expr)
                    is not None
                    # calls of unambiguously string-valued functions
                    # subscript CHARACTERS too (left('abcdef', 3)[2]);
                    # column/complex operands still default to array
                    # indexing (type unknowable from text)
                    or re.match(
                        r"(?is)^\(*\s*(left|right|upper|lower|trim|"
                        r"ltrim|rtrim|substr|substring|repeat|replace|"
                        r"initcap|lcase|ucase)\s*\(",
                        expr,
                    )
                    is not None
                    or _expr_is_stringy(expr, str_cols, quals)
                )
                if cpos >= 0:
                    lo = inner[:cpos].strip()
                    hi = inner[cpos + 1 :].strip()
                    new = _slice_emission(expr, lo, hi, is_str)
                elif is_str:
                    # DuckDB 'abcdef'[0] is '' (not the first char);
                    # negative indexes count from the end — substr
                    # agrees on those
                    if re.fullmatch(r"\d+", inner):
                        new = (
                            "''" if inner == "0"
                            else f"substr({expr}, {inner}, 1)"
                        )
                    else:
                        new = (
                            f"CASE WHEN ({inner}) = 0 THEN '' "
                            f"ELSE substr({expr}, {inner}, 1) END"
                        )
                elif re.match(
                    r"(?is)^\s*map(_from_entries|_concat)?\s*\(", expr
                ) or (
                    map_cols
                    and (
                        _ident_m := re.search(
                            r'(?:(\w+)\s*\.\s*)?'
                            r'([A-Za-z_]\w*|"[^"]+")\s*$', expr
                        )
                    )
                    and _col_in_set(
                        _ident_m.group(1),
                        _ident_m.group(2).strip('"'),
                        map_cols,
                        quals,
                    )
                ):
                    # DuckDB map[k] returns the match LIST-WRAPPED
                    # ([] on a miss) — same emission as the
                    # element_at/map_extract function forms.  A
                    # syntactic map(...) operand is recognizable at the
                    # text layer; a map-typed COLUMN operand resolves
                    # through ``map_cols`` (the engine passes the MAP
                    # column names of every referenced table).
                    new = (
                        f"map_values(map_filter({expr}, "
                        f"(__k, __v) -> __k = {inner}))"
                    )
                else:
                    # try_element_at: DuckDB list[i] is NULL out of
                    # bounds, and the emission must not re-match the
                    # element_at (map-extract) dialect template.
                    # Index 0: DuckDB yields NULL; Spark's
                    # try_element_at RAISES on 0 — nullif routes it to
                    # a NULL index (→ NULL result)
                    if re.fullmatch(r"\d+", inner) and inner != "0":
                        new = f"try_element_at({expr}, {inner})"
                    else:
                        new = (
                            f"try_element_at({expr}, "
                            f"nullif(({inner}), 0))"
                        )
                mark = len(out)
                out.append(new)
                prev = ")"
            else:
                args = split_top_level(inner)
                mark = len(out)
                out.append(f"array({', '.join(args)})")
                prev = ")"
            i = close + 1
            continue
        if ch == "{":
            close = matching_paren(stmt, i)
            inner = rewrite_bracket_syntax(
                stmt[i + 1 : close], map_cols, str_cols, quals
            )
            pairs = split_top_level(inner)
            # MAP {'k': v, …} → map('k', v, …); bare {…} → named_struct
            as_map = (
                prev == "w"
                and mark is not None
                and "".join(out[mark:]).strip().upper() == "MAP"
            )
            fields: list[str] = []
            ok = bool(pairs)
            for p in pairs:
                cpos = _top_level_find(p, _COLON_RE)
                if cpos < 0:
                    ok = False
                    break
                key = p[:cpos].strip()
                val = p[cpos + 1 :].strip()
                if as_map:
                    fields.append(f"{key}, {val}")
                    continue
                kl = _literal_str(key)
                key = kl if kl is not None else key.strip('"')
                fields.append(f"{_sql_str(key)}, {val}")
            if ok and as_map:
                del out[mark:]
                mark = len(out)
                out.append(f"map({', '.join(fields)})")
                prev = ")"
            elif ok:
                mark = len(out)
                out.append(f"named_struct({', '.join(fields)})")
                prev = ")"
            else:
                out.append("{" + inner + "}")
                prev = "}"
            i = close + 1
            continue
        if ch.isspace():
            out.append(ch)
            i += 1
            continue
        if ch == ".":
            out.append(ch)
            prev = "."
            i += 1
            continue
        out.append(ch)
        mark = None
        prev = ch
        i += 1
    return "".join(out)


_FACTORIAL_RE = re.compile(r"\b(\d+)\s*!(?![=~])")


_QUANT_OP_RE = re.compile(
    r"(=|<>|!=|<=|>=|<|>)\s*(ANY|SOME|ALL)\s*\(", re.I
)


def rewrite_quantified_and_factorial(stmt: str) -> str:
    """Quantified comparisons Spark lacks.  Subquery operands go to
    their IN equivalents: ``x = ANY (sub)`` → ``x IN (sub)``,
    ``x <> ALL (sub)`` → ``x NOT IN (sub)`` (other operators with a
    SUBQUERY raise).  LIST operands (DuckDB also quantifies over
    lists: ``3 = ANY([1,2,3])``) rewrite to array HOFs —
    ``exists(arr, __e -> x OP __e)`` for ANY/SOME, ``forall`` for ALL
    — any comparison operator.  Also the postfix factorial on integer
    literals (``5!`` → ``factorial(5)``; ``!=``/``!~`` guarded).
    Quote-parity-aware."""
    def sub_guarded(rx, repl, s):
        return rx.sub(
            lambda m: m.group(0)
            if _inside_string_literal(s, m.start())
            else repl(m),
            s,
        )

    while True:
        hit = None
        for m in _QUANT_OP_RE.finditer(stmt):
            if not _inside_string_literal(stmt, m.start()):
                hit = m
                break
        if hit is None:
            break
        op, quant = hit.group(1), hit.group(2).upper()
        open_p = hit.end() - 1
        close = matching_paren(stmt, open_p)
        inner = stmt[open_p + 1 : close].strip()
        if re.match(r"(?is)^(SELECT|WITH|FROM)\b", inner):
            if quant in ("ANY", "SOME") and op == "=":
                stmt = stmt[: hit.start()] + "IN (" + stmt[open_p + 1 :]
            elif quant == "ALL" and op in ("<>", "!="):
                stmt = (
                    stmt[: hit.start()] + "NOT IN (" + stmt[open_p + 1 :]
                )
            else:
                raise ValueError(
                    "only = ANY and <> ALL subquery comparisons are "
                    "supported"
                )
            continue
        # list operand: element-wise HOF over the array expression
        lhs_start = _lhs_boundary(stmt, hit.start())
        lhs = stmt[lhs_start : hit.start()].strip()
        if not lhs:
            raise ValueError(
                f"quantified comparison without a left operand: "
                f"{stmt[hit.start():close + 1][:60]!r}"
            )
        fn = "exists" if quant in ("ANY", "SOME") else "forall"
        # leading space: lhs_start can sit flush against a keyword
        # (SELECT/WHERE) — bare concatenation would fuse identifiers
        emission = f" {fn}(({inner}), __e -> ({lhs}) {op} __e)"
        stmt = stmt[:lhs_start] + emission + stmt[close + 1 :]
    return sub_guarded(
        _FACTORIAL_RE, lambda m: f"factorial({m.group(1)})", stmt
    )


_ARRAY_TYPE_SUFFIX_RE = re.compile(
    r"(::\s*|\bAS\s+)(\w+(?:\([^()]*\))?(?:\s*<[^<>]*>)?)\s*\[\s*\]", re.I
)
_GLOB_OP_RE = re.compile(
    r"\b(NOT\s+)?GLOB\s+('(?:[^']|'')*')", re.I
)


def rewrite_array_type_suffix(stmt: str) -> str:
    """DuckDB's ``TYPE[]`` array-type suffix (in ``::`` casts and ``CAST
    (… AS TYPE[])``) → Spark's ``ARRAY<TYPE>``.  Runs BEFORE the bracket
    rewrite, which would otherwise read ``[]`` as an array literal.
    Loops for nested suffixes (``INT[][]``).  String literals pass
    through verbatim (an ``x::INT[]`` spelled inside a quoted string is
    data, not a cast)."""
    while True:
        cur = stmt
        new = _ARRAY_TYPE_SUFFIX_RE.sub(
            lambda m: m.group(0)
            if _inside_string_literal(cur, m.start())
            else f"{m.group(1)}ARRAY<{m.group(2)}>",
            cur,
        )
        if new == stmt:
            return stmt
        stmt = new


_NULL_COND_CASE_RE = re.compile(r"\b(CASE|WHEN|END)\b", re.I)
_WHEN_NULL_THEN_RE = re.compile(r"WHEN(\s+)NULL(\s+)THEN", re.I)
_WHERE_NULL_RE = re.compile(
    r"\b(WHERE|HAVING)(\s+)NULL"
    r"(?=\s*(?:$|\)|;|ORDER\b|GROUP\b|LIMIT\b|OFFSET\b|UNION\b|"
    r"INTERSECT\b|EXCEPT\b|WINDOW\b|QUALIFY\b))",
    re.I,
)


_EXTRACT_CALL_RE = re.compile(r"\bextract\s*\(", re.I)
# every field DuckDB's extract/date_part accepts; unknown words (e.g. a
# UDF named extract) pass through untouched
_EXTRACT_PARTS = {
    "year", "month", "day", "decade", "century", "millennium", "quarter",
    "dow", "isodow", "doy", "week", "isoyear", "era", "epoch", "second",
    "seconds", "minute", "minutes", "hour", "hours", "millisecond",
    "milliseconds", "microsecond", "microseconds",
    "yearweek", "weekday", "dayofweek",
    "dayofmonth", "dayofyear", "weekofyear", "julian", "years", "months",
    "days",
}


def rewrite_extract_to_date_part(stmt: str) -> str:
    """DuckDB treats ``EXTRACT(part FROM x)`` as sugar for
    ``date_part('part', x)`` — route it through the same emission so
    every field-specific translation (dow numbering, epoch typing,
    second truncation, micro/millisecond support) applies to both
    spellings.  Spark's native extract diverges on exactly those
    fields (e.g. SECOND returns DECIMAL(8,6), DuckDB BIGINT)."""
    search_from = 0
    while True:
        m = _EXTRACT_CALL_RE.search(stmt, search_from)
        if not m:
            return stmt
        if _inside_string_literal(stmt, m.start()):
            search_from = m.end()
            continue
        close = matching_paren(stmt, m.end() - 1)
        inner = stmt[m.end() : close]
        fi = find_top_level_keyword(inner, "FROM")
        if fi < 0:
            search_from = m.end()
            continue
        part = inner[:fi].strip().strip("'\"").lower()
        if part not in _EXTRACT_PARTS:
            search_from = m.end()
            continue
        expr = inner[fi + 4 :].strip()
        repl = f"date_part('{part}', {expr})"
        stmt = stmt[: m.start()] + repl + stmt[close + 1 :]
        search_from = m.start()


_FROM_UNNEST_SCAN_RE = re.compile(
    r"\b(SELECT|FROM|WHERE|GROUP|HAVING|ORDER|LIMIT|OFFSET|QUALIFY|"
    r"WINDOW|ON|USING|JOIN|LATERAL|UNNEST)\b|[(),]",
    re.I,
)


_CLAUSE_KW_RE = re.compile(
    r"(?<!\w)(?:SELECT|FROM|WHERE|GROUP|HAVING|ORDER|LIMIT|OFFSET|QUALIFY"
    r"|WINDOW)(?!\w)",
    re.I,
)
_SUBQUERY_HEAD_RE = re.compile(r"\s*(SELECT|FROM|WITH|VALUES)\b", re.I)


def _scope_clause(stmt: str, pos: int) -> tuple[str | None, int]:
    """(the last clause keyword before ``pos`` in its innermost bracket
    scope or None, that scope's opening bracket or -1)."""
    enc = _literal_spans(stmt).enclosing(pos)
    clause = None
    for m in _top_level_matches(stmt, _CLAUSE_KW_RE, enc + 1):
        if m.start() >= pos:
            break
        clause = m.group(0).upper()
    return clause, enc


def _sql_clause_at(stmt: str, pos: int) -> str | None:
    """The active clause (SELECT/FROM/WHERE/…) at ``pos`` — used to tell
    a FROM-list comma from a select-list comma before rewriting
    table-position constructs.  A subquery paren starts with no clause
    (its own SELECT/FROM sets it); a grouping/argument bracket INHERITS
    its surroundings', so `SELECT k, (x IN (SELECT …)) AS r` still reads
    as a select-list position inside the wrapper."""
    clause, enc = _scope_clause(stmt, pos)
    if clause is None and enc >= 0 and not _SUBQUERY_HEAD_RE.match(
        stmt, enc + 1
    ):
        return _sql_clause_at(stmt, enc)
    return clause


def rewrite_from_unnest_lateral(stmt: str) -> str:
    """DuckDB's FROM-position ``UNNEST`` may reference columns of the
    tables listed before it (implicit lateral correlation); Spark
    requires the explicit ``LATERAL`` keyword.  Prepend LATERAL to any
    UNNEST table item that follows a comma or JOIN while the FROM clause
    of its own bracket scope is active and doesn't already carry it
    (correlation-free UNNESTs tolerate LATERAL, so the insertion is
    unconditional; idempotent because an inserted LATERAL becomes the
    preceding token on re-run).  ON/USING stay within the FROM clause:
    a later top-level comma returns to the table list (FROM a JOIN b ON
    … , UNNEST(…)).  Found by the round-5 exploratory sweep (fuzz find
    #16)."""
    if not re.search(r"\bUNNEST\s*\(", stmt, re.I):
        return stmt
    toks = [
        m
        for m in _FROM_UNNEST_SCAN_RE.finditer(stmt)
        if not _inside_string_literal(stmt, m.start())
    ]
    inserts = [
        m.start()
        for k, m in enumerate(toks)
        if m.group(0).upper() == "UNNEST"
        and k
        and toks[k - 1].group(0).upper() in (",", "JOIN")
        and re.match(r"\s*\(", stmt[m.end() :])
        and _scope_clause(stmt, m.start())[0] == "FROM"
    ]
    for pos in reversed(inserts):
        stmt = stmt[:pos] + "LATERAL " + stmt[pos:]
    return stmt


def rewrite_null_boolean_conditions(stmt: str) -> str:
    """DuckDB types a bare ``NULL`` condition contextually — ``CASE WHEN
    NULL THEN`` and ``WHERE NULL`` both run (condition unknown → not
    taken); Spark 4 rejects VOID in boolean positions (found by the
    differential fuzzer, tests/test_fuzz_differential.py).  Rewrite the
    literal NULL to ``CAST(NULL AS BOOLEAN)`` — but ONLY in a SEARCHED
    case expression: a simple CASE's ``WHEN NULL`` is a comparand whose
    type must keep following the operand, so the scanner tracks a stack
    of CASE kinds (searched = the token after CASE is WHEN)."""
    if _WHEN_NULL_THEN_RE.search(stmt):
        stack: list[bool] = []  # True = searched CASE
        edits: list[tuple[int, int, str]] = []
        for m in _NULL_COND_CASE_RE.finditer(stmt):
            if _inside_string_literal(stmt, m.start()):
                continue
            tok = m.group(1).upper()
            if tok == "CASE":
                rest = stmt[m.end():].lstrip()
                stack.append(rest[:4].upper() == "WHEN")
            elif tok == "END":
                if stack:
                    stack.pop()
            elif stack and stack[-1]:
                wm = _WHEN_NULL_THEN_RE.match(stmt, m.start())
                if wm:
                    edits.append(
                        (
                            wm.start(),
                            wm.end(),
                            f"WHEN{wm.group(1)}CAST(NULL AS BOOLEAN)"
                            f"{wm.group(2)}THEN",
                        )
                    )
        for s, e, rep in reversed(edits):
            stmt = stmt[:s] + rep + stmt[e:]
    out = _WHERE_NULL_RE.sub(
        lambda m: m.group(0)
        if _inside_string_literal(stmt, m.start())
        else f"{m.group(1)}{m.group(2)}CAST(NULL AS BOOLEAN)",
        stmt,
    )
    return out


_IN_SUBQ_RE = re.compile(r"\b(NOT\s+)?IN\s*\(", re.I)

_LHS_BOUND_KW = frozenset({
    "select", "where", "when", "then", "else", "end", "and", "or",
    "not", "case", "by", "on", "from", "as", "having", "qualify",
    "set", "values", "distinct", "all", "like", "ilike", "between",
    "is", "in", "union", "intersect", "except", "join",
})


_LHS_TOKEN_RE = re.compile(r"[^\W\d]\w*|[,=<>!]")


def _lhs_boundary(stmt: str, pos: int) -> int:
    """Start index of the expression that is the left operand of the
    ``IN`` at ``pos``: the last same-depth boundary before it.  Commas,
    opening brackets, comparison operators, and structural keywords
    bound the operand; arithmetic/concat operators and nested bracket
    groups (function calls) belong to it."""
    enc = _literal_spans(stmt).enclosing(pos)
    bound = enc + 1
    for m in _top_level_matches(stmt, _LHS_TOKEN_RE, bound):
        if m.start() >= pos:
            break
        if m.group(0)[0] in ",=<>!" or m.group(0).lower() in _LHS_BOUND_KW:
            bound = m.end()
    return bound


_FROM_INTRO_RE = re.compile(
    r"(?is)\b(?:FROM|JOIN)\s+([A-Za-z_][\w.]*)"
    r"(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?"
)
_QUALIFIER_RE = re.compile(r"\b([A-Za-z_]\w*)\s*\.\s*[A-Za-z_\"]")
_INTRO_NOT_ALIAS = frozenset(
    "where group order having limit qualify on using join inner left "
    "right full cross natural union intersect except window values "
    "semi anti lateral asof positional tablesample".split()
)


def _subquery_has_outer_refs(inner: str) -> bool:
    """Heuristic correlation detector: a qualified reference ``a.b``
    inside the subquery whose qualifier is introduced by none of the
    subquery's own FROM/JOIN items (base names, schema-qualified last
    segments, or aliases).  Unqualified outer references are not
    detectable without a resolver — those still fail loudly at plan
    time, unchanged."""
    intro: set[str] = set()
    for fm in _FROM_INTRO_RE.finditer(inner):
        # every dotted segment: schema/catalog prefixes are themselves
        # qualifier-shaped tokens (sch.tbl) and must not read as outer
        intro.update(s.lower() for s in fm.group(1).split("."))
        alias = (fm.group(2) or "").lower()
        if alias and alias not in _INTRO_NOT_ALIAS:
            intro.add(alias)
    # derived-table / TVF aliases: ") t" and ") AS t(…)"
    for am in re.finditer(r"\)\s*(?:AS\s+)?([A-Za-z_]\w*)", inner, re.I):
        if am.group(1).lower() not in _INTRO_NOT_ALIAS:
            intro.add(am.group(1).lower())
    for qm in _QUALIFIER_RE.finditer(inner):
        if _inside_string_literal(inner, qm.start()):
            continue
        if qm.group(1).lower() not in intro:
            return True
    return False


_IN_SUBQ_SEL_GATE_RE = re.compile(r"\bIN\s*\(\s*(?:SELECT|FROM|WITH)\b", re.I)


def rewrite_in_subquery_3vl(stmt: str) -> str:
    """Spark's IN-(subquery) is TWO-valued in a projected position: a
    NULL lhs, or a miss over a NULL-bearing subquery, returns FALSE
    where SQL 3VL (and DuckDB) give NULL (verified Spark 4.1; literal
    IN-lists are 3VL-correct).  In SELECT-clause positions, rewrite

        lhs [NOT] IN (SELECT …)

    to a CASE over the native IN (decides the hit) plus an UNcorrelated
    has-NULL/emptiness probe of the same subquery (decides FALSE vs
    NULL on a miss).  WHERE/HAVING positions keep the native form:
    under filtering FALSE and NULL both drop the row, and Spark's
    null-aware anti-join is already correct there.  Scale note: the
    subquery text is embedded twice (native IN + probe aggregate), but
    the probe is a driver-planned scalar subquery over the same —
    typically dimension-sized — relation, and only projected INs pay
    it.  CORRELATED subqueries keep the native IN (documented gap:
    Spark's 2VL on a projected miss) — the probe would become a
    correlated scalar subquery under a derived table, a shape Spark's
    decorrelation rejects at plan time.  Round-5 fuzz family
    ``in_3vl``."""
    if not _IN_SUBQ_SEL_GATE_RE.search(stmt):
        return stmt
    while True:
        found = None
        for m in _IN_SUBQ_RE.finditer(stmt):
            if _inside_string_literal(stmt, m.start()):
                continue
            open_p = stmt.index("(", m.end() - 1)
            close = matching_paren(stmt, open_p)
            inner = stmt[open_p + 1 : close].lstrip()
            if not re.match(r"(?is)^(SELECT|FROM|WITH)\b", inner):
                continue
            if _sql_clause_at(stmt, m.start()) != "SELECT":
                continue
            if _subquery_has_outer_refs(inner):
                continue
            tail = stmt[close + 1 :].lstrip()
            if tail.startswith(
                "THEN TRUE WHEN (SELECT max(CASE WHEN __v IS NULL"
            ):
                continue  # our own emission — keep the chain idempotent
            found = (m, open_p, close)
            break
        if not found:
            return stmt
        m, open_p, close = found
        lhs_start = _lhs_boundary(stmt, m.start())
        lhs = stmt[lhs_start : m.start()].strip()
        if not lhs:
            return stmt  # unsupported operand shape — keep native form
        sub = stmt[open_p : close + 1]
        probe = (
            f"(SELECT max(CASE WHEN __v IS NULL THEN 1 ELSE 0 END) "
            f"FROM {sub} __insub(__v))"
        )
        expr = (
            f"(CASE WHEN ({lhs}) IN {sub} THEN TRUE "
            f"WHEN {probe} IS NULL THEN FALSE "
            f"WHEN ({lhs}) IS NULL OR {probe} = 1 "
            f"THEN CAST(NULL AS BOOLEAN) ELSE FALSE END)"
        )
        if m.group(1):
            expr = f"(NOT {expr})"
        stmt = stmt[:lhs_start] + expr + stmt[close + 1 :]


def rewrite_glob_operator(stmt: str) -> str:
    """``x GLOB 'pat'`` → ``x LIKE``: ``*`` → ``%``, ``?`` → ``_``.
    Literal patterns only; patterns carrying LIKE metacharacters or
    character classes raise rather than mistranslate."""

    def _sub(m: re.Match) -> str:
        if _inside_string_literal(stmt, m.start()):
            return m.group(0)
        pat = m.group(2)[1:-1]
        if any(c in pat for c in "%_["):
            raise ValueError(
                f"GLOB pattern {pat!r}: %, _ and [class] are not supported"
            )
        like = pat.replace("*", "%").replace("?", "_")
        return f"{m.group(1) or ''}LIKE '{like}'"

    return _GLOB_OP_RE.sub(_sub, stmt)


_POW_OP_RE = re.compile(
    r"((?:[\w.]+\s*)?\((?:[^()]|\([^()]*\))*\)|[\w.]+)\s*\*\*\s*"
    r"((?:[\w.]+\s*)?\((?:[^()]|\([^()]*\))*\)|[\w.]+)"
)
_STARTS_OP_RE = re.compile(
    r"('(?:[^']|'')*'|[\w.\"]+)\s*\^@\s*('(?:[^']|'')*'|[\w.\"]+)"
)
_CTE_MATERIALIZED_RE = re.compile(r"\bAS\s+(?:NOT\s+)?MATERIALIZED\s*\(", re.I)
_COLLATE_PRIMARY = (
    r"(?:[\w.]+\s*)?\((?:[^()]|\([^()]*\))*\)|'(?:[^']|'')*'|[\w.]+"
)
_COLLATE_CMP_RE = re.compile(
    rf"({_COLLATE_PRIMARY})\s+COLLATE\s+NOCASE\s*"
    rf"(=|<>|!=|<=|>=|<|>|LIKE)\s*({_COLLATE_PRIMARY})",
    re.I,
)
# RHS-annotated form: `a = b COLLATE NOCASE` (legal in DuckDB — the
# collation still governs the whole comparison, so BOTH sides fold).
# Must run before the bare-key pass, which would fold only the RHS.
_COLLATE_CMP_RHS_RE = re.compile(
    rf"({_COLLATE_PRIMARY})\s*(=|<>|!=|<=|>=|<|>|\bLIKE\b)\s*"
    rf"({_COLLATE_PRIMARY})\s+COLLATE\s+NOCASE",
    re.I,
)
_COLLATE_KEY_RE = re.compile(
    rf"({_COLLATE_PRIMARY})\s+COLLATE\s+NOCASE", re.I
)
_LIKE_ESCAPE_RE = re.compile(
    r"LIKE\s+('(?:[^']|'')*')\s+ESCAPE\s+'(.)'", re.I
)
_DATE_LIT_INTERVAL_RE = re.compile(
    r"\bDATE\s*('(?:[^']|'')*')\s*([+-])\s*(?=INTERVAL\b)", re.I
)
# the ::DATE spelling of the same idiom: 'lit'::DATE ± INTERVAL (and
# col::DATE ± INTERVAL) — DuckDB types the sum TIMESTAMP, Spark DATE
_CAST_DATE_INTERVAL_RE = re.compile(
    r"('(?:[^']|'')*'|[\w.]+)\s*::\s*DATE\s*([+-])\s*(?=INTERVAL\b)", re.I
)
# DATE 'a' - DATE 'b': DuckDB yields INTEGER days, Spark an INTERVAL.
# Each operand may also be a flat paren group that STARTS with a DATE
# literal — `(DATE '2024-03-15' + k) - (DATE '2024-01-01')` — the only
# textually type-certain compound shape.
_DATE_MINUS_DATE_RE = re.compile(
    r"(\(\s*DATE\s*'(?:[^']|'')*'[^(),]*\)|\bDATE\s*'(?:[^']|'')*')"
    r"\s*-\s*"
    r"(\(\s*DATE\s*'(?:[^']|'')*'[^(),]*\)|DATE\s*'(?:[^']|'')*')",
    re.I,
)
# FILTER (cond) — DuckDB allows omitting WHERE; Spark requires it.
# Must follow an aggregate's closing paren, which distinguishes the
# clause from the filter(arr, lambda) higher-order FUNCTION
_FILTER_NO_WHERE_RE = re.compile(r"(\))\s*FILTER\s*\(\s*(?!WHERE\b)", re.I)
# @(x): DuckDB's abs operator
_ABS_OP_RE = re.compile(r"@\s*\(")


_CAST_OPEN_RE = re.compile(r"\b(cast|try_cast)\s*\(", re.I)
_INT_CAST_TARGETS = {
    "integer", "int", "int4", "smallint", "int2", "tinyint", "int1",
    "signed",
}
_BIGINT_CAST_TARGETS = {"bigint", "int8", "long"}
_AS_WORD_RE = re.compile(r"(?<!\w)as(?!\w)", re.I)
_INT_CAST_WRAPPED_RE = re.compile(
    r"(?is)^(?:b?round\s*\(\s*(cast|try_cast)\s*\("
    r"|if\s*\(\s*upper\s*\(\s*(?:case\s+)?typeof\s*\()"
)
_NUMBER_RE = re.compile(r"^[-+]?\d+(?:\.\d*)?(e[-+]?\d+)?$", re.I)
_FLOAT_TYPE_RE = re.compile(r"^(?:double|float[48]?|real)$", re.I)


_INTERVAL_EXPR_RE = re.compile(r"\bINTERVAL\s*\(", re.I)
_INTERVAL_UNIT_RE = re.compile(
    r"\s*(year|month|week|day|hour|minute|second|millisecond"
    r"|microsecond)s?\b",
    re.I,
)


def rewrite_interval_expr(stmt: str) -> str:
    """DuckDB's expression intervals ``INTERVAL (expr) DAY`` →
    ``(CAST(expr AS BIGINT|INT) * INTERVAL '1' DAY)`` — Spark only
    parses literal interval quantities.  Year/month go through INT
    (Spark's year-month interval multiplier); the rest through BIGINT.
    Plural unit spellings singularize; week becomes 7 days."""
    pos = 0
    while True:
        m = _INTERVAL_EXPR_RE.search(stmt, pos)
        if not m:
            return stmt
        if _inside_string_literal(stmt, m.start()):
            pos = m.end()
            continue
        open_i = m.end() - 1
        try:
            close_i = matching_paren(stmt, open_i)
        except ValueError:
            return stmt
        um = _INTERVAL_UNIT_RE.match(stmt, close_i + 1)
        if not um:
            pos = m.end()
            continue
        expr = stmt[open_i + 1 : close_i]
        unit = um.group(1).upper()
        if unit in ("YEAR", "MONTH"):
            new = f"(CAST({expr} AS INT) * INTERVAL '1' {unit})"
        elif unit == "WEEK":
            new = f"(CAST({expr} AS BIGINT) * INTERVAL '7' DAY)"
        elif unit == "MILLISECOND":
            new = f"(CAST({expr} AS BIGINT) * INTERVAL '0.001' SECOND)"
        elif unit == "MICROSECOND":
            new = (
                f"(CAST({expr} AS BIGINT) * INTERVAL '0.000001' SECOND)"
            )
        else:
            new = f"(CAST({expr} AS BIGINT) * INTERVAL '1' {unit})"
        stmt = stmt[: m.start()] + new + stmt[um.end() :]
        pos = m.start() + len(new)
    return stmt


_COLON_INT_CAST_RE = re.compile(
    r"::\s*(integer|int4|int2|int1|int8|smallint|tinyint|bigint|signed"
    r"|long|int)\b(?!\s*\[)",
    re.I,
)


def _name_chain_start(stmt: str, j: int) -> int:
    """Start of the dotted chain of words, numbers and quoted identifiers
    ending at ``j`` (``t.v``, ``"t"."v"``, ``t.`v` ``, ``1.5``); ``j + 1``
    when none ends there."""
    lex = _literal_spans(stmt)
    k = j
    while k >= 0:
        c = stmt[k]
        sp = lex.span(k) if c == '"' else None
        if sp:
            k = sp[0] - 1
        elif c == "`":  # Spark-quoted (a `` pair re-enters here)
            o = stmt.rfind("`", 0, k)
            if o < 0:
                break
            k = o - 1
        elif c.isalnum() or c in "._":
            k -= 1
        else:
            break
    return k + 1


def _cast_operand_start(stmt: str, j: int) -> int:
    """Start of the ``::`` operand ending at ``stmt[j]``: a parenthesized
    group with a preceding call/name, a string literal (typed literals
    keep their keyword), or a dotted name chain; ``j + 1`` when none."""
    if stmt[j] in ")]}":
        start = _literal_spans(stmt).partner.get(j, -1)
        if start < 0:
            return j + 1
        # include a preceding call/name: fn(...)::INT
        k = start - 1
        while k >= 0 and (stmt[k].isalnum() or stmt[k] in "._"):
            k -= 1
        return k + 1
    if stmt[j] == "'":
        k = _literal_spans(stmt).span(j)[0]
        # typed literals: DATE '…'::x etc. keep their keyword
        w = k - 1
        while w >= 0 and stmt[w].isspace():
            w -= 1
        e = w
        while w >= 0 and (stmt[w].isalnum() or stmt[w] == "_"):
            w -= 1
        if stmt[w + 1 : e + 1].upper() in ("DATE", "TIMESTAMP", "TIME"):
            return w + 1
        return k
    return _name_chain_start(stmt, j)


def rewrite_int_colon_casts(stmt: str) -> str:
    """``x::INTEGER`` → ``CAST(x AS INTEGER)`` for integer targets so
    rewrite_int_cast_rounding sees them — Spark parses ``::`` natively
    but truncates where DuckDB rounds.  Operand backscan covers
    parenthesized groups, string literals, and dotted identifiers /
    numeric literals, and quoted identifiers with their qualifiers; an
    operand that is itself a cast takes its whole chain
    (``2.5::DOUBLE::INT`` → ``CAST(2.5::DOUBLE AS INT)``).
    ``::INT[]`` array suffixes are excluded (they belong to
    rewrite_array_type_suffix)."""
    pos = 0
    while True:
        m = _COLON_INT_CAST_RE.search(stmt, pos)
        if not m:
            return stmt
        if _inside_string_literal(stmt, m.start()):
            pos = m.end()
            continue
        j = m.start() - 1
        while j >= 0 and stmt[j].isspace():
            j -= 1
        start = _cast_operand_start(stmt, j) if j >= 0 else j + 1
        while start <= j:
            # the operand is a cast's type: take that cast's operand too
            k = start - 1
            while k >= 0 and stmt[k].isspace():
                k -= 1
            if k < 1 or stmt[k - 1 : k + 1] != "::":
                break
            k -= 2
            while k >= 0 and stmt[k].isspace():
                k -= 1
            inner = _cast_operand_start(stmt, k) if k >= 0 else 0
            if inner > k:
                break
            start = inner
        if start > j:
            pos = m.end()
            continue
        operand = stmt[start : j + 1]
        new = f"CAST({operand} AS {m.group(1).upper()})"
        stmt = stmt[:start] + new + stmt[m.end() :]
        pos = start + 5
    return stmt


def _floating_operand(expr: str) -> bool | None:
    """Whether a cast operand is floating point, when its text alone
    shows it: a numeric literal (DECIMAL unless it has an exponent), one
    whole ``CAST(… AS type)`` or an ``operand::type``; else None."""
    m = _NUMBER_RE.match(expr)
    if m:
        return m.group(1) is not None
    m = _CAST_OPEN_RE.match(expr)
    lex = _literal_spans(expr)
    if m and lex.partner.get(m.end() - 1) == len(expr) - 1:
        as_pos = -1
        for a in _top_level_matches(expr, _AS_WORD_RE, m.end()):
            as_pos = a.start()
        if as_pos < 0:
            return None
        return bool(_FLOAT_TYPE_RE.match(expr[as_pos + 2 : -1].strip()))
    colon = expr.rfind("::")
    if colon > 0 and not lex.span(colon):
        j = colon - 1
        while j >= 0 and expr[j].isspace():
            j -= 1
        if j >= 0 and _cast_operand_start(expr, j) == 0:
            return bool(_FLOAT_TYPE_RE.match(expr[colon + 2 :].strip()))
    return None


def rewrite_int_cast_rounding(stmt: str) -> str:
    """DuckDB rounds numeric→integer casts to nearest (CAST(1.5 AS INT)
    = 2); Spark truncates toward zero (= 1).  Emit
    ``CAST(round(<numeric probe>) AS T)``: the probe is DOUBLE for
    ≤32-bit targets (exact across their whole range) and
    DECIMAL(38,9) via try_cast for BIGINT (exact for all longs; a
    probe overflow goes NULL where DuckDB errors — documented
    leniency, same class as invalid-cast NULLs).  Booleans and numeric
    strings survive the probe.  Ties follow the operand's type as in
    DuckDB 1.0: a DECIMAL rounds half away from zero (round()), a
    DOUBLE or FLOAT half to even (bround(): 2.5 → 2, 3.5 → 4).  An
    operand whose type the text does not show picks between them on
    ``typeof()``, which Spark folds to a constant.  The already-wrapped
    guard keeps the rewrite chain
    idempotent (the sign() re-wrap lesson, VERDICT r4).  Nested casts
    are rewritten inside their wrapped operand, all over the one lexed
    text; an unbalanced CAST ends the rewriting."""
    lex = _literal_spans(stmt)
    stop = False

    def emit(lo: int, hi: int) -> str:
        nonlocal stop
        out: list[str] = []
        done = lo  # stmt[lo:done] is emitted
        for m in _CAST_OPEN_RE.finditer(stmt, lo, hi):
            if stop:
                break
            if m.start() < done or lex.span(m.start()):
                continue
            open_i = m.end() - 1
            close_i = lex.partner.get(open_i, -1)
            if close_i < open_i:
                stop = True
                break
            as_pos = -1
            for a in _top_level_matches(stmt, _AS_WORD_RE, open_i + 1):
                if a.start() >= close_i:
                    break
                as_pos = a.start()
            if as_pos < 0:
                continue
            expr = stmt[open_i + 1 : as_pos].strip()
            target = stmt[as_pos + 2 : close_i].strip()
            t = target.lower()
            if (
                t not in _INT_CAST_TARGETS and t not in _BIGINT_CAST_TARGETS
            ) or _INT_CAST_WRAPPED_RE.match(expr):
                continue  # keep scanning inside (nested casts)
            expr = emit(open_i + 1, as_pos).strip()
            if t in _BIGINT_CAST_TARGETS:
                probe = f"try_cast({expr} AS DECIMAL(38,9))"
            else:
                probe = f"try_cast({expr} AS DOUBLE)"
            floating = _floating_operand(expr)
            if floating is not None:
                rounded = f"{'b' if floating else ''}round({probe})"
            else:
                # upper(): the DuckDB-function pass later maps typeof()
                # to DuckDB's type names
                rounded = (
                    f"if(upper(typeof({expr})) IN ('DOUBLE', 'FLOAT'), "
                    f"bround({probe}), round({probe}))"
                )
            out.append(
                f"{stmt[done : m.start()]}{m.group(1)}({rounded} "
                f"AS {target})"
            )
            done = close_i + 1
        return "".join(out) + stmt[done:hi]

    return emit(0, len(stmt))


_DIV_RHS_WORD_RE = re.compile(r"\s*([A-Za-z_]\w*)")
_DIV_RHS_SKIP_KW = frozenset({
    "case", "not", "interval", "exists", "distinct", "all", "any",
    "some",
})


def _operand_end(stmt: str, i: int) -> int:
    """End index (exclusive) of the unary primary starting at or after
    ``stmt[i]``: optional sign, then a literal / identifier chain /
    call / paren group, plus trailing ``()``/``[]``/``.`` chains."""
    n = len(stmt)
    while i < n and stmt[i].isspace():
        i += 1
    if i < n and stmt[i] in "+-":
        i += 1
        while i < n and stmt[i].isspace():
            i += 1
    if i >= n:
        return i
    ch = stmt[i]
    # past a literal / quoted identifier (``% n``: a quote inside a
    # comment opens no span, and the scan then ends)
    if ch == "'":
        i = (_span_end(stmt, i) % n) + 1
    elif ch == "(":
        i = matching_paren(stmt, i) + 1
    elif ch.isdigit() or ch == ".":
        j = i
        while j < n and (
            stmt[j].isdigit()
            or stmt[j] in ".eE"
            or (stmt[j] in "+-" and stmt[j - 1] in "eE")
        ):
            j += 1
        i = j
    elif ch.isalpha() or ch in ('_', '"'):
        while i < n:
            if stmt[i] == '"':
                i = (_span_end(stmt, i) % n) + 1
            elif stmt[i].isalnum() or stmt[i] == "_":
                while i < n and (stmt[i].isalnum() or stmt[i] == "_"):
                    i += 1
            else:
                break
            while True:
                k = i
                while k < n and stmt[k].isspace():
                    k += 1
                if k < n and stmt[k] == "(":
                    i = matching_paren(stmt, k) + 1
                elif k < n and stmt[k] == "[":
                    i = matching_paren(stmt, k) + 1
                else:
                    break
            if i < n and stmt[i] == ".":
                i += 1
                continue
            break
        # aggregate/window suffixes stay with the call they modify:
        # max(x) OVER (…), count(*) FILTER (WHERE …), listagg(x)
        # WITHIN GROUP (ORDER BY …), lead(x) IGNORE NULLS OVER (…)
        while True:
            k = i
            while k < n and stmt[k].isspace():
                k += 1
            wm = re.match(
                r"(?is)(OVER|FILTER|WITHIN\s+GROUP|IGNORE\s+NULLS|"
                r"RESPECT\s+NULLS)\b",
                stmt[k:],
            )
            if not wm:
                break
            kw_is_over = wm.group(1).upper() == "OVER"
            i = k + wm.end()
            k = i
            while k < n and stmt[k].isspace():
                k += 1
            if k < n and stmt[k] == "(":
                i = matching_paren(stmt, k) + 1
            elif kw_is_over and k < n and (
                stmt[k].isalpha() or stmt[k] == "_"
            ):
                # OVER <named window>
                i = k
                while i < n and (stmt[i].isalnum() or stmt[i] == "_"):
                    i += 1
    return i


_DEC_LIT_CAST_RE = re.compile(
    r"(?is)\bCAST\s*\(\s*(-?\d+\.\d+)\s+AS\s+"
    r"(DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)\s*\)"
)
_DEC_LIT_COLON_RE = re.compile(
    r"(?is)(-?\d+\.\d+)\s*::\s*(DECIMAL|NUMERIC)"
    r"\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)"
)


def rewrite_decimal_literal_casts(stmt: str) -> str:
    """DuckDB TRUNCATES toward zero when casting DECIMAL → DECIMAL at a
    smaller scale (``CAST(1.25 AS DECIMAL(8,1))`` = 1.2) while Spark
    rounds HALF_UP (= 1.3); double/float/string sources round in both
    engines.  A numeric literal with a dot types DECIMAL in both, so
    the truncation is constant-folded here at rewrite time (exact
    decimal arithmetic, idempotent — the folded literal re-quantizes to
    itself).  Column-typed decimal sources are textually unknowable and
    keep Spark's rounding (documented gap)."""
    from decimal import ROUND_DOWN, Decimal

    def _fold(m: re.Match) -> str:
        if _inside_string_literal(stmt, m.start()):
            return m.group(0)
        lit, kw, p, s = m.group(1), m.group(2), int(m.group(3)), int(m.group(4))
        q = Decimal(lit).quantize(
            Decimal(1).scaleb(-s), rounding=ROUND_DOWN
        )
        return f"CAST({q} AS {kw}({p}, {s}))"

    stmt = _DEC_LIT_CAST_RE.sub(_fold, stmt)
    return _DEC_LIT_COLON_RE.sub(_fold, stmt)


def rewrite_decimal_div(stmt: str) -> str:
    """DuckDB's ``/`` ALWAYS divides as DOUBLE — including DECIMAL
    operands (``typeof(1.5 / 2)`` is DOUBLE; ``1.5/2`` → 0.75) — while
    Spark types decimal division DECIMAL (``0.750000``).  Wrap each
    division's RIGHT operand in ``CAST(… AS DOUBLE)``: one double
    operand forces double division in Spark, and int/float divisions
    (already DOUBLE in both engines) are unchanged.  Runs on USER text
    only (before function translations, like the int-cast-rounding
    pass) so engine-emitted SQL keeps its intended typing.  Skips
    ``//`` (floor division — a later pass), keyword operands (CASE,
    INTERVAL, …), and already-wrapped RHS (idempotence)."""
    if "/" not in stmt:
        return stmt
    lex = _literal_spans(stmt)
    out: list[str] = []
    done = 0  # stmt[:done] is emitted; a wrapped RHS is not rescanned
    for m in re.finditer("/", stmt):
        i = m.start()
        # a '/' of a comment, of `//`, or inside an already-wrapped RHS
        # (the '/' closing `*/` is comment text, so `a/*c*// 2` divides)
        if (
            i < done
            or lex.span(i)
            or stmt[i + 1 : i + 2] == "/"
            or (i and stmt[i - 1] == "/" and not lex.span(i - 1))
        ):
            continue
        wm = _DIV_RHS_WORD_RE.match(stmt, i + 1)
        if wm and wm.group(1).lower() in _DIV_RHS_SKIP_KW:
            continue
        end = _operand_end(stmt, i + 1)
        rhs = stmt[i + 1 : end].strip()
        if not rhs or re.fullmatch(r"(?is)CAST\s*\(.*AS\s+DOUBLE\s*\)", rhs):
            continue
        out.append(f"{stmt[done:i]}/ CAST({rhs} AS DOUBLE)")
        done = end
    return "".join(out) + stmt[done:] if out else stmt


def rewrite_duck_operators(stmt: str) -> str:
    """Operator spellings Spark lacks: ``a ** b`` → ``power(a, b)``,
    ``s ^@ p`` (starts-with) → ``startswith(s, p)``, the CTE
    ``AS [NOT] MATERIALIZED (`` hint (Spark has no equivalent — drop
    it), and ``DATE 'lit' ± INTERVAL`` (DuckDB types the sum TIMESTAMP,
    Spark keeps DATE for month intervals — pre-cast the literal)."""
    search_from = 0
    while "**" in stmt[search_from:]:
        m = _POW_OP_RE.search(stmt, search_from)
        if not m:
            break
        if _inside_string_literal(stmt, m.start()):
            # skip this occurrence, keep scanning — an in-literal '**'
            # must not abort rewriting of later real operators
            search_from = m.end()
            continue
        stmt = (
            stmt[: m.start()]
            + f"power({m.group(1)}, {m.group(2)})"
            + stmt[m.end() :]
        )
        search_from = m.start()
    if "^@" in stmt:
        stmt = _STARTS_OP_RE.sub(
            lambda m: m.group(0)
            if _inside_string_literal(stmt, m.start())
            else f"startswith({m.group(1)}, {m.group(2)})",
            stmt,
        )
    # substring gates: each section's regex scan only runs when its
    # anchor keyword appears at all (one memchr beats a regex pass)
    low = stmt.lower()
    if "collate" in low and re.search(r"\bCOLLATE\s+NOCASE\b", stmt, re.I):
        # DuckDB NOCASE collation: comparisons become case-insensitive
        # (BOTH sides fold — the collation governs the comparison, not
        # just its annotated operand); a bare collated sort/group key
        # folds alone.  Value-position COLLATE keeps the original text
        # in DuckDB — that exotic shape isn't reproduced (lower() in a
        # projection would change the value).
        _pre_c = stmt
        stmt = _COLLATE_CMP_RE.sub(
            lambda m: m.group(0)
            if _inside_string_literal(_pre_c, m.start())
            else f"lower({m.group(1)}) {m.group(2)} lower({m.group(3)})",
            stmt,
        )
        _pre_r = stmt
        stmt = _COLLATE_CMP_RHS_RE.sub(
            lambda m: m.group(0)
            if _inside_string_literal(_pre_r, m.start())
            else f"lower({m.group(1)}) {m.group(2)} lower({m.group(3)})",
            stmt,
        )
        _pre_k = stmt
        stmt = _COLLATE_KEY_RE.sub(
            lambda m: m.group(0)
            if _inside_string_literal(_pre_k, m.start())
            else f"lower({m.group(1)})",
            stmt,
        )
    if "materialized" in low:
        _pre_mat = stmt
        stmt = _CTE_MATERIALIZED_RE.sub(
            lambda m: m.group(0)
            if _inside_string_literal(_pre_mat, m.start())
            else "AS (",
            stmt,
        )
    # LIKE … ESCAPE '\': backslash is Spark's DEFAULT escape char and
    # the parser rejects the '\' literal under escapedStringLiterals —
    # drop the clause.  Other single-char escapes convert the pattern to
    # backslash escaping (literal patterns only).
    def _esc(m: re.Match) -> str:
        pat, esc = m.group(1)[1:-1], m.group(2)
        if esc == "\\":
            return f"LIKE '{pat}'"
        converted = []
        i = 0
        while i < len(pat):
            c = pat[i]
            if c == esc and i + 1 < len(pat):
                converted.append("\\" + pat[i + 1])
                i += 2
                continue
            if c == "\\":
                converted.append("\\\\")
            else:
                converted.append(c)
            i += 1
        return f"LIKE '{''.join(converted)}'"

    if "escape" in low:
        stmt = _LIKE_ESCAPE_RE.sub(_esc, stmt)
    if "date" in low:
        _post = stmt
        stmt = _DATE_MINUS_DATE_RE.sub(
            lambda m: m.group(0)
            if _inside_string_literal(_post, m.start())
            # DuckDB: DATE - DATE is INTEGER days; Spark yields an
            # INTERVAL (both alternatives capture the full operand
            # incl. the DATE keyword / parens)
            else f"datediff({m.group(1)}, {m.group(2)})",
            stmt,
        )
    if "interval" in low:
        _post2 = stmt
        stmt = _CAST_DATE_INTERVAL_RE.sub(
            lambda m: m.group(0)
            if _inside_string_literal(_post2, m.start())
            else f"CAST({m.group(1)}::DATE AS TIMESTAMP) {m.group(2)} ",
            stmt,
        )
    if "filter" in low:
        _post3 = stmt
        stmt = _FILTER_NO_WHERE_RE.sub(
            lambda m: m.group(0)
            if _inside_string_literal(_post3, m.start())
            else f"{m.group(1)} FILTER (WHERE ",
            stmt,
        )
    if "@" in stmt:
        _post4 = stmt
        stmt = _ABS_OP_RE.sub(
            lambda m: m.group(0)
            if _inside_string_literal(_post4, m.start())
            else "abs(",
            stmt,
        )
    if "interval" not in low:
        return stmt
    return _DATE_LIT_INTERVAL_RE.sub(
        lambda m: f"CAST(DATE {m.group(1)} AS TIMESTAMP) {m.group(2)} ",
        stmt,
    )


_ANSI_FETCH_RE = re.compile(
    r"OFFSET\s+(\d+)\s+ROWS?\s+FETCH\s+(?:NEXT|FIRST)\s+(\d+)\s+ROWS?\s+ONLY",
    re.I,
)
_ANSI_FETCH_ONLY_RE = re.compile(
    r"FETCH\s+(?:NEXT|FIRST)\s+(\d+)\s+ROWS?\s+ONLY", re.I
)
_JSON_ARROW_RE = re.compile(r"->>\s*('(?:[^']|'')*'|\d+)")
_JSON_SINGLE_ARROW_RE = re.compile(r"->(?!>)\s*('(?:[^']|'')*'|\d+)")


def _json_primary_start(stmt: str, end: int) -> int:
    """Start index of the primary expression ENDING at ``end`` — a
    parenthesized call (with its function name), a string literal, or an
    identifier chain.  Used to walk left from a JSON arrow operator."""
    lex = _literal_spans(stmt)
    if stmt[end] == ")":
        k = lex.partner.get(end, -1) - 1  # include a function name
        while k >= 0 and (stmt[k].isalnum() or stmt[k] in "_."):
            k -= 1
        return k + 1
    sp = lex.span(end)
    if sp and stmt[end] == "'":
        return sp[0]
    k = end
    while k >= 0 and (stmt[k].isalnum() or stmt[k] in '_."'):
        k -= 1
    return k + 1


_LAMBDA_HOFS = frozenset(
    # DuckDB + Spark higher-order functions whose direct argument may be
    # a lambda — in THAT position a bare identifier before `->` is the
    # lambda parameter even when it shadows a string-typed column
    # (verified live: duckdb parses `list_transform([5], j -> 1)` as a
    # lambda with a VARCHAR column `j` in scope)
    "list_transform transform apply list_apply list_filter filter "
    "list_reduce reduce list_where exists forall aggregate zip_with "
    "map_filter transform_keys transform_values array_sort list_sort "
    "map_zip_with".split()
)


def _lambda_param_position(stmt: str, start: int) -> bool:
    """True when the expression starting at ``start`` sits in the direct
    argument position of a lambda-accepting higher-order function — the
    one context where ``ident -> body`` is a lambda, not a JSON arrow."""
    j = start - 1
    while j >= 0 and stmt[j].isspace():
        j -= 1
    if j < 0 or stmt[j] not in "(,":
        return False
    if stmt[j] == "(":
        # FIRST argument of the call (or a bare grouping paren): the
        # lambda always comes after the collection argument in every
        # HOF above, so a single-bare-ident `j -> …` in argument 1 is
        # a JSON arrow, not a lambda (ADVICE r8: list_filter(j->'arr',
        # x -> x > 1) must rewrite the first arrow)
        return False
    # the opening paren of the enclosing call, then the function name
    # before it
    j = _literal_spans(stmt).enclosing(j)
    if j < 0 or stmt[j] != "(":
        return False
    k = j - 1
    while k >= 0 and (stmt[k].isalnum() or stmt[k] == "_"):
        k -= 1
    return stmt[k + 1 : j].lower() in _LAMBDA_HOFS


def _json_arrow_path(arg: str) -> str:
    """JSONPath literal for one arrow argument: integers index arrays,
    ``'$…'`` strings are used verbatim (DuckDB path-extraction form),
    anything else is a key."""
    if arg.isdigit():
        return f"'$[{arg}]'"
    body = arg[1:-1]
    if body.startswith("$"):
        return f"'{body}'"
    return f"'$.{body}'"


def rewrite_ansi_fetch_and_json_arrow(
    stmt: str, json_cols: frozenset[str] | None = None
) -> str:
    """ANSI ``OFFSET n ROWS FETCH NEXT m ROWS ONLY`` → ``LIMIT m OFFSET
    n``, and the JSON extraction arrows: ``expr ->> 'k'`` / ``expr ->>
    i`` → ``get_json_object(expr, '$.k' / '$[i]')`` and the JSON-typed
    ``expr -> 'k'`` → ``to_json(try_variant_get(try_parse_json(expr),
    path))``.  ``->`` shares its token with lambda syntax (``x -> 1``),
    so it only fires when the LEFT operand is provably JSON — by syntax
    (::JSON cast chain, json function call, JSON-looking string literal)
    or by catalog type (``json_cols``: scope-resolved column refs whose
    DECLARED type is JSON, supplied by DuckLakeSpark._json_column_set).
    A lambda whose parameter shadows a JSON column name AND whose body
    is a bare literal (``transform(a, j -> 1)`` with a JSON column
    ``j``) would misfire — the same ambiguity DuckDB resolves in favor
    of extraction, so behavior matches the reference engine.  Left
    operands: identifier chains, string literals, or a parenthesized
    expression."""
    stmt = _ANSI_FETCH_RE.sub(lambda m: f"LIMIT {m.group(2)} OFFSET {m.group(1)}", stmt)
    stmt = _ANSI_FETCH_ONLY_RE.sub(lambda m: f"LIMIT {m.group(1)}", stmt)
    search_from = 0
    while True:
        m = _JSON_SINGLE_ARROW_RE.search(stmt, search_from)
        if m is None:
            break
        if _inside_string_literal(stmt, m.start()):
            search_from = m.end()
            continue
        i = m.start() - 1
        while i >= 0 and stmt[i].isspace():
            i -= 1
        if i < 0:
            break
        seg_end = i + 1
        start = _json_primary_start(stmt, i)
        had_json_cast = False
        while start >= 2 and stmt[start - 2 : start] == "::":
            if stmt[start:seg_end].upper().startswith("JSON"):
                had_json_cast = True
                seg_end = start - 2  # strip the ::JSON suffix
            start = _json_primary_start(stmt, start - 3)
        operand = stmt[start:seg_end]
        olow = operand.lstrip().lower()
        looks_json = (
            had_json_cast
            or olow.startswith(("get_json_object(", "json_extract(",
                                "to_json(", "json(", "try_parse_json(",
                                "try_variant_get("))
            or re.match(r"^'\s*[\[{]", olow) is not None
            or (
                json_cols is not None
                and olow.replace('"', "").strip() in json_cols
                # a bare identifier in the direct argument position of a
                # lambda HOF is the lambda PARAMETER even when it shadows
                # a string-typed column (duckdb-verified precedence)
                and not (
                    "." not in olow
                    and _lambda_param_position(stmt, start)
                )
            )
        )
        if not looks_json:
            search_from = m.end()
            continue
        path = _json_arrow_path(m.group(1))
        stmt = (
            stmt[:start]
            + f"to_json(try_variant_get(try_parse_json({operand}), "
            + f"{path}))"
            + stmt[m.end() :]
        )
        search_from = 0
    # text-arrow ``expr ->> 'k'`` / ``expr ->> i`` — unambiguous, any
    # operand (one primary, plus any ::type casts, walked left)
    while True:
        m = _JSON_ARROW_RE.search(stmt)
        if m is None or _inside_string_literal(stmt, m.start()):
            if m is not None:
                break  # inside a literal: leave the rest untouched
            return stmt
        i = m.start() - 1
        while i >= 0 and stmt[i].isspace():
            i -= 1
        if i < 0:
            return stmt
        start = _json_primary_start(stmt, i)
        while start >= 2 and stmt[start - 2 : start] == "::":
            start = _json_primary_start(stmt, start - 3)
        operand = stmt[start : i + 1]
        path = _json_arrow_path(m.group(1))
        stmt = (
            stmt[:start]
            + f"get_json_object({operand}, {path})"
            + stmt[m.end() :]
        )
    return stmt


_TRAILING_COMMA_RE = re.compile(
    r",(?=\s*(?:$|[)\]}]|(?:from|where|group|order|having|limit|offset"
    r"|window|qualify|union|except|intersect)\b))",
    re.I,
)


def rewrite_trailing_commas(stmt: str) -> str:
    """DuckDB tolerates trailing commas (``SELECT a, b, FROM t``, list
    literals ``[1, 2,]``); Spark raises.  Drop a comma whose next token
    is a closing bracket, a clause keyword, or end-of-statement —
    positions where a comma is never valid SQL anyway.  One C-speed
    regex scan; the (rare) matches check the memoized literal spans."""
    if "," not in stmt:
        return stmt
    return _TRAILING_COMMA_RE.sub(
        lambda m: m.group(0)
        if _inside_string_literal(stmt, m.start())
        else "",
        stmt,
    )


def rewrite_list_comprehension(stmt: str) -> str:
    """DuckDB list comprehensions ``[expr FOR x IN lst [IF cond]]`` →
    ``transform([filter(]lst, x -> cond[)], x -> expr)`` — pure
    higher-order rewrites, fully codegen'd.  Innermost-first so nested
    comprehensions resolve."""
    changed = True
    while changed:
        changed = False
        i = 0
        while i < len(stmt):
            if stmt[i] == "[" and not _inside_string_literal(stmt, i):
                try:
                    close = matching_paren(stmt, i)
                except ValueError:
                    return stmt
                inner = stmt[i + 1 : close]
                fpos = find_top_level_keyword(inner, "FOR")
                if fpos < 0 or "[" in inner[:fpos]:
                    i += 1
                    continue
                # nested comprehension inside the source? recurse later
                # iterations handle it (innermost [ has no FOR before it)
                expr = inner[:fpos].strip()
                rest = inner[fpos + 3 :]
                inpos = find_top_level_keyword(rest, "IN")
                if inpos < 0:
                    i += 1
                    continue
                var = rest[:inpos].strip()
                tail = rest[inpos + 2 :]
                ifpos = find_top_level_keyword(tail, "IF")
                if ifpos >= 0:
                    lst = tail[:ifpos].strip()
                    cond = tail[ifpos + 2 :].strip()
                    repl = (
                        f"transform(filter({lst}, {var} -> {cond}), "
                        f"{var} -> {expr})"
                    )
                else:
                    lst = tail.strip()
                    repl = f"transform({lst}, {var} -> {expr})"
                stmt = stmt[:i] + repl + stmt[close + 1 :]
                changed = True
                break
            i += 1
    return stmt


def apply_expr_dialect(txt: str) -> str:
    """The expression-level dialect chain (brackets, function renames/
    templates, IGNORE NULLS, SIMILAR TO, hex casts, // and regex-match
    operators) for SQL FRAGMENTS — UPDATE SET clauses, DELETE/MERGE
    conditions, VALUES tuples — that never pass through the full
    statement pipeline."""
    txt = rewrite_trailing_commas(txt)
    txt = rewrite_list_comprehension(txt)
    txt = rewrite_bracket_syntax(txt)
    txt = rewrite_hex_casts(txt)
    # user-text cast rounding BEFORE translations (whose emissions
    # rely on Spark's truncating casts) — see the statement pipeline
    # note
    txt = rewrite_int_colon_casts(txt)
    txt = rewrite_int_cast_rounding(txt)
    txt = rewrite_duckdb_functions(txt)
    txt = rewrite_ignore_nulls(txt)
    txt = rewrite_similar_to(txt)
    txt = rewrite_floor_div(txt)
    return rewrite_interval_expr(txt)


_FROM_FIRST_RE = re.compile(r"^\s*FROM\b", re.I)


def rewrite_from_first(stmt: str) -> str:
    """DuckDB's FROM-first syntax: ``FROM rel SELECT cols …`` →
    ``SELECT cols FROM rel …``.  Bare ``FROM rel`` (no SELECT) becomes
    ``SELECT * FROM rel``.  Outermost statement only.  The FROM clause
    must land BEFORE any trailing clause of the select (``FROM t SELECT
    c ORDER BY c`` → ``SELECT c FROM t ORDER BY c``)."""
    if not _FROM_FIRST_RE.match(stmt):
        return stmt
    sel = find_top_level_keyword(stmt, "SELECT")
    if sel < 0:
        return "SELECT * " + stmt.strip()
    head = stmt[: sel].strip()  # "FROM rel [WHERE …]"
    tail = stmt[sel:].strip()   # "SELECT cols [ORDER BY … LIMIT …]"
    cut = len(tail)
    for kw in ("WHERE", "GROUP BY", "HAVING", "QUALIFY", "WINDOW",
               "ORDER BY", "LIMIT", "OFFSET", "UNION", "INTERSECT",
               "EXCEPT"):
        pos = find_top_level_keyword(tail, kw)
        if 0 <= pos < cut:
            cut = pos
    return f"{tail[:cut].rstrip()} {head} {tail[cut:]}".rstrip()


_LIKE_LITERAL_RE = re.compile(
    r"\b(LIKE|ILIKE)\s+('(?:[^']|'')*')(?!\s*ESCAPE)", re.I
)


def rewrite_like_default_escape(stmt: str) -> str:
    """Spark's LIKE treats ``\\`` as a default escape character; DuckDB's
    LIKE has none (escape only via an explicit ESCAPE clause).  Double
    the backslashes inside literal LIKE/ILIKE patterns that carry no
    ESCAPE clause so ``LIKE '%\\%'`` keeps matching a literal backslash
    (found by the string-escaping differential probe).  Expression
    patterns pass through — no safe textual transform exists for those.
    Runs BEFORE quote-escape canonicalization (both lex DuckDB-style)."""

    def _sub(m: re.Match) -> str:
        if _inside_string_literal(stmt, m.start()):
            return m.group(0)
        lit = m.group(2)
        if "\\" not in lit:
            return m.group(0)
        return f"{m.group(1)} '{lit[1:-1].replace(chr(92), chr(92) * 2)}'"

    return _LIKE_LITERAL_RE.sub(_sub, stmt)


def rewrite_quote_escapes(stmt: str) -> str:
    """Canonicalize DuckDB-lexed single-quoted literals for Spark's
    lexer under ``escapedStringLiterals=true`` (found by the
    string-escaping differential probe):

    - SQL-standard ``''`` quote escapes do NOT collapse in Spark's raw
      string mode (``'it''s'`` stays two chars), and
    - a literal whose content ends with ``\\`` swallows its own closing
      quote in Spark's lexer (which always consumes ``\\'`` pairs).

    DuckDB-lex each literal (``''`` = escaped quote, backslash has no
    special meaning), then re-emit: verbatim when Spark-safe, otherwise
    a parenthesized ``||`` chain splicing ``chr(39)`` for quotes and
    ``chr(92)`` for the dangerous trailing backslash — expressible in
    any literal position an expression is valid."""
    if "'" not in stmt:
        return stmt
    lex = _literal_spans(stmt)
    out: list[str] = []
    done = 0  # stmt[:done] is emitted
    for s, e in zip(lex.starts, lex.ends):
        if stmt[s] != "'":
            continue
        body, closed = _quoted_body(stmt[s : e + 1])
        body = body.replace("''", "'")
        # an ESCAPE '<char>' operand must stay a literal: the
        # LIKE-ESCAPE rewrite downstream consumes it by regex, and
        # Spark's ESCAPE clause does not accept expressions
        if (
            not closed
            or ("'" not in body and not body.endswith("\\"))
            or re.search(r"\bESCAPE\s*$", stmt[:s], re.I)
        ):
            continue
        # concat emission: split on quotes; ALL trailing backslashes of
        # a segment sit against a quote (or the closing delimiter) and
        # must be spliced as chr(92)
        pieces: list[str | None] = []
        for seg in body.split("'"):
            head = seg.rstrip("\\")
            n_bs = len(seg) - len(head)
            pieces.append(f"'{head}'" if head else None)
            pieces.extend(["chr(92)"] * n_bs)
            pieces.append("chr(39)")
        pieces.pop()  # no quote after the last segment
        parts = [p for p in pieces if p]
        out.append(stmt[done:s])
        out.append("(" + " || ".join(parts) + ")" if parts else "''")
        done = e + 1
    return "".join(out) + stmt[done:] if out else stmt


def rewrite_double_quoted_identifiers(stmt: str) -> str:
    """ANSI/DuckDB double-quoted identifiers → Spark backticks.  Spark
    parses ``"x"`` as a STRING literal (doubleQuotedIdentifiers needs
    ANSI mode, which the engine turns off for DuckDB NULL-division), so
    a reference user's ``SELECT "My Col" FROM t`` would silently select
    a constant.  Single-quoted strings and comments pass through;
    ``""`` inside an identifier unescapes to ``"``."""
    lex = _literal_spans(stmt)
    out: list[str] = []
    done = 0  # stmt[:done] is emitted
    for s, e in zip(lex.starts, lex.ends):
        if stmt[s] == '"':
            name = _quoted_body(stmt[s : e + 1])[0].replace('""', '"')
            out.append(f"{stmt[done:s]}`{name}`")
            done = e + 1
    return "".join(out) + stmt[done:]


_FROM_FIRST_SUBQUERY_RE = re.compile(r"\(\s*FROM\b", re.I)


def rewrite_from_first_subqueries(stmt: str) -> str:
    """DuckDB accepts a FROM-first query anywhere a SELECT subquery is
    legal — ``EXISTS (FROM t WHERE …)``, ``IN (FROM t)``, a scalar
    ``(FROM t SELECT max(x))`` — while :func:`rewrite_from_first` only
    handles the outermost statement.  Rewrite every parenthesized
    FROM-first body in place (a ``(`` directly followed by ``FROM`` is
    unambiguous: no SQL function or clause puts FROM first inside
    parens).  Quote-aware; nested bodies are reached because scanning
    resumes inside the rewritten text."""
    search = 0
    while True:
        m = _FROM_FIRST_SUBQUERY_RE.search(stmt, search)
        if not m:
            return stmt
        if _inside_string_literal(stmt, m.start()):
            search = m.end()
            continue
        close = matching_paren(stmt, m.start())
        inner = rewrite_from_first(stmt[m.start() + 1 : close])
        stmt = stmt[: m.start() + 1] + inner + stmt[close:]
        search = m.start() + 1


_IGNORE_NULLS_RE = re.compile(r"\s+((?:IGNORE|RESPECT)\s+NULLS)\s*\)", re.I)
_HEX_CONCAT_RE = re.compile(r"'0x'\s*\|\|")
_INT_TYPE_RE = re.compile(r"^(BIGINT|HUGEINT|INT\w*|LONG|DECIMAL.*)$", re.I)


_SIMILAR_TO_RE = re.compile(
    r"\b(NOT\s+)?SIMILAR\s+TO\s+'((?:[^']|'')*)'", re.I
)


def rewrite_similar_to(stmt: str) -> str:
    """``x SIMILAR TO 'p'`` (full-match regex, DuckDB/standard) →
    ``x RLIKE '^(?:p)$'`` (Spark's partial-match rlike, anchored)."""

    def _sub(m: re.Match) -> str:
        neg = "NOT " if m.group(1) else ""
        return f"{neg}RLIKE '^(?:{m.group(2)})$'"

    return _SIMILAR_TO_RE.sub(_sub, stmt)


_FDIV_OP_RE = re.compile(r"//|!?~~\*|!?~~|!?~")
_FDIV_OPS = {"~~*": "ILIKE", "~~": "LIKE", "~": "RLIKE"}
# keywords after which an expression starts: a ``~`` there is unary
_OPERAND_KW_RE = re.compile(
    r"\b(?:and|or|not|select|where|when|then|else|case|on|having|by|is|in"
    r"|like|between|distinct|all|any|some|return)$",
    re.I,
)


def rewrite_floor_div(stmt: str) -> str:
    """DuckDB operator spellings → Spark: ``//`` floor division → ``DIV``
    (both truncate toward zero on integers), binary ``~`` / ``!~`` regex
    match → ``RLIKE`` / ``NOT RLIKE`` (unary bitwise ``~`` — no operand
    on the left, or a keyword such as ``AND`` — is left alone).
    Quote/comment-aware."""
    if "//" not in stmt and "~" not in stmt:  # no trigger chars at all
        return stmt
    lex = _literal_spans(stmt)
    out: list[str] = []
    done = pos = 0  # stmt[:done] is emitted
    # search, not finditer: the '/' closing `*/` must not swallow the
    # first '/' of a real `//` after it
    while m := _FDIV_OP_RE.search(stmt, pos):
        i, op = m.start(), m.group(0)
        pos = i + 1
        if lex.span(i):
            continue
        if op == "//":
            out.append(f"{stmt[done:i]} DIV ")
            done = pos = m.end()
            continue
        # binary only: the last significant char before the operator
        # (comments skipped) must end an operand
        j = i - 1
        while j >= 0:
            sp = lex.span(j)
            if sp and stmt[sp[0]] in "-/":  # a comment: skip it
                j = sp[0] - 1
            elif stmt[j].isspace():
                j -= 1
            else:
                break
        if j < 0 or not (
            lex.span(j) or stmt[j].isalnum() or stmt[j] in ")]_"
        ):
            continue
        if not lex.span(j) and _OPERAND_KW_RE.search(stmt, 0, j + 1):
            continue
        word = _FDIV_OPS[op.lstrip("!")]
        new = f" {'NOT ' if op[0] == '!' else ''}{word} "
        end = m.end()
        if word == "RLIKE":
            # DuckDB's ~ / !~ are FULL-match (regexp_full_match): a
            # literal pattern gets ^(?:…)$ anchors; a non-literal RHS
            # falls back to partial RLIKE (documented gap)
            lit, nxt = _pattern_literal_ahead(stmt, end)
            if lit is not None:
                new, end = f"{new}'^(?:{lit})$'", nxt
        out.append(stmt[done:i] + new)
        done = pos = end
    return "".join(out) + stmt[done:] if out else stmt


_SPACES_RE = re.compile(r"\s*")


def _pattern_literal_ahead(stmt: str, i: int) -> tuple[str | None, int]:
    """The string literal starting at/after ``i`` (spaces skipped), as
    (inner text with '' escapes intact, index past the closing quote) —
    or (None, i) when the next token isn't a closed literal."""
    j = _SPACES_RE.match(stmt, i).end()
    end = _span_end(stmt, j)
    if end < 0 or stmt[j] != "'":
        return None, i
    body, closed = _quoted_body(stmt[j : end + 1])
    return (body, end + 1) if closed else (None, i)


def rewrite_ignore_nulls(stmt: str) -> str:
    """DuckDB puts IGNORE/RESPECT NULLS inside the window-function call
    (``nth_value(x, 3 IGNORE NULLS)``); Spark takes it after the closing
    paren."""
    return _IGNORE_NULLS_RE.sub(r") \1", stmt)


def rewrite_hex_casts(stmt: str) -> str:
    """DuckDB casts hex strings to integers directly —
    ``('0x' || substr(md5(s), 1, 15))::BIGINT`` is the portable-hash
    idiom.  Spark needs ``conv(hex, 16, 10)``; rewrite both the postfix
    and CAST() forms."""
    pos = 0
    while True:
        m = _HEX_CONCAT_RE.search(stmt, pos)
        if not m:
            return stmt
        # nearest significant char before the '0x' literal
        k = m.start() - 1
        while k >= 0 and stmt[k].isspace():
            k -= 1
        if k < 0 or stmt[k] != "(":
            pos = m.end()
            continue
        popen = k
        close = matching_paren(stmt, popen)
        inner = stmt[m.end() : close].strip()
        # word before the '(' — CAST form carries the type inside
        w = popen - 1
        while w >= 0 and stmt[w].isspace():
            w -= 1
        wstart = w
        while wstart >= 0 and (stmt[wstart].isalnum() or stmt[wstart] == "_"):
            wstart -= 1
        word = stmt[wstart + 1 : w + 1].upper()
        if word == "CAST":
            am = re.search(r"\s+AS\s+(\w[\w(),\s]*)$", inner, re.I)
            if am and _INT_TYPE_RE.match(am.group(1).strip()):
                expr = inner[: am.start()].strip()
                repl = f"CAST(conv({expr}, 16, 10) AS BIGINT)"
                stmt = stmt[: wstart + 1] + repl + stmt[close + 1 :]
                pos = wstart + 1 + len(repl)
                continue
        tm = re.match(r"\s*::\s*(\w+)", stmt[close + 1 :])
        if tm and _INT_TYPE_RE.match(tm.group(1)):
            repl = f"CAST(conv({inner}, 16, 10) AS BIGINT)"
            stmt = stmt[:popen] + repl + stmt[close + 1 + tm.end() :]
            pos = popen + len(repl)
            continue
        pos = m.end()


_FN_TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def rewrite_duckdb_functions(stmt: str) -> str:
    """Translate DuckDB-dialect function calls in a statement to Spark
    SQL builtins so reference users' SQL runs verbatim.  Quote- and
    comment-aware; recurses into argument lists; unknown names pass
    through untouched (Spark raises its own resolution error).

    Single-pass C-speed identifier search; only identifier tokens pay
    Python-level handling, and inter-token text (literals, quoted
    identifiers and comments included) is appended in whole slices."""
    lex = _literal_spans(stmt)
    out: list[str] = []
    n = len(stmt)
    pos = 0
    while True:
        tm = _FN_TOKEN_RE.search(stmt, pos)
        if tm is None:
            out.append(stmt[pos:])
            break
        i = tm.start()
        sp = lex.span(i)
        if sp:  # a word inside a literal / quoted identifier / comment
            out.append(stmt[pos : sp[1] + 1])
            pos = sp[1] + 1
            continue
        if i > pos:
            out.append(stmt[pos:i])
        tok = tm.group(0)
        j = tm.end()
        word = tok
        k = j
        while k < n and stmt[k].isspace():
            k += 1
        key = word.lower()
        # a qualified name (x.epoch) is a column access, not a call; a
        # non-ASCII identifier head char means this ASCII token is the
        # TAIL of a longer word, never a call site
        qualified = i > 0 and (
            stmt[i - 1] == "." or stmt[i - 1].isalnum()
        )
        if k < n and stmt[k] == "(" and key in _DUCK_FNS and not qualified:
                close = matching_paren(stmt, k)
                inner = rewrite_duckdb_functions(stmt[k + 1 : close])
                args = [s.strip() for s in split_top_level(inner) if s.strip()]
                # Idempotence guard: sign() emits CAST(sign(x) AS INT),
                # which would re-match on a second rewrite pass (views
                # over views / macro expansion re-run the chain).  If the
                # occurrence is already inside its own wrapper, pass it
                # through unwrapped.
                if (
                    key == "sign"
                    and "".join(out).rstrip().upper().endswith("CAST(")
                    and stmt[close + 1 :].lstrip().upper().startswith("AS INT)")
                ):
                    out.append(f"sign({', '.join(args)})")
                    pos = close + 1
                    continue
                # split_part's NULL-semantics wrapper embeds a raw
                # split_part() call in its ELSE arm — pass it through on
                # a re-run of the chain (same idempotence discipline)
                if (
                    key == "split_part"
                    and "".join(out).rstrip().upper().endswith("ELSE")
                    and stmt[close + 1 :].lstrip().upper().startswith("END)")
                ):
                    out.append(f"split_part({', '.join(args)})")
                    pos = close + 1
                    continue
                # typeof's wrapper (CASE typeof(x) WHEN 'string' THEN
                # 'VARCHAR' … ELSE upper(typeof(x)) END) and bit_count's
                # width mask both embed raw typeof() calls that must
                # stay raw on a re-run of the chain — the WHEN arms
                # compare against Spark's lower-case catalyst names
                if key == "typeof":
                    _rest = stmt[close + 1 :].lstrip().upper()
                    _prev = "".join(out).rstrip().upper()
                    if (
                        _rest.startswith("WHEN 'STRING' THEN 'VARCHAR'")
                        or (_prev.endswith("UPPER(")
                            and _rest.startswith(") END"))
                        or (_prev.endswith("& (CASE")
                            and _rest.startswith(
                                "WHEN 'INT' THEN CAST(4294967295"))
                    ):
                        out.append(f"typeof({', '.join(args)})")
                        pos = close + 1
                        continue
                # skewness/kurtosis emissions contain their own names
                # (sample-statistic corrections around Spark's population
                # forms) — pass through when already inside the wrapper
                if (
                    key in ("skewness", "kurtosis")
                    and re.match(
                        r"\s*\*\s*sqrt\(count\(" if key == "skewness"
                        else r"\s*\+\s*6\)",
                        stmt[close + 1 :],
                    )
                ):
                    out.append(f"{key}({', '.join(args)})")
                    pos = close + 1
                    continue
                out.append(_duck_fn_emit(key, args))
                pos = close + 1
                continue
        if (
            key in _DUCK_TYPE_ALIASES
            and not qualified
            and not (k < n and stmt[k] == "(")
        ):
            out.append(_DUCK_TYPE_ALIASES[key])
            pos = j
            continue
        out.append(word)
        pos = j
    return "".join(out)


_SNAPSHOTS_RE = re.compile(r"\b[\w.]*snapshots\s*\(\s*\)", re.I)
_TABLE_CHANGES_RE = re.compile(
    r"\b(?:ducklake_)?table_changes\s*\(\s*(?:'\w+'\s*,\s*)?"
    r"'(\w+)'\s*,\s*(\d+)\s*,\s*(\d+)\s*\)",
    re.I,
)
# DuckLake spec split change feeds (ducklake_table_insertions /
# _deletions): same signature family as table_changes — an optional
# leading schema-name argument is accepted and ignored (single 'main'
# schema here, like the reference's attached lake)
_TABLE_INSERTIONS_RE = re.compile(
    r"\b(?:ducklake_)?table_insertions\s*\(\s*(?:'\w+'\s*,\s*)?"
    r"'(\w+)'\s*,\s*(\d+)\s*,\s*(\d+)\s*\)",
    re.I,
)
_TABLE_DELETIONS_RE = re.compile(
    r"\b(?:ducklake_)?table_deletions\s*\(\s*(?:'\w+'\s*,\s*)?"
    r"'(\w+)'\s*,\s*(\d+)\s*,\s*(\d+)\s*\)",
    re.I,
)
_TABLE_INFO_RE = re.compile(r"\bducklake_table_info\s*\(\s*\)", re.I)
_LIST_FILES_RE = re.compile(
    r"\bducklake_list_files\s*\(\s*'(\w+)'\s*\)", re.I
)


def _bq(name: str) -> str:
    """A backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _type_sql(dt: T.DataType) -> str:
    """Spark SQL text of a data type, nested field names backtick-quoted."""
    if isinstance(dt, T.StructType):
        fields = ", ".join(f"{_bq(f.name)}: {_type_sql(f.dataType)}" for f in dt)
        return f"STRUCT<{fields}>"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{_type_sql(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{_type_sql(dt.keyType)}, {_type_sql(dt.valueType)}>"
    return dt.simpleString()


def _sql_string(s: str) -> str:
    """A Spark SQL string expression reading back exactly ``s`` — a plain
    literal unless ``s`` holds a quote or backslash, which the engine's
    ``escapedStringLiterals`` lexer cannot carry; those go as hex."""
    if "'" not in s and "\\" not in s:
        return f"'{s}'"
    return f"decode(unhex('{s.encode().hex()}'), 'UTF-8')"


def _inline_encode_value(v, dt: T.DataType):
    """JSON-encode one value of Spark type ``dt`` for catalog-inlined
    storage (DuckLake spec "Data Inlining").  Lossless for every type the
    DDL surface supports: temporal → ISO-8601, DECIMAL → exact string,
    BINARY → base64, MAP → [[k, v], …] (JSON objects can't carry
    non-string keys), STRUCT → name-keyed object."""
    if v is None:
        return None
    if isinstance(dt, T.ArrayType):
        return [_inline_encode_value(x, dt.elementType) for x in v]
    if isinstance(dt, T.MapType):
        return [
            [
                _inline_encode_value(k, dt.keyType),
                _inline_encode_value(x, dt.valueType),
            ]
            for k, x in v.items()
        ]
    if isinstance(dt, T.StructType):
        d = v.asDict() if hasattr(v, "asDict") else dict(v)
        return {
            f.name: _inline_encode_value(d.get(f.name), f.dataType)
            for f in dt.fields
        }
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return v.isoformat()
    if isinstance(dt, T.TimeType):
        return v.isoformat()
    if isinstance(dt, T.DecimalType):
        return str(v)
    if isinstance(dt, T.BinaryType):
        return base64.b64encode(bytes(v)).decode("ascii")
    return v


def _inline_decode_value(v, dt: T.DataType):
    if v is None:
        return None
    if isinstance(dt, T.ArrayType):
        return [_inline_decode_value(x, dt.elementType) for x in v]
    if isinstance(dt, T.MapType):
        return {
            _inline_decode_value(k, dt.keyType): _inline_decode_value(
                x, dt.valueType
            )
            for k, x in v
        }
    if isinstance(dt, T.StructType):
        return {
            f.name: _inline_decode_value(v.get(f.name), f.dataType)
            for f in dt.fields
        }
    if isinstance(dt, T.DateType):
        return _dt.date.fromisoformat(v)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return _dt.datetime.fromisoformat(v)
    if isinstance(dt, T.TimeType):
        return _dt.time.fromisoformat(v)
    if isinstance(dt, T.DecimalType):
        return _decimal.Decimal(v)
    if isinstance(dt, T.BinaryType):
        return bytearray(base64.b64decode(v))
    return v


_PARAM_RE = re.compile(r"\$(\d+)\b|\?")


def _bind_params(tmpl: str, args: list[str]) -> str:
    """A prepared statement's text with its ``$N`` / ``?`` placeholders
    (``?`` numbered left to right) replaced by the argument texts, in
    one pass outside literals, quoted identifiers and comments;
    placeholders without an argument stay (Spark reports them)."""
    lex = _literal_spans(tmpl)
    out: list[str] = []
    done = nth = 0  # tmpl[:done] is emitted
    for m in _PARAM_RE.finditer(tmpl):
        if lex.span(m.start()):
            continue
        if m.group(1) is None:
            nth += 1
        idx = int(m.group(1) or nth)
        if 1 <= idx <= len(args):
            out.append(tmpl[done : m.start()] + args[idx - 1])
            done = m.end()
    return "".join(out) + tmpl[done:]


def _unqualify(name: str) -> str:
    return name.replace('"', "").split(".")[-1]


class DuckLakeSpark:
    """Spark-native lakehouse with the reference's API surface
    (DuckLakeXL.__init__ params at ducklakexl.py:17-29; sql() at :387-397).

    Parameters mirror the reference where they still make sense:
    ``excel_file``/``workbook`` select the catalog-mirror backend (None =
    no mirroring), ``data_path`` is where executors write table parquet,
    ``local_catalog`` is the authoritative catalog store directory.
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        excel_file: str | None = None,
        data_path: str = "ducklake_data",
        ducklake_name: str = "my_excel_ducklake",
        local_catalog: str | None = None,
        workbook=None,
        data_inlining_row_limit: int = 0,
        logger=None,
        encrypted: bool = False,
    ):
        import logging

        from ducklakexl_spark.session import get_spark

        # user-provided logger (a reference TODO, README.md:157-159):
        # statements log at DEBUG, sync round-trips at INFO — silent by
        # default via the standard library's unconfigured-logger rules
        self.logger = logger or logging.getLogger("ducklakexl_spark")
        self.spark = spark or get_spark()
        # standard / DuckDB string-literal semantics for the SQL surface:
        # '\s+' stays a regex escape instead of collapsing to 's+'
        # (Spark's default Hive-style literal parsing).  Runtime-settable;
        # DataFrame-API code paths are unaffected by the parser conf.
        self.spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
        # DuckDB division semantics: x / 0, x % 0 and x // 0 are NULL
        # (verified against DuckDB) — Spark's ANSI mode raises instead,
        # which breaks real ratio queries mid-scan.  Session-wide like
        # the parser conf above.  Documented trade: invalid explicit
        # casts return NULL here where DuckDB raises (TRY_CAST spells
        # the lenient form explicitly in both engines).
        self.spark.conf.set("spark.sql.ansi.enabled", "false")
        # INT96 timestamps carry no footer stats → no pruning; write
        # int64 micros (runtime-settable, drivers may hand us a vanilla
        # session)
        self.spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        # SQL-callable UDF surface (fuzzy-string scalars etc.) — idempotent
        from ducklakexl_spark.functions import register_all

        register_all(self.spark)
        self.name = ducklake_name
        # multi-catalog: ATTACH 'ducklake:...' AS name mounts a second
        # lake as its own engine sharing this SparkSession
        self._attached: dict[str, DuckLakeSpark] = {}
        # data_path may be an object-store URI (s3a://, gs://, hdfs://):
        # Spark moves the data through its Hadoop connectors; the
        # engine's own metadata I/O routes through iofs' URI dispatch
        self.data_path = iofs.absolutize(data_path)
        iofs.makedirs(self.data_path)
        if local_catalog is None and iofs.has_scheme(self.data_path):
            raise ValueError(
                "data_path is a remote URI: pass local_catalog explicitly "
                "(the catalog store is driver-local by design)"
            )
        local_catalog = local_catalog or os.path.join(self.data_path, "_catalog")
        # encrypted=True on a FRESH lake turns on Parquet Modular
        # Encryption (spec metadata 'encrypted' + per-file
        # encryption_key): data/delete files are AES-GCM-encrypted with
        # per-file keys held in the catalog — see crypto.py
        self.catalog = DuckLakeCatalog(
            CatalogStore(local_catalog), self.data_path, encrypted=encrypted
        )
        self.current_db = ducklake_name
        self.session_settings: dict[str, str] = {}
        # Spark 4.1 gates TIME behind a conf: literals/comparisons work
        # without it, but CAST(string AS TIME) — which the scan path
        # needs to rebuild stored TIME columns — raises unless enabled
        try:
            self.spark.conf.set("spark.sql.timeType.enabled", "true")
        except Exception:  # pragma: no cover - older/newer Spark
            pass
        # scan instrumentation: files surviving the last catalog-level
        # prune in table_df, and the file count MERGE's match scan read
        # (pinned by tests — the change-proportional-commit evidence)
        self._last_scan_file_count: int | None = None
        self.last_match_scan_files: int | None = None
        # the data-file paths the last table_df scan kept after skipping:
        # a DML statement hands its hit scan's list to _register_deletes
        self._last_scan_paths: list[str] = []
        # SET VARIABLE name = expr / getvariable('name') user variables
        self.sql_variables: dict[str, object] = {}
        # CREATE TYPE … AS ENUM registry: enum columns store as VARCHAR
        # plus an auto-CHECK over the declared values.  ORDERING
        # (ORDER BY / min / max) follows the DEFINITION order via
        # _rewrite_enum_order; direct comparisons against string
        # literals stay lexical (DuckDB 1.0's own observed behavior
        # for enum-vs-varchar).  Persisted in ducklake_metadata so a
        # reopened lake still resolves the type; ``enumcol:tbl.col``
        # rows record which columns carry which enum.
        self._enums: dict[str, list[str]] = {}
        self._enum_cols: dict[str, str] = {}  # "tbl.col" -> enum name
        for r in self.catalog.tables["ducklake_metadata"].itertuples():
            if str(r.key).startswith("enum:"):
                self._enums[str(r.key)[5:]] = json.loads(r.value)
            elif str(r.key).startswith("enumcol:") and r.value is not None:
                self._enum_cols[str(r.key)[8:]] = str(r.value)
        # DuckLake data inlining: INSERTs of <= N rows become catalog
        # rows instead of parquet files (0 = off, the spec default);
        # ``SET ducklake.data_inlining_row_limit = N`` overrides at
        # runtime — see the ``inline_row_limit`` property
        self.data_inlining_row_limit = int(data_inlining_row_limit)
        # name -> (param names, body SQL text, is_table)
        self._macros: dict[str, tuple[list[str], str, bool]] = {}
        # name -> statement template ($1/$2 or ? placeholders)
        self._prepared: dict[str, str] = {}
        # PRAGMA add_parquet_key: name -> base64 128-bit key for the
        # user-managed COPY/read_parquet encryption surface
        self._parquet_keys: dict[str, str] = {}

        # workbook sync backend (reference: _pick_client, ducklakexl.py:85-97)
        if workbook is None and excel_file is not None:
            from ducklakexl_spark.sync.excel import open_workbook

            workbook = open_workbook(excel_file)
        self.workbook = workbook
        if self.workbook is not None:
            from ducklakexl_spark.sync.sync import WorkbookSync

            self._sync = WorkbookSync(self.workbook)
            self._sync.initialize(self.catalog)
        else:
            self._sync = None

    # ------------------------------------------------------------------ sql()

    def sql(self, query: str) -> DataFrame | None:
        """pull → execute each statement → push → return last result
        (exact lifecycle of ducklakexl.py:387-397; the returned DataFrame
        is lazy just like the reference's DuckDBPyRelation — SURVEY §3.2).
        Each statement commits at most one catalog snapshot; one that
        fails commits nothing (see ``DuckLakeCatalog.statement``)."""
        self._pull()
        result = None
        for stmt in split_statements(query):
            self.logger.debug("sql: %s", stmt[:200])
            with self.catalog.statement():
                r = self._execute(stmt)
            if r is not None:
                result = r
        self._push()
        return result

    def _pull(self) -> None:
        if self._sync is not None:
            adopted = self._sync.pull(self.catalog)
            self.logger.info(
                "pulled workbook state (snapshot %s): %s",
                self.catalog.current_snapshot,
                "adopted sheets" if adopted else "workbook unchanged",
            )

    def _push(self) -> None:
        if self._sync is not None:
            n = self._sync.push(self.catalog)
            if n:
                self.logger.info("pushed %d changed sheet(s)", n)

    # ------------------------------------------------------------- dispatch

    _PREPARE_RE = re.compile(r"^\s*PREPARE\s+(\w+)\s+AS\s+(.*)$", re.I | re.S)
    _EXECUTE_RE = re.compile(
        r"^\s*EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*$", re.I | re.S
    )
    _DEALLOCATE_RE = re.compile(
        r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*$", re.I
    )
    _CREATE_INDEX_RE = re.compile(
        r"^\s*CREATE\s+(?:UNIQUE\s+)?INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"(\w+)\s+ON\s+[\w.\"]+\s*\(", re.I
    )
    _DROP_INDEX_RE = re.compile(
        r"^\s*DROP\s+INDEX\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$", re.I
    )

    def _execute(self, stmt: str) -> DataFrame | None:
        # multi-catalog dispatch: while USE'd into an attached lake every
        # statement runs against that engine; USE/ATTACH/DETACH stay here
        # so the session can mount lakes and switch back
        if self._attached and self.current_db in self._attached:
            if not (
                _USE_RE.match(stmt) or _ATTACH_RE.match(stmt)
            ):
                lake = self._attached[self.current_db]
                with lake.catalog.statement():
                    return lake._execute(stmt)
        # TEMP tables: session-lifetime semantics approximated by regular
        # lake tables (the catalog store is per-engine-instance anyway in
        # tests; a production deployment would tag + GC them on close)
        stmt = re.sub(
            r"^(\s*CREATE\s+)(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+TABLE\b",
            r"\1TABLE",
            stmt,
            flags=re.I,
        )
        m = self._PREPARE_RE.match(stmt)
        if m:
            # DuckDB prepared statements: store the template; EXECUTE
            # substitutes $1/$2… (or ?) positionally with encoded
            # literals and runs through the normal dispatch
            self._prepared[m.group(1)] = m.group(2).strip()
            return None
        m = self._EXECUTE_RE.match(stmt)
        if m:
            name, args_txt = m.group(1), m.group(2)
            tmpl = self._prepared.get(name)
            if tmpl is None:
                raise ValueError(f"no prepared statement named {name}")
            return self._execute(
                _bind_params(tmpl, split_top_level(args_txt or ""))
            )
        m = self._DEALLOCATE_RE.match(stmt)
        if m:
            self._prepared.pop(m.group(1), None)
            return None
        if self._CREATE_INDEX_RE.match(stmt) or self._DROP_INDEX_RE.match(
            stmt
        ):
            # DuckDB ART indexes have no lakehouse analogue — scans prune
            # via per-file min/max stats and partition values instead;
            # accepted as no-ops so reference scripts replay verbatim
            return None
        if _ATTACH_RE.match(stmt):
            # ATTACH 'ducklake:<catalog>' AS name (DATA_PATH '<dir>')
            # mounts a SECOND lake (bootstrapping it if absent, like
            # DuckDB's ducklake extension); USE <name> routes statements
            # to it and <name>.<table> reads cross-lake.  The reference's
            # own bootstrap ATTACH (ducklakexl.py:236) re-attaches the
            # home lake's name, which stays the accepted no-op so its
            # scripts replay verbatim.
            m = _ATTACH_DUCKLAKE_RE.match(stmt)
            if m:
                cat, name, dp, enc = m.groups()
                if name != self.name and name not in self._attached:
                    self._attached[name] = DuckLakeSpark(
                        spark=self.spark,
                        data_path=dp or cat + ".files",
                        local_catalog=cat,
                        ducklake_name=name,
                        encrypted=bool(enc),
                    )
                return None
            m = _DETACH_RE.match(stmt)
            if m:
                self._attached.pop(m.group(1), None)
                if self.current_db == m.group(1):
                    self.current_db = self.name
                return None
            # anything else (e.g. ATTACH 'other.db' — a non-ducklake
            # DuckDB database) is NOT silently swallowed: the reference
            # passes these through to DuckDB, which this engine cannot
            # do, and a silent no-op is worse than an error
            raise NotImplementedError(
                "only ATTACH 'ducklake:…' AS name [(DATA_PATH '…')] and "
                f"DETACH <name> are supported; got: {stmt.strip()[:120]}"
            )
        m = _CREATE_MACRO_RE.match(stmt)
        if m:
            # DuckDB CREATE MACRO (scalar and TABLE): stored as text,
            # expanded by _expand_macros at reference time — the same
            # lazy-template semantics DuckDB gives them
            name, params, body = m.group(1), m.group(2), m.group(3).strip()
            is_table = False
            tm = re.match(r"TABLE\s+(.*)$", body, re.I | re.S)
            if tm:
                is_table, body = True, tm.group(1).strip()
            if re.search(rf"\b{re.escape(name)}\s*\(", body):
                # DuckDB rejects recursive macros at creation; without
                # this guard _expand_macros would re-match the name
                # inside its own expansion forever
                raise ValueError(f"macro {name} may not reference itself")
            self._macros[name] = (
                [p.strip() for p in params.split(",") if p.strip()],
                body,
                is_table,
            )
            return None
        m = _DROP_MACRO_RE.match(stmt)
        if m:
            self._macros.pop(m.group(2), None)
            return None
        m = _CREATE_SEQ_RE.match(stmt)
        if m:
            # DuckDB CREATE SEQUENCE: persisted as a database-level MVCC
            # tag so sequences survive engine restarts and version with
            # the catalog
            if_ne, name = m.group(1), _unqualify(m.group(2))
            if self._seq_state(name) is not None:
                if if_ne:
                    return None
                raise ValueError(f"sequence {name!r} already exists")
            self.catalog.set_tag(
                0,
                f"sequence:{name}",
                json.dumps(
                    {
                        "next": int(m.group(3)) if m.group(3) else 1,
                        "increment": int(m.group(4)) if m.group(4) else 1,
                        "last": None,
                    }
                ),
            )
            return None
        m = _DROP_SEQ_RE.match(stmt)
        if m:
            if_e, name = m.group(1), _unqualify(m.group(2))
            if self._seq_state(name) is None:
                if if_e:
                    return None
                raise ValueError(f"no sequence named {name!r}")
            self.catalog.set_tag(0, f"sequence:{name}", json.dumps(None))
            return None
        if _NEXTVAL_RE.search(stmt) and not re.match(
            r"^\s*CREATE\s+(TABLE|SEQUENCE)\b", stmt, re.I
        ):
            # evaluate nextval/currval call sites driver-side (CREATE
            # TABLE is excluded so DEFAULT nextval('s') stays lazy text
            # evaluated per INSERT, and CREATE SEQUENCE never recurses)
            stmt = self._rewrite_seq_calls(stmt)
        m = _TXN_RE.match(stmt)
        if m:
            # multi-statement transactions: BEGIN defers catalog persists,
            # COMMIT swaps them in atomically, ROLLBACK restores the
            # pre-BEGIN catalog and deletes files written inside the txn
            kw = m.group(1).split()[0].upper()
            if kw == "BEGIN":
                self.catalog.begin_txn()
            elif kw == "COMMIT":
                self.catalog.commit_txn()
            else:  # ROLLBACK / ABORT
                self.catalog.rollback_txn()
            return None
        m = _USE_RE.match(stmt)
        if m:
            self.current_db = m.group(1)
            return None
        m = _SET_VARIABLE_RE.match(stmt)
        if m:
            # SET VARIABLE name = expr: evaluated NOW (DuckDB
            # semantics — the value is captured, not the expression);
            # arbitrary expressions including scalar subqueries work
            # because evaluation runs through the full select path
            val = self._select(f"SELECT ({m.group(2)}) AS __v").collect()
            self.sql_variables[m.group(1).lower()] = (
                val[0]["__v"] if val else None
            )
            return None
        m = _RESET_VARIABLE_RE.match(stmt)
        if m:
            self.sql_variables.pop(m.group(1).lower(), None)
            return None
        m = _SET_RE.match(stmt)
        if m:
            # SET spark.* keys hit the live session conf; DuckDB-only
            # settings are accepted and recorded (inert here — a script
            # written for the reference keeps running)
            key, value = m.group(1), m.group(2).strip().strip("'\"")
            if key.startswith("spark."):
                self.spark.conf.set(key, value)
            else:
                self.session_settings[key] = value
            return None
        m = _RESET_RE.match(stmt)
        if m:
            key = m.group(1)
            if key.startswith("spark."):
                self.spark.conf.unset(key)
            else:
                self.session_settings.pop(key, None)
            return None
        m = _ADD_PARQUET_KEY_RE.match(stmt)
        if m:
            # DuckDB's user-managed parquet-encryption key registry:
            # PRAGMA add_parquet_key('name', '<16-byte key>') feeds
            # COPY … (ENCRYPTION_CONFIG {footer_key: name}) and
            # read_parquet(…, encryption_config={footer_key: name}).
            kname, kval = m.group(1), m.group(2)
            if len(kval.encode()) != 16:
                raise ValueError(
                    "add_parquet_key: only 128-bit (16-byte) keys are "
                    f"supported; got {len(kval.encode())} bytes"
                )
            self._parquet_keys[kname] = base64.b64encode(
                kval.encode()
            ).decode()
            return None
        m = _PRAGMA_RE.match(stmt)
        if m:
            pragma, arg = m.group(1).lower(), m.group(2)
            if pragma == "table_info" and arg:
                return self.sql(f"DESCRIBE {arg}")
            if pragma == "show_tables":
                return self.sql("SHOW TABLES")
            if pragma == "version":
                return self.spark.createDataFrame(
                    [(self.spark.version,)], "library_version string"
                )
            if pragma == "database_size":
                total = 0
                n_files = 0
                for p, size in iofs.list_files(self.data_path, recursive=True):
                    if p.endswith(".parquet"):
                        n_files += 1
                        total += size
                return self.spark.createDataFrame(
                    [(self.name, f"{total} bytes", n_files, total)],
                    "database_name string, database_size string, "
                    "data_files bigint, total_bytes bigint",
                )
            raise ValueError(f"unsupported PRAGMA: {pragma}")
        if re.match(r"^\s*(FORCE\s+)?CHECKPOINT\s*$", stmt, re.I):
            # DuckDB flushes its WAL here; our commits are already
            # durable per-statement, so CHECKPOINT is an accepted no-op
            return None
        if re.match(r"^\s*ANALYZE(\s+[\w.\"]+)?\s*$", stmt, re.I):
            # DuckDB recomputes table statistics; this engine records
            # per-file column stats at WRITE time (insert/merge paths),
            # so there is nothing stale to recompute — accepted no-op
            return None
        if re.match(r"^\s*VACUUM\s*$", stmt, re.I):
            return self.spark.createDataFrame(
                [(self.vacuum(),)], "files_deleted int"
            )
        m = _CALL_RE.match(stmt)
        if m:
            # DuckLake's maintenance functions (spec surface: CALL
            # ducklake_*/<db>.merge_adjacent_files() etc.), mapped onto
            # the engine's compaction / snapshot-expiry / GC methods
            fn = m.group(1).split(".")[-1].lower().removeprefix("ducklake_")
            arg_txt = (m.group(2) or "").strip()
            args = [
                a.strip().strip("'\"")
                for a in split_top_level(arg_txt)
                if a.strip()
            ]
            if fn.startswith("pragma_"):
                # CALL pragma_version() / pragma_table_info('t') / … —
                # the function form of the PRAGMA statements
                tail = fn.removeprefix("pragma_")
                if args:
                    tail += f"('{args[0]}')"
                return self.sql(f"PRAGMA {tail}")
            if fn in ("merge_adjacent_files", "compact"):
                names = args or self.catalog.table_names()
                rows = [
                    (t, str(self.compact(t))) for t in names
                ]
                return self.spark.createDataFrame(
                    rows, "table_name string, result string"
                )
            if fn == "expire_snapshots":
                kw = dict(
                    kv.split("=>") for kv in (a.replace(" ", "") for a in args)
                    if "=>" in kv
                )
                res = self.expire_snapshots(
                    older_than=kw.get("older_than"),
                    before_version=(
                        int(kw["before_version"])
                        if "before_version" in kw
                        else None
                    ),
                )
                return self.spark.createDataFrame([(str(res),)], "result string")
            if fn in ("cleanup_old_files", "delete_orphaned_files"):
                return self.spark.createDataFrame(
                    [(self.vacuum(),)], "files_deleted int"
                )
            if fn == "flush_inlined_data":
                n = self.flush_inlined(args[0] if args else None)
                return self.spark.createDataFrame(
                    [(n,)], "rows_flushed bigint"
                )
            if fn == "add_data_files":
                if len(args) != 2:
                    raise ValueError(
                        "add_data_files(table, path) takes two arguments"
                    )
                n = self.add_data_files(args[0], args[1])
                return self.spark.createDataFrame(
                    [(n,)], "files_added int"
                )
            raise ValueError(f"unsupported CALL function: {fn}")
        m = re.match(r"^\s*EXPORT\s+DATABASE\s+'([^']+)'", stmt, re.I)
        if m:
            # DuckDB's EXPORT DATABASE: every table as parquet plus a
            # schema.sql replay script (CREATE TABLE/SEQUENCE/MACRO/VIEW
            # + COPY FROM) — the portable dump/restore pair
            outdir = m.group(1)
            os.makedirs(outdir, exist_ok=True)
            lines = []
            # sequences first (a table DEFAULT may call nextval);
            # exported at their CURRENT next value so restored inserts
            # continue, not restart
            tags = self.catalog.live("ducklake_tag")
            for r in tags[tags["key"].str.startswith("sequence:")].itertuples():
                st = json.loads(r.value)
                if st is None:  # dropped
                    continue
                lines.append(
                    f"CREATE SEQUENCE {r.key.split(':', 1)[1]} "
                    f"START {st['next']} INCREMENT {st['increment']};"
                )
            for name, (params, body, is_table) in self._macros.items():
                lines.append(
                    f"CREATE MACRO {name}({', '.join(params)}) AS "
                    + ("TABLE " if is_table else "")
                    + body
                    + ";"
                )
            for t in self.catalog.table_names():
                path = os.path.join(outdir, f"{t}.parquet")
                self.table_df(t).write.mode("overwrite").parquet(path)
                tid = self.catalog.table_id(t)
                coldefs = ", ".join(
                    f'"{r.column_name}" {r.column_type}'
                    + ("" if r.nulls_allowed else " NOT NULL")
                    for r in self.catalog.columns(tid).itertuples()
                )
                lines.append(f"CREATE TABLE {t}({coldefs});")
                lines.append(f"COPY {t} FROM '{path}' (FORMAT PARQUET);")
            for v in self.catalog.view_names():
                lines.append(
                    f"CREATE VIEW {v} AS {self.catalog.view_sql(v)};"
                )
            iofs.write_text(
                os.path.join(outdir, "schema.sql"), "\n".join(lines) + "\n"
            )
            return None
        m = re.match(r"^\s*IMPORT\s+DATABASE\s+'([^']+)'", stmt, re.I)
        if m:
            script = iofs.read_text(os.path.join(m.group(1), "schema.sql"))
            for s in split_statements(script):
                self._execute(s)
            return None
        m = _CREATE_VIEW_RE.match(stmt)
        if m:
            self.catalog.create_view(
                _unqualify(m.group(2)), m.group(3).strip(), replace=bool(m.group(1))
            )
            return None
        m = _DROP_VIEW_RE.match(stmt)
        if m:
            name = _unqualify(m.group(2))
            if m.group(1) and name not in self.catalog.view_names():
                return None
            self.catalog.drop_view(name)
            return None
        m = _SET_PARTITIONED_RE.match(stmt)
        if m:
            name = _unqualify(m.group(1))
            tid = self.catalog.table_id(name)
            cols = self.catalog.columns(tid)
            id_by_name = {r.column_name: int(r.column_id) for r in cols.itertuples()}
            type_by_name = {
                r.column_name: str(r.column_type).upper()
                for r in cols.itertuples()
            }
            col_ids: list[int] = []
            transforms: list[str] = []
            for raw in split_top_level(m.group(2)):
                km = _PART_KEY_RE.match(raw)
                if not km:
                    raise ValueError(
                        f"SET PARTITIONED BY: cannot parse key {raw!r} "
                        "(expected col or year/month/day/hour(col))"
                    )
                transform = (km.group(1) or "identity").lower()
                k = km.group(2) or km.group(3)
                if k not in id_by_name:
                    raise ValueError(f"SET PARTITIONED BY: unknown columns [{k!r}]")
                if transform != "identity" and not type_by_name[k].startswith(
                    ("DATE", "TIMESTAMP")
                ):
                    raise ValueError(
                        f"SET PARTITIONED BY: {transform}({k}) needs a "
                        f"DATE/TIMESTAMP column, got {type_by_name[k]}"
                    )
                col_ids.append(id_by_name[k])
                transforms.append(transform)
            self.catalog.set_partitioned_by(tid, col_ids, transforms)
            return None
        m = _RENAME_RE.match(stmt)
        if m:
            self.catalog.rename_table(_unqualify(m.group(1)), _unqualify(m.group(2)))
            return None
        m = _ALTER_RENAME_COL_RE.match(stmt)
        if m:
            tid = self.catalog.table_id(_unqualify(m.group(1)))
            self.catalog.rename_column(
                tid, m.group(2).strip('"'), m.group(3).strip('"')
            )
            return None
        m = _ALTER_COL_PROP_RE.match(stmt)
        if m:
            name = _unqualify(m.group(1))
            tid = self.catalog.table_id(name)
            cname = m.group(2).strip('"')
            action = re.sub(r"\s+", " ", m.group(3).upper()).strip()
            if action.startswith("SET DEFAULT"):
                self.catalog.set_column_default(
                    tid, cname, apply_expr_dialect(m.group(4).strip())
                )
            elif action == "DROP DEFAULT":
                self.catalog.set_column_default(tid, cname, None)
            elif action == "DROP NOT NULL":
                self.catalog.set_column_nullability(tid, cname, True)
            else:  # SET NOT NULL — must prove no stored NULLs first
                # metadata-first: if per-file null_count stats cover
                # every live data file and sum to zero (and no inlined
                # rows exist), skip the scan entirely — at 100 TB this
                # makes SET NOT NULL a catalog-only operation on
                # well-statted tables; otherwise one filtered scan
                # (limit-1 short-circuit) validates
                needs_scan = True
                if self.catalog.inlined_rows(tid).empty:
                    cols = self.catalog.columns(tid)
                    hit = cols[cols["column_name"] == cname]
                    if hit.empty:
                        raise KeyError(f"column not found: {cname}")
                    cid = int(hit.iloc[0]["column_id"])
                    fstats = self.catalog.tables[
                        "ducklake_file_column_statistics"
                    ]
                    fstats = fstats[
                        (fstats["table_id"] == tid)
                        & (fstats["column_id"] == cid)
                    ]
                    live_files = self.catalog.data_files(tid)
                    covered = set(fstats["data_file_id"]) >= set(
                        live_files["data_file_id"]
                    )
                    if covered and not live_files.empty:
                        nulls = fstats[
                            fstats["data_file_id"].isin(
                                live_files["data_file_id"]
                            )
                        ]["null_count"]
                        if nulls.notna().all() and int(nulls.sum()) == 0:
                            needs_scan = False
                    elif live_files.empty:
                        needs_scan = False
                if needs_scan:
                    has_null = (
                        self.table_df(name)
                        .filter(F.col(cname).isNull())
                        .limit(1)
                        .count()
                    )
                    if has_null:
                        raise ValueError(
                            f"SET NOT NULL: column {cname!r} contains NULLs"
                        )
                self.catalog.set_column_nullability(tid, cname, False)
            return None
        m = _ALTER_TYPE_RE.match(stmt)
        if m:
            name = _unqualify(m.group(1))
            tid = self.catalog.table_id(name)
            cname = m.group(2).strip('"')
            new_type = m.group(3).strip().upper()
            cols = self.catalog.columns(tid)
            hit = cols[cols["column_name"] == cname]
            if hit.empty:
                raise KeyError(f"column not found: {cname}")
            old_type = str(hit.iloc[0]["column_type"]).upper()
            # normalize spelling aliases before the promotion check
            # (INT/INT4 == INTEGER, INT8/LONG == BIGINT, …)
            _ALIAS = {
                "INT": "INTEGER", "INT4": "INTEGER", "SIGNED": "INTEGER",
                "INT8": "BIGINT", "LONG": "BIGINT",
                "INT2": "SMALLINT", "SHORT": "SMALLINT",
                "INT1": "TINYINT", "FLOAT4": "FLOAT", "REAL": "FLOAT",
                "FLOAT8": "DOUBLE", "STRING": "VARCHAR", "TEXT": "VARCHAR",
            }
            old_norm = _ALIAS.get(old_type, old_type)
            new_norm = _ALIAS.get(new_type, new_type)
            if old_norm != new_norm and (old_norm, new_norm) not in _TYPE_PROMOTIONS:
                raise ValueError(
                    f"ALTER TYPE: {old_type} -> {new_type} is not a lossless "
                    f"widening; rewrite the table instead"
                )
            self.catalog.alter_column_type(tid, cname, new_type)
            return None
        m = _ALTER_DROP_COL_RE.match(stmt)
        if m:
            name = _unqualify(m.group(1))
            tid = self.catalog.table_id(name)
            cname = m.group(3).strip('"')
            cols = self.catalog.columns(tid)
            if (cols["column_name"] == cname).any():
                if len(cols) == 1:
                    raise ValueError("cannot drop the only column")
                self.catalog.drop_column(tid, cname)
            elif not m.group(2):
                raise KeyError(f"column not found: {cname}")
            return None
        m = _ALTER_ADD_COL_RE.match(stmt)
        if m:
            name = _unqualify(m.group(1))
            tid = self.catalog.table_id(name)
            cname = m.group(3).strip('"')
            col_type = m.group(4).strip()
            default = None
            if dm := re.search(
                r"^(.*?)\s+DEFAULT\s+(.+?)\s*$", col_type, re.I | re.S
            ):
                col_type, default = dm.group(1).strip(), dm.group(2).strip()
            ducklake_type_to_spark(col_type)  # validate before committing
            cols = self.catalog.columns(tid)
            if (cols["column_name"] == cname).any():
                if m.group(2):
                    return None
                raise ValueError(f"column already exists: {cname}")
            self.catalog.add_column(tid, cname, col_type.upper(), default)
            return None
        m = _CREATE_TYPE_RE.match(stmt)
        if m:
            tname = m.group(1).strip('"').lower()
            vals = [
                v.strip().strip("'")
                for v in split_top_level(m.group(2))
                if v.strip()
            ]
            if not vals:
                raise ValueError("CREATE TYPE … AS ENUM needs values")
            self._enums[tname] = vals
            self.catalog.set_metadata(f"enum:{tname}", json.dumps(vals))
            return None
        m = _DROP_TYPE_RE.match(stmt)
        if m:
            tname = m.group(1).strip('"').lower()
            self._enums.pop(tname, None)
            self.catalog.set_metadata(f"enum:{tname}", None)
            return None
        m = _CREATE_SCHEMA_RE.match(stmt)
        if m:
            name = _unqualify(m.group(2))
            if m.group(1):
                try:
                    self.catalog.schema_id(name)
                    return None
                except KeyError:
                    pass
            self.catalog.create_schema(name)
            return None
        m = _CTAS_RE.match(stmt)
        if m and not _CREATE_RE.match(stmt):
            return self._create_table_as(
                _unqualify(m.group(2)), m.group(3), replace=bool(m.group(1))
            )
        m = _CREATE_RE.match(stmt)
        if m:
            name = _unqualify(m.group(3))
            if m.group(1) and name in self.catalog.table_names():
                self._drop_table(name)
            return self._create_table(
                name, m.group(4), if_not_exists=bool(m.group(2))
            )
        m = _DROP_RE.match(stmt)
        if m:
            name = _unqualify(m.group(2))
            if m.group(1) and name not in self.catalog.table_names():
                return None
            self._drop_table(name)
            return None
        rm = re.match(r"^\s*(INSERT|DELETE|UPDATE)\b", stmt, re.I)
        if rm:
            # DuckDB's RETURNING clause on DML.  UPDATE/DELETE derive the
            # affected rows from the statement's own match set — the
            # pre-snapshot scan filtered by WHERE (with SET applied for
            # UPDATE's post-image) — so a no-op UPDATE (SET v = v)
            # returns every matched row, per affected row, exactly like
            # SQL.  INSERT derives the new row versions from the
            # pre/post snapshot change feed (handles NULL-fill, DEFAULT,
            # and BY NAME alignment without re-parsing the source).
            rpos = find_top_level_keyword(stmt, "RETURNING")
            if rpos >= 0:
                proj = stmt[rpos + len("RETURNING") :].strip()
                body = stmt[:rpos].strip()
                tname = _unqualify(
                    re.search(
                        r"^\s*(?:INSERT\s+INTO|DELETE\s+FROM|UPDATE)\s+"
                        r"([\w.\"]+)",
                        stmt,
                        re.I,
                    ).group(1)
                )
                kw = rm.group(1).upper()
                projections = [
                    apply_expr_dialect(p.strip()) for p in split_top_level(proj)
                ]
                if kw in ("UPDATE", "DELETE"):
                    # UPDATE ... FROM must take the change-feed path below:
                    # _UPDATE_RE's lazy SET group would swallow the FROM
                    # clause and misparse the assignments (mirrors the
                    # dispatch order in _execute)
                    um = (
                        _UPDATE_RE.match(body)
                        if kw == "UPDATE" and not _UPDATE_FROM_RE.match(body)
                        else None
                    )
                    dm = _DELETE_RE.match(body) if kw == "DELETE" else None
                    if um or dm:
                        where = (um or dm).group(3 if um else 2)
                        pre = self.catalog.current_snapshot
                        self._execute(body)
                        # pre-image via time travel: stays distributed
                        # (no driver-side collect of the affected set)
                        hits = self.table_df(tname, snapshot=pre)
                        if where:
                            hits = hits.filter(apply_expr_dialect(where))
                        if um:
                            schema = self.table_schema(tname)
                            assignments = _parse_set_list(
                                apply_expr_dialect(um.group(2)),
                                schema.fieldNames(), kw,
                            )
                            hits = hits.select(
                                *[
                                    F.expr(assignments[f.name])
                                    .cast(f.dataType)
                                    .alias(f.name)
                                    if f.name in assignments
                                    else F.col(f.name)
                                    for f in schema.fields
                                ]
                            )
                        return hits.selectExpr(*projections)
                pre = self.catalog.current_snapshot
                self._execute(body)
                changes = self.table_changes(tname, pre)
                kind = "delete" if kw == "DELETE" else "insert"
                out = changes.filter(F.col("change_type") == kind).drop(
                    "change_type"
                )
                return out.selectExpr(*projections)
        m = _INSERT_OR_RE.match(stmt)
        if m:
            # DuckDB shorthand upserts keyed by the table's PRIMARY KEY:
            # INSERT OR REPLACE = ON CONFLICT DO UPDATE every non-key
            # column; INSERT OR IGNORE = ON CONFLICT DO NOTHING.  Pure
            # text rewrite onto the ON CONFLICT machinery below.
            mode, tname, col_list, source = m.groups()
            name = _unqualify(tname)
            tid = self.catalog.table_id(name)
            pk_json = self.catalog.get_tag(tid, "primary_key")
            if not pk_json:
                raise ValueError(
                    f"INSERT OR {mode.upper()}: table {name!r} has no "
                    "PRIMARY KEY to detect conflicts on"
                )
            pks = json.loads(pk_json)
            if mode.upper() == "IGNORE":
                action = "NOTHING"
            else:
                non_pk = [
                    f.name
                    for f in self.table_schema(name).fields
                    if f.name not in pks
                ]
                if not non_pk:
                    action = "NOTHING"
                else:
                    action = "UPDATE SET " + ", ".join(
                        f"{c} = excluded.{c}" for c in non_pk
                    )
            return self._execute(
                f"INSERT INTO {tname} {col_list or ''} {source} "
                f"ON CONFLICT ({', '.join(pks)}) DO {action}"
            )
        m = _ON_CONFLICT_RE.match(stmt)
        if m:
            # DuckDB upsert: INSERT … ON CONFLICT (keys) DO NOTHING /
            # DO UPDATE SET … — rewritten onto the MERGE machinery
            # (delete-file + append commit; no table rewrite), with the
            # source exposed under the standard ``excluded`` alias
            name = _unqualify(m.group(1))
            col_list, source, keys_txt, action = (
                m.group(2),
                m.group(3).strip(),
                m.group(4),
                m.group(5).strip(),
            )
            names = (
                [c.strip().strip('"') for c in col_list.strip("()").split(",")]
                if col_list
                else [f.name for f in self.table_schema(name).fields]
            )
            if keys_txt is None:
                # bare ON CONFLICT (no target): DuckDB falls back to
                # the table's PRIMARY KEY
                pk_json = self.catalog.get_tag(
                    self.catalog.table_id(name), "primary_key"
                )
                if not pk_json:
                    raise ValueError(
                        f"ON CONFLICT without a target: table {name!r} "
                        "has no PRIMARY KEY to detect conflicts on"
                    )
                keys = json.loads(pk_json)
            else:
                keys = [k.strip().strip('"') for k in keys_txt.split(",")]
            if re.match(r"^\s*VALUES", source, re.I):
                src = (
                    f"(SELECT * FROM ({source}) "
                    f"AS __v({', '.join(names)}))"
                )
            else:
                src = f"({source})"
            cond = " AND ".join(f"{name}.{k} = excluded.{k}" for k in keys)
            actions = "WHEN NOT MATCHED THEN INSERT *"
            if _MERGE_UPDATE_ACTION_RE.match(action):
                actions += f" WHEN MATCHED THEN {action}"
            elif not re.match(r"^NOTHING\s*$", action, re.I):
                raise ValueError(
                    f"ON CONFLICT: unsupported action {action!r}"
                )
            return self._merge(name, None, src, "excluded", cond, actions)
        m = _INSERT_DEFAULTS_RE.match(stmt)
        if m:
            # INSERT INTO t DEFAULT VALUES: one row of each column's
            # default (NULL where none) — synthesized as an explicit
            # SELECT so default expressions (nextval, CURRENT_DATE, …)
            # run through the ordinary dialect/expression path
            name = _unqualify(m.group(1))
            tid = self.catalog.table_id(name)
            cols = self.catalog.columns(tid)
            exprs = []
            for r in cols.itertuples():
                if pd.notna(r.default_value):
                    exprs.append(str(r.default_value))
                else:
                    duck_t = str(r.column_type)
                    exprs.append(f"CAST(NULL AS {duck_t})")
            src = "SELECT " + ", ".join(exprs)
            if _NEXTVAL_RE.search(src):
                src = self._rewrite_seq_calls(src)
            return self._insert(name, None, src)
        m = _INSERT_RE.match(stmt)
        if m:
            return self._insert(
                _unqualify(m.group(1)),
                m.group(2),
                m.group(4),
                by_name=bool(m.group(3)),
            )
        m = _DELETE_USING_RE.match(stmt) or _UPDATE_FROM_RE.match(stmt)
        if m:
            # DELETE … USING and UPDATE … FROM (join mutations, DuckDB/
            # Postgres) are MERGE's matched arms: same delete-file +
            # append commit
            if m.re is _DELETE_USING_RE:
                tgt, talias, src, salias, collist, where = m.groups()
                action = "DELETE"
            else:
                tgt, talias, set_clause, src, salias, collist, where = m.groups()
                action = f"UPDATE SET {set_clause}"
            if salias is None and not src.startswith("("):
                salias = _unqualify(src)  # bare name refs resolve as-is
            return self._merge(
                tgt, talias, _aliased_source(src, salias, collist),
                salias, where, f"WHEN MATCHED THEN {action}",
            )
        m = _DELETE_RE.match(stmt)
        if m:
            return self._delete(_unqualify(m.group(1)), m.group(2))
        m = _UPDATE_RE.match(stmt)
        if m:
            return self._update(_unqualify(m.group(1)), m.group(2), m.group(3))
        m = _TRUNCATE_RE.match(stmt)
        if m:
            self.catalog.truncate_table(_unqualify(m.group(1)))
            return None
        m = _COPY_FROM_RE.match(stmt)
        if m:
            return self._copy_from(_unqualify(m.group(1)), m.group(2), m.group(3))
        m = _COPY_RE.match(stmt)
        if m:
            return self._copy_to(m.group(1), m.group(2), m.group(3))
        m = _MERGE_RE.match(stmt)
        if m:
            return self._merge(*m.groups())
        m = _COMMENT_RE.match(stmt)
        if m:
            kind, target, text = m.groups()
            text = text.replace("''", "'")
            if kind.upper() == "TABLE":
                self.catalog.set_tag(
                    self.catalog.table_id(_unqualify(target)), "comment", text
                )
            else:
                parts = target.replace('"', "").split(".")
                if len(parts) < 2:
                    raise ValueError(f"COMMENT ON COLUMN needs table.column: {target}")
                tname, cname = parts[-2], parts[-1]
                tid = self.catalog.table_id(tname)
                cols = self.catalog.columns(tid)
                hit = cols[cols["column_name"] == cname]
                if hit.empty:
                    raise KeyError(f"column not found: {target}")
                self.catalog.set_tag(
                    tid, "comment", text, column_id=int(hit.iloc[0]["column_id"])
                )
            return None
        m = _SHOW_TABLES_RE.match(stmt)
        if m:
            return self._select(
                "SELECT table_name AS name FROM information_schema.tables "
                "ORDER BY table_name"
            )
        if re.match(r"^\s*SHOW\s+ALL\s+TABLES\s*$", stmt, re.I):
            # DuckDB's wide listing: one row per table with the column
            # name/type vectors inline
            rows = []
            for t in sorted(self.catalog.table_names()):
                cols = self.catalog.columns(self.catalog.table_id(t))
                rows.append(
                    (
                        self.current_db or "memory",
                        "main",
                        t,
                        [str(c) for c in cols["column_name"]],
                        [str(c) for c in cols["column_type"]],
                        False,
                    )
                )
            schema = (
                "database string, schema string, name string, "
                "column_names array<string>, column_types array<string>, "
                "temporary boolean"
            )
            df = self.spark.createDataFrame(
                rows or [("", "", "", [], [], False)], schema
            )
            return df if rows else df.filter(F.col("name") != "")
        m = re.match(
            r"^\s*(?:DESCRIBE|DESC)\s+((?:SELECT|WITH|FROM)\b.*)$",
            stmt,
            re.I | re.S,
        )
        if m:
            # DuckDB's DESCRIBE <query>: the query's schema without
            # executing it (analysis only — no jobs run).  DuckDB's
            # 6-column shape: null as 'YES'/'NO', key/default/extra.
            df = self._select(m.group(1))
            return self.spark.createDataFrame(
                [
                    (f.name, _spark_type_to_ducklake(f.dataType),
                     "YES" if f.nullable else "NO", None, None, None)
                    for f in df.schema.fields
                ],
                _DESCRIBE_SCHEMA,
            )
        m = _DESCRIBE_RE.match(stmt)
        if m:
            name = _unqualify(m.group(1))
            try:
                tid = self.catalog.table_id(name)
            except (KeyError, ValueError):
                # temp views / registered DataFrames: describe the scan
                return self.sql(f"DESCRIBE SELECT * FROM {m.group(1)}")
            cols = self.catalog.columns(tid)
            pks = set(
                json.loads(self.catalog.get_tag(tid, "primary_key") or "[]")
            )
            return self.spark.createDataFrame(
                [
                    (r.column_name, r.column_type,
                     "YES" if bool(r.nulls_allowed) else "NO",
                     "PRI" if r.column_name in pks else None,
                     None if r.initial_default is None
                     else str(r.initial_default),
                     None)
                    for r in cols.itertuples()
                ],
                _DESCRIBE_SCHEMA,
            )
        m = _EXPLAIN_RE.match(stmt)
        if m:
            df = self._select(m.group(2))
            mode = (m.group(1) or "").strip().upper()
            plan = df._jdf.queryExecution()
            if mode == "ANALYZE":
                # DuckDB's EXPLAIN ANALYZE RUNS the query; executing
                # first means the AQE plan shown is the FINAL one
                # (isFinalPlan=true — real join strategies, coalesced
                # partitions) instead of the speculative initial plan,
                # plus measured wall time and cardinality
                import time as _time

                t0 = _time.perf_counter()
                # execute THIS plan (count() would execute a different
                # one and leave ours un-finalized); a diagnostic
                # statement buffering its result matches DuckDB
                n_rows = len(df.collect())
                wall = _time.perf_counter() - t0
                text = plan.executedPlan().toString() + (
                    f"\n== Analyze ==\nrows: {n_rows}\n"
                    f"wall: {wall:.3f}s"
                )
            else:
                text = plan.executedPlan().toString()
            return self.spark.createDataFrame(
                [(line,) for line in text.splitlines()], "plan string"
            )
        m = _SUMMARIZE_RE.match(stmt)
        if m:
            return self._summarize(m.group(1))
        return self._select_statement(stmt)

    def _select_statement(self, stmt: str) -> DataFrame:
        """SELECT-like statements that are not plain selects — the
        PIVOT / UNPIVOT statement forms — then the ordinary select
        path.  Shared by sql() dispatch AND view re-resolution, so a
        view stored over a PIVOT statement resolves correctly
        (round-6 pivot fuzz find)."""
        m = _PIVOT_RE.match(stmt)
        if m:
            # DuckDB's PIVOT statement → Spark's native pivot: value
            # discovery is one distinct scan (skipped when IN (…) pins
            # the values), then a pivoted hash aggregation (partial
            # map-side, one shuffle on the group key)
            src, on, in_vals, using, group, order, limit = m.groups()
            src = src.strip()
            on = on.strip('"')
            df = (
                self._select(src[1:-1])
                if src.startswith("(") and src.endswith(")")
                else self._select(f"SELECT * FROM {src}")
            )
            if group:
                gb = [c.strip().strip('"') for c in split_top_level(group)]
            else:
                # DuckDB's implicit grouping: every column not pivoted ON
                # and not referenced by the USING aggregate
                gb = [
                    c
                    for c in df.columns
                    if c != on
                    and not re.search(rf"\b{re.escape(c)}\b", using, re.I)
                ]
            piv = df.groupBy(*gb)
            if in_vals is not None:
                values = [
                    v.strip().strip("'\"") for v in split_top_level(in_vals)
                ]
                out = piv.pivot(on, values).agg(F.expr(using))
            else:
                out = piv.pivot(on).agg(F.expr(using))
            if re.match(r"(?is)^\s*count(_if)?\s*\(", using):
                # DuckDB fills absent (group, pivot-value) cells with
                # the aggregate's EMPTY-INPUT value — 0 for the count
                # family, where Spark's pivot leaves NULL
                out = out.select(*[
                    out[c] if c in gb
                    else F.coalesce(out[c], F.lit(0)).alias(c)
                    for c in out.columns
                ])
            if order or limit:
                # trailing ORDER BY / LIMIT re-enter the full select
                # path so ordinals and null-ordering defaults apply
                view = "__pivot_result"
                out.createOrReplaceTempView(view)
                tail = (f" ORDER BY {order}" if order else "") + (
                    f" LIMIT {limit}" if limit else ""
                )
                return self._select(f"SELECT * FROM {view}{tail}")
            return out
        m = _UNPIVOT_RE.match(stmt)
        if m:
            # DuckDB's UNPIVOT statement → Spark's native unpivot (a
            # per-row expand, no shuffle)
            src, on, nname, vname, order, limit = m.groups()
            src = src.strip()
            df = (
                self._select(src[1:-1])
                if src.startswith("(") and src.endswith(")")
                else self._select(f"SELECT * FROM {src}")
            )
            vals = [c.strip().strip('"') for c in split_top_level(on)]
            ids = [c for c in df.columns if c not in vals]
            out = df.unpivot(
                ids, vals, nname.strip('"'), vname.strip('"')
            )
            # DuckDB UNPIVOT excludes NULL cells by default (same as
            # SQL-standard UNPIVOT's EXCLUDE NULLS); Spark's DataFrame
            # unpivot keeps them (round-6 pivot fuzz find)
            out = out.filter(F.col(vname.strip('"')).isNotNull())
            if order or limit:
                view = "__unpivot_result"
                out.createOrReplaceTempView(view)
                tail = (f" ORDER BY {order}" if order else "") + (
                    f" LIMIT {limit}" if limit else ""
                )
                return self._select(f"SELECT * FROM {view}{tail}")
            return out
        return self._select(stmt)

    def _summarize(self, target: str) -> DataFrame:
        """DuckDB's ``SUMMARIZE tbl`` / ``SUMMARIZE SELECT …``: one row
        per column with min/max/distinct/null%, plus avg/std/quartiles
        for numeric columns.  Computed as a single Spark aggregate pass
        (every statistic partial-aggregates map-side; quartiles via
        percentile_approx — documented as approximate, like DuckDB's
        approx quantiles at scale)."""
        target = target.strip()
        # strip ONE matched outer paren pair only — .strip("()") would
        # also eat the closing paren of a trailing function call like
        # read_parquet('…')
        if target.startswith("(") and matching_paren(target, 0) == len(
            target
        ) - 1:
            target = target[1:-1].strip()
        if target.upper().startswith(("SELECT", "WITH", "FROM", "VALUES")):
            df = self._select(target)
        elif re.match(r"^read_\w+\s*\(", target, re.I):
            df = self._select(f"SELECT * FROM {target}")
        else:
            try:
                df = self.table_df(_unqualify(target))
            except (KeyError, ValueError):
                # temp views / registered DataFrames summarize too
                df = self._select(f"SELECT * FROM {target}")
        # row count folds into the same aggregate pass as the per-column
        # stats — one job, not a count() job plus an agg job
        aggs = [F.count(F.lit(1)).alias("__smz_n")]
        numeric = {
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.NumericType)
        }
        for f in df.schema.fields:
            c = f.name
            aggs += [
                F.min(c).cast("string").alias(f"__min_{c}"),
                F.max(c).cast("string").alias(f"__max_{c}"),
                F.approx_count_distinct(c).alias(f"__dist_{c}"),
                F.count(F.when(F.col(c).isNull(), 1)).alias(f"__null_{c}"),
            ]
            if c in numeric:
                aggs += [
                    F.avg(c).cast("double").alias(f"__avg_{c}"),
                    F.stddev(c).cast("double").alias(f"__std_{c}"),
                    F.percentile_approx(c, [0.25, 0.5, 0.75]).alias(
                        f"__q_{c}"
                    ),
                ]
        row = df.agg(*aggs).collect()[0]
        n = row["__smz_n"]
        out = []
        from decimal import Decimal

        for f in df.schema.fields:
            c = f.name
            q = row[f"__q_{c}"] if c in numeric else None
            integral = isinstance(f.dataType, T.IntegralType)

            def _fmt(v, integral=integral):
                # DuckDB renders avg/std/quantiles as VARCHAR; integer
                # columns keep integer-valued quantiles
                if v is None:
                    return None
                return str(int(v)) if integral else str(float(v))

            out.append(
                (
                    c,
                    _spark_type_to_ducklake(f.dataType),
                    row[f"__min_{c}"],
                    row[f"__max_{c}"],
                    int(row[f"__dist_{c}"]),
                    str(float(row[f"__avg_{c}"]))
                    if c in numeric and row[f"__avg_{c}"] is not None
                    else None,
                    str(float(row[f"__std_{c}"]))
                    if c in numeric and row[f"__std_{c}"] is not None
                    else None,
                    _fmt(q[0]) if q else None,
                    _fmt(q[1]) if q else None,
                    _fmt(q[2]) if q else None,
                    int(n),
                    Decimal(100.0 * row[f"__null_{c}"] / n).quantize(
                        Decimal("0.01")
                    )
                    if n
                    else Decimal("0.00"),
                )
            )
        return self.spark.createDataFrame(
            out,
            "column_name string, column_type string, min string, max string, "
            "approx_unique bigint, avg string, std string, q25 string, "
            "q50 string, q75 string, count bigint, null_percentage decimal(9,2)",
        )

    # ------------------------------------------------------------------- DDL

    def _parse_columns(
        self, body: str
    ) -> tuple[
        list[tuple[str, str, bool, str | None]],
        list[str],
        list[str],
        list[tuple[str, str]],
    ]:
        """Column definitions → ((name, type, nulls_allowed, default_sql)
        list, CHECK-expression list, primary-key column list,
        (generated-column, expr) list).  NOT NULL and DEFAULT land in the
        catalog's ducklake_column row (the spec's nulls_allowed /
        default_value fields); CHECK constraints — column-level and
        table-level, optionally CONSTRAINT-named — are collected for
        write-time enforcement; PRIMARY KEY columns are RECORDED (they
        key the INSERT OR REPLACE/IGNORE upsert sugar) but not
        uniqueness-enforced (DuckLake doesn't enforce them);
        UNIQUE/FOREIGN KEY parse and are ignored.  Generated columns
        (``c [type] [GENERATED ALWAYS] AS (expr) [VIRTUAL]``) are
        DuckDB's VIRTUAL kind: computed at scan time, never stored; a
        declared type may be omitted (inferred from the expression)."""
        cols = []
        checks: list[str] = []
        pks: list[str] = []
        gens: list[tuple[str, str]] = []

        def take_check(text: str) -> tuple[str, str | None]:
            """Remove the first CHECK (...) from text, returning
            (text-without-it, inner expression or None)."""
            cm = re.search(r"\bCHECK\s*\(", text, re.I)
            if not cm:
                return text, None
            open_idx = cm.end() - 1
            close = matching_paren(text, open_idx)
            return (
                text[: cm.start()] + text[close + 1 :],
                text[open_idx + 1 : close].strip(),
            )

        for coldef in split_top_level(body):
            entry = coldef.strip()
            tm = re.match(
                r'(?:CONSTRAINT\s+[\w"]+\s+)?'
                r"(CHECK|PRIMARY\s+KEY|UNIQUE|FOREIGN\s+KEY)\s*\(",
                entry,
                re.I,
            )
            if tm:
                # table-level constraint entry, not a column definition
                kind = re.sub(r"\s+", " ", tm.group(1).upper())
                if kind == "CHECK":
                    _, expr = take_check(entry)
                    if expr:
                        checks.append(expr)
                elif kind == "PRIMARY KEY":
                    close = matching_paren(entry, tm.end() - 1)
                    pks.extend(
                        c.strip().strip('"')
                        for c in entry[tm.end() : close].split(",")
                        if c.strip()
                    )
                continue
            parts = entry.split(None, 1)
            if len(parts) != 2:
                raise ValueError(f"cannot parse column definition: {coldef!r}")
            cname = parts[0].strip('"')
            rest, col_check = take_check(parts[1].strip())
            rest = rest.strip()
            if col_check:
                checks.append(col_check)
            # generated column: top-level "AS (" after the optional type
            # and optional GENERATED ALWAYS (never inside a type's or
            # DEFAULT's parens — find_top_level_keyword is depth-0)
            as_pos = find_top_level_keyword(rest, "AS")
            if as_pos >= 0 and rest[as_pos + 2 :].lstrip().startswith("("):
                open_idx = rest.index("(", as_pos)
                close = matching_paren(rest, open_idx)
                tail = rest[close + 1 :].strip()
                if tail and not re.fullmatch(
                    r"(VIRTUAL|STORED)", tail, re.I
                ):
                    raise ValueError(
                        f"unsupported generated-column suffix: {tail!r}"
                    )
                gens.append((cname, rest[open_idx + 1 : close].strip()))
                head = re.sub(
                    r"\bGENERATED\s+ALWAYS\s*$",
                    "",
                    rest[:as_pos].strip(),
                    flags=re.I,
                ).strip()
                # empty type = infer from the expression at CREATE time
                cols.append((cname, head, True, None))
                continue
            nulls_allowed = not re.search(r"\bNOT\s+NULL\b", rest, re.I)
            if re.search(r"\bPRIMARY\s+KEY\b", rest, re.I):
                pks.append(cname)
            default = None
            if dm := re.search(
                r"\bDEFAULT\s+(.+?)\s*(?:NOT\s+NULL|PRIMARY\s+KEY|UNIQUE|$)",
                rest,
                flags=re.I,
            ):
                default = dm.group(1).strip() or None
            ctype = re.sub(
                r"\s+(NOT\s+NULL|NULL|PRIMARY\s+KEY|UNIQUE|DEFAULT\s+.*)$",
                "",
                rest,
                flags=re.I,
            )
            cols.append((cname, ctype.strip(), nulls_allowed, default))
        return cols, checks, pks, gens

    def _forget_enum_columns(self, name: str) -> None:
        """Drop the enum-column records and inline enums of table
        ``name``."""
        prefix = name.lower() + "."
        for key in [k for k in self._enum_cols if k.startswith(prefix)]:
            self._enum_cols.pop(key)
            self.catalog.set_metadata(f"enumcol:{key}", None)
        for key in [k for k in self._enums if k.startswith(prefix)]:
            self._enums.pop(key)
            self.catalog.set_metadata(f"enum:{key}", None)

    def _drop_table(self, name: str) -> None:
        self.catalog.drop_table(name)
        self._forget_enum_columns(name)

    def _create_table(
        self, name: str, body: str, if_not_exists: bool = False
    ) -> None:
        if if_not_exists and name in self.catalog.table_names():
            return None
        cols, checks, pks, gens = self._parse_columns(body)
        # an inline ENUM('a', …) column type is an enum of its own,
        # named after its column; registered once the table exists
        inline: dict[str, list[str]] = {}
        for i, c in enumerate(cols):
            em = re.fullmatch(r"ENUM\s*\((.*)\)", c[1].strip(), re.I | re.S)
            if em:
                etype = f"{name.lower()}.{c[0].lower()}"
                inline[etype] = [
                    _literal_str(v) for v in split_top_level(em.group(1))
                ]
                cols[i] = (c[0], etype, c[2], c[3])
        enums = {**self._enums, **inline}
        enum_cols: dict[str, str] = {}
        if enums:
            resolved = []
            for c in cols:
                base = c[1].strip().strip('"').lower()
                if base in enums:
                    vals = ", ".join(_sql_str(v) for v in enums[base])
                    # backticks: double quotes are string literals to
                    # Spark's parser, which the CHECK F.expr goes through
                    checks.append(f"`{c[0]}` IN ({vals})")
                    # remember the column's ENUM identity: ordering
                    # semantics (ORDER BY / min / max) follow the
                    # DEFINITION order, not lexical — the storage type
                    # is VARCHAR, so this registry is the only record
                    enum_cols[f"{name.lower()}.{c[0].lower()}"] = base
                    c = (c[0], "VARCHAR", c[2], c[3])
                resolved.append(c)
            cols = resolved
        if gens:
            # expressions store post-dialect; missing declared types are
            # inferred by analyzing the expression against the base
            # columns (an empty local frame — no Spark job runs)
            gen_exprs = {c: apply_expr_dialect(x) for c, x in gens}
            gen_names = set(gen_exprs)
            base_fields = [
                T.StructField(c[0], ducklake_type_to_spark(c[1]))
                for c in cols
                if c[0] not in gen_names
            ]
            probe = self.spark.createDataFrame(
                [], T.StructType(base_fields)
            ).select(
                "*",
                *[
                    F.expr(x).alias(c)
                    for c, x in gen_exprs.items()
                ],
            )
            inferred = {f.name: f.dataType for f in probe.schema.fields}
            cols = [
                (
                    c[0],
                    c[1] or _spark_type_to_ducklake(inferred[c[0]]),
                    c[2],
                    c[3],
                )
                for c in cols
            ]
        tid = self.catalog.create_table(name, cols)
        # enum records left by a previous table of this name must not
        # leak ordinal semantics onto the new columns
        self._forget_enum_columns(name)
        for etype, vals in inline.items():
            self._enums[etype] = vals
            self.catalog.set_metadata(f"enum:{etype}", json.dumps(vals))
        for key, base in enum_cols.items():
            self._enum_cols[key] = base
            self.catalog.set_metadata(f"enumcol:{key}", base)
        for c, x in gens:
            self.catalog.set_tag(tid, f"generated:{c}", apply_expr_dialect(x))
        if checks:
            # persisted as an MVCC table tag so constraints survive
            # engine restarts and version with the schema; stored
            # POST-dialect so enforcement F.expr sees Spark spellings
            checks = [apply_expr_dialect(c) for c in checks]
            self.catalog.set_tag(tid, "checks", json.dumps(checks))
        if pks:
            self.catalog.set_tag(tid, "primary_key", json.dumps(pks))
        return None

    def _create_table_as(
        self, name: str, select_sql: str, replace: bool = False
    ) -> None:
        # DuckDB allows `AS FROM …` and `AS VALUES …` bodies
        select_sql = rewrite_from_first(select_sql)
        if re.match(r"^\s*VALUES\b", select_sql, re.I):
            select_sql = f"SELECT * FROM ({select_sql})"
        df = self._select(select_sql)
        if replace and name in self.catalog.table_names():
            # materialize BEFORE the drop: the select may read the very
            # table being replaced
            df = df.localCheckpoint(eager=True)
            self._drop_table(name)
        columns = [
            (f.name, _spark_type_to_ducklake(f.dataType)) for f in df.schema.fields
        ]
        self.catalog.create_table(name, columns)
        self._write_dataframe(name, df)
        return None

    # ------------------------------------------------------------------- DML

    def table_schema(self, name: str, snapshot: int | None = None) -> T.StructType:
        tid = self.catalog.table_id(name, snapshot)
        cols = self.catalog.columns(tid, snapshot)
        return T.StructType(
            [
                T.StructField(r.column_name, ducklake_type_to_spark(r.column_type))
                for r in cols.itertuples()
            ]
        )

    def _bracket_column_sets(
        self, stmt: str
    ) -> tuple[
        frozenset[str] | None, frozenset[str] | None, frozenset[str] | None
    ]:
        """(MAP-typed, VARCHAR-typed, known-qualifiers) for every
        catalog table the statement references — the
        resolve-before-rewrite input that lets the bracket pass give
        ``m[k]`` on a map COLUMN DuckDB's list-wrapped semantics and
        ``s[2]``/``s[1:3]`` on a string COLUMN character semantics (a
        purely textual pass can only recognize syntactic
        ``map(...)``/literal operands).

        Scope-correct (VERDICT r6 task 5): the sets carry qualified
        ``alias.col`` entries for every alias the FROM/JOIN scan bound,
        and a BARE name only when its classification is consistent
        across all referenced tables that have the column — so an
        alias-qualified column sharing a name with another table's
        map/string column takes its OWN table's semantics.  Each set is
        None when empty (the common fast path)."""
        ids = {s.lower() for s in sql_identifiers(stmt)}
        alias_map = stmt_alias_tables(stmt)
        catalog_tables = {t.lower(): t for t in self.catalog.table_names()}
        referenced: dict[str, list[str]] = {}  # tbl_lower -> aliases
        for a, t in alias_map.items():
            if t in catalog_tables:
                referenced.setdefault(t, []).append(a)
        for t in catalog_tables:
            if t in ids:
                referenced.setdefault(t, []).append(t)
        maps: set[str] = set()
        strs: set[str] = set()
        # bare-name classification across referenced tables:
        # col -> set of 'map'/'str'/'other'
        classes: dict[str, set[str]] = {}
        for tbl, aliases in referenced.items():
            try:
                schema = self.table_schema(catalog_tables[tbl])
            except Exception:
                continue
            for f in schema.fields:
                c = f.name.lower()
                if isinstance(f.dataType, T.MapType):
                    cls = "map"
                elif isinstance(f.dataType, T.StringType):
                    cls = "str"
                else:
                    cls = "other"
                classes.setdefault(c, set()).add(cls)
                tgt = maps if cls == "map" else strs if cls == "str" else None
                if tgt is not None:
                    for a in set(aliases) | {tbl}:
                        tgt.add(f"{a}.{c}")
        # VALUES-alias columns classify from their literals (r8): the
        # qualified ref always binds; the bare name joins the
        # cross-relation consistency vote like any catalog column
        vcls = values_alias_column_classes(stmt)
        for ref, cls in vcls.items():
            (maps if cls == "map" else strs).add(ref)
            classes.setdefault(ref.split(".", 1)[1], set()).add(cls)
        for c, cl in classes.items():
            if cl == {"map"}:
                maps.add(c)
            elif cl == {"str"}:
                strs.add(c)
        known_quals = set(alias_map) | {
            r.split(".", 1)[0] for r in vcls
        }
        return (
            frozenset(maps) or None,
            frozenset(strs) or None,
            frozenset(known_quals) or None,
        )

    _ARROW_OPERAND_TYPE_RE = re.compile(
        r"^(JSON|VARCHAR|TEXT|STRING|CHAR|BPCHAR)(\(\d+\))?$", re.I
    )

    def _json_column_set(self, stmt: str) -> frozenset[str] | None:
        """Column refs (lower) on which a ``->`` arrow means JSON
        extraction, for every table the statement references — the
        resolve-before-rewrite input that closes SURVEY §8.12's "`->`
        deliberately not rewritten" gap (the operator is textually
        ambiguous with lambda syntax, so a purely syntactic pass could
        only accept ::JSON casts / json fn calls / JSON-looking
        literals).  DuckDB implicitly casts VARCHAR to JSON for the
        arrow operators (verified live: ``varchar_col -> 'k'``
        extracts), so the set carries every JSON- and VARCHAR-family
        declared column; Spark's schema can't distinguish them anyway
        (JSON maps to StringType), so resolution reads the catalog's
        declared type strings.  Scope rules mirror _bracket_column_sets:
        qualified ``alias.col`` entries always; a BARE name only when
        every referenced table that has the column declares it a string
        type."""
        ids = {s.lower() for s in sql_identifiers(stmt)}
        alias_map = stmt_alias_tables(stmt)
        catalog_tables = {t.lower(): t for t in self.catalog.table_names()}
        referenced: dict[str, list[str]] = {}
        for a, t in alias_map.items():
            if t in catalog_tables:
                referenced.setdefault(t, []).append(a)
        for t in catalog_tables:
            if t in ids:
                referenced.setdefault(t, []).append(t)
        out: set[str] = set()
        bare: dict[str, bool] = {}  # col -> consistently string-typed
        for tbl, aliases in referenced.items():
            try:
                tid = self.catalog.table_id(catalog_tables[tbl])
                cols = self.catalog.columns(tid)
            except Exception:
                continue
            for r in cols.itertuples():
                c = r.column_name.lower()
                is_str = bool(
                    self._ARROW_OPERAND_TYPE_RE.match(
                        str(r.column_type).strip()
                    )
                )
                if is_str:
                    for a in set(aliases) | {tbl}:
                        out.add(f"{a}.{c}")
                if c in bare:
                    bare[c] = bare[c] and is_str
                else:
                    bare[c] = is_str
        # VALUES-alias columns classified 'str' from their literals also
        # take the arrow (duckdb: VARCHAR implicitly casts to JSON)
        for ref, cls in values_alias_column_classes(stmt).items():
            is_str = cls == "str"
            if is_str:
                out.add(ref)
            c = ref.split(".", 1)[1]
            if c in bare:
                bare[c] = bare[c] and is_str
            else:
                bare[c] = is_str
        out.update(c for c, ok in bare.items() if ok)
        return frozenset(out) or None

    def _enum_order_values(
        self, stmt: str
    ) -> tuple[dict[str, list[str]], frozenset[str]]:
        """(column ref (lower) → declared enum values, known
        qualifiers) for enum-typed columns of every table the statement
        references.  The map carries qualified ``alias.col`` keys for
        every alias the FROM/JOIN scan bound, and a BARE key only when
        no other referenced table has a same-named non-enum (or
        different-enum) column — scope-correct resolution, VERDICT r6
        task 5.  Empty when no enum columns are in play (the universal
        fast path)."""
        if not self._enum_cols:
            return {}, frozenset()
        ids = {s.lower() for s in sql_identifiers(stmt)}
        alias_map = stmt_alias_tables(stmt)
        out: dict[str, list[str]] = {}
        bare: dict[str, list[str] | None] = {}  # None = conflicted
        referenced: set[str] = set()
        for key, ename in self._enum_cols.items():
            tbl, col = key.split(".", 1)
            aliases = {a for a, t in alias_map.items() if t == tbl}
            if tbl in ids:
                aliases.add(tbl)
            if not aliases or ename not in self._enums:
                continue
            referenced.add(tbl)
            vals = self._enums[ename]
            for a in aliases:
                out[f"{a}.{col}"] = vals
            if col in bare and bare[col] != vals:
                bare[col] = None
            else:
                bare[col] = vals
        # a same-named NON-enum column in any other referenced table
        # also conflicts the bare key
        if bare:
            for tbl in set(alias_map.values()) | (
                ids & {t.lower() for t in self.catalog.table_names()}
            ):
                try:
                    schema = self.table_schema(tbl)
                except Exception:
                    continue
                for f in schema.fields:
                    c = f.name.lower()
                    if c in bare and f"{tbl}.{c}" not in self._enum_cols:
                        bare[c] = None
        for col, vals in bare.items():
            if vals is not None:
                out.setdefault(col, vals)
        return out, frozenset(alias_map)

    def _rewrite_enum_order(self, stmt: str) -> str:
        """DuckDB enums order by DEFINITION order, not lexically —
        the engine stores them as VARCHAR (+ CHECK), so ORDER BY keys
        and min/max aggregates over enum columns rewrite to ordinal
        form: ``array_position(<declared values>, col)`` as the sort
        key; ``element_at(values, min/max(ordinal))`` as the
        aggregate.  Direct comparisons stay lexical (DuckDB 1.0's own
        enum-vs-varchar behavior, verified).  Emissions don't re-match
        (idempotent under chain re-entry).  Resolution is SCOPE-AWARE:
        alias-qualified columns bind to their own table's type via the
        FROM/JOIN alias scan; bare names resolve only when consistent
        across the referenced tables (VERDICT r6 task 5).  Columns of
        unresolvable scopes (VALUES aliases, subquery outputs) keep
        the bare-name fallback."""
        emap, known_quals = self._enum_order_values(stmt)
        if not emap:
            return stmt

        def _vals_of(colref: str) -> list[str] | None:
            c = colref.lower().strip('"')
            v = emap.get(c)
            if v is not None:
                return v
            if "." in c:
                q, b = c.rsplit(".", 1)
                if q in known_quals:
                    return None  # known scope — its table has no such enum
                return emap.get(b)
            return None

        def _arr(vals: list[str]) -> str:
            return "array(" + ", ".join(_sql_str(v) for v in vals) + ")"

        # window form first: ``min(enum) OVER (spec)`` — try_element_at
        # is not a window function, so the OVER must stay attached to
        # the min/max and the ordinal wrap goes OUTSIDE the windowed
        # aggregate.  Emissions carry array_position(...) as the
        # aggregate argument, so this loop cannot re-match its output.
        _win_mm_re = re.compile(
            r"\b(min|max)\s*\(\s*([A-Za-z_][\w.]*)\s*\)\s*OVER\s*\(",
            re.I,
        )
        pos0 = 0
        while True:
            wm = _win_mm_re.search(stmt, pos0)
            if not wm:
                break
            vals = _vals_of(wm.group(2))
            if not vals or _inside_string_literal(stmt, wm.start()):
                pos0 = wm.end()
                continue
            close = matching_paren(stmt, wm.end() - 1)
            spec = stmt[wm.end() : close]
            a = _arr(vals)
            fn, col = wm.group(1).lower(), wm.group(2)
            repl = (
                f"try_element_at({a}, CAST({fn}("
                f"array_position({a}, {col})) OVER ({spec}) AS INT))"
            )
            stmt = stmt[: wm.start()] + repl + stmt[close + 1 :]
            pos0 = wm.start() + len(repl)

        def _mm(m: re.Match) -> str:
            fn, col = m.group(1).lower(), m.group(2)
            vals = _vals_of(col)
            if not vals or _inside_string_literal(stmt, m.start()):
                return m.group(0)
            a = _arr(vals)
            return (
                f"try_element_at({a}, CAST({fn}("
                f"array_position({a}, {col})) AS INT))"
            )

        stmt = re.sub(
            r"\b(min|max)\s*\(\s*([A-Za-z_][\w.]*)\s*\)", _mm, stmt,
            flags=re.I,
        )
        # ORDER BY keys (top-level clauses and OVER specs alike)
        pos = 0
        while True:
            om = re.search(r"\bORDER\s+BY\b", stmt[pos:], re.I)
            if not om:
                return stmt
            start = pos + om.end()
            if _inside_string_literal(stmt, pos + om.start()):
                pos += om.end()
                continue
            i = _clause_end(stmt, start, _OB_BOUNDARY_RE)
            segment = stmt[start:i]
            keys = split_top_level(segment)
            new_keys = []
            for k in keys:
                km = re.match(
                    r"(\s*)([A-Za-z_][\w.]*)"
                    r"((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+"
                    r"(?:FIRST|LAST))?\s*)$",
                    k,
                    re.I,
                )
                vals = _vals_of(km.group(2)) if km else None
                if km and vals:
                    new_keys.append(
                        f"{km.group(1)}array_position({_arr(vals)}, "
                        f"{km.group(2)}){km.group(3)}"
                    )
                else:
                    new_keys.append(k)
            # split_top_level strips key whitespace — rebuild with
            # explicit separators so "ORDER BY" keeps its space
            new_seg = " " + ", ".join(k.strip() for k in new_keys) + " "
            stmt = stmt[:start] + new_seg + stmt[i:]
            pos = start + len(new_seg)

    def _insert(
        self,
        name: str,
        col_list: str | None,
        source_sql: str,
        by_name: bool = False,
    ) -> None:
        """``by_name`` (DuckDB's ``INSERT INTO t BY NAME``): align source
        columns strictly by name — unmatched table columns take their
        DEFAULT/NULL, and the positional fallback is disabled."""
        schema = self.table_schema(name)
        gen_names = {
            c
            for c, _x, _t in self._generated_cols(
                self.catalog.table_id(name), schema
            )
        }
        if col_list and gen_names & {
            c.strip().strip('"') for c in col_list.strip("()").split(",")
        }:
            raise ValueError(
                "cannot INSERT into a generated column"
            )
        if re.match(r"^\s*VALUES", source_sql, re.I):
            names = (
                [c.strip().strip('"') for c in col_list.strip("()").split(",")]
                if col_list
                else [
                    f.name
                    for f in schema.fields
                    if f.name not in gen_names
                ]
            )
            alias_cols = ", ".join(f"c{i}" for i in range(len(names)))
            # DuckDB bracket literals ([…] lists, {…} structs, MAP {…}),
            # dialect functions, and type aliases ('x'::BLOB) are valid
            # in VALUES tuples too
            source_sql = rewrite_duckdb_functions(
                rewrite_bracket_syntax(source_sql)
            )
            if re.search(r"\bDEFAULT\b", source_sql, re.I):
                # an explicit DEFAULT in a tuple slot takes the column's
                # default expression (NULL when none is declared); a
                # nextval-defaulted slot instead DROPS from the tuples so
                # the absent-column block-allocation path below assigns it
                defaults = {
                    r.column_name: r.default_value
                    for r in self.catalog.columns(
                        self.catalog.table_id(name)
                    ).itertuples()
                }

                def _is_seq(cname: str) -> bool:
                    d = defaults.get(cname)
                    return d is not None and not pd.isna(d) and bool(
                        re.fullmatch(
                            r"\s*nextval\(\s*'[^']+'\s*\)\s*", str(d), re.I
                        )
                    )

                body = re.sub(r"^\s*VALUES\s*", "", source_sql, flags=re.I)
                raw_tuples = [
                    split_top_level(t.strip()[1:-1])
                    for t in split_top_level(body)
                    if t.strip().startswith("(")
                ]
                drop_idx = {
                    i
                    for i, cname in enumerate(names)
                    if _is_seq(cname)
                    and all(
                        i < len(args) and args[i].strip().upper() == "DEFAULT"
                        for args in raw_tuples
                    )
                }
                out_tuples = []
                for args in raw_tuples:
                    kept = []
                    for idx, a in enumerate(args):
                        if idx in drop_idx:
                            continue
                        if a.strip().upper() == "DEFAULT" and idx < len(names):
                            if _is_seq(names[idx]):
                                raise ValueError(
                                    "DEFAULT on a nextval column must be "
                                    "used in every tuple or none"
                                )
                            d = defaults.get(names[idx])
                            a = (
                                "NULL"
                                if d is None or pd.isna(d)
                                else apply_expr_dialect(str(d))
                            )
                        kept.append(a.strip())
                    out_tuples.append(f"({', '.join(kept)})")
                if drop_idx:
                    names = [
                        c for i, c in enumerate(names) if i not in drop_idx
                    ]
                    alias_cols = ", ".join(f"c{i}" for i in range(len(names)))
                    # behave as an explicit column list from here on —
                    # the positional fallback must not re-consume slots
                    col_list = "(" + ", ".join(names) + ")"
                source_sql = "VALUES " + ", ".join(out_tuples)
            # one file per VALUES statement, as DuckLake writes it (a
            # local relation otherwise splits into a file per row)
            df = self.spark.sql(
                f"SELECT /*+ COALESCE(1) */ * FROM {source_sql} "
                f"AS __v({alias_cols})"
            )
            df = df.toDF(*names)
        else:
            df = self._select(source_sql)
            if col_list:
                names = [c.strip().strip('"') for c in col_list.strip("()").split(",")]
                df = df.toDF(*names)
        # align to table schema: by-name where names match; positional
        # fallback ONLY when no explicit column list was given (with a
        # column list, every unlisted table column gets its DEFAULT, else
        # NULL — the SQL semantics; falling through positionally would
        # re-consume listed source columns into the wrong slots)
        tid = self.catalog.table_id(name)
        meta = {
            r.column_name: (
                bool(r.nulls_allowed),
                None if pd.isna(r.default_value) else str(r.default_value),
            )
            for r in self.catalog.columns(tid).itertuples()
        }
        # one selectExpr over SQL text: a per-column Column chain costs
        # several driver↔JVM round trips per F.* call
        aligned = []
        src_fields = df.schema.fields
        n_rows: int | None = None
        n_gen_before = 0  # generated cols never consume a positional slot
        for i, f in enumerate(schema.fields):
            tsql = _type_sql(f.dataType)
            if f.name in gen_names:
                # VIRTUAL: stored as NULL placeholder, computed at scan
                n_gen_before += 1
                aligned.append(f"CAST(NULL AS {tsql}) AS {_bq(f.name)}")
                continue
            i = i - n_gen_before
            nulls_ok, default = meta.get(f.name, (True, None))
            seq_m = (
                re.fullmatch(r"\s*nextval\(\s*'([^']+)'\s*\)\s*", default, re.I)
                if default is not None
                else None
            )
            if f.name in df.columns:
                col = _bq(f.name)
            elif col_list is None and not by_name and i < len(src_fields):
                # backtick-quoted — a literal-derived source column can
                # be named "0.0", which unquoted resolution would parse
                # as a struct-field access
                col = _bq(src_fields[i].name)
            elif seq_m:
                # DEFAULT nextval('seq'): block-allocate against the
                # actual row count (one count job, one catalog commit),
                # then assign base + increment*(row_number-1).  The
                # un-partitioned row_number is the id-assignment step; at
                # 100 TB you'd block-allocate per partition
                # (mapPartitions + partition offsets) — same contract,
                # no global sort
                if n_rows is None:
                    n_rows = df.count()
                base, inc = self._seq_alloc(seq_m.group(1), n_rows)
                col = (
                    f"({base} + {inc} * (row_number() OVER "
                    "(ORDER BY monotonically_increasing_id()) - 1))"
                )
            elif default is not None:
                col = f"({default})"
            else:
                col = "NULL"
            col = f"CAST({col} AS {tsql})"
            if not nulls_ok:
                # enforced inside the write projection (raise_error is a
                # row expression) — no extra validation pass over the data
                msg = _sql_string(f"NOT NULL constraint failed: {name}.{f.name}")
                col = (
                    f"CASE WHEN {col} IS NULL THEN "
                    f"CAST(raise_error({msg}) AS {tsql}) ELSE {col} END"
                )
            aligned.append(f"{col} AS {_bq(f.name)}")
        self._write_dataframe(name, df.selectExpr(*aligned))
        return None

    def _write_dataframe(self, name: str, df: DataFrame) -> None:
        """Write parquet through executors, then register files + footer
        stats (SURVEY §4 item 4: stats from parquet footers — metadata-only,
        no second Spark job).

        CHECK constraints are enforced by fusing a violation counter into
        the write job itself via ``df.observe`` — no separate validation
        pass over the data.  On violation the just-written files were
        never registered (so no snapshot ever exposed them); their bytes
        are removed and the statement fails, which is the DuckDB abort
        semantic.  NULL check results pass, per the SQL standard."""
        tid = self.catalog.table_id(name)
        limit = self.inline_row_limit
        if limit > 0:
            # Data inlining (DuckLake spec): a trickle insert of <= limit
            # rows is stored as catalog rows, not a parquet file —
            # take(limit+1) bounds the probe, and a source bigger than
            # the limit falls through to the normal file write.  At the
            # 100 TB design point this is what keeps a streaming-ish
            # ingest from minting millions of KB-sized files between
            # compactions.
            head = df.take(limit + 1)
            if len(head) <= limit:
                self._write_inlined(name, tid, head, df.schema)
                return
        df, raise_on_violation = self._check_observer(tid, name, df)
        files, col_stats = self._write_files(name, tid, df)
        try:
            raise_on_violation()
        except ValueError:
            if files:
                # every file of this statement lives under one
                # insert-<uuid> directory — drop it whole
                d = os.path.dirname(files[0]["path"])
                while d and not os.path.basename(d).startswith("insert-"):
                    d = os.path.dirname(d)
                if os.path.basename(d).startswith("insert-"):
                    iofs.rmtree(d, ignore_errors=True)
            raise
        if files:
            self.catalog.register_data_files(tid, files, col_stats)

    @property
    def inline_row_limit(self) -> int:
        """Effective data-inlining row limit: the DuckDB-style session
        setting (``SET ducklake.data_inlining_row_limit = N``) wins over
        the constructor default; 0 disables inlining."""
        for k, v in self.session_settings.items():
            key = k.lower()
            if key.endswith("data_inlining_row_limit"):
                try:
                    return int(str(v).strip())
                except ValueError:
                    return 0
        return self.data_inlining_row_limit

    def _write_inlined(
        self, name: str, tid: int, rows, schema: T.StructType
    ) -> None:
        """Commit an insert as catalog-inlined rows (no parquet file).

        NOT NULL was already enforced inside the projection the rows
        came through (raise_error fires during take()); CHECKs are
        validated here on the driver-local row set — it is <= the
        inlining limit by construction, so no Spark job is needed."""
        if not rows:
            return
        viol, checks = self._check_violation_col(tid)
        if viol is not None:
            tiny = self.spark.createDataFrame(rows, schema)
            n_viol = (
                tiny.select(F.sum(viol.cast("long")).alias("v")).collect()[0][
                    "v"
                ]
                or 0
            )
            if n_viol:
                raise ValueError(
                    f"CHECK constraint violated on table {name!r}: "
                    f"{n_viol} row(s) failed {checks}"
                )
        rows_json = [
            json.dumps(
                {
                    f.name: _inline_encode_value(r[f.name], f.dataType)
                    for f in schema.fields
                }
            )
            for r in rows
        ]
        self.catalog.append_inlined(tid, rows_json)

    def _union_inlined(
        self,
        df: DataFrame,
        tid: int,
        snapshot: int | None,
        schema: T.StructType,
        with_position: bool,
    ) -> DataFrame:
        """Append the snapshot's live catalog-inlined rows to a table
        scan.  Inlined rows bypass file skipping (they have no file
        stats) and positional delete files (their deletes are MVCC
        end_snapshot transitions)."""
        inl = self.catalog.inlined_rows(tid, snapshot)
        if inl.empty:
            return df
        return df.unionByName(
            self._inlined_frame(inl, tid, snapshot, schema, with_position)
        )

    def _inlined_frame(
        self,
        inl: pd.DataFrame,
        tid: int,
        snapshot: int | None,
        schema: T.StructType,
        with_position: bool,
    ) -> DataFrame:
        """The catalog-inlined rows ``inl`` decoded as a frame of
        ``schema`` (as of ``snapshot``); position columns carry a
        ``__inlined__/<tid>`` marker + the spec row_id so DML can tell
        them from file rows."""
        # a row's JSON keys are the column names live when it was
        # inlined: read each column under the name it had then, and a
        # column born after the row as its initial_default or NULL
        all_cols = self.catalog.tables["ducklake_column"]
        all_cols = all_cols[all_cols["table_id"] == tid]
        names_at: dict[str, list[tuple[str, int, float]]] = {}
        defaults: dict[str, tuple[str, int]] = {}
        for c in self.catalog.columns(tid, snapshot).itertuples():
            hist = all_cols[all_cols["column_id"] == c.column_id]
            names_at[c.column_name] = [
                (h.column_name, int(h.begin_snapshot),
                 float("inf") if pd.isna(h.end_snapshot) else h.end_snapshot)
                for h in hist.itertuples()
            ]
            if pd.notna(c.initial_default):
                defaults[c.column_name] = (
                    str(c.initial_default), int(hist["begin_snapshot"].min())
                )

        def stored_name(col: str, begin: int) -> str | None:
            for n, b, e in names_at[col]:
                if b <= begin < e:
                    return n
            return None

        data = []
        for r in inl.itertuples():
            obj = json.loads(r.row_json)
            begin = int(r.begin_snapshot)
            row = {}
            for f in schema.fields:
                n = stored_name(f.name, begin)
                row[f.name] = (
                    None if n is None
                    else _inline_decode_value(obj.get(n), f.dataType)
                )
            row["__ibegin"] = begin
            if with_position:
                row["__file"] = f"__inlined__/{tid}"
                row["__pos"] = int(r.row_id)
            data.append(row)
        s = T.StructType(
            list(schema.fields)
            + [T.StructField("__ibegin", T.LongType())]
            + (
                [
                    T.StructField("__file", T.StringType()),
                    T.StructField("__pos", T.LongType()),
                ]
                if with_position
                else []
            )
        )
        rows = self.spark.createDataFrame(
            LocalDataToArrowConversion.convert(data, s, False), s
        )
        for f in schema.fields:
            if f.name in defaults:
                dflt, born = defaults[f.name]
                rows = rows.withColumn(
                    f.name,
                    F.when(
                        F.col("__ibegin") < born, F.expr(dflt).cast(f.dataType)
                    ).otherwise(F.col(f.name)),
                )
        return rows.drop("__ibegin")

    def _generated_cols(
        self, tid: int, schema: T.StructType, snapshot: int | None = None
    ) -> list[tuple[str, str, T.DataType]]:
        """(name, expr, declared type) for the table's generated columns,
        in schema order — from the MVCC ``generated:<col>`` table tags,
        read in one pass over the live tags."""
        tags = self.catalog.live("ducklake_tag", snapshot)
        if tags.empty:
            return []
        tags = tags[
            (tags["object_id"] == tid) & tags["key"].str.startswith("generated:")
        ]
        exprs = {
            k.split(":", 1)[1]: str(v) for k, v in zip(tags["key"], tags["value"])
        }
        return [
            (f.name, exprs[f.name], f.dataType)
            for f in schema.fields
            if f.name in exprs
        ]

    def _apply_generated(
        self,
        df: DataFrame,
        tid: int,
        schema: T.StructType,
        snapshot: int | None = None,
    ) -> DataFrame:
        """Compute VIRTUAL generated columns over a scan.  The stored
        placeholder (NULL) is replaced by the expression — computed
        inside the scan projection, whole-stage codegen, zero storage."""
        for name, expr, dtype in self._generated_cols(tid, schema, snapshot):
            df = df.withColumn(name, F.expr(expr).cast(dtype))
        return df

    def flush_inlined(self, name: str | None = None) -> int:
        """Materialize catalog-inlined rows into parquet data files
        (``CALL ducklake_flush_inlined_data()``): one snapshot retires
        the inlined rows and registers the new files, so every snapshot
        sees exactly one copy.  Flushed rows draw fresh row ids from the
        table counter; nothing references the old ids (positional
        deletes key on file path + position).  Returns rows flushed."""
        names = [name] if name else self.catalog.table_names()
        total = 0
        with self.catalog.statement():
            for t in names:
                tid = self.catalog.table_id(t)
                inl = self.catalog.inlined_rows(tid)
                if inl.empty:
                    continue
                # decoded as a scan reads them (names as of each row's
                # snapshot, initial defaults); bounded by the inlining
                # limit per insert — one compact file is the whole point
                # of flushing
                df = self._inlined_frame(
                    inl, tid, None, self.table_schema(t), with_position=False
                ).coalesce(1)
                files, col_stats = self._write_files(t, tid, df)
                self.catalog.end_inlined_rows(tid, [int(x) for x in inl["row_id"]])
                if files:
                    self.catalog.register_data_files(tid, files, col_stats)
                total += len(inl)
        return total

    def _check_observer(self, tid: int, name: str, df: DataFrame):
        """Attach the table's CHECK-constraint violation counter to df.

        Returns ``(df, raise_on_violation)``: if the table has CHECKs, a
        ``CollectMetrics`` node counting violating rows is fused into the
        plan (computed by whatever action runs next — write or cache
        materialization — never a separate validation pass), and calling
        ``raise_on_violation()`` after that action raises if any row
        failed.  NULL check results pass, per the SQL standard.  Tables
        without CHECKs get the df back untouched and a no-op callback."""
        viol, checks = self._check_violation_col(tid)
        if viol is None:
            return df, lambda: None
        from pyspark.sql import Observation

        obs = Observation(f"checks_{uuid.uuid4().hex[:8]}")
        df = df.observe(obs, F.sum(viol.cast("long")).alias("violations"))

        def raise_on_violation():
            n_viol = obs.get["violations"] or 0
            if n_viol:
                raise ValueError(
                    f"CHECK constraint violated on table {name!r}: "
                    f"{n_viol} row(s) failed {checks}"
                )

        return df, raise_on_violation

    # ------------------------------------------------------------- sequences

    def _seq_state(self, name: str) -> dict | None:
        raw = self.catalog.get_tag(0, f"sequence:{name}")
        if raw is None:
            return None
        return json.loads(raw)  # None after DROP SEQUENCE

    def _seq_alloc(self, name: str, n: int = 1) -> tuple[int, int]:
        """Block-allocate ``n`` consecutive sequence values; returns
        (first value, increment).  One catalog-tag commit per STATEMENT,
        never per row — the only scalable sequence shape: a 100 TB insert
        takes one allocation of its row count, not 10^11 round-trips."""
        st = self._seq_state(name)
        if not st:
            raise ValueError(f"no sequence named {name!r}")
        base, inc = st["next"], st["increment"]
        if n > 0:
            st["next"] = base + n * inc
            st["last"] = base + (n - 1) * inc
            self.catalog.set_tag(0, f"sequence:{name}", json.dumps(st))
        return base, inc

    def _seq_curr(self, name: str) -> int:
        st = self._seq_state(name)
        if not st:
            raise ValueError(f"no sequence named {name!r}")
        if st.get("last") is None:
            raise ValueError(
                f"currval: sequence {name!r} has not been used yet"
            )
        return st["last"]

    def _rewrite_seq_calls(self, stmt: str) -> str:
        """Substitute nextval('s')/currval('s') call sites with allocated
        literal values.  INSERT … VALUES allocates per row-tuple per call
        site (DuckDB's order); a FROM-less statement (SELECT nextval(…))
        allocates once per call site.  nextval over an arbitrary
        FROM-bearing query is rejected with guidance — per-row sequence
        assignment on a scan belongs in a DEFAULT nextval column, where
        the insert path block-allocates against the actual row count."""

        def repl_in(text: str) -> str:
            def sub(m: re.Match) -> str:
                fn, name = m.group(1).lower(), m.group(2)
                if fn == "nextval":
                    base, _inc = self._seq_alloc(name, 1)
                    return str(base)
                return str(self._seq_curr(name))

            return _NEXTVAL_RE.sub(sub, text)

        vm = re.search(r"\bVALUES\b", stmt, re.I)
        if vm and re.match(r"^\s*INSERT\b", stmt, re.I):
            head, tail = stmt[: vm.end()], stmt[vm.end() :]
            tuples = split_top_level(tail)
            return head + " " + ", ".join(repl_in(t) for t in tuples)
        if find_top_level_keyword(stmt, "FROM") == -1:
            return repl_in(stmt)
        raise ValueError(
            "nextval()/currval() inside a FROM-bearing query is not "
            "supported; give the target column DEFAULT nextval('<seq>') "
            "and omit it from the INSERT instead"
        )

    def _check_violation_col(self, tid: int):
        """(violation boolean Column, parsed CHECK list) for the table,
        or (None, None) when it has no CHECK constraints.  A row violates
        when any CHECK evaluates to FALSE; NULL passes (SQL standard)."""
        checks_json = self.catalog.get_tag(tid, "checks")
        if not checks_json:
            return None, None
        checks = json.loads(checks_json)
        viol = None
        for expr in checks:
            bad = ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
            viol = bad if viol is None else (viol | bad)
        return viol, checks

    def _writer_options(self) -> dict:
        """Active writer knobs from ``SET ducklake.*`` session settings
        (the spec's options surface): ``ducklake.parquet_compression``
        maps straight onto the parquet writer codec."""
        opts: dict[str, str] = {}
        comp = self.session_settings.get("ducklake.parquet_compression")
        if comp:
            opts["compression"] = comp.lower()
        return opts

    def _target_file_bytes(self, default: int = 128 << 20) -> int:
        """``SET ducklake.target_file_size`` (e.g. '64MB', '1048576')
        feeding compaction sizing; spec option, bytes or KB/MB/GB
        suffix."""
        raw = self.session_settings.get("ducklake.target_file_size")
        if not raw:
            return default
        m = re.match(r"^\s*(\d+)\s*(kb|mb|gb|b)?\s*$", raw, re.I)
        if not m:
            raise ValueError(f"bad ducklake.target_file_size: {raw!r}")
        mult = {"b": 1, "kb": 1 << 10, "mb": 1 << 20, "gb": 1 << 30}[
            (m.group(2) or "b").lower()
        ]
        return int(m.group(1)) * mult

    def _write_files(
        self, name: str, tid: int, df: DataFrame
    ) -> tuple[list[dict], list[dict]]:
        """Executor-parallel parquet write; returns (file rows, per-file
        column stats) from the footers without registering them.

        If the table has a live partition scheme, the write goes through
        ``partitionBy`` on DUPLICATED ``__part_<col>`` columns — the data
        columns stay physically inside every file (so scans are plain
        file reads, no hive-partition schema reconstruction) while the
        directory layout clusters rows and the per-file partition values
        land in ducklake_file_partition_value for catalog-side pruning."""
        # TIME columns: parquet-side physical type is an ISO string
        # (Spark cannot write TimeType to parquet); scans cast back
        for f_ in df.schema.fields:
            if isinstance(f_.dataType, T.TimeType):
                df = df.withColumn(f_.name, F.col(f_.name).cast("string"))
        out_dir = os.path.join(
            self.data_path, name, f"insert-{uuid.uuid4().hex[:12]}"
        )
        cols = self.catalog.columns(tid)
        col_ids = {r.column_name: int(r.column_id) for r in cols.itertuples()}
        scheme = self.catalog.partition_scheme(tid)
        part_names: list[str] = []
        partition_id = None
        if scheme:
            partition_id, keys = scheme
            name_by_id = {v: k for k, v in col_ids.items()}
            part_names = [name_by_id[cid] for cid, _t in keys]
            for (cid, transform), c in zip(keys, part_names):
                if transform == "identity":
                    pcol = F.col(c)
                else:
                    # temporal transform: partition on the truncated
                    # value (bounded cardinality — one dir per period),
                    # rendered as a lexicographically ordered string so
                    # catalog pruning can compare truncated predicate
                    # bounds with plain string comparison
                    pcol = F.date_format(
                        F.col(c), _PART_TRANSFORM_FMT[transform]
                    )
                df = df.withColumn(f"__part_{c}", pcol)
            # cluster rows by partition key first: without this every
            # write task emits a file per value it sees (tasks x values
            # small files — the partitioned-write explosion)
            df = df.repartition(*[F.col(f"__part_{c}") for c in part_names])
            if self.catalog.encrypted:
                return self._write_files_encrypted(
                    tid, df, out_dir, part_names, partition_id
                )
            df.write.mode("overwrite").options(
                **self._writer_options()
            ).partitionBy(*[f"__part_{c}" for c in part_names]).parquet(
                out_dir
            )
        else:
            if self.catalog.encrypted:
                return self._write_files_encrypted(
                    tid, df, out_dir, [], partition_id
                )
            df.write.mode("overwrite").options(
                **self._writer_options()
            ).parquet(out_dir)

        paths: list[tuple[str, list[str] | None]] = []
        if scheme:
            from urllib.parse import unquote

            for p, _size in iofs.list_files(out_dir, recursive=True):
                if not p.endswith(".parquet"):
                    continue
                rel = p[len(out_dir):].strip("/")
                vals = []
                for seg in rel.split("/")[:-1]:
                    if "=" not in seg:
                        continue
                    raw = unquote(seg.split("=", 1)[1])
                    vals.append(
                        None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
                    )
                paths.append((p, vals))
        else:
            paths = [
                (p, None)
                for p, _size in iofs.list_files(out_dir)
                if p.endswith(".parquet")
            ]

        return self._collect_file_stats(tid, paths, partition_id)

    def _write_files_encrypted(
        self,
        tid: int,
        df: DataFrame,
        out_dir: str,
        part_names: list[str],
        partition_id: int | None,
    ) -> tuple[list[dict], list[dict]]:
        """Distributed Parquet-Modular-Encryption write: each task
        encrypts its partition's rows into its own file(s) with a fresh
        random 128-bit key via pyarrow (crypto.py), returning
        (path, key, partition values) rows — the keys land in
        ``ducklake_data_file.encryption_key`` (spec field).  Executors
        never share keys; the Spark JVM never sees plaintext parquet."""
        from ducklakexl_spark import crypto

        iofs.makedirs(out_dir)
        fn = crypto.make_encrypted_writer(
            out_dir,
            [f"__part_{c}" for c in part_names],
            self._writer_options().get("compression"),
        )
        res = df.mapInArrow(fn, "path string, key string, part string").collect()
        paths: list[tuple[str, list[str] | None]] = []
        keys: dict[str, str] = {}
        for r in res:
            vals = None if r["part"] is None else json.loads(r["part"])
            paths.append((r["path"], vals))
            keys[r["path"]] = r["key"]
        return self._collect_file_stats(tid, paths, partition_id, keys)

    def _collect_file_stats(
        self,
        tid: int,
        paths: list[tuple[str, list[str] | None]],
        partition_id: int | None = None,
        keys: dict[str, str] | None = None,
    ) -> tuple[list[dict], list[dict]]:
        """(file rows, per-file column stats) from parquet footers —
        metadata-only, no Spark job (SURVEY §4 item 4).  Shared by the
        write path and by add_data_files' zero-copy adoption."""
        cols = self.catalog.columns(tid)
        col_ids = {r.column_name: int(r.column_id) for r in cols.itertuples()}
        files, col_stats = [], []
        for path, part_vals in sorted(paths):
            key = (keys or {}).get(path)
            if key:
                from ducklakexl_spark import crypto

                meta = crypto.open_parquet(path, key).metadata
            else:
                meta = iofs.parquet_metadata(path)
            files.append(
                {
                    "path": path,
                    "record_count": meta.num_rows,
                    "file_size_bytes": iofs.getsize(path),
                    "footer_size": meta.serialized_size,
                    "partition_id": partition_id,
                    "partition_values": part_vals,
                    "encryption_key": key,
                }
            )
            agg: dict[str, dict] = {}
            for rg in range(meta.num_row_groups):
                for ci in range(meta.num_columns):
                    col = meta.row_group(rg).column(ci)
                    col_path = col.path_in_schema.split(".")
                    cname = col_path[0]
                    if cname not in col_ids:
                        continue
                    if len(col_path) > 1:
                        # nested leaf (list element / map key+value /
                        # struct field): byte counts still attribute to
                        # the logical column, but leaf min/max of MIXED
                        # leaves under one column neither compare nor
                        # mean anything for file skipping
                        entry = agg.setdefault(
                            cname,
                            {
                                "nulls": 0,
                                "values": 0,
                                "bytes": 0,
                                "min": None,
                                "max": None,
                            },
                        )
                        entry["bytes"] += col.total_compressed_size
                        continue
                    entry = agg.setdefault(
                        cname,
                        {
                            "nulls": 0,
                            "values": 0,
                            "bytes": 0,
                            "min": None,
                            "max": None,
                        },
                    )
                    entry["bytes"] += col.total_compressed_size
                    st = col.statistics
                    if st is not None:
                        entry["nulls"] += st.null_count or 0
                        entry["values"] += st.num_values or 0
                        try:
                            if st.has_min_max:
                                mn, mx = _footer_min_max(st)
                                if entry["min"] is None or mn < entry["min"]:
                                    entry["min"] = mn
                                if entry["max"] is None or mx > entry["max"]:
                                    entry["max"] = mx
                        except NotImplementedError:
                            pass  # pyarrow can't decode stats for this type
            for cname, e in agg.items():
                col_stats.append(
                    {
                        "path": path,
                        "column_id": col_ids[cname],
                        "column_size_bytes": e["bytes"],
                        "value_count": e["values"],
                        "null_count": e["nulls"],
                        "min_value": None if e["min"] is None else str(e["min"]),
                        "max_value": None if e["max"] is None else str(e["max"]),
                    }
                )
        return files, col_stats

    def add_data_files(self, name: str, pattern: str) -> int:
        """``CALL ducklake_add_data_files('t', 'path-or-glob')``: adopt
        existing parquet files into a table WITHOUT copying — one footer
        read per file collects record counts and min/max stats, then one
        catalog snapshot registers them (the spec's migration path: a
        100 TB directory of parquet joins the lake as a metadata-only
        operation).  Every table column (except generated ones, which
        compute at scan) must exist in each file; extra file columns are
        simply not projected.  The lake takes ownership: dropped
        snapshots queue adopted paths for vacuum like any other file."""
        import glob as _glob

        tid = self.catalog.table_id(name)
        cand = (
            sorted(_glob.glob(pattern))
            if any(ch in pattern for ch in "*?[")
            else [pattern]
        )
        if not cand:
            raise ValueError(f"add_data_files: no files match {pattern!r}")
        gen = {c for c, _x, _t in self._generated_cols(tid, self.table_schema(name))}
        required = {
            r.column_name
            for r in self.catalog.columns(tid).itertuples()
            if r.column_name not in gen
        }
        for p in cand:
            have = {f.split(".")[0] for f in iofs.read_schema(p).names}
            missing = required - have
            if missing:
                raise ValueError(
                    f"add_data_files: {p} lacks table columns {sorted(missing)}"
                )
        files, col_stats = self._collect_file_stats(
            tid, [(iofs.absolutize(p), None) for p in cand]
        )
        self.catalog.register_data_files(tid, files, col_stats)
        return len(files)

    # ---------------------------------------------------------- maintenance

    def compact(
        self,
        name: str,
        target_file_bytes: int | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> dict:
        """Small-file compaction (the OPTIMIZE/rewrite-data-files of other
        lakehouse formats): fold the table's live rows into
        ``ceil(bytes/target)`` right-sized files and retire the old data +
        delete files in the SAME snapshot the new files begin.  The old
        files stay on disk for the older snapshots; ``expire_snapshots``
        queues them for ``vacuum`` once no surviving snapshot reads
        them.  At 100 TB this is the essential companion of
        streaming/frequent ingestion, which otherwise accretes a file per
        micro-batch per partition.

        ``sort_by`` additionally *clusters* the rewrite: a range
        repartition on the keys gives each output file a disjoint key
        interval, so the per-file min/max stats (and parquet row-group
        stats) become selective and point/range predicates skip most
        files — the OPTIMIZE ... ZORDER/SORT BY of other formats, as one
        range shuffle.

        ``zorder_by`` interleaves MULTIPLE keys (the OPTIMIZE ... ZORDER
        of other formats): each key is linearly scaled to a 16-bit
        bucket from its global min/max (one cheap agg pass), the bucket
        bits are interleaved into one 64-bit z-value by an unrolled
        whole-stage-codegen expression, and the rewrite range-partitions
        on that z-value — so per-file min/max stats become selective on
        EVERY listed column, not just a sort prefix.  At 100 TB this is
        the layout for tables queried along two or more independent
        dimensions; the extra cost over ``sort_by`` is one agg scan."""
        if sort_by and zorder_by:
            raise ValueError("pass sort_by or zorder_by, not both")
        if target_file_bytes is None:
            # SET ducklake.target_file_size wins over the 128 MB default
            target_file_bytes = self._target_file_bytes()
        tid = self.catalog.table_id(name)
        old = self.catalog.data_files(tid)
        dels = self.catalog.delete_files(tid)
        # the rewrite reads the inlined rows too, and the swap ends them
        inlined = not self.catalog.inlined_rows(tid).empty
        if len(old) <= 1 and dels.empty and not (inlined or sort_by or zorder_by):
            return {"compacted": False, "files_before": len(old)}
        total_bytes = int(old["file_size_bytes"].fillna(0).sum())
        n_out = max(1, -(-total_bytes // max(1, target_file_bytes)))
        if sort_by:
            df = (
                self.table_df(name)
                .repartitionByRange(n_out, *sort_by)
                .sortWithinPartitions(*sort_by)
            )
        elif zorder_by:
            base = self.table_df(name)
            z = self._zvalue(base, zorder_by)
            df = (
                base.withColumn("__zorder", z)
                .repartitionByRange(n_out, F.col("__zorder"))
                .sortWithinPartitions("__zorder")
                .drop("__zorder")
            )
        else:
            df = self.table_df(name).repartition(n_out)
        files, col_stats = self._write_files(name, tid, df)
        self.catalog.replace_table_files(tid, files, col_stats)
        return {
            "compacted": True,
            "files_before": len(old),
            "files_after": len(files),
            "delete_files_removed": len(dels),
        }

    _ZBITS = 16  # per-key bucket resolution for zorder_by

    def _zvalue(self, df: DataFrame, cols: list[str]) -> "F.Column":
        """Interleaved z-value over ``cols``: one agg pass collects the
        global min/max per key (driver-side scalars, constant-folded
        into the expression), each key scales linearly to a
        ``_ZBITS``-bit bucket, and the buckets' bits interleave into a
        single long.  Numeric, date, and timestamp keys only — string
        keys have no meaningful linear order for interleaving.  NULLs
        bucket to 0 (cluster together at the low end)."""

        def as_double(c: str):
            t = dict(df.dtypes)[c]
            if t == "date":
                return F.col(c).cast("timestamp").cast("double")
            if t.startswith(("decimal", "timestamp")) or t in (
                "tinyint", "smallint", "int", "bigint", "float", "double"
            ):
                return F.col(c).cast("double")
            raise ValueError(f"zorder_by column {c!r} has unsupported type {t}")

        bounds = df.agg(
            *[
                a
                for c in cols
                for a in (
                    F.min(as_double(c)).alias(f"mn_{c}"),
                    F.max(as_double(c)).alias(f"mx_{c}"),
                )
            ]
        ).first()
        # scale per-key bits so the interleave never reaches bit 63:
        # with the full _ZBITS=16 and 4+ keys the top shift would hit the
        # sign bit (breaking monotonic order) or wrap mod 64 on the JVM
        # (silently colliding bits)
        nbits = min(self._ZBITS, 63 // len(cols))
        if nbits < 1:
            raise ValueError(
                f"zorder_by supports at most 63 keys, got {len(cols)}"
            )
        top = (1 << nbits) - 1
        z = F.lit(0).cast("long")
        for j, c in enumerate(cols):
            mn = bounds[f"mn_{c}"]
            mx = bounds[f"mx_{c}"]
            span = (mx - mn) if (mn is not None and mx is not None and mx > mn) else 1.0
            bucket = F.coalesce(
                F.least(
                    F.lit(top),
                    ((as_double(c) - F.lit(mn or 0.0)) / F.lit(span) * top).cast("long"),
                ),
                F.lit(0),
            ).cast("long")
            for i in range(nbits):
                bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1))
                z = z + F.shiftleft(bit, i * len(cols) + j)
        return z

    def refresh(self) -> None:
        """Re-synchronize with the catalog store — picks up commits from
        other writers; required after a ConcurrentWriteError."""
        self.catalog.refresh()

    def vacuum(self) -> int:
        """Physically delete every file in the GC queue and clear it.
        Only ``expire_snapshots`` queues files, once no surviving
        snapshot reads them, so every readable snapshot stays readable."""
        return self.catalog.vacuum()

    def table_changes(
        self, name: str, from_snapshot: int, to_snapshot: int | None = None
    ) -> DataFrame:
        """Change-data-feed between two snapshots (DuckLake's
        ``ducklake_table_changes`` shape): rows present at ``to`` but not
        ``from`` tagged ``insert``, the reverse tagged ``delete`` (an
        UPDATE appears as its delete+insert pair).  Value-level diff via
        exceptAll — two co-partitioned hash aggregations, no driver
        materialization, so the feed scales with the size of the CHANGE,
        not the table, after partition pruning."""
        old = self.table_df(name, snapshot=from_snapshot)
        new = self.table_df(name, snapshot=to_snapshot)
        return new.exceptAll(old).withColumn(
            "change_type", F.lit("insert")
        ).unionAll(
            old.exceptAll(new).withColumn("change_type", F.lit("delete"))
        )

    def table_insertions(
        self, name: str, from_snapshot: int, to_snapshot: int | None = None
    ) -> DataFrame:
        """Insert-only half of the change feed (DuckLake spec
        ``ducklake_table_insertions``): rows present at ``to`` but not at
        ``from`` — an UPDATE contributes its new version.  One exceptAll
        (co-partitioned hash aggregation); no delete-side work at all."""
        return self.table_df(name, snapshot=to_snapshot).exceptAll(
            self.table_df(name, snapshot=from_snapshot)
        )

    def table_deletions(
        self, name: str, from_snapshot: int, to_snapshot: int | None = None
    ) -> DataFrame:
        """Delete-only half of the change feed (DuckLake spec
        ``ducklake_table_deletions``): row versions present at ``from``
        but gone at ``to`` — an UPDATE contributes its old version."""
        return self.table_df(name, snapshot=from_snapshot).exceptAll(
            self.table_df(name, snapshot=to_snapshot)
        )

    def list_files(self, name: str) -> DataFrame:
        """Live data files of a table (DuckLake spec
        ``ducklake_list_files``): id, path, record count, bytes, and the
        snapshot each file began at — catalog frames only, no listing."""
        df_ = self.catalog.data_files(self.catalog.table_id(name))
        rows = [
            (
                int(r.data_file_id),
                str(r.path),
                int(r.record_count) if r.record_count is not None else None,
                int(r.file_size_bytes)
                if r.file_size_bytes is not None
                else None,
                int(r.begin_snapshot),
            )
            for r in df_.itertuples()
        ]
        return self.spark.createDataFrame(
            rows,
            "data_file_id long, path string, record_count long, "
            "file_size_bytes long, begin_snapshot long",
        )

    def table_info(self) -> DataFrame:
        """Per-table storage summary (DuckLake spec
        ``ducklake_table_info``): live file/delete-file counts and byte
        sizes straight from the catalog frames — pure metadata, no file
        listing, no Spark job beyond the local-relation build."""
        rows = []
        for name in self.catalog.table_names():
            tid = self.catalog.table_id(name)
            trow = self.catalog.tables["ducklake_table"]
            live = trow[
                (trow["table_id"] == tid) & trow["end_snapshot"].isna()
            ].iloc[0]
            df_ = self.catalog.data_files(tid)
            dl = self.catalog.delete_files(tid)
            rows.append(
                (
                    name,
                    int(live["schema_id"]),
                    int(tid),
                    str(live["table_uuid"]),
                    int(len(df_)),
                    int(df_["file_size_bytes"].fillna(0).sum()),
                    int(len(dl)),
                    int(dl["file_size_bytes"].fillna(0).sum()),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "table_name string, schema_id long, table_id long, "
            "table_uuid string, file_count long, file_size_bytes long, "
            "delete_file_count long, delete_file_size_bytes long",
        )

    def expire_snapshots(
        self,
        older_than=None,
        before_version: int | None = None,
    ) -> dict:
        """Expire history: snapshots strictly older than the cutoff stop
        being time-travel targets, and files only they referenced join
        the GC queue (run ``vacuum()`` after to reclaim disk).  Cutoff is
        either an explicit ``before_version`` snapshot id or an
        ``older_than`` timestamp/ISO-string resolved against snapshot
        times; the current snapshot always survives."""
        if (older_than is None) == (before_version is None):
            raise ValueError(
                "expire_snapshots: exactly one of older_than / "
                "before_version required"
            )
        if before_version is None:
            from datetime import datetime

            ts = (
                datetime.fromisoformat(older_than)
                if isinstance(older_than, str)
                else older_than
            )
            snaps = self.catalog.snapshots()
            old = snaps[snaps["snapshot_time"] < ts]
            if old.empty:
                return {"snapshots_expired": 0, "files_queued": 0}
            before_version = int(old["snapshot_id"].max()) + 1
        return self.catalog.expire_snapshots(before_version)

    # -------------------------------------------------------------- scanning

    @staticmethod
    def _norm_path(col):
        # _metadata.file_path renders local files as file: URIs; remote
        # schemes (s3a://, gs://) pass through unchanged and already
        # match their catalog form
        return F.regexp_replace(col, r"^file:/*", "/")

    @staticmethod
    def _norm_path_str(p: str) -> str:
        """Python twin of _norm_path for catalog-side path keys — a
        catalog written with a file:// data_path must still compare
        equal to the scan's normalized _metadata.file_path."""
        return re.sub(r"^file:/*", "/", p)

    def _resolve_parquet_key(self, name: str) -> str:
        key = self._parquet_keys.get(name)
        if key is None:
            raise ValueError(
                f"no parquet key named {name!r}: register it first with "
                "PRAGMA add_parquet_key('name', '<16-byte key>')"
            )
        return key

    def _read_parquet_encrypted(self, paths: list[str], key_b64: str) -> DataFrame:
        """``read_parquet(…, encryption_config={footer_key: k})``:
        distributed decrypting read of user-encrypted files under the
        named key; schema from the first file's (decrypted) footer."""
        from pyspark.sql.pandas.types import from_arrow_schema

        from ducklakexl_spark import crypto

        expanded: list[str] = []
        for p in paths:
            if any(ch in p for ch in "*?["):
                import glob as _glob

                expanded += sorted(_glob.glob(p))
            elif os.path.isdir(p):
                expanded += [
                    fp
                    for fp, _sz in iofs.list_files(p, recursive=True)
                    if fp.endswith(".parquet")
                ]
            else:
                expanded.append(p)
        if not expanded:
            raise ValueError(f"read_parquet: no files match {paths!r}")
        schema_arrow = crypto.open_parquet(expanded[0], key_b64).schema_arrow
        struct = from_arrow_schema(schema_arrow)
        return self._scan_files_encrypted(
            [(p, key_b64) for p in expanded], struct, with_pos=False
        )

    def _scan_files_encrypted(
        self,
        file_keys: list[tuple[str, str | None]],
        read_struct: T.StructType,
        with_pos: bool,
    ) -> DataFrame:
        """Distributed decrypting scan: one (path, key) row per file,
        ``mapInArrow`` tasks decrypt whole files with pyarrow
        (crypto.py) and reconcile each to ``read_struct`` (schema
        evolution: missing column → NULL, type widening casts).  Scale
        unit = one file per task slot, the same granularity Spark's
        plain parquet reader uses; key=None rows are plain files adopted
        zero-copy into an encrypted lake.  Catalyst can't push
        projections into the tasks, so this read carries all declared
        columns — the documented cost of encryption at rest."""
        from ducklakexl_spark import crypto

        fn, _ = crypto.make_encrypted_reader(
            to_arrow_schema(read_struct), with_pos
        )
        out_fields = list(read_struct.fields)
        if with_pos:
            out_fields += [
                T.StructField("__file", T.StringType()),
                T.StructField("__pos", T.LongType()),
            ]
        src = self.spark.createDataFrame(
            file_keys, "path string, key string"
        )
        par = max(
            1,
            min(
                len(file_keys),
                self.spark.sparkContext.defaultParallelism * 2,
            ),
        )
        return src.repartition(par).mapInArrow(fn, T.StructType(out_fields))

    def table_df(
        self,
        name: str,
        snapshot: int | None = None,
        with_position: bool = False,
        predicates: list[tuple[str, str, object]] | None = None,
        columns: list[str] | None = None,
        paths: list[str] | None = None,
    ) -> DataFrame:
        """Snapshot-resolved scan with positional-delete application.

        ``predicates`` (col, op, value) enable catalog-level file skipping
        against ducklake_file_column_statistics before Spark ever lists the
        files — the same pruning DuckLake does (SURVEY §4 item 2); parquet
        footer pushdown then prunes row groups within surviving files.
        ``paths`` instead names the data files to scan, already chosen by
        the caller (a DELETE scans the files it could not retire whole).

        ``columns`` (a superset of the statement's referenced columns,
        from _extract_scan_columns) narrows ENCRYPTED scans: Catalyst
        can't push projections through the decrypting mapInArrow
        barrier, so the pruning happens here by shrinking the declared
        schema before the per-file pyarrow reads.  Plain scans ignore it
        (the JVM reader prunes natively); tables with generated columns
        skip it (their expressions may reference unprojected bases).
        """
        if snapshot is not None:
            live = self.catalog.tables["ducklake_snapshot"]["snapshot_id"]
            if int(snapshot) not in set(int(s) for s in live):
                raise ValueError(
                    f"snapshot {snapshot} does not exist (expired?)"
                )
        tid = self.catalog.table_id(name, snapshot)
        schema = self.table_schema(name, snapshot)
        files = self.catalog.data_files(tid, snapshot)
        if (
            columns is not None
            and not files.empty
            and files["encryption_key"].notna().any()
            and not self._generated_cols(tid, schema, snapshot)
        ):
            keep = set(columns)
            narrowed = [f for f in schema.fields if f.name in keep]
            if narrowed and len(narrowed) < len(schema.fields):
                schema = T.StructType(narrowed)
        if paths is None:
            paths = list(files["path"])
            if predicates and paths:
                paths = self._skip_files(tid, snapshot, paths, predicates)
        self._last_scan_file_count = len(paths)
        self._last_scan_paths = paths
        if not paths:
            # a local relation, not a Python-rows RDD job
            empty = schema
            if with_position:
                empty = T.StructType(
                    schema.fields
                    + [
                        T.StructField("__file", T.StringType()),
                        T.StructField("__pos", T.LongType()),
                    ]
                )
            df = self.spark.createDataFrame(
                to_arrow_schema(empty).empty_table(), empty
            )
            df = self._union_inlined(df, tid, snapshot, schema, with_position)
            return self._apply_generated(df, tid, schema, snapshot)
        dels = self.catalog.delete_files(tid, snapshot)
        if not dels.empty and len(paths) < len(files):
            # only the delete files of the data files left after skipping
            # can hide a scanned row; a point read of a file with no
            # deletes then needs no delete join at all
            fids = files.loc[files["path"].isin(paths), "data_file_id"]
            owner = dels["data_file_id"]
            dels = dels[owner.isin(fids) | owner.isna()]

        # -- schema evolution (ALTER ADD/DROP/RENAME COLUMN / ALTER TYPE
        # are catalog-only MVCC transitions; data files keep their
        # write-time physical schema).  The enforced-schema read already
        # reconciles ADD (missing column → NULL), DROP (column simply not
        # projected), and lossless TYPE widening (the parquet reader
        # up-casts int32→int64, float→double against the declared
        # schema).  Only RENAME needs help: the physical name in an old
        # file is whatever the column was called at write time, so the
        # read schema carries every historical name (typed at the current
        # logical type) and the projection coalesces them — physically
        # disjoint columns, at most one non-null per row.
        live_cols = self.catalog.columns(tid, snapshot)
        all_cols = self.catalog.tables["ducklake_column"]
        all_cols = all_cols[all_cols["table_id"] == tid]
        #
        # A file holds a column's values under the name the column had
        # when the file was committed, and none if it predates the column
        # (its first catalog row; renames keep the column_id): such a file
        # reads the initial_default (the spec's ADD COLUMN … DEFAULT, no
        # rewrite) or NULL.  Reading every name the column ever had is
        # exact unless the column has a DEFAULT or shares a name with
        # another column (a dropped and re-added namesake, a renamed-away
        # one); those resolve per file on its begin_snapshot.
        hist_names = {n: [n] for n in live_cols["column_name"]}
        spans: dict[str, list[tuple[str, int, object]]] = {}
        resolved: dict[str, str] = {}  # column -> its pre-birth value
        renamed = False
        if (
            len(all_cols) > len(live_cols)
            or live_cols["initial_default"].notna().any()
        ):
            # some column was renamed, retyped, dropped or added with a
            # DEFAULT (otherwise every catalog row is live and no file
            # predates a column it must default)
            scanned_names = {f.name for f in schema.fields}
            first_file = int(files["begin_snapshot"].min())
            ids_per_name = all_cols.groupby("column_name")["column_id"].nunique()
            shared_names = set(ids_per_name.index[ids_per_name > 1])
            for r in live_cols.itertuples():
                hist = all_cols[
                    all_cols["column_id"] == r.column_id
                ].sort_values("begin_snapshot", ascending=False)
                names = list(dict.fromkeys(hist["column_name"]))
                hist_names[r.column_name] = names
                renamed = renamed or len(names) > 1
                if r.column_name not in scanned_names:
                    continue
                pre_birth = int(hist["begin_snapshot"].min()) > first_file
                has_default = pd.notna(r.initial_default)
                if (has_default and pre_birth) or (
                    not shared_names.isdisjoint(names)
                    and (pre_birth or len(names) > 1)
                ):
                    resolved[r.column_name] = (
                        str(r.initial_default) if has_default else "NULL"
                    )
                    spans[r.column_name] = list(
                        zip(
                            hist["column_name"],
                            hist["begin_snapshot"],
                            hist["end_snapshot"],
                        )
                    )

        if renamed:
            read_fields, seen = [], set()
            for f in schema.fields:
                for n in hist_names[f.name]:
                    if n not in seen:
                        seen.add(n)
                        read_fields.append(T.StructField(n, f.dataType))
            read_struct = T.StructType(read_fields)
        else:
            read_struct = schema
        # TIME columns are stored as ISO strings (see _write_files):
        # read them as strings, cast back to TimeType below
        time_cols = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, T.TimeType)
        ]
        if time_cols:
            read_struct = T.StructType(
                [
                    T.StructField(
                        f.name,
                        T.StringType()
                        if isinstance(f.dataType, T.TimeType)
                        else f.dataType,
                        f.nullable,
                    )
                    for f in read_struct.fields
                ]
            )
        reader = self.spark.read.schema(read_struct)
        need_pos = (not dels.empty) or with_position or bool(resolved)
        key_by_path = {
            p: (None if pd.isna(k) else str(k))
            for p, k in zip(files["path"], files["encryption_key"])
        }
        if any(key_by_path.get(p) for p in paths):
            # encrypted lake (possibly with adopted plain files mixed
            # in): decrypt-scan distributed through pyarrow
            df = self._scan_files_encrypted(
                [
                    (self._norm_path_str(p), key_by_path.get(p))
                    for p in paths
                ],
                read_struct,
                need_pos,
            )
        else:
            df = reader.parquet(*paths)
            if need_pos:
                df = (
                    df.withColumn(
                        "__file",
                        self._norm_path(F.col("_metadata.file_path")),
                    )
                    .withColumn("__pos", F.col("_metadata.row_index"))
                )
        if resolved:
            fmeta = self.spark.createDataFrame(
                pa.table(
                    {
                        "__dfile": [
                            self._norm_path_str(p) for p in files["path"]
                        ],
                        "__fbegin": pa.array(
                            files["begin_snapshot"].astype("int64"), pa.int64()
                        ),
                    }
                )
            )
            df = df.join(
                F.broadcast(fmeta), df["__file"] == fmeta["__dfile"], "left"
            )

        def value(f: T.StructField):
            name, names = f.name, hist_names[f.name]
            if name in resolved:
                fbegin = F.col("__fbegin")
                out = F.expr(resolved[name]).cast(
                    T.StringType() if name in time_cols else f.dataType
                )
                for n, b, e in spans[name]:
                    in_span = fbegin >= int(b)
                    if pd.notna(e):
                        in_span = in_span & (fbegin < int(e))
                    out = F.when(in_span, F.col(n)).otherwise(out)
                return out
            if len(names) > 1:
                return F.coalesce(*[F.col(n) for n in names])
            return F.col(name)

        if renamed or resolved:
            sel = [value(f).alias(f.name) for f in schema.fields]
            if "__file" in df.columns:
                df = df.select(*sel, "__file", "__pos")
            else:
                df = df.select(*sel)
        for c in time_cols:
            df = df.withColumn(c, F.col(c).cast("time(6)"))
        if not dels.empty:
            del_df = self._read_delete_rows(dels)
            df = df.join(
                F.broadcast(del_df),
                (df["__file"] == del_df["file_path"]) & (df["__pos"] == del_df["pos"]),
                "left_anti",
            )
        if not with_position and "__file" in df.columns:
            df = df.drop("__file", "__pos")
        df = self._union_inlined(df, tid, snapshot, schema, with_position)
        return self._apply_generated(df, tid, schema, snapshot)

    def _skip_files(self, tid, snapshot, paths, predicates) -> list[str]:
        """The files of ``paths`` that may hold a row matching every
        predicate (see _file_matches)."""
        return self._file_matches(tid, snapshot, paths, predicates)[0]

    def _file_matches(
        self, tid, snapshot, paths, predicates, prove: bool = False
    ) -> tuple[list[str], list[str]]:
        """Catalog-side file skipping from per-file min/max stats and
        exact partition values: ``(kept, covered)``.

        Fully vectorized over the stats tables (columnar pandas ops, no
        per-row Python) so pruning stays O(files) at C speed — the
        metadata path has to survive millions of files even though each
        individual query then reads few of them.  A file survives unless
        some predicate's [min, max] interval (or exact partition value)
        proves it can't contain a match; stats that fail the type
        conversion coerce to NaN and never prune (conservative).

        With ``prove`` (the caller knows the predicates are the whole
        filter) ``covered`` lists the kept files whose statistics prove
        that EVERY row matches every predicate, the evidence a DELETE
        needs to retire a file in the catalog alone (Iceberg's strict
        metrics evaluator).  A proof needs an integer or decimal column,
        a numeric literal, and either a stats row with no NULL, no NaN
        and a value count equal to the file's row count whose min/max
        satisfy the predicate compared exactly (Python int/Decimal,
        never float64), or an identity partition value of the file's
        own scheme.  No predicate proves every file; no stats row (a
        column added after the file) proves none.
        """
        stats = self.catalog.tables["ducklake_file_column_statistics"]
        dfiles = self.catalog.data_files(tid, snapshot)
        cols = self.catalog.columns(tid, snapshot)
        id_by_name = {r.column_name: int(r.column_id) for r in cols.itertuples()}
        path_by_fid = dict(zip(dfiles["data_file_id"], dfiles["path"]))
        drop_fids: set[int] = set()
        # per predicate, the files it holds for every row of (prove only)
        proofs: list[set[int]] = [set() for _ in predicates]
        pred_cols = {c for c, _op, _v in predicates}
        exact_cols = {
            r.column_name
            for r in cols.itertuples()
            if r.column_name in pred_cols
            and isinstance(
                ducklake_type_to_spark(str(r.column_type)), _EXACT_TYPES
            )
        }

        def _exact(cname, value) -> bool:
            return cname in exact_cols and (
                isinstance(value, _decimal.Decimal)
                or (isinstance(value, int) and not isinstance(value, bool))
            )

        # coercion of a stats column is O(files) over strings — cache it
        # per (column object, value class) so N predicates on the same
        # column pay it once, not N times (measured ~0.45 s per 1M-file
        # to_numeric pass)
        _coerce_cache: dict[tuple[int, str], object] = {}

        def _coerce(series, value):
            ck = (id(series.values), type(value).__name__)
            hit = _coerce_cache.get(ck)
            if hit is not None:
                return hit
            if isinstance(value, bool):
                out = series.map({"true": True, "false": False, True: True, False: False})
            elif isinstance(value, (int, float, _decimal.Decimal)):
                out = pd.to_numeric(series, errors="coerce")
            elif isinstance(value, (_dt.datetime, _dt.date)):
                # table(predicates=[("ts", ">=", datetime(...))]) — the
                # stats are strings; go through UTC datetimes so the
                # compare is typed, never lexicographic-vs-datetime
                out = pd.to_datetime(series, errors="coerce", utc=True)
            else:
                out = series.astype("string")
            _coerce_cache[ck] = out
            return out

        def _violates(lo, hi, op, value):
            # positive violation conditions; NaN compares False, so a
            # failed coercion never prunes
            if op == "=":
                return (lo > value) | (hi < value)
            if op == ">":
                return hi <= value
            if op == ">=":
                return hi < value
            if op == "<":
                return lo >= value
            if op == "<=":
                return lo > value
            return None

        rows_by_fid = dict(zip(dfiles["data_file_id"], dfiles["record_count"]))
        srel = stats[stats["table_id"] == tid]
        # one stats slice per referenced column (shared across that
        # column's predicates so the _coerce cache can hit)
        _rel_by_cid: dict[int, pd.DataFrame] = {}
        for i, (cname, op, value) in enumerate(predicates):
            cid = id_by_name.get(cname)
            if cid is None:
                continue
            rel = _rel_by_cid.get(cid)
            if rel is None:
                rel = _rel_by_cid.setdefault(cid, srel[srel["column_id"] == cid])
            if rel.empty:
                continue
            mn = _coerce(rel["min_value"], value)
            mx = _coerce(rel["max_value"], value)
            cmp_val = str(value) if isinstance(value, str) else value
            if isinstance(value, _decimal.Decimal):
                cmp_val = float(value)  # the pruning compare is float64
            if isinstance(value, (_dt.datetime, _dt.date)):
                cmp_val = pd.Timestamp(value)
                cmp_val = (
                    cmp_val.tz_localize("UTC")
                    if cmp_val.tzinfo is None
                    else cmp_val.tz_convert("UTC")
                )
            bad = _violates(mn, mx, op, cmp_val)
            if bad is None:
                continue
            bad = bad.fillna(False) & mn.notna() & mx.notna()
            if op in (">", "<") and _exact(cname, value):
                # float64 rounds distinct decimals (and longs past 2^53)
                # to one value: settle a tie at the bound exactly
                edge = "max_value" if op == ">" else "min_value"
                tie = bad & ((mx if op == ">" else mn) == cmp_val)
                if tie.any():
                    bad[tie] = [
                        (d := _exact_number(x)) is not None
                        and (d <= value if op == ">" else d >= value)
                        for x in rel.loc[tie, edge]
                    ]
            # .tolist() converts C-side; a python genexpr with int() per
            # row costs ~0.6 s per million dropped files
            drop_fids.update(rel.loc[bad, "data_file_id"].to_numpy().tolist())
            if prove and _exact(cname, value):
                # stats that cover every row: no NULL, no NaN, and a
                # value count of the file's row count (a row group
                # without statistics would be missing from min/max)
                full = (
                    ~bad
                    & (rel["null_count"] == 0)
                    & rel["contains_nan"].ne(True)
                    & (
                        rel["value_count"]
                        == rel["data_file_id"].map(rows_by_fid)
                    )
                )
                sub = rel[full]
                proofs[i].update(
                    _proven(
                        sub["data_file_id"], sub["min_value"],
                        sub["max_value"], op, value,
                    )
                )
        # partition-value pruning (exact, not min/max): a file whose
        # recorded partition value fails the predicate can't match at all
        scheme = self.catalog.partition_scheme(tid, snapshot)
        if scheme:
            _pid, keys = scheme
            pid_by_fid = dict(
                zip(dfiles["data_file_id"], dfiles["partition_id"])
            )
            name_by_id = {v: k for k, v in id_by_name.items()}
            key_by_name = {
                name_by_id[cid]: (i, transform)
                for i, (cid, transform) in enumerate(keys)
            }
            pvt = self.catalog.tables["ducklake_file_partition_value"]
            prel = pvt[pvt["table_id"] == tid]
            # a file written under an earlier scheme numbers its keys
            # after that scheme: only the current scheme's files compare
            prel = prel[prel["data_file_id"].map(pid_by_fid) == _pid]
            for i, (cname, op, value) in enumerate(predicates):
                hit = key_by_name.get(cname)
                if hit is None:
                    continue
                ki, transform = hit
                rel = prel[prel["partition_key_index"] == ki]
                if rel.empty:
                    continue
                if prove and transform == "identity" and _exact(cname, value):
                    pv = rel["partition_value"]
                    proofs[i].update(
                        _proven(rel["data_file_id"], pv, pv, op, value)
                    )
                if transform != "identity":
                    # truncated-value pruning: trunc() is monotone, so
                    # col >[=] X can only match files whose partition
                    # period >= trunc(X) (and dually for <[=]); equality
                    # needs the exact period.  Bounds and stored values
                    # share a lexicographically ordered string format.
                    tv = _transform_partition_bound(value, transform)
                    if tv is None:
                        continue
                    v = rel["partition_value"].astype("string")
                    if op == "=":
                        bad = v != tv
                    elif op in (">", ">="):
                        bad = v < tv
                    elif op in ("<", "<="):
                        bad = v > tv
                    else:
                        continue
                    bad = bad.fillna(False) & v.notna()
                    drop_fids.update(
                        int(f) for f in rel.loc[bad, "data_file_id"]
                    )
                    continue
                v = _coerce(rel["partition_value"], value)
                cmp_val = str(value) if isinstance(value, str) else value
                if isinstance(value, _decimal.Decimal):
                    cmp_val = float(value)
                # exact values: '=' prunes on any inequality
                bad = (
                    (v != cmp_val)
                    if op == "="
                    else _violates(v, v, op, cmp_val)
                )
                if bad is None:
                    continue
                bad = bad.fillna(False) & v.notna()
                drop_fids.update(int(f) for f in rel.loc[bad, "data_file_id"])
        dropped = {path_by_fid.get(f) for f in drop_fids}
        kept = [p for p in paths if p not in dropped]
        if not prove:
            return kept, []
        covered = set.intersection(*proofs) if proofs else set(path_by_fid)
        proven = {path_by_fid[f] for f in covered if f in path_by_fid}
        return kept, [p for p in kept if p in proven]

    # ------------------------------------------------------------ DELETE/UPDATE

    def _delete(self, name: str, where: str | None) -> None:
        """DELETE.  A data file whose statistics prove that every live row
        matches the whole WHERE (every file, without a WHERE) retires in
        the catalog alone: no scan, no Spark job, no delete file.  The
        other files the WHERE's predicates cannot skip are scanned with
        the inlined rows; their hits become positional delete files and
        ended inlined rows.  All of it lands in ONE snapshot."""
        where = apply_expr_dialect(where) if where else where
        tid = self.catalog.table_id(name)
        files = self.catalog.data_files(tid)
        preds, whole = [], True
        if where:
            cols = {
                r.column_name
                for r in self.catalog.columns(tid).itertuples()
            }
            preds, whole = self._where_conjuncts(where, cols, (name, None))
        # a date-ranged DELETE on a 100 TB table opens only the files
        # whose stats overlap the range
        kept, covered = self._file_matches(
            tid, None, list(files["path"]), preds, prove=whole
        )
        covered = set(covered)
        # a covered file whose rows are all deleted already stays as it is
        gone = self.catalog.delete_files(tid).groupby("data_file_id")[
            "delete_count"
        ].sum()
        retire = [
            int(f)
            for f, p, n in zip(
                files["data_file_id"], files["path"], files["record_count"]
            )
            if p in covered and n > gone.get(f, 0)
        ]
        scan = [p for p in kept if p not in covered]
        inlined = self.catalog.inlined_rows(tid)
        inl_ids = []
        if not where:
            inl_ids = [int(r) for r in inlined.get("row_id", [])]
        elif scan or not inlined.empty:
            live = self.table_df(name, with_position=True, paths=scan)
            hit_pos = live.filter(where).select(
                F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
            )
            if not inlined.empty:
                # catalog-inlined rows delete as MVCC end_snapshot
                # transitions; the hit set is checkpointed so splitting
                # it doesn't re-run the scan
                hit_pos = hit_pos.localCheckpoint(eager=True)
                marker = f"__inlined__/{tid}"
                inl_ids = [
                    int(r["pos"])
                    for r in hit_pos.filter(
                        F.col("file_path") == marker
                    ).collect()
                ]
                hit_pos = hit_pos.filter(F.col("file_path") != marker)
            self._register_deletes(name, tid, hit_pos, paths=scan)
        if inl_ids:
            self.catalog.end_inlined_rows(tid, inl_ids)
        if retire:
            self.catalog.retire_data_files(tid, retire)
        return None

    _DELETE_STRUCT = T.StructType(
        [
            T.StructField("file_path", T.StringType()),
            T.StructField("pos", T.LongType()),
        ]
    )

    def _read_delete_rows(self, dels: pd.DataFrame) -> DataFrame:
        """(file_path, pos) rows of the given live delete files —
        decrypting via the catalog's per-file keys when the lake is
        encrypted (delete files carry the same spec ``encryption_key``
        field as data files)."""
        keyed = [
            (p, None if pd.isna(k) else str(k))
            for p, k in sorted(
                set(zip(dels["path"], dels["encryption_key"]))
            )
        ]
        if any(k for _p, k in keyed):
            return self._scan_files_encrypted(
                keyed, self._DELETE_STRUCT, with_pos=False
            )
        # the declared schema spares Spark a schema-inference job
        return self.spark.read.schema(self._DELETE_STRUCT).parquet(
            *sorted(set(dels["path"]))
        )

    def _register_deletes(
        self,
        name: str,
        tid: int,
        hit_pos: DataFrame,
        paths: list[str] | None = None,
    ) -> None:
        """Write + register positional delete files for ``hit_pos``
        (DataFrame of file_path, pos against the LIVE scan).  The
        DuckLake-spec shape: ONE delete parquet per touched data file
        under ``__part=<md5(file_path)>``; untouched files aren't read or
        rewritten at all.  The new delete set is cumulative: prior delete
        rows of touched files fold in, so a data file always has exactly
        one live delete file.

        One shuffle feeds the write.  The new hits and the old delete
        rows of the data files the hit scan kept (``paths``, the list its
        table_df kept after file skipping; None means every file) cluster on
        file_path; positions are deduplicated and the groups without a
        new row dropped inside that clustering; the catalog's counts come
        from the written footers (a file's new rows are its footer count
        minus its old ``delete_count``), so no checkpoint and no stats
        job run.  Nothing matched leaves no directory and no catalog
        change."""
        from pyspark.sql import Window

        files = self.catalog.data_files(tid)
        if paths is None:
            paths = list(files["path"])
        elif not paths:
            return  # the hit scan read no file
        # a delete file without an owning data file stays live as it is;
        # only owned ones fold into their file's new delete file, so the
        # owner's old delete_count is exactly what the new file carries over
        fids = files.loc[files["path"].isin(paths), "data_file_id"]
        dels = self.catalog.delete_files(tid)
        dels = dels[dels["data_file_id"].isin(fids)]
        full = hit_pos.select("file_path", "pos", F.lit(1).alias("__new"))
        if not dels.empty:
            # live-scan rows are never already-deleted, so the old rows
            # never collide with a new hit
            old = self._read_delete_rows(dels).withColumn("__new", F.lit(0))
            full = full.unionByName(old)
        # hash clustering on file_path already satisfies both the dedup's
        # and the window's distribution: neither adds an exchange
        clustered = (
            full.repartition("file_path")
            .dropDuplicates(["file_path", "pos"])
            .withColumn(
                "__hit", F.max("__new").over(Window.partitionBy("file_path"))
            )
            .filter(F.col("__hit") == 1)
            .select("file_path", "pos", F.md5("file_path").alias("__part"))
        )
        out_dir = os.path.join(
            self.data_path, name, f"delete-{uuid.uuid4().hex[:12]}"
        )
        # md5 partition value -> (registered path, key, rows, bytes)
        written: dict[str, tuple[str, str | None, int, int]] = {}
        if self.catalog.encrypted:
            # delete files carry their own PME keys, same as data files
            from ducklakexl_spark import crypto

            iofs.makedirs(out_dir)
            fn = crypto.make_encrypted_writer(
                out_dir, ["__part"], self._writer_options().get("compression")
            )
            for r in clustered.mapInArrow(
                fn, "path string, key string, part string"
            ).collect():
                meta = crypto.open_parquet(r["path"], r["key"]).metadata
                written[json.loads(r["part"])[0]] = (
                    r["path"], r["key"], meta.num_rows, iofs.getsize(r["path"])
                )
        else:
            clustered.write.mode("overwrite").partitionBy("__part").parquet(
                out_dir
            )
            for fp, size in iofs.list_files(out_dir, recursive=True):
                if not fp.endswith(".parquet"):
                    continue
                leaf = os.path.dirname(fp)
                part = leaf.rsplit("__part=", 1)[1]
                _, _, n, b = written.get(part, (leaf, None, 0, 0))
                written[part] = (
                    leaf, None, n + iofs.parquet_metadata(fp).num_rows, b + size
                )
        fid_by_md5 = {
            hashlib.md5(self._norm_path_str(p).encode()).hexdigest(): int(i)
            for i, p in zip(files["data_file_id"], files["path"])
        }
        old_count = dels.groupby("data_file_id")["delete_count"].sum()
        entries, removed = [], 0
        for part, (path, key, n, size) in written.items():
            fid = fid_by_md5.get(part)
            if fid is None:
                continue
            removed += n - int(old_count.get(fid, 0))
            entries.append(
                {
                    "data_file_id": fid,
                    "path": path,
                    "delete_count": n,
                    "file_size_bytes": size,
                    "encryption_key": key,
                }
            )
        if not entries:
            iofs.rmtree(out_dir)
            return
        self.catalog.register_delete_files(tid, entries, removed)

    def _update(self, name: str, set_clause: str, where: str | None) -> None:
        """UPDATE = write updated copies + positional-delete originals
        (DuckLake never rewrites data files — SURVEY §2.C row "DML")."""
        set_clause = apply_expr_dialect(set_clause)
        where = apply_expr_dialect(where) if where else where
        schema = self.table_schema(name)
        preds = None
        if where:
            # same catalog-level pruning as DELETE: only files whose
            # stats overlap the WHERE range are opened
            tid = self.catalog.table_id(name)
            cols = {
                r.column_name
                for r in self.catalog.columns(tid).itertuples()
            }
            preds = self._conjunct_predicates(where, cols, (name, None))
        live = self.table_df(name, with_position=True, predicates=preds)
        hits = live.filter(where) if where else live
        gen = self._generated_cols(self.catalog.table_id(name), schema)
        assignments = _parse_set_list(
            set_clause, schema.fieldNames(), f"UPDATE {name}",
            {c for c, _x, _t in gen},
        )
        new_rows = hits.selectExpr(
            *[
                f"CAST(({assignments[f.name]}) AS {_type_sql(f.dataType)}) "
                f"AS {_bq(f.name)}"
                if f.name in assignments
                else _bq(f.name)
                for f in schema.fields
            ]
        )
        # materialize new rows BEFORE the delete registers (the scan they came
        # from must not see the delete file); CHECK validation rides the
        # same materialization job so a violating UPDATE aborts before
        # the delete is written
        new_rows, raise_on_violation = self._check_observer(
            self.catalog.table_id(name), name, new_rows
        )
        new_rows = new_rows.cache()
        new_rows.count()
        try:
            raise_on_violation()
        except ValueError:
            new_rows.unpersist()
            raise
        self._delete(name, where)
        self._write_dataframe(name, new_rows)
        new_rows.unpersist()
        return None

    # ----------------------------------------------------------------- MERGE

    def _prune_by_source_bounds(
        self, tdf, sdf, cond: str, t_alias: str, s_alias: str,
        t_cols, s_cols,
    ):
        """Dynamic file pruning for join-mutations: for every
        ``target.col = source.col`` equi-term in the join condition,
        compute the source keys' [min, max] (one tiny agg job) and
        pre-filter the target scan with BETWEEN — parquet min/max
        pushdown then skips every file outside the touched key range, so
        a 1-row MERGE/join-DELETE on a key-clustered 100 TB table reads
        one file, not the table.  Returns ``(pruned_frame, catalog_preds)``
        — ``catalog_preds`` is the same bound as (col, op, value)
        predicates for ``table_df``'s catalog-level file skipping (the
        caller rebuilds the match scan over ONLY the surviving files, so
        at 100 TB the match branch never even lists the untouched files'
        footers) — or ``(None, [])`` when the condition carries no
        safely-extractable equi-term."""
        eq_pairs = []
        for tm_, sm_ in re.findall(
            rf"\b{re.escape(t_alias)}\.(\w+)\s*=\s*{re.escape(s_alias)}\.(\w+)",
            cond,
        ) + [
            (t2, s2)
            for s2, t2 in re.findall(
                rf"\b{re.escape(s_alias)}\.(\w+)\s*=\s*"
                rf"{re.escape(t_alias)}\.(\w+)",
                cond,
            )
        ]:
            if tm_ in t_cols and sm_ in s_cols:
                eq_pairs.append((tm_, sm_))
        if not eq_pairs:
            return None, []
        bounds = sdf.agg(
            *[
                f(sm_).alias(f"{tag}_{i}")
                for i, (_t, sm_) in enumerate(eq_pairs)
                for tag, f in (("lo", F.min), ("hi", F.max))
            ]
        ).collect()[0]
        pruned = tdf
        preds: list[tuple[str, str, object]] = []
        for i, (tm_, _s) in enumerate(eq_pairs):
            lo, hi = bounds[f"lo_{i}"], bounds[f"hi_{i}"]
            if lo is None or hi is None:
                return pruned.filter(F.lit(False)), []  # empty source
            pruned = pruned.filter(F.col(tm_).between(F.lit(lo), F.lit(hi)))
            # catalog-level predicates only for types _skip_files compares
            # exactly (Decimal etc. keep the frame-level BETWEEN only).
            # Timestamp bounds: collect() renders TimestampType as a
            # NAIVE datetime in the *driver OS* timezone (not the UTC
            # session tz), while _skip_files tz_localizes naive values to
            # UTC before comparing with the footer stats' UTC instants —
            # on a non-UTC box the prune window would shift by the UTC
            # offset and silently skip files containing matched rows.
            # fromtimestamp() is fold-aware since Python 3.6, so
            # astimezone() recovers the exact UTC instant; the
            # frame-level BETWEEN above needs no fix (F.lit() applies the
            # symmetric OS-local conversion).
            if isinstance(lo, _dt.datetime):
                lo = lo.astimezone(_dt.timezone.utc).replace(tzinfo=None) \
                    if lo.tzinfo is None else lo.astimezone(_dt.timezone.utc)
                hi = hi.astimezone(_dt.timezone.utc).replace(tzinfo=None) \
                    if hi.tzinfo is None else hi.astimezone(_dt.timezone.utc)
                preds += [(tm_, ">=", lo), (tm_, "<=", hi)]
            elif isinstance(lo, (int, float, str, _dt.date)) \
                    and not isinstance(lo, bool):
                preds += [(tm_, ">=", lo), (tm_, "<=", hi)]
        return pruned, preds

    def _merge(
        self,
        target: str,
        t_alias: str | None,
        source: str,
        s_alias: str | None,
        cond: str,
        actions: str,
    ) -> None:
        """``MERGE INTO t USING s ON cond WHEN [NOT] MATCHED [AND …] THEN
        UPDATE SET … | DELETE | INSERT …`` (DuckDB gained MERGE in 1.4,
        just past the pinned 1.3 scope — included for completeness).

        Every WHEN clause is tokenized up front and any unrecognized
        clause raises (never a silent partial merge); clauses apply in
        statement order, first match wins per row — the SQL semantics.

        Commit shape is DuckLake's delete-file + append pattern, NOT a
        table rewrite: matched rows hit by an UPDATE/DELETE clause become
        positional delete entries against their existing data files
        (untouched data_file_ids survive unchanged — a 1-row MERGE on a
        100 TB table writes one delete file and one small append file);
        UPDATE replacements and INSERT rows land as new append files.
        Both register in the statement's one catalog snapshot, so the
        merge is atomic at the catalog level.
        Assumes each target row matches at most one source row (the SQL
        cardinality rule; violations produce one new row per match)."""
        name = _unqualify(target)
        t_alias = t_alias or name
        cond = apply_expr_dialect(cond)
        actions = apply_expr_dialect(actions)
        if s_alias is None:
            # an unaliased bare-table source is referenceable by its own
            # name (MERGE INTO t USING src ON t.id = src.id), exactly as
            # in DuckDB; only a subquery source needs a synthetic alias
            s_alias = (
                _unqualify(source)
                if re.match(r'^[\w."]+$', source.strip())
                else "__merge_src"
            )
        # MERGE's matched arms turn scan positions into per-file delete
        # entries, which inlined rows don't have — flush them to parquet
        # first (no-op when the table has none)
        self.flush_inlined(name)
        tid = self.catalog.table_id(name)
        schema = self.table_schema(name)
        cols = [f.name for f in schema.fields]
        clauses = _parse_merge_clauses(
            actions, cols, {c for c, _x, _t in self._generated_cols(tid, schema)}
        )
        matched_cl = [c for c in clauses if c["matched"]]
        bysrc_cl = [c for c in clauses if c.get("by_source")]
        notm_cl = [
            c for c in clauses if not c["matched"] and not c.get("by_source")
        ]

        tdf = self.table_df(name, with_position=True)
        sdf = (
            self._select(source[1:-1]) if source.startswith("(")
            else self._select(f"SELECT * FROM {_unqualify(source)}")
        )
        tdf.createOrReplaceTempView("__merge_t")
        sdf.createOrReplaceTempView("__merge_s")
        s_cols = sdf.columns

        # Dynamic file pruning for the MATCH branch (see
        # _prune_by_source_bounds); the NOT MATCHED BY SOURCE branch
        # keeps the UNPRUNED frame (pruning there would misclassify
        # skipped rows as source-unmatched).
        matched_view = "__merge_t"
        self.last_match_scan_files = None
        preds: list[tuple[str, str, object]] = []
        match_paths = None  # files the pruned match scan kept
        if matched_cl:
            pruned, preds = self._prune_by_source_bounds(
                tdf, sdf, cond, t_alias, s_alias, cols, s_cols
            )
            if preds:
                # rebuild the match scan over ONLY the files whose
                # catalog min/max stats intersect the source key range —
                # on a key-clustered table a 1-row MERGE lists/reads one
                # file, not the table (VERDICT r6 task 2); the BETWEEN
                # filter then prunes row groups within survivors
                pruned = self.table_df(
                    name, with_position=True, predicates=preds
                )
                match_paths = self._last_scan_paths
                self.last_match_scan_files = self._last_scan_file_count
                for c, op, v in preds:
                    pruned = pruned.filter(
                        F.col(c) >= F.lit(v) if op == ">=" else F.col(c) <= F.lit(v)
                    )
            if pruned is not None:
                pruned.createOrReplaceTempView("__merge_t_pruned")
                matched_view = "__merge_t_pruned"

        new_parts: list[DataFrame] = []
        del_pos = None
        # WHEN MATCHED arms act on the (pruned) target x source join,
        # NOT MATCHED BY SOURCE arms on the target rows with no source
        # match (a left-anti join over the UNPRUNED scan): the same
        # first-match-wins CASE over either relation.  A lone
        # unconditional DELETE (DELETE … USING) reads no source column,
        # so it joins LEFT SEMI: one row per target row however many
        # source rows match it
        lone = [(c["action"], c["cond"]) for c in matched_cl]
        join = "LEFT SEMI JOIN" if lone == [("delete", None)] else "JOIN"
        for arm_cl, relation in (
            (matched_cl,
             f"{matched_view} {t_alias} {join} __merge_s {s_alias} ON {cond}"),
            (bysrc_cl,
             f"(SELECT {t_alias}.* FROM __merge_t {t_alias} LEFT ANTI "
             f"JOIN __merge_s {s_alias} ON {cond}) AS {t_alias}"),
        ):
            if not arm_cl:
                continue
            arms = " ".join(
                f"WHEN {cl['cond'] or 'TRUE'} THEN {i}"
                for i, cl in enumerate(arm_cl)
            )
            updates = [
                (i, cl) for i, cl in enumerate(arm_cl) if cl["action"] == "update"
            ]
            proj = [f"{t_alias}.{c} AS {c}" for c in cols + ["__file", "__pos"]]
            proj += [
                f"({expr}) AS __u{i}_{c}"
                for i, cl in updates
                for c, expr in cl["assignments"].items()
            ]
            touched = self.spark.sql(
                f"SELECT {', '.join(proj)}, CASE {arms} ELSE -1 END"
                f" AS __clause FROM {relation}"
            ).filter(F.col("__clause") >= 0)
            if updates:
                # the delete positions and the UPDATE rows must read the
                # same touched rows: materialize them once
                touched = touched.localCheckpoint(eager=True)
            pos = touched.select(
                F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
            )
            del_pos = pos if del_pos is None else del_pos.unionAll(pos)
            for i, cl in updates:
                new_parts.append(
                    touched.filter(F.col("__clause") == i).select(
                        *[
                            F.col(f"__u{i}_{c}").alias(c)
                            if c in cl["assignments"]
                            else F.col(c)
                            for c in cols
                        ]
                    )
                )

        if notm_cl:
            anti = (
                f"SELECT {s_alias}.* FROM __merge_s {s_alias} "
                f"LEFT ANTI JOIN __merge_t {t_alias} ON {cond}"
            )
            arms = " ".join(
                f"WHEN {cl['cond'] or 'TRUE'} THEN {i}"
                for i, cl in enumerate(notm_cl)
            )
            unmatched = self.spark.sql(
                f"SELECT *, CASE {arms} ELSE -1 END AS __clause "
                f"FROM ({anti}) AS {s_alias}"
            )
            for i, cl in enumerate(notm_cl):
                rows = unmatched.filter(F.col("__clause") == i)
                if cl["action"] == "insert_star":
                    # INSERT *: by-name where source names match the
                    # target; else positional when the arity matches
                    if set(cols) <= set(s_cols):
                        sel = [F.col(c) for c in cols]
                    elif len(s_cols) == len(cols):
                        sel = [F.col(s).alias(c) for s, c in zip(s_cols, cols)]
                    else:
                        raise ValueError(
                            "MERGE INSERT *: source columns match the target "
                            "neither by name nor by position"
                        )
                    new_parts.append(rows.select(*sel))
                else:
                    ins_cols = cl["ins_cols"] or cols
                    vals = cl["ins_vals"]
                    if len(ins_cols) != len(vals):
                        raise ValueError(
                            "MERGE INSERT: column/value count mismatch"
                        )
                    val_by_col = dict(zip(ins_cols, vals))
                    new_parts.append(
                        rows.select(
                            *[
                                F.expr(val_by_col[c]).alias(c)
                                if c in val_by_col
                                else F.lit(None).alias(c)
                                for c in cols
                            ]
                        )
                    )

        new_rows = None
        if new_parts:
            new_rows = new_parts[0]
            for p in new_parts[1:]:
                new_rows = new_rows.unionByName(p)
            new_rows = new_rows.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            )
            # materialize BEFORE the delete registers: the scan these rows
            # came from must not see the new delete file.  UPDATE arms
            # derive from the already-checkpointed `touched` frames, so
            # only INSERT arms (which re-scan the live table through the
            # anti-join) need the extra materialization — an UPDATE-only
            # 1-row MERGE saves one Spark job
            if notm_cl:
                new_rows = new_rows.localCheckpoint(eager=True)

        n_new = 0
        if new_rows is not None:
            # CHECK validation folds into the row-count job over the
            # checkpointed rows — a violating MERGE aborts HERE, before
            # any delete is registered
            viol, checks = self._check_violation_col(tid)
            if viol is not None:
                r = new_rows.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(viol.cast("long")).alias("v"),
                ).first()
                n_new, n_viol = r["n"], r["v"] or 0
                if n_viol:
                    raise ValueError(
                        f"CHECK constraint violated on table {name!r}: "
                        f"{n_viol} row(s) failed {checks}"
                    )
            else:
                n_new = new_rows.count()
        if del_pos is not None:
            # the BY SOURCE arms scan every file, the MATCHED arms only
            # the files left by the source-bound predicates
            self._register_deletes(
                name, tid, del_pos, paths=None if bysrc_cl else match_paths
            )
        if n_new > 0:
            self._write_dataframe(name, new_rows)
        return None

    # ------------------------------------------------------------------ COPY

    def _copy_to(self, source: str, path: str, opts: str | None) -> None:
        """``COPY (SELECT …) TO 'path' (FORMAT …, PARTITION_BY (…))`` /
        ``COPY tbl TO …`` — the reference inherits DuckDB's COPY through
        its dispatch point (ducklakexl.py:394; SURVEY §2.C "sinks").
        The write is an executor-parallel ``df.write``; PARTITION_BY
        maps to Spark's hive-layout ``partitionBy`` (same key=value
        directory scheme DuckDB emits); format defaults by extension."""
        source = source.strip()
        if source.startswith("("):
            df = self._select(source[1:-1])
        else:
            df = self.table_df(_unqualify(source))
        if any(isinstance(f.dataType, T.NullType) for f in df.schema.fields):
            # an all-NULL (VOID) column — Spark's CSV/parquet sinks
            # reject the type; DuckDB types a bare NULL INTEGER and
            # writes it, so do the same (round-5 IO fuzz find)
            df = df.select(*[
                F.col(f.name).cast("int").alias(f.name)
                if isinstance(f.dataType, T.NullType) else F.col(f.name)
                for f in df.schema.fields
            ])
        fmt = part_cols = enc_key = None
        if opts:
            if fm := _COPY_FORMAT_RE.search(opts):
                fmt = fm.group(1)
            elif re.fullmatch(r"\s*(\w+)\s*", opts):
                fmt = opts.strip()  # bare '(parquet)' shorthand
            if pm := _COPY_PARTITION_BY_RE.search(opts):
                cols = pm.group(1) if pm.group(1) is not None else pm.group(2)
                part_cols = [
                    c.strip().strip('"') for c in cols.split(",") if c.strip()
                ]
            if em := _ENCRYPTION_CONFIG_RE.search(opts):
                enc_key = self._resolve_parquet_key(em.group(1))
        explicit_fmt = fmt is not None
        low = path.lower()
        fmt = (fmt or (
            "csv" if low.endswith((".csv", ".tsv"))
            else "json" if low.endswith((".json", ".ndjson", ".jsonl"))
            else "parquet"
        )).lower()
        if enc_key is not None:
            # DuckDB's COPY … (ENCRYPTION_CONFIG {footer_key: k}):
            # distributed PME write under the NAMED user key (same key
            # every file, unlike the lake plane's per-file keys).  Format
            # note in crypto.py: pyarrow PME envelope-wraps DEKs, so the
            # files interop with read_parquet(…, encryption_config=…)
            # here, not with DuckDB's raw-footer-key scheme.
            if fmt != "parquet":
                raise ValueError(
                    "ENCRYPTION_CONFIG is only supported with parquet"
                )
            from ducklakexl_spark import crypto

            if part_cols:
                raise NotImplementedError(
                    "COPY TO: ENCRYPTION_CONFIG with PARTITION_BY is not "
                    "supported"
                )
            iofs.makedirs(path)
            fn = crypto.make_encrypted_writer(
                path,
                [],
                self._writer_options().get("compression"),
                fixed_key_b64=enc_key,
            )
            df.mapInArrow(fn, "path string, key string, part string").collect()
            return None
        # DuckDB writes exactly ONE file at 'path' when the path names a
        # file (COPY … TO 'out.csv', or any dotted path with an explicit
        # FORMAT — e.g. 'out.txt' (FORMAT CSV)); an extension-less path
        # keeps the executor-parallel directory-of-parts write (the
        # scale path — coalesce(1) funnels the whole result through one
        # task, which is only appropriate when the user asked for one
        # file).
        ext_m = re.search(r"\.(\w+)$", path.rsplit("/", 1)[-1])
        single_file = not part_cols and ext_m is not None and (
            explicit_fmt
            or ext_m.group(1).lower() in (
                "csv", "tsv", "parquet", "json", "ndjson", "jsonl",
            )
        )
        out_path = path + ".__parts" if single_file else path
        writer = df.coalesce(1).write.mode("overwrite") if single_file \
            else df.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        if fmt == "csv":
            # values round-trip byte-exact: no whitespace trimming
            # (Spark's CSV writer trims both ends by DEFAULT), and
            # RFC-4180 "" quote doubling so DuckDB's reader agrees
            w = (
                writer.option("header", "true")
                .option("ignoreLeadingWhiteSpace", "false")
                .option("ignoreTrailingWhiteSpace", "false")
                .option("escape", '"')
                # write empty strings as quoted "" so readers (DuckDB,
                # our own read_csv) keep them distinct from NULL
                .option("emptyValue", '""')
            )
            # DuckDB COPY csv options (DELIMITER '|', HEADER false,
            # NULL 'NA', QUOTE/ESCAPE, DATEFORMAT) map onto the writer
            for om in re.finditer(
                r"(?i)\b(DELIMITER|SEPARATOR|SEP|QUOTE|ESCAPE|NULLSTR|"
                r"DATEFORMAT|TIMESTAMPFORMAT|HEADER|NULL)\b"
                r"\s*('(?:[^']|'')*'|true|false|1|0)?",
                opts or "",
            ):
                key, val = om.group(1).lower(), om.group(2)
                if val and val.startswith("'"):
                    val = val[1:-1].replace("''", "'")
                if key == "header":
                    w = w.option(
                        "header",
                        "false" if (val or "true").lower()
                        in ("false", "0") else "true",
                    )
                elif key in ("delimiter", "separator", "sep"):
                    if val:
                        w = w.option("sep", val)
                elif key in ("null", "nullstr"):
                    if val is not None:
                        w = w.option("nullValue", val)
                elif val is not None:
                    w = w.option(
                        {"dateformat": "dateFormat",
                         "timestampformat": "timestampFormat"}.get(key, key),
                        val,
                    )
            w.csv(out_path)
        elif fmt == "json":
            writer.json(out_path)
        elif fmt == "parquet":
            writer.parquet(out_path)
        else:
            raise ValueError(f"COPY TO: unsupported format {fmt!r}")
        if single_file:
            part = [
                p for p, _ in iofs.list_files(out_path)
                if p.rsplit("/", 1)[-1].startswith("part-")
            ]
            if len(part) != 1:  # pragma: no cover - coalesce(1) writes one
                raise RuntimeError(
                    f"COPY TO single file: expected 1 part, got {part}"
                )
            if iofs.isdir(path):
                # a prior directory-mode write left a directory at the
                # destination — DuckDB clobbers; move() into it would fail
                iofs.rmtree(path)
            iofs.move(part[0], path)
            iofs.rmtree(out_path)
        return None

    def _copy_from(self, name: str, path: str, opts: str | None) -> None:
        """``COPY tbl FROM 'path' [(FORMAT …)]`` — bulk import: read the
        file(s) with the built-in parallel readers and append as new data
        files in one snapshot.  Columns align by name when the source
        covers the table's schema, else positionally; values cast to the
        declared column types (CSV/JSON arrive stringly)."""
        fmt = None
        if opts:
            if fm := _COPY_FORMAT_RE.search(opts):
                fmt = fm.group(1)
            elif re.fullmatch(r"\s*(\w+)\s*", opts):
                fmt = opts.strip()
        if fmt is None:
            low = path.lower()
            fmt = (
                "csv" if low.endswith(".csv")
                else "json" if low.endswith((".json", ".ndjson"))
                else "parquet"
            )
        # COPY (FORMAT CSV, DELIMITER '|', HEADER false, NULL 'NA', …)
        # reader options route through the same map as read_csv's named
        # options (keyword COPY grammar → key=value dict)
        tvf_opts: dict[str, str] = {}
        if opts:
            for om in re.finditer(
                r"(?i)\b(DELIMITER|SEPARATOR|SEP|QUOTE|ESCAPE|NULLSTR|"
                r"DATEFORMAT|TIMESTAMPFORMAT|HEADER|NULL)\b"
                r"\s*('(?:[^']|'')*'|true|false|1|0)?",
                opts,
            ):
                key, val = om.group(1).lower(), om.group(2)
                key = {"delimiter": "delim", "separator": "delim",
                       "sep": "delim", "null": "nullstr"}.get(key, key)
                tvf_opts[key] = val if val is not None else "true"
        df = self._read_files(fmt.lower(), [path], tvf_opts)
        schema = self.table_schema(name)
        if {f.name for f in schema.fields} <= set(df.columns):
            sel = [
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        elif len(df.columns) == len(schema.fields):
            sel = [
                F.col(c).cast(f.dataType).alias(f.name)
                for c, f in zip(df.columns, schema.fields)
            ]
        else:
            raise ValueError(
                f"COPY FROM: source columns match table {name!r} neither "
                f"by name nor by position"
            )
        self._write_dataframe(name, df.select(*sel))
        return None

    # --------------------------------------------------------------- SELECT

    # read_csv named options → Spark reader options (value transforms
    # applied in _read_files); silently-ignorable knobs have no Spark
    # meaning (we always auto-detect, compression is by extension)
    _CSV_OPT_MAP = {
        "delim": "sep", "sep": "sep", "quote": "quote",
        "escape": "escape", "nullstr": "nullValue", "header": "header",
        "dateformat": "dateFormat", "timestampformat": "timestampFormat",
        "decimal_separator": None, "new_line": None,
    }
    _TVF_IGNORED = {
        "auto_detect", "sample_size", "compression", "parallel",
        "max_line_size", "normalize_names", "union_by_name",
        "hive_partitioning", "format",
    }

    def _read_files(
        self, kind: str, paths: list[str],
        opts: dict[str, str] | None = None,
    ) -> DataFrame:
        """Built-in Spark reader for the read_* TVFs and COPY FROM.
        Paths may be globs — Spark's file index expands them, exactly
        like DuckDB's read_parquet('dir/*.parquet').  ``opts`` carries
        DuckDB-style named TVF options (``delim='|'``, ``header=false``,
        ``columns={'a': 'INTEGER'}``, ``nullstr='NA'``,
        ``all_varchar=true``, ``ignore_errors=true``; JSON:
        ``format='array'``) mapped onto the Spark reader — unknown
        options raise rather than silently changing results."""
        opts = dict(opts or {})
        if kind == "parquet":
            # runtime-settable; the driver may hand us a vanilla session
            # and the fixture parquet carries TIMESTAMP(NANOS) columns
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # read no-tz timestamp[us] as TIMESTAMP (not NTZ) so filters
            # on those columns still push to the parquet scan
            self.spark.conf.set(
                "spark.sql.parquet.inferTimestampNTZ.enabled", "false"
            )
            df = self.spark.read.parquet(*paths)
            # TIMESTAMP(NANOS) columns arrive as LONG under the
            # nanosAsLong conf (session.py) — normalize them back to
            # timestamps the way queries.load() does.  Detect ns columns
            # from footers of the files Spark actually resolved
            # (inputFiles expands globs and lists), continuing until
            # every LONG-typed column has been seen in some footer — a
            # ns column first appearing in a later file (schema merge)
            # is still caught.
            ns_cols: set[str] = set()
            long_cols = {
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, T.LongType)
            }
            seen: set[str] = set()
            for p in df.inputFiles() if long_cols else []:
                if p.startswith("file:"):
                    # inputFiles returns percent-encoded file URIs; decode
                    # so paths with spaces/special chars still resolve
                    p = urllib.parse.unquote(
                        re.sub(r"^file:/{0,2}(?=/)", "", p)
                    )
                try:
                    sch = iofs.read_schema(p)
                except Exception:
                    continue
                for f in sch:
                    if f.name in long_cols:
                        seen.add(f.name)
                        if str(f.type) == "timestamp[ns]":
                            ns_cols.add(f.name)
                if seen >= long_cols:
                    break
            for f in df.schema.fields:
                if f.name in ns_cols and isinstance(f.dataType, T.LongType):
                    df = df.withColumn(
                        f.name, F.timestamp_micros(F.expr(f"{f.name} DIV 1000"))
                    )
                elif isinstance(f.dataType, T.TimestampNTZType):
                    # timestamp[us] no-tz parquet: relabel to TIMESTAMP
                    # under the UTC session so epoch casts and DuckDB
                    # parity hold (same normalization as queries.load)
                    df = df.withColumn(
                        f.name, F.col(f.name).cast(T.TimestampType())
                    )
            return df
        if kind == "csv":
            # RFC-4180 parity with DuckDB's COPY: multiLine keeps
            # quoted embedded newlines inside one record (DuckDB quotes
            # them on write; the cost is per-file instead of per-split
            # read parallelism — many files still fan out), and the
            # escape char is the double-quote itself ("" doubling, not
            # backslash).  IO fuzz finds (tests/fuzz_io.py).
            r = (
                self.spark.read.option("header", "true")
                .option("inferSchema", "true")
                .option("multiLine", "true")
                .option("escape", '"')
                # quoted "" is an EMPTY STRING, unquoted empty is NULL
                # (DuckDB's write convention; Spark folds both to null
                # by default).  Moving nullValue off "" is what keeps
                # them apart — univocity returns Java-null for a truly
                # empty unquoted field regardless of the sentinel — so
                # the sentinel only needs to never occur in real data:
                # a NUL-framed token, not "\\N" (which a MySQL-style
                # external dump legitimately contains as text; DuckDB's
                # default nullstr='' keeps it a string).
                .option("nullValue", "\x00DLXL_NULL\x00")
                .option("emptyValue", "")
            )
            for k, v in opts.items():
                if k in self._TVF_IGNORED or self._CSV_OPT_MAP.get(k, k) is None:
                    continue
                if k == "columns":
                    r = r.schema(_tvf_columns_schema(v)).option(
                        "inferSchema", "false"
                    )
                elif k == "all_varchar":
                    if v.strip().lower() in ("true", "1"):
                        r = r.option("inferSchema", "false")
                elif k == "ignore_errors":
                    if v.strip().lower() in ("true", "1"):
                        r = r.option("mode", "DROPMALFORMED")
                elif k in self._CSV_OPT_MAP:
                    val = v.strip()
                    if val.startswith("'") and val.endswith("'"):
                        val = val[1:-1].replace("''", "'")
                    if k == "header":
                        # COPY/read_csv accept HEADER 1/0/on/off; Spark's
                        # boolean option only takes true/false (the COPY
                        # TO path already normalizes — mirror it here)
                        val = (
                            "false" if val.lower() in ("false", "0", "off")
                            else "true"
                        )
                    r = r.option(self._CSV_OPT_MAP[k], val)
                else:
                    raise ValueError(f"read_csv: unsupported option {k!r}")
            return r.csv(paths)
        r = self.spark.read
        for k, v in opts.items():
            if k in self._TVF_IGNORED and k != "format":
                continue
            if k == "columns":
                r = r.schema(_tvf_columns_schema(v))
            elif k == "format":
                # 'array' = one JSON array per file; the default
                # newline_delimited is Spark's native mode
                if v.strip().strip("'").lower() == "array":
                    r = r.option("multiLine", "true")
            elif k == "ignore_errors":
                if v.strip().lower() in ("true", "1"):
                    r = r.option("mode", "DROPMALFORMED")
            else:
                raise ValueError(f"read_json: unsupported option {k!r}")
        return r.json(paths)

    _META_SUBQUERY_RE = re.compile(
        r"\(\s*(DESCRIBE|SUMMARIZE|SHOW)\b", re.I
    )

    def _rewrite_meta_subqueries(self, stmt: str) -> str:
        """DuckDB allows diagnostic statements as relations:
        ``SELECT column_name FROM (DESCRIBE t)`` — execute the inner
        statement through the full sql() dispatch and substitute a temp
        view over its result."""
        search = 0
        while True:
            m = self._META_SUBQUERY_RE.search(stmt, search)
            if not m:
                return stmt
            if _inside_string_literal(stmt, m.start()):
                search = m.end()
                continue
            close = matching_paren(stmt, m.start())
            inner = stmt[m.start() + 1 : close].strip()
            df = self.sql(inner)
            view = "__meta_sub_" + hashlib.md5(
                inner.encode()
            ).hexdigest()[:12]
            df.createOrReplaceTempView(view)
            stmt = stmt[: m.start()] + f" {view} " + stmt[close + 1 :]
            search = m.start()

    def _rewrite_misc_tvfs(self, stmt: str) -> str:
        """DuckDB introspection/utility TVFs in FROM position:
        ``glob('pattern')`` (file listing, one ``file`` column),
        ``duckdb_tables()`` (catalog inventory), ``pragma_version()``."""
        m = re.search(r"\bglob\s*\(\s*'([^']+)'\s*\)", stmt, re.I)
        if m:
            import glob as _glob

            files = sorted(_glob.glob(m.group(1)))
            df = self.spark.createDataFrame(
                [(f,) for f in files] or [(None,)], "file string"
            )
            if not files:
                df = df.filter("file IS NOT NULL")
            df.createOrReplaceTempView("__glob_files")
            stmt = stmt[: m.start()] + " __glob_files " + stmt[m.end() :]
        if re.search(r"\bduckdb_tables\s*\(\s*\)", stmt, re.I):
            rows = [
                (self.current_db or "memory", "main", t)
                for t in sorted(self.catalog.table_names())
            ]
            df = self.spark.createDataFrame(
                rows or [(None, None, None)],
                "database_name string, schema_name string, table_name string",
            )
            if not rows:
                df = df.filter("table_name IS NOT NULL")
            df.createOrReplaceTempView("__duckdb_tables")
            stmt = re.sub(
                r"\bduckdb_tables\s*\(\s*\)", " __duckdb_tables ", stmt,
                flags=re.I,
            )
        if re.search(r"\bpragma_version\s*\(\s*\)", stmt, re.I):
            self.spark.createDataFrame(
                [(f"spark-{self.spark.version}", "")],
                "library_version string, source_id string",
            ).createOrReplaceTempView("__pragma_version")
            stmt = re.sub(
                r"\bpragma_version\s*\(\s*\)", " __pragma_version ", stmt,
                flags=re.I,
            )
        if re.search(r"\bduckdb_columns\s*\(\s*\)", stmt, re.I):
            rows = []
            for t in sorted(self.catalog.table_names()):
                cols = self.catalog.columns(self.catalog.table_id(t))
                for i, r in enumerate(cols.itertuples()):
                    rows.append(
                        (self.current_db or "memory", "main", t,
                         str(r.column_name), i + 1, str(r.column_type),
                         bool(r.nulls_allowed))
                    )
            df = self.spark.createDataFrame(
                rows or [(None, None, None, None, None, None, None)],
                "database_name string, schema_name string, "
                "table_name string, column_name string, "
                "column_index int, data_type string, is_nullable boolean",
            )
            if not rows:
                df = df.filter("table_name IS NOT NULL")
            df.createOrReplaceTempView("__duckdb_columns")
            stmt = re.sub(
                r"\bduckdb_columns\s*\(\s*\)", " __duckdb_columns ", stmt,
                flags=re.I,
            )
        if re.search(r"\bduckdb_views\s*\(\s*\)", stmt, re.I):
            rows = [
                (self.current_db or "memory", "main", v,
                 self.catalog.view_sql(v))
                for v in sorted(self.catalog.view_names())
            ]
            df = self.spark.createDataFrame(
                rows or [(None, None, None, None)],
                "database_name string, schema_name string, "
                "view_name string, sql string",
            )
            if not rows:
                df = df.filter("view_name IS NOT NULL")
            df.createOrReplaceTempView("__duckdb_views")
            stmt = re.sub(
                r"\bduckdb_views\s*\(\s*\)", " __duckdb_views ", stmt,
                flags=re.I,
            )
        if re.search(r"\bduckdb_settings\s*\(\s*\)", stmt, re.I):
            rows = sorted(
                (k, str(v), "", "VARCHAR")
                for k, v in self.session_settings.items()
            )
            df = self.spark.createDataFrame(
                rows or [(None, None, None, None)],
                "name string, value string, description string, "
                "input_type string",
            )
            if not rows:
                df = df.filter("name IS NOT NULL")
            df.createOrReplaceTempView("__duckdb_settings")
            stmt = re.sub(
                r"\bduckdb_settings\s*\(\s*\)", " __duckdb_settings ",
                stmt, flags=re.I,
            )
        if re.search(r"\bduckdb_functions\s*\(\s*\)", stmt, re.I):
            names = sorted(_DUCK_FNS | set(_DUCK_FN_RENAME.values()))
            self.spark.createDataFrame(
                [("system", "main", n, "scalar") for n in names],
                "database_name string, schema_name string, "
                "function_name string, function_type string",
            ).createOrReplaceTempView("__duckdb_functions")
            stmt = re.sub(
                r"\bduckdb_functions\s*\(\s*\)", " __duckdb_functions ",
                stmt, flags=re.I,
            )
        return stmt

    def _read_file_views(self, stmt: str) -> str:
        """Rewrite ``read_parquet('p')`` / ``read_csv('p')`` /
        ``read_json('p')`` table functions (SURVEY §2.C "scans/sources")
        to temp views over the built-in Spark readers — predicate pushdown
        and column pruning then apply exactly as for lake tables.  The
        argument may be one quoted path (glob patterns allowed) or a
        DuckDB-style list ``['a.parquet', 'b.parquet']``."""

        # DuckDB's bare-path convenience: FROM 'x.parquet' (or .csv /
        # .json / .ndjson / .jsonl) is a table — normalize to the read_*
        # TVF form the substitution below consumes
        stmt = re.sub(
            r"\b(FROM|JOIN)\s+'([^']+?\.(parquet|csv|json|ndjson|jsonl))'",
            lambda m: f"{m.group(1)} read_"
            + {"jsonl": "json", "ndjson": "json"}.get(
                m.group(3).lower(), m.group(3).lower()
            )
            + f"('{m.group(2)}')",
            stmt,
            flags=re.I,
        )

        def _sub(m: re.Match) -> str:
            import hashlib

            kind, arg, tail = m.group(1).lower(), m.group(2), m.group(3)
            # DuckDB's *_auto / ndjson aliases use the same readers
            kind = {"csv_auto": "csv", "json_auto": "json",
                    "ndjson": "json", "ndjson_auto": "json"}.get(kind, kind)
            paths = re.findall(r"'([^']+)'", arg)
            opts = _parse_tvf_options(tail) if tail and tail.strip(", ") \
                else {}
            enc = None
            if "encryption_config" in opts:
                em = re.match(
                    r"\{\s*footer_key\s*:\s*'?(\w+)'?\s*\}",
                    opts.pop("encryption_config"),
                )
                if not em:
                    raise ValueError("malformed encryption_config")
                enc = em.group(1)
            # md5, not hash(): Python string hashing is per-process
            # salted, so hash()-derived view names differ across runs —
            # a debugging trap for anything that logs plans
            digest = hashlib.md5(
                (";".join(paths)
                 + (f";enc={enc}" if enc else "")
                 + (f";opts={sorted(opts.items())}" if opts else "")
                 ).encode()
            ).hexdigest()[:10]
            view = f"__read_{kind}_{digest}"
            if enc:
                if kind != "parquet":
                    raise ValueError(
                        "encryption_config is only supported on "
                        "read_parquet"
                    )
                if opts:
                    raise ValueError(
                        "encryption_config cannot combine with other "
                        "read options"
                    )
                df = self._read_parquet_encrypted(
                    paths, self._resolve_parquet_key(enc)
                )
            else:
                if kind == "parquet" and opts:
                    raise ValueError(
                        f"read_parquet: unsupported options {sorted(opts)}"
                    )
                df = self._read_files(kind, paths, opts)
            df.createOrReplaceTempView(view)
            return f" {view} "

        return _READ_FILE_RE.sub(_sub, stmt)

    _STAR_MOD_RE = re.compile(
        r"^(\s*SELECT\s+)(?:(\w+)\.)?\*\s*"
        r"(?:EXCLUDE\s*\(([^)]*)\)|EXCLUDE\s+(\w+))?\s*"
        r"(?:REPLACE\s*\((.*)\))?"
        r"(\s+FROM\s+([\w.\"]+)(?:\s+(?:AS\s+)?(\w+))?\b.*)$",
        re.I | re.S,
    )

    def _expand_star_modifiers(self, stmt: str) -> str:
        """DuckDB's ``SELECT [alias.]* EXCLUDE (…) REPLACE (expr AS col)``
        sugar (SURVEY §2.C "projection/filter").  Pure EXCLUDE is
        rewritten upstream to Spark's native ``* EXCEPT``; this expansion
        handles REPLACE (with or without EXCLUDE), which needs the
        catalog column list.  Alias-aware: ``a.* REPLACE …`` resolves
        ``a`` through the FROM clause and emits alias-qualified columns."""
        m = self._STAR_MOD_RE.match(stmt)
        if not m or not m.group(5):
            return stmt
        head, star_alias, exc_list, exc_one, repl, tail, tname, from_alias = (
            m.groups()
        )
        if star_alias:
            if from_alias == star_alias or _unqualify(tname) == star_alias:
                pass  # the FROM (or its alias) is the starred relation
            else:
                mm = re.search(
                    rf"\bJOIN\s+([\w.\"]+)\s+(?:AS\s+)?{star_alias}\b",
                    tail,
                    re.I,
                )
                if not mm:
                    return stmt
                tname = mm.group(1)
        try:
            cols = [f.name for f in self.table_schema(_unqualify(tname)).fields]
        except KeyError:
            # not a lake table — fall back to the Spark session catalog
            # (temp views, read_* TVF views) so * REPLACE works on any
            # resolvable relation
            try:
                cols = self.spark.table(tname).columns
            except Exception:
                return stmt
        excluded = {
            c.strip().strip('"').lower()
            for c in (exc_list.split(",") if exc_list else [exc_one] if exc_one else [])
            if c and c.strip()
        }
        replacements = {}
        for part in split_top_level(repl) if repl else []:
            mm = re.match(r"^(.*)\s+AS\s+(\w+)\s*$", part.strip(), re.I | re.S)
            if mm:
                replacements[mm.group(2).lower()] = mm.group(1).strip()
        prefix = f"{star_alias}." if star_alias else ""
        out_cols = [
            f"({replacements[c.lower()]}) AS {c}"
            if c.lower() in replacements
            else f"{prefix}{c}"
            for c in cols
            if c.lower() not in excluded
        ]
        return head + ", ".join(out_cols) + tail

    MAX_RECURSIVE_ROUNDS = 200

    def _exec_recursive_cte(self, stmt: str) -> DataFrame:
        """``WITH RECURSIVE name [(cols)] AS (base UNION [ALL] step) …`` —
        Spark SQL has no recursive CTEs, so the engine runs the textbook
        semi-naive fixpoint: the working table is the PREVIOUS round's
        new rows (never the whole accumulator), each round re-binds the
        CTE name to it and runs the step through the normal _select path,
        UNION dedups against the accumulator (null-safe on every column)
        and stops at an empty delta, UNION ALL appends until the step
        yields nothing.  localCheckpoint truncates the growing lineage —
        the same pattern as operators/graph.connected_components, which
        this generalizes to arbitrary step SQL."""
        m = _WITH_RECURSIVE_RE.match(stmt)
        assert m is not None
        name, col_list = m.group(1), m.group(2)
        open_idx = stmt.index("(", m.end() - 1)
        close_idx = matching_paren(stmt, open_idx)
        body = stmt[open_idx + 1 : close_idx]
        rest = stmt[close_idx + 1 :].lstrip()
        if rest.startswith(","):
            # keep the RECURSIVE marker: the actually-recursive CTE may
            # appear later in the list (WITH RECURSIVE a AS …, reach AS …)
            remainder = "WITH RECURSIVE " + rest[1:].lstrip()
        else:
            remainder = rest

        if name not in sql_identifiers(body):
            # not self-referential — an ordinary CTE in a RECURSIVE list;
            # materialize it as a view and recurse into the remainder
            df = self._select(body)
            if col_list:
                df = df.toDF(
                    *[c.strip().strip('"') for c in col_list.split(",")]
                )
            df.createOrReplaceTempView(name)
            return self._select(remainder)

        upos = find_top_level_keyword(body, "UNION")
        if upos < 0:
            base_sql, step_sql, union_all = body, None, False
        else:
            base_sql = body[:upos]
            step_sql = body[upos + len("UNION") :].lstrip()
            union_all = step_sql[:3].upper() == "ALL" and (
                len(step_sql) == 3 or not step_sql[3].isalnum()
            )
            if union_all:
                step_sql = step_sql[3:]

        acc = self._select(base_sql)
        if col_list:
            acc = acc.toDF(*[c.strip().strip('"') for c in col_list.split(",")])
        if not union_all:
            acc = acc.distinct()
        acc = acc.localCheckpoint(eager=True)
        frontier = acc
        cols = acc.columns
        if step_sql is not None:
            for _round in range(self.MAX_RECURSIVE_ROUNDS):
                frontier.createOrReplaceTempView(name)
                step = self._select(step_sql).toDF(*cols)
                if union_all:
                    new = step.localCheckpoint(eager=True)
                else:
                    cond = None
                    a, b = step.alias("__s"), acc.alias("__a")
                    for c in cols:
                        eq = F.col(f"__s.{c}").eqNullSafe(F.col(f"__a.{c}"))
                        cond = eq if cond is None else (cond & eq)
                    new = (
                        a.join(b, cond, "left_anti")
                        .distinct()
                        .localCheckpoint(eager=True)
                    )
                if new.isEmpty():
                    break
                # union at the RDD level: Catalyst's Union constraint
                # rewriting can hit "key not found: <attr>" when both
                # children are checkpointed frames whose lineages shared
                # expression ids (UnionBase.rewriteConstraints); both
                # sides are materialized RDDs already, so this is a
                # zero-shuffle concatenation with a clean one-node plan
                acc = self.spark.createDataFrame(
                    acc.rdd.union(new.rdd), acc.schema
                ).localCheckpoint(eager=True)
                frontier = new
            else:
                raise RuntimeError(
                    f"WITH RECURSIVE {name}: no fixpoint after "
                    f"{self.MAX_RECURSIVE_ROUNDS} rounds"
                )
        acc.createOrReplaceTempView(name)
        return self._select(remainder)

    def _expand_macros(self, stmt: str) -> str:
        """Expand CREATE MACRO templates (DuckDB semantics: textual
        substitution at reference time).  Scalar macros expand to a
        parenthesized expression, TABLE macros to a subquery; arguments
        substitute for parameter names word-bounded.  Nested macro
        calls expand on the following passes (bounded depth)."""
        if not self._macros:
            return stmt
        # Guard against mutually-recursive macros (f calls g calls f),
        # which survive the per-macro CREATE guard: bound the *growth* of
        # the statement, not the substitution count — a flat statement
        # legitimately calling a simple macro thousands of times expands
        # fine, while recursive chains grow the text geometrically and
        # trip the cap within a few passes.
        max_len = max(len(stmt) * 64, 1 << 20)
        for _ in range(8):  # nested expansion, cycle-bounded
            changed = False
            for name, (params, body, is_table) in self._macros.items():
                while True:
                    m = re.search(rf"\b{name}\s*\(", stmt)
                    if not m:
                        break
                    if len(stmt) > max_len:
                        raise ValueError(
                            "macro expansion exceeded statement growth "
                            f"bound (recursive macro chain involving "
                            f"{name}?)"
                        )
                    open_idx = m.end() - 1
                    close = matching_paren(stmt, open_idx)
                    args = [
                        a.strip()
                        for a in split_top_level(stmt[open_idx + 1 : close])
                        if a.strip()
                    ]
                    if len(args) != len(params):
                        raise ValueError(
                            f"macro {name} expects {len(params)} args, "
                            f"got {len(args)}"
                        )
                    expansion = body
                    for p, a in zip(params, args):
                        expansion = re.sub(
                            rf"\b{p}\b", f"({a})", expansion
                        )
                    expansion = (
                        f"(SELECT * FROM ({expansion}))"
                        if is_table
                        else f"({expansion})"
                    )
                    stmt = stmt[: m.start()] + expansion + stmt[close + 1 :]
                    changed = True
            if not changed:
                return stmt
        return stmt

    def _rewrite_series_tvf(self, stmt: str) -> str:
        """DuckDB's ``generate_series(a, b[, s])`` (inclusive end) and
        ``range(a, b[, s])`` (exclusive end) table functions in FROM/JOIN
        position → explode(sequence(...)) temp views."""

        def _sub(m: re.Match) -> str:
            kw, name = m.group(1), m.group(2).lower()
            # a comma prefix may be a SELECT-list comma (scalar-position
            # series returning a LIST) — only rewrite FROM-list commas
            if kw.strip() == "," and _sql_clause_at(stmt, m.start()) != "FROM":
                return m.group(0)
            if m.group(4) is None:
                # one-arg form: range(n) / generate_series(n) start at 0
                a, b = 0, int(m.group(3))
            else:
                a, b = int(m.group(3)), int(m.group(4))
            step = int(m.group(5)) if m.group(5) else 1
            talias, calias = m.group(6), m.group(7)
            col = calias or name
            end = b if name == "generate_series" else (b - (1 if step > 0 else -1))
            view = f"__series_{name}_{a}_{b}_{step}_{col}".replace("-", "m")
            # INT elements when the bounds fit: series values are used as
            # array indices (element_at rejects BIGINT) and compare fine
            # against wider types either way
            t = (
                "INT"
                if max(abs(a), abs(end)) < 2**31
                else "BIGINT"
            )
            if (step > 0 and end < a) or (step < 0 and end > a) or step == 0:
                body = f"SELECT CAST(NULL AS {t}) AS {col} WHERE 1 = 0"
            else:
                body = (
                    f"SELECT explode(sequence(CAST({a} AS {t}), "
                    f"CAST({end} AS {t}), {step})) AS {col}"
                )
            self.spark.sql(body).createOrReplaceTempView(view)
            return f"{kw}{view} {talias + ' ' if talias else ''}"

        stmt = _SERIES_TVF_RE.sub(_sub, stmt)

        def _sub_temporal(m: re.Match) -> str:
            # DATE/TIMESTAMP series: DuckDB types the output TIMESTAMP
            # either way; range() is end-exclusive (sequence() is
            # inclusive — filter the endpoint off)
            kw, name = m.group(1), m.group(2).lower()
            if kw.strip() == "," and _sql_clause_at(stmt, m.start()) != "FROM":
                return m.group(0)
            lo, hi, step = m.group(3), m.group(4), m.group(5)
            n = int(m.group(6)) * (-1 if step.lstrip().startswith("-") else 1)
            talias, calias = m.group(7), m.group(8)
            col = calias or name
            seq = (
                f"sequence(CAST({lo} AS TIMESTAMP), "
                f"CAST({hi} AS TIMESTAMP), {step.lstrip('-').strip()}"
                f"{' * -1' if n < 0 else ''})"
            )
            body = f"SELECT explode({seq}) AS {col}"
            if name == "range":
                cmp = "<" if n > 0 else ">"
                body = (
                    f"SELECT {col} FROM ({body}) "
                    f"WHERE {col} {cmp} CAST({hi} AS TIMESTAMP)"
                )
            view = "__series_ts_" + hashlib.md5(
                f"{name}|{lo}|{hi}|{step}|{col}".encode()
            ).hexdigest()[:12]
            self.spark.sql(body).createOrReplaceTempView(view)
            return f"{kw}{view} {talias + ' ' if talias else ''}"

        return _SERIES_TVF_TEMPORAL_RE.sub(_sub_temporal, stmt)

    _COLUMNS_CALL_RE = re.compile(r"\bCOLUMNS\s*\(", re.I)

    def _expand_columns_expr(self, stmt: str) -> str:
        """DuckDB's ``COLUMNS(*)`` / ``COLUMNS('regex')`` star expression
        in the select list: the containing item is replicated once per
        matched column of the (single-table) FROM relation, each
        expansion aliased to the column name — DuckDB's own naming for
        function-wrapped expansions (``min(COLUMNS(*))`` yields one
        ``min`` per column, named after the column)."""
        if not self._COLUMNS_CALL_RE.search(stmt):
            return stmt
        selm = re.match(r"^\s*SELECT\s+(DISTINCT\s+)?", stmt, re.I)
        if not selm:
            return stmt
        sel_start = selm.end()
        fpos = find_top_level_keyword(stmt, "FROM", sel_start)
        if fpos < 0:
            return stmt
        from_text = stmt[fpos + 4 : tail_keyword_pos(stmt, fpos + 4)]
        try:
            rel, _alias = split_rel_alias(from_text)
            cols = self._rel_df(rel).columns
        except (ValueError, NotImplementedError):
            # general FROM (subquery / VALUES / join): discover the
            # combined schema with a LIMIT-0 probe — lake tables the
            # probe references are registered first (idempotent; the
            # main path re-registers them later anyway)
            idents = sql_identifiers(from_text)
            fresh = set(_named_in(self.catalog.table_names(), idents))
            for tname in fresh:
                _register_lake_view(tname, self.table_df(tname))
            _drop_stale_lake_views(self.spark, idents, fresh)
            cols = self.spark.sql(
                f"SELECT * FROM {from_text} LIMIT 0"
            ).columns

        def sub_all(body: str, col: str) -> str:
            while True:
                cm = self._COLUMNS_CALL_RE.search(body)
                if not cm:
                    return body
                close = matching_paren(body, cm.end() - 1)
                body = body[: cm.start()] + col + body[close + 1 :]

        new_items = []
        for item in split_top_level(stmt[sel_start:fpos]):
            cm = self._COLUMNS_CALL_RE.search(item)
            if not cm:
                new_items.append(item)
                continue
            close = matching_paren(item, cm.end() - 1)
            arg = item[cm.end() : close].strip()
            if arg == "*":
                matched = list(cols)
            elif arg.startswith("[") or re.match(r"^array\s*\(", arg, re.I):
                # COLUMNS(['a', 'b']) explicit name-list form (the
                # bracket literal may already be array(…) depending on
                # rewrite order)
                inner = (
                    arg[arg.index("(") + 1 : -1]
                    if arg.lower().startswith("array")
                    else arg[1:-1]
                )
                matched = [
                    _literal_str(x) or x.strip()
                    for x in split_top_level(inner)
                ]
                missing = [c for c in matched if c not in cols]
                if missing:
                    raise ValueError(
                        f"COLUMNS(...): unknown columns {missing}"
                    )
            else:
                rx = re.compile(arg.strip("'\""))
                matched = [c for c in cols if rx.search(c)]
            if not matched:
                raise ValueError(f"COLUMNS({arg}) matched no columns")
            # an explicit alias would duplicate output names across the
            # expansion (DuckDB allows that; Spark does not) — drop it
            # in favor of the per-column names
            am = re.search(r"\s+AS\s+\w+\s*$", item, re.I)
            body = item[: am.start()] if am else item
            for c in matched:
                new_items.append(f"{sub_all(body, c)} AS {c}")
        return (
            stmt[:sel_start] + ", ".join(i.strip() for i in new_items)
            + " " + stmt[fpos:]
        )

    def _rel_df(self, rel: str) -> DataFrame:
        """DataFrame for a FROM-clause relation: a parenthesized subquery
        or a table/view/TVF name — resolved through the full sql() text
        path (lake tables, read_* TVFs, nested dialect sugar)."""
        rel = rel.strip()
        if rel.startswith("("):
            return self._select(rel[1:-1].strip())
        return self._select(f"SELECT * FROM {rel}")

    def _rewrite_asof_text(self, stmt: str) -> str:
        """DuckDB's ``ASOF [LEFT] JOIN`` keyword through sql() TEXT
        (reference inherits it via ducklakexl.py:394): parse the two
        relations + ON condition, delegate to operators.joins.asof_join
        (union + carry-forward, one shuffle, no range cross-product),
        register the result as a view and splice it back in.

        Scope (like rewrite_qualify): one ASOF join per statement, both
        sides aliased, equality conjuncts plus ONE inequality — backward
        (``l.ts >= r.ts`` / ``>``: latest earlier right row) or forward
        (``l.ts <= r.ts`` / ``<``: earliest later right row); carried
        right columns must not collide with left columns — alias them in
        the subqueries."""
        pos = find_top_level_keyword(stmt, "ASOF")
        if pos < 0:
            return stmt
        fpos = find_top_level_keyword(stmt, "FROM")
        if fpos < 0 or fpos > pos:
            return stmt
        lrel, lalias = split_rel_alias(stmt[fpos + 4 : pos])
        m = re.match(r"ASOF\s+(LEFT\s+)?(?:INNER\s+)?JOIN\s*", stmt[pos:], re.I)
        how = "left" if m.group(1) else "inner"
        rstart = pos + m.end()
        onpos = find_top_level_keyword(stmt, "ON", rstart)
        if onpos < 0:
            raise ValueError("ASOF JOIN requires an ON condition")
        rrel, ralias = split_rel_alias(stmt[rstart:onpos])
        # unaliased bare table names act as their own implicit alias
        # (DuckDB semantics: `FROM l ASOF JOIN r ON l.t <= r.t`) —
        # VERDICT r6 task 4; subqueries still need an explicit alias
        if not lalias and re.fullmatch(r"[\w.]+", lrel.strip()):
            lalias = lrel.strip().rsplit(".", 1)[-1]
        if not ralias and re.fullmatch(r"[\w.]+", rrel.strip()):
            ralias = rrel.strip().rsplit(".", 1)[-1]
        if not (lalias and ralias):
            raise NotImplementedError(
                "ASOF JOIN through sql() text requires aliases on both "
                "sides (bare table names count as implicit aliases; "
                "subqueries must be aliased explicitly)"
            )
        cond_end = tail_keyword_pos(stmt, onpos + 2)
        cond = stmt[onpos + 2 : cond_end]
        eqs: list[tuple[str, str]] = []
        # (left_ts, right_ts, strict, direction)
        ineq: tuple[str, str, bool, str] | None = None
        for conj in split_top_level_kw(cond, "AND"):
            cm = re.fullmatch(
                r"\s*(\w+)\.(\w+)\s*(=|>=|<=|>|<)\s*(\w+)\.(\w+)\s*",
                conj,
                re.S,
            )
            if not cm:
                raise NotImplementedError(
                    f"unsupported ASOF JOIN conjunct: {conj.strip()!r}"
                )
            a1, c1, op, a2, c2 = cm.groups()
            if a2 == lalias and a1 == ralias:
                # orient left-alias first, mirroring the comparison
                a1, c1, a2, c2 = a2, c2, a1, c1
                op = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}.get(op, op)
            if a1 != lalias or a2 != ralias:
                raise ValueError(f"ASOF JOIN conjunct aliases: {conj.strip()!r}")
            if op == "=":
                eqs.append((c1, c2))
            else:
                if ineq is not None:
                    raise NotImplementedError("multiple ASOF inequalities")
                # l.ts >= r.ts → latest earlier right row (backward);
                # l.ts <= r.ts → earliest later right row (forward,
                # DuckDB's other ASOF direction)
                ineq = (
                    c1, c2, op in (">", "<"),
                    "backward" if op in (">=", ">") else "forward",
                )
        if ineq is None:
            raise ValueError("ASOF JOIN requires an inequality condition")
        left_ts, right_ts, strict, direction = ineq
        ldf, rdf = self._rel_df(lrel), self._rel_df(rrel)
        for lk, rk in eqs:
            if lk != rk:
                rdf = rdf.withColumnRenamed(rk, lk)
        keys = [lk for lk, _ in eqs]
        right_cols = [c for c in rdf.columns if c not in keys]
        # carried right columns that collide with left ones get a prefix;
        # qualified references (ralias.col) are mapped to it below, so
        # self-joins (events ASOF JOIN events) work without manual
        # aliasing.  Non-colliding names stay bare for unqualified use.
        collide = set(right_cols) & set(ldf.columns)
        rename = {c: f"__asof_{ralias}_{c}" for c in collide}
        for old, newc in rename.items():
            rdf = rdf.withColumnRenamed(old, newc)
        right_cols = [rename.get(c, c) for c in right_cols]
        out = joins_ops.asof_join(
            ldf,
            rdf,
            on=keys,
            left_ts=left_ts,
            right_ts=rename.get(right_ts, right_ts),
            right_cols=right_cols,
            how=how,
            strict=strict,
            direction=direction,
        )
        view = "__asof_join_result"
        out.createOrReplaceTempView(view)
        new_stmt = stmt[:fpos] + f"FROM {view} " + stmt[cond_end:]
        new_stmt = re.sub(
            rf"\b{ralias}\.(\w+)",
            lambda mm: rename.get(mm.group(1), mm.group(1)),
            new_stmt,
        )
        new_stmt = re.sub(rf"\b{lalias}\.", "", new_stmt)
        return new_stmt

    def _rewrite_union_by_name(self, stmt: str) -> str:
        """DuckDB's ``UNION [ALL] BY NAME`` through sql() text: columns
        align by name (missing ones NULL-fill), not position.  Each side
        resolves through the full text path; plain BY NAME (no ALL)
        dedups like standard UNION.  A trailing top-level ORDER BY/LIMIT
        applies to the combined result."""
        upos = find_top_level_keyword(stmt, "UNION")
        if upos < 0:
            return stmt
        m = re.match(r"UNION\s+(ALL\s+)?BY\s+NAME\s*", stmt[upos:], re.I)
        if not m:
            return stmt
        rest = stmt[upos + m.end() :]
        tail_pos = min(
            p
            for p in (
                find_top_level_keyword(rest, k) for k in ("ORDER", "LIMIT")
            )
            if p >= 0
        ) if any(
            find_top_level_keyword(rest, k) >= 0 for k in ("ORDER", "LIMIT")
        ) else len(rest)
        out = self._select(stmt[:upos]).unionByName(
            self._select(rest[:tail_pos]), allowMissingColumns=True
        )
        if not m.group(1):
            out = out.distinct()
        view = "__union_by_name_result"
        out.createOrReplaceTempView(view)
        return f"SELECT * FROM {view} {rest[tail_pos:]}"

    def _rewrite_positional_text(self, stmt: str) -> str:
        """DuckDB's ``POSITIONAL JOIN`` through sql() TEXT.  Physical row
        order does not exist in a distributed engine, so each side must
        be a subquery with a top-level ORDER BY — the zip is defined
        under those explicit total orders (operators/joins.py)."""
        pos = find_top_level_keyword(stmt, "POSITIONAL")
        if pos < 0:
            return stmt
        fpos = find_top_level_keyword(stmt, "FROM")
        if fpos < 0 or fpos > pos:
            return stmt
        lrel, lalias = split_rel_alias(stmt[fpos + 4 : pos])
        m = re.match(r"POSITIONAL\s+JOIN\s*", stmt[pos:], re.I)
        rstart = pos + m.end()
        tail_pos = tail_keyword_pos(stmt, rstart)
        rrel, ralias = split_rel_alias(stmt[rstart:tail_pos])

        def order_cols(rel: str) -> list:
            if not rel.startswith("("):
                raise NotImplementedError(
                    "POSITIONAL JOIN sides must be subqueries with an "
                    "explicit ORDER BY (distributed engines have no "
                    "physical row order)"
                )
            inner = rel[1:-1]
            opos = find_top_level_keyword(inner, "ORDER")
            if opos < 0:
                raise NotImplementedError(
                    "POSITIONAL JOIN side lacks a top-level ORDER BY"
                )
            seg = re.match(r"ORDER\s+BY\s+(.*)$", inner[opos:], re.I | re.S)
            cols_txt = seg.group(1)
            lpos = find_top_level_keyword(cols_txt, "LIMIT")
            if lpos >= 0:
                cols_txt = cols_txt[:lpos]
            cols = []
            for item in cols_txt.split(","):
                im = re.fullmatch(
                    r"\s*(.*?)(?:\s+(ASC|DESC))?\s*", item, re.I | re.S
                )
                e = F.expr(im.group(1))
                cols.append(
                    e.desc() if (im.group(2) or "").upper() == "DESC" else e
                )
            return cols
        out = joins_ops.positional_join(
            self._rel_df(lrel),
            self._rel_df(rrel),
            left_order=order_cols(lrel),
            right_order=order_cols(rrel),
        )
        view = "__positional_join_result"
        out.createOrReplaceTempView(view)
        new_stmt = stmt[:fpos] + f"FROM {view} " + stmt[tail_pos:]
        for a in (lalias, ralias):
            if a:
                new_stmt = re.sub(rf"\b{a}\.", "", new_stmt)
        return new_stmt

    def _select(self, stmt: str) -> DataFrame:
        # FIRST: canonicalize DuckDB-lexed string literals for Spark's
        # raw-mode lexer ('' escapes, trailing backslashes, LIKE's
        # default-escape mismatch) — everything downstream may then
        # assume literals are quote-free inside
        stmt = rewrite_like_default_escape(stmt)
        stmt = rewrite_quote_escapes(stmt)
        # "ident" → `ident` (Spark parses double quotes as string
        # literals; DuckDB as identifiers).  Must run before any rewrite
        # EMITS double-quoted string literals (_sql_str's quote-bearing
        # case) — those are Spark-bound and must survive.
        if '"' in stmt:
            stmt = rewrite_double_quoted_identifiers(stmt)
        stmt = self._expand_macros(stmt)
        # parenthesized PIVOT/UNPIVOT statement forms in relation
        # position — `FROM (PIVOT … )`, table macros expanding to one —
        # materialize as temp views the surrounding select can scan
        # (the statement-level dispatch only sees them at top level)
        if re.search(r"\(\s*(?:UN)?PIVOT\b", stmt, re.I):
            counter = 0
            while True:
                pm = re.search(r"\(\s*(?:UN)?PIVOT\b", stmt, re.I)
                if not pm or _inside_string_literal(stmt, pm.start()):
                    break
                close = matching_paren(stmt, pm.start())
                inner = stmt[pm.start() + 1 : close].strip()
                view = f"__pivot_sub_{counter}"
                counter += 1
                self._select_statement(inner).createOrReplaceTempView(view)
                stmt = stmt[: pm.start()] + f" {view} " + stmt[close + 1 :]
        if _WITH_RECURSIVE_RE.match(stmt):
            return self._exec_recursive_cte(stmt)
        # DuckDB's leading-FROM sugar: bare `FROM t [WHERE …]` == SELECT *,
        # and `FROM t SELECT cols …` reorders to SELECT-first — at the
        # top level and inside parenthesized subqueries
        stmt = rewrite_from_first(stmt)
        stmt = rewrite_from_first_subqueries(stmt)
        # getvariable('name') → the captured value as a literal (NULL
        # when unset, DuckDB semantics)
        if "getvariable" in stmt.lower():
            stmt = _GETVARIABLE_RE.sub(
                lambda m: _py_value_to_sql(
                    self.sql_variables.get(m.group(1).lower())
                ),
                stmt,
            )
        # read_* TVFs first: their ['p1','p2'] path-list syntax must be
        # consumed before the bracket rewrite turns it into array(…)
        stmt = self._read_file_views(stmt)
        stmt = self._rewrite_misc_tvfs(stmt)
        if self._META_SUBQUERY_RE.search(stmt):
            stmt = self._rewrite_meta_subqueries(stmt)
        stmt = rewrite_trailing_commas(stmt)
        stmt = rewrite_list_comprehension(stmt)
        stmt = rewrite_array_type_suffix(stmt)
        stmt = rewrite_bracket_syntax(
            stmt, *(self._bracket_column_sets(stmt) if "[" in stmt
                    else (None, None, None))
        )
        # FROM-position series TVFs must resolve before the dialect pass
        # renames scalar generate_series/range to sequence()
        stmt = self._rewrite_series_tvf(stmt)
        stmt = rewrite_hex_casts(stmt)
        # DuckDB integer-cast rounding applies to USER-written text
        # only: run BEFORE the function translations, whose emitted
        # Spark SQL intentionally relies on Spark's truncating casts
        # (the mad() median-index regression).  rewrite_interval_expr
        # stays AFTER rewrite_duck_operators so the DATE±INTERVAL
        # precast still sees the INTERVAL keyword.
        stmt = rewrite_int_colon_casts(stmt)
        stmt = rewrite_int_cast_rounding(stmt)
        stmt = rewrite_decimal_literal_casts(stmt)
        stmt = rewrite_decimal_div(stmt)
        stmt = rewrite_from_unnest_lateral(stmt)
        stmt = rewrite_extract_to_date_part(stmt)
        stmt = rewrite_duckdb_functions(stmt)
        stmt = rewrite_ignore_nulls(stmt)
        stmt = rewrite_similar_to(stmt)
        stmt = rewrite_floor_div(stmt)
        stmt = rewrite_duck_operators(stmt)
        stmt = rewrite_interval_expr(stmt)
        stmt = rewrite_null_boolean_conditions(stmt)
        stmt = rewrite_in_subquery_3vl(stmt)
        stmt = rewrite_glob_operator(stmt)
        stmt = rewrite_quantified_and_factorial(stmt)
        stmt = rewrite_ansi_fetch_and_json_arrow(
            stmt,
            self._json_column_set(stmt) if "->" in stmt else None,
        )
        stmt = re.sub(
            r"\bversion\s*\(\s*\)", f"'spark-{self.spark.version}'", stmt,
            flags=re.I,
        )
        stmt = re.sub(
            r"\bcurrent_setting\s*\(\s*'(\w+)'\s*\)",
            lambda m: _sql_str(
                str(self.session_settings.get(m.group(1), ""))
            ),
            stmt,
            flags=re.I,
        )
        stmt = self._expand_star_modifiers(stmt)
        stmt = rewrite_exclude(stmt)
        stmt = rewrite_distinct_on(stmt)
        stmt = self._rewrite_union_by_name(stmt)
        stmt = self._rewrite_asof_text(stmt)
        stmt = self._rewrite_positional_text(stmt)
        stmt = rewrite_qualify(stmt)
        stmt = rewrite_window_exclude(stmt)
        stmt = rewrite_groups_offset_frames(stmt)
        stmt = rewrite_groups_frame(stmt)
        stmt = rewrite_using_sample(stmt)
        stmt = rewrite_order_by_null_defaults(stmt)
        stmt = self._expand_columns_expr(stmt)
        if re.search(r"\binformation_schema\.columns\b", stmt, re.I):
            rows = []
            for t in self.catalog.table_names():
                tid = self.catalog.table_id(t)
                for r in self.catalog.columns(tid).itertuples():
                    rows.append(
                        (
                            self.current_db or "memory",
                            "main",
                            t,
                            r.column_name,
                            int(r.column_order) + 1,
                            r.column_type,
                            "YES" if r.nulls_allowed else "NO",
                            None
                            if pd.isna(r.default_value)
                            else str(r.default_value),
                        )
                    )
            self.spark.createDataFrame(
                rows,
                "table_catalog string, table_schema string, table_name string, "
                "column_name string, ordinal_position int, data_type string, "
                "is_nullable string, column_default string",
            ).createOrReplaceTempView("__information_schema_columns")
            stmt = re.sub(
                r"\binformation_schema\.columns\b",
                "__information_schema_columns",
                stmt,
                flags=re.I,
            )
        if re.search(r"\binformation_schema\.tables\b", stmt, re.I):
            # the reference's own reflection query (ducklakexl.py:238-240)
            rows = [
                (self.current_db or "memory", "main", t, "BASE TABLE")
                for t in self.catalog.table_names()
            ] + [
                (self.current_db or "memory", "main", v, "VIEW")
                for v in self.catalog.view_names()
            ]
            self.spark.createDataFrame(
                rows, "table_catalog string, table_schema string, "
                      "table_name string, table_type string"
            ).createOrReplaceTempView("__information_schema_tables")
            stmt = re.sub(
                r"\binformation_schema\.tables\b",
                "__information_schema_tables",
                stmt,
                flags=re.I,
            )
        def _rewrite_tc(m: re.Match) -> str:
            tname, a, b = m.group(1), int(m.group(2)), int(m.group(3))
            view = f"__tc_{tname}_{a}_{b}"
            self.table_changes(tname, a, b).createOrReplaceTempView(view)
            return f" {view} "

        stmt = _TABLE_CHANGES_RE.sub(_rewrite_tc, stmt)

        def _rewrite_split_feed(kind: str):
            def rw(m: re.Match) -> str:
                tname, a, b = m.group(1), int(m.group(2)), int(m.group(3))
                view = f"__t{kind[0]}_{tname}_{a}_{b}"
                fn = (
                    self.table_insertions
                    if kind == "ins"
                    else self.table_deletions
                )
                fn(tname, a, b).createOrReplaceTempView(view)
                return f" {view} "

            return rw

        stmt = _TABLE_INSERTIONS_RE.sub(_rewrite_split_feed("ins"), stmt)
        stmt = _TABLE_DELETIONS_RE.sub(_rewrite_split_feed("del"), stmt)
        if _TABLE_INFO_RE.search(stmt):
            self.table_info().createOrReplaceTempView(
                "__ducklake_table_info"
            )
            stmt = _TABLE_INFO_RE.sub(" __ducklake_table_info ", stmt)

        def _rewrite_list_files(m: re.Match) -> str:
            tname = m.group(1)
            view = f"__lf_{tname}"
            self.list_files(tname).createOrReplaceTempView(view)
            return f" {view} "

        stmt = _LIST_FILES_RE.sub(_rewrite_list_files, stmt)
        stmt = _SNAPSHOTS_RE.sub(" __ducklake_snapshots ", stmt)
        if "__ducklake_snapshots" in stmt:
            self.spark.createDataFrame(
                self.catalog.snapshots()
            ).createOrReplaceTempView("__ducklake_snapshots")

        def _rewrite_at(m: re.Match) -> str:
            tname, version = m.group(1), int(m.group(2))
            view = f"{tname}__v{version}"
            if tname in CATALOG_SCHEMAS:
                # META time travel (reference README.md:164's planned
                # "time travel of the meta catalog"): the catalog frames
                # are themselves MVCC (begin/end_snapshot), so
                # ducklake_table AT (VERSION n) reads the catalog AS OF
                # snapshot n — e.g. which files/columns a table had then
                self._catalog_table_df(
                    tname, snapshot=version
                ).createOrReplaceTempView(view)
            else:
                self.table_df(
                    tname, snapshot=version
                ).createOrReplaceTempView(view)
            return f" {view} "

        stmt = _AT_VERSION_RE.sub(_rewrite_at, stmt)

        def _rewrite_at_ts(m: re.Match) -> str:
            from datetime import datetime

            tname, ts_raw = m.group(1), m.group(2)
            ts = datetime.fromisoformat(ts_raw)
            if ts.tzinfo is not None:
                from datetime import timezone

                ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
            snaps = self.catalog.snapshots()
            eligible = snaps[snaps["snapshot_time"] <= ts]
            if eligible.empty:
                raise ValueError(
                    f"AT (TIMESTAMP => '{ts_raw}'): no snapshot at or "
                    f"before that time"
                )
            sid = int(eligible["snapshot_id"].max())
            view = f"{tname}__v{sid}"
            self.table_df(tname, snapshot=sid).createOrReplaceTempView(view)
            return f" {view} "

        stmt = _AT_TIMESTAMP_RE.sub(_rewrite_at_ts, stmt)

        # cross-lake reads: <attached>.<table> resolves against the
        # mounted engine's snapshot scan (only for names that ARE tables
        # there, so column refs under a same-named alias pass through)
        for att, eng in self._attached.items():
            # literal-safe: only rewrite when the lake name is a real
            # identifier in the statement (sql_identifiers skips string
            # literals and comments), and guard each individual match —
            # a lake name inside a '…' literal must survive verbatim
            if att not in sql_identifiers(stmt):
                continue
            att_tables = set(eng.catalog.table_names())
            _src = stmt

            def _rw_att(
                m: re.Match, eng=eng, att=att, tabs=att_tables, src=_src
            ) -> str:
                if _inside_string_literal(src, m.start()):
                    return m.group(0)
                t = m.group(1)
                if t not in tabs:
                    return m.group(0)
                view = f"__att_{att}_{t}"
                eng.table_df(t).createOrReplaceTempView(view)
                return f" {view} "

            stmt = re.sub(rf"\b{re.escape(att)}\.(\w+)", _rw_att, stmt)

        idents = sql_identifiers(stmt)
        # bare catalog-table reads (SELECT * FROM ducklake_table …):
        # live rows at the current snapshot — SQL-queryable metadata,
        # same surface DuckDB exposes for the ducklake extension
        for cname in CATALOG_SCHEMAS:
            if cname in idents:
                self._catalog_table_df(cname).createOrReplaceTempView(cname)
        fresh = set()
        for tname in _named_in(self.catalog.table_names(), idents):
            preds = self._extract_scan_predicates(stmt, tname)
            cols = self._extract_scan_columns(stmt, idents, tname)
            _register_lake_view(
                tname, self.table_df(tname, predicates=preds, columns=cols)
            )
            fresh.add(tname)
        for vname in _named_in(self.catalog.view_names(), idents):
            # re-resolve the stored SQL at the current snapshot
            # (recursive: views over views/tables; _select_statement
            # so PIVOT/UNPIVOT statement-form views resolve too)
            _register_lake_view(
                vname, self._select_statement(self.catalog.view_sql(vname))
            )
            fresh.add(vname)
        _drop_stale_lake_views(self.spark, idents, fresh)
        # DuckDB percentage LIMIT (``LIMIT 40%``): strip the clause,
        # size it from the result's row count (truncating, DuckDB
        # semantics: LIMIT 30% of 5 rows → 1), re-apply as .limit() —
        # order-preserving on a sorted result.  A clause inside a
        # SUBQUERY materializes that subquery first (innermost-first
        # loop): execute it minus the clause, persist + count + limit,
        # register as a temp view, splice the view back — round-6
        # closes the r5 documented gap (it used to raise).  The base
        # result is persisted so the input is scanned ONCE; the
        # previous call's cache is released to bound residency.
        if self._enum_cols:
            stmt = self._rewrite_enum_order(stmt)
        pct_views = 0
        first_pct = True
        while True:
            pm = re.search(r"\bLIMIT\s+(\d+(?:\.\d+)?)\s*%", stmt, re.I)
            if not pm or _inside_string_literal(stmt, pm.start()):
                break
            if first_pct:
                # release the PREVIOUS statement's inner materializations
                # (kept alive until now so its returned DataFrame could
                # still be collected without recompute)
                for prev_inner in getattr(self, "_limit_pct_inner", []):
                    try:
                        prev_inner.unpersist()
                    except Exception:
                        pass
                self._limit_pct_inner = []
                first_pct = False
            op = _literal_spans(stmt).enclosing(pm.start())
            pct = float(pm.group(1)) / 100.0
            if op < 0:
                # top level — the final result
                base = self.spark.sql(stmt[: pm.start()] + stmt[pm.end():])
                prev = getattr(self, "_limit_pct_cache", None)
                if prev is not None:
                    try:
                        prev.unpersist()
                    except Exception:
                        pass
                base = base.persist()
                self._limit_pct_cache = base
                return base.limit(int(base.count() * pct))
            close = matching_paren(stmt, op)
            inner = stmt[op + 1 : close]
            in_off = pm.start() - (op + 1)
            ibase = self.spark.sql(
                inner[:in_off] + inner[in_off + (pm.end() - pm.start()):]
            ).persist()
            self._limit_pct_inner.append(ibase)
            lim = ibase.limit(int(ibase.count() * pct))
            view = f"__pct_limit_{pct_views}"
            pct_views += 1
            lim.createOrReplaceTempView(view)
            stmt = (
                stmt[:op] + f"(SELECT * FROM {view})" + stmt[close + 1 :]
            )
        return self.spark.sql(stmt)

    def _extract_scan_columns(
        self, stmt: str, idents: set[str], tname: str
    ) -> list[str] | None:
        """The statement's referenced-column SUPERSET for ``tname``, or
        None when a projection star makes the set unknowable.  Feeds
        encrypted-scan column pruning (table_df ``columns``): every
        identifier token anywhere in the statement is collected, so the
        result can only over-include (a surplus column widens the scan;
        a miss would be impossible without a projection star, which
        bails).  ``count(*)`` needs no data columns and stays narrow;
        ``SELECT *`` / ``t.*`` / ``* EXCLUDE`` / COLUMNS() bail."""
        if re.search(r"\bCOLUMNS\s*\(", stmt, re.I):
            return None
        for m in re.finditer(r"\*", stmt):
            if _inside_string_literal(stmt, m.start()):
                continue
            j = m.start() - 1
            while j >= 0 and stmt[j].isspace():
                j -= 1
            if j < 0:
                return None
            c = stmt[j]
            if c in ".,":
                return None  # t.* or a select-list ", *"
            if c == "(":
                continue  # count(*) — row count, no columns needed
            # word before the star: SELECT/DISTINCT/ALL = projection
            k = j
            while k >= 0 and (stmt[k].isalnum() or stmt[k] == "_"):
                k -= 1
            word = stmt[k + 1 : j + 1].lower()
            if word in ("select", "distinct", "all"):
                return None
            # otherwise: multiplication (an operand precedes)
        tcols = [f.name for f in self.table_schema(tname).fields]
        wanted = _named_in(tcols, idents)
        if not wanted:
            wanted = tcols[:1]  # zero-column scans confuse Arrow
        return wanted if len(wanted) < len(tcols) else None

    _PRED_LIT_RE = re.compile(
        r"^\s*([\w.]+)\s*(=|>=|<=|>|<)\s*"
        r"((?:DATE|TIMESTAMP)?\s*'(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s*$",
        re.I,
    )
    _FROM_TOKEN_RE = re.compile(r"[^\W\d]\w*|[(,]")
    _WHERE_END_RE = re.compile(
        r"(?<!\w)(?:GROUP|HAVING|ORDER|LIMIT|QUALIFY|WINDOW|UNION|EXCEPT"
        r"|INTERSECT|OFFSET)(?!\w)",
        re.I,
    )

    def _extract_scan_predicates(
        self, stmt: str, tname: str
    ) -> list[tuple[str, str, object]] | None:
        """Conservative predicate extraction from sql() TEXT so
        catalog-level file skipping (per-file min/max stats, partition
        values) applies to SQL users, not just the Python
        ``table(predicates=…)`` API.

        Scope is deliberately narrow — a wrong predicate PRUNES DATA, so
        every ambiguity bails to None (no skipping, still correct):
        the table must be referenced exactly once (after ``FROM`` or
        ``JOIN``), and only top-level-AND conjuncts of the shape
        ``[alias.]col op literal`` with col in the table's schema are
        used.  Across plain equi/theta joins (inner and outer) the
        extraction still applies with QUALIFIED refs only: a WHERE
        ``col op literal`` conjunct evaluates false-or-NULL on a
        NULL-extended row, so file pruning commutes with the join — any
        joined row a pruned file would have produced is filtered by
        that same WHERE either way.  ASOF / POSITIONAL joins bail:
        their MATCH depends on which rows exist, so row removal changes
        results instead of just filtering them.  LATERAL, comma joins,
        and subqueries in FROM also bail.  Derived-column shadowing
        can't occur in this scope: the WHERE binds the scan columns,
        before any SELECT renaming."""
        occurrences = [
            m
            for m in re.finditer(
                rf"\b(FROM|JOIN)\s+{re.escape(tname)}\b", stmt, re.I
            )
            if not _inside_string_literal(stmt, m.start())
        ]
        refs = [
            m
            for m in re.finditer(rf"\b{re.escape(tname)}\b", stmt, re.I)
            if not _inside_string_literal(stmt, m.start())
        ]
        if len(occurrences) != 1 or len(refs) != 1:
            return None
        rest = stmt[occurrences[0].end() :]
        _STOP_WORDS = (
            "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "JOIN", "LEFT",
            "RIGHT", "FULL", "INNER", "CROSS", "ON", "USING", "UNION",
            "EXCEPT", "INTERSECT", "QUALIFY", "WINDOW", "OFFSET", "ASOF",
            "SEMI", "ANTI", "NATURAL", "LATERAL", "SAMPLE", "TABLESAMPLE",
            "OUTER",
        )
        am = re.match(r"\s+(?:AS\s+)?(\w+)", rest)
        alias = None
        if am and am.group(1).upper() not in _STOP_WORDS:
            alias = am.group(1)
            rest = rest[am.end() :]
        # walk the rest of the FROM region at relative depth 0 up to the
        # WHERE (or a terminator): collect every other table binder so an
        # alias collision with ours bails, and bail on join forms whose
        # semantics don't commute with row removal
        other_binders: set[str] = set()
        has_join = False
        where_at = None
        expect_binder = False
        scope_end = _scope_end(rest)  # the enclosing subquery's close
        skip_to = 0
        for tm in _top_level_matches(rest, self._FROM_TOKEN_RE):
            tok = tm.group(0)
            if tm.start() >= scope_end:
                break
            if tm.start() < skip_to:
                continue
            if tok == "(":
                if expect_binder:
                    return None  # subquery in FROM
                continue
            if tok == ",":
                return None  # comma join — unhandled binder grammar
            up = tok.upper()
            if up == "WHERE":
                where_at = tm.end()
                break
            if up in (
                "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY",
                "WINDOW", "OFFSET", "UNION", "EXCEPT", "INTERSECT",
            ):
                return None  # no WHERE in this scope
            if up in ("ASOF", "POSITIONAL", "LATERAL"):
                return None  # match depends on which rows exist
            if up == "JOIN":
                has_join = True
                expect_binder = True
            elif expect_binder and up not in _STOP_WORDS:
                other_binders.add(tok)
                expect_binder = False
                # optional alias for that binder
                am2 = re.match(r"\s+(?:AS\s+)?(\w+)", rest[tm.end() :])
                if am2 and am2.group(1).upper() not in _STOP_WORDS:
                    other_binders.add(am2.group(1))
                    skip_to = tm.end() + am2.end()
        if where_at is None:
            return None
        if (alias or tname) in other_binders or tname in other_binders:
            return None  # our binder name is ambiguous in this FROM
        # WHERE span: up to the enclosing subquery's close or the next
        # same-level tail keyword
        body = rest[where_at:]
        end = _clause_end(body, 0, self._WHERE_END_RE)
        cols = {
            r.column_name
            for r in self.catalog.columns(
                self.catalog.table_id(tname)
            ).itertuples()
        }
        return self._conjunct_predicates(
            body[:end], cols, (tname, alias), require_qualified=has_join
        )

    def _conjunct_predicates(
        self,
        where_txt: str,
        cols: set,
        owners: tuple,
        require_qualified: bool = False,
    ) -> list[tuple[str, str, object]] | None:
        """AND-level ``[owner.]col op literal`` conjuncts of a WHERE body
        as file-skipping predicates; None on any ambiguity (top-level OR
        makes every conjunct optional, so nothing may prune).  With
        ``require_qualified`` (join scope) an unqualified col could
        belong to another table, so only ``owner.col`` refs count."""
        preds, _whole = self._where_conjuncts(
            where_txt, cols, owners, require_qualified
        )
        return preds or None

    def _where_conjuncts(
        self,
        where_txt: str,
        cols: set,
        owners: tuple,
        require_qualified: bool = False,
    ) -> tuple[list[tuple[str, str, object]], bool]:
        """The predicates of _conjunct_predicates, and whether they are
        the WHOLE filter (no top-level OR, every top-level AND conjunct
        became a predicate).  Numeric literals are exact: ``int``, or
        ``Decimal`` for a fractional one (SQL's ``2.5`` is a DECIMAL)."""
        if len(split_top_level_kw(where_txt, "OR")) > 1:
            return [], False
        preds: list[tuple[str, str, object]] = []
        whole = True
        for conj in split_top_level_kw(where_txt, "AND"):
            pm = self._PRED_LIT_RE.match(conj.strip())
            ref = pm.group(1).split(".") if pm else []
            if (
                not pm
                or (len(ref) == 2 and ref[0] not in owners)
                or (len(ref) == 1 and require_qualified)
                or ref[-1] not in cols
            ):
                whole = False
                continue
            op, lit = pm.group(2), pm.group(3)
            ls = _literal_str(re.sub(r"^(DATE|TIMESTAMP)\s*", "", lit, flags=re.I))
            if ls is not None:
                value: object = ls
            elif re.match(r"^-?\d+$", lit):
                value = int(lit)
            else:
                value = _decimal.Decimal(lit)
            preds.append((ref[-1], op, value))
        return preds, whole

    # ------------------------------------------------------------------ misc

    def snapshots(self) -> DataFrame:
        """The <lake>.snapshots() table function (README.md:162)."""
        return self.spark.createDataFrame(self.catalog.snapshots())

    def _catalog_table_df(
        self, tname: str, snapshot: int | None = None
    ) -> DataFrame:
        """A catalog table as a Spark DataFrame — live rows at the given
        (default current) snapshot for MVCC frames, the raw frame for
        the few non-versioned ones (ducklake_metadata).  Schema comes
        from the arrow catalog schema so empty frames still register.
        Driver-sized by construction: catalog frames, not data."""
        from pyspark.sql.pandas.types import from_arrow_schema

        frame = self.catalog.tables[tname]
        if "begin_snapshot" in frame.columns:
            frame = self.catalog.live(tname, snapshot)
        tbl = pa.Table.from_pandas(
            frame.reset_index(drop=True),
            schema=CATALOG_SCHEMAS[tname],
            preserve_index=False,
        )
        # via arrow pylist so pandas NaN-for-null never reaches the
        # LongType verifier as a float
        spark_schema = from_arrow_schema(CATALOG_SCHEMAS[tname])
        return self.spark.createDataFrame(
            [tuple(d[f] for f in tbl.column_names) for d in tbl.to_pylist()],
            schema=spark_schema,
        )

    def table(self, name: str, snapshot: int | None = None, **kw) -> DataFrame:
        return self.table_df(name, snapshot, **kw)


def _spark_type_to_ducklake(dt: T.DataType) -> str:
    mapping = {
        T.LongType(): "BIGINT",
        T.IntegerType(): "INTEGER",
        T.ShortType(): "SMALLINT",
        T.ByteType(): "TINYINT",
        T.StringType(): "VARCHAR",
        T.DoubleType(): "DOUBLE",
        T.FloatType(): "FLOAT",
        T.BooleanType(): "BOOLEAN",
        T.DateType(): "DATE",
        T.TimeType(): "TIME",
        T.TimestampType(): "TIMESTAMP",
        T.BinaryType(): "BLOB",
    }
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.TimestampNTZType):
        return "TIMESTAMP"
    if isinstance(dt, T.TimeType):
        return "TIME"
    if isinstance(dt, T.ArrayType):
        return f"{_spark_type_to_ducklake(dt.elementType)}[]"
    if isinstance(dt, T.MapType):
        return (
            f"MAP({_spark_type_to_ducklake(dt.keyType)}, "
            f"{_spark_type_to_ducklake(dt.valueType)})"
        )
    if isinstance(dt, T.StructType):
        fields = ", ".join(
            f"{f.name} {_spark_type_to_ducklake(f.dataType)}" for f in dt.fields
        )
        return f"STRUCT({fields})"
    if dt in mapping:
        return mapping[dt]
    raise ValueError(f"unsupported type for CTAS: {dt}")
