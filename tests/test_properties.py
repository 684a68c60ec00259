"""Property-based tests (hypothesis) for the pure parsing/encoding layers
— the components whose bugs are silent data corruption rather than
crashes: Excel base-26 column naming (the reference's >26-column bug
class, ducklakexl.py:570), SQL statement splitting, top-level comma
splitting, identifier extraction, and the DISTINCT ON rewrite's
round-trip safety."""

from __future__ import annotations

import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from ducklakexl_spark.engine import (
    find_top_level_keyword,
    rewrite_distinct_on,
    split_statements,
    split_top_level,
    sql_identifiers,
)
from ducklakexl_spark.sync.graph import excel_column_name, used_range_address


@given(st.integers(min_value=1, max_value=100_000))
def test_excel_column_name_bijective(n):
    """Round trip: letters decode back to the index (bijective base 26)."""
    s = excel_column_name(n)
    assert s.isalpha() and s.isupper()
    dec = 0
    for ch in s:
        dec = dec * 26 + (ord(ch) - ord("A") + 1)
    assert dec == n


@given(st.integers(min_value=1, max_value=1000), st.integers(min_value=2, max_value=1000))
def test_excel_column_name_order_preserving(a, b):
    """Column naming preserves order under (len, lex) comparison —
    the property the reference's ascii_uppercase indexing broke."""
    x, y = excel_column_name(a), excel_column_name(a + b)
    assert (len(x), x) < (len(y), y)


@given(st.integers(min_value=0, max_value=10_000), st.integers(min_value=1, max_value=500))
def test_used_range_covers_header(rows, cols):
    addr = used_range_address(rows, cols)
    assert addr.startswith("A1:")
    assert addr.endswith(str(rows + 1))


_ident = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8)
_lit = st.text(
    alphabet=string.ascii_letters + string.digits + " ;,()'-", max_size=20
)


@given(st.lists(_ident, min_size=1, max_size=5))
def test_split_statements_count(idents):
    """N semicolon-terminated statements split into N statements, and
    semicolons inside string literals, quoted identifiers and block
    comments never split."""
    stmts = [
        f"SELECT '{i};x' AS c, \"{i};x\" /* {i}; */ FROM {i}" for i in idents
    ]
    out = split_statements("; ".join(stmts) + ";")
    assert out == stmts


@given(
    st.lists(
        st.tuples(
            _ident,
            st.sampled_from(
                ["f({p}, {p})", "[{p}, {p}]", "{{'k': {p}, 'j': {p}}}",
                 '"{p},{p}"']
            ),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_split_top_level_parens(parts):
    """Commas inside parens, brackets, braces and quoted identifiers
    never split; top-level commas always do."""
    items = [shape.format(p=p) for p, shape in parts]
    assert split_top_level(", ".join(items)) == items


@given(_ident, _ident)
def test_sql_identifiers_sees_through_strings(tbl, inside):
    """A name appearing only inside a string literal is NOT an
    identifier; the real table reference is."""
    stmt = f"SELECT * FROM {tbl} WHERE c = '{inside} {tbl}'"
    ids = sql_identifiers(stmt)
    assert tbl in ids
    if inside not in (tbl, "select", "from", "where", "c"):
        assert inside not in ids


@given(_ident)
def test_find_top_level_keyword_ignores_strings(w):
    stmt = f"SELECT 'ORDER BY {w}' AS c FROM t ORDER BY c"
    pos = find_top_level_keyword(stmt, "ORDER BY")
    assert stmt[pos:].startswith("ORDER BY c")


@settings(max_examples=25)
@given(st.lists(_ident, min_size=1, max_size=3, unique=True))
def test_rewrite_distinct_on_shape(keys):
    """The rewrite always produces a __rn window + filter wrapper and
    never loses the FROM clause."""
    stmt = (
        f"SELECT DISTINCT ON ({', '.join(keys)}) a, b FROM t "
        f"ORDER BY {keys[0]}, b"
    )
    out = rewrite_distinct_on(stmt)
    assert "row_number() OVER (PARTITION BY" in out
    assert "__rn = 1" in out
    assert "FROM t" in out
    # non-DISTINCT-ON statements pass through untouched
    plain = "SELECT DISTINCT a FROM t"
    assert rewrite_distinct_on(plain) == plain


_ident = st.text(string.ascii_lowercase, min_size=1, max_size=8)


@given(_ident, _ident, st.booleans(), st.booleans())
def test_split_rel_alias_roundtrip(rel, alias, as_kw, parenthesized):
    from ducklakexl_spark.engine import split_rel_alias

    rel_txt = f"(SELECT * FROM {rel})" if parenthesized else rel
    seg = f"{rel_txt} {'AS ' if as_kw else ''}{alias}"
    r, a = split_rel_alias(seg)
    assert r == rel_txt and a == alias
    r2, a2 = split_rel_alias(rel_txt)
    assert r2 == rel_txt and a2 is None


@given(st.lists(_ident, min_size=1, max_size=5))
def test_split_top_level_kw_respects_parens(parts):
    from ducklakexl_spark.engine import split_top_level_kw

    # AND inside parens/strings must not split
    joined = " AND ".join(f"({p} AND x) = 'a AND b'" for p in parts)
    out = split_top_level_kw(joined, "AND")
    assert len(out) == len(parts)


@given(_ident, st.integers(-50, 50), st.integers(-50, 50))
def test_tail_keyword_pos_skips_nested(col, a, b):
    from ducklakexl_spark.engine import tail_keyword_pos

    stmt = f"SELECT {col} FROM (SELECT 1 ORDER BY 1 LIMIT 5) t WHERE {col} > {min(a,b)} ORDER BY {col} LIMIT {abs(b)+1}"
    pos = tail_keyword_pos(stmt, stmt.index(" t ") + 3)
    assert stmt[pos:].upper().startswith("WHERE")


# --------------------------------------------------------------- dialect
from ducklakexl_spark import queries as _qmod
from ducklakexl_spark.engine import (
    rewrite_bracket_syntax,
    rewrite_duckdb_functions,
    rewrite_hex_casts,
    rewrite_ignore_nulls,
    rewrite_similar_to,
)

_qmod.load_all()
_ORACLE_TEXTS = sorted(
    (n, o) for n, o in _qmod.ORACLES.items()
    if not n.startswith(("lakehouse_", "stream_"))
)


def _dialect_chain(s: str) -> str:
    s = rewrite_bracket_syntax(s)
    s = rewrite_hex_casts(s)
    s = rewrite_duckdb_functions(s)
    s = rewrite_ignore_nulls(s)
    return rewrite_similar_to(s)


def test_dialect_rewrites_idempotent_on_oracle_corpus():
    """Rewriting already-rewritten SQL must be a no-op — otherwise
    chained passes (views over views, macros) corrupt statements."""
    for name, osql in _ORACLE_TEXTS:
        once = _dialect_chain(osql)
        twice = _dialect_chain(once)
        assert once == twice, name


def test_literal_spans_match_duckdb_tokenizer():
    """The scanner's '…' spans start exactly at DuckDB's string_const
    tokens and its "…" spans at DuckDB's quoted identifier tokens
    (duckdb.tokenize reports byte offsets and skips comments)."""
    import itertools

    import duckdb

    from ducklakexl_spark.engine import _literal_spans

    for name, osql in _ORACLE_TEXTS:
        char_at = {
            b: i
            for i, b in enumerate(
                itertools.accumulate(
                    (len(c.encode()) for c in osql), initial=0
                )
            )
        }
        toks = [(char_at[b], t) for b, t in duckdb.tokenize(osql)]
        theirs = {
            (p, osql[p]) for p, t in toks
            if t == duckdb.token_type.string_const
            or (t == duckdb.token_type.identifier and osql[p] == '"')
        }
        ours = {
            (p, osql[p]) for p in _literal_spans(osql).starts
            if osql[p] in "'\""
        }
        assert ours == theirs, name


def test_bracket_rewrite_noop_without_brackets():
    for name, osql in _ORACLE_TEXTS:
        if "[" in osql or "{" in osql:
            continue
        assert rewrite_bracket_syntax(osql) == osql, name


@given(st.text(alphabet=string.ascii_letters + " ,.()'\"0123456789_", max_size=80))
@settings(max_examples=300, deadline=None)
def test_bracket_rewrite_total_on_bracketless(s):
    """No brackets in → identical out (never mangles plain SQL text)."""
    try:
        out = rewrite_bracket_syntax(s)
    except ValueError:
        return  # unbalanced quotes/parens may legitimately raise
    assert out == s


# ---------------------------------------------------------- fuzzy strings
# pure-python kernels behind the registered pandas UDFs

from ducklakexl_spark.functions import _dl_distance, _jaro  # noqa: E402

_word = st.text(alphabet=string.ascii_lowercase, max_size=12)


@given(_word, _word)
def test_damerau_symmetric_and_bounded(a, b):
    d = _dl_distance(a, b)
    assert d == _dl_distance(b, a)
    assert abs(len(a) - len(b)) <= d <= max(len(a), len(b))
    assert (d == 0) == (a == b)


@given(_word)
def test_damerau_transposition_costs_one(s):
    if len(s) >= 2 and s[0] != s[1]:
        swapped = s[1] + s[0] + s[2:]
        assert _dl_distance(s, swapped) == 1


@given(_word, _word)
def test_jaro_range_and_identity(a, b):
    j = _jaro(a, b)
    assert 0.0 <= j <= 1.0
    # DuckDB convention: empty strings score 0 even against themselves
    assert _jaro(a, a) == (1.0 if a else 0.0)
    assert j == _jaro(b, a)


from ducklakexl_spark.engine import (  # noqa: E402
    rewrite_from_first,
    rewrite_groups_frame,
    rewrite_quantified_and_factorial,
    rewrite_window_exclude,
)


@given(st.text(alphabet=string.ascii_letters + " ,.()'\"0123456789_<>=*", max_size=80))
@settings(max_examples=300, deadline=None)
def test_new_rewrites_passthrough_without_keywords(s):
    """Statements free of the trigger keywords come back byte-identical
    from every round-4 rewrite pass."""
    up = s.upper()
    if "EXCLUDE" not in up and "OVER" not in up:
        try:
            assert rewrite_window_exclude(s) == s
        except ValueError:
            pass  # unbalanced parens may legitimately raise
    if "GROUPS" not in up:
        assert rewrite_groups_frame(s) == s
    if not re.search(r"\bANY\b|\bSOME\b|\bALL\b|\d\s*!", up):
        assert rewrite_quantified_and_factorial(s) == s
    if not up.lstrip().startswith("FROM"):
        assert rewrite_from_first(s) == s


def test_new_rewrites_idempotent_on_oracle_corpus():
    for name, osql in _ORACLE_TEXTS:
        once = rewrite_groups_frame(rewrite_quantified_and_factorial(osql))
        twice = rewrite_groups_frame(rewrite_quantified_and_factorial(once))
        assert once == twice, name


# ------------------------------------------------- inline encode/decode

from pyspark.sql import types as _T  # noqa: E402

from ducklakexl_spark.engine import (  # noqa: E402
    _inline_decode_value,
    _inline_encode_value,
)

_SCALAR_CASES = [
    (_T.LongType(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
    (_T.IntegerType(), st.integers(min_value=-(2**31), max_value=2**31 - 1)),
    (_T.StringType(), st.text(max_size=40)),
    (_T.BooleanType(), st.booleans()),
    (
        _T.DoubleType(),
        st.floats(allow_nan=False, width=64),
    ),
    (_T.DateType(), st.dates()),
    (
        _T.TimestampType(),
        st.datetimes(),
    ),
    (_T.BinaryType(), st.binary(max_size=40)),
]


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_inline_scalar_roundtrip(data):
    """encode→json→decode is the identity for every scalar type the DDL
    surface supports (binary compares by bytes)."""
    import json as _json

    dt, strat = data.draw(st.sampled_from(_SCALAR_CASES))
    v = data.draw(st.one_of(st.none(), strat))
    back = _inline_decode_value(
        _json.loads(_json.dumps(_inline_encode_value(v, dt))), dt
    )
    if isinstance(dt, _T.BinaryType) and v is not None:
        assert bytes(back) == bytes(v)
    else:
        assert back == v


@given(
    st.lists(
        st.one_of(st.none(), st.integers(min_value=-(2**40), max_value=2**40)),
        max_size=8,
    ),
    st.dictionaries(st.text(max_size=8), st.integers(-100, 100), max_size=5),
)
@settings(max_examples=100, deadline=None)
def test_inline_nested_roundtrip(xs, m):
    import json as _json

    arr_t = _T.ArrayType(_T.LongType())
    map_t = _T.MapType(_T.StringType(), _T.LongType())
    struct_t = _T.StructType(
        [_T.StructField("xs", arr_t), _T.StructField("m", map_t)]
    )
    v = {"xs": xs, "m": m}
    back = _inline_decode_value(
        _json.loads(_json.dumps(_inline_encode_value(v, struct_t))), struct_t
    )
    assert back == v


@given(st.decimals(allow_nan=False, allow_infinity=False, places=4,
                   min_value=-10**12, max_value=10**12))
@settings(max_examples=100, deadline=None)
def test_inline_decimal_exact(d):
    import json as _json

    dt = _T.DecimalType(18, 4)
    back = _inline_decode_value(
        _json.loads(_json.dumps(_inline_encode_value(d, dt))), dt
    )
    assert back == d


from ducklakexl_spark.engine import (  # noqa: E402
    rewrite_list_comprehension,
    rewrite_trailing_commas,
)


@given(st.text(alphabet=string.ascii_letters + " ,.()'\"0123456789_<>=*[]", max_size=80))
@settings(max_examples=300, deadline=None)
def test_comprehension_and_comma_passthrough(s):
    """No FOR keyword -> comprehension rewrite is the identity; no
    trailing comma -> comma rewrite is the identity."""
    if not re.search(r"\bFOR\b", s, re.I):
        try:
            assert rewrite_list_comprehension(s) == s
        except ValueError:
            pass  # unbalanced brackets may legitimately raise
    if not re.search(r",\s*($|[)\]}])", s) and not re.search(
        r",\s*(from|where|group|order|having|limit|offset|window|qualify"
        r"|union|except|intersect)\b", s, re.I
    ):
        assert rewrite_trailing_commas(s) == s


def test_driver_window_samples_every_family():
    """The driver's CORRECTNESS artifact runs exactly the FIRST 50 names
    of __spark_entry__.queries(); the curated head must keep one
    representative of EVERY operator-family prefix in the registry (plus
    exact oracles for each) so no family can go driver-unverified."""
    import __spark_entry__ as e

    qs = e.queries()
    names = list(qs)
    first50 = names[:50]
    assert len(set(first50)) == 50
    assert set(names) == set(e.oracle_sql()) | set(qs), "registry drift"

    def fam(n: str) -> str:
        return "tpch" if re.match(r"q\d\d_", n) else n.split("_")[0]

    missing = {fam(n) for n in names} - {fam(n) for n in first50}
    assert not missing, f"families outside the driver window: {missing}"
    osql = e.oracle_sql()
    no_oracle = [n for n in first50 if n not in osql]
    assert not no_oracle, f"driver-window queries without oracle: {no_oracle}"


def test_documents_fixture_is_ascii():
    """The multimodal oracles equate payload BYTES with text CHARS
    (ord(substr(text, i, 1)) == utf-8 byte i), which holds only for
    pure-ASCII fixtures.  If the driver ever regenerates documents with
    non-ASCII text, fail HERE with a clear message instead of as opaque
    value-hash mismatches across every mm_* query."""
    import duckdb

    for sf in ("0.001", "0.01"):
        n = duckdb.connect().execute(
            f"SELECT count(*) FROM '/root/testdata/sf{sf}/documents.parquet' "
            "WHERE octet_length(encode(text)) <> length(text)"
        ).fetchone()[0]
        assert n == 0, (
            f"sf{sf}: {n} non-ASCII documents — the mm_* oracles' "
            "byte==char equivalence no longer holds; re-derive the "
            "multimodal oracles over bytes (see queries/multimodal.py)"
        )
