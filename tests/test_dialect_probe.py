"""Dialect-surface probes BEYOND the oracle corpus: DuckDB idioms a
reference user writes daily, each run live through ``DuckLakeSpark.sql()``
and value-compared against DuckDB on the same statement.

These pin the round-4 dialect additions (FROM-first with trailing
clauses, ``* REPLACE``, percentage LIMIT, ``**`` / ``^@`` operators,
``AS MATERIALIZED``, JSON ``->`` chains, printf float conversions,
``date_part('dow')`` numbering, one-arg range TVFs, DISTINCT ordered
``array_agg``, string-literal slicing, DATE+INTERVAL typing, typeof
spelling, setseed) so later rewrite work can't regress them.
"""

from __future__ import annotations

import tempfile

import duckdb
import pytest

from ducklakexl_spark import queries as qmod
from ducklakexl_spark.engine import DuckLakeSpark

qmod.load_all()

SF = "/root/testdata/sf0.001"

PROBES = [
    ("from_first_order", "FROM region SELECT r_name ORDER BY r_name"),
    ("from_first_where",
     "FROM nation SELECT n_name WHERE n_regionkey = 1 ORDER BY n_name"),
    ("star_replace",
     "SELECT * REPLACE (upper(r_name) AS r_name) FROM region "
     "ORDER BY r_regionkey"),
    ("limit_pct",
     "SELECT r_regionkey FROM region ORDER BY r_regionkey LIMIT 40%"),
    ("date_plus_interval",
     "SELECT DATE '2024-01-31' + INTERVAL 1 MONTH AS d"),
    ("date_part_dow",
     "SELECT date_part('dow', DATE '2024-01-07') AS sun0, "
     "date_part('isodow', DATE '2024-01-07') AS sun7"),
    ("starts_with_op",
     "SELECT r_name FROM region WHERE r_name ^@ 'A' ORDER BY r_name"),
    ("string_slice_paren", "SELECT ('abcdef')[2:4] AS s"),
    ("printf_float", "SELECT printf('%05.2f|%d', 3.14159, 42) AS s"),
    ("power_op", "SELECT 2 ** 10 AS p, 3 ** 2 AS q"),
    ("range_one_arg", "SELECT * FROM range(3) t(i) ORDER BY i"),
    ("series_one_arg",
     "SELECT generate_series AS g FROM generate_series(3) ORDER BY 1"),
    ("array_agg_distinct_order",
     "SELECT array_agg(DISTINCT n_regionkey ORDER BY n_regionkey) AS l "
     "FROM nation"),
    ("json_arrow_chain",
     """SELECT '{"a": {"b": 7}}'::JSON -> 'a' ->> 'b' AS v"""),
    ("json_arrow_index",
     """SELECT '[10, 20, 30]'::JSON ->> 1 AS v"""),
    ("cte_materialized",
     "WITH t AS MATERIALIZED (SELECT r_regionkey FROM region) "
     "SELECT count(*) AS c FROM t"),
    ("typeof_upper", "SELECT typeof(1::BIGINT) AS t, typeof('x') AS s"),
    ("setseed_null", "SELECT setseed(0.5) IS NULL AS ok"),
    ("named_window",
     "SELECT n_name, sum(n_nationkey) OVER w AS s FROM nation "
     "WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_name) "
     "ORDER BY n_name LIMIT 5"),
    ("lambda_untouched",
     "SELECT list_transform([1,2,3], x -> x + 1) AS l"),
    ("trim_two_arg",
     "SELECT trim('xxaxx','x') AS t, ltrim('xxa','x') AS l, "
     "rtrim('axx','x') AS r"),
    ("strip_accents_f", "SELECT strip_accents('âéî ÑÇ') AS s"),
    ("datediff_three",
     "SELECT datediff('month', DATE '2024-01-15', DATE '2024-03-20') AS m"),
    ("epoch_double",
     "SELECT epoch(TIMESTAMP '2024-01-01 00:00:01') AS e"),
    ("sign_int", "SELECT sign(-2.5) AS s, sign(3) AS p"),
    ("gcd_lcm_f", "SELECT gcd(12,18) AS g, lcm(4,6) AS l, gcd(0,7) AS z"),
    ("list_select_f", "SELECT list_select([10,20,30], [1,3]) AS l"),
    ("list_where_f",
     "SELECT list_where([10,20,30], [true,false,true]) AS l"),
    ("list_resize_f", "SELECT list_resize([1,2], 4, 0) AS l"),
    ("list_reverse_f", "SELECT list_reverse([1,2,3]) AS l"),
    ("regexp_full_f", "SELECT regexp_full_match('abc','a.*') AS m, "
     "regexp_full_match('abc','b') AS n"),
    ("like_escape_bs", "SELECT 'a_b' LIKE 'a\\_b' ESCAPE '\\' AS m, "
     "'axb' LIKE 'a\\_b' ESCAPE '\\' AS n"),
    ("like_escape_other", "SELECT 'a_b' LIKE 'a!_b' ESCAPE '!' AS m"),
    ("glob_operator", "SELECT 'abc' GLOB 'a*' AS g, 'abc' GLOB 'a?d' AS n"),
    ("row_constructor", "SELECT row(1, 'x') IS NOT NULL AS ok"),
    ("array_type_suffix", "SELECT [1,2]::DOUBLE[] AS l"),
    ("date_trunc_date_lit",
     "SELECT date_trunc('week', DATE '2024-03-07') AS d"),
    ("hash_nonneg", "SELECT hash('x') >= 0 AS ok"),
    # COLUMNS() over a general FROM (subquery/VALUES/join) resolves the
    # schema via a LIMIT-0 probe instead of requiring a named table
    ("columns_regex_subquery",
     "SELECT columns('^[ab]$') FROM (VALUES (3, 7, 1), (1, 9, 2)) m(a, b, c)"),
    ("columns_star_agg_subquery",
     "SELECT min(COLUMNS(*)) FROM (VALUES (3, 7), (1, 9)) m(a, b)"),
    # DuckDB's recursive unnest over an array of structs = Spark inline()
    ("unnest_recursive_structs",
     "SELECT unnest([{'x': 1, 'y': 'a'}, {'x': 2, 'y': 'b'}], "
     "recursive := true) FROM (VALUES (1)) z(q)"),
    # round-5 advisor fixes: operator/type rewrites must skip string
    # literals without aborting, percentage LIMIT truncates like DuckDB,
    # date_part('epoch') keeps the fractional seconds
    ("power_op_after_literal", "SELECT 'a**b' AS s, 2 ** 3 AS p"),
    ("limit_pct_truncates",
     "SELECT r_regionkey FROM region ORDER BY r_regionkey LIMIT 30%"),
    ("limit_pct_zero",
     "SELECT r_regionkey FROM region ORDER BY r_regionkey LIMIT 10%"),
    ("date_part_epoch_frac",
     "SELECT date_part('epoch', TIMESTAMP '2024-01-01 00:00:01.5') AS e"),
    ("array_suffix_in_literal",
     "SELECT 'cast is x::INT[] here' AS s, [1]::INT[] AS l"),
    ("materialized_in_literal",
     "SELECT 'x AS MATERIALIZED (y' AS s"),
    ("sign_nested_cast", "SELECT CAST(sign(-2.5) AS INT) AS s"),
    ("json_group_array_f",
     # single element: collect_list is partition-order-dependent, so a
     # multi-row probe would be flaky in BOTH engines' contract
     "SELECT json_group_array(x) AS j FROM (SELECT 7 AS x) t"),
    ("timezone_naive",
     # cast to naive: DuckDB yields TIMESTAMPTZ whose str carries +00:00
     # under the UTC session; values are identical
     "SELECT CAST(timezone('America/New_York', "
     "TIMESTAMP '2024-01-01 00:00:00') AS TIMESTAMP) AS t"),
    ("date_add_interval",
     "SELECT date_add(DATE '2024-01-01', INTERVAL 3 DAY) AS d"),
    ("format_float_decimal",
     "SELECT format('{:.2f}|{}', 3.14159, 'x') AS f"),
    ("date_minus_date",
     "SELECT DATE '2024-03-05' - DATE '2024-03-01' AS days"),
    ("cast_date_plus_interval",
     "SELECT '2024-01-01'::DATE + INTERVAL 1 DAY AS d"),
    ("filter_no_where",
     "SELECT count(*) FILTER (r_regionkey > 1) AS c FROM region"),
    ("json_valid_f",
     """SELECT json_valid('{"a":1}') AS v, json_valid('nope') AS n"""),
    ("abs_at_operator", "SELECT @(-5) AS a"),
    ("map_list_form",
     "SELECT cardinality(map([1,2],[10,20])) AS n"),
    # sample-statistic corrections (DuckDB reports G1/G2, Spark g1/g2);
    # round(…, 6) absorbs last-ulp differences of the algebraic forms
    ("skewness_sample",
     "SELECT round(skewness(x), 6) AS s "
     "FROM (VALUES (1.0),(2.0),(2.0),(9.0)) t(x)"),
    ("kurtosis_sample",
     "SELECT round(kurtosis(x), 6) AS k "
     "FROM (VALUES (1.0),(2.0),(2.0),(9.0)) t(x)"),
    ("geomean_alias",
     "SELECT round(geomean(x), 6) AS g FROM (VALUES (1.0),(4.0)) t(x)"),
    # DuckDB regexp_replace is FIRST-match-only without the 'g' flag
    ("regexp_replace_first_only",
     "SELECT regexp_replace('aaa', 'a', 'b') AS r, "
     "regexp_replace('abc', 'x', 'y') AS none_matched, "
     "regexp_replace('aaa', 'a', 'b', 'g') AS global_form"),
    ("regexp_replace_first_backref",
     "SELECT regexp_replace('aXa', '(X)', '[\\1]') AS r"),
    ("concat_skips_nulls", "SELECT concat('a', NULL, 'b') AS c"),
    ("regexp_escape_f", "SELECT regexp_escape('a.b+c') AS e"),
    ("parse_filename_f", "SELECT parse_filename('/x/y/z.txt') AS f"),
    ("nfc_normalize_f", "SELECT nfc_normalize('abc') AS n"),
    # round-5 dialect-breadth batch (surveyed against
    # duckdb_functions(); every emission is a rewrite fixed point)
    ("decade_era_millennium",
     "SELECT decade(DATE '2024-05-04') AS d, era(DATE '2024-01-01') AS e, "
     "millennium(DATE '2024-01-01') AS m, millennium(DATE '2000-12-31') AS m2"),
    ("isoyear_yearweek",
     "SELECT isoyear(DATE '2022-01-01') AS a, yearweek(DATE '2022-01-01') AS b, "
     "yearweek(DATE '2024-01-07') AS c"),
    ("julian_day",
     "SELECT julian(DATE '2024-01-01') AS j, julian(TIMESTAMP '2024-01-01 12:00:00') AS jt"),
    ("dayofweek_zero_based",
     "SELECT dayofweek(DATE '2024-01-07') AS sun, dayofweek(DATE '2024-01-08') AS mon, "
     "weekday(DATE '2024-01-09') AS tue, isodow(DATE '2024-01-07') AS iso"),
    ("epoch_ns_probe",
     "SELECT epoch_ns(TIMESTAMP '2024-01-01 00:00:01.5') AS ns"),
    ("timezone_hm",
     "SELECT timezone_hour(TIMESTAMP '2024-01-01 10:00:00') AS h, "
     "timezone_minute(TIMESTAMP '2024-01-01 10:00:00') AS m"),
    ("make_timestamp_micros", "SELECT make_timestamp(1700000000000000) AS t"),
    ("interval_makers",
     "SELECT CAST(DATE '2024-01-31' + to_years(1) AS DATE) AS y, "
     "CAST(DATE '2024-01-31' + to_months(1) AS DATE) AS m, "
     "CAST(DATE '2024-01-01' + to_weeks(2) AS DATE) AS w"),
    ("date_sub_parts",
     "SELECT date_sub('month', DATE '2024-01-15', DATE '2024-05-20') AS m, "
     "date_sub('day', TIMESTAMP '2024-01-01 10:00:00', TIMESTAMP '2024-01-03 09:59:59') AS d, "
     "date_sub('year', DATE '2020-03-01', DATE '2024-02-28') AS y"),
    ("time_bucket_day_origin",
     "SELECT time_bucket(INTERVAL 2 DAY, DATE '2024-01-08') AS b, "
     "time_bucket(INTERVAL 1 WEEK, DATE '2024-01-10') AS w, "
     "time_bucket(INTERVAL 15 MINUTE, TIMESTAMP '2024-01-01 10:23:00') AS q"),
    ("like_escape_fns",
     "SELECT like_escape('a%c', 'a$%c', '$') AS a, "
     "ilike_escape('A%c', 'a$%C', '$') AS b, "
     "not_like_escape('abc', 'a$%c', '$') AS c"),
    ("bar_chart",
     "SELECT bar(3, 0, 10, 10) AS a, bar(3.7, 0, 10, 10) AS b, "
     "bar(0, 0, 10, 10) AS z, bar(11, 0, 10, 10) AS f"),
    ("format_decimal_size",
     "SELECT formatReadableDecimalSize(16000) AS s, format_bytes(16384) AS b"),
    ("parse_path_family",
     "SELECT parse_path('/a/b/c.txt') AS p, parse_dirname('/a/b/c.txt') AS dn, "
     "parse_dirpath('/a/b/c.txt') AS dp, parse_dirname('c.txt') AS dn2, "
     "parse_filename('/a/b/c.txt') AS fn"),
    ("constant_or_null_fn",
     "SELECT constant_or_null(7, 1, 2) AS a, constant_or_null(7, NULL, 1) AS b"),
    ("current_schema_fn", "SELECT current_schema() AS s"),
    ("list_alias_family",
     "SELECT array_transform([1, 2], x -> x + 1) AS t, "
     "array_filter([1, 2, 3], x -> x < 3) AS f, array_has([1, 2], 2) AS h, "
     "array_indexof([9, 8, 7], 8) AS i, apply([3, 4], x -> x * 2) AS ap"),
    ("list_cat_null_skip",
     "SELECT list_cat([1], [2, 3]) AS a, list_cat(NULL, [2]) AS b, "
     "array_cat([1], NULL) AS c"),
    ("list_distinct_null_drop",
     "SELECT list_sort(list_distinct([1, NULL, 1, 2])) AS d, "
     "array_unique([1, 2, 2, NULL]) AS u, list_unique([1, 1, NULL]) AS u2"),
    ("list_grade_up_fn",
     "SELECT list_grade_up([30, 10, 20]) AS g, list_grade_up([2, NULL, 1]) AS gn"),
    ("map_element_at_list_wrap",
     "SELECT element_at(map([1, 2], ['a', 'b']), 2) AS hit, "
     "element_at(map([1], ['x']), 5) AS miss, "
     "map_extract(map([1, 2], ['a', 'b']), 1) AS me"),
    ("list_fold_aliases",
     "SELECT aggregate([1, 2], 'sum') AS s, reduce([1, 2, 3], (a, b) -> a + b) AS r, "
     "array_reduce([2, 3], (a, b) -> a * b) AS p"),
    ("list_aggregate_more",
     "SELECT list_aggregate([1, 2, 3], 'first') AS f, "
     "list_aggregate([1, 2, 3], 'last') AS l, "
     "list_aggregate([1, 2], 'string_agg') AS sa, "
     "list_aggregate([NULL, 1, 2], 'sum') AS s, list_sum(([0.5, 2.5])::DOUBLE[]) AS ds"),
    ("grapheme_fns",
     "SELECT length_grapheme('héllo') AS n, substring_grapheme('abcdef', 2, 3) AS s, "
     "left_grapheme('hello', 2) AS l, right_grapheme('hello', 3) AS r"),
    ("jaro_fns",
     "SELECT round(jaro_similarity('martha', 'marhta'), 6) AS j, "
     "round(jaro_winkler_similarity('duck', 'luck'), 6) AS jw"),
    ("json_build",
     "SELECT json_array(1, 'a', NULL) AS ja, json_object('k', 1, 'j', 'x') AS jo, "
     "json_quote('ab') AS q1, json_quote(1.5) AS q2"),
    ("json_type_fn",
     "SELECT json_type('{\"a\":1}') AS o, json_type('[1]') AS a, "
     "json_type('\"x\"') AS v, json_type('-2') AS n, json_type('1.5') AS d, "
     "json_type('{\"a\":[1]}', 'a') AS p"),
    ("json_extract_quoting",
     "SELECT json_extract('{\"a\":\"x\"}', 'a') AS q, "
     "json_extract('{\"a\":{\"b\":3}}', '/a/b') AS p, "
     "json_extract('[10,20]', 1) AS idx, "
     "json_extract_string('{\"a\":\"x\"}', 'a') AS s"),
    ("json_merge_struct",
     "SELECT json_merge_patch('{\"a\":1,\"c\":3}', '{\"b\":2,\"c\":null}') AS m, "
     "json_structure('{\"a\":1,\"b\":[1.5],\"c\":\"x\"}') AS s, "
     "json_contains('{\"a\":1}', '1') AS c1, json_contains('[1,2]', '3') AS c2"),
    ("from_json_structure",
     "SELECT (from_json('{\"a\":1,\"b\":\"x\"}', "
     "'{\"a\":\"INTEGER\",\"b\":\"VARCHAR\"}')).a AS a"),
    ("json_arrow_quoted",
     "SELECT '{\"a\": {\"b\": \"x\"}}'::JSON -> 'a' -> 'b' AS v"),
    # round-5 gap-probe batch: idioms surveyed by running a 56-statement
    # battery of daily-driver DuckDB SQL through the engine vs DuckDB
    ("group_by_all",
     "SELECT n_regionkey, count(*) AS c FROM nation GROUP BY ALL ORDER BY ALL"),
    ("columns_regex_probe",
     "SELECT COLUMNS('n_n.*') FROM nation ORDER BY n_name LIMIT 3"),
    ("columns_list_agg",
     "SELECT min(COLUMNS(['n_regionkey', 'n_nationkey'])) FROM nation"),
    ("unnest_select", "SELECT unnest([1, 2, 3]) AS u"),
    ("values_from",
     "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) AS t(i, s) ORDER BY i"),
    ("describe_select_shape",
     "DESCRIBE SELECT r_regionkey, r_name FROM region"),
    ("list_comprehension_probe",
     "SELECT [x * 2 FOR x IN [1, 2, 3, 4] IF x % 2 = 0] AS l"),
    ("mode_unique",
     "SELECT mode(x) AS m FROM (VALUES (1), (2), (2), (3)) t(x)"),
    ("bit_bool_aggs",
     "SELECT bit_and(n_nationkey) AS ba, bit_or(n_nationkey) AS bo, "
     "bit_xor(n_nationkey) AS bx, bool_and(n_regionkey < 5) AS ca, "
     "bool_or(n_regionkey = 0) AS co FROM nation"),
    ("kahan_fold",
     "SELECT fsum(n_nationkey) AS s, favg(n_nationkey) AS a, "
     "sumkahan(n_nationkey) AS k FROM nation"),
    ("quantile_cont_list",
     "SELECT quantile_cont(n_nationkey, [0.25, 0.5, 0.75]) AS q FROM nation"),
    ("count_zero_arg", "SELECT count() AS c FROM nation"),
    ("struct_insert_scalar",
     "SELECT struct_insert({'a': 1}, b := 2).b AS b, "
     "struct_insert({'a': 1, 'c': 3}, d := 'x').d AS d"),
    ("regexp_matches_flags",
     "SELECT regexp_matches('abc', 'B', 'i') AS i, "
     "regexp_matches('a' || chr(10) || 'b', 'a.b', 's') AS s, "
     "regexp_matches('a.c', 'a.c', 'l') AS l, "
     "regexp_matches('abc', 'a.c', 'l') AS l2"),
    ("exists_from_first",
     "SELECT r_name FROM region r WHERE EXISTS (FROM nation WHERE "
     "n_regionkey = r.r_regionkey AND n_name GLOB 'A*') ORDER BY r_name"),
    ("scalar_from_first",
     "SELECT (FROM nation SELECT max(n_nationkey)) AS m"),
    ("in_null_semantics",
     "SELECT 3 IN (1, 2, NULL) AS a, 1 IN (1, NULL) AS b"),
    ("similar_to_probe",
     "SELECT count(*) AS c FROM nation WHERE n_name SIMILAR TO '.*IA'"),
    ("grouping_fn",
     "SELECT n_regionkey, grouping(n_regionkey) AS g, count(*) AS c "
     "FROM nation GROUP BY ROLLUP (n_regionkey) "
     "ORDER BY n_regionkey NULLS LAST, g"),
    ("string_agg_distinct_probe",
     "SELECT string_agg(DISTINCT n_regionkey::VARCHAR, ',' "
     "ORDER BY n_regionkey::VARCHAR) AS s FROM nation"),
    ("regr_corr_family",
     "SELECT round(regr_slope(n_nationkey, n_regionkey), 6) AS s, "
     "round(corr(n_nationkey, n_regionkey), 6) AS c FROM nation"),
    # division by zero is NULL in DuckDB (every form)
    ("division_by_zero",
     "SELECT 1 / 0 AS a, 1.5 / 0 AS b, 1 // 0 AS c, 1 % 0 AS d, "
     "7 / 2 AS e"),
    # date_diff counts PART BOUNDARIES crossed, not complete intervals
    ("date_diff_boundaries",
     "SELECT date_diff('month', DATE '2024-01-15', DATE '2024-03-01') AS m, "
     "date_diff('year', DATE '2023-12-31', DATE '2024-01-01') AS y, "
     "date_diff('week', DATE '2024-01-06', DATE '2024-01-08') AS w1, "
     "date_diff('week', DATE '2024-01-08', DATE '2024-01-14') AS w0, "
     "date_diff('hour', TIMESTAMP '2024-01-01 10:59:59', "
     "TIMESTAMP '2024-01-01 11:00:01') AS h, "
     "datediff('months', DATE '2024-01-31', DATE '2024-02-01') AS pl"),
    ("age_rendering",
     "SELECT age(TIMESTAMP '2024-03-15 10:30:15.5', "
     "TIMESTAMP '2022-01-20 09:00:00')::VARCHAR AS a, "
     "age(TIMESTAMP '2024-01-10', TIMESTAMP '2024-03-15')::VARCHAR AS neg, "
     "age(TIMESTAMP '2024-03-01', TIMESTAMP '2024-01-31')::VARCHAR AS brw, "
     "age(TIMESTAMP '2024-03-15', TIMESTAMP '2024-03-15')::VARCHAR AS z"),
    ("float_predicates",
     "SELECT signbit(-0.0) AS s0, signbit(-3.5) AS sn, "
     "isfinite(1.0) AS f, isinf(CAST('inf' AS DOUBLE)) AS i, "
     "isnan(CAST('nan' AS DOUBLE)) AS n"),
    ("floor_div_mod",
     "SELECT fdiv(7, 2) AS a, fdiv(-7, 2) AS b, fmod(7.5, 2) AS c, "
     "fmod(-7.5, 2) AS d"),
    ("generate_subscripts_probe",
     "SELECT generate_subscripts([10, 20, 30], 1) AS g"),
    ("left_right_negative",
     "SELECT left('hello', -1) AS l, right('hello', -1) AS r, "
     "left('hello', -9) AS lz, right('hello', 99) AS rb, "
     "left('hello', 2) AS lp, right('hello', 2) AS rp"),
    ("substring_zero_start",
     "SELECT substring('hello', 0, 3) AS z, substring('hello', -2, 3) AS n, "
     "substring('hello', -5, 3) AS e, substring('hello', 2, 100) AS big, "
     "substr('hello', 2, 2) AS pos"),
    ("any_value_ordered",
     "SELECT any_value(x ORDER BY y) AS a FROM "
     "(VALUES (NULL, 1), ('b', 2), ('a', 3)) t(x, y)"),
    ("range_tvf_temporal",
     "SELECT CAST(r AS DATE) AS d FROM range(DATE '2024-01-01', "
     "DATE '2024-01-04', INTERVAL 1 DAY) t(r) ORDER BY 1"),
    ("series_tvf_timestamp",
     "SELECT * FROM generate_series(TIMESTAMP '2024-01-01', "
     "TIMESTAMP '2024-01-01 02:00:00', INTERVAL 1 HOUR) t(ts) ORDER BY 1"),
    ("translate_probe", "SELECT translate('abcba', 'ab', 'xy') AS t"),
    ("try_strptime_probe",
     "SELECT try_strptime('2024-13-40', '%Y-%m-%d') IS NULL AS bad, "
     "try_strptime('2024-01-02', '%Y-%m-%d')::DATE AS ok"),
    # double quotes are IDENTIFIERS (ANSI/DuckDB), not string literals
    ("double_quoted_identifiers",
     'SELECT "n_name", upper("n_name") AS "Shouted Name" FROM nation '
     'ORDER BY "n_name" LIMIT 2'),
    # a ~ after a keyword is unary bitwise NOT, not a regex match
    ("unary_tilde_after_keyword",
     "SELECT true AND ~5 = -6 AS a, CASE WHEN ~1 = -2 THEN ~3 END AS b"),
    # ::INTEGER on a quoted identifier rounds like the bare form
    ("quoted_ident_int_colon_cast",
     'SELECT "v"::INTEGER AS q, v::INTEGER AS b, t."v"::BIGINT AS t '
     "FROM (SELECT 2.7::DOUBLE AS v UNION ALL SELECT -1.6 "
     "UNION ALL SELECT 3.2) t"),
    # a chained :: cast takes the whole chain as its operand, and an
    # integer cast rounds DOUBLE ties to even but DECIMAL ties away
    ("chained_colon_int_cast_ties",
     "SELECT 2.5::DOUBLE::INTEGER AS a, (-2.5)::DOUBLE::INTEGER AS b, "
     "3.5::DOUBLE::INTEGER AS c, 2.5::INTEGER AS d, "
     "CAST(CAST(2.5 AS DOUBLE) AS INTEGER) AS e, "
     "CAST(CAST(-3.5 AS DOUBLE) AS BIGINT) AS f"),
    ("varchar_chain_int_cast",
     "SELECT r_regionkey::VARCHAR::INTEGER AS k, '7'::VARCHAR::INTEGER AS s "
     "FROM region"),
    ("double_column_int_cast_ties",
     "SELECT CAST(x AS INTEGER) AS i, CAST(x AS BIGINT) AS j "
     "FROM (VALUES (2.5::DOUBLE), (3.5::DOUBLE), (-2.5::DOUBLE)) t(x)"),
    ("decimal_column_int_cast_ties",
     "SELECT CAST(x AS INTEGER) AS i, x::BIGINT AS j "
     "FROM (VALUES (2.5), (-2.5), (0.5)) t(x)"),
]


@pytest.fixture(scope="module")
def probe_env(spark):
    qmod.register_views(spark, SF)
    tmp = tempfile.mkdtemp(prefix="lake_probe_")
    lake = DuckLakeSpark(
        spark=spark, data_path=f"{tmp}/d", local_catalog=f"{tmp}/c"
    )
    con = duckdb.connect()
    for t in qmod.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return lake, con


@pytest.mark.parametrize("name,sql", PROBES, ids=[n for n, _ in PROBES])
def test_probe_matches_duckdb(probe_env, name, sql):
    lake, con = probe_env
    sdf = lake.sql(sql)
    scols = sdf.columns
    sidx = sorted(range(len(scols)), key=lambda i: scols[i])
    s2 = sorted(tuple(str(r[i]) for i in sidx) for r in sdf.collect())
    d = con.execute(sql).fetchall()
    dcols = [c[0] for c in con.description]
    didx = sorted(range(len(dcols)), key=lambda i: dcols[i])
    d2 = sorted(tuple(str(r[i]) for i in didx) for r in d)
    assert len(s2) == len(d2), f"{name}: {len(s2)} vs {len(d2)} rows"
    assert s2 == d2, f"{name}: {s2[:3]} vs {d2[:3]}"
