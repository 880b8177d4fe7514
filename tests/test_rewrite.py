"""Unit tests for the Presto→Spark SQL rewrite layer (rewrite.py)."""

from __future__ import annotations

from presto_ads_spark.rewrite import rewrite


def test_function_rename_basic():
    assert rewrite("SELECT approx_distinct(x) FROM t") == (
        "SELECT approx_count_distinct(x) FROM t"
    )


def test_rename_case_insensitive():
    assert "instr(" in rewrite("SELECT STRPOS(a, b) FROM t")


def test_rename_not_inside_literal():
    sql = "SELECT 'use strpos( here' AS s, strpos(a, b) FROM t"
    out = rewrite(sql)
    assert "'use strpos( here'" in out
    assert "instr(a, b)" in out


def test_escaped_quote_literal():
    sql = "SELECT 'it''s strpos(x' AS s, cardinality(a) FROM t"
    out = rewrite(sql)
    assert "'it''s strpos(x'" in out
    assert "size(a)" in out


def test_unnest_simple():
    out = rewrite("SELECT w FROM d CROSS JOIN UNNEST(arr) AS t(w)")
    assert "LATERAL VIEW explode(arr) t AS w" in out


def test_unnest_with_literal_inside():
    out = rewrite(
        "SELECT w FROM d CROSS JOIN UNNEST(split(text, ' ')) AS t(w)"
    )
    assert "LATERAL VIEW explode(split(text, ' ')) t AS w" in out


def test_unnest_ordinality():
    out = rewrite(
        "SELECT w, o FROM d CROSS JOIN UNNEST(arr) WITH ORDINALITY AS t(w, o)"
    )
    assert "inline(transform(arr, (__x, __i) -> struct(__x, __i + 1))) t AS w, o" in out


def test_unnest_map_two_cols():
    out = rewrite("SELECT k, v FROM d CROSS JOIN UNNEST(m) AS t(k, v)")
    assert "LATERAL VIEW explode(m) t AS k, v" in out


def test_tablesample():
    out = rewrite("SELECT * FROM t TABLESAMPLE BERNOULLI(10)")
    assert "TABLESAMPLE (10 PERCENT)" in out


def test_unterminated_literal_passthrough():
    # Malformed SQL shouldn't crash the rewriter; Spark reports the error.
    out = rewrite("SELECT 'oops")
    assert out == "SELECT 'oops"


def test_try_cast():
    assert rewrite("SELECT TRY(CAST(x AS INT)) FROM t") == (
        "SELECT TRY_CAST(x AS INT) FROM t"
    )


def test_try_cast_nested_parens():
    out = rewrite("SELECT TRY(CAST(substr(a, 1, 2) AS INT)) FROM t")
    # a positive-literal start needs no compat guard, so the substr
    # survives as-is; TRY(CAST(..)) must still unwrap to TRY_CAST
    # around the full (rewritten) inner expression.
    assert out == "SELECT TRY_CAST(substr(a, 1, 2) AS INT) FROM t"


def test_string_shims_inline_for_lambda_capture():
    # SQL temp-function bodies can't capture lambda variables, so the
    # compat shims must inline (scalar-corpus finding, round 8):
    # substr with a non-literal start becomes the CASE guard, and a
    # lambda-context call never carries a presto_* name.
    out = rewrite("SELECT filter(a, x -> substr(x, 1, 1) = 'b') FROM t")
    assert "presto_substr" not in out
    out = rewrite("SELECT substr(s, i) FROM t")
    assert "CASE WHEN (i) = 0 OR (i) < -length(s)" in out
    out = rewrite("SELECT transform(a, x -> replace(x, '', '-')) FROM t")
    assert "presto_replace3" not in out and "array_join" in out
    out = rewrite("SELECT transform(a, x -> trim(x)) FROM t")
    assert "presto_trim" not in out and "regexp_replace" in out


def test_date_format_mysql_pattern():
    out = rewrite("SELECT date_format(ts, '%Y-%m-%d') FROM t")
    assert out == "SELECT date_format(ts, 'yyyy-MM-dd') FROM t"


def test_date_parse_mysql_pattern():
    out = rewrite("SELECT date_parse(s, '%Y/%m/%d %H:%i:%s') FROM t")
    assert out == "SELECT to_timestamp(s, 'yyyy/MM/dd HH:mm:ss') FROM t"


def test_date_format_nested_args():
    out = rewrite("SELECT date_format(date_trunc('month', ts), '%Y-%m') FROM t")
    assert out == "SELECT date_format(date_trunc('month', ts), 'yyyy-MM') FROM t"


def test_date_format_plain_chars_are_literals():
    # MySQL semantics: non-% characters are LITERALS, even letters —
    # date_format(ts, 'foo') renders the string "foo"
    # (DateTimeFunctions.java appendLiteral default; DTFB755). Round 11
    # replaced the old leave-alone-if-no-% heuristic: Presto's
    # date_format is always MySQL-dialect, so letters must be quoted
    # for java.time. Engine-internal java-pattern emissions route
    # through the __spark_date_format sentinel instead.
    out = rewrite("SELECT date_format(ts, 'yyyy-MM') FROM t")
    assert out == "SELECT date_format(ts, '''yyyy-MM''') FROM t"
    out = rewrite("SELECT date_format(ts, '%x %v') FROM t")
    assert "YEAROFWEEK" in out and "weekofyear(ts)" in out


def test_bare_varchar_cast():
    assert rewrite("SELECT CAST(x AS VARCHAR) FROM t") == "SELECT CAST(x AS STRING) FROM t"
    assert rewrite("SELECT TRY_CAST(x AS VARCHAR), y FROM t") == (
        "SELECT TRY_CAST(x AS STRING), y FROM t"
    )
    # parameterized VARCHAR(n) truncates to n code points (round 8,
    # CharacterStringCasts.varcharToVarcharCast)
    assert rewrite("SELECT CAST(x AS VARCHAR(10)) FROM t") == (
        "SELECT substr(CAST(x AS STRING), 1, 10) FROM t"
    )
    # inside string literal untouched
    assert rewrite("SELECT 'CAST(x AS VARCHAR)' AS s") == "SELECT 'CAST(x AS VARCHAR)' AS s"


def test_try_arith_precedence():
    # splits at the LAST lowest-precedence operator, preserving
    # left-associative evaluation (ADVICE r4: first-op split computed
    # a*(b+c) for TRY(a*b+c))
    assert rewrite("SELECT TRY(a * b + c)") == (
        "SELECT try_add(try_multiply(a, b), c)"
    )
    assert rewrite("SELECT TRY(a - b + c)") == (
        "SELECT try_add(try_subtract(a, b), c)"
    )
    assert rewrite("SELECT TRY(a * b + c * d)") == (
        "SELECT try_add(try_multiply(a, b), try_multiply(c, d))"
    )
    assert rewrite("SELECT TRY(a / b / c)") == (
        "SELECT try_divide(try_divide(a, b), c)"
    )
    # unary signs are not split points
    assert rewrite("SELECT TRY(-a * b)") == "SELECT try_multiply(-a, b)"
    assert rewrite("SELECT TRY(a + -b)") == "SELECT try_add(a, -b)"


def test_array_agg_multi_key_order_by():
    out = rewrite("SELECT array_agg(v ORDER BY k1, k2 DESC) FROM t")
    assert "array_sort" in out and "__o1" in out and "(__cl, __cr)" in out
    # explicit NULLS placement routes through the comparator too
    out = rewrite("SELECT array_agg(v ORDER BY k NULLS FIRST) FROM t")
    assert "(__cl, __cr)" in out


def test_kurtosis_small_group_null_guard():
    out = rewrite("SELECT kurtosis(x) FROM t")
    assert "WHEN CAST(count(" in out and "< 4 THEN CAST(NULL AS DOUBLE)" in out


def test_frame_strip_parenthesized_bound():
    # frame bounds containing parens (expression offsets) must still strip
    # from frame-ignoring functions (VERDICT r4 wrong #1)
    out = rewrite(
        "SELECT rank() OVER (ORDER BY x RANGE BETWEEN (1+1) PRECEDING "
        "AND CURRENT ROW) FROM t"
    )
    assert "RANGE" not in out.upper()
    assert "PRECEDING" not in out.upper()
    assert "OVER (ORDER BY x" in out


def test_frame_strip_spares_column_named_rows():
    # an ORDER BY on a column literally named "rows" is not a frame clause
    out = rewrite("SELECT lag(x) OVER (ORDER BY rows DESC) FROM t")
    assert "ORDER BY rows DESC" in out


def test_cast_to_json_lowering():
    # all-literal ROW folds to the canonical JSON text at rewrite time
    # (round 9); provably-scalar NON-literal args take the JVM concat form
    out = rewrite("SELECT CAST(ROW(1, 'a') AS JSON)")
    assert """'[1,"a"]'""" in out and "presto_json_canon" not in out
    out = rewrite(
        "SELECT CAST(ROW(a, 'x') AS JSON) FROM t",
        json_scalar_cols=frozenset({"a"}),
    )
    assert "concat_ws(','" in out and "presto_json_canon" not in out
    assert "map('ignoreNullFields', 'false')" in out
    # literal nested ROW folds too
    out = rewrite("SELECT CAST(ROW(1, ROW(2, 'b')) AS JSON)")
    assert """'[1,[2,"b"]]'""" in out
    # nested ROW with a column → the typeof-guided canonicalizer fallback
    out = rewrite("SELECT CAST(ROW(a, ROW(2, 'b')) AS JSON) FROM t")
    assert "presto_json_canon(to_json(struct(" in out
    assert "typeof(" in out
    # unknown identifier (possible struct column) → fallback too
    out = rewrite("SELECT CAST(ROW(a, b) AS JSON) FROM t")
    assert "presto_json_canon" in out
    # known-scalar columns take the fast path
    out = rewrite(
        "SELECT CAST(ROW(a, b) AS JSON) FROM t",
        json_scalar_cols=frozenset({"a", "b"}),
    )
    assert "presto_json_canon" not in out and "concat_ws(','" in out
    # 2-arg map() of quoted scalars is NOT the Presto array-pair form
    out = rewrite("SELECT map(ARRAY['k'], ARRAY[1])")
    assert "map_from_arrays" in out


def test_try_map_constructor_guard():
    # TRY over the 2-arg map constructor guards NULL keys and length
    # mismatch (MapConstructor.java raises; TRY yields NULL)
    out = rewrite("SELECT TRY(MAP(ARRAY[NULL], ARRAY[1]))")
    assert "IS NULL" in out and "THEN NULL" in out
    assert "map_from_arrays" in out


def test_empty_grouping_global_arms():
    # grouping sets containing () gain NOT-EXISTS-gated global arms so an
    # empty input still yields Presto's global-aggregation rows
    out = rewrite(
        "SELECT a, SUM(x) AS s FROM t WHERE x < 0 "
        "GROUP BY GROUPING SETS ((a), ())"
    )
    assert out.count("UNION ALL") == 1
    assert "WHERE 1 = 0" in out and "NOT EXISTS" in out
    # one arm per empty set
    out = rewrite("SELECT SUM(x) AS s FROM t GROUP BY GROUPING SETS ((), ())")
    assert out.count("UNION ALL") == 2
    # CUBE expansion includes the global set once
    out = rewrite("SELECT a, b, SUM(x) FROM t GROUP BY CUBE (a, b)")
    assert out.count("UNION ALL") == 1
    # aggregate-only HAVING rides the arm as a global-aggregate filter
    out = rewrite(
        "SELECT a, SUM(x) FROM t GROUP BY GROUPING SETS ((a), ()) HAVING SUM(x) > 0"
    )
    assert "NOT EXISTS" in out and "WHERE 1 = 0 HAVING SUM(x) > 0" in out
    # out-of-scope shapes pass through: HAVING touching a grouping
    # column, ORDER BY, grouping() nested inside a larger expression
    for q in (
        "SELECT a, SUM(x) FROM t GROUP BY GROUPING SETS ((a), ()) HAVING a IS NULL",
        "SELECT a, SUM(x) FROM t GROUP BY GROUPING SETS ((a), ()) ORDER BY a",
        "SELECT a, grouping(a) + 1, SUM(x) FROM t GROUP BY GROUPING SETS ((a), ())",
    ):
        assert "NOT EXISTS" not in rewrite(q)
    # no empty set → untouched
    assert "UNION ALL" not in rewrite(
        "SELECT a, SUM(x) FROM t GROUP BY GROUPING SETS ((a), (a, b))"
    )
    # whole grouping()/grouping_id() mask items fold to the all-ones
    # constant on the global arm (every column un-grouped there); a
    # parenthesized CASE select item matches its bare grouping entry
    out = rewrite(
        "SELECT a, b, grouping(a, b) AS gid, SUM(x) FROM t GROUP BY CUBE (a, b)"
    )
    assert "NOT EXISTS" in out and "NULL, NULL, 3, SUM(x)" in out
    out = rewrite(
        "SELECT (CASE WHEN a > 0 THEN 1 ELSE 0 END) AS k, COUNT(*) AS c "
        "FROM t GROUP BY ROLLUP ((CASE WHEN a > 0 THEN 1 ELSE 0 END))"
    )
    assert "NOT EXISTS" in out


def test_fromless_subquery_folds():
    # Presto's one-implicit-row FROM-less subqueries fold to closed forms
    assert rewrite("SELECT a FROM t ORDER BY EXISTS(SELECT 2)") == (
        "SELECT a FROM t ORDER BY true NULLS LAST"
    )
    assert "(2 * n.nationkey)" in rewrite(
        "SELECT nationkey FROM nation n ORDER BY (SELECT 2 * n.nationkey)"
    )
    out = rewrite("SELECT * FROM o ORDER BY (SELECT count(*) WHERE o.k = 0)")
    assert "CASE WHEN coalesce((o.k = 0), false) THEN 1 ELSE 0 END" in out
    out = rewrite("SELECT * FROM o ORDER BY EXISTS(SELECT 1 WHERE o.k = 0)")
    assert "coalesce((o.k = 0), false)" in out
    # scalar with WHERE and plain item → NULL-on-empty CASE
    out = rewrite("SELECT (SELECT a WHERE b > 0) FROM t")
    assert "THEN (a) END" in out
    # untouched: relation position, real subqueries, non-count aggregates
    assert rewrite("SELECT * FROM (SELECT 1) t") == "SELECT * FROM (SELECT 1) t"
    q = "SELECT * FROM o WHERE EXISTS (SELECT 1 FROM l WHERE l.k = o.k)"
    assert rewrite(q) == q
    assert "(SELECT max(a) WHERE b)" in rewrite("SELECT (SELECT max(a) WHERE b) FROM t")


def test_grouping_multi_lowers_to_bit_sum():
    # Spark's grouping_id demands its args match the grouping columns
    # exactly; Presto grouping(c1..cN) accepts any subset in any order,
    # so the lowering is the MSB-weighted sum of 1-arg grouping() bits
    out = rewrite("SELECT grouping(a, b, c) FROM t GROUP BY CUBE (a, b, c)")
    assert "grouping(a) * 4 + grouping(b) * 2 + grouping(c)" in out
    assert "AS BIGINT" in out and "grouping_id" not in out
    # 1-arg stays native
    assert "grouping(a)" in rewrite("SELECT grouping(a) FROM t GROUP BY CUBE (a)")


def test_plain_grouping_recurses_into_subqueries():
    # a plain-GROUP-BY subquery under a grouping-sets outer query folds
    # its own grouping() to 0 (testGroupingInSubqueries alternating
    # shapes); the outer grouping-sets scope is left for Spark
    q = (
        "SELECT k, grouping(k) FROM (SELECT k, grouping(k) AS g FROM t "
        "GROUP BY k) GROUP BY GROUPING SETS ((k), ())"
    )
    out = rewrite(q)
    inner = out.split("FROM (", 1)[1]
    assert "0 AS g" in inner
    assert "grouping(k)" in out.split("FROM (", 1)[0]


def test_grouping_order_hoist():
    # input-scope ORDER BY refs under grouping sets hoist into a hidden
    # projection; output-alias refs stay native (both engines resolve
    # those against the output scope)
    out = rewrite(
        "SELECT a AS foo FROM t GROUP BY GROUPING SETS ((a), (a, b)) "
        "HAVING b IS NOT NULL ORDER BY -a"
    )
    assert "* EXCEPT (__gob1)" in out and "-a AS __gob1" in out
    assert "HAVING b IS NOT NULL" in out.split("ORDER BY")[0]
    out = rewrite(
        "SELECT a, b AS t2, sum(c) AS s FROM t "
        "GROUP BY GROUPING SETS ((a), (b)) ORDER BY grouping(b) ASC"
    )
    assert "__gob1" in out and "grouping(b) AS __gob1" in out
    # alias-shadowing: -a where a IS an output alias — untouched
    out = rewrite(
        "SELECT -a AS a FROM t GROUP BY GROUPING SETS ((a), (a, b)) ORDER BY -a"
    )
    assert "__gob" not in out
    # plain GROUP BY (no grouping sets): untouched (Spark resolves
    # missing input refs natively there)
    out = rewrite("SELECT a AS foo FROM t GROUP BY a ORDER BY -a")
    assert "__gob" not in out


def test_plain_grouping_scope_aware():
    # a grouping-sets construct inside a SUBQUERY doesn't block folding
    # the OUTER query's grouping() under its plain GROUP BY
    q = (
        "SELECT k, grouping(k) FROM (SELECT k, sum(x) s FROM t "
        "GROUP BY GROUPING SETS ((k), ())) GROUP BY k"
    )
    out = rewrite(q)
    head = out.split("FROM", 1)[0]
    assert "grouping(" not in head and " 0" in head
    # outer query with its own grouping sets: untouched (Spark handles)
    q2 = "SELECT k, grouping(k) FROM t GROUP BY GROUPING SETS ((k), ())"
    assert "grouping" in rewrite(q2)


def test_group_by_distinct_dedups_grouping_sets():
    # duplicate sets inside GROUPING SETS collapse
    # (AbstractTestAggregations.java:1058)
    out = rewrite(
        "SELECT a, b, sum(x) FROM t GROUP BY DISTINCT "
        "GROUPING SETS ((), (a, b), (), (a, b))"
    )
    assert "DISTINCT" not in out
    assert "GROUP BY GROUPING SETS ((), (a, b))" in out


def test_group_by_distinct_composes_rollup_cube():
    # SQL-standard cross-product composition, deduped
    # (AbstractTestAggregations.java:1247)
    out = rewrite(
        "SELECT o, p, s, l, SUM(q) FROM t "
        "GROUP BY DISTINCT o, p, ROLLUP (s, l), CUBE (l)"
    )
    assert "GROUP BY GROUPING SETS ((o, p, s, l), (o, p, s), (o, p), (o, p, l))" in out


def test_group_by_distinct_leaves_plain_and_subquery():
    assert "GROUP BY a" in rewrite("SELECT a FROM t GROUP BY a")
    # ORDER BY tail preserved; repeated plain keys dedup
    out = rewrite("SELECT a FROM t GROUP BY DISTINCT a, a ORDER BY a")
    assert out.startswith("SELECT a FROM t GROUP BY GROUPING SETS ((a))")
    # the ORDER BY tail survives (and picks up the NULLS-default shim)
    assert "ORDER BY a" in out


def test_integral_agg_division():
    # Presto: count → bigint; sum/min/max preserve an integral argument —
    # dividing any of them by an int truncates (BigintOperators.java divide)
    from presto_ads_spark.rewrite import rewrite_integral_column_division as R

    ic = frozenset({"a", "b"})
    assert "(sum(a) DIV 2)" in R("SELECT sum(a)/2 FROM t", ic)
    assert "(count(*) DIV 2)" in R("SELECT count(*)/2 FROM t", frozenset())
    assert "(count(*) DIV b)" in R("SELECT count(*) / b FROM t", ic)
    assert "(min(a) DIV max(a))" in R("SELECT min(a)/max(a) FROM t", ic)
    assert "(sum(DISTINCT a) DIV 3)" in R("SELECT sum(DISTINCT a)/3 FROM t", ic)
    assert "(sum(a) DIV count(*))" in R("SELECT sum(a)/count(*) FROM t", ic)
    # non-integral stays real division
    assert "sum(x)/2" in R("SELECT sum(x)/2 FROM t", ic)
    assert "avg(a)/2" in R("SELECT avg(a)/2 FROM t", ic)
    assert "sum(a)/2.0" in R("SELECT sum(a)/2.0 FROM t", ic)
    # complex operands pass through (documented gap), literals untouched
    assert "(sum(a)+1)/2" in R("SELECT (sum(a)+1)/2 FROM t", ic)
    assert "'7/2'" in R("SELECT '7/2' AS s, sum(a)/2 FROM t", ic)
    # chained / same-precedence-adjacent division: rewriting one pair
    # would regroup Presto's left-associated parse (r6 ADVICE: the old
    # rightmost-survivor turned 'sum(a)/count(*)/3' into
    # 'sum(a) / (count(*) DIV 3)') — the whole chain bails
    assert "DIV" not in R("SELECT a/sum(b)/3 FROM t", ic)
    assert "DIV" not in R("SELECT sum(a)/count(*)/3 FROM t", ic)
    assert "DIV" not in R("SELECT 1.0 * sum(a) / 2 FROM t", ic)
    assert "DIV" not in R("SELECT sum(a)/2 * 3 FROM t", ic)


def test_group_by_in_subquery_hoist():
    # AbstractTestQueries.java testSemiJoinWithGroupBy: IN (SELECT …) as
    # a grouping key / in the select list of a grouped query hoists into
    # a derived-table projection and groups on the materialized column
    from presto_ads_spark.rewrite import _rewrite_group_by_in_subquery as G

    sub = "6 IN (SELECT orderkey FROM orders WHERE orderkey < 7)"
    out = G(f"SELECT linenumber, min(orderkey) FROM lineitem "
            f"GROUP BY linenumber, {sub}")
    assert "AS __ink0 FROM lineitem" in out
    assert "GROUP BY linenumber, __ink0" in out
    # select-list occurrence rides the same materialized column
    out = G(f"SELECT linenumber, min(orderkey), {sub} FROM lineitem "
            f"GROUP BY linenumber, {sub}")
    assert out.count("IN (SELECT") == 1  # one hoisted copy remains
    assert "min(orderkey), __ink0 " in out
    # select-only occurrence (literal probe) appends the constant key
    out = G(f"SELECT linenumber, {sub} FROM lineitem GROUP BY linenumber")
    assert "GROUP BY linenumber, __ink0" in out
    # HAVING with a DIFFERENT subquery stays native; tail keeps a space
    out = G(f"SELECT linenumber, min(orderkey) FROM lineitem GROUP BY "
            f"linenumber, {sub} HAVING 6 IN (SELECT orderkey FROM orders "
            f"WHERE orderkey > 3)")
    assert "__ink0 HAVING 6 IN" in out
    # bail-outs: grouping sets, DISTINCT head, set ops, no IN key
    for q in (
        f"SELECT a FROM t GROUP BY GROUPING SETS ((a), ({sub}))",
        f"SELECT DISTINCT a, {sub} FROM t GROUP BY a",
        f"SELECT a FROM t GROUP BY a, {sub} UNION SELECT b FROM u",
        "SELECT a FROM t GROUP BY a",
    ):
        assert G(q) == q


def test_char_cast_common_length_comparison():
    # Chars.java compareChars pads both sides to the common length;
    # adjacent cast-vs-cast comparisons pad to max(n, m), lone casts to
    # their own declared length
    from presto_ads_spark.rewrite import rewrite

    out = rewrite("SELECT CAST('a' AS CHAR(2)) = CAST('a' AS CHAR(5))")
    assert "rpad(CAST('a' AS STRING), 5, ' ') = " \
           "rpad(CAST('a' AS STRING), 5, ' ')" in out
    out = rewrite("SELECT CAST(x AS CHAR(7)) <> CAST(y AS CHAR(3)) FROM t")
    assert out.count(", 7, ' ')") == 2
    out = rewrite("SELECT CAST(x AS CHAR(4)) FROM t")
    assert "rpad(CAST(x AS STRING), 4, ' ')" in out


def test_char_alias_boundary_comparisons():
    # declared char(n) lengths survive ONE derived-table/CTE alias
    # level (r7 verdict missing #2): alias-vs-cast, cast-vs-alias, and
    # alias-vs-alias comparisons pad to the common length
    from presto_ads_spark.rewrite import rewrite

    out = rewrite(
        "SELECT c = CAST('a' AS CHAR(2)) FROM "
        "(SELECT CAST('a' AS CHAR(5)) AS c FROM t) q"
    )
    assert "c = rpad(CAST('a' AS STRING), 5, ' ')" in out
    out = rewrite(
        "SELECT CAST('a' AS CHAR(7)) <> q.c FROM "
        "(SELECT CAST('a' AS CHAR(5)) AS c FROM t) q"
    )
    assert "rpad(CAST('a' AS STRING), 7, ' ') <> rpad(q.c, 7, ' ')" in out
    out = rewrite(
        "WITH a AS (SELECT CAST(x AS CHAR(5)) AS c5 FROM t), "
        "b AS (SELECT CAST(y AS CHAR(2)) AS c2 FROM t) "
        "SELECT c5 = c2 FROM a, b"
    )
    assert "c5 = rpad(c2, 5, ' ')" in out
    # same declared length: already-consistent padded values, untouched
    out = rewrite(
        "WITH a AS (SELECT CAST(x AS CHAR(3)) AS p FROM t), "
        "b AS (SELECT CAST(y AS CHAR(3)) AS r FROM t) SELECT p = r FROM a, b"
    )
    assert "p = r" in out
    # non-char identifiers never rewritten
    assert rewrite("SELECT a = b FROM t") == "SELECT a = b FROM t"


def test_ipaddress_alias_boundary_casts():
    # ip-typed aliases keep their type across one subquery level:
    # CAST(alias AS VARCHAR) renders, AS VARBINARY unwraps, re-cast to
    # IPADDRESS is identity (not a string re-parse of binary)
    from presto_ads_spark.rewrite import rewrite

    out = rewrite(
        "SELECT CAST(c AS VARCHAR) FROM "
        "(SELECT CAST('1.2.3.4' AS IPADDRESS) AS c FROM t) q"
    )
    assert "presto_ip_format(c)" in out
    out = rewrite(
        "SELECT CAST(c AS VARBINARY) AS vb FROM "
        "(SELECT CAST(x AS IPADDRESS) AS c FROM t) q"
    )
    assert "SELECT c AS vb" in out
    out = rewrite(
        "SELECT CAST(c AS IPADDRESS) AS i FROM "
        "(SELECT IPADDRESS '::1' AS c FROM t) q"
    )
    assert "presto_ipaddress(c) AS i" in out
    assert "presto_ip_parse(c)" not in out


def test_order_by_subquery_hoist():
    from presto_ads_spark.rewrite import rewrite

    out = rewrite(
        "SELECT orderkey FROM orders o ORDER BY "
        "(SELECT avg(i.orderkey) FROM orders i WHERE o.orderkey < i.orderkey)"
        ", orderkey LIMIT 1"
    )
    assert "AS __ob1" in out and "__obh" in out
    assert out.strip().endswith("LIMIT 1")
    # plain ORDER BY untouched
    assert "__ob" not in rewrite("SELECT k FROM t ORDER BY k DESC LIMIT 2")


def test_join_on_subquery_to_cross_where():
    from presto_ads_spark.rewrite import rewrite

    out = rewrite(
        "SELECT count(*) FROM a JOIN b ON NOT EXISTS"
        "(SELECT 1 FROM c WHERE a.x < b.y)"
    )
    assert "CROSS JOIN" in out and "WHERE NOT EXISTS" in out
    # equi-joins untouched; outer joins untouched
    assert "CROSS" not in rewrite("SELECT * FROM a JOIN b ON a.x = b.x")
    out = rewrite(
        "SELECT * FROM a LEFT JOIN b ON EXISTS(SELECT 1 FROM c WHERE a.x=c.x)"
    )
    assert "LEFT JOIN" in out and "CROSS" not in out


def test_try_arith_case_and_predicates():
    # fuzz find (seed 777 #2556): ELSE -8 inside TRY was split as binary
    # subtraction; CASE/predicate keywords now refuse the arith lowering
    out = rewrite("SELECT TRY((3 + (CASE WHEN a > 0 THEN NULL ELSE -8 END))) FROM t")
    assert "try_add(3, (CASE WHEN a > 0 THEN NULL ELSE -8 END))" in out
    out = rewrite("SELECT TRY(x BETWEEN -1 AND 2) FROM t")
    assert "try_subtract" not in out and "BETWEEN -1 AND 2" in out
    # TRY over a whole-body CASE lowers each THEN/ELSE arm (an erroring
    # arith arm NULLs like Presto's TRY); the CASE structure is intact
    out = rewrite("SELECT TRY(CASE WHEN a THEN 1+2 ELSE 3 END) FROM t")
    assert "CASE WHEN a THEN try_add(1, 2) ELSE 3 END" in out
    # a nested-CASE arm stays verbatim (keyword refusal), siblings lower
    out = rewrite(
        "SELECT TRY(CASE WHEN a THEN CASE WHEN b THEN 1 ELSE 2 END"
        " ELSE 4-1 END) FROM t"
    )
    assert "CASE WHEN b THEN 1 ELSE 2 END" in out
    assert "try_subtract(4, 1)" in out
    # plain arithmetic still lowers
    assert "try_multiply" in rewrite("SELECT TRY(a * (b + c)) FROM t")


def test_setop_void_null_typing():
    # Spark 4.1 INTERSECT/EXCEPT (distinct) lose NULL rows on VOID-typed
    # columns (fuzz find, seed 101 #1767) — bare NULL select items in
    # set-op statements are typed to CAST(NULL AS STRING)
    out = rewrite("(SELECT NULL AS c0 FROM t) INTERSECT (SELECT NULL FROM u)")
    assert out.count("CAST(NULL AS STRING)") == 2
    out = rewrite("(SELECT NULL, a FROM t) EXCEPT (SELECT NULL, b FROM u)")
    assert out.count("CAST(NULL AS STRING)") == 2 and ", a" in out
    # NULL inside expressions / IN lists untouched; no set op → untouched
    out = rewrite("(SELECT coalesce(a, NULL) FROM t) INTERSECT (SELECT b FROM u)")
    assert "CAST(NULL AS STRING)" not in out
    assert rewrite("SELECT NULL AS c0 FROM t") == "SELECT NULL AS c0 FROM t"
    # ALL variants are not affected by the Spark bug → untouched
    out = rewrite("(SELECT NULL FROM t) INTERSECT ALL (SELECT NULL FROM u)")
    assert "CAST(NULL AS STRING)" not in out


def test_json_cast_angle_targets_never_loop():
    # CAST(x AS ARRAY<ARRAY<DOUBLE>>): a nested angle target previously
    # escaped the "already Spark syntax" skip, translated to itself, and
    # the in-place rescan span-looped forever (round-8 porter hang).
    # Angle-HEADED targets now skip; paren targets still translate.
    import signal

    from presto_ads_spark.rewrite import rewrite

    def bail(*a):  # pragma: no cover - only fires on regression
        raise TimeoutError("json-cast rewrite looped")

    old = signal.signal(signal.SIGALRM, bail)
    try:
        signal.alarm(10)
        out = rewrite(
            "SELECT CAST(ARRAY [ARRAY[1], ARRAY[2, 3]]"
            " AS ARRAY<ARRAY<DOUBLE>>) AS c0"
        )
        signal.alarm(0)
    finally:
        signal.signal(signal.SIGALRM, old)
    assert "AS ARRAY<ARRAY<DOUBLE>>" in out
    assert "array(array(1), array(2, 3))" in out
    # paren spelling still lowers
    out = rewrite("SELECT CAST('[1,2]' AS ARRAY(INTEGER))")
    assert "from_json('[1,2]', 'array<int>')" in out


def test_decimal_fold_respects_precedence():
    from presto_ads_spark.rewrite import _fold_decimal_literal_arith as f

    # a +/- pair followed by tighter-binding * never folds first
    out = f("SELECT DECIMAL '1' + DECIMAL '2' * DECIMAL '3'")
    assert "CAST('6' AS DECIMAL(1,0))" in out and "'3'" not in out.replace(
        "DECIMAL '3'", ""
    )
    assert "DECIMAL '1' +" in out
    # left-associativity: x - 1 - 2 is (x-1)-2, not x-(1-2)
    assert f("SELECT x - DECIMAL '1' - DECIMAL '2' FROM t") == (
        "SELECT x - DECIMAL '1' - DECIMAL '2' FROM t"
    )
    # (a/2)*3, not a/(2*3)
    assert f("SELECT a / DECIMAL '2' * DECIMAL '3' FROM t") == (
        "SELECT a / DECIMAL '2' * DECIMAL '3' FROM t"
    )
    # unary minus binds the left operand: -(1)+2, not -(1+2)
    assert f("SELECT -DECIMAL '1' + DECIMAL '2'") == (
        "SELECT -DECIMAL '1' + DECIMAL '2'"
    )
    # isolated pairs still fold; * folds even after +/-
    assert f("SELECT DECIMAL '1' + DECIMAL '2'") == (
        "SELECT CAST('3' AS DECIMAL(1,0))"
    )
    assert "CAST('6' AS DECIMAL(1,0))" in f(
        "SELECT x + DECIMAL '2' * DECIMAL '3' FROM t"
    )
    # division result scale is max(s1, s2), HALF_UP
    # (DecimalOperators.java:317) — not the dividend's scale
    assert f("SELECT DECIMAL '1' / DECIMAL '3.00'") == (
        "SELECT CAST('0.33' AS DECIMAL(2,2))"
    )
    assert f("SELECT DECIMAL '1.0' / DECIMAL '3'") == (
        "SELECT CAST('0.3' AS DECIMAL(1,1))"
    )


def test_width_bucket2_null_propagates():
    # NULL operand/bins: Presto returns NULL; the filter-count spelling
    # alone returns 0 (the lambda is NULL for every bin)
    out = rewrite("SELECT width_bucket(x, ARRAY[1, 5, 10]) FROM t")
    assert "CASE WHEN (x) IS NULL" in out and "size(filter(" in out


def test_nested_concat_chain_not_corrupted():
    """r12 fuzzer find: a parenthesized || chain nested inside another
    || chain made _rewrite_element_array_concat emit overlapping spans,
    duplicating the inner region into broken SQL. Nested chains must
    pass through untouched; flat literal chains still wrap."""
    q = "SELECT (('X y' || s) || NULL) FROM t"
    assert rewrite(q) == q
    q2 = "SELECT reverse((('X y' || s) || CAST(NULL AS VARCHAR))) FROM t"
    out = rewrite(q2)
    assert out.count("'X y'") == 1 and "s(" not in out
    # the wrap behavior itself is intact
    assert "array(1) || array(2)" in rewrite("SELECT 1 || ARRAY[2]")


def test_interval_chain_commute_keeps_signs():
    """r12 advisor find (rewrite.py _tstz_operators): the interval-first
    commute must move a mixed additive prefix as a UNIT so the
    subtracted interval keeps its sign — «i1 - i2 + t» → «t + i1 - i2»,
    never «i1 - <t> + i2». TIME '10:00 +01:00' (= 09:00 UTC, 32,400,000
    ms) + 5h - 3h must land on 11:00 UTC."""
    out = rewrite(
        "SELECT INTERVAL '5' HOUR - INTERVAL '3' HOUR"
        " + TIME '10:00 +01:00' AS x"
    )
    plus_5h = out.find("+ unix_millis(timestamp_millis(0) + INTERVAL '5' HOUR)")
    minus_3h = out.find("- unix_millis(timestamp_millis(0) + INTERVAL '3' HOUR)")
    assert plus_5h != -1 and minus_3h != -1, out
    # and no interval may have been stolen to the other side of the marker
    assert out.count("INTERVAL") == 2


def test_interval_pool_qualified_lookup_no_collision():
    """r12 advisor find (rewrite.py _provably_interval): a VALUES alias
    binding column «b» to an interval must not leak onto a qualified
    reference «r.b» of an UNRELATED source; only the binding alias's
    own qualified references (and bare names) resolve."""
    from presto_ads_spark.rewrite import (
        _interval_values_column_pools,
        _provably_interval,
    )

    sql = (
        "WITH t(b) AS (VALUES (INTERVAL '1' DAY)) "
        "SELECT CAST(r.b AS VARCHAR) FROM r"
    )
    pools = _interval_values_column_pools(sql)
    assert _provably_interval("r.b", pools) is None
    assert _provably_interval("t.b", pools) == "dts"
    assert _provably_interval("b", pools) == "dts"
    # end-to-end: the unrelated qualified cast stays a plain string cast
    out = rewrite(sql)
    assert "CAST(r.b AS STRING)" in out


def _array_in_sql(n: int) -> str:
    """``ARRAY[a, b, c] IN (<n arrays>)`` — the G4317 shape at size n."""
    body = ", ".join(f"ARRAY[{i}, {i + 1}, {i + 2}]" for i in range(n))
    return f"SELECT ARRAY[-1, 0, 1] IN ({body})"


def test_rewrite_time_is_linear_in_statement_size():
    """One lexer per pass and none per match: doubling the list about
    doubles rewrite() time (a per-match literal mask made it ~5x), and
    the number of lexers built does not grow with the list."""
    import time

    from presto_ads_spark.rewrite import _Lex

    def best_of_3(n: int) -> tuple[float, int]:
        sql, best, builds = _array_in_sql(n), float("inf"), set()
        for _ in range(3):
            before = _Lex.builds
            t0 = time.perf_counter()
            rewrite(sql)
            best = min(best, time.perf_counter() - t0)
            builds.add(_Lex.builds - before)
        assert len(builds) == 1, builds
        return best, builds.pop()

    t500, builds500 = best_of_3(500)
    t1000, builds1000 = best_of_3(1000)
    assert t1000 / t500 <= 3, (t500, t1000)
    assert builds1000 == builds500


def test_concurrent_rewrites_match_sequential():
    """Request threads rewrite concurrently: each keeps its own lexer, so
    interleaved rewrites give the sequential outputs."""
    import sys
    import threading

    sqls = [_array_in_sql(n) for n in (40, 41, 42, 43, 44, 45, 46, 47)]
    want = [rewrite(s) for s in sqls]
    got: dict[int, str] = {}

    def work(i: int) -> None:
        for _ in range(3):
            got[i] = rewrite(sqls[i])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert [got[i] for i in range(8)] == want


def test_lexer_literals_depth_and_matches():
    from presto_ads_spark.rewrite import _Lex, _split_literals

    sql = "f('a''(b', [x, (y)]), 'c"
    lx = _Lex(sql)
    # '' joins two literals into one run; an unclosed literal runs to
    # the end and its parens are data
    assert lx.literals == [(2, 9), (22, 24)]
    assert _split_literals(sql) == [
        ("f(", False), ("'a''(b'", True), (", [x, (y)]), ", False),
        ("'c", True),
    ]
    assert lx.match_paren(2) == 20 and lx.bclose[11] == 19
    assert lx.args(2, 19) == ["'a''(b'", "[x, (y)]"]
    assert lx.blank_nested() == "f" + " " * 19 + ",   "
    # a start that is not just past a structural '(' reads on as code:
    # there the quote after ``b`` opens a literal, so nothing closes
    assert lx.match_paren(7) == len(sql)


def test_relation_position_forward_pass():
    from presto_ads_spark.rewrite import _Lex

    def rel(sql: str) -> list[int]:
        return sorted(_Lex(sql).relation_parens())

    sql = "SELECT f(x) FROM a, (SELECT 1) t JOIN (b) ON (c) WHERE y IN (z)"
    assert rel(sql) == [sql.index("(SELECT"), sql.index("(b)")]
    # words read up to their last letter, and a stray ')' hides what
    # precedes it
    assert rel("SELECT * FROM2 (t)") == [15]
    assert rel("FROM a) (t)") == []
