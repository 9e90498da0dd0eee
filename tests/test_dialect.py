"""ClickHouse→Spark dialect translation: every supported combinator runs
through the real engine against testdata views and matches the hand-written
Spark SQL equivalent. String-level assertions pin the rewrites themselves
(nesting, literals, top-level comma splitting)."""

from __future__ import annotations

import pytest

from binance_etl_clickhouse_spark.dialect import translate_clickhouse_sql
from binance_etl_clickhouse_spark.engine import AnalyticsEngine
from binance_etl_clickhouse_spark.tables import register_views

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark):
    register_views(spark, SF)
    eng = AnalyticsEngine(spark, verbose=False)
    eng.register_clickhouse_compat()
    return eng


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("argMax(a, b)", "max_by(a, b)"),
        ("argMin(x, ts)", "min_by(x, ts)"),
        ("uniq(u)", "approx_count_distinct(u)"),
        ("uniqExact(u)", "count(DISTINCT u)"),
        ("uniqExact(a, b)", "count(DISTINCT a, b)"),
        ("countIf(x > 1)", "count_if(x > 1)"),
        ("countIf(v, t = 'x')", "count(CASE WHEN t = 'x' THEN v END)"),
        ("sumIf(v, t = 'a,b')", "sum(CASE WHEN t = 'a,b' THEN v END)"),
        ("avgIf(v, c)", "avg(CASE WHEN c THEN v END)"),
        ("quantile(0.9)(x)", "percentile_approx(x, 0.9)"),
        ("quantileExact(0.5)(x)", "percentile(x, 0.5)"),
        ("quantileExactWeighted(0.9)(x, w)", "percentile(x, 0.9, w)"),
        ("medianExactWeighted(x, w)", "percentile(x, 0.5, w)"),
        ("toFloat64(n)", "CAST(n AS DOUBLE)"),
        ("toString(n)", "CAST(n AS STRING)"),
        (
            "multiIf(a < 1, 'lo', a < 2, 'mid', 'hi')",
            "CASE WHEN a < 1 THEN 'lo' WHEN a < 2 THEN 'mid' ELSE 'hi' END",
        ),
        ("ifNull(a, 0)", "coalesce(a, 0)"),
        # nesting: combinators translate inside other calls' arguments
        (
            "round(sumIf(toFloat64(v), c), 2)",
            "round(sum(CASE WHEN c THEN CAST(v AS DOUBLE) END), 2)",
        ),
        # untouched: unknown functions, literals containing function-ish text
        ("lower(concat(a, 'argMax(x)'))", "lower(concat(a, 'argMax(x)'))"),
        ("count(*)", "count(*)"),
    ],
)
def test_rewrites(ch, expected):
    assert translate_clickhouse_sql(f"SELECT {ch} FROM t") == f"SELECT {expected} FROM t"


def _match(engine, ch_sql, spark_sql):
    got = engine.sql(ch_sql, dialect="clickhouse").toPandas()
    want = engine.sql(spark_sql).toPandas()
    got = got[sorted(got.columns)].sort_values(sorted(got.columns), ignore_index=True)
    want = want[sorted(want.columns)].sort_values(sorted(want.columns), ignore_index=True)
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_aggregate_combinators_end_to_end(engine):
    _match(
        engine,
        """
        SELECT user_id,
               argMax(event_type, ts)              AS last_type,
               uniqExact(event_type)               AS n_types,
               sumIf(value, event_type = 'purchase') AS purchase_value,
               countIf(event_type = 'click')       AS clicks
        FROM events GROUP BY user_id
        """,
        """
        SELECT user_id,
               max_by(event_type, ts)                          AS last_type,
               count(DISTINCT event_type)                      AS n_types,
               sum(CASE WHEN event_type = 'purchase' THEN value END) AS purchase_value,
               count_if(event_type = 'click')                  AS clicks
        FROM events GROUP BY user_id
        """,
    )


def test_quantile_and_multiif_end_to_end(engine):
    _match(
        engine,
        """
        SELECT multiIf(l_quantity < 10, 'lo', l_quantity < 30, 'mid', 'hi') AS band,
               quantileExact(0.5)(l_extendedprice) AS p50,
               toFloat64(count(*))                 AS n
        FROM lineitem GROUP BY band
        """,
        """
        SELECT CASE WHEN l_quantity < 10 THEN 'lo'
                    WHEN l_quantity < 30 THEN 'mid' ELSE 'hi' END AS band,
               percentile(l_extendedprice, 0.5) AS p50,
               CAST(count(*) AS DOUBLE)         AS n
        FROM lineitem GROUP BY band
        """,
    )


def test_dialect_composes_with_scalar_compat(engine):
    # toYYYYMM comes from the SQL-UDF shim; argMax from the dialect rewrite
    _match(
        engine,
        "SELECT toYYYYMM(ts) AS ym, argMax(event_type, ts) AS last_type "
        "FROM events GROUP BY ym",
        "SELECT CAST(date_format(ts, 'yyyyMM') AS INT) AS ym, "
        "max_by(event_type, ts) AS last_type FROM events GROUP BY ym",
    )


def test_unknown_dialect_rejected(engine):
    with pytest.raises(ValueError, match="unknown dialect"):
        engine.sql("SELECT 1", dialect="postgres")


# ---------------------------------------------------------------------------
# Property: randomly composed ClickHouse expressions translate to the
# compositionally-expected Spark SQL, and the translator is idempotent on
# its own output (pure-Python target — cheap to shrink).
# ---------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _ch_and_spark(draw, depth=0):
    leaves = [
        ("x", "x"),
        ("t.value", "t.value"),
        ("1.5", "1.5"),
        ("'a,b(c'", "'a,b(c'"),  # literal with comma and paren inside
    ]
    if depth >= 3 or draw(st.booleans()) and depth > 0:
        return draw(st.sampled_from(leaves))
    a_ch, a_sp = draw(_ch_and_spark(depth=depth + 1))
    b_ch, b_sp = draw(_ch_and_spark(depth=depth + 1))
    forms = [
        (f"argMax({a_ch}, {b_ch})", f"max_by({a_sp}, {b_sp})"),
        (f"argMin({a_ch}, {b_ch})", f"min_by({a_sp}, {b_sp})"),
        (f"sumIf({a_ch}, {b_ch})", f"sum(CASE WHEN {b_sp} THEN {a_sp} END)"),
        (f"countIf({a_ch})", f"count_if({a_sp})"),
        (f"uniqExact({a_ch})", f"count(DISTINCT {a_sp})"),
        (f"toFloat64({a_ch})", f"CAST({a_sp} AS DOUBLE)"),
        (f"quantile(0.9)({a_ch})", f"percentile_approx({a_sp}, 0.9)"),
        (
            f"multiIf({a_ch}, {b_ch}, 0)",
            f"CASE WHEN {a_sp} THEN {b_sp} ELSE 0 END",
        ),
        (f"ifNull({a_ch}, {b_ch})", f"coalesce({a_sp}, {b_sp})"),
        (f"some_udf({a_ch}, {b_ch})", f"some_udf({a_sp}, {b_sp})"),
        # r9 widening: each output must itself be a translation fixpoint
        (f"toInt64OrNull({a_ch})", f"try_cast({a_sp} AS BIGINT)"),
        (
            f"toInt32OrZero({a_ch})",
            f"coalesce(try_cast({a_sp} AS INT), CAST(0 AS INT))",
        ),
        (f"bitCount({a_ch})", f"bit_count({a_sp})"),
        (f"mapKeys({a_ch})", f"map_keys({a_sp})"),
        (
            f"toIntervalDay({a_ch})",
            f"make_interval(0, 0, 0, ({a_sp}), 0, 0, 0)",
        ),
        (
            f"toMonday({a_ch})",
            f"CAST(date_trunc('week', {a_sp}) AS DATE)",
        ),
        (f"base64Encode({a_ch})", f"base64(CAST({a_sp} AS BINARY))"),
        (
            f"isFinite({a_ch})",
            f"(abs({a_sp}) < CAST('Infinity' AS DOUBLE))",
        ),
    ]
    return draw(st.sampled_from(forms))


@given(_ch_and_spark())
@settings(max_examples=200, deadline=None)
def test_translation_is_compositional_and_idempotent(pair):
    ch, spark_sql = pair
    q = f"SELECT {ch} FROM t"
    want = f"SELECT {spark_sql} FROM t"
    got = translate_clickhouse_sql(q)
    assert got == want
    # already-Spark SQL passes through unchanged
    assert translate_clickhouse_sql(got) == got


def test_final_prewhere_arrayjoin_rewrites():
    t = translate_clickhouse_sql
    assert (
        t("SELECT symbol FROM bn_klines FINAL WHERE volume > 0")
        == "SELECT symbol FROM bn_klines WHERE volume > 0"
    )
    # alias before FINAL, and FINAL at end of statement
    assert t("SELECT k.symbol FROM bn_klines k FINAL") == "SELECT k.symbol FROM bn_klines k"
    assert t("SELECT 1 FROM t PREWHERE x > 0") == "SELECT 1 FROM t WHERE x > 0"
    assert t("SELECT arrayJoin(xs) FROM t") == "SELECT explode(xs) FROM t"
    # a column actually NAMED final (not in FROM position) is untouched
    assert t("SELECT final FROM t") == "SELECT final FROM t"
    # "FROM x FINAL" inside a string literal is text, not the keyword
    lit = "SELECT * FROM t WHERE note = 'read FROM x FINAL please'"
    assert t(lit) == lit
    # idempotent
    q = t("SELECT arrayJoin(xs) AS x FROM bn_klines FINAL PREWHERE y = 1")
    assert t(q) == q


def test_final_runs_against_engine_views(spark):
    """FROM <view> FINAL runs verbatim: the registered views ARE the deduped
    snapshot, so FINAL is a no-op keyword strip."""
    from binance_etl_clickhouse_spark.engine import AnalyticsEngine

    eng = AnalyticsEngine(spark, verbose=False)
    eng.register_testdata("/root/testdata/sf0.001")
    got = eng.sql(
        "SELECT count(*) AS n FROM orders FINAL PREWHERE o_totalprice > 0",
        dialect="clickhouse",
    ).first()
    want = spark.sql("SELECT count(*) AS n FROM orders WHERE o_totalprice > 0").first()
    assert got.n == want.n


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("groupArray(x)", "collect_list(x)"),
        ("groupUniqArray(x)", "collect_set(x)"),
        ("groupArray(3)(x)", "slice(collect_list(x), 1, 3)"),
        ("groupUniqArray(2)(x)", "slice(collect_set(x), 1, 2)"),
        ("median(x)", "percentile_approx(x, 0.5)"),
        ("medianExact(x)", "percentile(x, 0.5)"),
        ("quantiles(0.5, 0.9)(x)", "percentile_approx(x, array(0.5, 0.9))"),
        ("quantilesExact(0.25, 0.75)(x)", "percentile(x, array(0.25, 0.75))"),
        ("has(arr, 'v')", "array_contains(arr, 'v')"),
        ("indexOf(arr, 'v')", "array_position(arr, 'v')"),
        ("arrayStringConcat(arr, ',')", "array_join(arr, ',')"),
        ("arrayMap(x -> x + 1, arr)", "transform(arr, x -> x + 1)"),
        ("arrayFilter(x -> x > 0, arr)", "filter(arr, x -> x > 0)"),
        ("arrayExists(x -> x = 1, arr)", "exists(arr, x -> x = 1)"),
        ("arrayAll(x -> x >= 0, arr)", "forall(arr, x -> x >= 0)"),
        # nesting inside HOF swap: the lambda body itself translates
        (
            "arrayMap(x -> toFloat64(x), arr)",
            "transform(arr, x -> CAST(x AS DOUBLE))",
        ),
    ],
)
def test_round2_rewrites(ch, expected):
    assert translate_clickhouse_sql(f"SELECT {ch} FROM t") == f"SELECT {expected} FROM t"


def test_group_array_and_quantiles_end_to_end(engine):
    # set order is execution-dependent, so sort before concat; the
    # multi-quantile array is stringified to stay pandas-sortable in _match
    _match(
        engine,
        """
        SELECT user_id,
               arrayStringConcat(arraySort(groupUniqArray(event_type)), '|') AS types,
               medianExact(value)            AS med,
               toString(quantilesExact(0.25, 0.75)(value)) AS iqr
        FROM events GROUP BY user_id
        """,
        """
        SELECT user_id,
               array_join(array_sort(collect_set(event_type)), '|') AS types,
               percentile(value, 0.5)                   AS med,
               CAST(percentile(value, array(0.25, 0.75)) AS STRING) AS iqr
        FROM events GROUP BY user_id
        """,
    )


def test_hof_and_range_end_to_end(engine):
    # range() must be empty (not descending) when the end is <= start
    got = engine.sql(
        "SELECT range(3) AS r3, range(0) AS r0, range(2, 5) AS r25, range(5, 5) AS r55, "
        "arrayFilter(x -> x % 2 = 0, range(6)) AS evens",
        dialect="clickhouse",
    ).first()
    assert list(got["r3"]) == [0, 1, 2]
    assert list(got["r0"]) == []
    assert list(got["r25"]) == [2, 3, 4]
    assert list(got["r55"]) == []
    assert list(got["evens"]) == [0, 2, 4]


def test_retention_rewrite_string():
    got = translate_clickhouse_sql("SELECT retention(a = 1, b = 2) FROM t")
    assert got == (
        "SELECT array(max(CASE WHEN a = 1 THEN 1 ELSE 0 END), "
        "least(max(CASE WHEN a = 1 THEN 1 ELSE 0 END), "
        "max(CASE WHEN b = 2 THEN 1 ELSE 0 END))) FROM t"
    )


def test_retention_end_to_end(engine):
    # per-user signup -> click -> purchase retention flags; array output is
    # deterministic (no set ordering), compare against hand-written Spark SQL
    got = engine.sql(
        """
        SELECT user_id,
               toString(retention(event_type = 'signup',
                                  event_type = 'click',
                                  event_type = 'purchase' AND value > 250)) AS r
        FROM events GROUP BY user_id
        """,
        dialect="clickhouse",
    ).toPandas()
    want = engine.sql(
        """
        SELECT user_id,
               CAST(array(
                 max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END),
                 least(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END),
                       max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)),
                 least(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END),
                       max(CASE WHEN event_type = 'purchase' AND value > 250
                           THEN 1 ELSE 0 END))
               ) AS STRING) AS r
        FROM events GROUP BY user_id
        """
    ).toPandas()
    import pandas as pd

    got = got.sort_values(["user_id"], ignore_index=True)
    want = want.sort_values(["user_id"], ignore_index=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # sanity: flags are monotone non-increasing and not all identical
    vals = set(got["r"])
    assert len(vals) > 1


def test_sample_clause_rewrites(spark):
    t = translate_clickhouse_sql
    assert (
        t("SELECT x FROM t SAMPLE 0.1 WHERE y > 0")
        == "SELECT x FROM t TABLESAMPLE(10 PERCENT) WHERE y > 0"
    )
    assert t("SELECT x FROM t SAMPLE 100") == "SELECT x FROM t TABLESAMPLE(100 ROWS)"
    # ClickHouse SAMPLE 1 is a FRACTION (= all data), never "1 row"
    assert t("SELECT x FROM t SAMPLE 1") == "SELECT x FROM t TABLESAMPLE(100 PERCENT)"
    assert t("SELECT x FROM t SAMPLE 1.0") == "SELECT x FROM t TABLESAMPLE(100 PERCENT)"
    # composes with FINAL; alias preserved; idempotent
    q = t("SELECT k.x FROM tbl k FINAL SAMPLE 0.25")
    assert q == "SELECT k.x FROM tbl k TABLESAMPLE(25 PERCENT)"
    assert t(q) == q
    # a column named sample is untouched (pattern anchors on FROM)
    assert t("SELECT sample FROM t") == "SELECT sample FROM t"
    # ... and so is a SAMPLE clause spelled inside a string literal
    lit = "SELECT * FROM t WHERE note = 'FROM x SAMPLE 0.5'"
    assert t(lit) == lit
    # executes: sampled row count is bounded by the source
    from binance_etl_clickhouse_spark.tables import register_views

    register_views(spark, SF)
    n_all = spark.sql("SELECT count(*) c FROM events").first()["c"]
    n_s = spark.sql(t("SELECT count(*) c FROM events SAMPLE 0.5")).first()["c"]
    assert 0 < n_s < n_all


def test_limit_by_rewrite_string():
    t = translate_clickhouse_sql
    got = t("SELECT user_id, event_type, value FROM events ORDER BY value DESC LIMIT 2 BY user_id")
    assert "PARTITION BY user_id" in got
    assert "ORDER BY value DESC" in got
    assert "__lb_rn <= 2" in got
    # idempotent
    assert t(got) == got
    # no LIMIT BY -> untouched
    assert t("SELECT x FROM t LIMIT 5") == "SELECT x FROM t LIMIT 5"
    # plain LIMIT n BY with trailing LIMIT m keeps the outer limit
    got2 = t("SELECT a, b FROM t LIMIT 1 BY a LIMIT 10")
    assert got2.endswith("LIMIT 10") and "__lb_rn <= 1" in got2


def test_limit_by_end_to_end(engine):
    # top-2 purchases by value per user — LIMIT BY vs hand-written window
    got = engine.sql(
        """
        SELECT user_id, value FROM events
        WHERE event_type = 'purchase'
        ORDER BY value DESC LIMIT 2 BY user_id
        """,
        dialect="clickhouse",
    ).toPandas()
    want = engine.sql(
        """
        SELECT user_id, value FROM (
          SELECT user_id, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY value DESC) rn
          FROM events WHERE event_type = 'purchase'
        ) WHERE rn <= 2
        """
    ).toPandas()
    import pandas as pd

    got = got.sort_values(["user_id", "value"], ignore_index=True)
    want = want.sort_values(["user_id", "value"], ignore_index=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_limit_by_plans_window_group_limit(engine):
    df = engine.sql(
        "SELECT user_id, value FROM events ORDER BY value DESC LIMIT 2 BY user_id",
        dialect="clickhouse",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_limit_by_ignores_parenthesized_and_quoted_forms():
    t = translate_clickhouse_sql
    # a window's OVER (ORDER BY ...) is depth>0 — must not be taken as the
    # query's ORDER BY; fallback window order is the group cols
    q = t("SELECT g, sum(v) OVER (ORDER BY ts) AS rs FROM t LIMIT 3 BY g")
    assert "PARTITION BY g ORDER BY g" in q and "__lb_rn <= 3" in q
    # LIMIT BY inside a string literal is data, not syntax
    assert t("SELECT x FROM t WHERE s = 'LIMIT 2 BY y'") == (
        "SELECT x FROM t WHERE s = 'LIMIT 2 BY y'"
    )


def test_escaped_quotes_and_comments_survive_the_scanner():
    t = translate_clickhouse_sql
    # backslash-escaped quote must not flip string parity
    assert (
        t(r"SELECT countIf(name = 'O\'Brien') FROM t")
        == r"SELECT count_if(name = 'O\'Brien') FROM t"
    )
    # doubled-quote escape, same guarantee
    assert (
        t("SELECT countIf(name = 'O''Brien') FROM t")
        == "SELECT count_if(name = 'O''Brien') FROM t"
    )
    # a quote inside a -- comment must not garble later rewrites
    out = t("SELECT uniq(x) FROM t -- don't touch\n WHERE y = 1")
    assert "approx_count_distinct(x)" in out and "WHERE y = 1" in out
    out2 = t("SELECT uniq(x) /* don't */ FROM t")
    assert out2.startswith("SELECT approx_count_distinct(x)")


def test_final_strip_never_eats_a_column_named_final():
    t = translate_clickhouse_sql
    assert t("SELECT * FROM t WHERE final = 1") == "SELECT * FROM t WHERE final = 1"
    # the FROM-position keyword still strips, with and without alias
    assert t("SELECT * FROM t FINAL WHERE x = 1") == "SELECT * FROM t WHERE x = 1"
    assert t("SELECT a.x FROM t a FINAL") == "SELECT a.x FROM t a"


def test_limit_by_rewrite_only_applies_to_whole_queries():
    t = translate_clickhouse_sql
    # r9: a parenthesized SELECT descends as ONE unit (no comma-split), so
    # LIMIT BY now rewrites inside multi-column subqueries too — previously
    # the fragmented pieces passed through and failed in the analyzer
    q = "SELECT * FROM (SELECT sym, price FROM t ORDER BY ts DESC LIMIT 1 BY sym)"
    assert "__lb_rn" in t(q) and "LIMIT 1 BY sym" not in t(q)
    # single-fragment subquery unchanged
    q2 = "SELECT * FROM (SELECT sym FROM t LIMIT 1 BY sym)"
    assert "__lb_rn" in t(q2)
    # a NON-query fragment containing LIMIT ... BY text still passes
    # through (the guard that kept tails of select lists from being
    # wrapped in a subselect)
    frag = "price FROM t ORDER BY ts DESC LIMIT 1 BY sym"
    assert "__lb_rn" not in t(frag)


def test_comment_is_a_token_separator_and_as_alias_survives():
    t = translate_clickhouse_sql
    # block comment between table and clause must not glue tokens
    assert t("SELECT x FROM t/* hint */WHERE y = 1").split() == [
        "SELECT", "x", "FROM", "t", "WHERE", "y", "=", "1",
    ]
    # an alias literally named final (with AS) is not the FINAL keyword
    assert t("SELECT * FROM t AS final WHERE x = 1") == (
        "SELECT * FROM t AS final WHERE x = 1"
    )
    assert t("SELECT * FROM t AS f FINAL") == "SELECT * FROM t AS f"
    assert "TABLESAMPLE" not in t("SELECT * FROM t AS sample WHERE x = 1")


def test_weighted_quantile_end_to_end(engine):
    """quantileExactWeighted(p)(x, w): weight by an integral frequency
    column — each row counts w times, exactly Spark's 3-arg percentile."""
    _match(
        engine,
        """
        SELECT l_returnflag,
               quantileExactWeighted(0.5)(l_extendedprice, l_linenumber) AS wp50,
               medianExactWeighted(l_extendedprice, l_linenumber)        AS wmed
        FROM lineitem GROUP BY l_returnflag
        """,
        """
        SELECT l_returnflag,
               percentile(l_extendedprice, 0.5, l_linenumber) AS wp50,
               percentile(l_extendedprice, 0.5, l_linenumber) AS wmed
        FROM lineitem GROUP BY l_returnflag
        """,
    )


# ---------------------------------------------------------------------------
# Round-7 widening: migration-frequency scalars (time buckets, date parts,
# dateDiff boundary semantics, ms-epoch converters, JSON extraction) and
# the array/string renames + argument swaps.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "ch,expected",
    [
        ("arrayMin(a)", "array_min(a)"),
        ("arrayMax(a)", "array_max(a)"),
        ("arrayDistinct(a)", "array_distinct(a)"),
        ("arrayReverse(a)", "reverse(a)"),
        ("arrayConcat(a, b)", "concat(a, b)"),
        ("arraySlice(a, 2, 3)", "slice(a, 2, 3)"),
        # ClickHouse's 2-arg open-ended slice maps to an explicit length
        ("arraySlice(a, 2)", "slice(a, 2, size(a))"),
        ("arrayFlatten(a)", "flatten(a)"),
        # startsWith/endsWith pass through UNCHANGED — Spark resolves
        # function names case-insensitively, so no rewrite is needed
        ("startsWith(s, 'ab')", "startsWith(s, 'ab')"),
        ("endsWith(s, 'yz')", "endsWith(s, 'yz')"),
        # r8: 2-arg position is BYTE-offset exact (ClickHouse's contract)
        (
            "position(s, 'x')",
            "if(locate('x', s) = 0, 0, "
            "octet_length(substr(s, 1, locate('x', s) - 1)) + 1)",
        ),
        # 3-arg keeps character semantics (CH's byte start_pos has no
        # Spark builtin twin) — documented divergence
        ("position(s, 'x', 3)", "locate('x', s, 3)"),
        ("positionUTF8(s, 'x')", "locate('x', s)"),
        ("positionUTF8(s, 'x', 3)", "locate('x', s, 3)"),
        ("positionCaseInsensitive(s, 'X')", "locate(lower('X'), lower(s))"),
        (
            "positionCaseInsensitiveUTF8(s, 'X')",
            "locate(lower('X'), lower(s))",
        ),
        # r8: type-adaptive zero — integer arrays sum exactly in
        # DECIMAL(38,0), decimals in DECIMAL(38,s), floats in DOUBLE;
        # r9: NULL elements filtered before the fold (CH skips them)
        (
            "arraySum(a)",
            "aggregate(filter(a, __ne -> __ne IS NOT NULL), "
            "coalesce((try_element_at(a, 1) - "
            "try_element_at(a, 1)) * cast(1 as decimal(38, 0)), 0), "
            "(acc, x) -> acc + x)",
        ),
        ("leftPad(s, 5, '0')", "lpad(s, 5, '0')"),
        ("trimBoth(s)", "trim(s)"),
        ("toUInt32(n)", "CAST(n AS BIGINT)"),
        ("toInt8(n)", "CAST(n AS TINYINT)"),
        ("assumeNotNull(x)", "x"),
        ("toNullable(sumIf(v, c))", "sum(CASE WHEN c THEN v END)"),
        # nesting still composes through the new rewrites
        (
            "arraySum(arrayDistinct(a))",
            "aggregate(filter(array_distinct(a), __ne -> __ne IS NOT NULL), "
            "coalesce((try_element_at(array_distinct(a), 1) - "
            "try_element_at(array_distinct(a), 1)) "
            "* cast(1 as decimal(38, 0)), 0), (acc, x) -> acc + x)",
        ),
    ],
)
def test_round7_rewrites(ch, expected):
    assert translate_clickhouse_sql(f"SELECT {ch} FROM t") == f"SELECT {expected} FROM t"


def test_position_and_arraysum_fidelity_end_to_end(engine):
    """r8 fidelity (r7 verdict item 5): 2-arg position returns BYTE
    offsets on multibyte strings (ClickHouse: position('Hello, world!',
    '!') = 13; on UTF-8, bytes != chars), and arraySum keeps integer
    exactness through the full int64 range (ClickHouse Int64 parity —
    the old DOUBLE accumulator rounded past 2^53)."""
    big = 2**53 + 1  # not representable as a DOUBLE
    row = engine.sql(
        f"""
        SELECT position('héllo wörld', 'wörld') AS byte_pos,
               positionUTF8('héllo wörld', 'wörld') AS char_pos,
               position('héllo', 'zz') AS absent,
               position('', 'x') AS empty_h,
               arraySum(array(toInt64({big}), toInt64(1))) AS big_sum,
               arraySum(array(1.5, 2.25)) AS dec_sum,
               arraySum(array(toFloat64(1.5), toFloat64(2.25))) AS float_sum,
               arraySum(arraySlice(array(1), 2)) AS empty_sum
        """,
        dialect="clickhouse",
    ).first()
    # 'héllo ' = 7 bytes (é is 2) -> 'wörld' starts at byte 8, char 7
    assert row.byte_pos == 8
    assert row.char_pos == 7
    assert row.absent == 0 and row.empty_h == 0
    assert int(row.big_sum) == big + 1  # exact; DOUBLE would give 2^53 + 2
    from decimal import Decimal

    assert row.big_sum == Decimal(big + 1)  # DECIMAL(38,0) accumulator
    assert row.dec_sum == Decimal("3.75")  # decimal literals stay exact
    assert row.float_sum == 3.75 and isinstance(row.float_sum, float)
    assert int(row.empty_sum) == 0


def test_round7_scalars_end_to_end(engine):
    row = engine.sql(
        """
        SELECT toStartOfFiveMinutes(fromUnixTimestamp64Milli(1700000000000)) AS b5,
               toStartOfWeek(fromUnixTimestamp64Milli(1700000000000)) AS wk,
               toDayOfWeek(fromUnixTimestamp64Milli(1700000000000)) AS dow,
               toHour(fromUnixTimestamp64Milli(1700000000000)) AS h,
               toQuarter(fromUnixTimestamp64Milli(1700000000000)) AS q,
               toUnixTimestamp64Milli(fromUnixTimestamp64Milli(1700000000000)) AS ms,
               addDays(fromUnixTimestamp64Milli(1700000000000), 3) AS plus3,
               subtractHours(fromUnixTimestamp64Milli(1700000000000), 2) AS minus2h,
               JSONExtractString('{"a": "x", "n": 7}', 'a') AS js,
               JSONExtractInt('{"a": "x", "n": 7}', 'n') AS jn,
               JSONHas('{"a": "x"}', 'missing') AS jh
        """
    ).first()
    # 1700000000000 ms = 2023-11-14 22:13:20 UTC (a Tuesday)
    assert str(row.b5) == "2023-11-14 22:10:00"
    assert str(row.wk) == "2023-11-12"  # Sunday anchor (ClickHouse mode 0)
    assert row.dow == 2  # ClickHouse: Monday=1, so Tuesday=2
    assert row.h == 22 and row.q == 4
    assert row.ms == 1700000000000
    assert str(row.plus3) == "2023-11-17 22:13:20"
    assert str(row.minus2h) == "2023-11-14 20:13:20"
    assert row.js == "x" and row.jn == 7 and row.jh is False


def test_json_shims_match_clickhouse_edge_semantics(engine):
    """ClickHouse's JSONExtract* never throw and default to ''/0/0.0;
    JSONHas is about key EXISTENCE (a key holding JSON null exists).
    try_cast keeps ANSI mode from aborting on non-conforming values."""
    row = engine.sql(
        """
        SELECT JSONExtractInt('{"n": 7.5}', 'n') AS truncated,
               JSONExtractInt('{}', 'n') AS missing_int,
               JSONExtractInt('{"n": "abc"}', 'n') AS bad_int,
               JSONExtractFloat('{}', 'x') AS missing_float,
               JSONExtractString('{}', 's') AS missing_str,
               JSONHas('{"a": null}', 'a') AS has_null_key,
               JSONHas('{"a": 1}', 'b') AS has_absent,
               JSONHas('not json', 'a') AS has_invalid
        """
    ).first()
    assert row.truncated == 7
    assert row.missing_int == 0 and row.bad_int == 0
    assert row.missing_float == 0.0 and row.missing_str == ""
    assert row.has_null_key is True
    assert row.has_absent is False and row.has_invalid is False
    row2 = engine.sql(
        """
        SELECT JSONExtractBool('{"f": true}', 'f') AS b,
               JSONExtractBool('{"f": "x"}', 'f') AS bad_b,
               visitParamExtractString('{"a": "y"}', 'a') AS vp
        """
    ).first()
    assert row2.b is True and row2.bad_b is False and row2.vp == "y"


def test_json_extract_int_exact_past_2_53(engine):
    """r8 (ADVICE): int64 values above 2^53 — large Binance trade/order
    ids live there — must extract EXACTLY; the old DOUBLE-first path
    silently rounded them. Fractional values still truncate through the
    DOUBLE fallback exactly as ClickHouse does."""
    big = 2**53 + 1
    row = engine.sql(
        f"""
        SELECT JSONExtractInt('{{"id": {big}}}', 'id') AS big_id,
               JSONExtractInt('{{"id": -{big}}}', 'id') AS neg_id,
               JSONExtractInt('{{"n": 7.5}}', 'n') AS frac
        """
    ).first()
    assert row.big_id == big  # DOUBLE would give 2^53
    assert row.neg_id == -big
    assert row.frac == 7


def test_json_shims_documented_type_leniency(engine):
    """r8 (ADVICE): get_json_object sees only the scalar's TEXT, so the
    shims coerce where type-strict ClickHouse returns the default. This
    test PINS the documented divergence — if a future engine change makes
    these type-strict, update the module docs alongside."""
    row = engine.sql(
        """
        SELECT JSONExtractString('{"a": 123}', 'a') AS num_as_str,
               JSONExtractInt('{"n": "7"}', 'n') AS str_as_int,
               JSONExtractBool('{"f": 1}', 'f') AS int_as_bool
        """
    ).first()
    # ClickHouse would return '', 0, false respectively
    assert row.num_as_str == "123"
    assert row.str_as_int == 7
    assert row.int_as_bool is True


def test_startswith_passthrough_runs(engine):
    # no rewrite needed: case-insensitive builtin resolution
    row = engine.sql(
        "SELECT startsWith('abc', 'ab') AS a, endsWith('abc', 'bc') AS b",
        dialect="clickhouse",
    ).first()
    assert row.a is True and row.b is True


def test_quoted_identifier_commas_survive_the_scanner():
    """Commas inside double-quoted or backquoted tokens must not split
    call arguments (the rejoin would silently mutate the token)."""
    t = translate_clickhouse_sql
    assert (
        t('SELECT position(s, "a,b") FROM t')
        == 'SELECT if(locate("a,b", s) = 0, 0, '
        'octet_length(substr(s, 1, locate("a,b", s) - 1)) + 1) FROM t'
    )
    assert (
        t("SELECT arrayConcat(a, `x,y`) FROM t")
        == "SELECT concat(a, `x,y`) FROM t"
    )
    # doubled-quote escape inside a quoted identifier keeps parity
    assert (
        t('SELECT argMax(a, "we""ird,name") FROM t')
        == 'SELECT max_by(a, "we""ird,name") FROM t'
    )


def test_datediff_counts_crossed_boundaries(engine):
    """ClickHouse dateDiff counts crossed unit BOUNDARIES, not elapsed
    duration: two minutes straddling midnight differ by one 'day'.
    (Dialect rewrite, not a UDF shim — the name collides with Spark's
    builtin 2-arg datediff, which cannot be replaced.)"""
    row = engine.sql(
        """
        SELECT dateDiff('day',    TIMESTAMP'2024-01-31 23:59:00', TIMESTAMP'2024-02-01 00:01:00') AS d,
               dateDiff('month',  TIMESTAMP'2024-01-31 23:59:00', TIMESTAMP'2024-02-01 00:01:00') AS m,
               dateDiff('minute', TIMESTAMP'2024-01-31 23:59:00', TIMESTAMP'2024-02-01 00:01:00') AS mi,
               dateDiff('hour',   TIMESTAMP'2024-01-31 23:59:00', TIMESTAMP'2024-02-01 00:01:00') AS h,
               dateDiff('second', TIMESTAMP'2024-01-31 23:59:00', TIMESTAMP'2024-02-01 00:01:00') AS s,
               dateDiff('year',   TIMESTAMP'2023-12-31 23:59:59', TIMESTAMP'2024-01-01 00:00:00') AS y,
               dateDiff('quarter', TIMESTAMP'2024-03-31 23:00:00', TIMESTAMP'2024-04-01 01:00:00') AS qq,
               dateDiff('day',    TIMESTAMP'2024-02-01 00:01:00', TIMESTAMP'2024-01-31 23:59:00') AS neg
        """
        , dialect="clickhouse"
    ).first()
    assert (row.d, row.m, row.mi, row.h, row.s) == (1, 1, 2, 1, 120)
    assert row.y == 1 and row.qq == 1 and row.neg == -1


def test_datediff_unknown_unit_fails_loudly(engine):
    # unknown/non-literal units pass through untranslated and hit the
    # builtin 2-arg datediff's arity check — loud, never silently NULL
    with pytest.raises(Exception, match="datediff|DATEDIFF|parameter|argument"):
        engine.sql(
            "SELECT dateDiff('fortnight', now(), now())", dialect="clickhouse"
        ).collect()


def test_round7_array_rewrites_end_to_end(engine):
    _match(
        engine,
        """
        SELECT arraySum(arrayMap(x -> toFloat64(x), groupArray(l_quantity))) AS s,
               arrayMax(groupArray(l_quantity)) AS mx,
               position(max(l_returnflag), 'R') AS p
        FROM lineitem WHERE l_orderkey < 100
        """,
        """
        SELECT aggregate(transform(collect_list(l_quantity), x -> CAST(x AS DOUBLE)),
                         CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS s,
               array_max(collect_list(l_quantity)) AS mx,
               locate('R', max(l_returnflag)) AS p
        FROM lineitem WHERE l_orderkey < 100
        """,
    )


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("replaceAll(h, 'x', 'y')", "replace(h, 'x', 'y')"),
        ("replaceRegexpAll(h, 'a+', 'b')", "regexp_replace(h, 'a+', 'b')"),
        ("concatWithSeparator('-', a, b)", "concat_ws('-', a, b)"),
        ("leftUTF8(s, 2)", "left(s, 2)"),
        ("rightUTF8(s, 2)", "right(s, 2)"),
        ("bitAnd(a, b)", "((a) & (b))"),
        ("bitOr(a, b)", "((a) | (b))"),
        ("bitXor(a, b)", "((a) ^ (b))"),
        ("bitNot(a)", "(~(a))"),
        ("bitShiftLeft(a, 2)", "shiftleft(a, 2)"),
        ("uniqCombined(u)", "approx_count_distinct(u)"),
        # extract: literal pattern WITH a group -> group 1, without -> 0
        ("extract(s, 'k=(\\d+)')", "regexp_extract(s, 'k=(\\d+)', 1)"),
        ("extract(s, '\\d+')", "regexp_extract(s, '\\d+', 0)"),
        ("extractAll(s, '\\d+')", "regexp_extract_all(s, '\\d+', 0)"),
        # non-literal pattern: undecidable group rule -> loud passthrough
        ("extract(s, p)", "extract(s, p)"),
        ("splitByString('||', s)", "split(s, '\\\\Q||\\\\E', -1)"),
        (
            "toStartOfInterval(ts, INTERVAL 4 HOUR)",
            "timestamp_seconds((unix_timestamp(ts) div 14400) * 14400)",
        ),
        (
            "toStartOfInterval(ts, INTERVAL 15 MINUTE)",
            "timestamp_seconds((unix_timestamp(ts) div 900) * 900)",
        ),
        # calendar-variable units: loud passthrough, never a wrong bucket
        (
            "toStartOfInterval(ts, INTERVAL 1 MONTH)",
            "toStartOfInterval(ts, INTERVAL 1 MONTH)",
        ),
    ],
)
def test_round8_rewrites(ch, expected):
    assert translate_clickhouse_sql(f"SELECT {ch} FROM t") == f"SELECT {expected} FROM t"


def test_round8_scalars_end_to_end(engine):
    row = engine.sql(
        r"""
        SELECT replaceOne('aXbXc', 'X', '-') AS r1,
               replaceAll('aXbXc', 'X', '-') AS rall,
               extract('key=42;', 'key=(\\d+)') AS grp,
               extract('abc123', '\\d+') AS whole,
               extractAll('a1b22c333', '\\d+') AS all_matches,
               splitByString('||', 'a||b||c') AS parts,
               formatDateTime(fromUnixTimestamp64Milli(1700000000000),
                              '%Y-%m-%d %H:%M:%S') AS fmt,
               formatDateTime(fromUnixTimestamp64Milli(1700000000000),
                              '%FT%T') AS iso,
               toStartOfInterval(fromUnixTimestamp64Milli(1700000000000),
                                 INTERVAL 4 HOUR) AS bucket4h,
               bitAnd(12, 10) AS band, bitXor(12, 10) AS bxor
        """,
        dialect="clickhouse",
    ).first()
    assert row.r1 == "a-bXc"  # FIRST occurrence only
    assert row.rall == "a-b-c"
    assert row.grp == "42" and row.whole == "123"
    assert row.all_matches == ["1", "22", "333"]
    assert row.parts == ["a", "b", "c"]
    # 1700000000000 ms = 2023-11-14 22:13:20 UTC
    assert row.fmt == "2023-11-14 22:13:20"
    assert row.iso == "2023-11-14T22:13:20"  # %M is MINUTE in ClickHouse
    assert str(row.bucket4h) == "2023-11-14 20:00:00"
    assert row.band == 8 and row.bxor == 6


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("anyIf(x, c)", "any_value(CASE WHEN c THEN x END, true)"),
        ("uniqIf(x, c)", "approx_count_distinct(CASE WHEN c THEN x END)"),
        (
            "argMaxIf(a, b, c)",
            "max_by(CASE WHEN c THEN a END, CASE WHEN c THEN b END)",
        ),
        (
            "argMinIf(a, b, c)",
            "min_by(CASE WHEN c THEN a END, CASE WHEN c THEN b END)",
        ),
        ("groupArrayIf(x, c)", "collect_list(CASE WHEN c THEN x END)"),
        ("groupUniqArrayIf(x, c)", "collect_set(CASE WHEN c THEN x END)"),
        ("uniqExactIf(x, c)", "count(DISTINCT CASE WHEN c THEN x END)"),
        ("quantileTDigest(0.9)(x)", "percentile_approx(x, 0.9)"),
        ("quantileTiming(0.5)(x)", "percentile_approx(x, 0.5)"),
    ],
)
def test_if_combinator_family(ch, expected):
    assert translate_clickhouse_sql(f"SELECT {ch} FROM t") == f"SELECT {expected} FROM t"


def test_if_combinators_end_to_end(engine):
    """The generalized If family against hand-written Spark SQL on real
    data: value/order args wrap, non-matching rows are skipped (not
    NULL-polluting), argMaxIf orders only within matching rows."""
    _match(
        engine,
        """
        SELECT user_id,
               argMaxIf(event_type, ts, value > 0) AS last_paid_type,
               uniqExactIf(event_type, value > 0)  AS n_paid_types,
               arrayStringConcat(arraySort(
                   groupUniqArrayIf(event_type, value > 100)), ',') AS big_types
        FROM events GROUP BY user_id
        """,
        """
        SELECT user_id,
               max_by(CASE WHEN value > 0 THEN event_type END,
                      CASE WHEN value > 0 THEN ts END)     AS last_paid_type,
               count(DISTINCT CASE WHEN value > 0 THEN event_type END)
                                                           AS n_paid_types,
               array_join(array_sort(
                   collect_set(CASE WHEN value > 100 THEN event_type END)), ',')
                                                           AS big_types
        FROM events GROUP BY user_id
        """,
    )


def test_trailing_settings_clause_stripped(engine):
    t = translate_clickhouse_sql
    assert (
        t("SELECT 1 FROM t SETTINGS max_threads = 8")
        == "SELECT 1 FROM t"
    )
    assert (
        t("SELECT a FROM t WHERE x > 0 SETTINGS max_memory_usage = 17179869184, "
          "use_numpy = 'true';")
        == "SELECT a FROM t WHERE x > 0;"
    )
    # a string literal containing the word is untouched
    assert (
        t("SELECT 'SETTINGS max_threads = 8' AS s FROM t")
        == "SELECT 'SETTINGS max_threads = 8' AS s FROM t"
    )
    # end-to-end: the reference's session-style hints ride along harmlessly
    row = engine.sql(
        "SELECT count(*) AS n FROM events SETTINGS max_threads = 4",
        dialect="clickhouse",
    ).first()
    assert row.n > 0


# ---------------------------------------------------------------------------
# ASOF JOIN (r8): ClickHouse's point-in-time join rewritten into the
# union + keyed-window + last(ignorenulls) derived table — one shuffle on
# the equality key, never a range/nested-loop join. Reference anchor: the
# klines<->funding-rates alignment the reference does in pandas
# (additional_data.py), which ClickHouse users type as ASOF JOIN.
# ---------------------------------------------------------------------------

_ASOF_QUOTES = "(SELECT * FROM VALUES ('a', 1, 10.0), ('a', 2, 20.0), ('b', 5, 50.0) AS v(sym, ts, px))"
_ASOF_TRADES = "(SELECT * FROM VALUES ('a', 2), ('a', 0), ('b', 9), ('c', 1) AS w(sym, ts))"


def _asof_rows(engine, join_kw: str, cond: str):
    df = engine.sql(
        f"SELECT t.sym AS sym, t.ts AS tts, q.ts AS qts, q.px AS px "
        f"FROM {_ASOF_TRADES} t {join_kw} {_ASOF_QUOTES} q ON {cond} "
        f"ORDER BY t.sym, t.ts",
        dialect="clickhouse",
    )
    return [tuple(r) for r in df.collect()]


def test_asof_join_backward_inclusive_and_strict(engine):
    # >= : trade@2 sees quote@2 (exact match counts); trade@0 has none
    assert _asof_rows(
        engine, "ASOF LEFT JOIN", "t.sym = q.sym AND t.ts >= q.ts"
    ) == [
        ("a", 0, None, None),
        ("a", 2, 2, 20.0),
        ("b", 9, 5, 50.0),
        ("c", 1, None, None),
    ]
    # > : the exact-ts quote is no longer visible -> falls back one row
    assert _asof_rows(
        engine, "ASOF LEFT JOIN", "t.sym = q.sym AND t.ts > q.ts"
    ) == [
        ("a", 0, None, None),
        ("a", 2, 1, 10.0),
        ("b", 9, 5, 50.0),
        ("c", 1, None, None),
    ]


def test_asof_join_forward_directions(engine):
    # <= forward: earliest quote at-or-after the trade
    assert _asof_rows(
        engine, "LEFT ASOF JOIN", "t.sym = q.sym AND t.ts <= q.ts"
    ) == [
        ("a", 0, 1, 10.0),
        ("a", 2, 2, 20.0),
        ("b", 9, None, None),
        ("c", 1, None, None),
    ]
    # < forward strict + inner: the exact-ts quote is skipped, and the
    # now-unmatched left rows drop (ClickHouse ASOF JOIN default is inner)
    assert _asof_rows(engine, "ASOF JOIN", "t.sym = q.sym AND t.ts < q.ts") == [
        ("a", 0, 1, 10.0),
    ]


def test_asof_join_inner_drops_unmatched(engine):
    assert _asof_rows(engine, "ASOF JOIN", "t.sym = q.sym AND t.ts >= q.ts") == [
        ("a", 2, 2, 20.0),
        ("b", 9, 5, 50.0),
    ]


def test_asof_join_flipped_conjuncts_normalize(engine):
    # q-side written first in both conjuncts: op mirrors, same result
    assert _asof_rows(
        engine, "ASOF JOIN", "q.sym = t.sym AND q.ts <= t.ts"
    ) == _asof_rows(engine, "ASOF JOIN", "t.sym = q.sym AND t.ts >= q.ts")


def test_asof_join_single_shuffle_no_nlj(engine):
    df = engine.sql(
        f"SELECT t.sym AS sym, q.px AS px FROM {_ASOF_TRADES} t "
        f"ASOF JOIN {_ASOF_QUOTES} q ON t.sym = q.sym AND t.ts >= q.ts",
        dialect="clickhouse",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "SortMergeJoin" not in plan  # no join operator at all: one window


@pytest.mark.parametrize(
    "cond,msg",
    [
        ("t.sym = q.sym OR t.ts >= q.ts", "OR in the ON clause"),
        ("t.ts >= q.ts", "at least one equality"),
        ("t.sym = q.sym AND t.ts >= q.ts AND t.ts < q.px", "exactly one ordered"),
        ("t.sym = q.sym AND t.ts != q.ts", "ordered, not !="),
        ("t.sym = q.sym", "needs exactly one ordered"),
    ],
)
def test_asof_join_unsupported_shapes_raise(cond, msg):
    with pytest.raises(ValueError, match=msg.replace("(", "\\(")):
        translate_clickhouse_sql(
            f"SELECT t.sym FROM trades t ASOF JOIN quotes q ON {cond}"
        )


def test_asof_join_leftover_backstop_raises():
    # a fragment split mid-subquery leaves un-rewritable ASOF syntax; it
    # must abort, or Spark would parse 'ASOF' as an alias + plain join
    with pytest.raises(ValueError):
        translate_clickhouse_sql(
            "SELECT f(x, (SELECT 1 FROM a, b ASOF JOIN c ON a.x = c.x)) FROM t"
        )
    # ...but the word inside a string literal is not syntax
    assert "ASOF JOIN" in translate_clickhouse_sql("SELECT 'ASOF JOIN' AS s FROM t")


def test_asof_join_composes_with_dialect_functions(engine):
    # combinators translate inside the subquery terms and the outer select
    df = engine.sql(
        "SELECT t.sym AS sym, toFloat64(q.px) AS px "
        f"FROM {_ASOF_TRADES} t ASOF JOIN "
        f"(SELECT sym, ts, argMax(px, ts) AS px FROM {_ASOF_QUOTES} raw "
        "GROUP BY sym, ts) q "
        "ON t.sym = q.sym AND t.ts >= q.ts",
        dialect="clickhouse",
    )
    rows = {(r.sym, r.px) for r in df.collect()}
    assert rows == {("a", 20.0), ("b", 50.0)}


# ---------------------------------------------------------------------------
# windowFunnel / sequenceMatch (r8): the ordered event-chain aggregates as
# pure aggregate() folds. The funnel fold is pinned against a line-by-line
# Python port of ClickHouse's published algorithm
# (AggregateFunctionWindowFunnel::getEventLevel, default mode) on seeded
# random event streams; sequenceMatch is pinned on the CH documentation
# examples, including the described-event interruption rule.
# ---------------------------------------------------------------------------


def _ch_funnel_reference(events, window, ncond):
    """(t, idx) points sorted by (t, idx); a c1 point re-anchors level 1;
    a c_i point within `window` of the level-(i-1) CHAIN START propagates
    that start; result = deepest level reached."""
    pairs = sorted((t, i) for t, cs in events for i, m in enumerate(cs, 1) if m)
    starts = [None] * ncond
    for t, idx in pairs:
        if idx == 1:
            starts[0] = t
        elif starts[idx - 2] is not None and t <= starts[idx - 2] + window:
            starts[idx - 1] = starts[idx - 2]
    for i in range(ncond - 1, -1, -1):
        if starts[i] is not None:
            return i + 1
    return 0


def _run_funnel(engine, events, window, ncond):
    vals = ", ".join(
        f"({t}, {', '.join('true' if m else 'false' for m in cs)})"
        for t, cs in events
    )
    cols = ", ".join(f"c{i}" for i in range(1, ncond + 1))
    return engine.sql(
        f"SELECT windowFunnel({window})(t, {cols}) AS lvl "
        f"FROM (SELECT * FROM VALUES {vals} AS v(t, {cols})) GROUP BY 1 = 1",
        dialect="clickhouse",
    ).first().lvl


def test_window_funnel_matches_clickhouse_algorithm(engine):
    import random

    rng = random.Random(8)
    for _ in range(25):
        ncond = rng.choice([2, 3, 4])
        events = [
            (rng.randint(0, 12), [rng.random() < 0.45 for _ in range(ncond)])
            for _ in range(rng.randint(1, 8))
        ]
        window = rng.choice([0, 2, 5, 100])
        assert _run_funnel(engine, events, window, ncond) == _ch_funnel_reference(
            events, window, ncond
        ), (events, window, ncond)


def test_window_funnel_pinned_semantics(engine):
    # window cutoff: click at t=10 is outside view@0 + 5
    assert _run_funnel(engine, [(0, [True, False]), (10, [False, True])], 5, 2) == 1
    # c1 re-anchor: the LATER view@8 lets click@10 chain
    assert (
        _run_funnel(
            engine,
            [(0, [True, False]), (8, [True, False]), (10, [False, True])],
            5,
            2,
        )
        == 2
    )
    # one event matching several conditions cascades within the event
    assert _run_funnel(engine, [(3, [True, True, True])], 0, 3) == 3
    # no c1 -> level 0 regardless of later conditions
    assert _run_funnel(engine, [(1, [False, True])], 100, 2) == 0


def _run_seqmatch(engine, pattern, rows, ncond):
    vals = ", ".join(
        f"({t}, {', '.join('true' if m else 'false' for m in cs)})"
        for t, cs in rows
    )
    cols = ", ".join(f"c{i}" for i in range(1, ncond + 1))
    return engine.sql(
        f"SELECT sequenceMatch('{pattern}')(t, {cols}) AS m "
        f"FROM (SELECT * FROM VALUES {vals} AS v(t, {cols})) GROUP BY 1 = 1",
        dialect="clickhouse",
    ).first().m


def test_sequence_match_docs_semantics(engine):
    # CH docs: (?1)(?2) matches when the in-between event is NOT described
    rows2 = [(1, [True, False]), (2, [False, False]), (3, [False, True])]
    assert _run_seqmatch(engine, "(?1)(?2)", rows2, 2) == 1
    # ...but a DESCRIBED in-between event interrupts the adjacent pair
    rows3 = [
        (1, [True, False, False]),
        (2, [False, False, True]),
        (3, [False, True, False]),
    ]
    assert _run_seqmatch(engine, "(?1)(?2)", rows3, 3) == 0
    # .* re-allows it
    assert _run_seqmatch(engine, "(?1).*(?2)", rows3, 3) == 1
    # pattern order is the match order
    assert _run_seqmatch(engine, "(?2)(?1)", rows2, 2) == 0


@pytest.mark.parametrize(
    "sql,msg",
    [
        # r9: strict_order/strict_deduplication/strict_increase now RUN;
        # unknown modes still refuse loudly
        (
            "SELECT windowFunnel(10, 'strict_nonsense')(t, c1) FROM x GROUP BY u",
            "unsupported mode",
        ),
        (
            "SELECT windowFunnel(10, mode_col)(t, c1) FROM x GROUP BY u",
            "unsupported mode",
        ),
        ("SELECT windowFunnel(10)(t) FROM x GROUP BY u", "needs"),
        # r9: (?t==N) and multi-condition gaps are now SUPPORTED (set
        # tracking); the positional constraints still refuse loudly
        (
            "SELECT sequenceMatch('(?t>5)(?1)')(t, c1) FROM x GROUP BY u",
            "BETWEEN",
        ),
        (
            "SELECT sequenceMatch('(?1)(?t==5)')(t, c1) FROM x GROUP BY u",
            "BETWEEN",
        ),
        ("SELECT sequenceMatch('')(t, c1) FROM x GROUP BY u", "empty pattern"),
        (
            "SELECT sequenceMatch('(?3)')(t, c1, c2) FROM x GROUP BY u",
            "references condition 3",
        ),
        ("SELECT sequenceMatch(pat)(t, c1) FROM x GROUP BY u", "string literal"),
    ],
)
def test_funnel_aggregates_unsupported_forms_raise(sql, msg):
    with pytest.raises(ValueError, match=msg):
        translate_clickhouse_sql(sql)


def test_sequence_count_greedy_nonoverlapping(engine):
    # three full signup->click chains, greedy leftmost: events at
    # t=1(c1) 2(c2) 3(c1) 4(c2) 5(c1) count 2 full '(?1).*(?2)' matches
    rows = [
        (1, [True, False]),
        (2, [False, True]),
        (3, [True, False]),
        (4, [False, True]),
        (5, [True, False]),
    ]
    assert _run_seqcount(engine, "(?1).*(?2)", rows, 2) == 2
    # overlap is NOT double-counted: c1 c1 c2 is one match, not two
    rows2 = [(1, [True, False]), (2, [True, False]), (3, [False, True])]
    assert _run_seqcount(engine, "(?1).*(?2)", rows2, 2) == 1
    # adjacency: interposed described event breaks pairs
    rows3 = [
        (1, [True, False]),
        (2, [True, False]),
        (3, [False, True]),
        (4, [False, True]),
    ]
    assert _run_seqcount(engine, "(?1)(?2)", rows3, 2) == 1


def _run_seqcount(engine, pattern, rows, ncond):
    vals = ", ".join(
        f"({t}, {', '.join('true' if m else 'false' for m in cs)})"
        for t, cs in rows
    )
    cols = ", ".join(f"c{i}" for i in range(1, ncond + 1))
    return engine.sql(
        f"SELECT sequenceCount('{pattern}')(t, {cols}) AS n "
        f"FROM (SELECT * FROM VALUES {vals} AS v(t, {cols})) GROUP BY 1 = 1",
        dialect="clickhouse",
    ).first().n


def test_global_and_all_join_hints_strip_quote_safe():
    t = translate_clickhouse_sql
    assert (
        t("SELECT a FROM t WHERE x GLOBAL IN (SELECT x FROM u)")
        == "SELECT a FROM t WHERE x IN(SELECT x FROM u)"
    )
    assert (
        t("SELECT a FROM t GLOBAL ALL LEFT JOIN u ON t.x = u.x")
        == "SELECT a FROM t LEFT JOIN u ON t.x = u.x"
    )
    # UNION ALL is not join strictness; string literals survive
    assert (
        t("SELECT 'GLOBAL IN' AS s FROM t UNION ALL SELECT s FROM u")
        == "SELECT 'GLOBAL IN' AS s FROM t UNION ALL SELECT s FROM u"
    )
    # ANY strictness changes row multiplicity -> translated to the
    # dedup-join, never silently stripped
    rewritten = t("SELECT u.a FROM t GLOBAL ANY LEFT JOIN u ON t.x = u.x")
    assert "ANY" not in rewritten and "min(struct(u.*))" in rewritten


def test_sequence_count_matches_bruteforce_greedy(engine):
    """Seeded random streams vs an independent brute-force reference:
    enumerate every pattern match in the remaining suffix, take the one
    with the earliest END (greedy leftmost completion = the fold's reset
    point), repeat — ClickHouse's non-overlapping contract."""
    import random

    def ref_count(evs, steps):
        stream = [
            flags
            for _t, flags in sorted(evs)
            if any(flags[c - 1] for c, _ in steps)
        ]

        def match_ends(lo):
            ends = []

            def rec(p, last):
                if p == len(steps):
                    ends.append(last)
                    return
                cidx, adj = steps[p]
                cand = (
                    [last + 1]
                    if adj and p > 0
                    else range(lo if p == 0 else last + 1, len(stream))
                )
                for i2 in cand:
                    if i2 < len(stream) and stream[i2][cidx - 1]:
                        rec(p + 1, i2)

            rec(0, -1)
            return ends

        cnt, lo = 0, 0
        while True:
            ends = match_ends(lo)
            if not ends:
                return cnt
            cnt, lo = cnt + 1, min(ends) + 1

    pats = {
        "(?1).*(?2)": [(1, False), (2, False)],
        "(?1)(?2)": [(1, False), (2, True)],
        "(?2)(?1)": [(2, False), (1, True)],
        "(?1).*(?2).*(?1)": [(1, False), (2, False), (1, False)],
    }
    rng = random.Random(81)
    for _ in range(15):
        n = rng.randint(1, 8)
        evs = [
            (t, [rng.random() < 0.5 for _ in range(2)])
            for t in rng.sample(range(30), n)
        ]
        pat = rng.choice(list(pats))
        assert _run_seqcount(engine, pat, evs, 2) == ref_count(evs, pats[pat]), (
            pat,
            sorted(evs),
        )


def test_any_join_dedup_semantics(engine):
    L = "(SELECT * FROM VALUES ('a', 1), ('a', 2), ('b', 3), ('c', 4) AS v(k, lv))"
    R = "(SELECT * FROM VALUES ('a', 10, 'x'), ('a', 5, 'y'), ('b', 7, 'z') AS w(k, rv, tag))"
    rows = [
        tuple(r)
        for r in engine.sql(
            f"SELECT t.k AS k, t.lv AS lv, u.rv AS rv, u.tag AS tag "
            f"FROM {L} t ANY LEFT JOIN {R} u ON t.k = u.k ORDER BY t.k, t.lv",
            dialect="clickhouse",
        ).collect()
    ]
    # every left row kept once; the right pick is the lexicographic-min
    # packed row (('a', 5, 'y') < ('a', 10, 'x')); unmatched -> NULLs
    assert rows == [
        ("a", 1, 5, "y"),
        ("a", 2, 5, "y"),
        ("b", 3, 7, "z"),
        ("c", 4, None, None),
    ]
    # ANY INNER dedupes BOTH sides: one row per key pair
    inner = [
        tuple(r)
        for r in engine.sql(
            f"SELECT t.k AS k, t.lv AS lv, u.rv AS rv FROM {L} t "
            f"ANY INNER JOIN {R} u ON t.k = u.k ORDER BY t.k",
            dialect="clickhouse",
        ).collect()
    ]
    assert inner == [("a", 1, 5), ("b", 3, 7)]


@pytest.mark.parametrize(
    "sql,msg",
    [
        (
            "SELECT t.a FROM t ANY LEFT JOIN u ON t.k < u.k",
            "only equality conjuncts",
        ),
        (
            "SELECT t.a FROM t RIGHT ANY JOIN u ON t.k = u.k",
            "swap the sides",
        ),
        (
            # the join sits at paren depth 1 of this fragment, invisible to
            # the top-level rewriter — the leftover backstop aborts rather
            # than let Spark parse ANY as an alias + a plain join
            "SELECT f(x, (SELECT 1 FROM a, b ANY JOIN c ON b.x = c.x)) FROM t",
            "ANY JOIN could not be translated",
        ),
    ],
)
def test_any_join_unsupported_shapes_raise(sql, msg):
    with pytest.raises(ValueError, match=msg):
        translate_clickhouse_sql(sql)


def test_with_totals_and_format_clause(engine):
    t = translate_clickhouse_sql
    # (the call-scanner reconstructs SETS(...) without the space — cosmetic)
    assert (
        t("SELECT a, count(*) AS n FROM t GROUP BY a WITH TOTALS")
        == "SELECT a, count(*) AS n FROM t GROUP BY GROUPING SETS((a), ())"
    )
    # a CTE named totals is untouched
    assert (
        t("WITH totals AS (SELECT 1 AS x) SELECT x FROM totals")
        == "WITH totals AS(SELECT 1 AS x) SELECT x FROM totals"
    )
    # FORMAT strips before SETTINGS (the ... [SETTINGS] [FORMAT] grammar)
    assert t("SELECT a FROM t SETTINGS max_threads = 2 FORMAT JSON;") == "SELECT a FROM t;"
    assert t("SELECT format FROM t") == "SELECT format FROM t"
    # end to end: the totals row carries a NULL group key and the grand sum
    rows = engine.sql(
        "SELECT event_type, count(*) AS n FROM events "
        "GROUP BY event_type WITH TOTALS FORMAT TabSeparated",
        dialect="clickhouse",
    ).collect()
    totals = [r for r in rows if r.event_type is None]
    assert len(totals) == 1
    assert totals[0].n == sum(r.n for r in rows if r.event_type is not None)


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("uniqUpTo(5)(u)", "least(count(DISTINCT u), (5) + 1)"),
        ("groupBitAnd(x)", "bit_and(x)"),
        ("groupBitXor(x)", "bit_xor(x)"),
        ("plus(a, b)", "((a) + (b))"),
        ("divide(a, 2)", "((a) / (2))"),
        ("modulo(a, 7)", "((a) % (7))"),
        ("negate(a)", "(-(a))"),
        (
            "intDivOrZero(a, b)",
            "if((a) IS NULL OR (b) IS NULL, CAST(NULL AS BIGINT), "
            "coalesce(intDiv(a, nullif(b, 0)), 0))",
        ),
        ("countEqual(xs, 3)", "size(filter(xs, __ce -> __ce <=> 3))"),
        ("arrayCount(x -> x > 1, xs)", "size(filter(xs, x -> x > 1))"),
        ("arrayCount(xs)", "size(filter(xs, __ac -> __ac != 0))"),
    ],
)
def test_round8_second_wave_rewrites(ch, expected):
    assert (
        translate_clickhouse_sql(f"SELECT {ch} FROM t")
        == f"SELECT {expected} FROM t"
    )


def test_round8_second_wave_end_to_end(engine):
    row = engine.sql(
        """
        SELECT uniqUpTo(2)(event_type)                 AS up_to,
               groupBitOr(CAST(user_id AS BIGINT))     AS bits,
               modulo(max(user_id), 7)                 AS m,
               intDivOrZero(10, 0)                     AS div0,
               countEqual(array(1, 2, 2, NULL), 2)     AS eq2,
               countEqual(array(1, NULL), NULL)        AS eqnull,
               arrayCount(x -> x > 1, array(1, 2, 3))  AS gt1,
               arrayCount(array(0, 1, 2))              AS truthy,
               arrayEnumerate(array('a', 'b'))         AS idx,
               arrayEnumerate(array())                 AS idx_empty
        FROM events
        """,
        dialect="clickhouse",
    ).first()
    assert row.up_to == 3  # 5 types > N=2 -> N + 1
    assert row.div0 == 0
    assert row.eq2 == 2 and row.eqnull == 1
    assert row.gt1 == 2 and row.truthy == 2
    assert row.idx == [1, 2] and row.idx_empty == []
    assert 0 <= row.m < 7
    assert row.bits is not None


def test_asof_and_any_join_using_form(engine):
    # USING (k.., ts): equality on all but the last column, implied >= on
    # the last — ClickHouse's USING-form contract, rewritten into ON
    rows = [
        tuple(r)
        for r in engine.sql(
            f"SELECT t.sym AS sym, t.ts AS tts, q.ts AS qts, q.px AS px "
            f"FROM {_ASOF_TRADES} t ASOF LEFT JOIN {_ASOF_QUOTES} q "
            f"USING (sym, ts) ORDER BY t.sym, t.ts",
            dialect="clickhouse",
        ).collect()
    ]
    assert rows == [
        ("a", 0, None, None),
        ("a", 2, 2, 20.0),
        ("b", 9, 5, 50.0),
        ("c", 1, None, None),
    ]
    any_rows = [
        tuple(r)
        for r in engine.sql(
            f"SELECT t.sym AS sym, u.px AS px FROM {_ASOF_TRADES} t "
            f"ANY LEFT JOIN {_ASOF_QUOTES} u USING (sym) ORDER BY t.sym, t.ts",
            dialect="clickhouse",
        ).collect()
    ]
    # min-struct pick per sym: ('a',1,10.0) and ('b',5,50.0)
    assert any_rows == [
        ("a", 10.0),
        ("a", 10.0),
        ("b", 50.0),
        ("c", None),
    ]
    with pytest.raises(ValueError, match="at least one key column"):
        translate_clickhouse_sql(
            "SELECT t.a FROM t ASOF JOIN u USING (ts)"
        )


# -- round-8 review fixes: regression pins -----------------------------------


def test_any_aggregate_coexists_with_any_join(engine):
    # the any() AGGREGATE in the select list must not hide the ANY JOIN
    L = "(SELECT * FROM VALUES ('a', 1), ('a', 2), ('b', 3) AS v(k, lv))"
    R = "(SELECT * FROM VALUES ('a', 10), ('a', 5) AS w(k, rv))"
    rows = [
        tuple(r)
        for r in engine.sql(
            f"SELECT t.k AS k, any(u.rv) AS rv FROM {L} t "
            f"ANY LEFT JOIN {R} u ON t.k = u.k GROUP BY t.k ORDER BY t.k",
            dialect="clickhouse",
        ).collect()
    ]
    assert rows == [("a", 5), ("b", None)]


def test_format_strip_never_eats_a_sort_term():
    t = translate_clickhouse_sql
    assert (
        t("SELECT * FROM t ORDER BY format DESC")
        == "SELECT * FROM t ORDER BY format DESC"
    )
    assert (
        t("SELECT * FROM t ORDER BY ts, format ASC")
        == "SELECT * FROM t ORDER BY ts, format ASC"
    )
    assert t("SELECT a FROM t FORMAT TabSeparated") == "SELECT a FROM t"


def test_int_div_or_zero_null_propagation(engine):
    row = engine.sql(
        "SELECT intDivOrZero(CAST(NULL AS BIGINT), 2) AS a, "
        "intDivOrZero(10, CAST(NULL AS BIGINT)) AS b, "
        "intDivOrZero(10, 0) AS c, intDivOrZero(10, 3) AS d",
        dialect="clickhouse",
    ).first()
    assert row.a is None and row.b is None and row.c == 0 and row.d == 3


@pytest.mark.parametrize(
    "q",
    [
        "SELECT t.sym, q.px FROM trades t ASOF LEFT JOIN quotes q "
        "ON t.sym = q.sym AND t.ts >= q.ts",
        "SELECT t.k, u.v FROM a t ANY LEFT JOIN b u ON t.k = u.k",
        "SELECT a, count(*) AS n FROM t GROUP BY a WITH TOTALS",
        "SELECT user_id, windowFunnel(60)(ts, c1, c2) AS lvl "
        "FROM e GROUP BY user_id",
        "SELECT user_id, sequenceCount('(?1).*(?2)')(ts, c1, c2) AS n "
        "FROM e GROUP BY user_id",
    ],
)
def test_clause_rewrites_reach_a_fixed_point(q):
    # feeding a translated query back through the translator must never
    # re-trigger a clause rewrite; the only second-pass delta is the call
    # scanner's cosmetic whitespace normalization ('WHEN (' -> 'WHEN('),
    # so the SECOND pass is the exact fixed point
    once = translate_clickhouse_sql(q)
    twice = translate_clickhouse_sql(once)
    assert "".join(once.split()) == "".join(twice.split())
    assert translate_clickhouse_sql(twice) == twice


def test_array_difference_and_cumsum(engine):
    row = engine.sql(
        "SELECT arrayDifference(array(1, 4, 2)) AS d, "
        "arrayDifference(array()) AS d0, "
        "arrayCumSum(array(1, 2, 3)) AS c, "
        "arrayCumSum(array(0.5, 0.25)) AS cf, "
        "arrayCumSum(array()) AS c0",
        dialect="clickhouse",
    ).first()
    assert row.d == [0, 3, -2] and row.d0 == []
    assert [int(x) for x in row.c] == [1, 3, 6]
    assert [float(x) for x in row.cf] == [0.5, 0.75]
    assert row.c0 == []
    # exact past 2^53 — the DECIMAL accumulator, like arraySum
    big = engine.sql(
        "SELECT arrayCumSum(array(9007199254740993, 1)) AS c",
        dialect="clickhouse",
    ).first()
    assert [int(x) for x in big.c] == [9007199254740993, 9007199254740994]


# ---------------------------------------------------------------------------
# ARRAY JOIN clause (r8): the unnest clause runs verbatim — rewritten into a
# LATERAL VIEW explode/posexplode derived table aliased back to the FROM
# alias (dialect.py _rewrite_array_join)
# ---------------------------------------------------------------------------


class TestArrayJoinClause:
    @pytest.fixture(scope="class")
    def aj_view(self, spark):
        spark.sql(
            """SELECT * FROM VALUES
             (1, array(10, 20, 30), array('a', 'b', 'c')),
             (2, array(), array()),
             (3, array(7), array('z')),
             (4, CAST(NULL AS array<int>), CAST(NULL AS array<string>))
             AS t(k, arr, tags)"""
        ).createOrReplaceTempView("aj_t")
        return "aj_t"

    def _run(self, engine, sql):
        return sorted(
            map(tuple, engine.sql(sql, dialect="clickhouse").collect())
        )

    def test_single_aliased(self, engine, aj_view):
        got = self._run(engine, "SELECT k, x FROM aj_t ARRAY JOIN arr AS x")
        assert got == [(1, 10), (1, 20), (1, 30), (3, 7)]

    def test_unaliased_replaces_column(self, engine, aj_view):
        got = self._run(engine, "SELECT k, arr FROM aj_t ARRAY JOIN arr")
        assert got == [(1, 10), (1, 20), (1, 30), (3, 7)]

    def test_left_keeps_empty_and_null_rows(self, engine, aj_view):
        got = self._run(
            engine, "SELECT k, x FROM aj_t LEFT ARRAY JOIN arr AS x"
        )
        assert got == [(1, 10), (1, 20), (1, 30), (2, None), (3, 7), (4, None)]

    def test_multi_item_zip_with_enumerate(self, engine, aj_view):
        got = self._run(
            engine,
            "SELECT k, x, tg, i FROM aj_t "
            "ARRAY JOIN arr AS x, tags AS tg, arrayEnumerate(arr) AS i",
        )
        assert got == [
            (1, 10, "a", 1),
            (1, 20, "b", 2),
            (1, 30, "c", 3),
            (3, 7, "z", 1),
        ]

    def test_expression_item_and_downstream_clauses(self, engine, aj_view):
        got = self._run(
            engine,
            "SELECT k, sum(x) AS s FROM aj_t "
            "ARRAY JOIN arrayMap(v -> v * 2, arr) AS x "
            "WHERE x > 20 GROUP BY k ORDER BY k",
        )
        assert got == [(1, 100)]

    def test_subquery_from_term(self, engine, aj_view):
        got = self._run(
            engine,
            "SELECT s, x FROM (SELECT k + 100 AS s, arr FROM aj_t) q "
            "ARRAY JOIN arr AS x WHERE x >= 20",
        )
        assert got == [(101, 20), (101, 30)]

    def test_qualified_unaliased_item(self, engine, aj_view):
        got = self._run(
            engine, "SELECT a.k, arr FROM aj_t AS a ARRAY JOIN a.arr"
        )
        assert got == [(1, 10), (1, 20), (1, 30), (3, 7)]

    def test_string_rewrite_shape(self):
        out = translate_clickhouse_sql(
            "SELECT k, x FROM t ARRAY JOIN arr AS x"
        )
        assert "LATERAL VIEW explode(arr)" in out
        assert ") AS t" in out

    def test_join_before_clause_refused(self):
        with pytest.raises(ValueError, match="ARRAY JOIN"):
            translate_clickhouse_sql(
                "SELECT * FROM t JOIN u ON t.k = u.k ARRAY JOIN arr AS x"
            )

    def test_join_after_clause_refused(self):
        with pytest.raises(ValueError, match="ARRAY JOIN"):
            translate_clickhouse_sql(
                "SELECT * FROM t ARRAY JOIN arr AS x JOIN u ON t.k = u.k"
            )

    def test_unaliased_expression_refused(self):
        with pytest.raises(ValueError, match="plain column"):
            translate_clickhouse_sql(
                "SELECT * FROM t ARRAY JOIN arrayMap(v -> v, arr)"
            )

    def test_literal_text_untouched(self):
        sql = "SELECT 'ARRAY JOIN arr AS x' AS s FROM t"
        assert translate_clickhouse_sql(sql) == sql


# ---------------------------------------------------------------------------
# ORDER BY ... WITH FILL (r8): ClickHouse's gap-fill clause — per-row lead()
# + exploded per-gap sequence, step RE-ANCHORED at every original row
# (FillingTransform semantics), struct-pack blanking, INTERPOLATE = LOCF
# ---------------------------------------------------------------------------


class TestWithFill:
    @pytest.fixture(scope="class")
    def wf_view(self, spark):
        spark.sql(
            """SELECT * FROM VALUES
             (1, 10.0, 'a'), (4, 40.0, 'c'),
             (7, CAST(NULL AS double), 'd'), (11, 70.0, 'g')
             AS t(x, v, s)"""
        ).createOrReplaceTempView("wf_t")
        return "wf_t"

    def _run(self, engine, sql):
        df = engine.sql(sql, dialect="clickhouse")
        cols = df.columns
        return [tuple(r[c] for c in sorted(cols)) for r in df.collect()]

    def test_bare_fill_defaults_step_one(self, engine, wf_view):
        got = self._run(engine, "SELECT x, v FROM wf_t ORDER BY x WITH FILL")
        # sorted cols: (v, x); fills 2,3,5,6,8,9,10 with v NULL
        assert got == [
            (10.0, 1), (None, 2), (None, 3), (40.0, 4), (None, 5),
            (None, 6), (None, 7), (None, 8), (None, 9), (None, 10),
            (70.0, 11),
        ]

    def test_step_reanchors_at_each_original_row(self, engine, wf_view):
        got = self._run(
            engine, "SELECT x, v FROM wf_t ORDER BY x WITH FILL STEP 2"
        )
        # anchors 1 -> 3; 4 -> 6; 7 -> 9; NEVER the global grid's 5
        assert got == [
            (10.0, 1), (None, 3), (40.0, 4), (None, 6), (None, 7),
            (None, 9), (70.0, 11),
        ]

    def test_from_to_step(self, engine, wf_view):
        got = self._run(
            engine,
            "SELECT x, v FROM wf_t ORDER BY x WITH FILL FROM 0 TO 14 STEP 3",
        )
        # FROM edge emits 0 (< first row 1); TO=14 exclusive caps 11+3
        assert got == [
            (None, 0), (10.0, 1), (40.0, 4), (None, 7), (None, 10),
            (70.0, 11),
        ]

    def test_interpolate_locf_carries_null(self, engine, wf_view):
        got = self._run(
            engine,
            "SELECT x, v, s FROM wf_t ORDER BY x WITH FILL INTERPOLATE (v)",
        )
        # sorted cols: (s, v, x) — v carried per anchor (incl. x=7's NULL),
        # s blanked on filled rows
        assert got == [
            ("a", 10.0, 1), (None, 10.0, 2), (None, 10.0, 3),
            ("c", 40.0, 4), (None, 40.0, 5), (None, 40.0, 6),
            ("d", None, 7), (None, None, 8), (None, None, 9),
            (None, None, 10), ("g", 70.0, 11),
        ]

    def test_from_edge_does_not_interpolate(self, engine, wf_view):
        got = self._run(
            engine,
            "SELECT x, v FROM wf_t "
            "ORDER BY x WITH FILL FROM -1 TO 3 INTERPOLATE (v)",
        )
        # FROM-edge rows (-1, 0) precede any original row -> NULL, not LOCF
        assert got[:2] == [(None, -1), (None, 0)]
        assert (10.0, 1) in got and (10.0, 2) in got

    def test_limit_applies_after_fill(self, engine, wf_view):
        got = self._run(
            engine,
            "SELECT x, v FROM wf_t WHERE x > 1 ORDER BY x WITH FILL LIMIT 4",
        )
        assert got == [(40.0, 4), (None, 5), (None, 6), (None, 7)]

    def test_timestamp_fill_with_interval_step(self, engine, spark):
        spark.sql(
            """SELECT * FROM VALUES
             (TIMESTAMP '2024-01-01 00:00:00', 1.0),
             (TIMESTAMP '2024-01-01 03:00:00', 4.0)
             AS t(h, v)"""
        ).createOrReplaceTempView("wf_ts")
        got = self._run(
            engine,
            "SELECT h, v FROM wf_ts "
            "ORDER BY h WITH FILL STEP INTERVAL 1 HOUR INTERPOLATE (v)",
        )
        assert [r[1] for r in got] == [1.0, 1.0, 1.0, 4.0]
        assert [r[0].hour for r in got] == [0, 1, 2, 3]

    def test_desc_refused(self):
        with pytest.raises(ValueError, match="WITH FILL"):
            translate_clickhouse_sql(
                "SELECT x FROM t ORDER BY x DESC WITH FILL"
            )

    def test_expression_prefix_key_refused(self):
        # r9: leading sort keys are SUPPORTED as the sorting prefix —
        # bare columns only; expressions still refuse loudly
        with pytest.raises(ValueError, match="bare columns"):
            translate_clickhouse_sql(
                "SELECT x, y FROM t ORDER BY x + 1, y WITH FILL"
            )

    def test_fill_key_equal_to_prefix_key_refused(self):
        with pytest.raises(ValueError, match="both"):
            translate_clickhouse_sql(
                "SELECT x FROM t ORDER BY x, x WITH FILL"
            )

    def test_interpolate_expression_refused(self):
        with pytest.raises(ValueError, match="INTERPOLATE"):
            translate_clickhouse_sql(
                "SELECT x, v FROM t ORDER BY x WITH FILL "
                "INTERPOLATE (v AS v + 1)"
            )

    def test_cte_named_fill_untouched(self):
        # no gap-fill rewrite and no leftover backstop — only the
        # translator's usual call-whitespace normalization may differ
        sql = "WITH fill AS (SELECT 1 AS x) SELECT x FROM fill"
        out = translate_clickhouse_sql(sql)
        assert out.replace("AS(", "AS (") == sql


# ---------------------------------------------------------------------------
# topK / anyHeavy / avgWeighted (r8)
# ---------------------------------------------------------------------------


class TestTopKFamily:
    @pytest.fixture(scope="class")
    def tk_view(self, spark):
        spark.sql(
            """SELECT * FROM VALUES
             ('a', 'x', 1.0, 2.0), ('a', 'x', 2.0, 1.0),
             ('a', 'y', 3.0, 0.0), ('a', 'z', 4.0, 0.0),
             ('b', 'q', 5.0, 0.0)
             AS t(g, s, v, w)"""
        ).createOrReplaceTempView("tk_t")
        return "tk_t"

    def test_topk_exact_counts_and_tie_break(self, engine, tk_view):
        got = engine.sql(
            "SELECT g, topK(2)(s) AS top2 FROM tk_t GROUP BY g ORDER BY g",
            dialect="clickhouse",
        ).collect()
        # 'x' occurs twice; the y/z tie breaks ascending by value
        assert [(r.g, r.top2) for r in got] == [("a", ["x", "y"]), ("b", ["q"])]

    def test_any_heavy_is_mode(self, engine, tk_view):
        got = engine.sql(
            "SELECT anyHeavy(s) AS h FROM tk_t WHERE g = 'a'",
            dialect="clickhouse",
        ).collect()
        assert got[0].h == "x"

    def test_avg_weighted_and_nan_on_zero_weight(self, engine, tk_view):
        import math

        got = engine.sql(
            "SELECT g, avgWeighted(v, w) AS aw FROM tk_t GROUP BY g ORDER BY g",
            dialect="clickhouse",
        ).collect()
        assert abs(got[0].aw - 4.0 / 3.0) < 1e-12
        assert math.isnan(got[1].aw)


# ---------------------------------------------------------------------------
# ClickHouse URL function family (r8): parse_url SQL-UDF shims pinned on
# ClickHouse's documented examples
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "expr,want",
    [
        ("protocol('https://example.com/a')", "https"),
        ("domain('https://news.yandex.com.tr/sport?x=1')", "news.yandex.com.tr"),
        ("domain('example.com/path')", "example.com"),  # scheme-less, like CH
        ("domainWithoutWWW('http://www.example.com')", "example.com"),
        ("topLevelDomain('https://news.yandex.com.tr/')", "tr"),
        ("topLevelDomain('http://localhost/x')", ""),  # no dot -> '' like CH
        ("firstSignificantSubdomain('https://news.yandex.com.tr/')", "yandex"),
        ("firstSignificantSubdomain('https://www.example.com/')", "example"),
        ("port('http://h.io:8080/x')", 8080),
        ("port('http://h.io/x')", 0),
        ("netloc('http://u:p@h.io:80/p')", "u:p@h.io:80"),
        ("path('https://h.io/a/b?q=1#f')", "/a/b"),
        ("pathFull('https://h.io/a/b?q=1#f')", "/a/b?q=1"),
        ("queryString('https://h.io/a?q=1&r=2#f')", "q=1&r=2"),
        ("fragment('https://h.io/a#frag')", "frag"),
        ("queryStringAndFragment('https://h.io/a?q=1#f')", "q=1#f"),
        ("extractURLParameter('https://h.io/a?q=1&r=two', 'r')", "two"),
        ("extractURLParameter('https://h.io/a?q=1', 'zz')", ""),
        # query strips, fragment KEPT (ClickHouse cutQueryString contract)
        ("cutQueryString('https://h.io/a?q=1#f')", "https://h.io/a#f"),
        ("cutQueryString('https://h.io/a')", "https://h.io/a"),
        ("cutFragment('https://h.io/a?q=1#f')", "https://h.io/a?q=1"),
        ("cutQueryStringAndFragment('https://h.io/a?q=1#f')", "https://h.io/a"),
        ("cutWWW('https://www.example.com/x')", "https://example.com/x"),
        ("cutWWW('www.example.com/x')", "example.com/x"),
        # CH percent-decoding: '+' is NOT a space; encoding: space is %20
        ("decodeURLComponent('a%20b+c')", "a b+c"),
        ("encodeURLComponent('a b/c')", "a%20b%2Fc"),
    ],
)
def test_url_function_family_shims(engine, expr, want):
    assert engine.sql(f"SELECT {expr} AS x").collect()[0][0] == want


# ---------------------------------------------------------------------------
# sumMap / minMap / maxMap (r8): key-wise map aggregation over zipped
# (keys[], values[]) rows — one struct(keys SORTED, values) per group
# ---------------------------------------------------------------------------


class TestSumMapFamily:
    @pytest.fixture(scope="class")
    def sm_view(self, spark):
        spark.sql(
            """SELECT * FROM VALUES
             ('g1', array('a', 'b'), array(10, 20)),
             ('g1', array('b', 'c'), array(5, 7)),
             ('g2', array('x'), array(100)),
             ('g3', array(CAST(NULL AS STRING), 'k'), array(1, 2))
             AS t(g, ks, vs)"""
        ).createOrReplaceTempView("sm_t")
        return "sm_t"

    def _rows(self, engine, sql):
        return {
            r.g: r
            for r in engine.sql(sql, dialect="clickhouse").collect()
        }

    def test_summap_keywise_sums_sorted_keys(self, engine, sm_view):
        got = self._rows(
            engine, "SELECT g, sumMap(ks, vs) AS m FROM sm_t GROUP BY g"
        )
        assert got["g1"].m.keys == ["a", "b", "c"]
        assert [int(v) for v in got["g1"].m.values] == [10, 25, 7]
        assert got["g2"].m.keys == ["x"]

    def test_null_keys_drop(self, engine, sm_view):
        got = self._rows(
            engine, "SELECT g, sumMap(ks, vs) AS m FROM sm_t GROUP BY g"
        )
        assert got["g3"].m.keys == ["k"]
        assert [int(v) for v in got["g3"].m.values] == [2]

    def test_min_max_map_keep_element_type(self, engine, sm_view):
        got = self._rows(
            engine,
            "SELECT g, minMap(ks, vs) AS mn, maxMap(ks, vs) AS mx "
            "FROM sm_t GROUP BY g",
        )
        assert got["g1"].mn.values == [10, 5, 7]
        assert got["g1"].mx.values == [10, 20, 7]

    def test_field_access_on_result(self, engine, sm_view):
        got = self._rows(
            engine,
            "SELECT g, sumMap(ks, vs).values AS g_vals FROM sm_t "
            "GROUP BY g",
        )
        assert [int(v) for v in got["g1"].g_vals] == [10, 25, 7]


# ---------------------------------------------------------------------------
# Scalar WITH (r8): ClickHouse's expression-alias WITH form — aliases
# inline as parenthesized expressions at every bare reference
# ---------------------------------------------------------------------------


class TestScalarWith:
    @pytest.fixture(scope="class")
    def sw_view(self, spark):
        spark.sql(
            "SELECT * FROM VALUES (1, 10.0), (2, 20.0), (3, 30.0) AS t(id, v)"
        ).createOrReplaceTempView("sw_t")
        return "sw_t"

    def test_constant_alias(self, engine, sw_view):
        got = engine.sql(
            "WITH 2 AS lim SELECT id FROM sw_t WHERE id <= lim ORDER BY id",
            dialect="clickhouse",
        ).collect()
        assert [r.id for r in got] == [1, 2]

    def test_chained_aliases_and_output_name(self, engine, sw_view):
        df = engine.sql(
            "WITH 2 AS a, a + 1 AS b SELECT id, b FROM sw_t WHERE id >= b",
            dialect="clickhouse",
        )
        assert df.columns == ["id", "b"]
        assert [tuple(r) for r in df.collect()] == [(3, 3)]

    def test_scalar_subquery_alias(self, engine, sw_view):
        got = engine.sql(
            "WITH (SELECT max(v) FROM sw_t) AS mx "
            "SELECT id, round(v / mx, 3) AS frac FROM sw_t ORDER BY id",
            dialect="clickhouse",
        ).collect()
        assert [float(r.frac) for r in got] == [0.333, 0.667, 1.0]

    def test_mixed_cte_and_scalar(self, engine, sw_view):
        got = engine.sql(
            "WITH big AS (SELECT id FROM sw_t WHERE v > 15), 1 AS one "
            "SELECT id + one AS x FROM big ORDER BY x",
            dialect="clickhouse",
        ).collect()
        assert [r.x for r in got] == [3, 4]

    def test_alias_shadows_column_but_not_qualified(self, engine, sw_view):
        got = engine.sql(
            "WITH 99 AS v SELECT id, v, sw_t.v AS real_v FROM sw_t "
            "WHERE id = 1",
            dialect="clickhouse",
        ).collect()[0]
        assert (got.v, float(got.real_v)) == (99, 10.0)

    def test_explicit_as_alias_position_untouched(self, engine, sw_view):
        # `AS k` names an output column; the scalar alias k must not
        # rewrite the alias POSITION
        df = engine.sql(
            "WITH 9 AS k SELECT id + 1 AS k FROM sw_t WHERE id = 1",
            dialect="clickhouse",
        )
        assert df.columns == ["k"]
        assert df.collect()[0].k == 2

    def test_compat_function_in_alias_expr(self, engine, sw_view):
        got = engine.sql(
            "WITH toStartOfDay(toDateTime(90000)) AS day0 "
            "SELECT day0 FROM sw_t LIMIT 1",
            dialect="clickhouse",
        ).collect()[0]
        assert got.day0.hour == 0 and got.day0.day == 2

    def test_plain_cte_only_untouched(self, engine):
        got = engine.sql(
            "WITH q AS (SELECT 1 AS z) SELECT z FROM q",
            dialect="clickhouse",
        ).collect()
        assert got[0].z == 1


# ---------------------------------------------------------------------------
# sequenceMatch (?t op N) time conditions (r8): per-prefix earliest/latest
# completion times make >,>=,<,<= gaps exact (hand-computed streams)
# ---------------------------------------------------------------------------


class TestSequenceTimeConditions:
    @pytest.fixture(scope="class")
    def sq_view(self, spark):
        spark.sql(
            """SELECT * FROM VALUES
             ('u1', 0, 'A'), ('u1', 100, 'B'), ('u1', 2000, 'B'),
             ('u2', 0, 'A'), ('u2', 10, 'B'),
             ('w1', 0, 'A'), ('w1', 500, 'A'), ('w1', 600, 'B'),
             ('w1', 650, 'C'),
             ('w2', 0, 'A'), ('w2', 600, 'B'), ('w2', 6000, 'C')
             AS t(u, ts, et)"""
        ).createOrReplaceTempView("sq_time")
        return "sq_time"

    def _match(self, engine, pat, n_conds=2):
        conds = ", ".join(f"et = '{c}'" for c in "ABC"[:n_conds])
        got = engine.sql(
            f"SELECT u, sequenceMatch('{pat}')(ts, {conds}) AS m "
            "FROM sq_time GROUP BY u",
            dialect="clickhouse",
        ).collect()
        return {r.u: r.m for r in got}

    def test_greater_uses_earliest_anchor(self, engine, sq_view):
        m = self._match(engine, "(?1)(?t>1800)(?2)")
        assert (m["u1"], m["u2"]) == (1, 0)  # only B@2000 is >1800 after A@0

    def test_less_uses_latest_anchor(self, engine, sq_view):
        m = self._match(engine, "(?1)(?t<50)(?2)")
        # u2's B@10; u1's closest B is 100s after A; w1's latest A@500 is
        # 100s before B@600 — none under 50 but u2
        assert (m["u1"], m["u2"], m["w1"]) == (0, 1, 0)

    def test_inclusive_boundary(self, engine, sq_view):
        m = self._match(engine, "(?1)(?t<=100)(?2)")
        assert (m["u1"], m["u2"], m["w1"]) == (1, 1, 1)
        m = self._match(engine, "(?1)(?t>=2000)(?2)")
        assert (m["u1"], m["u2"]) == (1, 0)

    def test_chained_mixed_gaps(self, engine, sq_view):
        m = self._match(engine, "(?1)(?t<200)(?2)(?t<100)(?3)", 3)
        # w1: A@500 -> B@600 (100 < 200) -> C@650 (50 < 100); w2's B is
        # 600s after its only A
        assert (m["w1"], m["w2"]) == (1, 0)
        m = self._match(engine, "(?1)(?t>550)(?2)(?t>1000)(?3)", 3)
        # w1's only B completion is 600 (from A@0); C@650 is 50 later.
        # w2: B@600 (>550 after A@0), C@6000 is 5400 later
        assert (m["w1"], m["w2"]) == (0, 1)

    def test_star_with_time_in_same_gap_absorbed(self, engine, sq_view):
        # '.*(?t>1800)' == '(?t>1800)' — the time gap already allows any
        # events between
        m = self._match(engine, "(?1).*(?t>1800)(?2)")
        assert (m["u1"], m["u2"]) == (1, 0)

    def test_sequence_count_with_time_gap(self, engine, sq_view):
        got = engine.sql(
            "SELECT u, sequenceCount('(?1)(?t<200)(?2)')(ts, et = 'A', "
            "et = 'B') AS n FROM sq_time GROUP BY u",
            dialect="clickhouse",
        ).collect()
        n = {r.u: r.n for r in got}
        assert (n["u1"], n["u2"], n["w1"]) == (1, 1, 1)

    # -- r9: (?t==N) exact gaps and multi-condition bands (set tracking) --

    def test_exact_gap(self, engine, sq_view):
        m = self._match(engine, "(?1)(?t==100)(?2)")
        # u1: B@100 is exactly 100 after A@0; w1: B@600 is exactly 100
        # after A@500; w2's only gap is 600
        assert (m["u1"], m["u2"], m["w1"], m["w2"]) == (1, 0, 1, 0)
        m = self._match(engine, "(?1)(?t==600)(?2)")
        assert (m["u1"], m["w1"], m["w2"]) == (0, 1, 1)

    def test_band_needs_a_single_anchor(self, engine, sq_view):
        m = self._match(engine, "(?1)(?t>50)(?t<550)(?2)")
        # u1: gap 100 in (50, 550); u2: 10 too small; w1: anchor A@500
        # gives 100; w2: 600 too big
        assert (m["u1"], m["u2"], m["w1"], m["w2"]) == (1, 0, 1, 0)

    def test_band_rejects_split_extremes(self, engine, sq_view):
        # w1 anchors {0, 500} vs B@600: earliest gives 600 > 550 (lower
        # bound OK), latest gives 100 < 590 (upper bound OK) — but NO
        # single anchor satisfies both. Extremes-only tracking would
        # wrongly match; the completion-time set must not.
        m = self._match(engine, "(?1)(?t>550)(?t<590)(?2)")
        assert m["w1"] == 0

    def test_exact_gap_chained_with_extreme_gap(self, engine, sq_view):
        # w1: A@500 -> B@600 (==100) -> C@650 (50 < 100)
        m = self._match(engine, "(?1)(?t==100)(?2)(?t<100)(?3)", 3)
        assert (m["w1"], m["w2"]) == (1, 0)

    def test_sequence_count_with_exact_gap(self, engine, sq_view):
        got = engine.sql(
            "SELECT u, sequenceCount('(?1)(?t==100)(?2)')(ts, et = 'A', "
            "et = 'B') AS n FROM sq_time GROUP BY u",
            dialect="clickhouse",
        ).collect()
        n = {r.u: r.n for r in got}
        assert (n["u1"], n["u2"], n["w1"], n["w2"]) == (1, 0, 1, 0)


# ---------------------------------------------------------------------------
# -Array and -OrNull aggregate combinators (r8)
# ---------------------------------------------------------------------------


class TestArrayCombinators:
    @pytest.fixture(scope="class")
    def ac_view(self, spark):
        spark.sql(
            """SELECT * FROM VALUES
             ('g1', array(1, 2, 2)), ('g1', array(3)),
             ('g1', CAST(NULL AS array<int>)),
             ('g2', array())
             AS t(g, a)"""
        ).createOrReplaceTempView("ac_t")
        return "ac_t"

    def test_element_wise_aggregates(self, engine, ac_view):
        import math

        got = {
            r.g: r
            for r in engine.sql(
                "SELECT g, sumArray(a) AS s, minArray(a) AS mn, "
                "maxArray(a) AS mx, countArray(a) AS c, avgArray(a) AS av, "
                "uniqArray(a) AS u FROM ac_t GROUP BY g",
                dialect="clickhouse",
            ).collect()
        }
        g1 = got["g1"]
        assert (int(g1.s), g1.mn, g1.mx, g1.c, g1.av, g1.u) == (8, 1, 3, 4, 2.0, 3)
        g2 = got["g2"]
        assert (int(g2.s), g2.mn, g2.c, g2.u) == (0, None, 0, 0)
        assert math.isnan(g2.av)

    def test_group_array_array(self, engine, ac_view):
        got = {
            r.g: r
            for r in engine.sql(
                "SELECT g, groupArrayArray(a) AS ga, "
                "groupUniqArrayArray(a) AS gu FROM ac_t GROUP BY g",
                dialect="clickhouse",
            ).collect()
        }
        assert sorted(got["g1"].ga) == [1, 2, 2, 3]
        assert sorted(got["g1"].gu) == [1, 2, 3]
        assert got["g2"].ga == []

    def test_or_null_combinators(self, engine, ac_view):
        got = engine.sql(
            "SELECT sumOrNull(try_element_at(a, 9)) AS s, "
            "countOrNull(try_element_at(a, 9)) AS c, "
            "maxOrNull(try_element_at(a, 1)) AS m FROM ac_t",
            dialect="clickhouse",
        ).collect()[0]
        assert (got.s, got.c, got.m) == (None, None, 3)


# ---------------------------------------------------------------------------
# Array function widening (r8): hasAll/hasAny, compact/uniq, push/pop,
# n-ary intersect, resize, reverse-sort, safe element access
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "expr,want",
    [
        ("hasAll(array(1, 2, 3), array(2, 3))", True),
        ("hasAll(array(1, 2), array(2, 9))", False),
        ("hasAll(array(1, 2), array())", True),  # empty subset: CH true
        ("hasAny(array(1, 2), array(9, 2))", True),
        ("hasAny(array(1, 2), array(9))", False),
        ("arrayUniq(array(1, 2, 2, 3))", 3),
        ("arrayCompact(array(1, 1, 2, 2, 1))", [1, 2, 1]),
        ("arrayCompact(array())", []),
        ("arrayPushBack(array(1, 2), 9)", [1, 2, 9]),
        ("arrayPushFront(array(1, 2), 9)", [9, 1, 2]),
        ("arrayPopBack(array(1, 2, 3))", [1, 2]),
        ("arrayPopFront(array(1, 2, 3))", [2, 3]),
        ("arrayPopBack(array())", []),
        ("arrayIntersect(array(1, 2, 3), array(2, 3, 4), array(3, 2))", [2, 3]),
        ("arrayResize(array(1, 2, 3), 2, 0)", [1, 2]),
        ("arrayResize(array(1), 3, 7)", [1, 7, 7]),
        ("arrayReverseSort(array(2, 3, 1))", [3, 2, 1]),
        ("arrayElement(array(10, 20), 2)", 20),
        ("arrayElement(array(10, 20), -1)", 20),
        ("arrayElement(array(10, 20), 5)", None),
        # 1-BASED subscript, the ClickHouse contract (the old form [0]
        # pinned Spark's 0-based passthrough — fixed r11: brackets now
        # rewrite to try_element_at)
        ("arrayZip(array(1, 2), array('a', 'b'))[1]", {"0": 1, "1": "a"}),
    ],
)
def test_array_function_widening(engine, expr, want):
    got = engine.sql(f"SELECT {expr} AS x", dialect="clickhouse").collect()[0][0]
    if isinstance(want, dict):
        got = got.asDict()
        assert got == want
    elif isinstance(got, list) and got and hasattr(got[0], "asDict"):
        assert [g.asDict() for g in got] == want
    else:
        assert got == want


# ---------------------------------------------------------------------------
# r8 review regressions (dialect side)
# ---------------------------------------------------------------------------


class TestReviewRegressions:
    def test_scalar_with_integer_alias_in_group_by(self, engine, spark):
        # a bare integer alias must NOT inline as a literal that GROUP BY /
        # ORDER BY would resolve as a column ORDINAL
        spark.sql(
            "SELECT * FROM VALUES (1, 'a'), (5, 'a'), (9, 'b') AS t(v, g)"
        ).createOrReplaceTempView("swi_t")
        got = engine.sql(
            "WITH 5 AS thr SELECT g, count() AS n FROM swi_t "
            "WHERE v >= thr GROUP BY g ORDER BY g",
            dialect="clickhouse",
        ).collect()
        assert [(r.g, r.n) for r in got] == [("a", 1), ("b", 1)]
        # constant alias IN the group-by list: groups by the constant
        got = engine.sql(
            "WITH 5 AS thr SELECT thr, count() AS n FROM swi_t GROUP BY thr",
            dialect="clickhouse",
        ).collect()
        assert [(r.thr, r.n) for r in got] == [(5, 3)]

    def test_cut_query_string_fragment_only_question_mark(self, engine):
        got = engine.sql(
            "SELECT cutQueryString('https://h.io/a#f?x') AS x",
            dialect="clickhouse",
        ).collect()[0].x
        assert got == "https://h.io/a#f?x"  # no query string: unchanged

    @pytest.mark.parametrize(
        "pat", ["(?t<=36)(?1)(?2)", "(?1)(?2)(?t<10)"]
    )
    def test_dangling_time_condition_refused(self, pat):
        with pytest.raises(ValueError, match="BETWEEN two"):
            translate_clickhouse_sql(
                f"SELECT sequenceMatch('{pat}')(t, c1, c2) FROM x GROUP BY u"
            )

    def test_topk_extra_parameters_refused(self):
        with pytest.raises(ValueError, match="1-parameter"):
            translate_clickhouse_sql("SELECT topK(10, 3)(x) FROM t")

    def test_summap_null_value_drops_not_poisons(self, engine, spark):
        spark.sql(
            "SELECT * FROM VALUES ('g', array('a', 'b'), "
            "array(CAST(NULL AS INT), 2)) AS t(g, ks, vs)"
        ).createOrReplaceTempView("smn_t")
        got = engine.sql(
            "SELECT sumMap(ks, vs) AS m FROM smn_t GROUP BY g",
            dialect="clickhouse",
        ).collect()[0].m
        assert got.keys == ["b"] and [int(v) for v in got.values] == [2]

    def test_summap_length_mismatch_throws(self, engine, spark):
        spark.sql(
            "SELECT * FROM VALUES ('g', array('a', 'b'), array(1)) "
            "AS t(g, ks, vs)"
        ).createOrReplaceTempView("smm_t")
        with pytest.raises(Exception, match="differ in length"):
            engine.sql(
                "SELECT sumMap(ks, vs) AS m FROM smm_t GROUP BY g",
                dialect="clickhouse",
            ).collect()


# ---------------------------------------------------------------------------
# r9 review regressions (dialect side): the four ADVICE items — subquery
# descent must not comma-split a parenthesized SELECT (silent ARRAY JOIN
# fragmentation), WITH FILL value spans must stop at a top-level comma,
# and -Array / arraySum folds must skip NULL elements like ClickHouse
# does on Array(Nullable).
# ---------------------------------------------------------------------------


class TestR9ReviewRegressions:
    @pytest.fixture(scope="class")
    def aj2_view(self, spark):
        spark.sql(
            """SELECT * FROM VALUES
             (1, array(10, 20, 30), array('a', 'b', 'c')),
             (3, array(7), array('z'))
             AS t(k, arr, tags)"""
        ).createOrReplaceTempView("aj2_t")
        return "aj2_t"

    def test_multi_item_array_join_inside_subquery(self, engine, aj2_view):
        """ADVICE r8 (medium): 'FROM (SELECT ... ARRAY JOIN a AS x, b AS y) q'
        used to comma-split the subquery, rewriting only the first item and
        re-joining the rest as a bare FROM term — a silent cross join. The
        descent now translates a parenthesized SELECT as one unit."""
        got = sorted(
            map(
                tuple,
                engine.sql(
                    "SELECT k, x, tg FROM (SELECT k, x, tg FROM aj2_t "
                    "ARRAY JOIN arr AS x, tags AS tg) q WHERE x >= 20",
                    dialect="clickhouse",
                ).collect(),
            )
        )
        assert got == [(1, 20, "b"), (1, 30, "c")]

    def test_single_item_array_join_inside_subquery(self, engine, aj2_view):
        got = sorted(
            map(
                tuple,
                engine.sql(
                    "SELECT k, x FROM (SELECT k, x FROM aj2_t "
                    "ARRAY JOIN arr AS x) q WHERE x > 7",
                    dialect="clickhouse",
                ).collect(),
            )
        )
        assert got == [(1, 10), (1, 20), (1, 30)]

    def test_subquery_select_list_commas_survive_descent(self, engine):
        """A multi-column select list inside IN (...) / FROM (...) must not
        fragment: each comma-split piece would translate (and potentially
        clause-rewrite) independently."""
        got = engine.sql(
            "SELECT count(*) AS c FROM (SELECT 1 AS a, 2 AS b, 3 AS d) q",
            dialect="clickhouse",
        ).collect()[0].c
        assert got == 1

    def test_with_fill_trailing_sort_key_refused(self):
        """ADVICE r8: 'ORDER BY x WITH FILL STEP 2, y' used to absorb the
        trailing sort key into the STEP value; it now routes through the
        loud unsupported-trailing-clause refusal like bare 'WITH FILL, y'."""
        with pytest.raises(ValueError, match="unsupported trailing clause"):
            translate_clickhouse_sql(
                "SELECT x, y FROM t ORDER BY x WITH FILL STEP 2, y"
            )

    def test_with_fill_from_to_trailing_key_refused(self):
        with pytest.raises(ValueError, match="unsupported trailing clause"):
            translate_clickhouse_sql(
                "SELECT x, y FROM t ORDER BY x WITH FILL FROM 1 TO 9, y"
            )

    def test_with_fill_step_function_value_still_parses(self):
        """The comma cut is TOP-LEVEL only: a comma inside a parenthesized
        STEP expression stays part of the value."""
        out = translate_clickhouse_sql(
            "SELECT x FROM t ORDER BY x WITH FILL STEP greatest(1, 2)"
        )
        assert "greatest(1, 2)" in out

    def test_array_combinators_skip_null_elements(self, engine, spark):
        """ADVICE r8: one NULL element used to poison the whole array's
        fold (acc + NULL -> NULL) — sumArray silently dropped the array,
        avgArray dropped the numerator while size() still counted the
        elements. ClickHouse skips NULL elements element-wise."""
        spark.sql(
            """SELECT * FROM VALUES
             (array(1, CAST(NULL AS INT), 3)),
             (array(CAST(NULL AS INT))),
             (CAST(NULL AS array<int>))
             AS t(a)"""
        ).createOrReplaceTempView("nae_t")
        row = engine.sql(
            "SELECT sumArray(a) AS s, avgArray(a) AS m, countArray(a) AS c, "
            "minArray(a) AS lo, maxArray(a) AS hi FROM nae_t",
            dialect="clickhouse",
        ).first()
        assert int(row.s) == 4
        assert float(row.m) == 2.0  # 4 / 2 non-null elements, not 4 / 3
        assert row.c == 2
        assert row.lo == 1 and row.hi == 3

    def test_arraysum_skips_null_elements(self, engine):
        row = engine.sql(
            "SELECT arraySum(array(1, CAST(NULL AS INT), 3)) AS s, "
            "arraySum(array(CAST(NULL AS INT))) AS all_null",
            dialect="clickhouse",
        ).first()
        assert int(row.s) == 4
        assert int(row.all_null) == 0


# ---------------------------------------------------------------------------
# windowFunnel strictness modes (r9): strict_order / strict_deduplication /
# strict_increase, hand-traced through the published getEventLevel
# algorithm (each user below is one hand-computed trace)
# ---------------------------------------------------------------------------


class TestWindowFunnelStrictModes:
    @pytest.fixture(scope="class")
    def wfm_view(self, spark):
        rows = [
            # u_ok: clean A->B->C
            ("u_ok", 1.0, "A"), ("u_ok", 2.0, "B"), ("u_ok", 3.0, "C"),
            # u_inter: unmatched D between B and C
            ("u_inter", 1.0, "A"), ("u_inter", 2.0, "B"),
            ("u_inter", 3.0, "D"), ("u_inter", 4.0, "C"),
            # u_repeat: B repeats before C completes
            ("u_repeat", 1.0, "A"), ("u_repeat", 2.0, "B"),
            ("u_repeat", 3.0, "B"), ("u_repeat", 4.0, "C"),
            # u_ooo: C arrives before its B prefix
            ("u_ooo", 1.0, "A"), ("u_ooo", 2.0, "C"),
            ("u_ooo", 3.0, "B"), ("u_ooo", 4.0, "C"),
            # u_tie: A and B share a timestamp
            ("u_tie", 5.0, "A"), ("u_tie", 5.0, "B"), ("u_tie", 6.0, "C"),
            # u_top: full chain completes BEFORE a later B repeat
            ("u_top", 1.0, "A"), ("u_top", 2.0, "B"),
            ("u_top", 3.0, "C"), ("u_top", 4.0, "B"),
            # u_lead: unmatched noise before the chain starts
            ("u_lead", 0.0, "D"), ("u_lead", 1.0, "A"), ("u_lead", 2.0, "B"),
        ]
        spark.createDataFrame(rows, ["u", "ts", "et"]).createOrReplaceTempView(
            "wfm_t"
        )
        return "wfm_t"

    def _levels(self, engine, modes=""):
        got = engine.sql(
            f"SELECT u, windowFunnel(10{modes})(ts, et = 'A', et = 'B', "
            "et = 'C') AS lvl FROM wfm_t GROUP BY u",
            dialect="clickhouse",
        ).collect()
        return {r.u: r.lvl for r in got}

    def test_default_mode_unchanged(self, engine, wfm_view):
        m = self._levels(engine)
        assert m == {
            "u_ok": 3, "u_inter": 3, "u_repeat": 3, "u_ooo": 3,
            "u_tie": 3, "u_top": 3, "u_lead": 2,
        }

    def test_strict_order_breaks_on_interleaved_and_out_of_order(
        self, engine, wfm_view
    ):
        m = self._levels(engine, ", 'strict_order'")
        # u_inter: D@3 after the chain started -> scan ends at level 2;
        # u_ooo: C@2 with B unreached -> ends at deepest contiguous (1);
        # u_lead: leading noise before the first A is skipped (CH's
        # `continue` before first_event)
        assert m["u_inter"] == 2
        assert m["u_ooo"] == 1
        assert m["u_lead"] == 2
        assert m["u_ok"] == 3 and m["u_top"] == 3

    def test_strict_deduplication_interrupts_on_repeat(self, engine, wfm_view):
        m = self._levels(engine, ", 'strict_deduplication'")
        # u_repeat: second B while level 2 already reached -> result 2,
        # even though C@4 would have completed the chain
        assert m["u_repeat"] == 2
        # u_top: the chain COMPLETED at C@3 before the repeat -> 3 (CH
        # returns events_size immediately on completion)
        assert m["u_top"] == 3
        assert m["u_ok"] == 3
        # deprecated alias
        assert self._levels(engine, ", 'strict'")["u_repeat"] == 2

    def test_strict_increase_requires_later_timestamps(self, engine, wfm_view):
        m = self._levels(engine, ", 'strict_increase'")
        # u_tie: B shares A's timestamp -> cannot advance -> level 1
        assert m["u_tie"] == 1
        assert m["u_ok"] == 3 and m["u_repeat"] == 3

    def test_modes_combine(self, engine, wfm_view):
        m = self._levels(engine, ", 'strict_order', 'strict_increase'")
        assert m["u_tie"] == 1 and m["u_inter"] == 2 and m["u_ok"] == 3


# ---------------------------------------------------------------------------
# r9 fuzz: the strict-mode funnel fold vs a line-by-line Python port of the
# published getEventLevel (ALL branch orderings), and the sequenceMatch
# time-gap DP vs an EXACT completion-time-set reference — which also
# proves the extremes optimization (earliest for >/>=, latest for </<=)
# exact on random streams, not just by argument.
# ---------------------------------------------------------------------------


def _ch_funnel_reference_modes(
    events, window, ncond, s_order=False, s_dedup=False, s_inc=False
):
    pairs = []
    for t, cs in events:
        matched = False
        for i, m in enumerate(cs, 1):
            if m:
                pairs.append((t, i))
                matched = True
        if s_order and not matched:
            pairs.append((t, 0))
    pairs.sort()
    starts = [None] * ncond  # chain start per level
    utimes = [None] * ncond  # completing event's time per level
    first_event = False

    def deepest():
        for i in range(ncond - 1, -1, -1):
            if starts[i] is not None:
                return i + 1
        return 0

    for t, idx in pairs:
        if s_order and idx == 0:
            if first_event:
                break
            continue
        if idx == 1:
            starts[0], utimes[0] = t, t
            first_event = True
            continue
        if s_dedup and starts[idx - 1] is not None:
            return idx
        if s_order and first_event and starts[idx - 2] is None:
            for e in range(ncond):
                if starts[e] is None:
                    return e
        if (
            starts[idx - 2] is not None
            and t <= starts[idx - 2] + window
            and (not s_inc or t > utimes[idx - 2])
        ):
            starts[idx - 1] = starts[idx - 2]
            utimes[idx - 1] = t
            if idx == ncond:
                return ncond
    return deepest()


def _run_funnel_modes(engine, events, window, ncond, modes):
    vals = ", ".join(
        f"({t}, {', '.join('true' if m else 'false' for m in cs)})"
        for t, cs in events
    )
    cols = ", ".join(f"c{i}" for i in range(1, ncond + 1))
    mode_args = "".join(f", '{m}'" for m in modes)
    return engine.sql(
        f"SELECT windowFunnel({window}{mode_args})(t, {cols}) AS lvl "
        f"FROM (SELECT * FROM VALUES {vals} AS v(t, {cols})) GROUP BY 1 = 1",
        dialect="clickhouse",
    ).first().lvl


def test_window_funnel_strict_modes_match_algorithm_port(engine):
    import itertools
    import random

    rng = random.Random(99)
    mode_sets = [
        ("strict_order",),
        ("strict_deduplication",),
        ("strict_increase",),
        ("strict_order", "strict_increase"),
        ("strict_deduplication", "strict_increase"),
    ]
    cases = 0
    for trial in range(30):
        ncond = rng.choice([2, 3, 4])
        events = [
            (rng.randint(0, 9), [rng.random() < 0.4 for _ in range(ncond)])
            for _ in range(rng.randint(1, 7))
        ]
        window = rng.choice([0, 2, 5, 100])
        modes = mode_sets[trial % len(mode_sets)]
        want = _ch_funnel_reference_modes(
            events,
            window,
            ncond,
            s_order="strict_order" in modes,
            s_dedup="strict_deduplication" in modes,
            s_inc="strict_increase" in modes,
        )
        got = _run_funnel_modes(engine, events, window, ncond, modes)
        assert got == want, (events, window, ncond, modes, got, want)
        cases += 1
    assert cases == 30


def _ch_seq_reference_sets(steps, rows, count=False):
    """Exact-set twin of _sequence_match_expr's DP: full completion-time
    SETS for every prefix (a superset of the engine's extremes), points
    ordered by (t, condition flags) like the fold's array_sort."""
    pts = sorted(
        (t, tuple(cs)) for t, cs in rows if any(cs)
    )
    k = len(steps)
    A = [False] * k
    S = [[] for _ in range(k)]
    n_matches = 0
    for t, flags in pts:
        new_a = []
        for p, (cidx, gap) in enumerate(steps, 1):
            f = flags[cidx - 1]
            if p == 1:
                a = f
            elif gap == "adj":
                a = f and A[p - 2]
            elif gap == "star":
                a = f and bool(S[p - 2])
            else:
                a = f and any(
                    all(
                        (t - c) == float(v)
                        if op == "=="
                        else (t - c) > float(v)
                        if op == ">"
                        else (t - c) >= float(v)
                        if op == ">="
                        else (t - c) < float(v)
                        if op == "<"
                        else (t - c) <= float(v)
                        for op, v in gap
                    )
                    for c in S[p - 2]
                )
            new_a.append(a)
        if count and new_a[-1]:
            n_matches += 1
            A = [False] * k
            S = [[] for _ in range(k)]
            continue
        for p in range(k):
            if new_a[p]:
                S[p].append(t)
        A = new_a
    if count:
        return n_matches
    return 1 if S[k - 1] else 0


def test_sequence_match_time_gaps_match_exact_set_reference(engine):
    import random

    from binance_etl_clickhouse_spark.dialect import _parse_sequence_pattern

    rng = random.Random(17)
    gap_pool = [
        "", ".*", "(?t>2)", "(?t>=3)", "(?t<4)", "(?t<=5)", "(?t==3)",
        "(?t>1)(?t<6)", "(?t>=2)(?t<=4)",
    ]
    for trial in range(30):
        ncond = rng.choice([2, 3])
        n_steps = rng.choice([2, 3])
        pat = f"(?{rng.randint(1, ncond)})"
        for _ in range(n_steps - 1):
            pat += rng.choice(gap_pool) + f"(?{rng.randint(1, ncond)})"
        rows = [
            (rng.randint(0, 9), [rng.random() < 0.5 for _ in range(ncond)])
            for _ in range(rng.randint(1, 7))
        ]
        steps = _parse_sequence_pattern(pat)
        want = _ch_seq_reference_sets(steps, rows)
        got = _run_seqmatch(engine, pat, rows, ncond)
        assert got == want, (pat, rows, got, want)
        # sequenceCount against the same reference with resets
        want_n = _ch_seq_reference_sets(steps, rows, count=True)
        vals = ", ".join(
            f"({t}, {', '.join('true' if m else 'false' for m in cs)})"
            for t, cs in rows
        )
        cols = ", ".join(f"c{i}" for i in range(1, ncond + 1))
        got_n = engine.sql(
            f"SELECT sequenceCount('{pat}')(t, {cols}) AS n "
            f"FROM (SELECT * FROM VALUES {vals} AS v(t, {cols})) GROUP BY 1 = 1",
            dialect="clickhouse",
        ).first().n
        assert got_n == want_n, (pat, rows, got_n, want_n)


# ---------------------------------------------------------------------------
# WITH FILL sorting prefix (r9): ORDER BY g, x WITH FILL fills each g
# group INDEPENDENTLY (ClickHouse use_with_fill_by_sorting_prefix
# semantics, default-on) — partitioned windows, prefix keys carried into
# generated rows.
# ---------------------------------------------------------------------------


class TestWithFillSortingPrefix:
    @pytest.fixture(scope="class")
    def wfp_view(self, spark):
        spark.sql(
            """SELECT * FROM VALUES
             ('a', 1, 10.0), ('a', 4, 40.0),
             ('b', 10, 100.0), ('b', 12, 120.0)
             AS t(g, x, v)"""
        ).createOrReplaceTempView("wfp_t")
        return "wfp_t"

    def _rows(self, engine, sql):
        return [
            (r.g, r.x, r.v)
            for r in engine.sql(sql, dialect="clickhouse").collect()
        ]

    def test_per_prefix_gap_fill(self, engine, wfp_view):
        got = self._rows(
            engine, "SELECT g, x, v FROM wfp_t ORDER BY g, x WITH FILL"
        )
        # group a fills 2,3; group b fills 11 — INDEPENDENTLY (a global
        # fill would bridge 4..10); prefix keys carried into fill rows
        assert got == [
            ("a", 1, 10.0), ("a", 2, None), ("a", 3, None), ("a", 4, 40.0),
            ("b", 10, 100.0), ("b", 11, None), ("b", 12, 120.0),
        ]

    def test_per_prefix_step(self, engine, wfp_view):
        got = self._rows(
            engine, "SELECT g, x, v FROM wfp_t ORDER BY g, x WITH FILL STEP 2"
        )
        assert got == [
            ("a", 1, 10.0), ("a", 3, None), ("a", 4, 40.0),
            ("b", 10, 100.0), ("b", 12, 120.0),
        ]

    def test_per_prefix_from_to(self, engine, spark):
        spark.sql(
            """SELECT * FROM VALUES
             ('a', 1, 10.0), ('a', 3, 30.0), ('b', 2, 20.0)
             AS t(g, x, v)"""
        ).createOrReplaceTempView("wfp2_t")
        got = self._rows(
            engine,
            "SELECT g, x, v FROM wfp2_t ORDER BY g, x WITH FILL FROM 1 TO 4",
        )
        # each group gets its own FROM edge and TO tail
        assert got == [
            ("a", 1, 10.0), ("a", 2, None), ("a", 3, 30.0),
            ("b", 1, None), ("b", 2, 20.0), ("b", 3, None),
        ]

    def test_per_prefix_interpolate_locf(self, engine, wfp_view):
        got = self._rows(
            engine,
            "SELECT g, x, v FROM wfp_t ORDER BY g, x WITH FILL "
            "INTERPOLATE (v)",
        )
        # LOCF carries within the group only (b's 11 carries 100, not 40)
        assert got == [
            ("a", 1, 10.0), ("a", 2, 10.0), ("a", 3, 10.0), ("a", 4, 40.0),
            ("b", 10, 100.0), ("b", 11, 100.0), ("b", 12, 120.0),
        ]

    def test_two_prefix_keys_and_desc_prefix(self, engine, spark):
        spark.sql(
            """SELECT * FROM VALUES
             ('a', 'p', 1, 1.0), ('a', 'p', 3, 3.0), ('a', 'q', 7, 7.0),
             ('b', 'p', 1, 1.0)
             AS t(g1, g2, x, v)"""
        ).createOrReplaceTempView("wfp3_t")
        got = [
            (r.g1, r.g2, r.x)
            for r in engine.sql(
                "SELECT g1, g2, x, v FROM wfp3_t "
                "ORDER BY g1 DESC, g2, x WITH FILL",
                dialect="clickhouse",
            ).collect()
        ]
        assert got == [
            ("b", "p", 1),
            ("a", "p", 1), ("a", "p", 2), ("a", "p", 3),
            ("a", "q", 7),
        ]

    def test_interpolating_a_prefix_key_refused(self):
        with pytest.raises(ValueError, match="sorting-prefix"):
            translate_clickhouse_sql(
                "SELECT g, x FROM t ORDER BY g, x WITH FILL INTERPOLATE (g)"
            )


# ---------------------------------------------------------------------------
# r9 scalar widening: OrNull/OrZero cast forms, interval constructors, map
# functions, and the misc date/float/string family — end to end.
# ---------------------------------------------------------------------------


def test_r9_cast_fallback_forms(engine):
    row = engine.sql(
        """
        SELECT toInt64OrNull('42') AS a, toInt64OrNull('nope') AS b,
               toFloat64OrNull('2.5') AS c, toInt32OrZero('7') AS d,
               toInt32OrZero('xx') AS e, toDateOrNull('2024-02-03') AS f,
               toDateOrNull('junk') AS g, toDateOrZero('junk') AS h
        """,
        dialect="clickhouse",
    ).first()
    import datetime

    assert row.a == 42 and row.b is None
    assert row.c == 2.5
    assert row.d == 7 and row.e == 0
    assert row.f == datetime.date(2024, 2, 3) and row.g is None
    assert row.h == datetime.date(1970, 1, 1)


def test_r9_scalar_family_end_to_end(engine):
    row = engine.sql(
        """
        SELECT toMonday(toDateTime('2024-02-15 13:00:00')) AS mon,
               toLastDayOfMonth(toDateTime('2024-02-15 13:00:00')) AS eom,
               isFinite(1.5) AS fin,
               isFinite(toFloat64('Infinity')) AS fin_inf,
               isInfinite(toFloat64('-Infinity')) AS inf_neg,
               isInfinite(2.0) AS inf_no,
               isFinite(toFloat64('NaN')) AS fin_nan,
               countSubstrings('ababab', 'ab') AS n_ab,
               countSubstrings('aaa', 'aa') AS n_aa,
               countSubstrings('abc', '') AS n_empty,
               bitCount(7) AS bits,
               mapContains(map('k', 1), 'k') AS has_k,
               map_keys(map('k', 1)) AS mk,
               timeSlot(toDateTime('2024-01-01 10:44:55')) AS slot,
               yesterday() <= today() AS y_ok,
               reverseUTF8('héllo') AS rev,
               arrayAvg(array(1, NULL, 3)) AS aavg,
               arrayProduct(array(2.0, 3.0)) AS aprod,
               toDecimal64(1.5, 2) AS dec64
        """,
        dialect="clickhouse",
    ).first()
    import datetime
    from decimal import Decimal

    assert row.mon == datetime.date(2024, 2, 12)  # the Monday of that week
    assert row.eom == datetime.date(2024, 2, 29)
    assert row.fin and not row.fin_inf and not row.fin_nan
    assert row.inf_neg and not row.inf_no
    assert row.n_ab == 3 and row.n_aa == 1 and row.n_empty == 0
    assert row.bits == 3
    assert row.has_k and row.mk == ["k"]
    assert row.slot == datetime.datetime(2024, 1, 1, 10, 30, 0)
    assert row.y_ok
    assert row.rev == "olléh"
    assert float(row.aavg) == 2.0  # NULL element skipped
    assert float(row.aprod) == 6.0
    assert row.dec64 == Decimal("1.50")


def test_r9_interval_constructors(engine):
    row = engine.sql(
        """
        SELECT toDateTime('2024-01-31 00:00:00') + toIntervalDay(2) AS d,
               toDateTime('2024-01-31 00:00:00') + toIntervalMonth(1) AS m,
               toDateTime('2024-01-01 00:00:00') + toIntervalQuarter(2) AS q,
               toDateTime('2024-01-01 00:00:00') + toIntervalHour(25) AS h
        """,
        dialect="clickhouse",
    ).first()
    import datetime

    assert row.d == datetime.datetime(2024, 2, 2)
    assert row.m == datetime.datetime(2024, 2, 29)  # month-end clamp
    assert row.q == datetime.datetime(2024, 7, 1)
    assert row.h == datetime.datetime(2024, 1, 2, 1, 0, 0)


def test_r9_base64_and_uuid(engine):
    row = engine.sql(
        """
        SELECT base64Encode('héllo') AS enc,
               base64Decode(base64Encode('héllo')) AS roundtrip,
               tryBase64Decode('aGk=') AS hi,
               length(generateUUIDv4()) AS uuid_len
        """,
        dialect="clickhouse",
    ).first()
    import base64

    assert row.enc == base64.b64encode("héllo".encode()).decode()
    assert row.roundtrip == "héllo"
    assert row.hi == "hi"
    assert row.uuid_len == 36


# ---------------------------------------------------------------------------
# LIMIT offset forms (r9): per-group 'LIMIT m, n BY' / 'LIMIT n OFFSET m
# BY' and the global 'LIMIT m, n' spelling.
# ---------------------------------------------------------------------------


class TestLimitOffsetForms:
    @pytest.fixture(scope="class")
    def lb_view(self, spark):
        spark.sql(
            """SELECT * FROM VALUES
             ('a', 1), ('a', 2), ('a', 3), ('a', 4),
             ('b', 10), ('b', 20)
             AS t(g, v)"""
        ).createOrReplaceTempView("lbo_t")
        return "lbo_t"

    def _rows(self, engine, sql):
        return sorted(
            (r.g, r.v)
            for r in engine.sql(sql, dialect="clickhouse").collect()
        )

    def test_limit_comma_by(self, engine, lb_view):
        got = self._rows(
            engine,
            "SELECT g, v FROM lbo_t ORDER BY v LIMIT 1, 2 BY g",
        )
        # skip 1, keep 2 per group (ordered by v)
        assert got == [("a", 2), ("a", 3), ("b", 20)]

    def test_limit_offset_by(self, engine, lb_view):
        got = self._rows(
            engine,
            "SELECT g, v FROM lbo_t ORDER BY v LIMIT 2 OFFSET 2 BY g",
        )
        assert got == [("a", 3), ("a", 4)]

    def test_plain_limit_by_unchanged(self, engine, lb_view):
        got = self._rows(
            engine, "SELECT g, v FROM lbo_t ORDER BY v LIMIT 1 BY g"
        )
        assert got == [("a", 1), ("b", 10)]

    def test_global_limit_comma(self, engine, lb_view):
        got = [
            (r.g, r.v)
            for r in engine.sql(
                "SELECT g, v FROM lbo_t ORDER BY v LIMIT 2, 3",
                dialect="clickhouse",
            ).collect()
        ]
        # offset 2, take 3 of the globally ordered rows
        assert got == [("a", 3), ("a", 4), ("b", 10)]

    def test_global_and_per_group_compose(self, engine, lb_view):
        # the CH clause order: [ORDER BY] LIMIT m, n BY cols [LIMIT m, n]
        got = [
            (r.g, r.v)
            for r in engine.sql(
                "SELECT g, v FROM lbo_t ORDER BY v LIMIT 1, 2 BY g "
                "LIMIT 1, 2",
                dialect="clickhouse",
            ).collect()
        ]
        # per-group: a->(2,3), b->(20); then global offset 1 take 2 of
        # (2, 3, 20)
        assert got == [("a", 3), ("b", 20)]

    def test_limit_comma_by_parenthesized_group_list(self, engine, lb_view):
        # r10 (r9 advice): a parenthesized BY list emits no keyword token
        # after BY, so the comma-form guard must only require toks[idx+3]
        # (the BY itself) — `LIMIT 1, 2 BY (g)` rewrites like the bare form
        got = self._rows(
            engine,
            "SELECT g, v FROM lbo_t ORDER BY v LIMIT 1, 2 BY (g)",
        )
        assert got == [("a", 2), ("a", 3), ("b", 20)]

    def test_limit_by_orders_by_an_unselected_column(self, engine, spark):
        # ClickHouse accepts an ORDER BY column the SELECT list drops; the
        # per-group window and the outer ORDER BY must still see it
        spark.sql(
            """SELECT * FROM VALUES
             ('a', 1, 5.0), ('a', 2, 9.0), ('a', 3, 7.0),
             ('b', 4, 1.0), ('b', 5, 3.0)
             AS t(symbol, ts, volume)"""
        ).createOrReplaceTempView("lbo_vol")
        rows = engine.sql(
            "SELECT symbol, ts FROM lbo_vol ORDER BY symbol, volume DESC "
            "LIMIT 1 BY symbol",
            dialect="clickhouse",
        ).collect()
        assert [tuple(r) for r in rows] == [("a", 2), ("b", 5)]
        assert rows[0].__fields__ == ["symbol", "ts"]

    def test_limit_offset_by_parenthesized_group_list(self, engine, lb_view):
        got = self._rows(
            engine,
            "SELECT g, v FROM lbo_t ORDER BY v LIMIT 2 OFFSET 2 BY (g)",
        )
        assert got == [("a", 3), ("a", 4)]

    def test_string_shapes(self):
        t = translate_clickhouse_sql
        assert "__lb_rn > 1 AND __lb_rn <= 3" in t(
            "SELECT v FROM t LIMIT 1, 2 BY g"
        )
        # parenthesized BY list, comma form (r10 regression — fell through)
        got_paren = t("SELECT v FROM t LIMIT 1, 2 BY (g)")
        assert "__lb_rn > 1 AND __lb_rn <= 3" in got_paren
        assert "PARTITION BY (g)" in got_paren
        assert "__lb_rn > 2 AND __lb_rn <= 4" in t(
            "SELECT v FROM t LIMIT 2 OFFSET 2 BY g"
        )
        assert t("SELECT v FROM t ORDER BY v LIMIT 3, 5") == (
            "SELECT v FROM t ORDER BY v LIMIT 5 OFFSET 3"
        )
        # a literal '2, 3' inside a string survives
        q = "SELECT 'LIMIT 2, 3' AS s FROM t"
        assert t(q) == q


# ---------------------------------------------------------------------------
# r9 fuzz: WITH FILL (incl. sorting prefix, FROM/TO/STEP) vs a direct
# Python simulation of the documented FillingTransform semantics —
# per-gap fills re-anchored at every original row, per-group FROM edge
# and TO tail, fills strictly between bounds.
# ---------------------------------------------------------------------------


def _fill_reference(rows, frm, to, step):
    """rows: list[(g, x)] originals. Returns sorted [(g, x, is_fill)]."""
    from collections import defaultdict

    groups = defaultdict(list)
    for g, x in rows:
        groups[g].append(x)
    out = []
    for g, xs in groups.items():
        xs.sort()
        # FROM edge off the group's first row
        if frm is not None:
            eb = min(xs[0], to) if to is not None else xs[0]
            if frm <= eb:
                v = frm
                while v < eb:
                    out.append((g, v, True))
                    v += step
        for i, x in enumerate(xs):
            out.append((g, x, False))
            nxt = xs[i + 1] if i + 1 < len(xs) else None
            if nxt is None:
                gb = to
            elif to is not None:
                gb = min(nxt, to)
            else:
                gb = nxt
            if gb is not None and x <= gb:
                v = x + step
                while v < gb:
                    out.append((g, v, True))
                    v += step
    return sorted(out)


def test_with_fill_matches_filling_transform_simulation(engine, spark):
    import random

    rng = random.Random(23)
    for trial in range(18):
        n_groups = rng.choice([1, 2, 3])
        gs = ["g%d" % i for i in range(n_groups)]
        rows = sorted(
            {
                (rng.choice(gs), rng.randint(0, 14))
                for _ in range(rng.randint(2, 9))
            }
        )
        step = rng.choice([1, 1, 2, 3])
        frm = rng.choice([None, None, 0, 2])
        to = rng.choice([None, None, 10, 16])
        vals = ", ".join(f"('{g}', {x}, {x * 100})" for g, x in rows)
        spark.sql(
            f"SELECT * FROM VALUES {vals} AS t(g, x, v)"
        ).createOrReplaceTempView("wff_t")
        clause = "WITH FILL"
        if frm is not None:
            clause += f" FROM {frm}"
        if to is not None:
            clause += f" TO {to}"
        if step != 1:
            clause += f" STEP {step}"
        prefix = "g, " if n_groups > 1 or rng.random() < 0.5 else ""
        sql = f"SELECT g, x, v FROM wff_t ORDER BY {prefix}x {clause}"
        if not prefix:
            # no sorting prefix: restrict the data to ONE group so the
            # global fill and the per-group reference agree
            if n_groups > 1:
                continue
        only_g = gs[0] if not prefix else None
        got = sorted(
            # without a sorting prefix, g is a REGULAR column and blanks
            # to NULL on fill rows (single-group data keeps the reference
            # comparable by restoring the group's name)
            (r.g if r.g is not None else only_g, r.x, r.v is None)
            for r in engine.sql(sql, dialect="clickhouse").collect()
        )
        want = _fill_reference(rows, frm, to, step)
        assert got == want, (sql, rows, got, want)


def test_r10_scalar_batch_translations():
    """r10 widening: dateTrunc/toISOWeek/monthName/age/timestampAdd/
    timestampSub/emptyArray<T> — string shapes plus idempotence."""
    t = translate_clickhouse_sql
    assert t("SELECT dateTrunc('hour', ts) FROM t") == (
        "SELECT date_trunc('hour', ts) FROM t"
    )
    assert t("SELECT toISOWeek(ts) FROM t") == "SELECT weekofyear(ts) FROM t"
    assert t("SELECT monthName(ts) FROM t") == (
        "SELECT date_format(ts, 'MMMM') FROM t"
    )
    assert t("SELECT age('day', a, b) FROM t") == (
        "SELECT timestampdiff(DAY, a, b) FROM t"
    )
    # non-literal / unknown unit passes through (fails loudly downstream)
    assert t("SELECT age(u, a, b) FROM t") == "SELECT age(u, a, b) FROM t"
    assert t("SELECT timestampAdd(ts, INTERVAL 1 DAY) FROM t") == (
        "SELECT (ts + INTERVAL 1 DAY) FROM t"
    )
    assert t("SELECT timestampSub(ts, INTERVAL 2 HOUR) FROM t") == (
        "SELECT (ts - INTERVAL 2 HOUR) FROM t"
    )
    assert t("SELECT emptyArrayString() FROM t") == (
        "SELECT CAST(array() AS ARRAY<STRING>) FROM t"
    )
    assert t("SELECT emptyArrayUInt32() FROM t") == (
        "SELECT CAST(array() AS ARRAY<BIGINT>) FROM t"
    )
    # unsupported element type passes through untouched
    assert t("SELECT emptyArrayNope() FROM t") == "SELECT emptyArrayNope() FROM t"
    # idempotence of every rewrite above
    for q in (
        "SELECT dateTrunc('hour', ts), toISOWeek(ts), monthName(ts), "
        "age('day', a, b), timestampAdd(ts, INTERVAL 1 DAY), "
        "emptyArrayInt64() FROM t",
    ):
        once = t(q)
        assert t(once) == once


def test_topk_weighted_exact(engine):
    """r10: topKWeighted(k)(x, w) — EXACT weighted top-k by descending
    total weight (CH sketches); ties ascending by value; struct-packed
    single collect so value/weight pairing is aggregation-order-proof."""
    engine.spark.sql(
        "CREATE OR REPLACE TEMP VIEW tkw AS SELECT * FROM VALUES "
        "('a', 1), ('a', 1), ('b', 5), ('c', 3), ('c', 1), ('d', 4) AS t(x, w)"
    )
    r = engine.sql(
        "SELECT topKWeighted(3)(x, w) AS top FROM tkw", dialect="clickhouse"
    ).collect()[0]
    assert list(r.top) == ["b", "c", "d"]  # weights 5, 4, 4 -> tie c<d
    # per-group form
    engine.spark.sql(
        "CREATE OR REPLACE TEMP VIEW tkw2 AS SELECT * FROM VALUES "
        "('g1', 'x', 10), ('g1', 'y', 1), ('g2', 'z', 2) AS t(g, x, w)"
    )
    rows = engine.sql(
        "SELECT g, topKWeighted(1)(x, w) AS top FROM tkw2 GROUP BY g "
        "ORDER BY g",
        dialect="clickhouse",
    ).collect()
    assert [(r.g, list(r.top)) for r in rows] == [("g1", ["x"]), ("g2", ["z"])]
    # unsupported parameter counts fail loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="topKWeighted"):
        engine.sql(
            "SELECT topKWeighted(3, 10)(x, w) FROM tkw", dialect="clickhouse"
        )


# -- round-11 fixes: translator idempotence + PREWHERE/WHERE merge -----------


def test_distinct_paren_idempotent_deterministic():
    """r10 verdict item 1: the uniqExact/uniqUpTo rewrites emit
    ``count(DISTINCT (expr))``; the call scanner must NOT collapse the
    keyword-space-paren on a second pass (DISTINCT is a keyword, not a
    call head) — the translator's published invariant is an exact fixed
    point after one pass."""
    t = translate_clickhouse_sql
    for q in [
        "SELECT argMax(uniqExact(isFinite(x)), x) FROM t",
        "SELECT count(DISTINCT (x)) FROM t",
        "SELECT count(DISTINCT (a), b) FROM t",
        "SELECT uniqUpTo(3)(isFinite(x)) FROM t",
        "SELECT DISTINCT (a) FROM t",
    ]:
        once = t(q)
        assert t(once) == once, q


def test_prewhere_where_merges_into_single_where():
    """``PREWHERE p WHERE w`` is valid ClickHouse (the conditions AND
    together); the translator must emit ONE WHERE, not the invalid
    ``WHERE p WHERE w``."""
    t = translate_clickhouse_sql
    assert (
        t("SELECT x FROM e PREWHERE a > 1 WHERE b < 2")
        == "SELECT x FROM e WHERE (a > 1) AND (b < 2)"
    )
    # after FINAL, with trailing clauses
    assert (
        t("SELECT x FROM e FINAL PREWHERE a > 1 WHERE b < 2 GROUP BY x")
        == "SELECT x FROM e WHERE (a > 1) AND (b < 2) GROUP BY x"
    )
    # inside a subquery scope, independent of the outer WHERE
    assert (
        t(
            "SELECT x FROM (SELECT x, a, b FROM e PREWHERE a > 1 "
            "WHERE b < 2) q WHERE x > 0"
        )
        == "SELECT x FROM(SELECT x, a, b FROM e WHERE (a > 1) AND (b < 2))"
        " q WHERE x > 0"
    )
    # the merge must NOT reach across a set-op boundary
    assert (
        t("SELECT a FROM t PREWHERE p = 1 UNION ALL SELECT b FROM u WHERE w = 2")
        == "SELECT a FROM t WHERE p = 1 UNION ALL SELECT b FROM u WHERE w = 2"
    )
    # a subquery inside the PREWHERE predicate does not confuse the scan
    got = t("SELECT x FROM e PREWHERE a IN (SELECT k FROM d WHERE v = 1) WHERE b < 2")
    assert got.count("WHERE (a IN") == 1 and "AND (b < 2)" in got


def test_prewhere_where_runs_and_matches_plain_and(engine):
    got = engine.sql(
        "SELECT count(*) AS n FROM orders FINAL "
        "PREWHERE o_totalprice > 1000 WHERE o_orderpriority = '1-URGENT'",
        dialect="clickhouse",
    ).first()
    want = engine.spark.sql(
        "SELECT count(*) AS n FROM orders "
        "WHERE o_totalprice > 1000 AND o_orderpriority = '1-URGENT'"
    ).first()
    assert got.n == want.n and got.n > 0


@pytest.mark.parametrize(
    "q",
    [
        "SELECT x FROM e PREWHERE a > 1 WHERE b < 2",
        "SELECT x FROM e FINAL PREWHERE a > 1 WHERE b < 2 ORDER BY x LIMIT 3",
        "SELECT x, count(*) AS n FROM e PREWHERE a > 1 WHERE b < 2 "
        "GROUP BY x HAVING count(*) > 1",
        "SELECT x FROM e PREWHERE has(tags, 'k') WHERE b < 2 SETTINGS max_threads = 4",
        "SELECT x FROM (SELECT * FROM e PREWHERE a = 1 WHERE b = 2) q "
        "PREWHERE x > 0 WHERE x < 10",
    ],
)
def test_prewhere_where_fixed_point_fuzz(q):
    once = translate_clickhouse_sql(q)
    assert "PREWHERE" not in once.upper()
    # each PREWHERE merged INTO its WHERE: the WHERE count drops by the
    # PREWHERE count (count("WHERE") also matches the WHERE inside each
    # PREWHERE token, hence the 2x)
    n_pre = q.upper().count("PREWHERE")
    assert once.upper().count("WHERE") == q.upper().count("WHERE") - 2 * n_pre + n_pre
    assert translate_clickhouse_sql(once) == once


# -- round-11 function wave: brackets, stats, tuples, table functions --------


class TestBracketSyntax:
    """CH bracket syntax: [a, b] literals -> array(); base[i] subscripts
    -> try_element_at (1-BASED — Spark's native a[i] is 0-based and
    silently returned the wrong element before r11)."""

    def test_subscript_is_one_based(self, engine):
        engine.spark.sql(
            "CREATE OR REPLACE TEMP VIEW brk AS SELECT array(10, 20, 30) AS arr"
        )
        r = engine.sql(
            "SELECT arr[1] AS first, arr[3] AS last, arr[4] AS oob, "
            "arr[-1] AS neg FROM brk",
            dialect="clickhouse",
        ).collect()[0]
        assert (r.first, r.last, r.oob, r.neg) == (10, 30, None, 30)

    def test_array_literals_and_in_list(self, engine):
        r = engine.sql(
            "SELECT [1, 2, 3] AS a, [] AS e, [[1], [2, 3]] AS nested",
            dialect="clickhouse",
        ).collect()[0]
        assert list(r.a) == [1, 2, 3] and list(r.e) == []
        assert [list(x) for x in r.nested] == [[1], [2, 3]]
        rows = engine.sql(
            "SELECT x FROM (SELECT explode(array(1, 5, 9)) AS x) "
            "WHERE x IN [1, 9]",
            dialect="clickhouse",
        ).collect()
        assert sorted(r.x for r in rows) == [1, 9]

    def test_subscript_chains_and_postfix_bases(self, engine):
        engine.spark.sql(
            "CREATE OR REPLACE TEMP VIEW brk2 AS SELECT "
            "map('a', array(7, 8)) AS m, array(1, 2) AS arr"
        )
        r = engine.sql(
            "SELECT m['a'][2] AS chained, "
            "(arrayMap(x -> x * 10, arr))[1] AS grouped, "
            "splitByChar(',', 'p,q')[2] AS call FROM brk2",
            dialect="clickhouse",
        ).collect()[0]
        assert (r.chained, r.grouped, r.call) == (8, 10, "q")

    def test_string_literal_brackets_untouched(self, engine):
        r = engine.sql(
            "SELECT 'lit[1]' AS s", dialect="clickhouse"
        ).collect()[0]
        assert r.s == "lit[1]"

    def test_fixed_point(self):
        for q in [
            "SELECT arr[1] FROM t",
            "SELECT [1, 2] AS a FROM t WHERE x IN [3, 4]",
            "SELECT m['k'][2] FROM t",
        ]:
            once = translate_clickhouse_sql(q)
            assert "[" not in once.replace("['", "xx")  # bracket-free
            assert translate_clickhouse_sql(once) == once


class TestR11FunctionWave:
    @pytest.fixture()
    def feng(self, engine):
        engine.spark.sql(
            "CREATE OR REPLACE TEMP VIEW fw AS SELECT * FROM VALUES "
            "(1.5, 'abc,def', 2, 3, TIMESTAMP'2024-01-05 10:00:00', "
            "array(3, 1, 2), 10, 1), "
            "(2.5, 'xyz', 4, 5, TIMESTAMP'2024-02-05 10:00:00', "
            "array(6, 4), 20, 2) "
            "AS fw(x, s, a, b, ts, arr, v, code)"
        )
        return engine

    def test_value_mapping_transform(self, feng):
        rows = feng.sql(
            "SELECT transform(code, [1, 2], ['one', 'two'], 'other') AS r "
            "FROM fw ORDER BY code",
            dialect="clickhouse",
        ).collect()
        assert [r.r for r in rows] == ["one", "two"]
        # 3-arg form: unmatched keeps x
        rows = feng.sql(
            "SELECT transform(code, [1], [100]) AS r FROM fw ORDER BY code",
            dialect="clickhouse",
        ).collect()
        assert [r.r for r in rows] == [100, 2]

    def test_match_empty_numbers(self, feng):
        assert (
            len(
                feng.sql(
                    "SELECT x FROM fw WHERE match(s, '^abc')",
                    dialect="clickhouse",
                ).collect()
            )
            == 1
        )
        r = feng.sql(
            "SELECT empty(arr) AS e, notEmpty(arr) AS ne FROM fw LIMIT 1",
            dialect="clickhouse",
        ).collect()[0]
        assert (r.e, r.ne) == (False, True)
        assert [
            r.number
            for r in feng.sql(
                "SELECT number FROM numbers(5, 3)", dialect="clickhouse"
            ).collect()
        ] == [5, 6, 7]

    def test_array_sort_by_key_function(self, feng):
        r = feng.sql(
            "SELECT arraySort(x -> -x, arr) AS d, "
            "arrayReverseSort(x -> x, arr) AS rv FROM fw LIMIT 1",
            dialect="clickhouse",
        ).collect()[0]
        assert list(r.d) == [3, 2, 1] and list(r.rv) == [3, 2, 1]

    def test_moment_stats_and_regression(self, feng):
        r = feng.sql(
            "SELECT covarPop(a, b) AS c, stddevSamp(a) AS sd, "
            "skewPop(x) AS sk, kurtPop(x) AS k, "
            "simpleLinearRegression(a, b) AS reg FROM fw",
            dialect="clickhouse",
        ).collect()[0]
        assert r.c == 1.0
        assert abs(r.reg.k - 1.0) < 1e-9 and abs(r.reg.b - 1.0) < 1e-9
        # kurtPop = Pearson (non-excess): for a 2-point sample it is 1.0
        assert abs(r.k - 1.0) < 1e-9

    def test_tuple_positional_roundtrip(self, feng):
        r = feng.sql(
            "SELECT tupleElement(tuple(a, s), 1) AS p1, "
            "tupleElement(tuple(a, s), 2) AS p2, "
            "tupleElement(named_struct('f', a), 'f') AS byname "
            "FROM fw LIMIT 1",
            dialect="clickhouse",
        ).collect()[0]
        assert (r.p1, r.p2, r.byname) == (2, "abc,def", 2)
        u = feng.sql(
            "SELECT untuple(tuple(a, b)) FROM fw LIMIT 1",
            dialect="clickhouse",
        ).collect()[0]
        assert tuple(u) == (2, 3)

    def test_casts_window_variants_time(self, feng):
        r = feng.sql(
            "SELECT accurateCastOrNull(s, 'Int64') AS bad, "
            "accurateCastOrNull('42', 'Int64') AS good, "
            "toDateTime64(ts, 3) AS td, "
            "subtractMonths(ts, 1) AS sm FROM fw LIMIT 1",
            dialect="clickhouse",
        ).collect()[0]
        assert r.bad is None and r.good == 42
        assert str(r.td).startswith("2024-01-05")
        assert str(r.sm).startswith("2023-12-05")
        lags = feng.sql(
            "SELECT lagInFrame(v) OVER (ORDER BY ts) AS l FROM fw",
            dialect="clickhouse",
        ).collect()
        assert [r.l for r in lags] == [None, 10]
        # halfMD5 single-arg: exact CH contract (first 16 hex of md5)
        h = feng.sql("SELECT halfMD5('abc') AS h", dialect="clickhouse").collect()[0].h
        assert int(h) == int("900150983cd24fb0", 16)

    def test_limit_with_ties_fails_loudly(self, feng):
        with pytest.raises(ValueError, match="WITH TIES"):
            feng.sql(
                "SELECT x FROM fw ORDER BY x LIMIT 2 WITH TIES",
                dialect="clickhouse",
            )

    def test_map_combining_aggregates(self, engine):
        engine.spark.sql(
            "CREATE OR REPLACE TEMP VIEW mm AS SELECT * FROM VALUES "
            "('g1', map('a', 1, 'b', 2)), ('g1', map('b', 10, 'c', 3)), "
            "('g2', map('z', 5)) AS mm(g, m)"
        )
        rows = engine.sql(
            "SELECT g, sumMap(m) AS s, minMap(m) AS mn, maxMap(m) AS mx "
            "FROM mm GROUP BY g ORDER BY g",
            dialect="clickhouse",
        ).collect()
        assert dict(rows[0].s) == {"a": 1.0, "b": 12.0, "c": 3.0}
        assert dict(rows[0].mn) == {"a": 1, "b": 2, "c": 3}
        assert dict(rows[0].mx) == {"a": 1, "b": 10, "c": 3}
        assert dict(rows[1].s) == {"z": 5.0}
        # keys come back sorted, like ClickHouse
        assert list(rows[0].s.keys()) == ["a", "b", "c"]

    def test_third_batch_scalars(self, engine):
        engine.spark.sql(
            "CREATE OR REPLACE TEMP VIEW tb AS SELECT 1.5 AS x, "
            "TIMESTAMP'2024-01-05 10:00:00' AS ts, array(1, 2, 3) AS arr, "
            "42 AS v, 'ok' AS status"
        )
        r = engine.sql(
            "SELECT arrayFirst(e -> e > 1, arr) AS af, "
            "arrayFirstIndex(e -> e > 1, arr) AS afi, "
            "arrayFirstIndex(e -> e > 9, arr) AS afi0, "
            "dateName('month', ts) AS mn, dateName('weekday', ts) AS wd, "
            "toRelativeDayNum(ts) AS rd, "
            "toRelativeMonthNum(ts) AS rm, "
            "ifNotFinite(x, -1.0) AS inf_ok, "
            "bar(v, 0, 100, 10) AS b FROM tb",
            dialect="clickhouse",
        ).collect()[0]
        assert (r.af, r.afi, r.afi0) == (2, 2, 0)
        cd = engine.sql(
            "SELECT countDistinct(status) AS cd FROM tb",
            dialect="clickhouse",
        ).collect()[0].cd
        assert cd == 1
        assert (r.mn, r.wd) == ("January", "Friday")
        assert r.rd == 19727 and r.rm == 2024 * 12 + 1
        assert r.inf_ok == 1.5
        assert r.b == "█" * 4

    def test_third_batch_constants(self, engine):
        r = engine.sql(
            "SELECT round(greatCircleDistance(0.0, 0.0, 0.0, 1.0)) AS gc, "
            "toWeek(TIMESTAMP'2024-01-05 00:00:00') AS w0, "
            "toWeek(TIMESTAMP'2024-01-07 00:00:00') AS w1, "
            "formatReadableSize(123456) AS fs, "
            "formatReadableQuantity(1234567) AS fq, "
            "ifNotFinite(CAST('Infinity' AS DOUBLE), -1.0) AS infi",
            dialect="clickhouse",
        ).collect()[0]
        # one degree of latitude ~ 111.2 km (CH uses a WGS-84-derived
        # metric; agreement within ~0.5%)
        assert abs(r.gc - 111195) < 600
        assert (r.w0, r.w1) == (0, 1)
        assert r.fs == "120.56 KiB" and r.fq == "1.23 million"
        assert r.infi == -1.0

    def test_state_merge_two_stage_aggregation(self, engine):
        """-State/-Merge (the AggregatingMergeTree idiom): per-block
        partials re-aggregate to the exact one-shot result. Partials here
        are transparent columns (value / (sum,count) struct / collected
        array), not CH's opaque blobs — same two-stage contract."""
        engine.spark.sql(
            "CREATE OR REPLACE TEMP VIEW sm AS SELECT * FROM VALUES "
            "('a', 1, 1), ('a', 2, 1), ('b', 5, 2), ('b', 5, 2) "
            "AS sm(k, v, blk)"
        )
        rows = engine.sql(
            """
            SELECT k, sumMerge(s) AS sv, countMerge(c) AS cv,
                   avgMerge(a) AS av, uniqExactMerge(u) AS uv,
                   minMerge(mn) AS mv, groupArrayMerge(g) AS gv
            FROM (
              SELECT k, blk, sumState(v) AS s, countState(v) AS c,
                     avgState(v) AS a, uniqExactState(v) AS u,
                     minState(v) AS mn, groupArrayState(v) AS g
              FROM sm GROUP BY k, blk
            ) GROUP BY k ORDER BY k
            """,
            dialect="clickhouse",
        ).collect()
        assert [(r.k, r.sv, r.cv, r.av, r.uv, r.mv, sorted(r.gv)) for r in rows] == [
            ("a", 3, 2, 1.5, 2, 1, [1, 2]),
            ("b", 10, 2, 5.0, 1, 5, [5, 5]),
        ]

    def test_entropy_sumcount_boundingratio(self, engine):
        engine.spark.sql(
            "CREATE OR REPLACE TEMP VIEW eb AS SELECT * FROM VALUES "
            "('a', 1), ('a', 2), ('b', 5), ('b', 13) AS eb(k, v)"
        )
        r = engine.sql(
            "SELECT entropy(k) AS e, sumCount(v) AS sc, "
            "boundingRatio(v, v * 2) AS br, uniqTheta(k) AS u FROM eb",
            dialect="clickhouse",
        ).collect()[0]
        assert r.e == 1.0  # two equiprobable values = 1 bit
        assert (r.sc.col1, r.sc.col2) == (21, 4)
        assert r.br == 2.0
        assert r.u == 2

    def test_fourth_batch_array_and_bit_utils(self, engine):
        engine.spark.sql(
            "CREATE OR REPLACE TEMP VIEW fb AS SELECT 'ab' AS s, "
            "array(1, 2, 3) AS arr, 5 AS v"
        )
        r = engine.sql(
            "SELECT arrayResize(arr, 5) AS rz, arrayResize(arr, 2) AS rs, "
            "arrayResize(arr, 5, 9) AS rf, arrayWithConstant(3, 'x') AS wc, "
            "arrayJaccardIndex(arr, [2, 3, 4]) AS jc, "
            "arrayRotateLeft(arr, 1) AS rl, arrayRotateRight(arr, 1) AS rr, "
            "arrayReduce('sum', arr) AS rsum, arrayReduce('max', arr) AS rmax, "
            "bitTest(v, 0) AS b0, bitTest(v, 1) AS b1, "
            "bitTestAll(v, 0, 2) AS ball, bitTestAny(v, 1, 3) AS bany "
            "FROM fb",
            dialect="clickhouse",
        ).collect()[0]
        assert list(r.rz) == [1, 2, 3, 0, 0] and list(r.rs) == [1, 2]
        assert list(r.rf) == [1, 2, 3, 9, 9]
        assert list(r.wc) == ["x", "x", "x"]
        assert abs(r.jc - 0.5) < 1e-9
        assert list(r.rl) == [2, 3, 1] and list(r.rr) == [3, 1, 2]
        assert (r.rsum, r.rmax) == (6.0, 3)
        assert (r.b0, r.b1, r.ball, r.bany) == (1, 0, 1, 0)

    def test_fourth_batch_rounding_hashes_rand(self, engine):
        r = engine.sql(
            "SELECT roundBankers(2.5) AS b2, roundBankers(3.5) AS b3, "
            "roundToExp2(100) AS e2, roundToExp2(0) AS e0, "
            "roundDown(7.3, [5, 10]) AS rd, roundDown(2, [5, 10]) AS rd2, "
            "length(SHA256('ab')) AS sh, toTypeName(1) AS tn, "
            "defaultValueOfTypeName('Int64') AS dv, "
            "rand() AS rnd, randCanonical() AS rc, "
            "length(toFixedString('ab', 5)) AS fx",
            dialect="clickhouse",
        ).collect()[0]
        assert (r.b2, r.b3) == (2.0, 4.0)
        assert (r.e2, r.e0) == (64, 0)
        assert (r.rd, r.rd2) == (5, 5)
        assert r.sh == 64 and r.tn == "int" and r.dv == 0
        # CH rand() is a UInt32 sample, not [0,1)
        assert 0 <= r.rnd < 4294967296 and isinstance(r.rnd, int)
        assert 0 <= r.rc < 1.0
        assert r.fx == 5
