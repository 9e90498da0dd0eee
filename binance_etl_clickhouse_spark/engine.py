"""AnalyticsEngine — the ad-hoc query entry point (SURVEY.md §3.3).

The reference's ``clickhouse_query(client, sql)`` ships a SQL string to the
server and wraps rows + server column names into a DataFrame with a
wall-clock print (utils_clickhouse.py:36-43). Here the engine IS Spark:
``sql()`` runs against registered temp views (serving-table dedup snapshots
and/or testdata tables), Catalyst does parse/analyze/optimize/execute, and
the same timing hook is preserved.

Parameters are bound server-side via ``spark.sql(..., args=...)`` — unlike
the reference's f-string interpolation (crypto_data_pipeline_clickhouse.py
:326-328), values never splice into SQL text.
"""

from __future__ import annotations

import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.pipeline import Pipeline

#: ClickHouse scalar-function names -> Spark SQL-UDF definitions (Spark 4
#: SQL scalar functions: the RETURN expression inlines into the plan at
#: analysis time — JVM expressions, zero Python). Scope: the scalar idioms a
#: user migrating ClickHouse SQL types reflexively; the reference's own DDL
#: uses toYYYYMM (crypto_data_pipeline_clickhouse.py:570). Aggregate
#: combinators (argMax/uniq/quantile) already have first-class Spark
#: equivalents (max_by / approx_count_distinct / percentile_approx).
CLICKHOUSE_COMPAT_FUNCTIONS: dict[str, str] = {
    "toYYYYMM": "(ts TIMESTAMP) RETURNS INT RETURN CAST(date_format(ts, 'yyyyMM') AS INT)",
    "toStartOfHour": "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('hour', ts)",
    "toStartOfDay": "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('day', ts)",
    "toStartOfMonth": "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('month', ts)",
    "toDateTime": "(sec BIGINT) RETURNS TIMESTAMP RETURN timestamp_seconds(sec)",
    "toUnixTimestamp": "(ts TIMESTAMP) RETURNS BIGINT RETURN unix_timestamp(ts)",
    # ClickHouse intDiv FLOORS (rounds toward -inf, like Python //), while
    # Spark's DIV truncates toward zero — adjust when signs differ and the
    # division is inexact, keeping the arithmetic exact in int64
    "intDiv": (
        "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN "
        "a DIV b - CASE WHEN a % b != 0 AND ((a < 0) != (b < 0)) "
        "THEN 1 ELSE 0 END"
    ),
    "toYYYYMMDD": "(ts TIMESTAMP) RETURNS INT RETURN CAST(date_format(ts, 'yyyyMMdd') AS INT)",
    # ClickHouse toStartOfISOWeek returns the Monday of ts's ISO week
    # (Spark's date_trunc('week') is Monday-anchored too)
    "toStartOfISOWeek": "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('week', ts)",
    "lengthUTF8": "(s STRING) RETURNS INT RETURN length(s)",
    # hasToken over this engine's whitespace tokenization (documents.text is
    # space-separated; ClickHouse proper splits on non-alphanumeric) — pairs
    # with the tokenbf_v1-style skip index in storage/tokenbloom.py
    "hasToken": (
        "(s STRING, tok STRING) RETURNS BOOLEAN RETURN "
        "array_contains(split(s, ' '), tok)"
    ),
    "hasTokenCaseInsensitive": (
        "(s STRING, tok STRING) RETURNS BOOLEAN RETURN "
        "array_contains(split(lower(s), ' '), lower(tok))"
    ),
    # \Q...\E regex-quotes the separator so splitByChar('|', s) works
    "splitByChar": (
        "(sep STRING, s STRING) RETURNS ARRAY<STRING> RETURN "
        "split(s, concat('\\\\Q', sep, '\\\\E'))"
    ),
    # ---- round-7 widening: the migration-frequency scalars (time buckets,
    # date parts, dateDiff, the reference's ms-epoch converters, JSON
    # extraction). All SQL UDFs — they inline to JVM expressions at plan
    # time, no Python in the hot path.
    "toStartOfMinute": "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('minute', ts)",
    # fixed-width buckets via epoch-second floor-div (exact for the
    # post-1970 timestamps this engine carries; DIV truncation == floor
    # for non-negative epochs)
    "toStartOfFiveMinutes": (
        "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN "
        "timestamp_seconds(unix_timestamp(ts) DIV 300 * 300)"
    ),
    "toStartOfFifteenMinutes": (
        "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN "
        "timestamp_seconds(unix_timestamp(ts) DIV 900 * 900)"
    ),
    "toStartOfQuarter": "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('quarter', ts)",
    "toStartOfYear": "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('year', ts)",
    # ClickHouse toStartOfWeek default (mode 0) is SUNDAY-anchored and
    # returns a Date — distinct from toStartOfISOWeek's Monday anchor
    "toStartOfWeek": (
        "(ts TIMESTAMP) RETURNS DATE RETURN "
        "date_sub(CAST(ts AS DATE), dayofweek(ts) - 1)"
    ),
    "toHour": "(ts TIMESTAMP) RETURNS INT RETURN hour(ts)",
    "toMinute": "(ts TIMESTAMP) RETURNS INT RETURN minute(ts)",
    "toSecond": "(ts TIMESTAMP) RETURNS INT RETURN second(ts)",
    "toDayOfMonth": "(ts TIMESTAMP) RETURNS INT RETURN day(ts)",
    "toMonth": "(ts TIMESTAMP) RETURNS INT RETURN month(ts)",
    "toYear": "(ts TIMESTAMP) RETURNS INT RETURN year(ts)",
    "toQuarter": "(ts TIMESTAMP) RETURNS INT RETURN quarter(ts)",
    # ClickHouse toDayOfWeek: Monday = 1 .. Sunday = 7 (Spark weekday is
    # Monday = 0)
    "toDayOfWeek": "(ts TIMESTAMP) RETURNS INT RETURN weekday(ts) + 1",
    # the reference stores Binance timestamps as ms epochs — these two are
    # the converters its SQL uses at every boundary
    "fromUnixTimestamp64Milli": "(ms BIGINT) RETURNS TIMESTAMP RETURN timestamp_millis(ms)",
    "toUnixTimestamp64Milli": "(ts TIMESTAMP) RETURNS BIGINT RETURN unix_millis(ts)",
    "lowerUTF8": "(s STRING) RETURNS STRING RETURN lower(s)",
    "upperUTF8": "(s STRING) RETURNS STRING RETURN upper(s)",
    "substringUTF8": "(s STRING, p INT, n INT) RETURNS STRING RETURN substring(s, p, n)",
    "addDays": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(DAY, n, ts)",
    "addHours": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(HOUR, n, ts)",
    "addMinutes": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(MINUTE, n, ts)",
    "addSeconds": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(SECOND, n, ts)",
    "addMonths": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(MONTH, n, ts)",
    "addYears": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(YEAR, n, ts)",
    "subtractDays": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(DAY, -n, ts)",
    "subtractHours": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(HOUR, -n, ts)",
    # r11: the rest of the add/subtract family
    "addWeeks": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(WEEK, n, ts)",
    "subtractWeeks": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(WEEK, -n, ts)",
    "subtractMinutes": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(MINUTE, -n, ts)",
    "subtractSeconds": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(SECOND, -n, ts)",
    "subtractMonths": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(MONTH, -n, ts)",
    "subtractYears": "(ts TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(YEAR, -n, ts)",
    # NOTE: dateDiff cannot be a SQL-UDF shim — the name collides with
    # Spark's builtin datediff (function names are case-insensitive and
    # builtins cannot be replaced); the dialect rewriter translates it
    # instead (dialect.py, literal-unit forms only).
    # single-key JSON extraction (the common reference idiom); full
    # JSONPath callers should use get_json_object directly. ClickHouse's
    # JSONExtract* NEVER throw and default to ''/0/0.0 on missing or
    # non-conforming values — so the casts are try_cast (a plain CAST
    # aborts the whole query under Spark's ANSI mode on e.g. a float in an
    # int-read field) and the defaults are coalesced in.
    #
    # DOCUMENTED DIVERGENCE — type leniency: get_json_object returns the
    # scalar's TEXT and cannot see the original JSON type, so these shims
    # coerce where ClickHouse is type-strict and returns the default:
    #   JSONExtractString('{"a":123}','a')  -> '123'  (CH: '')
    #   JSONExtractInt('{"n":"7"}','n')     -> 7      (CH: 0)
    #   JSONExtractBool('{"f":1}','f')      -> true   (CH: false)
    # Callers relying on CH's wrong-type-to-default behavior must
    # pre-filter on JSON type themselves. The VALUE semantics on
    # correctly-typed fields match CH exactly (never-throw, ''/0/0.0
    # defaults, DOUBLE-truncating fractional ints: '7.5' -> 7).
    "JSONExtractString": (
        "(j STRING, k STRING) RETURNS STRING RETURN "
        "coalesce(get_json_object(j, concat('$.', k)), '')"
    ),
    # Integral values take the direct BIGINT cast (exact for the full
    # int64 range — large Binance trade/order ids exceed 2^53 and would
    # silently round through DOUBLE); only fractional values fall back to
    # the DOUBLE-truncation path, which is also CH's behavior ('7.5' -> 7).
    "JSONExtractInt": (
        "(j STRING, k STRING) RETURNS BIGINT RETURN "
        "coalesce(try_cast(get_json_object(j, concat('$.', k)) AS BIGINT), "
        "try_cast(try_cast(get_json_object(j, concat('$.', k)) "
        "AS DOUBLE) AS BIGINT), 0)"
    ),
    "JSONExtractFloat": (
        "(j STRING, k STRING) RETURNS DOUBLE RETURN "
        "coalesce(try_cast(get_json_object(j, concat('$.', k)) AS DOUBLE), "
        "CAST(0 AS DOUBLE))"
    ),
    # key EXISTENCE, not value non-nullness: a key holding JSON null still
    # exists (get_json_object cannot distinguish the two; json_object_keys
    # can). Invalid JSON -> false, matching ClickHouse's 0.
    "JSONHas": (
        "(j STRING, k STRING) RETURNS BOOLEAN RETURN "
        "coalesce(array_contains(json_object_keys(j), k), false)"
    ),
    "JSONExtractBool": (
        "(j STRING, k STRING) RETURNS BOOLEAN RETURN "
        "coalesce(try_cast(get_json_object(j, concat('$.', k)) AS BOOLEAN), "
        "false)"
    ),
    # legacy simdjson-era name for flat-JSON string extraction — same
    # contract as JSONExtractString on the single-key paths it supports
    "visitParamExtractString": (
        "(j STRING, k STRING) RETURNS STRING RETURN "
        "coalesce(get_json_object(j, concat('$.', k)), '')"
    ),
    # ---- round-8 widening: the ClickHouse URL function family. All map to
    # parse_url (Java URI parsing, JVM-side) plus string expressions.
    # ClickHouse's URL functions return '' (never NULL) on anything they
    # cannot parse — every shim coalesces accordingly — and most accept
    # scheme-LESS input ('example.com/x'), which parse_url cannot; the
    # domain/port/netloc shims retry with an http:// prefix to match.
    "protocol": (
        "(u STRING) RETURNS STRING RETURN coalesce(parse_url(u, 'PROTOCOL'), '')"
    ),
    "domain": (
        "(u STRING) RETURNS STRING RETURN coalesce(parse_url(u, 'HOST'), "
        "parse_url(concat('http://', u), 'HOST'), '')"
    ),
    # the shims below call domain(u) — SQL UDFs may reference earlier-
    # registered ones, and Catalyst inlines the whole chain at analysis
    # time, so the host extraction is written once instead of repeated
    "domainWithoutWWW": (
        "(u STRING) RETURNS STRING RETURN "
        "regexp_replace(domain(u), '^www\\\\.', '')"
    ),
    # last dot-separated label of the host; '' when the host has no dot or
    # cannot be parsed (regexp_extract's no-match result is '' like CH)
    "topLevelDomain": (
        "(u STRING) RETURNS STRING RETURN "
        "regexp_extract(domain(u), '\\\\.([^.]+)$', 1)"
    ),
    # ClickHouse's documented rule: the label before the TLD, except that a
    # second-from-last label in {com, net, org, co} shifts it one left
    # ('news.yandex.com.tr' -> 'yandex', 'example.com' -> 'example')
    "firstSignificantSubdomain": (
        "(u STRING) RETURNS STRING RETURN coalesce(CASE WHEN "
        "size(split(domain(u), '\\\\.')) >= 3 AND "
        "element_at(split(domain(u), '\\\\.'), -2) IN "
        "('com', 'net', 'org', 'co') "
        "THEN try_element_at(split(domain(u), '\\\\.'), -3) "
        "ELSE try_element_at(split(domain(u), '\\\\.'), -2) END, '')"
    ),
    # Java URI's HOST excludes the port; it lives at the AUTHORITY's tail
    "port": (
        "(u STRING) RETURNS INT RETURN coalesce(try_cast(regexp_extract("
        "coalesce(parse_url(u, 'AUTHORITY'), parse_url(concat('http://', "
        "u), 'AUTHORITY'), ''), ':(\\\\d+)$', 1) AS INT), 0)"
    ),
    "netloc": (
        "(u STRING) RETURNS STRING RETURN coalesce(parse_url(u, "
        "'AUTHORITY'), parse_url(concat('http://', u), 'AUTHORITY'), '')"
    ),
    "path": "(u STRING) RETURNS STRING RETURN coalesce(parse_url(u, 'PATH'), '')",
    # FILE = path?query — exactly ClickHouse's pathFull
    "pathFull": (
        "(u STRING) RETURNS STRING RETURN coalesce(parse_url(u, 'FILE'), '')"
    ),
    "queryString": (
        "(u STRING) RETURNS STRING RETURN coalesce(parse_url(u, 'QUERY'), '')"
    ),
    "fragment": (
        "(u STRING) RETURNS STRING RETURN coalesce(parse_url(u, 'REF'), '')"
    ),
    "queryStringAndFragment": (
        "(u STRING) RETURNS STRING RETURN concat("
        "coalesce(parse_url(u, 'QUERY'), ''), "
        "CASE WHEN parse_url(u, 'REF') IS NOT NULL THEN "
        "concat('#', parse_url(u, 'REF')) ELSE '' END)"
    ),
    "extractURLParameter": (
        "(u STRING, k STRING) RETURNS STRING RETURN "
        "coalesce(parse_url(u, 'QUERY', k), '')"
    ),
    # removes the query string (and its '?') but KEEPS the fragment; a '?'
    # that only appears INSIDE the fragment is not a query string — the
    # test runs on the pre-fragment part
    "cutQueryString": (
        "(u STRING) RETURNS STRING RETURN "
        "CASE WHEN locate('?', substring_index(u, '#', 1)) = 0 "
        "THEN u ELSE concat(substring_index(u, '?', 1), "
        "CASE WHEN parse_url(u, 'REF') IS NOT NULL THEN "
        "concat('#', parse_url(u, 'REF')) ELSE '' END) END"
    ),
    "cutFragment": (
        "(u STRING) RETURNS STRING RETURN substring_index(u, '#', 1)"
    ),
    "cutQueryStringAndFragment": (
        "(u STRING) RETURNS STRING RETURN "
        "substring_index(substring_index(u, '#', 1), '?', 1)"
    ),
    "cutWWW": (
        "(u STRING) RETURNS STRING RETURN regexp_replace(u, "
        "'^((?:[a-zA-Z]+://)?)www\\\\.', '$1')"
    ),
    # ClickHouse percent-decodes WITHOUT form semantics ('+' stays '+');
    # Spark's url_decode is form decoding — protecting '+' first makes the
    # two agree exactly
    "decodeURLComponent": (
        "(u STRING) RETURNS STRING RETURN "
        "url_decode(replace(u, '+', '%2B'))"
    ),
    # inverse fix: Spark form-encodes space as '+' where CH emits %20
    "encodeURLComponent": (
        "(u STRING) RETURNS STRING RETURN replace(url_encode(u), '+', '%20')"
    ),
}


def register_clickhouse_compat(spark: SparkSession) -> None:
    """Register ClickHouse-style scalar function names as Spark SQL UDFs so
    reference-flavored SQL runs verbatim through :meth:`AnalyticsEngine.sql`."""
    for name, signature in CLICKHOUSE_COMPAT_FUNCTIONS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{signature}")


class AnalyticsEngine:
    def __init__(
        self,
        spark: SparkSession,
        verbose: bool = True,
        ddl_root: str | None = None,
    ):
        self.spark = spark
        self.verbose = verbose
        #: lazily-created home for tables provisioned from verbatim
        #: ClickHouse DDL (dialect_ddl.DdlCatalog); explicit for durable
        #: layouts, a per-engine temp dir otherwise
        self._ddl_root = ddl_root
        self._ddl_catalog = None

    @property
    def ddl_catalog(self):
        """Tables created through ``sql(CREATE ..., dialect="clickhouse")``."""
        if self._ddl_catalog is None:
            from binance_etl_clickhouse_spark.dialect_ddl import DdlCatalog

            if self._ddl_root is None:
                import tempfile

                self._ddl_root = tempfile.mkdtemp(prefix="spark_ch_ddl_")
            self._ddl_catalog = DdlCatalog(self.spark, self._ddl_root)
        return self._ddl_catalog

    def insert(self, table: str, rows) -> int:
        """≙ the reference's ``clickhouse_insert(client, table, df)``
        (utils_clickhouse.py:46-58): conform ``rows`` (Spark/pandas
        DataFrame or list of dicts) to the table's declared DDL schema,
        append with keep-last versioning, refresh the serving view. The
        table must have been created via ClickHouse DDL through
        :meth:`sql`."""
        return self.ddl_catalog.insert(table, rows)

    def register_pipeline_tables(self, pipeline: Pipeline) -> None:
        """Expose every serving table's dedup SNAPSHOT as a view (≙ querying
        ClickHouse, where ReplacingMergeTree dedup is the served state)."""
        views = {
            "bn_spot_symbols": pipeline.spot_symbols,
            "bn_perp_symbols": pipeline.perp_symbols,
            "bn_klines": pipeline.klines,
            "bn_funding_rates": pipeline.funding_rates,
            "bn_margin_rates": pipeline.margin_rates,
        }
        for name, table in views.items():
            if table.exists():
                table.read(self.spark).createOrReplaceTempView(name)
        import os

        if os.path.isdir(pipeline.logs_path):
            self.spark.read.parquet(pipeline.logs_path).createOrReplaceTempView(
                "pipeline_logs"
            )

    def register_testdata(self, sf_dir: str) -> None:
        from binance_etl_clickhouse_spark.tables import register_views

        register_views(self.spark, sf_dir)

    def register_clickhouse_compat(self) -> None:
        register_clickhouse_compat(self.spark)

    def sql(
        self,
        query: str,
        args: dict | list | None = None,
        dialect: str | None = None,
    ) -> DataFrame:
        """Run SQL with the reference's per-query wall-clock hook.

        ``dialect="clickhouse"`` first rewrites ClickHouse aggregate
        combinators and cast-style scalars into Spark SQL
        (``dialect.translate_clickhouse_sql``); pair with
        :meth:`register_clickhouse_compat` for the scalar names so
        reference-flavored SQL runs verbatim.
        """
        if dialect == "clickhouse":
            from binance_etl_clickhouse_spark import sqltext
            from binance_etl_clickhouse_spark.dialect import translate_clickhouse_sql
            from binance_etl_clickhouse_spark.dialect_ddl import is_clickhouse_ddl

            # comments out once, before any statement-shape regex below
            # reads the text: a leading `-- note` line would hide a CREATE
            query = sqltext.strip_comments(query)
            if is_clickhouse_ddl(query):
                # CREATE DATABASE/TABLE: provision instead of querying —
                # the reference's seven DDL strings run verbatim
                return self.ddl_catalog.apply(query)
            ins = re.match(
                r"^\s*INSERT\s+INTO\s+([\w.]+)\s*(?:\([^)]*\)\s*)?VALUES\s*$",
                query,
                re.I,
            )
            if ins is not None:
                # the clickhouse-driver idiom: INSERT text + data rows as
                # the params argument (reference run_pipeline.py:75-78)
                if args is None:
                    raise ValueError(
                        "INSERT ... VALUES needs the rows as `args` "
                        "(clickhouse-driver client.execute convention)"
                    )
                n = self.insert(ins.group(1), args)
                return self.spark.range(n).select(
                    F.lit(n).alias("rows_written")
                ).limit(1)
            ins_fmt = re.match(
                r"^\s*INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\)\s*)?"
                r"FORMAT\s+(\w+)",
                query,
                re.I | re.S,
            )
            if ins_fmt is not None:
                # INSERT INTO t FORMAT CSV/JSONEachRow/... carries its rows
                # OUT OF BAND (the client streams them after the statement)
                # — there is nothing to execute here, and silently stripping
                # FORMAT would "insert" zero rows. Refuse loudly with the
                # supported alternatives (r10 verdict item 7).
                fmt = ins_fmt.group(3)
                if fmt.lower() != "values":
                    raise ValueError(
                        f"INSERT INTO {ins_fmt.group(1)} FORMAT {fmt} is a "
                        "client-streamed form (rows arrive out of band) and "
                        "cannot run as a standalone statement here. Use "
                        "INSERT INTO ... VALUES (...), INSERT INTO ... "
                        "SELECT ..., or engine.insert(table, rows) with a "
                        "DataFrame/list of dicts."
                    )
                # FORMAT Values (...) is the inline form: rewrite to the
                # plain VALUES spelling and fall through to ins_lit
                query = re.sub(
                    r"FORMAT\s+Values", "VALUES", query, count=1, flags=re.I
                )
            ins_lit = re.match(
                r"^\s*INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\)\s*)?"
                r"VALUES\s*(?P<rows>\(.+?)\s*;?\s*$",
                query,
                re.I | re.S,
            )
            if ins_lit is not None:
                # the inline-literal idiom: INSERT INTO t VALUES ('a', 1),
                # ('b', 2) — the rows evaluate through Spark's native
                # VALUES clause (after the scalar dialect, so ClickHouse
                # expressions like toDateTime('...') work inside literals),
                # then append through the catalog like every other insert
                df = self.sql(
                    f"SELECT * FROM VALUES {ins_lit.group('rows')}",
                    dialect="clickhouse",
                )
                cols = ins_lit.group(2)
                if cols:
                    names = [c.strip().strip("`") for c in cols.split(",")]
                else:
                    entry = self.ddl_catalog.tables.get(
                        self.ddl_catalog._bare(ins_lit.group(1))
                    )
                    if entry is None:
                        raise KeyError(
                            f"unknown table {ins_lit.group(1)!r} (CREATE it first)"
                        )
                    names = [c for c, _, _ in entry.ddl.columns]
                if len(names) != len(df.columns):
                    raise ValueError(
                        f"INSERT target columns {names} do not match the "
                        f"VALUES rows' {len(df.columns)} fields"
                    )
                n = self.insert(ins_lit.group(1), df.toDF(*names))
                return self.spark.range(1).select(F.lit(n).alias("rows_written"))
            ins_sel = re.match(
                r"^\s*INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\)\s*)?"
                r"(SELECT\b.*|WITH\b.*)$",
                query,
                re.I | re.S,
            )
            if ins_sel is not None:
                # INSERT INTO t [cols] SELECT ... — the ClickHouse ETL
                # idiom: the query runs through the full dialect and the
                # rows append through the catalog (defaults filled,
                # keep-last versioning, materialized-view triggers fire).
                # ClickHouse matches SELECT output to target columns BY
                # POSITION, so the frame is renamed positionally — without
                # this, an unaliased output like `x + 1` would miss the
                # catalog's by-name conformance and silently take the
                # column's type default
                df = self.sql(ins_sel.group(3), dialect="clickhouse")
                cols = ins_sel.group(2)
                if cols:
                    names = [c.strip().strip("`") for c in cols.split(",")]
                else:
                    entry = self.ddl_catalog.tables.get(
                        self.ddl_catalog._bare(ins_sel.group(1))
                    )
                    if entry is None:
                        raise KeyError(
                            f"unknown table {ins_sel.group(1)!r} (CREATE it first)"
                        )
                    names = [c for c, _, _ in entry.ddl.columns]
                if len(names) != len(df.columns):
                    raise ValueError(
                        f"INSERT target columns {names} do not match the "
                        f"SELECT's {len(df.columns)} output columns"
                    )
                n = self.insert(ins_sel.group(1), df.toDF(*names))
                return self.spark.range(1).select(F.lit(n).alias("rows_written"))
            query = translate_clickhouse_sql(query)
            if self._ddl_catalog is not None or re.search(
                r"(?<![\w.`])system\.\w", query
            ):
                # qualified refs to DDL-created tables (db.tbl) resolve to
                # their bare serving views; a system.* reference forces the
                # (lazily-created) catalog so system.one/system.numbers
                # work before any DDL has run
                query = self.ddl_catalog.resolve_qualified(query)
                # dictGet/dictHas over CREATE DICTIONARY entries become
                # correlated lookup subqueries (broadcast-joinable)
                query = self.ddl_catalog.rewrite_dict_functions(query)
        elif dialect is not None:
            raise ValueError(f"unknown dialect: {dialect!r}")
        t0 = time.perf_counter()
        df = self.spark.sql(query, args=args) if args else self.spark.sql(query)
        if self.verbose:
            # plan time only; execution is lazy — time the action too
            print(f"[engine] planned in {time.perf_counter() - t0:.3f}s: {query[:80]!r}")
        return df

    def lint(
        self,
        query_or_df: str | DataFrame,
        args: dict | list | None = None,
        dialect: str | None = None,
    ) -> list[str]:
        """Scale-hazard warnings for a query's physical plan (planlint).

        Accepts a SQL string (run through the same dialect path as
        :meth:`sql`, plan only — nothing executes) or a DataFrame. Empty
        list = no known hazard; see ``planlint`` for the rule set.
        """
        from binance_etl_clickhouse_spark.planlint import lint_plan

        df = (
            self.sql(query_or_df, args=args, dialect=dialect)
            if isinstance(query_or_df, str)
            else query_or_df
        )
        return lint_plan(df)

    def sql_pandas(self, query: str, args: dict | list | None = None):
        """≙ clickhouse_query's DataFrame return: execute AND fetch, timed."""
        t0 = time.perf_counter()
        out = self.sql(query, args).toPandas()
        if self.verbose:
            print(f"[engine] executed in {time.perf_counter() - t0:.3f}s, {len(out)} rows")
        return out
