"""ClickHouse→Spark SQL dialect translation (SURVEY.md §2.9 / S8).

The scalar shim (``engine.register_clickhouse_compat``) covers functions a
SQL UDF can express. This module covers what it cannot: AGGREGATE names and
combinators (``argMax``, ``sumIf``, ``quantile(0.9)(x)``) and cast-style
scalars (``toFloat64``) — rewritten at the string level into Spark SQL
before parsing, so reference-flavored ClickHouse queries run verbatim
through :meth:`AnalyticsEngine.sql(..., dialect="clickhouse")`.

The rewriter is a tiny recursive token walker, not a regex pile: it reads
the text through the one SQL lexer (``sqltext``: quoted tokens with both
escape styles, comments, words, bracket depth and matches), recursively
translates call arguments first (so nested combinators compose), and
splits arguments only at TOP-LEVEL commas. Unknown functions pass through
untouched — the output is always a superset-compatible Spark SQL string,
never a silent semantic change.

Scope (the idioms a user migrating the reference's ClickHouse SQL actually
types; anything outside it passes through and fails loudly in Spark's
analyzer rather than silently misbehaving):

==================  =========================================
ClickHouse          Spark rewrite
==================  =========================================
argMax(a, b)        max_by(a, b)
argMin(a, b)        min_by(a, b)
uniq(x)             approx_count_distinct(x)
uniqExact(x, ...)   count(DISTINCT x, ...)
anyLast(x)/any(x)   any_value(x)        [``any`` only in call form]
countIf(c)          count_if(c)
countIf(x, c)       count(CASE WHEN c THEN x END)
sumIf/avgIf/minIf/  sum(CASE WHEN c THEN x END) etc.
maxIf(x, c)
quantile(p)(x)      percentile_approx(x, p)
quantileExact(p)(x) percentile(x, p)
quantiles(p,..)(x)  percentile_approx(x, array(p, ..))
quantilesExact(..)  percentile(x, array(p, ..))
median(x)           percentile_approx(x, 0.5)
medianExact(x)      percentile(x, 0.5)
quantileExactWeighted(p)(x, w)  percentile(x, p, w)
medianExactWeighted(x, w)       percentile(x, 0.5, w)
groupArray(x)       collect_list(x)
groupArray(n)(x)    slice(collect_list(x), 1, n)
groupUniqArray(x)   collect_set(x)   [+ (n)(x) sliced form]
multiIf(c,v,...,e)  CASE WHEN c THEN v ... ELSE e END
ifNull(a, b)        coalesce(a, b)
has(arr, x)         array_contains(arr, x)
indexOf(arr, x)     array_position(arr, x)
arrayStringConcat   array_join
arrayMap(f, a)      transform(a, f)     [HOF arg order swaps; both
arrayFilter(f, a)   filter(a, f)         engines use x -> expr lambda
arrayExists(f, a)   exists(a, f)         syntax]
arrayAll(f, a)      forall(a, f)
arraySort(a)        array_sort(a)       [1-arg form only]
arrayMin/arrayMax/  array_min / array_max / array_distinct / reverse /
arrayDistinct/      concat / flatten    [pure renames, same argument
arrayReverse/        order. startsWith/endsWith need no rewrite at all:
arrayConcat/         Spark resolves function names case-insensitively]
arrayFlatten
arraySlice(a,o[,n]) slice(a, o, n)      [2-arg open-ended form maps to
                                         slice(a, o, size(a))]
arraySum(a)         aggregate(a, coalesce((a[1]-a[1]) * 1::decimal(38,0),
                    0), (acc,x) -> acc+x)
                    [empty -> 0; the zero takes the ELEMENT type widened
                     to max decimal precision: integer arrays sum in
                     DECIMAL(38,0) — exact through the full int64 range,
                     where ClickHouse's Int64 silently WRAPS on overflow —
                     decimal(p,s) arrays in DECIMAL(38,s) (CH Decimal128
                     analogue), float/double arrays in DOUBLE]
position(h, n)      BYTE offset, matching ClickHouse exactly:
                    if(locate(n,h)=0, 0,
                       octet_length(substr(h,1,locate(n,h)-1))+1)
position(h, n, s)   locate(n, h, s)  [3-arg keeps CHARACTER semantics:
                     CH's start_pos is a byte offset and Spark has no
                     byte-indexed substring — exact on ASCII, documented
                     divergence on multibyte haystacks]
positionUTF8(h, n[,s])          locate(n, h[, s])  [exact: both count
                                 characters]
positionCaseInsensitive(h, n) / locate(lower(n), lower(h))
positionCaseInsensitiveUTF8     [full-Unicode case fold vs ClickHouse's
                                 ASCII-only fold in the non-UTF8 name]
retention(c1..cn)   array(max(c1-flag), least(max(c1-flag), max(ci-flag))..)
windowFunnel(W[,    aggregate() fold over array_sort(collect_list(...)) —
 mode...])          the exact CH chain algorithm ((t, idx) points, c1
(ts, c1..cN)        re-anchors, chain start propagates within W) as a pure
                    JVM expression; max 8 conditions. r9: strict_order /
                    strict_deduplication / strict_increase modes run too
                    (break markers, repeat-interrupt, strictly-increasing
                    advance). Result INT level 0..N
sequenceMatch(pat)  DP aggregate() fold over the time-sorted matched-event
(ts, c1..cK)        points; (?N), .* AND (?t op N) time-condition atoms
                    (r8: per-prefix earliest/latest completion times make
                    >,>=,<,<= gaps exact; (?t==N) and multi-condition gaps
                    refused loudly — they need the full completion-time
                    set); adjacency counts events matching any DESCRIBED
                    condition (the CH interruption rule). Result INT 1/0
sequenceCount(pat)  same DP with a counter: each full-pattern completion
(ts, c1..cK)        increments and resets every prefix — greedy leftmost
                    NON-OVERLAPPING matches (CH resumes after a match's
                    last event). Result INT
GLOBAL IN/JOIN      GLOBAL stripped (a ClickHouse shard-broadcast hint;
ALL [kind] JOIN     Spark's planner picks broadcast-vs-shuffle itself) and
                    ALL join strictness stripped (it IS the default
                    multiplicity); both quote-safe
L la ANY [LEFT|     dedup-join: the right side (both sides for INNER)
INNER] JOIN R ra    collapses to one row per equality key BEFORE the join
ON k-eqs            — min over struct(side.*), deterministic and inside
                    ClickHouse's pick-any contract — struct-packed under
                    the original aliases like ASOF. RIGHT ANY refused
                    (swap the sides); leftover backstop prevents silent
                    plain-join multiplicity
... FORMAT X        stripped (clickhouse-client output-format clause,
                    end-anchored, before the SETTINGS strip per the
                    ... [SETTINGS] [FORMAT] grammar)
uniqUpTo(N)(x, ..)  least(count(DISTINCT x, ..), N + 1)  [exact contract]
topK(k)(x)          EXACT top-k most-frequent values (slice over a
                    count-sorted array_distinct of collect_list) where CH
                    topK is a space-saving SKETCH; ties break ascending by
                    value (deterministic). O(n·distinct) per group — the
                    Misra-Gries heavy-hitters operator is the 100 TB path
anyHeavy(x)         mode(x)  [exact most-frequent ⊃ CH's "a frequently
                    occurring value"]
avgWeighted(x, w)   sum(x*w)/sum(w), NaN on zero/empty weight like CH
sumArray/minArray/  -Array combinator: aggregate over every ELEMENT of
maxArray/avgArray/  the per-row arrays (sum in the arraySum DECIMAL
countArray/         accumulator; avgArray NaN on zero elements like CH;
uniqArray/group-    uniqArray EXACT where CH sketches; NULL arrays
ArrayArray/group-   contribute nothing; empty-group min/max are NULL —
UniqArrayArray      the Nullable convention — where non-Nullable CH
                    returns the type default)
sum/avg/min/max/    -OrNull combinator: NULL on the empty set — Spark's
any/countOrNull     own empty-set semantics for all but count (nullif 0)
sumMap(k[], v[])    key-wise aggregation of zipped (keys, values) rows —
minMap / maxMap     one struct(keys SORTED, values) per group (access
                    .keys/.values where CH tuples use .1/.2). sumMap sums
                    in the arraySum DECIMAL(38,_)/DOUBLE accumulator
                    (exact ints, capped decimals); min/max keep the
                    element type. O(pairs x distinct keys) per group —
                    CH metric maps are small per-row values. NULL keys
                    drop (CH arrays are non-nullable)
groupBitAnd/Or/Xor  bit_and / bit_or / bit_xor
plus/minus/multiply + - * / % operators (same semantics pairwise: % keeps
divide/modulo/      the dividend's sign, / on integers is float division
negate              in both engines); intDivOrZero guards the zero divisor
countEqual(a, x)    size(filter(a, e -> e <=> x))  [NULL-safe like CH]
arrayCount([f,] a)  size(filter(a, f))  [1-arg form counts non-zero]
arrayEnumerate(a)   guarded sequence(1, size(a))  [empty -> []]
hasAll/hasAny(a, b) subset / overlap with NULL-safe element compares
arrayUniq(a)        size(array_distinct(a))  [distinct COUNT]
arrayCompact(a)     drop consecutive duplicates (indexed filter)
arrayPushBack/      concat with a one-element array / guarded slices
Front, arrayPop-
Back/Front
arrayIntersect(..)  n-ary set intersect (binary array_intersect folded)
arrayResize(a,n,f)  truncate or pad with the EXPLICIT filler (the 2-arg
                    type-default form passes through loudly)
arrayReverseSort(a) reverse(array_sort(a))  [1-arg form]
arrayElement(a, i)  try_element_at — 1-based, negative-from-end, NULL out
                    of bounds (Nullable convention vs CH's type default)
arrayZip(a, b)      arrays_zip; arrayShuffle -> shuffle (both engines:
                    random order, no seed contract)
arrayDifference(a)  indexed transform: a[i] - a[i-1], first 0, type-
                    preserving, O(n)
arrayCumSum(a)      prefix re-folds with the arraySum DECIMAL(38,_)/DOUBLE
                    accumulator (exact integer sums); O(n^2) in the small
                    per-row array length
GROUP BY c          GROUP BY GROUPING SETS ((c), ()) — the out-of-band
  WITH TOTALS       totals block surfaces as the grand-total row with
                    every group column NULL (same values a client reads
                    from the totals block; totals_mode variants are not
                    modeled). A CTE named totals does not trigger
WITH expr AS name,  ClickHouse's SCALAR WITH (standard SQL WITH only
... SELECT ...      names subqueries): each expression alias — constants,
                    expressions, parenthesized scalar subqueries — inlines
                    as (expr) at every BARE reference (alias-wins
                    shadowing like CH; qualified t.x refs and AS-alias
                    positions untouched; a bare alias as a select item
                    keeps its output name). CTE items in the same WITH
                    stay CTEs; later scalar items may reference earlier
                    ones. Catalyst's MergeScalarSubqueries dedups repeated
                    inlined scalar subqueries
ORDER BY x          gap-fill: per-row lead() + exploded per-gap sequence,
WITH FILL [FROM f]  STEP RE-ANCHORED at every original row (CH
[TO t] [STEP s]     FillingTransform semantics, NOT a global grid), TO
[INTERPOLATE (c..)] exclusive, FROM-edge fills before the first row,
                    originals always kept; filled rows NULL everywhere
                    (struct-pack blanking) except INTERPOLATE columns,
                    which carry the anchor row's value (LOCF — CH's
                    default compounding; `c AS expr` refused loudly).
                    r9: leading bare sort keys = the SORTING PREFIX,
                    each group filling independently (partitioned
                    windows, keys carried into fill rows). Fill key:
                    single bare column ASC; integral / date / timestamp
                    fill columns (sequence()'s types — give an INTERVAL
                    STEP for DateTime; CH's default there is 1 second,
                    Spark dates default 1 day)
range(n)/range(a,b) guarded sequence slice (empty when n<=0 / b<=a,
                    matching ClickHouse; bare sequence would descend)
toFloat64/toInt64/  CAST(x AS DOUBLE/BIGINT/INT/SMALLINT/TINYINT/STRING/
toInt32/toInt16/     DATE); unsigned to* widen to the next signed type
toInt8/toUInt8/      that holds the range (toUInt64 passes through — its
toUInt16/toUInt32/   upper half exceeds BIGINT)
toString/toDate(x)
leftPad/rightPad/   lpad / rpad / ltrim / rtrim / trim
trimLeft/trimRight/
trimBoth
assumeNotNull(x)/   x                   [nullability adapters unwrap]
toNullable(x)
today()             current_date()
arrayJoin(x)        explode(x)          [one per SELECT, as in Spark; a
                                         second generator fails loudly in
                                         the analyzer, never silently]
FROM t [LEFT]       LATERAL VIEW [OUTER] explode/posexplode derived table
ARRAY JOIN e1 AS a, aliased back to the FROM alias: multiple items zip
e2 AS b, col        POSITIONALLY off the first (CH errors on unequal
                    sizes, here short arrays yield NULL); an unaliased
                    item must be a plain column and its element REPLACES
                    the column (t.* EXCEPT + re-alias, column moves to
                    row end); LEFT keeps empty-array rows with NULL
                    elements (the Nullable default, where non-Nullable
                    CH takes the type default). Joins before/after the
                    clause and nested/COLUMNS forms refused loudly
FROM t FINAL        FROM t              [the engine's registered views ARE
                                         the deduped (FINAL) snapshot —
                                         see register_pipeline_tables]
PREWHERE c          WHERE c             [PREWHERE is a scan-order hint;
                                         Spark's optimizer already pushes
                                         predicates to the scan]
... SETTINGS k = v  stripped             [trailing per-query execution
                                         hints (max_threads, ...) — like
                                         PREWHERE, advice Spark's planner
                                         makes itself]
FROM t SAMPLE 0.1   FROM t TABLESAMPLE (10 PERCENT)   [k<=1 is a fraction
                                         (SAMPLE 1 = all data), k>1 ->
                                         (k ROWS); Bernoulli, not
                                         key-deterministic]
LIMIT [m,] n        row_number() window per (c1, c2) keeping rows
[OFFSET m] BY c1,c2 m+1..m+n (ordered by the query's ORDER BY when
                    present), outer ORDER BY / LIMIT re-applied on top;
                    top-level clause only — plans as WindowGroupLimit,
                    the per-group partial top-n pushdown. Global
                    ``LIMIT m, n`` also rewrites to LIMIT n OFFSET m
L la ASOF [LEFT]    union-tag + ONE window per equality key + last(right
JOIN R ra ON        row-struct, ignorenulls) derived table — a single
k-eqs AND           shuffle, never a range/nested-loop join. Each side is
la.ts >= ra.ts      struct-packed under its ORIGINAL alias, so qualified
                    refs (la.x, ra.*) in the outer query resolve unchanged.
                    All four ordered ops (>= > <= <) and both keyword
                    orders (ASOF LEFT / LEFT ASOF) map; see the
                    _rewrite_asof_join comment for the documented limits
                    (qualified refs only, one join per FROM, no USING/OR)
replaceAll/         replace / regexp_replace (backrefs: CH \1 vs Spark $1
replaceRegexpAll     — group-free replacements identical) / spliced
replaceOne           first-occurrence replace expression
extract/extractAll  regexp_extract(_all)(h, re, g) — g=1 iff the LITERAL
                    pattern has a capture group (CH's rule); non-literal
                    patterns pass through loudly
splitByString(p,s)  split(s, '\\Qp\\E', -1)  [literal separator quoted]
formatDateTime      date_format with the %-table mapped to Java patterns
                    (%Y %y %m %d %H %M(=minute!) %S %F %T %e %j);
                    unmapped specifiers pass through loudly
toStartOfInterval   epoch-floor bucket for fixed-length INTERVAL n
(t, INTERVAL n u)    SECOND/MINUTE/HOUR/DAY; calendar-variable units
                     (WEEK/MONTH...) pass through loudly
bitAnd/bitOr/       & | ^ ~ operators; shiftleft/shiftright
bitXor/bitNot/
bitShiftLeft/Right
concatWithSeparator concat_ws;  leftUTF8/rightUTF8 -> left/right;
uniqCombined/       approx_count_distinct
uniqHLL12
<agg>If(args, c)    base(CASE WHEN c THEN arg END, ...) for the whole
                    mapped family: any/anyLast (ignoreNulls=true), uniq,
                    uniqExact (count DISTINCT), argMax/argMin (both value
                    AND order args wrap), groupArray/groupUniqArray, plus
                    the r1 sum/avg/min/max/count forms
quantileTDigest/    percentile_approx(x, p) [Spark's one approximate
Timing/Determin-     rank sketch stands in for the CH sketch family;
istic/BFloat16(p)(x) error models differ]
INSERT INTO t       the ClickHouse ETL idiom: the query runs through the
[cols] SELECT ...   full dialect, rows append through the catalog
                    (defaults, keep-last versioning, MV triggers fire)
CREATE TABLE t      CTAS: schema from the analyzed SELECT (plan-only),
ENGINE = ... ORDER  one insert of its result; same engine family rules
BY ... AS SELECT    as the column-list form
CREATE MATERIAL-    ClickHouse's insert trigger, verbatim (dialect_ddl):
IZED VIEW [TO tgt]  each inserted block runs the SELECT and appends to the
[ENGINE = Summing-  view's storage (ENGINE form) or the TO target —
MergeTree ORDER BY  per-insert cost O(block). SummingMergeTree storage
...] [POPULATE]     holds the per-block PARTIAL aggregates and collapses
AS SELECT ...       per ORDER BY key at read (min() for non-summed
                    columns, deterministic where CH keeps an arbitrary
                    survivor); POPULATE folds pre-existing rows in.
                    Single-table SELECT only; AggregatingMergeTree and
                    MV-on-MV refused loudly. DROP VIEW stops the trigger
                    (a TO target keeps its data)
CREATE DICTIONARY / dialect_ddl: dictionary = lookup metadata over a
dictGet/dictGetOr-  table; dictGet-family calls rewrite into correlated
Default/OrNull/     aggregated scalar subqueries (broadcast left-outer
dictHas/            join plans — the lookup distributes, no per-node RAM
dictGet<Type>       hash table); declared DEFAULT or type zero on miss;
                    bare key names colliding with source columns refused
CREATE DATABASE /   handled by dialect_ddl (engine.sql routes them): the
CREATE TABLE ...    reference's ReplacingMergeTree/MergeTree DDL provisions
ENGINE = ...        a ServingTable verbatim — keys = ORDER BY, month dirs
                    from PARTITION BY toYYYYMM, keep-last on read; INSERT
                    INTO ... VALUES with rows-as-args matches the
                    clickhouse-driver execute() idiom. DROP/TRUNCATE TABLE,
                    OPTIMIZE TABLE [FINAL] (-> compact(): one version per
                    key, FINAL-is-free reads), ALTER TABLE ADD COLUMN
                    (old rows serve the default), and the mutations
                    ALTER .. DELETE WHERE / UPDATE .. WHERE (month-pruned
                    copy-on-write, immediate not async) all map; db.tbl
                    qualifiers resolve to the bare serving views
==================  =========================================

JSON shims (engine.py CLICKHOUSE_COMPAT_FUNCTIONS) carry a documented
TYPE-LENIENCY divergence: get_json_object sees only the scalar's text, so
JSONExtractString('{"a":123}','a') returns '123' (CH: ''), and numeric
strings/ints coerce where type-strict ClickHouse returns the default — see
the table in engine.py.
"""

from __future__ import annotations

import re
from dataclasses import dataclass as _dataclass

from binance_etl_clickhouse_spark import sqltext

#: binary bit functions -> Spark operators (no bitand/bitor scalar
#: builtins in Spark; bit_and/bit_or are AGGREGATES)
_BIT_OPS = {"bitAnd": "&", "bitOr": "|", "bitXor": "^"}

#: -Array combinator family (aggregate over every element of per-row
#: arrays) — explicit allowlist, fail-loud on unmapped bases
_ARRAY_COMBINATORS = {
    "sumArray",
    "minArray",
    "maxArray",
    "countArray",
    "avgArray",
    "uniqArray",
    "groupArrayArray",
    "groupUniqArrayArray",
}

#: -OrNull combinator: NULL on the empty set instead of the type default
_ORNULL_AGGS = {
    "sumOrNull": "sum",
    "avgOrNull": "avg",
    "minOrNull": "min",
    "maxOrNull": "max",
    "anyOrNull": "any_value",
    "countOrNull": "count",
}


def _string_literal(tok: str) -> str | None:
    """The content of a single-quoted literal token, else None."""
    t = tok.strip()
    if (
        len(t) >= 2
        and t[0] == "'"
        and t[-1] == "'"
        and "'" not in t[1:-1].replace("''", "")
    ):
        return t[1:-1]
    return None


def _regex_literal_group(tok: str) -> int | None:
    """ClickHouse extract()'s group rule for a LITERAL pattern: 0 (whole
    match) when the regex has no capture group, else 1. None = not a
    literal (undecidable here)."""
    lit = _string_literal(tok)
    if lit is None:
        return None
    return 1 if re.findall(r"(?<!\\)\((?!\?:)", lit) else 0


#: ClickHouse formatDateTime specifier -> Java SimpleDateFormat pattern.
#: Only the unambiguous core set; a format using anything else passes
#: through untranslated (loud failure). NOTE ClickHouse's %M is MINUTE.
_CH_DATETIME_SPEC = {
    "Y": "yyyy",
    "y": "yy",
    "m": "MM",
    "d": "dd",
    "H": "HH",
    "M": "mm",
    "S": "ss",
    "F": "yyyy-MM-dd",
    "T": "HH:mm:ss",
    "e": "d",
    "j": "DDD",
    "%": "%",
}


def _format_datetime_java(fmt_tok: str) -> str | None:
    """Translate a LITERAL ClickHouse %-format into a Java date pattern
    (literal text single-quoted so stray letters can't become fields).
    None when the token is not a literal or uses an unmapped specifier."""
    lit = _string_literal(fmt_tok)
    if lit is None:
        return None
    out: list[str] = []
    i = 0
    while i < len(lit):
        ch = lit[i]
        if ch == "%":
            if i + 1 >= len(lit) or lit[i + 1] not in _CH_DATETIME_SPEC:
                return None
            spec = _CH_DATETIME_SPEC[lit[i + 1]]
            out.append("%" if spec == "%" else spec)
            i += 2
        else:
            # quote runs of literal text (letters would otherwise be
            # pattern fields; quotes themselves double)
            j = i
            while j < len(lit) and lit[j] != "%":
                j += 1
            text = lit[i:j]
            if re.search(r"[A-Za-z']", text):
                out.append("'" + text.replace("'", "''") + "'")
            else:
                out.append(text)
            i = j
    return "".join(out)


_CASTS = {
    "toFloat64": "DOUBLE",
    "toFloat32": "FLOAT",
    "toInt64": "BIGINT",
    "toInt32": "INT",
    "toInt16": "SMALLINT",
    "toInt8": "TINYINT",
    # unsigned: widen to the next signed type that holds the full range
    # (toUInt64 is NOT mapped — its upper half exceeds BIGINT; it passes
    # through and fails loudly rather than silently wrapping)
    "toUInt8": "SMALLINT",
    "toUInt16": "INT",
    "toUInt32": "BIGINT",
    "toString": "STRING",
    "toDate": "DATE",
}

#: clause keywords that are never function calls: a following "(" opens
#: an expression/tuple/grouping-set, which the flat scan must walk into
#: verbatim (whitespace preserved, no top-level comma split). Keywords
#: whose parens can carry a SUBQUERY/CTE body that benefits from the
#: unit-descent path are deliberately ABSENT: FROM / IN / EXISTS /
#: VALUES / AS (CTE bodies) / UNION / INTERSECT / EXCEPT / ALL /
#: DISTINCT (set-op operands, quantified comparisons).
_NON_CALL_KEYWORDS = {
    "SELECT",
    "DISTINCT",
    "WHERE",
    "PREWHERE",
    "HAVING",
    "AND",
    "OR",
    "NOT",
    "WHEN",
    "THEN",
    "ELSE",
    "ON",
    "BY",
    "CASE",
    "BETWEEN",
    "LIKE",
    "ILIKE",
}

#: ClickHouse type-name spellings accepted by accurateCastOrNull(x, 'T')
#: (exact-or-wider Spark targets; UInt64 widens to DECIMAL(20,0))
_CH_CAST_TYPES = {
    "Int8": "TINYINT",
    "Int16": "SMALLINT",
    "Int32": "INT",
    "Int64": "BIGINT",
    "UInt8": "SMALLINT",
    "UInt16": "INT",
    "UInt32": "BIGINT",
    "UInt64": "DECIMAL(20,0)",
    "Float32": "FLOAT",
    "Float64": "DOUBLE",
    "String": "STRING",
    "Date": "DATE",
    "DateTime": "TIMESTAMP",
    "Bool": "BOOLEAN",
}

#: -State / -Merge combinators (the AggregatingMergeTree idiom): State
#: produces a mergeable PARTIAL, Merge folds partials to the final value.
#: Spark re-expression: the partial is a plain value (sum/min/max/count),
#: a (sum, count) struct (avg), or a collected array (uniqExact /
#: groupArray) — transparent columns instead of CH's opaque blobs, so the
#: partials are themselves queryable. Write-side with GROUP BY, read-side
#: re-aggregates: exactly CH's two-stage contract.
_STATE_FUNCS = {
    "sumState": "sum({x})",
    "countState": "count({x})",
    "minState": "min({x})",
    "maxState": "max({x})",
    "avgState": "named_struct('sum', sum({x}), 'count', count({x}))",
    "uniqExactState": "collect_set({x})",
    "uniqState": "collect_set({x})",
    "groupArrayState": "collect_list({x})",
}

_MERGE_FUNCS = {
    "sumMerge": "sum({s})",
    "countMerge": "sum({s})",
    "minMerge": "min({s})",
    "maxMerge": "max({s})",
    "avgMerge": "(sum({s}.sum) / sum({s}.count))",
    "uniqExactMerge": (
        "CAST(size(array_distinct(flatten(collect_list({s})))) AS BIGINT)"
    ),
    "uniqMerge": (
        "CAST(size(array_distinct(flatten(collect_list({s})))) AS BIGINT)"
    ),
    "groupArrayMerge": "flatten(collect_list({s}))",
}

#: toRelative*Num — whole units elapsed since the epoch (CH contract)
_RELATIVE_NUMS = {
    "toRelativeSecondNum": "unix_timestamp({ts})",
    "toRelativeMinuteNum": "CAST(floor(unix_timestamp({ts}) / 60) AS BIGINT)",
    "toRelativeHourNum": "CAST(floor(unix_timestamp({ts}) / 3600) AS BIGINT)",
    "toRelativeDayNum": "datediff({ts}, DATE'1970-01-01')",
    "toRelativeMonthNum": "(year({ts}) * 12 + month({ts}))",
    "toRelativeYearNum": "year({ts})",
}

_NAME_MAP = {
    "argMax": "max_by",
    "argMin": "min_by",
    # r11 widening: window-frame variants, moment statistics, regex match
    "lagInFrame": "lag",
    "leadInFrame": "lead",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
    "stddevSamp": "stddev_samp",
    "stddevPop": "stddev_pop",
    "varSamp": "var_samp",
    "varPop": "var_pop",
    # Spark skewness is the population (g1) formula, same as CH skewPop
    "skewPop": "skewness",
    # re2 partial-match -> Java regex partial-match (regexp_like); the
    # dialects' regex syntaxes agree on the common core
    "match": "regexp_like",
    # another sketch alias: Theta -> Spark's HLL++ approx sketch
    "uniqTheta": "approx_count_distinct",
    # banker's rounding is Spark's bround, exactly
    "roundBankers": "bround",
    "toTypeName": "typeof",
    "randCanonical": "rand",
    # a STABLE 64-bit hash, not CityHash/SipHash/FarmHash: hash VALUES
    # differ from ClickHouse (both are engine-internal; use for
    # bucketing/sampling, not cross-engine joins) — documented divergence
    "cityHash64": "xxhash64",
    "sipHash64": "xxhash64",
    "farmHash64": "xxhash64",
    "farmFingerprint64": "xxhash64",
    "uniq": "approx_count_distinct",
    "anyLast": "any_value",
    "any": "any_value",
    "ifNull": "coalesce",
    "today": "current_date",
    "arrayJoin": "explode",
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
    "has": "array_contains",
    "indexOf": "array_position",
    "arrayStringConcat": "array_join",
    # round-7 widening: pure renames with identical argument order.
    # (startsWith/endsWith need NO entry: Spark resolves SQL function
    # names case-insensitively, so they already bind to the builtins.
    # arraySlice is special-cased below for its 2-arg open-ended form.)
    "arrayMin": "array_min",
    "arrayMax": "array_max",
    "arrayDistinct": "array_distinct",
    "arrayZip": "arrays_zip",
    "arrayShuffle": "shuffle",
    "arrayReverse": "reverse",
    "arrayConcat": "concat",
    "arrayFlatten": "flatten",
    "leftPad": "lpad",
    "rightPad": "rpad",
    "trimLeft": "ltrim",
    "trimRight": "rtrim",
    # round-8 widening: pure renames with identical argument order.
    # replaceAll(h, p, r) == replace(h, p, r) (both literal, all
    # occurrences); replaceRegexpAll -> regexp_replace with a DOCUMENTED
    # divergence: backreferences are \1 in ClickHouse (re2) but $1 in
    # Spark (Java regex) — group-free replacements are identical.
    "replaceAll": "replace",
    "replaceRegexpAll": "regexp_replace",
    "concatWithSeparator": "concat_ws",
    "leftUTF8": "left",
    "rightUTF8": "right",
    "bitShiftLeft": "shiftleft",
    "bitShiftRight": "shiftright",
    "uniqCombined": "approx_count_distinct",
    "uniqHLL12": "approx_count_distinct",
    "trimBoth": "trim",
    # r8 second wave: bit-reduction aggregates are pure renames
    "groupBitAnd": "bit_and",
    "groupBitOr": "bit_or",
    "groupBitXor": "bit_xor",
    # r9 widening: pure renames with identical argument order and
    # semantics. reverseUTF8 maps (Spark's reverse is character-wise —
    # exactly the UTF8 form); plain CH reverse is BYTE-wise and stays
    # unmapped (identical on ASCII, where it resolves to the builtin).
    "mapKeys": "map_keys",
    "mapValues": "map_values",
    "mapContains": "map_contains_key",
    "toLastDayOfMonth": "last_day",
    "reverseUTF8": "reverse",
    "bitCount": "bit_count",
    "generateUUIDv4": "uuid",
    # r10 widening: pure renames with identical argument order. dateTrunc
    # value-matches date_trunc (CH types day+ units as Date, Spark always
    # TIMESTAMP — a declared-type nuance, not a value one); toISOWeek ==
    # weekofyear (Spark's is the ISO week number).
    "dateTrunc": "date_trunc",
    "toISOWeek": "weekofyear",
}

#: toInterval*(n) -> make_interval positional slot (years, months, weeks,
#: days, hours, mins, secs); quarters become 3 months like ClickHouse
_TO_INTERVAL = {
    "toIntervalYear": 0,
    "toIntervalMonth": 1,
    "toIntervalWeek": 2,
    "toIntervalDay": 3,
    "toIntervalHour": 4,
    "toIntervalMinute": 5,
    "toIntervalSecond": 6,
}


#: ClickHouse spells arithmetic as functions; Spark's operators carry the
#: SAME semantics on each pair: % keeps the dividend's sign like modulo,
#: and / on integers is float division like divide (Spark's `/` always
#: yields DOUBLE for integral inputs, matching ClickHouse's divide)
_ARITH_FNS = {
    "plus": "+",
    "minus": "-",
    "multiply": "*",
    "divide": "/",
    "modulo": "%",
}

#: identity unwraps: ClickHouse nullability adapters with no Spark
#: counterpart or need — the argument IS the translation
_UNWRAP = {"assumeNotNull", "toNullable"}

#: higher-order array functions: ClickHouse puts the lambda FIRST
#: (arrayMap(x -> e, arr)), Spark puts it LAST (transform(arr, x -> e));
#: the ``x -> expr`` lambda syntax itself is identical in both dialects
_HOF_SWAP = {
    "arrayWithConstant": "array_repeat",
    "arrayMap": "transform",
    "arrayFilter": "filter",
    "arrayExists": "exists",
    "arrayAll": "forall",
}

#: parameterized max-size collectors: groupArray(n)(x) keeps first n
_SLICED_COLLECT = {"groupArray": "collect_list", "groupUniqArray": "collect_set"}

#: multi-quantile combinators: quantiles(p1, p2)(x) -> one array column
_MULTI_QUANTILES = {"quantiles": "percentile_approx", "quantilesExact": "percentile"}

_MEDIANS = {"median": "percentile_approx", "medianExact": "percentile"}

#: weighted exact percentiles: quantileExactWeighted(p)(x, w) maps onto
#: Spark's 3-arg percentile(x, p, frequency) — note the argument REORDER
#: (ClickHouse carries p in the combinator parameter list, Spark in the
#: middle position; the weight/frequency column must be integral in both)
_WEIGHTED_QUANTILES = {"quantileExactWeighted": "percentile"}

#: bare-keyword rewrites (matched case-insensitively outside string literals)
_KEYWORDS = {"PREWHERE": "WHERE"}

#: ``FROM <table> FINAL`` -> ``FROM <table>`` — FINAL is only a keyword in
#: this position. The optional-alias group must not swallow a clause
#: keyword: without the lookahead, ``FROM t WHERE final = 1`` parsed as
#: table ``t`` + alias ``WHERE`` + FINAL and deleted the column reference.
#: AS is included so the regex cannot backtrack into treating a bare 'AS'
#: as the alias itself ('FROM t AS final' would otherwise strip the real
#: alias named final and leave a dangling AS)
_CLAUSE_KW = (
    r"WHERE|PREWHERE|GROUP|ORDER|LIMIT|HAVING|JOIN|INNER|LEFT|RIGHT|FULL|"
    r"CROSS|ON|UNION|SETTINGS|SAMPLE|FINAL|USING|WINDOW|QUALIFY|AS"
)
_FINAL_RE = re.compile(
    rf"(\bFROM\s+[A-Za-z_][\w.]*"
    rf"(?:\s+(?:AS\s+)?(?!(?:{_CLAUSE_KW})\b)[A-Za-z_]\w*)?)\s+FINAL\b",
    re.IGNORECASE,
)

#: ``FROM t [alias] SAMPLE k`` -> TABLESAMPLE. ClickHouse k<1 is a fraction
#: (deterministic by sampling key; Spark's Bernoulli sample is the closest
#: semantic — per-query fraction, not reproducible row set), k>=1 an
#: approximate row count. Runs AFTER the FINAL strip so ``FINAL SAMPLE k``
#: composes.
_SAMPLE_RE = re.compile(
    r"(\bFROM\s+[A-Za-z_][\w.]*(?:\s+(?:AS\s+)?(?!(?:"
    + _CLAUSE_KW
    + r")\b)[A-Za-z_]\w*)?)\s+SAMPLE\s+"
    r"(\d+(?:\.\d+)?)",
    re.IGNORECASE,
)


def _sample_sub(m: re.Match) -> str:
    val = float(m.group(2))
    if val <= 1.0:
        # ClickHouse SAMPLE k with 0 <= k <= 1 is a FRACTION; SAMPLE 1 is
        # documented as "same as not sampling" — so 1 maps to 100 PERCENT,
        # never to 1 ROW
        return f"{m.group(1)} TABLESAMPLE ({val * 100.0:g} PERCENT)"
    return f"{m.group(1)} TABLESAMPLE ({int(val)} ROWS)"

#: trailing per-query ``SETTINGS k = v[, ...]`` clause: a ClickHouse
#: execution hint (max_threads, max_memory_usage, ...), meaningless to
#: Spark's planner — stripped, like PREWHERE's scan-order hint. Anchored at
#: end-of-statement (optional trailing semicolon/format noise excluded
#: upstream); values may be numbers or quoted strings. Only TOP-LEVEL:
#: the lookahead refuses a closing paren after the clause, so a
#: subquery-embedded SETTINGS (not valid CH anyway) is left to fail loudly.
_TRAILING_SETTINGS_RE = re.compile(
    r"\s+SETTINGS\s+\w+\s*=\s*(?:'[^']*'|[\w.]+)"
    r"(?:\s*,\s*\w+\s*=\s*(?:'[^']*'|[\w.]+))*\s*(;?)\s*$",
    re.IGNORECASE,
)


#: ``GLOBAL IN`` / ``GLOBAL [kind] JOIN`` — ClickHouse's distributed-
#: execution hint (ship the right side to every shard, i.e. a broadcast);
#: Spark's planner makes the broadcast-vs-shuffle call itself (AQE +
#: autoBroadcastJoinThreshold), so the hint strips like PREWHERE. ``ALL``
#: join strictness is ClickHouse's DEFAULT (standard multiplicity) and
#: strips too; ``ANY``/``ASOF`` strictness is NOT stripped — ANY changes
#: row multiplicity and must fail loudly (ASOF has its own rewrite). Same
#: regex-pre-pass tradeoff as FINAL: the only false positive is literal
#: text inside a string.
_GLOBAL_HINT_RE = re.compile(
    r"\bGLOBAL\s+(?=(?:NOT\s+)?IN\b|(?:(?:ANY|ALL|LEFT|RIGHT|INNER|FULL|"
    r"CROSS|SEMI|ANTI)\s+)*JOIN\b)",
    re.IGNORECASE,
)
_ALL_STRICTNESS_RE = re.compile(
    r"\bALL\s+(?=(?:(?:LEFT|RIGHT|INNER|FULL)\s+)*JOIN\b)",
    re.IGNORECASE,
)

#: trailing ``FORMAT <name>`` — the clickhouse-client output-format clause
#: (``FORMAT TabSeparated`` etc.), meaningless to a DataFrame-returning
#: engine; stripped like the trailing SETTINGS hint. End-anchored, and the
#: format name must not be a sort-spec keyword: ``ORDER BY format DESC``
#: ends in the two words ``format DESC`` and would otherwise read as a
#: format clause, deleting a real sort term (a lone trailing column named
#: format never matches — the clause needs two words).
_TRAILING_FORMAT_RE = re.compile(
    r"\s+FORMAT\s+(?!(?:ASC|DESC|NULLS|FIRST|LAST)\b)\w+\s*(;?)\s*$",
    re.IGNORECASE,
)


#: dateDiff('unit', a, b) -> boundary-crossing difference expressions.
#: Epoch-second DIV is exact floor for the post-1970 data this engine
#: carries; calendar units difference the calendar field positions.
_DATEDIFF_UNITS = {
    "second": "(unix_timestamp({b}) - unix_timestamp({a}))",
    "minute": "(unix_timestamp({b}) DIV 60 - unix_timestamp({a}) DIV 60)",
    "hour": "(unix_timestamp({b}) DIV 3600 - unix_timestamp({a}) DIV 3600)",
    "day": "datediff(CAST({b} AS DATE), CAST({a} AS DATE))",
    "month": "((year({b}) * 12 + month({b})) - (year({a}) * 12 + month({a})))",
    "quarter": "((year({b}) * 4 + quarter({b})) - (year({a}) * 4 + quarter({a})))",
    "year": "(year({b}) - year({a}))",
}

#: emptyArray<T>() -> a typed empty array literal (r10); the unsigned
#: widths follow the same next-signed-type rule as the DDL type map
_EMPTY_ARRAY_TYPES = {
    "String": "STRING",
    "Int8": "TINYINT",
    "Int16": "SMALLINT",
    "Int32": "INT",
    "Int64": "BIGINT",
    "UInt8": "SMALLINT",
    "UInt16": "INT",
    "UInt32": "BIGINT",
    "Float32": "FLOAT",
    "Float64": "DOUBLE",
    "Date": "DATE",
    "DateTime": "TIMESTAMP",
}

#: <agg>If(args..., cond) — ClickHouse's If combinator attaches to ANY
#: aggregate; each base maps to its Spark twin with every VALUE argument
#: wrapped in CASE WHEN cond (Spark aggregates skip NULL inputs, which is
#: exactly the If combinator's skip-row semantic; count/collect need no
#: special casing for the same reason). sum/avg/min/max handled since r1;
#: r8 generalizes to the rest of the mapped aggregate surface.
_IF_COMBINATORS = {
    "sumIf": "sum",
    "avgIf": "avg",
    "minIf": "min",
    "maxIf": "max",
    "anyIf": "any_value",
    "anyLastIf": "any_value",
    "uniqIf": "approx_count_distinct",
    "argMaxIf": "max_by",
    "argMinIf": "min_by",
    "groupArrayIf": "collect_list",
    "groupUniqArrayIf": "collect_set",
}

#: approximate-sketch quantile variants all land on percentile_approx —
#: Spark's one approximate-percentile sketch plays the role of ClickHouse's
#: tdigest/timing/deterministic family (same contract: approximate rank
#: statistics; error models differ and are documented here)
_QUANTILES = {
    "quantile": "percentile_approx",
    "quantileExact": "percentile",
    "quantileTDigest": "percentile_approx",
    "quantileTiming": "percentile_approx",
    "quantileDeterministic": "percentile_approx",
    "quantileBFloat16": "percentile_approx",
}

#: an identifier directly before ``[`` that means the bracket STARTS a
#: fresh expression (array literal), not a subscript on that identifier —
#: clause keywords and operators, ``x IN [1, 2]`` being the archetype.
_BRACKET_LITERAL_PRECEDERS = frozenset(
    {
        "SELECT",
        "DISTINCT",
        "WHERE",
        "PREWHERE",
        "HAVING",
        "AND",
        "OR",
        "NOT",
        "WHEN",
        "THEN",
        "ELSE",
        "ON",
        "BY",
        "CASE",
        "BETWEEN",
        "LIKE",
        "ILIKE",
        "IN",
        "AS",
        "ALL",
        "ANY",
        "SOME",
        "FROM",
        "JOIN",
        "UNION",
        "EXCEPT",
        "INTERSECT",
        "VALUES",
        "IS",
        "RETURN",
        "LIMIT",
        "OFFSET",
        "USING",
        "SET",
        "INTERVAL",
        "END",
    }
)


def _rewrite_brackets(sql: str) -> str:
    """ClickHouse bracket syntax -> Spark spellings:

    - expression-position ``[a, b, c]`` (array literal) -> ``array(a, b,
      c)`` — Spark's parser has no bracket literal;
    - postfix ``base[i]`` (subscript) -> ``try_element_at(base, i)`` —
      ClickHouse array subscripts are 1-BASED with negative-from-end and a
      NULL-ish out-of-range, where Spark's native ``a[i]`` is 0-based:
      passing the bracket through returned the WRONG ELEMENT silently
      (found r11). Maps go through the same call (key lookup; missing key
      reads NULL — the engine's documented Map divergence).

    Forward token walk tracking the start of the last complete postfix
    expression in the output; a bracket after an identifier / ``)`` /
    ``]`` / quoted token is a subscript on it unless the identifier is a
    clause keyword (``x IN [1, 2]``). Chains (``m['a'][2]``) wrap
    left-to-right; inner content recurses. Runs as a pre-pass on the raw
    text, so the emitted calls flow through the normal translator and the
    output (bracket-free) is a fixed point."""
    toks = sqltext.tokens(sql)
    out = ""
    primary_start: int | None = None  # index into out
    prev_kw: str | None = None  # keyword immediately before, if any
    k = 0
    while k < len(toks):
        t = toks[k]
        k += 1
        if t.kind == sqltext.WORD:
            if t.text.upper() in _BRACKET_LITERAL_PRECEDERS:
                primary_start, prev_kw = None, t.text.upper()
            else:
                primary_start, prev_kw = len(out), None
            out += t.text
            # a dotted chain (db.tbl.col) is one primary
            while (
                k + 1 < len(toks)
                and toks[k].text == "."
                and toks[k + 1].kind == sqltext.WORD
            ):
                out += "." + toks[k + 1].text
                k += 2
            continue
        if t.text == "(":
            close = sqltext.close_of(toks, k - 1)  # raises on unbalanced (loud)
            inner = _rewrite_brackets(sql[t.end : toks[close].start])
            group_start = len(out)
            out += f"({inner})"
            if primary_start is None:
                # a bare group IS the primary ((expr)[1] subscripts the
                # group); a call keeps the callee's primary start — the
                # callee identifier set it just before
                primary_start = group_start
            prev_kw = None
            k = close + 1
            continue
        if t.text == "[":
            if t.close < 0:  # unbalanced: leave verbatim
                out += sql[t.start :]
                break
            inner = _rewrite_brackets(sql[t.end : toks[t.close].start])
            if primary_start is not None:
                base = out[primary_start:].rstrip()
                out = out[:primary_start] + f"try_element_at({base}, {inner})"
                # the wrap is the new primary (subscript chains)
            elif prev_kw == "IN":
                # ``x IN [1, 2]`` is list membership: Spark's IN wants a
                # parenthesized list, not an array value
                primary_start = len(out)
                out += f"({inner})"
            else:
                primary_start = len(out)
                out += f"array({inner})"
            k = t.close + 1
            continue
        if t.kind == sqltext.QUOTED:
            primary_start, prev_kw = len(out), None
        elif t.kind != sqltext.SPACE:
            primary_start = prev_kw = None
        out += t.text
    return out


#: clause keywords that END a PREWHERE or WHERE predicate at top level.
#: SELECT/INTO guard compound statements; a second PREWHERE ends the scan
#: too (invalid CH, but the merge must not jump across it).
_PREDICATE_STOP = {
    "GROUP",
    "HAVING",
    "ORDER",
    "LIMIT",
    "WINDOW",
    "QUALIFY",
    "UNION",
    "INTERSECT",
    "EXCEPT",
    "SETTINGS",
    "FORMAT",
    "SELECT",
    "INTO",
    "PREWHERE",
    "WHERE",
}


def _merge_prewhere_where(sql: str) -> str:
    """``PREWHERE p WHERE w`` (valid ClickHouse: PREWHERE is a scan-order
    hint whose condition simply ANDs with WHERE —
    clickhouse.com/docs/sql-reference/statements/select/prewhere) ->
    ``WHERE (p) AND (w)``. Without this merge the bare keyword map
    (PREWHERE -> WHERE) emitted the invalid double-WHERE. Top-level
    per-scope only: subqueries recurse through translate_clickhouse_sql,
    so each SELECT scope sees its own clause pair; the stop-keyword set
    keeps the merge from reaching across UNION/INTERSECT boundaries."""
    while True:
        toks = sqltext.top_level_words(sql)
        merged = False
        for idx, (i, j, up) in enumerate(toks):
            if up != "PREWHERE":
                continue
            nxt = next(
                (
                    t
                    for t in toks[idx + 1 :]
                    if t[2] in _PREDICATE_STOP
                ),
                None,
            )
            if nxt is None or nxt[2] != "WHERE":
                continue
            i2, j2, _ = nxt
            stop2 = next(
                (
                    t
                    for t in toks
                    if t[0] > j2 and t[2] in _PREDICATE_STOP
                ),
                None,
            )
            wend = stop2[0] if stop2 is not None else len(sql)
            pred = sql[j:i2].strip()
            where = sql[j2:wend]
            tail = where.rstrip()
            semi = ""
            if tail.endswith(";"):
                semi = ";"
                tail = tail[:-1].rstrip()
            sep = " " if wend < len(sql) else ""
            sql = (
                sql[:i]
                + f"WHERE ({pred}) AND ({tail.strip()}){semi}{sep}"
                + sql[wend:]
            )
            merged = True
            break
        if not merged:
            return sql


def _rewrite_limit_offset(sql: str) -> str:
    """Global ``LIMIT m, n`` (ClickHouse/MySQL offset-first spelling) ->
    ``LIMIT n OFFSET m`` (the form Spark parses). Top-level only and only
    when NOT followed by BY (the per-group form is _rewrite_limit_by's);
    runs after it, so a statement can carry both."""
    toks = sqltext.top_level_words(sql)
    if not toks or toks[0][2] not in ("SELECT", "WITH"):
        return sql
    for idx in range(len(toks) - 2):
        if (
            toks[idx][2] == "LIMIT"
            and sql[toks[idx][1] : toks[idx + 1][0]].strip() == ""
            and toks[idx + 1][2].isdigit()
            and toks[idx + 2][2].isdigit()
            and sql[toks[idx + 1][1] : toks[idx + 2][0]].strip() == ","
            and (idx + 3 >= len(toks) or toks[idx + 3][2] != "BY")
        ):
            m_, n_ = toks[idx + 1][2], toks[idx + 2][2]
            return (
                f"{sql[: toks[idx][0]]}LIMIT {n_} OFFSET {m_}"
                f"{sql[toks[idx + 2][1] :]}"
            )
    return sql


#: an ORDER BY item's trailing direction / null ordering
_ORDER_SUFFIX = re.compile(r"(?i)(\s+(?:ASC|DESC))?(\s+NULLS\s+(?:FIRST|LAST))?\s*$")


def _carry_order_columns(select: str, order_exprs: str) -> tuple[str, str, list[str]]:
    """ClickHouse lets ORDER BY name a column the SELECT list drops, but the
    LIMIT BY wrapper orders OUTSIDE that list. Each ORDER BY item that is
    not a select item, alias or position is computed inside the list as a
    hidden ``__lb_o<i>`` column, and the wrapper orders by (then projects
    away) those. Returns ``(select, order_exprs, hidden names)``; a
    ``*`` list, DISTINCT or a set operation is left as it was (an extra
    column would change what DISTINCT or the set operation compares)."""
    toks = sqltext.top_level_words(select)
    words = [t[2] for t in toks]
    frm = next((t[0] for t in toks if t[2] == "FROM"), len(select))
    if words.count("SELECT") != 1 or {"DISTINCT", "UNION", "INTERSECT", "EXCEPT"} & set(words):
        return select, order_exprs, []
    items = sqltext.split_top_level(select[toks[words.index("SELECT")][1] : frm])
    if any(it.strip().endswith("*") for it in items):
        return select, order_exprs, []
    names = {it.strip().lower() for it in items} | {
        it.split()[-1].strip("`").lower() for it in items
    }
    carried: dict[str, str] = {}  # hidden name -> expression
    parts = []
    for part in sqltext.split_top_level(order_exprs):
        part = part.strip()
        m = _ORDER_SUFFIX.search(part)
        expr, suffix = part[: m.start()], part[m.start() :]
        if expr.lower() in names or expr.isdigit():
            parts.append(part)
            continue
        name = f"__lb_o{len(carried)}"
        carried[name] = expr
        parts.append(name + suffix)
    if carried:
        extra = ", ".join(f"{e} AS {n}" for n, e in carried.items())
        select = f"{select[:frm].rstrip()}, {extra} {select[frm:]}".rstrip()
    return select, ", ".join(parts), list(carried)


def _rewrite_limit_by(sql: str) -> str:
    """``... [ORDER BY o] LIMIT [m,] n [OFFSET m] BY c1, c2 [LIMIT k]`` ->
    a row_number window per (c1, c2) keeping rows m+1..m+n (following the
    ORDER BY when present, like ClickHouse; arbitrary-but-deterministic by
    the group columns otherwise), with the outer ORDER BY / LIMIT
    re-applied on top. Both per-group OFFSET spellings run (r9):
    ``LIMIT 2, 3 BY c`` and ``LIMIT 3 OFFSET 2 BY c``. Only applies to
    text that IS a query (first token SELECT/WITH): the recursive
    translator also feeds this function comma-split call arguments and
    subquery fragments, and rewriting a fragment like ``price FROM t ...
    LIMIT 1 BY sym`` (the tail of a multi-column select list) would wrap
    a non-query in a subselect and garble the statement. Non-query
    fragments pass through and a nested LIMIT BY then fails loudly in
    Spark's analyzer rather than silently misbehaving."""
    toks = sqltext.top_level_words(sql)
    if not toks or toks[0][2] not in ("SELECT", "WITH"):
        return sql
    # find LIMIT <int> [, <int> | OFFSET <int>] BY
    hit = None
    n_rows = offset = 0
    by_idx = -1
    for idx in range(len(toks) - 2):
        if not (
            toks[idx][2] == "LIMIT"
            and sql[toks[idx][1] : toks[idx + 1][0]].strip() == ""
            and toks[idx + 1][2].isdigit()
        ):
            continue
        if toks[idx + 2][2] == "BY":
            hit, by_idx = idx, idx + 2
            n_rows, offset = int(toks[idx + 1][2]), 0
            break
        if (
            # only toks[idx+3] is read, so idx+3 is the real bound — a
            # stricter idx+4 guard dropped `LIMIT 2, 3 BY (sym)` (the
            # parenthesized BY list emits no keyword token after BY; the
            # column text is located from the SQL after the BY span, same
            # as the plain-form path) — r9 advice
            idx + 3 < len(toks)
            and toks[idx + 2][2].isdigit()
            and sql[toks[idx + 1][1] : toks[idx + 2][0]].strip() == ","
            and toks[idx + 3][2] == "BY"
        ):
            # ClickHouse's LIMIT offset, n BY
            hit, by_idx = idx, idx + 3
            offset, n_rows = int(toks[idx + 1][2]), int(toks[idx + 2][2])
            break
        if (
            idx + 4 < len(toks)
            and toks[idx + 2][2] == "OFFSET"
            and toks[idx + 3][2].isdigit()
            and toks[idx + 4][2] == "BY"
        ):
            hit, by_idx = idx, idx + 4
            n_rows, offset = int(toks[idx + 1][2]), int(toks[idx + 3][2])
            break
    if hit is None:
        return sql
    cols_start = toks[by_idx][1]
    # group columns run until the next top-level ORDER/LIMIT or end
    tail_kw = None
    for t in toks:
        if t[0] >= cols_start and t[2] in ("LIMIT", "ORDER"):
            tail_kw = t
            break
    cols_end = tail_kw[0] if tail_kw else len(sql)
    cols = sql[cols_start:cols_end].strip().rstrip(";")
    rest = sql[cols_end:].strip()

    prefix = sql[: toks[hit][0]].rstrip()
    # optional top-level ORDER BY ... immediately before LIMIT BY
    order_exprs = None
    order_toks = [t for t in toks if t[2] == "ORDER" and t[1] <= toks[hit][0]]
    if order_toks:
        o = order_toks[-1]
        nxt = next((t for t in toks if t[0] > o[1]), None)
        if nxt and nxt[2] == "BY":
            order_exprs = sql[nxt[1] : toks[hit][0]].strip()
            prefix = sql[: o[0]].rstrip()
    hidden: list[str] = []
    if order_exprs:
        prefix, order_exprs, hidden = _carry_order_columns(prefix, order_exprs)
    win_order = order_exprs if order_exprs else cols
    keep = (
        f"__lb_rn <= {n_rows}"
        if offset == 0
        else f"__lb_rn > {offset} AND __lb_rn <= {offset + n_rows}"
    )
    out = (
        f"SELECT * EXCEPT ({', '.join(['__lb_rn', *hidden])}) FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {cols} ORDER BY {win_order}) "
        f"AS __lb_rn FROM ({prefix}) __lb_src) __lb WHERE {keep}"
    )
    if order_exprs:
        out += f" ORDER BY {order_exprs}"
    if rest:
        out += f" {rest}"
    return out


# ---------------------------------------------------------------------------
# windowFunnel / sequenceMatch — ClickHouse's ordered event-chain aggregates,
# previously documented as non-translatable. Both ARE expressible as pure
# Spark expressions: collect the group's (event-time, condition) points,
# array_sort them, and run the ClickHouse state machine as an aggregate()
# fold — JVM expressions end to end, no UDF, no extra shuffle beyond the
# enclosing GROUP BY. Per-group state is O(#conditions); the collected array
# is O(group events), same as ClickHouse's own AggregateFunctionWindowFunnel
# buffer.
#
# windowFunnel(W[, mode...])(ts, c1..cN) replicates the CH algorithm
# exactly (AggregateFunctionWindowFunnel::getEventLevel): events explode
# into (t, cond-idx) pairs sorted by (t, idx); a c1 point OVERWRITES the
# level-1 chain start; a c_i point within W of the level-(i-1) CHAIN
# START propagates that start to level i; result = deepest level reached.
# r9: the strictness modes run too — see _window_funnel_expr's docstring
# for the branch-for-branch mapping (break markers for strict_order,
# repeat-interrupt for strict_deduplication, per-level completion times
# for strict_increase; the algorithm's early returns become a frozen
# `ret` field).
#
# sequenceMatch('(?1).*(?2)')(ts, c1..cK) supports (?N) and .* pattern
# atoms (time conditions (?t<=x) are refused loudly): one point per matched
# EVENT (not per condition — adjacency counts events, and an event matching
# any DESCRIBED condition interrupts an adjacent pair, per CH docs), sorted
# by time, folded through a reachable/ends-here boolean DP per pattern
# prefix. CH documents same-second ordering as undefined; here ties order by
# the condition flags.
# ---------------------------------------------------------------------------

#: merge-lambda size is O(N^2); ClickHouse caps conditions at 32, this
#: translation at 8 — past that the generated expression gets silly
_FUNNEL_MAX_CONDS = 8


#: windowFunnel strictness modes (ClickHouse names; 'strict' is the
#: deprecated alias of strict_deduplication)
_FUNNEL_MODES = {"strict_order", "strict_deduplication", "strict_increase", "strict"}


def _window_funnel_expr(
    window: str, ts: str, conds: list[str], modes: frozenset[str] = frozenset()
) -> str:
    """The ClickHouse getEventLevel state machine as one aggregate() fold,
    INCLUDING the strictness modes (r9) — branch-for-branch with the
    published algorithm (AggregateFunctionWindowFunnel::getEventLevel):

    * default: a c1 point OVERWRITES the chain start; a c_k point within
      W of the level-(k-1) CHAIN START propagates that start to level k
      (the window is anchored at the chain start, not the previous step);
      reaching the top level ends the scan.
    * strict_deduplication: a c_k point while level k is ALREADY reached
      ends the scan with result k (CH returns the repeated condition's
      index — including when that truncates a deeper later completion).
    * strict_order: rows matching NO condition become (t, 0) break
      markers; after the first c1, a break marker OR an out-of-order c_k
      (its k-1 prefix unreached) ends the scan with the deepest
      contiguous level so far. Markers before the first c1 are skipped.
    * strict_increase: a chain only advances on a strictly LATER
      timestamp than the event that completed its previous level (the
      fold tracks that completion time per level as u_k).

    The scan-terminating returns become a frozen ``ret`` field — every
    later point no-ops once it is set, exactly the early ``return``s.
    """
    n = len(conds)
    if n > _FUNNEL_MAX_CONDS:
        raise ValueError(
            f"windowFunnel: at most {_FUNNEL_MAX_CONDS} conditions supported"
        )
    bad = modes - _FUNNEL_MODES
    if bad:
        raise ValueError(f"windowFunnel: unknown mode(s) {sorted(bad)}")
    s_order = "strict_order" in modes
    s_dedup = "strict_deduplication" in modes or "strict" in modes
    s_inc = "strict_increase" in modes
    # one point per MATCHED CONDITION (CH pushes a (t, idx) pair per matched
    # condition, so one event can advance several levels); CAST AS DOUBLE is
    # epoch seconds for timestamps and identity for numerics — both CH
    # forms. strict_order additionally keeps rows matching NO condition as
    # i=0 break markers (CH add()'s `if (strict_order && !has_event)`);
    # i=0 sorts before any match at the same timestamp, like CH's pair sort.
    pair_list = [
        f"named_struct('t', CAST({ts} AS DOUBLE), 'i', {i + 1}, "
        f"'m', coalesce(CAST({c} AS BOOLEAN), false))"
        for i, c in enumerate(conds)
    ]
    if s_order:
        any_flag = " OR ".join(
            f"coalesce(CAST({c} AS BOOLEAN), false)" for c in conds
        )
        pair_list.append(
            f"named_struct('t', CAST({ts} AS DOUBLE), 'i', 0, "
            f"'m', NOT ({any_flag}))"
        )
    entries = (
        f"array_sort(flatten(collect_list("
        f"filter(array({', '.join(pair_list)}), p -> p.m AND p.t IS NOT NULL))))"
    )

    def pack(upd: dict[str, str]) -> str:
        parts = [f"'ret', {upd.get('ret', 'acc.ret')}"]
        if s_order:
            parts.append(f"'st', {upd.get('st', 'acc.st')}")
        for i in range(1, n + 1):
            parts.append(f"'t{i}', {upd.get(f't{i}', f'acc.t{i}')}")
            if s_inc:
                parts.append(f"'u{i}', {upd.get(f'u{i}', f'acc.u{i}')}")
        return f"named_struct({', '.join(parts)})"

    zero_fields = {"ret": "CAST(NULL AS INT)"}
    if s_order:
        zero_fields["st"] = "false"
    for i in range(1, n + 1):
        zero_fields[f"t{i}"] = "CAST(NULL AS DOUBLE)"
        if s_inc:
            zero_fields[f"u{i}"] = "CAST(NULL AS DOUBLE)"
    zero = (
        "named_struct("
        + ", ".join(f"'{k}', {v}" for k, v in zero_fields.items())
        + ")"
    )
    deepest = (
        "CAST(CASE "
        + " ".join(f"WHEN acc.t{i} IS NOT NULL THEN {i}" for i in range(n, 0, -1))
        + " ELSE 0 END AS INT)"
    )
    branches = []
    if s_order:
        # break marker: ends the scan once a chain has started
        branches.append(
            f"WHEN e.i = 0 THEN CASE WHEN acc.st "
            f"THEN {pack({'ret': deepest})} ELSE acc END"
        )
    lvl1 = {"t1": "e.t"}
    if s_inc:
        lvl1["u1"] = "e.t"
    if s_order:
        lvl1["st"] = "true"
    branches.append(f"WHEN e.i = 1 THEN {pack(lvl1)}")
    for k in range(2, n + 1):
        inner = []
        if s_dedup:
            inner.append(
                f"WHEN acc.t{k} IS NOT NULL THEN "
                f"{pack({'ret': f'CAST({k} AS INT)'})}"
            )
        if s_order:
            inner.append(
                f"WHEN acc.st AND acc.t{k - 1} IS NULL THEN "
                f"{pack({'ret': deepest})}"
            )
        adv = (
            f"acc.t{k - 1} IS NOT NULL AND e.t <= acc.t{k - 1} + ({window})"
        )
        if s_inc:
            adv += f" AND e.t > acc.u{k - 1}"
        upd = {f"t{k}": f"acc.t{k - 1}"}
        if s_inc:
            upd[f"u{k}"] = "e.t"
        if k == n:
            # reaching the top level ends the scan (CH returns events_size
            # immediately — load-bearing under strict_deduplication, where
            # a later repeat would otherwise truncate the result)
            upd["ret"] = f"CAST({n} AS INT)"
        inner.append(f"WHEN {adv} THEN {pack(upd)}")
        branches.append(
            f"WHEN e.i = {k} THEN CASE {' '.join(inner)} ELSE acc END"
        )
    merge = (
        f"(acc, e) -> CASE WHEN acc.ret IS NOT NULL THEN acc "
        f"{' '.join(branches)} ELSE acc END"
    )
    return (
        f"aggregate({entries}, {zero}, {merge}, "
        f"acc -> coalesce(acc.ret, {deepest}))"
    )


def _parse_sequence_pattern(
    pat: str,
) -> list[tuple[int, str | list[tuple[str, str]]]]:
    """'(?1).*(?2)(?t>=1800)(?3)' -> [(1, 'star'), (2, 'adj'),
    (3, [('>=', '1800')])] — (cond-idx, gap to the PREVIOUS matched atom).
    Gaps: 'adj' (immediately next described event), 'star' (any number of
    events between), or a LIST of ('op', seconds) time conditions — which,
    per the ClickHouse contract, also allow any number of events between
    (a ``.*`` in the same gap is therefore absorbed), and which must ALL
    hold against the same anchor event ('(?t>10)(?t<100)' is a band).
    '==' is allowed (exact gap). The first step is unanchored. '.',
    anchors and other atoms raise."""
    steps: list[tuple[int, str | list[tuple[str, str]]]] = []
    i = 0
    gap: str | list[tuple[str, str]] = "star"
    while i < len(pat):
        if pat.startswith(".*", i):
            # a time condition in the same gap wins (it already allows
            # any number of interposed events)
            if isinstance(gap, str):
                gap = "star"
            i += 2
            continue
        m = re.match(r"\(\?t\s*(<=|>=|==|<|>)\s*(\d+(?:\.\d+)?)\)", pat[i:])
        if m is not None:
            if isinstance(gap, list):
                gap.append((m.group(1), m.group(2)))
            else:
                gap = [(m.group(1), m.group(2))]
            i += m.end()
            continue
        m = re.match(r"\(\?(\d+)\)", pat[i:])
        if m is None:
            raise ValueError(
                f"sequenceMatch: unsupported pattern atom at {pat[i:]!r} "
                "(only (?N), .* and (?t op N) are translatable)"
            )
        if not steps and isinstance(gap, list):
            raise ValueError(
                "sequenceMatch: a (?t...) time condition must sit BETWEEN "
                "two conditions (pattern starts with one)"
            )
        steps.append((int(m.group(1)), gap))
        gap = "adj"
        i += m.end()
    if not steps:
        raise ValueError("sequenceMatch: empty pattern")
    if isinstance(gap, list):
        raise ValueError(
            "sequenceMatch: a (?t...) time condition must sit BETWEEN two "
            "conditions (pattern ends with one)"
        )
    return steps


def _sequence_match_expr(
    pattern: str, ts: str, conds: list[str], count: bool = False
) -> str:
    """sequenceMatch -> 1/0; with ``count=True``, sequenceCount -> the
    number of NON-OVERLAPPING matches, greedy leftmost (ClickHouse resumes
    scanning after a completed match's last event — here: the counter
    increments and every prefix resets when the full pattern completes)."""
    fn = "sequenceCount" if count else "sequenceMatch"
    lit = _string_literal(pattern)
    if lit is None:
        raise ValueError(f"{fn}: the pattern must be a string literal")
    if len(conds) > _FUNNEL_MAX_CONDS:
        raise ValueError(
            f"{fn}: at most {_FUNNEL_MAX_CONDS} conditions supported"
        )
    steps = _parse_sequence_pattern(lit)
    for idx, _ in steps:
        if not 1 <= idx <= len(conds):
            raise ValueError(
                f"{fn}: pattern references condition {idx} but only "
                f"{len(conds)} conditions were given"
            )
    k = len(steps)
    # one point per matched EVENT with its condition flags: adjacency counts
    # events matching ANY described condition (an interposed described event
    # interrupts an adjacent pair — the CH-documented interruption rule)
    flags = ", ".join(
        f"'c{i + 1}', coalesce(CAST({c} AS BOOLEAN), false)"
        for i, c in enumerate(conds)
    )
    any_flag = " OR ".join(
        f"coalesce(CAST({c} AS BOOLEAN), false)" for c in conds
    )
    entries = (
        f"array_sort(collect_list(CASE WHEN ({any_flag}) "
        f"AND CAST({ts} AS DOUBLE) IS NOT NULL THEN "
        f"named_struct('t', CAST({ts} AS DOUBLE), {flags}) END))"
    )
    # DP over the time-sorted points, all transitions reading the PRE-event
    # state. Per prefix p: a_p = prefix p ends exactly at this point,
    # e_p / l_p = EARLIEST / LATEST completion time of prefix p so far
    # (NULL = never). The extremes are exact for the single-bound gap
    # kinds: '>'/'>=' time gaps are best served by the earliest prior
    # completion (maximizes the separation), '<'/'<=' by the latest
    # (minimizes it), '.*' by existence, adjacency by a_{p-1} — and both
    # extremes stay exact maintained event-by-event because each actual
    # completion updates them (the achievable-completion set only grows).
    # '(?t==N)' and multi-condition gaps ('(?t>10)(?t<100)' — a band the
    # same anchor must satisfy) are NOT extreme-decidable: the feeding
    # prefix additionally tracks its full completion-time SET s_{p-1}
    # (array, probed with exists()) — O(completions) per group, the same
    # order as the collected entries array and as ClickHouse's own event
    # buffer.
    set_prefixes: set[int] = set()
    a_exprs = []
    for p, (cidx, gap) in enumerate(steps, start=1):
        if p == 1:
            a = f"e.c{cidx}"
        elif gap == "adj":
            a = f"(e.c{cidx} AND acc.a{p - 1})"
        elif gap == "star":
            a = f"(e.c{cidx} AND acc.e{p - 1} IS NOT NULL)"
        elif len(gap) == 1 and gap[0][0] != "==":
            op, secs = gap[0]
            anchor = f"acc.e{p - 1}" if op in (">", ">=") else f"acc.l{p - 1}"
            a = (
                f"(e.c{cidx} AND {anchor} IS NOT NULL "
                f"AND (e.t - {anchor}) {op} {secs})"
            )
        else:
            set_prefixes.add(p - 1)
            conj = " AND ".join(
                f"(e.t - __sc) {'=' if op == '==' else op} {secs}"
                for op, secs in gap
            )
            a = f"(e.c{cidx} AND exists(acc.s{p - 1}, __sc -> {conj}))"
        a_exprs.append(a)
    fields = []
    for p in range(1, k + 1):
        a = a_exprs[p - 1]
        fields.append(
            f"'a{p}', {a}, "
            f"'e{p}', CASE WHEN {a} AND acc.e{p} IS NULL THEN e.t "
            f"ELSE acc.e{p} END, "
            f"'l{p}', CASE WHEN {a} THEN e.t ELSE acc.l{p} END"
        )
        if p in set_prefixes:
            fields.append(
                f"'s{p}', CASE WHEN {a} THEN array_append(acc.s{p}, e.t) "
                f"ELSE acc.s{p} END"
            )
    empty = ", ".join(
        f"'a{p}', false, 'e{p}', CAST(NULL AS DOUBLE), "
        f"'l{p}', CAST(NULL AS DOUBLE)"
        + (f", 's{p}', CAST(array() AS array<double>)" if p in set_prefixes else "")
        for p in range(1, k + 1)
    )
    if not count:
        zero = f"named_struct({empty})"
        merge = f"(acc, e) -> named_struct({', '.join(fields)})"
        return (
            f"aggregate({entries}, {zero}, {merge}, "
            f"acc -> CAST(CASE WHEN acc.e{k} IS NOT NULL THEN 1 ELSE 0 END "
            f"AS INT))"
        )
    # sequenceCount: on full-pattern completion, bump the counter and reset
    # every prefix so the next match cannot reuse any consumed event
    reset = f"named_struct('n', acc.n + 1, {empty})"
    keep = f"named_struct('n', acc.n, {', '.join(fields)})"
    zero = f"named_struct('n', CAST(0 AS INT), {empty})"
    merge = f"(acc, e) -> CASE WHEN {a_exprs[-1]} THEN {reset} ELSE {keep} END"
    return f"aggregate({entries}, {zero}, {merge}, acc -> acc.n)"


# ---------------------------------------------------------------------------
# ASOF JOIN — ClickHouse's point-in-time join. Spark has neither the syntax
# nor the operator, and the two obvious SQL encodings both fail at scale:
# a range join plans as a nested loop, and a correlated LATERAL ... ORDER BY
# ... LIMIT 1 decorrelates through a CartesianProduct against the DISTINCT
# outer timestamps (measured on Spark 4.1). The scalable shape is the one
# operators/asof.py uses: union-tag both sides, ONE window per equality key
# ordered by (ts, side), last(right-row-struct, ignorenulls), keep left
# rows — a single shuffle on the join key, no range explosion.
#
# The rewrite packs each side into a struct aliased by its ORIGINAL table
# alias, so qualified references (``t.px``, ``q.*``) in the outer query
# resolve unchanged as struct-field accesses. Documented limits (each fails
# loudly, never silently):
#   * column references in the outer query and the ON clause must be
#     QUALIFIED by the join aliases (a bare ``px`` cannot see inside the
#     packed structs; ClickHouse itself recommends qualified refs here);
#   * the ASOF JOIN must be the only join in its FROM clause;
#   * USING form and OR in the ON clause are not supported;
#   * ``SELECT *`` returns the two row-structs — use ``t.*, q.*``.
# NULL handling matches SQL join semantics (never ClickHouse's, which
# forbids NULLs in ASOF keys outright): right rows with a NULL key or NULL
# asof-ts are filtered (can never match), and a left row with a NULL asof-ts
# matches nothing — NULLS FIRST ordering puts it before every right row.
# ---------------------------------------------------------------------------

#: tokens that end an ON condition / start a clause after the join
_ASOF_STOP = {
    "WHERE",
    "PREWHERE",
    "GROUP",
    "HAVING",
    "ORDER",
    "LIMIT",
    "UNION",
    "INTERSECT",
    "EXCEPT",
    "WINDOW",
    "QUALIFY",
    "SETTINGS",
    "FORMAT",
}
_ASOF_JOIN_KW = {
    "JOIN",
    "INNER",
    "LEFT",
    "RIGHT",
    "FULL",
    "CROSS",
    "ASOF",
    "SEMI",
    "ANTI",
    "ANY",
}

#: comparison operators, two-char forms first so ``>=`` never matches ``>``
_ASOF_CMP = (">=", "<=", "!=", "<>", "=", ">", "<")

#: leftover ASOF JOIN syntax after rewriting (e.g. in a position the
#: fragment-level scanner cannot see) must abort, or Spark would parse
#: ``t ASOF JOIN u ON a = b AND x >= y`` as alias ``ASOF`` + INNER join
#: with the inequality silently folded into the join condition
_ASOF_LEFTOVER_RE = re.compile(
    r"\bASOF\s+(?:LEFT\s+|INNER\s+)?JOIN\b|\b(?:LEFT|INNER)\s+ASOF\s+JOIN\b",
    re.IGNORECASE,
)


def _refs_alias(expr: str, alias: str) -> bool:
    """True iff ``expr`` contains a qualified reference ``alias.<col>``."""
    return bool(
        re.search(
            rf"(?<![\w.]){re.escape(alias)}\s*\.", sqltext.blank_quoted(expr), re.IGNORECASE
        )
    )


def _split_top_level_and(cond: str) -> list[str]:
    """Split a boolean expression on its top-level ANDs (quote/paren aware);
    a top-level OR is not decomposable into asof conjuncts -> ValueError."""
    parts, last = [], 0
    for s, e, tok in sqltext.top_level_words(cond):
        if tok == "AND":
            parts.append(cond[last:s])
            last = e
        elif tok == "OR":
            raise ValueError("ASOF JOIN: OR in the ON clause is not supported")
    parts.append(cond[last:])
    return [p.strip() for p in parts if p.strip()]


#: a join term's table name (dotted ok), a bare alias word, and the word
#: after an AS (digit-led allowed, like the table name)
_TERM_NAME_RE = re.compile(r"\s*([A-Za-z0-9_.]*)")
_ALIAS_WORD_RE = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*)")
_AS_TARGET_RE = re.compile(r"\s*([A-Za-z0-9_]*)")


def _parse_join_term(sql: str, i: int) -> tuple[str, str | None, int]:
    """Parse a join term at ``i``: a table name (dotted ok) or a
    parenthesized subquery, then an optional ``[AS] alias``. Returns
    (term_text, alias, index_past)."""
    m = _TERM_NAME_RE.match(sql, i)
    i = m.start(1)
    if sql.startswith("(", i):
        j = sqltext.find_close(sql, i) + 1
    else:
        j = m.end(1)
        if j == i:
            raise ValueError(f"ASOF JOIN: expected a table or subquery at {i}")
    term = sql[i:j]
    # optional alias (AS word | bare word that is not a keyword)
    a = _ALIAS_WORD_RE.match(sql, j)
    if a is not None:
        word, up = a.group(1), a.group(1).upper()
        if up == "AS":
            target = _AS_TARGET_RE.match(sql, a.end())
            if not target.group(1):
                raise ValueError("ASOF JOIN: dangling AS")
            return term, target.group(1), target.end()
        if (
            up not in _ASOF_JOIN_KW
            and up not in _ASOF_STOP
            and up not in ("ON", "USING")
        ):
            return term, word, a.end()
    return term, None, j


@_dataclass
class _ParsedJoin:
    """One strictness-modified join parsed out of a FROM clause — the
    shared front half of the ASOF and ANY rewrites (candidate scan, term
    and alias parsing, ON/USING detection, condition span)."""

    from_end: int  # index just past the governing FROM keyword
    left_term: str
    la: str
    right_term: str
    ra: str
    is_left: bool
    is_right: bool
    on_start: int  # start of the ON/USING keyword (USING-splice anchor)
    cond_start: int  # ON form: condition span
    cond_end: int
    using_cols: list[str] | None  # USING form instead
    using_end: int  # USING form: index past the closing paren


def _parse_single_join(sql: str, kw: str, prefixes: tuple[str, ...]):
    """Find the ``[prefix] {kw} [prefix] JOIN`` of this fragment and parse
    its shape; None when the fragment has no such join syntax (a column or
    function named like the keyword — e.g. the any() aggregate — must not
    hide or fake a join, so EVERY top-level token is tried)."""
    label = f"{kw} JOIN"
    toks = sqltext.top_level_words(sql)
    hit = None
    for pos in (x for x in range(len(toks)) if toks[x][2] == kw):
        is_left = is_right = False
        kw_start = toks[pos][0]
        if pos > 0 and toks[pos - 1][2] in prefixes:
            prev = toks[pos - 1]
            if sql[prev[1] : kw_start].strip() == "":
                is_left = prev[2] == "LEFT"
                is_right = prev[2] == "RIGHT"
                kw_start = prev[0]
        q = pos + 1
        if q < len(toks) and toks[q][2] in prefixes:
            is_left = is_left or toks[q][2] == "LEFT"
            is_right = is_right or toks[q][2] == "RIGHT"
            q += 1
        if q < len(toks) and toks[q][2] == "JOIN":
            hit = (kw_start, is_left, is_right, q)
            break
    if hit is None:
        return None  # no join syntax; the leftover backstop decides
    kw_start, is_left, is_right, q = hit
    # ---- left side: between the governing FROM and the join keywords ----
    from_tok = None
    for t in toks:
        if t[2] == "FROM" and t[1] <= kw_start:
            from_tok = t
    if from_tok is None:
        return None
    left_term, left_alias, li = _parse_join_term(sql, from_tok[1])
    if sql[li:kw_start].strip() != "":
        raise ValueError(
            f"{label} must be the only join in its FROM clause "
            f"(unparsed text before the join: {sql[li:kw_start].strip()!r})"
        )
    # ---- right side and ON/USING ----
    right_term, right_alias, ri = _parse_join_term(sql, toks[q][1])
    on_tok = next((t for t in toks if t[0] >= ri), None)
    if on_tok is None or on_tok[2] not in ("ON", "USING"):
        raise ValueError(f"{label}: missing ON / USING clause")
    la = left_alias or left_term.split(".")[-1]
    ra = right_alias or right_term.split(".")[-1]
    if la.startswith("(") or ra.startswith("(") or not la or not ra:
        raise ValueError(f"{label}: subquery sides need an alias")
    if on_tok[2] == "USING":
        j2 = on_tok[1]
        while j2 < len(sql) and sql[j2].isspace():
            j2 += 1
        if j2 >= len(sql) or sql[j2] != "(":
            raise ValueError(f"{label}: USING needs a parenthesized column list")
        close_u = sqltext.find_close(sql, j2)
        cols = [c.strip() for c in sqltext.split_top_level(sql[j2 + 1 : close_u])]
        return _ParsedJoin(
            from_tok[1], left_term, la, right_term, ra, is_left, is_right,
            on_tok[0], -1, -1, cols, close_u + 1,
        )
    cond_start = on_tok[1]
    cond_end = len(sql)
    for t in toks:
        if t[0] >= cond_start and t[2] in _ASOF_STOP:
            cond_end = t[0]
            break
        if t[0] >= cond_start and t[2] in _ASOF_JOIN_KW:
            raise ValueError(f"{label}: only one join per FROM clause")
    semi = sqltext.blank_quoted(sql[cond_start:cond_end]).find(";")
    if semi != -1:
        cond_end = cond_start + semi
    return _ParsedJoin(
        from_tok[1], left_term, la, right_term, ra, is_left, is_right,
        on_tok[0], cond_start, cond_end, None, -1,
    )


def _classify_join_conjuncts(
    sql: str, p: _ParsedJoin, kw: str, allow_ordered: bool
) -> tuple[list[tuple[str, str]], list[tuple[str, str, str]]]:
    """Split the ON condition into (left-expr, right-expr) equality pairs
    and normalized (left, op, right) ordered conditions, orienting each
    conjunct by which alias its sides reference."""
    label = f"{kw} JOIN"
    eqs: list[tuple[str, str]] = []
    ordered: list[tuple[str, str, str]] = []
    for conj in _split_top_level_and(sql[p.cond_start : p.cond_end]):
        # the first top-level comparison operator
        hit = next(
            (
                (op, t.start)
                for t in sqltext.tokens(conj)
                if t.depth == 0 and t.kind == sqltext.PUNCT
                for op in _ASOF_CMP
                if conj.startswith(op, t.start)
            ),
            None,
        )
        if hit is None:
            raise ValueError(f"{label}: no comparison in conjunct {conj!r}")
        op, pos = hit
        if not allow_ordered and op != "=":
            raise ValueError(
                f"{label}: only equality conjuncts are supported, got {conj!r}"
            )
        a, b = conj[:pos].strip(), conj[pos + len(op) :].strip()
        a_l, a_r = _refs_alias(a, p.la), _refs_alias(a, p.ra)
        b_l, b_r = _refs_alias(b, p.la), _refs_alias(b, p.ra)
        if a_l and not a_r and b_r and not b_l:
            lx, rx = a, b
        elif a_r and not a_l and b_l and not b_r:
            lx, rx = b, a
            op = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}.get(op, op)
        else:
            raise ValueError(
                f"{label}: conjunct {conj!r} must compare one "
                f"{p.la}-qualified side with one {p.ra}-qualified side"
            )
        if op == "=":
            eqs.append((lx, rx))
        elif op in ("!=", "<>"):
            raise ValueError(f"{label}: inequality key must be ordered, not !=")
        else:
            ordered.append((lx, op, rx))
    return eqs, ordered


def _rewrite_asof_join(sql: str) -> str:
    """``FROM L la ASOF [LEFT] JOIN R ra ON k-eqs AND la.ts >= ra.ts`` ->
    the union + keyed window + last(ignorenulls) derived table (module
    comment above). Applies to the first top-level ASOF join of the
    fragment; nested subqueries are handled when the recursive translator
    descends into them."""
    p = _parse_single_join(sql, "ASOF", ("LEFT", "INNER"))
    if p is None:
        return sql
    la, ra = p.la, p.ra
    if p.using_cols is not None:
        # USING (k1, .., km, ts): equality on all but the LAST column,
        # which carries the implied >= (ClickHouse's USING-form contract).
        # Rewritten into the qualified ON form — the same documented
        # qualified-refs-only limit applies to the outer query (ClickHouse
        # coalesces USING columns; here each side's column stays inside
        # its alias struct).
        cols = p.using_cols
        if len(cols) < 2 or not all(cols):
            raise ValueError(
                "ASOF JOIN: USING needs at least one key column plus the "
                "asof column (last)"
            )
        cond_text = (
            " AND ".join(f"{la}.{c} = {ra}.{c}" for c in cols[:-1])
            + f" AND {la}.{cols[-1]} >= {ra}.{cols[-1]}"
        )
        return _rewrite_asof_join(
            f"{sql[: p.on_start]}ON {cond_text} {sql[p.using_end :]}"
        )
    eqs, ordered = _classify_join_conjuncts(sql, p, "ASOF", allow_ordered=True)
    if len(ordered) > 1:
        raise ValueError("ASOF JOIN: exactly one ordered condition allowed")
    if not ordered:
        raise ValueError("ASOF JOIN: needs exactly one ordered (>=, >, <=, <) condition")
    if not eqs:
        # ClickHouse requires >=1 equality key; a keyless asof would also
        # serialize the window into one partition — refuse both for one
        raise ValueError("ASOF JOIN: at least one equality condition required")
    is_left = p.is_left
    left_term, right_term = p.left_term, p.right_term
    from_end, cond_end = p.from_end, p.cond_end
    l_ts, op, r_ts = ordered[0]
    backward = op in (">=", ">")
    inclusive = op in (">=", "<=")
    # side order decides whether a right row at EXACTLY the left row's ts is
    # visible (mirrors operators/asof.py's allow_exact_matches ordering)
    r_side, l_side = (0, 1) if inclusive else (1, 0)
    order = "__t ASC NULLS FIRST" if backward else "__t DESC NULLS FIRST"
    k_l = ", ".join(f"{le} AS __k{i}" for i, (le, _) in enumerate(eqs))
    k_r = ", ".join(f"{rx} AS __k{i}" for i, (_, rx) in enumerate(eqs))
    parts = ", ".join(f"__k{i}" for i in range(len(eqs)))
    r_guards = " AND ".join(
        [f"({rx}) IS NOT NULL" for _, rx in eqs] + [f"({r_ts}) IS NOT NULL"]
    )
    inner_filter = "" if is_left else " AND __rrow IS NOT NULL"
    derived = (
        f"(SELECT __lrow AS {la}, __rrow AS {ra} FROM ("
        f"SELECT __lrow, last(__rrow, true) OVER (PARTITION BY {parts} "
        f"ORDER BY {order}, __s ASC "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __rrow, __s "
        f"FROM ("
        f"SELECT {k_l}, {l_ts} AS __t, {l_side} AS __s, "
        f"struct({la}.*) AS __lrow, NULL AS __rrow FROM {left_term} AS {la} "
        f"UNION ALL "
        f"SELECT {k_r}, {r_ts} AS __t, {r_side} AS __s, "
        f"NULL AS __lrow, struct({ra}.*) AS __rrow FROM {right_term} AS {ra} "
        f"WHERE {r_guards}"
        f") __asof_u) __asof_m WHERE __s = {l_side}{inner_filter}) __asof_j"
    )
    return f"{sql[:from_end]} {derived} {sql[cond_end:]}"


def _rewrite_with_totals(sql: str) -> str:
    """``GROUP BY cols WITH TOTALS`` -> ``GROUP BY GROUPING SETS ((cols),
    ())``: the totals row ClickHouse ships out-of-band surfaces as the
    grand-total row with every group column NULL — the same values a
    client reads from the totals block. A CTE named ``totals`` does not
    trigger (the WITH must follow a top-level GROUP)."""
    toks = sqltext.top_level_words(sql)
    for x in range(len(toks) - 1):
        if toks[x][2] != "WITH" or toks[x + 1][2] != "TOTALS":
            continue
        g = None
        for y in range(x):
            if toks[y][2] == "GROUP":
                g = y
        if g is None or g + 1 >= len(toks) or toks[g + 1][2] != "BY":
            continue  # e.g. a CTE named totals — not the clause
        cols = sql[toks[g + 1][1] : toks[x][0]].strip()
        if not cols:
            continue
        return (
            sql[: toks[g][0]]
            + f"GROUP BY GROUPING SETS (({cols}), ())"
            + sql[toks[x + 1][1] :]
        )
    return sql


# ---------------------------------------------------------------------------
# ANY JOIN — ClickHouse's dedup-join strictness: at most one right row per
# left row (ANY LEFT), or one row per key pair (ANY INNER). ClickHouse picks
# an arbitrary matching row; this rewrite picks the LEXICOGRAPHICALLY
# SMALLEST packed row (min over struct(side.*)) — inside the "any" contract
# and, unlike ClickHouse, deterministic. Sides struct-pack under their
# original aliases exactly like the ASOF rewrite, so qualified outer refs
# resolve unchanged. The same fail-loud rules apply (qualified equality-only
# ON, one join per FROM, no USING), with a leftover backstop — un-rewritten
# ANY syntax would otherwise parse as a table alias plus a PLAIN join,
# silently multiplying rows. RIGHT ANY is refused (rewrite the query with
# the sides swapped).
# ---------------------------------------------------------------------------

_ANY_LEFTOVER_RE = re.compile(
    r"\bANY\s+(?:LEFT\s+|RIGHT\s+|INNER\s+)?JOIN\b"
    r"|\b(?:LEFT|RIGHT|INNER)\s+ANY\s+JOIN\b",
    re.IGNORECASE,
)


def _rewrite_any_join(sql: str) -> str:
    """``FROM L la ANY [LEFT|INNER] JOIN R ra ON k-eqs`` -> dedup-before-
    join (module comment above): the right side (both sides for INNER)
    collapses to one deterministic row per key, then a plain join."""
    p = _parse_single_join(sql, "ANY", ("LEFT", "INNER", "RIGHT"))
    if p is None:
        return sql  # no join syntax (e.g. only any() calls); backstop rules
    if p.is_right:
        raise ValueError("RIGHT ANY JOIN is not supported — swap the sides")
    la, ra = p.la, p.ra
    if p.using_cols is not None:
        cols = p.using_cols
        if not cols or not all(cols):
            raise ValueError("ANY JOIN: empty USING column list")
        cond_text = " AND ".join(f"{la}.{c} = {ra}.{c}" for c in cols)
        return _rewrite_any_join(
            f"{sql[: p.on_start]}ON {cond_text} {sql[p.using_end :]}"
        )
    eqs, _ = _classify_join_conjuncts(sql, p, "ANY", allow_ordered=False)
    if not eqs:
        raise ValueError("ANY JOIN: at least one equality condition required")

    def _dedup(term: str, alias: str, key_exprs: list[str]) -> str:
        keys = ", ".join(f"{k} AS __k{i}" for i, k in enumerate(key_exprs))
        group = ", ".join(f"__k{i}" for i in range(len(key_exprs)))
        return (
            f"(SELECT {keys}, min(struct({alias}.*)) AS {alias} "
            f"FROM {term} AS {alias} GROUP BY {group})"
        )

    r_derived = _dedup(p.right_term, ra, [rx for _, rx in eqs])
    on = " AND ".join(
        f"({lx}) = __any_r.__k{i}" for i, (lx, _) in enumerate(eqs)
    )
    if p.is_left:
        # ANY LEFT: all left rows, right side deduped per key; ra stays a
        # selectable struct — the derived table's struct column already
        # carries that name, __any_r.__k* stay internal
        return (
            f"{sql[: p.from_end]} {p.left_term} AS {la} LEFT JOIN "
            f"{r_derived} AS __any_r ON {on} {sql[p.cond_end:]}"
        )
    # ANY INNER: ClickHouse dedupes BOTH sides — one row per key pair
    l_derived = _dedup(p.left_term, la, [lx for lx, _ in eqs])
    on_inner = " AND ".join(
        f"__any_l.__k{i} = __any_r.__k{i}" for i in range(len(eqs))
    )
    repl = f"{l_derived} AS __any_l JOIN {r_derived} AS __any_r ON {on_inner}"
    return f"{sql[: p.from_end]} {repl} {sql[p.cond_end:]}"


# ---------------------------------------------------------------------------
# ARRAY JOIN — ClickHouse's unnest clause: ``FROM t [LEFT] ARRAY JOIN arr
# [AS x][, more]``. Spark's equivalent is LATERAL VIEW [OUTER] explode /
# posexplode, wrapped in a derived table aliased back to the original table
# alias so every outer reference resolves unchanged:
#
#   FROM T t ARRAY JOIN e1 AS x, e2 AS y WHERE ...
#   -> FROM (SELECT t.*, __aj_e0 AS x, try_element_at(e2, __aj_pos + 1) AS y
#            FROM T AS t LATERAL VIEW posexplode(e1) __aj AS __aj_pos,
#            __aj_e0) AS t WHERE ...
#
# Semantics mapped (ClickHouse docs, "ARRAY JOIN clause"):
#   * plain ARRAY JOIN drops empty/NULL-array rows (explode); LEFT ARRAY
#     JOIN keeps them (OUTER) with the element NULL — the Nullable-element
#     default, where non-Nullable ClickHouse columns would take the type
#     default (0, '') instead. Documented divergence.
#   * an UNALIASED item must be a plain column; its unnested element
#     REPLACES the column (t.* EXCEPT (col) + element AS col) — the
#     replaced column moves to the end of the row, a column-ORDER
#     divergence only.
#   * multiple items are zipped POSITIONALLY (never a cross product): the
#     first item drives posexplode, the rest subscript at the shared
#     position. ClickHouse errors when sizes differ; here a shorter array
#     yields NULL and a longer one truncates — documented divergence.
#   * aliased items may be arbitrary array EXPRESSIONS (arrayEnumerate(a)
#     AS i, arrayMap(...) AS m); expressions are translated by the main
#     scanner after the splice.
# Unsupported (fail loudly, never a silent plain-join misparse): ARRAY
# JOIN after another join, a join after the clause, and the nested
# COLUMNS/Nested-table forms.
# ---------------------------------------------------------------------------

_ARRAY_JOIN_LEFTOVER_RE = re.compile(r"\bARRAY\s+JOIN\b", re.IGNORECASE)


def _split_trailing_as(item: str) -> tuple[str, str | None]:
    """Split one ARRAY JOIN item into (expr, alias): alias iff the item
    ends with a top-level ``AS <ident>``."""
    ts = sqltext.top_level_words(item)
    if len(ts) >= 2 and ts[-2][2] == "AS":
        a_end = ts[-2][1]
        id_start, id_end, ident = ts[-1]
        if (
            item[a_end:id_start].strip() == ""
            and item[id_end:].strip() == ""
            and not ident[0].isdigit()
        ):
            expr = item[: ts[-2][0]].rstrip()
            if expr:
                return expr, item[id_start:id_end]
    return item, None


def _rewrite_array_join(sql: str) -> str:
    """``FROM <term> [alias] [LEFT] ARRAY JOIN item, ...`` -> the LATERAL
    VIEW derived table (comment above). First top-level clause of the
    fragment; subqueries are handled when the translator descends."""
    toks = sqltext.top_level_words(sql)
    hit = None
    for x in range(len(toks) - 1):
        if (
            toks[x][2] == "ARRAY"
            and toks[x + 1][2] == "JOIN"
            and sql[toks[x][1] : toks[x + 1][0]].strip() == ""
        ):
            hit = x
            break
    if hit is None:
        return sql
    x = hit
    clause_start = toks[x][0]
    join_end = toks[x + 1][1]
    is_left = False
    if (
        x > 0
        and toks[x - 1][2] == "LEFT"
        and sql[toks[x - 1][1] : toks[x][0]].strip() == ""
    ):
        is_left = True
        clause_start = toks[x - 1][0]
    # ---- governing FROM and its single term ----
    from_tok = None
    for t in toks:
        if t[2] == "FROM" and t[1] <= clause_start:
            from_tok = t
    if from_tok is None:
        raise ValueError("ARRAY JOIN: no governing FROM clause")
    term_text = sql[from_tok[1] : clause_start]
    term, alias, consumed = _parse_join_term(term_text, 0)
    if term_text[consumed:].strip():
        raise ValueError(
            "ARRAY JOIN: FROM must be a single table or aliased subquery "
            f"(unparsed text before the clause: {term_text[consumed:].strip()!r})"
        )
    al = alias or term.split(".")[-1]
    if al.startswith("(") or not al:
        raise ValueError("ARRAY JOIN: a subquery FROM term needs an alias")
    # ---- item list: up to the next top-level clause keyword / ';' / end ----
    items_end = len(sql)
    for t in toks:
        if t[0] < join_end:
            continue
        if t[2] in _ASOF_STOP:
            items_end = t[0]
            break
        if t[2] in _ASOF_JOIN_KW:
            raise ValueError("ARRAY JOIN: a join after the clause is not supported")
    semi = sqltext.blank_quoted(sql[join_end:items_end]).find(";")
    if semi != -1:
        items_end = join_end + semi
    items = sqltext.split_top_level(sql[join_end:items_end])
    if not items:
        raise ValueError("ARRAY JOIN: needs at least one array item")
    # ---- parse items: (element expr, output name, replaced column or None)
    parsed: list[tuple[str, str, str | None]] = []
    for it in items:
        expr, it_alias = _split_trailing_as(it)
        if it_alias is not None:
            parsed.append((expr, it_alias, None))
            continue
        m = re.fullmatch(r"(?:([A-Za-z_]\w*)\s*\.\s*)?([A-Za-z_]\w*)", expr.strip())
        if m is None:
            raise ValueError(
                "ARRAY JOIN: an item without AS must be a plain column "
                f"(its element replaces the column), got {expr.strip()!r}"
            )
        qual, col = m.groups()
        if qual is not None and qual != al:
            raise ValueError(
                f"ARRAY JOIN: item {expr.strip()!r} is qualified by an "
                f"unknown alias (FROM term is {al!r})"
            )
        parsed.append((f"{al}.{col}", col, col))
    # ---- splice the derived table ----
    outer = "OUTER " if is_left else ""
    drive_expr, drive_name, _ = parsed[0]
    replaced = [p[2] for p in parsed if p[2] is not None]
    except_clause = f" EXCEPT ({', '.join(replaced)})" if replaced else ""
    if len(parsed) == 1:
        lv = f"LATERAL VIEW {outer}explode({drive_expr}) __aj AS __aj_e0"
    else:
        lv = (
            f"LATERAL VIEW {outer}posexplode({drive_expr}) __aj "
            f"AS __aj_pos, __aj_e0"
        )
    sel = [f"__aj_e0 AS {drive_name}"]
    # try_element_at (1-based, NULL out-of-range) instead of a bracket
    # subscript: emitted text must stay bracket-free so a re-translation
    # (nested subquery units, idempotence) can't reinterpret it through
    # the CH 1-based bracket pass (r11)
    sel += [
        f"try_element_at({expr}, __aj_pos + 1) AS {nm}"
        for expr, nm, _ in parsed[1:]
    ]
    derived = (
        f"(SELECT {al}.*{except_clause}, {', '.join(sel)} "
        f"FROM {term} AS {al} {lv}) AS {al}"
    )
    return f"{sql[: from_tok[1]]} {derived} {sql[items_end:]}"


# ---------------------------------------------------------------------------
# ORDER BY ... WITH FILL — ClickHouse's gap-fill clause:
#
#   ORDER BY x WITH FILL [FROM f] [TO t] [STEP s]
#                        [INTERPOLATE (c1 [, c2 ...])]
#
# Rewritten into a fill-spine FULL OUTER JOIN over the query result:
#
#   SELECT r.* EXCEPT (x[, interp..], __wf_orig),
#          coalesce(r.x, sp.__wf_x) AS x
#          [, CASE WHEN r.__wf_orig THEN r.c ELSE (last original c before
#             this position, via last(struct(c), ignorenulls) OVER the
#             fill order) END AS c ...]
#   FROM (SELECT explode(<spine array>) AS __wf_x FROM <bounds>) sp
#   FULL OUTER JOIN (SELECT *, true AS __wf_orig FROM (<query>) __wf_s) r
#     ON r.x = sp.__wf_x
#   ORDER BY x <tail>
#
# * the spine is sequence(FROM|min(x), TO|max(x)[, STEP]) with values >= TO
#   filtered out (CH's TO is exclusive) and an empty-range guard; bounds
#   come from a one-row min/max aggregate over the query (column-pruned by
#   Catalyst), or from (SELECT 1) when FROM and TO are both literal — the
#   result plan evaluates twice otherwise (once pruned to the fill column),
#   the same cost shape as the ASOF union
# * filled rows carry NULL in every non-fill column (the Nullable default;
#   non-Nullable ClickHouse would take the type default — same documented
#   divergence as LEFT ARRAY JOIN); INTERPOLATE(c) carries the last
#   ORIGINAL row's value (LOCF) — including a genuine NULL, via the
#   struct-wrap — exactly CH's default `INTERPOLATE (c)` compounding
# * original rows are ALWAYS kept (full outer), on or off the spine grid
# * the fill column moves to the end of the row (column-ORDER divergence
#   only, like the unaliased ARRAY JOIN item)
# * supported shape: [bare prefix keys,] single bare-identifier ASC fill
#   key. r9: leading sort keys form the SORTING PREFIX — each prefix
#   group fills independently (CH use_with_fill_by_sorting_prefix,
#   default-on): the windows partition by them and generated rows carry
#   them. DESC fill, a second WITH FILL key, trailing plain sort keys,
#   sort expressions, and `INTERPOLATE (c AS expr)` (iteratively
#   compounding, not window-expressible) are refused loudly. STEP
#   defaults to Spark's sequence default (1 for numbers, 1 day for
#   dates) — give an explicit INTERVAL step for DateTime columns (CH's
#   default there is 1 second)
# * without prefix keys WITH FILL is inherently a single-stream pass over
#   the FINAL sorted result (post-aggregation, bounded — in ClickHouse
#   too); WITH prefix keys the whole rewrite is per-group windowed, which
#   IS the scale path (the per-key gap-fill operator's shape)
# ---------------------------------------------------------------------------

#: leftover detection requires a preceding ORDER BY — a CTE or table named
#: ``fill`` (``WITH fill AS ...``) must not trip the backstop
_WITH_FILL_LEFTOVER_RE = re.compile(
    r"\bORDER\s+BY\b[\s\S]*?\bWITH\s+FILL\b", re.IGNORECASE
)

#: keywords that end a FROM/TO/STEP value span in the fill tail
_FILL_KW = {"TO", "STEP", "INTERPOLATE", "LIMIT", "UNION", "FROM"}


def _rewrite_with_fill(sql: str) -> str:
    toks = sqltext.top_level_words(sql)
    if not toks or toks[0][2] not in ("SELECT", "WITH"):
        return sql
    hit = None
    for x in range(len(toks) - 1):
        if (
            toks[x][2] == "WITH"
            and toks[x + 1][2] == "FILL"
            and sql[toks[x][1] : toks[x + 1][0]].strip() == ""
        ):
            hit = x
            break
    if hit is None:
        return sql
    # governing ORDER BY (a CTE named fill has none before it -> not the
    # clause, leave it alone)
    order_idx = None
    for y in range(hit):
        if (
            toks[y][2] == "ORDER"
            and y + 1 < len(toks)
            and toks[y + 1][2] == "BY"
        ):
            order_idx = y
    if order_idx is None:
        return sql
    by_end = toks[order_idx + 1][1]
    sort_span = sql[by_end : toks[hit][0]].strip()
    # r9: leading sort keys form the SORTING PREFIX — rows with different
    # prefix values fill independently (ClickHouse's
    # use_with_fill_by_sorting_prefix semantics, default-on since 23.5):
    # every window below partitions by them and generated rows CARRY them.
    # The LAST item is the fill column (bare ASC only, as before).
    sort_items = sqltext.split_top_level(sort_span)
    leading: list[tuple[str, str]] = []  # (col, dir) prefix keys
    for item in sort_items[:-1]:
        lm = re.fullmatch(
            r"([A-Za-z_]\w*)(?:\s+(ASC|DESC))?", item.strip(), re.IGNORECASE
        )
        if lm is None:
            raise ValueError(
                "WITH FILL: sorting-prefix keys must be bare columns, got "
                f"{item.strip()!r} (expressions are not translated)"
            )
        leading.append((lm.group(1), (lm.group(2) or "ASC").upper()))
    m = re.fullmatch(
        r"([A-Za-z_]\w*)(?:\s+ASC)?", sort_items[-1].strip(), re.IGNORECASE
    )
    if m is None:
        raise ValueError(
            "WITH FILL: the fill key must be a single bare-column ASC sort "
            f"key, got {sort_items[-1].strip()!r} (DESC fill and "
            "expressions are not translated)"
        )
    xcol = m.group(1)
    if any(g == xcol for g, _ in leading):
        raise ValueError(
            f"WITH FILL: {xcol!r} appears both as a sorting-prefix key and "
            "the fill key"
        )
    select_part = sql[: toks[order_idx][0]].strip()
    # ---- FROM / TO / STEP / INTERPOLATE tail ----
    pos = toks[hit + 1][1]  # past FILL
    t_after = [t for t in toks if t[0] >= pos]
    frm = to = step = None
    interp_cols: list[str] = []
    tail_start = len(sql)
    i = 0
    while i < len(t_after):
        kw = t_after[i][2]
        if kw in ("FROM", "TO", "STEP"):
            vstart = t_after[i][1]
            vend = len(sql)
            j = i + 1
            while j < len(t_after):
                if t_after[j][2] in _FILL_KW and t_after[j][0] >= vstart:
                    vend = t_after[j][0]
                    break
                j += 1
            # a top-level comma ends the value too: ``STEP 2, y`` is a
            # SECOND sort key, not part of the step expression — cut the
            # span there so the remainder routes through the loud
            # unsupported-trailing-clause refusal below instead of being
            # silently absorbed into the value
            comma_cut = None
            commas = sqltext.top_level_commas(sql[vstart:vend])
            if commas:
                vend = comma_cut = vstart + commas[0]
            val = sql[vstart:vend].strip().rstrip(";")
            if not val:
                raise ValueError(f"WITH FILL: {kw} needs a value")
            if kw == "FROM":
                frm = val
            elif kw == "TO":
                to = val
            else:
                step = val
            if comma_cut is not None:
                tail_start = comma_cut
                break
            i = j
            continue
        if kw == "INTERPOLATE":
            k = t_after[i][1]
            while k < len(sql) and sql[k].isspace():
                k += 1
            if k >= len(sql) or sql[k] != "(":
                raise ValueError("WITH FILL: INTERPOLATE needs a column list")
            close = sqltext.find_close(sql, k)
            for item in sqltext.split_top_level(sql[k + 1 : close]):
                if not re.fullmatch(r"[A-Za-z_]\w*", item):
                    raise ValueError(
                        "WITH FILL: INTERPOLATE supports bare columns (LOCF) "
                        f"only; {item!r} compounds iteratively and is not "
                        "window-expressible"
                    )
                interp_cols.append(item)
            tail_start = close + 1
            break
        # anything else ends the fill clause (LIMIT tail, next sort item...)
        tail_start = t_after[i][0]
        break
    else:
        tail_start = len(sql)
    if tail_start == len(sql) and (frm or to or step) is None and not interp_cols:
        tail_start = pos  # bare WITH FILL, tail begins right after
    tail = sql[tail_start:].strip().rstrip(";")
    if tail and not re.match(r"(?i)LIMIT\b", tail):
        raise ValueError(
            f"WITH FILL: unsupported trailing clause {tail!r} (a second "
            "WITH FILL key, plain sort keys AFTER the fill column, and "
            "OFFSET tails are not translated; sort keys BEFORE the fill "
            "column — the sorting prefix — are supported)"
        )
    # ---- per-row fill arrays (CH re-anchors the step at EVERY original
    # row — FillingTransform sets the running fill value from each row it
    # passes — so fills are generated per gap from the anchor row, never
    # from a global min..max grid) ----
    step_sfx = f", ({step})" if step is not None else ""
    empty = f"slice(array({xcol}), 1, 0)"  # typed empty array
    gap_bound = f"least(__wf_next, ({to}))" if to is not None else "__wf_next"
    gap_part = (
        f"CASE WHEN __wf_gb IS NOT NULL AND {xcol} <= __wf_gb "
        f"THEN filter(sequence({xcol}, __wf_gb{step_sfx}), "
        f"__wf_v -> __wf_v > {xcol} AND __wf_v < __wf_gb) ELSE {empty} END"
    )
    if frm is not None:
        edge_bound = f"least({xcol}, ({to}))" if to is not None else xcol
        edge_part = (
            f"CASE WHEN __wf_rn = 1 AND ({frm}) <= __wf_eb "
            f"THEN filter(sequence(({frm}), __wf_eb{step_sfx}), "
            f"__wf_v -> __wf_v < __wf_eb) ELSE {empty} END"
        )
        fills = f"concat({edge_part}, {gap_part})"
        eb_col = f", {edge_bound} AS __wf_eb"
        internal = ["__wf_next", "__wf_rn", "__wf_gb", "__wf_eb", "__wf_fills"]
    else:
        fills = gap_part
        eb_col = ""
        internal = ["__wf_next", "__wf_rn", "__wf_gb", "__wf_fills"]
    # NULLS LAST everywhere: rn=1 is the smallest NON-NULL fill value (the
    # FROM-edge anchor — per sorting-prefix group when one exists) and the
    # last non-null row's lead skips to NULL so least() falls through to
    # the TO bound for the trailing fill
    part = (
        f"PARTITION BY {', '.join(g for g, _ in leading)} " if leading else ""
    )
    win = f"OVER ({part}ORDER BY {xcol} ASC NULLS LAST)"
    # ---- projection: the explode prepends one typed-NULL element per row
    # (the original row itself; fill values are never NULL), so original
    # rows are __wf_fx IS NULL. Generated rows blank every non-carried
    # column by expanding a NULL struct (struct-pack of the whole original
    # row under CASE, `.* EXCEPT` on the expansion) ----
    pack = (
        f"CASE WHEN __wf_fx IS NULL THEN "
        f"struct(__wf_r.* EXCEPT ({', '.join(internal)})) END"
    )
    l1 = [
        f"{pack} AS __wf_p",
        f"coalesce(__wf_fx, __wf_r.{xcol}) AS __wf_ax",
    ]
    lead_cols = [g for g, _ in leading]
    clash = set(lead_cols) & set(interp_cols)
    if clash:
        raise ValueError(
            f"WITH FILL: INTERPOLATE column(s) {sorted(clash)} are also "
            "sorting-prefix keys (prefix keys already carry into fill rows)"
        )
    l2 = [
        f"__wf_p.* EXCEPT ({', '.join([xcol, *interp_cols, *lead_cols])})",
        f"__wf_ax AS {xcol}",
    ]
    for idx, c in enumerate(interp_cols):
        # gap/TO-edge fills (fx > anchor x) carry the anchor's value —
        # including a genuine NULL, CH's compounding INTERPOLATE(c);
        # FROM-edge fills (fx < first x) have no previous row -> NULL
        l1.append(
            f"CASE WHEN __wf_fx IS NULL OR __wf_fx > __wf_r.{xcol} "
            f"THEN __wf_r.{c} END AS __wf_c{idx}"
        )
        l2.append(f"__wf_c{idx} AS {c}")
    for idx, g in enumerate(lead_cols):
        # sorting-prefix keys CARRY into generated rows unconditionally —
        # a fill row belongs to its group (CH fills each prefix group
        # independently; a NULL key would eject it from the group)
        l1.append(f"__wf_r.{g} AS __wf_g{idx}")
        l2.append(f"__wf_g{idx} AS {g}")
    final_order = ", ".join(
        [*(f"{g} {d}" for g, d in leading), xcol]
    )
    out = (
        f"SELECT {', '.join(l2)} FROM ("
        f"SELECT {', '.join(l1)} FROM ("
        f"SELECT *, {fills} AS __wf_fills FROM ("
        f"SELECT *, {gap_bound} AS __wf_gb"
        f"{eb_col} FROM ("
        f"SELECT *, lead({xcol}) {win} AS __wf_next, "
        f"row_number() {win} AS __wf_rn "
        f"FROM ({select_part}) __wf_s) __wf_n1) __wf_n0"
        f") __wf_r "
        f"LATERAL VIEW explode(concat(array(IF(true, NULL, __wf_r.{xcol})), "
        f"__wf_r.__wf_fills)) __wf AS __wf_fx"
        f") __wf_l ORDER BY {final_order}"
    )
    if tail:
        out += f" {tail}"
    return out


# ---------------------------------------------------------------------------
# Scalar WITH — ClickHouse's expression-alias form of the WITH clause:
#
#   WITH toStartOfDay(ts0) AS today, (SELECT max(v) FROM t) AS mx
#   SELECT today, v / mx FROM t
#
# Standard SQL's WITH only names SUBQUERIES; ClickHouse additionally names
# EXPRESSIONS (including parenthesized scalar subqueries), referenced bare
# in the rest of the query. The rewrite inlines each scalar alias as a
# parenthesized expression at every bare reference — alias-wins shadowing,
# matching ClickHouse (qualified refs ``t.x`` are never touched). CTE items
# (``name AS (SELECT ...)``) in the same WITH are kept as CTEs. Later
# scalar items may reference earlier ones (inlined transitively). Repeated
# scalar-subquery references are deduplicated by Catalyst's
# MergeScalarSubqueries, so inlining does not multiply execution.
# ---------------------------------------------------------------------------


def _rewrite_scalar_with(sql: str) -> str:
    toks = sqltext.top_level_words(sql)
    if not toks or toks[0][2] != "WITH":
        return sql
    sel = next((t for t in toks if t[2] == "SELECT"), None)
    if sel is None:
        return sql
    items = sqltext.split_top_level(sql[toks[0][1] : sel[0]])
    ctes: list[str] = []
    scalars: list[tuple[str, str]] = []  # (ident, expr)
    for it in items:
        if re.match(r"^\s*[A-Za-z_]\w*\s+AS\s*\(", it, re.I):
            ctes.append(it.strip())  # standard CTE — keep
            continue
        expr, alias = _split_trailing_as(it)
        if alias is None:
            return sql  # not the scalar form; leave for the analyzer
        scalars.append((alias, expr.strip()))
    if not scalars:
        return sql

    def _inline(text: str, ident: str, expr: str) -> str:
        # bare identifier occurrences only: not qualified (x.id), not a
        # call (id(...)), not an ALIAS position (... AS id), not inside
        # quoted tokens
        pat = re.compile(rf"(?<![\w.`])({re.escape(ident)})\b(?!\s*[(.])")

        # a bare INTEGER literal would inline as `(5)`, which GROUP BY /
        # ORDER BY positions resolve as a column ORDINAL — `+ 0` keeps the
        # value and type but is no longer a literal, so it groups/sorts as
        # the constant expression ClickHouse means
        if re.fullmatch(r"-?\d+", expr.strip()):
            expr = f"{expr.strip()} + 0"

        def _sub(m: re.Match) -> str:
            before = m.string[: m.start()].rstrip()
            if re.search(r"(?i)\bAS$", before):
                return m.group(0)  # alias position: keep the name
            return f"({expr})"

        return sqltext.sub_unquoted(pat, _sub, text)

    def _name_bare_select_items(text: str, idents: set[str]) -> str:
        # a scalar alias standing ALONE as a top-level select item keeps
        # its name in ClickHouse output — rewrite `SELECT ..., b, ...` to
        # `SELECT ..., b AS b, ...` before inlining so the result column
        # stays `b` (the AS-position guard above preserves it)
        ts = sqltext.top_level_words(text)
        sel_t = next((t for t in ts if t[2] == "SELECT"), None)
        if sel_t is None:
            return text
        end = len(text)
        for t in ts:
            if t[0] >= sel_t[1] and t[2] == "FROM":
                end = t[0]
                break
        items = sqltext.split_top_level(text[sel_t[1] : end])
        if not any(it.strip() in idents for it in items):
            return text
        named = [
            f"{it.strip()} AS {it.strip()}" if it.strip() in idents else it
            for it in items
        ]
        return f"{text[: sel_t[1]]} {', '.join(named)} {text[end:]}"

    # later scalar exprs may reference earlier aliases — inline forward
    resolved: list[tuple[str, str]] = []
    for ident, expr in scalars:
        for done_ident, done_expr in resolved:
            expr = _inline(expr, done_ident, done_expr)
        resolved.append((ident, expr))
    rest = _name_bare_select_items(sql[sel[0] :], {i for i, _ in resolved})
    for ident, expr in resolved:
        rest = _inline(rest, ident, expr)
        ctes = [_inline(c, ident, expr) for c in ctes]
    if ctes:
        return f"WITH {', '.join(ctes)} {rest}"
    return rest


def translate_clickhouse_sql(sql: str) -> str:
    """Rewrite ClickHouse-flavored SQL into Spark SQL (see module doc)."""
    # comments first: every pass below reads the text without them
    sql = sqltext.strip_comments(sql)
    # scalar WITH inlining first: aliases may appear inside any later
    # clause, so every other rewrite should see the resolved text
    sql = _rewrite_scalar_with(sql)
    # bracket syntax next: [a, b] literals -> array(), base[i] subscripts
    # -> try_element_at (1-based, the ClickHouse contract — Spark's native
    # a[i] is 0-based and returned the WRONG element silently). The output
    # is bracket-free, so every scanner below sees plain calls.
    sql = _rewrite_brackets(sql)
    # FROM-position FINAL strip and SAMPLE rewrite, never inside a literal
    sql = sqltext.sub_unquoted(_FINAL_RE, r"\1", sql)
    sql = sqltext.sub_unquoted(_SAMPLE_RE, _sample_sub, sql)
    # PREWHERE p WHERE w -> WHERE (p) AND (w): must run before the bare
    # keyword map turns PREWHERE into a second WHERE (invalid SQL). After
    # the FINAL/SAMPLE strips so `FROM t FINAL PREWHERE p WHERE w` merges.
    sql = _merge_prewhere_where(sql)
    # FORMAT strips first: the grammar is ... [SETTINGS ...] [FORMAT ...],
    # so SETTINGS is only end-anchored once FORMAT is gone
    sql = _TRAILING_FORMAT_RE.sub(r"\1", sql)
    sql = _TRAILING_SETTINGS_RE.sub(r"\1", sql)
    # hint words, matched outside quotes like FINAL and SAMPLE
    sql = sqltext.sub_unquoted(_GLOBAL_HINT_RE, "", sql)
    sql = sqltext.sub_unquoted(_ALL_STRICTNESS_RE, "", sql)
    sql = _rewrite_asof_join(sql)
    sql = _rewrite_any_join(sql)
    # before LIMIT BY: that rewrite wraps the FROM clause into a depth-1
    # subselect where this top-level scanner could no longer see the clause
    sql = _rewrite_array_join(sql)
    sql = _rewrite_with_fill(sql)
    sql = _rewrite_with_totals(sql)
    sql = _rewrite_limit_by(sql)
    sql = _rewrite_limit_offset(sql)
    toks = sqltext.tokens(sql)
    out: list[str] = []
    i = 0
    n = len(toks)
    while i < n:
        tok = toks[i]
        i += 1
        if tok.kind == sqltext.WORD and not tok.text[0].isdigit():
            name = tok.text
            # lookahead for a call: optional whitespace then '('
            k = sqltext.next_paren(toks, i - 1)
            if k >= 0 and name.upper() in _NON_CALL_KEYWORDS:
                # a clause keyword before a parenthesized expression is
                # NOT a call: consuming the parens as an argument list
                # would re-join them without the original whitespace
                # (SELECT (a) -> SELECT(a)) and comma-split tuple
                # expressions. Emit the keyword and let the flat scan
                # walk into the parens. (FROM/IN/EXISTS stay on the call
                # path — that is how parenthesized subqueries descend.)
                out.append(_KEYWORDS.get(name.upper(), name))
                continue
            if k >= 0:
                close = sqltext.close_of(toks, k)
                inner_text = sql[toks[k].end : toks[close].start]
                if re.match(r"\s*(SELECT|WITH)\b", inner_text, re.I):
                    # parenthesized SUBQUERY (``FROM (SELECT ...) q``,
                    # ``IN (SELECT ...)``): translate it as ONE unit — a
                    # comma-split would fragment its select list, and a
                    # clause rewrite inside (ARRAY JOIN, LIMIT BY) would
                    # then see only the text up to the first top-level
                    # comma and silently rewrite a partial statement
                    args = [translate_clickhouse_sql(inner_text)]
                else:
                    args = [
                        translate_clickhouse_sql(a)
                        for a in sqltext.split_top_level(inner_text)
                    ]
                i = close + 1
                if (
                    name in _QUANTILES
                    or name in _MULTI_QUANTILES
                    or name in _SLICED_COLLECT
                    or name in _WEIGHTED_QUANTILES
                    or name
                    in (
                        "windowFunnel",
                        "sequenceMatch",
                        "sequenceCount",
                        "uniqUpTo",
                        "topK",
                        "topKWeighted",
                    )
                ):
                    # parameterized combinator: fn(params)(x)
                    k2 = sqltext.next_paren(toks, close)
                    if k2 >= 0:
                        close2 = sqltext.close_of(toks, k2)
                        inner = [
                            translate_clickhouse_sql(a)
                            for a in sqltext.split_top_level(
                                sql[toks[k2].end : toks[close2].start]
                            )
                        ]
                        i = close2 + 1
                        if name == "windowFunnel":
                            modes = set()
                            for m_arg in args[1:]:
                                lit = _string_literal(m_arg)
                                if lit is None or lit not in _FUNNEL_MODES:
                                    raise ValueError(
                                        "windowFunnel: unsupported mode "
                                        f"{m_arg!r} (supported: "
                                        "strict_order, strict_deduplication"
                                        "/strict, strict_increase)"
                                    )
                                modes.add(lit)
                            if len(inner) < 2:
                                raise ValueError(
                                    "windowFunnel needs (timestamp, cond...)"
                                )
                            out.append(
                                _window_funnel_expr(
                                    args[0],
                                    inner[0],
                                    inner[1:],
                                    frozenset(modes),
                                )
                            )
                        elif name in ("sequenceMatch", "sequenceCount"):
                            if len(args) != 1:
                                raise ValueError(
                                    f"{name} takes exactly one pattern"
                                )
                            if len(inner) < 2:
                                raise ValueError(
                                    f"{name} needs (timestamp, cond...)"
                                )
                            out.append(
                                _sequence_match_expr(
                                    args[0],
                                    inner[0],
                                    inner[1:],
                                    count=name == "sequenceCount",
                                )
                            )
                        elif name == "topK" and len(args) != 1:
                            raise ValueError(
                                "topK: only the 1-parameter topK(k)(x) "
                                f"form is supported, got {len(args)} "
                                "parameters (load_factor/counts_mode are "
                                "sketch tuning knobs with no exact twin)"
                            )
                        elif name == "topK" and len(args) == 1:
                            # EXACT top-k most-frequent values where
                            # ClickHouse's topK is a space-saving sketch
                            # (approximate) — exactness is within contract.
                            # Ties break ascending by value (deterministic
                            # where CH is arbitrary). collect_list appears
                            # twice but semantically-equal aggregates share
                            # one buffer; per-group cost is O(n·distinct) —
                            # fine for bounded groups, and the Misra-Gries
                            # heavy-hitters operator is the 100 TB path
                            if len(inner) != 1:
                                raise ValueError("topK(k) takes one column")
                            x = inner[0]
                            cl = f"collect_list({x})"
                            out.append(
                                f"slice(transform(array_sort(transform("
                                f"array_distinct({cl}), __tv -> struct("
                                f"-size(filter({cl}, __te -> __te <=> __tv)) "
                                f"AS __tc, __tv AS __tval))), "
                                f"__ts -> __ts.__tval), 1, {args[0]})"
                            )
                        elif name == "topKWeighted" and len(args) != 1:
                            raise ValueError(
                                "topKWeighted: only the 1-parameter "
                                "topKWeighted(k)(x, weight) form is "
                                f"supported, got {len(args)} parameters"
                            )
                        elif name == "topKWeighted" and len(args) == 1:
                            # EXACT weighted top-k (descending total
                            # weight) where ClickHouse sketches; one
                            # struct-packed collect_list so value/weight
                            # pairing survives aggregation order; BIGINT
                            # weight accumulator (CH weight is UInt64).
                            # Ties break ascending by value, like topK.
                            if len(inner) != 2:
                                raise ValueError(
                                    "topKWeighted(k) takes (x, weight)"
                                )
                            x, w = inner
                            cl = (
                                f"collect_list(struct({x} AS __tx, "
                                f"{w} AS __tw))"
                            )
                            wsum = (
                                f"aggregate(filter({cl}, __te -> "
                                f"__te.__tx <=> __tv), CAST(0 AS BIGINT), "
                                f"(__ta, __te) -> __ta + "
                                f"CAST(__te.__tw AS BIGINT))"
                            )
                            out.append(
                                f"slice(transform(array_sort(transform("
                                f"array_distinct(transform({cl}, "
                                f"__te -> __te.__tx)), __tv -> struct("
                                f"-{wsum} AS __tc, __tv AS __tval))), "
                                f"__ts -> __ts.__tval), 1, {args[0]})"
                            )
                        elif name == "uniqUpTo" and len(args) == 1:
                            # exact CH contract: the true distinct count
                            # when <= N, else N + 1
                            out.append(
                                f"least(count(DISTINCT {', '.join(inner)}), "
                                f"({args[0]}) + 1)"
                            )
                        elif name in _WEIGHTED_QUANTILES and len(inner) == 2:
                            # quantileExactWeighted(p)(x, w) -> percentile(x, p, w)
                            out.append(
                                f"{_WEIGHTED_QUANTILES[name]}({inner[0]}, "
                                f"{args[0]}, {inner[1]})"
                            )
                        elif name in _QUANTILES:
                            out.append(
                                f"{_QUANTILES[name]}({', '.join(inner)}, {', '.join(args)})"
                            )
                        elif name in _MULTI_QUANTILES:
                            out.append(
                                f"{_MULTI_QUANTILES[name]}({', '.join(inner)}, "
                                f"array({', '.join(args)}))"
                            )
                        else:  # sliced collector: groupArray(n)(x)
                            out.append(
                                f"slice({_SLICED_COLLECT[name]}({', '.join(inner)}), "
                                f"1, {args[0]})"
                            )
                        continue
                    if name in _SLICED_COLLECT:  # plain groupArray(x)
                        out.append(f"{_SLICED_COLLECT[name]}({', '.join(args)})")
                    else:
                        out.append(f"{name}({', '.join(args)})")
                    continue
                if name in _CASTS and len(args) == 1:
                    out.append(f"CAST({args[0]} AS {_CASTS[name]})")
                elif (
                    name.endswith("OrNull")
                    and name[:-6] in _CASTS
                    and len(args) == 1
                ):
                    # toInt64OrNull etc.: NULL instead of an error on
                    # unparseable input — exactly Spark's try_cast
                    out.append(f"try_cast({args[0]} AS {_CASTS[name[:-6]]})")
                elif (
                    name.endswith("OrZero")
                    and name[:-6] in _CASTS
                    and len(args) == 1
                ):
                    # toInt64OrZero etc.: the type's zero on unparseable
                    # input (CH's default-value fallback; DATE zero is the
                    # epoch, like ClickHouse's 1970-01-01)
                    t_ = _CASTS[name[:-6]]
                    zero = (
                        "DATE '1970-01-01'"
                        if t_ == "DATE"
                        else "''" if t_ == "STRING" else f"CAST(0 AS {t_})"
                    )
                    out.append(
                        f"coalesce(try_cast({args[0]} AS {t_}), {zero})"
                    )
                elif name in _IF_COMBINATORS and len(args) >= 2:
                    # last argument is the condition; every value argument
                    # wraps (a FALSE condition yields NULLs, which Spark
                    # aggregates skip — the If combinator's row-skip)
                    cond = args[-1]
                    wrapped = [f"CASE WHEN {cond} THEN {a} END" for a in args[:-1]]
                    base = _IF_COMBINATORS[name]
                    if base == "any_value":
                        # ignoreNulls=true, or a non-matching row's NULL
                        # could be picked over the matching rows
                        out.append(f"any_value({', '.join(wrapped)}, true)")
                    else:
                        out.append(f"{base}({', '.join(wrapped)})")
                elif name == "count" and not args:
                    # ClickHouse's zero-arg count() is count(*)
                    out.append("count(*)")
                elif name == "countIf":
                    if len(args) == 1:
                        out.append(f"count_if({args[0]})")
                    else:
                        out.append(f"count(CASE WHEN {args[1]} THEN {args[0]} END)")
                elif name == "uniqExactIf" and len(args) >= 2:
                    cond = args[-1]
                    wrapped = [f"CASE WHEN {cond} THEN {a} END" for a in args[:-1]]
                    out.append(f"count(DISTINCT {', '.join(wrapped)})")
                elif name in ("uniqExact", "countDistinct"):
                    out.append(f"count(DISTINCT {', '.join(args)})")
                elif name in _ARRAY_COMBINATORS and len(args) == 1:
                    # -Array combinator: aggregate over every ELEMENT of
                    # the per-row arrays. sum rides the arraySum
                    # DECIMAL(38,_)/DOUBLE accumulator; uniqArray is exact
                    # where CH sketches (within contract); NULL arrays
                    # contribute nothing (size() alone would yield -1).
                    # NULL ELEMENTS are skipped element-wise like
                    # ClickHouse's aggregates over Array(Nullable): the
                    # filter keeps one NULL from poisoning the whole
                    # array's fold (acc + NULL -> NULL), and the non-null
                    # element count keeps avgArray's denominator honest
                    a = args[0]
                    nn = f"filter({a}, __ne -> __ne IS NOT NULL)"
                    per_row_sum = (
                        f"aggregate({nn}, "
                        f"coalesce((try_element_at({a}, 1) - "
                        f"try_element_at({a}, 1)) "
                        f"* cast(1 as decimal(38, 0)), 0), "
                        f"(__sa, __sx) -> __sa + __sx)"
                    )
                    n_elems = f"sum(CASE WHEN {a} IS NULL THEN 0 ELSE size({nn}) END)"
                    out.append(
                        {
                            "sumArray": f"sum({per_row_sum})",
                            "minArray": f"min(array_min({a}))",
                            "maxArray": f"max(array_max({a}))",
                            "countArray": f"coalesce({n_elems}, 0)",
                            "avgArray": (
                                f"coalesce(try_divide(sum({per_row_sum}), "
                                f"{n_elems}), cast('NaN' as double))"
                            ),
                            "uniqArray": (
                                f"size(array_distinct(flatten("
                                f"collect_list({a}))))"
                            ),
                            "groupArrayArray": f"flatten(collect_list({a}))",
                            "groupUniqArrayArray": (
                                f"array_distinct(flatten(collect_list({a})))"
                            ),
                        }[name]
                    )
                elif name in _ORNULL_AGGS and len(args) >= 1:
                    # -OrNull combinator: NULL instead of the type default
                    # on an empty set. Spark's sum/avg/min/max/any_value
                    # already return NULL there; count needs the nullif
                    base = _ORNULL_AGGS[name]
                    if base == "count":
                        out.append(f"nullif(count({', '.join(args)}), 0)")
                    else:
                        out.append(f"{base}({', '.join(args)})")
                elif name in ("sumMap", "minMap", "maxMap") and len(args) == 2:
                    # key-wise aggregation of (keys[], values[]) rows — CH's
                    # metric-map idiom. Pure aggregate expression: collect
                    # the zipped pairs, fold per distinct key. Result is a
                    # named struct (keys, values) with keys SORTED (CH's
                    # tuple-of-arrays contract; access .keys/.values where
                    # CH uses .1/.2). The per-key fold seeds from the
                    # group's OWN first matching value, so the value type is
                    # preserved (ints stay ints, doubles stay doubles).
                    # O(pairs * distinct keys) per group — metric maps are
                    # small per-row values, same trade as arrayCumSum; NULL
                    # keys are dropped like ClickHouse's non-nullable arrays
                    karr, varr = args
                    # assert_true throws on a keys/values length mismatch
                    # (ClickHouse errors there too; zip_with would silently
                    # NULL-pad) and returns NULL on success, so the CASE
                    # always takes the pairs branch. NULL keys AND NULL
                    # values both drop — min/max folds skip NULLs anyway
                    # and sum would otherwise poison the key to NULL.
                    guarded_zip = (
                        f"CASE WHEN assert_true(size({karr}) <=> "
                        f"size({varr}), '{name}: keys/values arrays differ "
                        f"in length') IS NULL THEN zip_with({karr}, "
                        f"{varr}, (__mk, __mv) -> struct(__mk AS k, __mv "
                        f"AS v)) END"
                    )
                    pairs = (
                        f"flatten(collect_list(filter({guarded_zip}, "
                        f"__mp -> __mp.k IS NOT NULL AND __mp.v IS NOT "
                        f"NULL)))"
                    )
                    fold = {
                        "sumMap": "__ma + __mp.v",
                        "minMap": "least(__ma, __mp.v)",
                        "maxMap": "greatest(__ma, __mp.v)",
                    }[name]
                    first_v = (
                        f"element_at(filter({pairs}, __mp -> __mp.k <=> __mk), 1).v"
                    )
                    # sum seeds from the typed ZERO (first - first) widened
                    # by the arraySum DECIMAL(38,_) accumulator rule —
                    # decimal element types would otherwise outgrow the
                    # fold's accumulator precision (HOF aggregate requires a
                    # fixed acc type), and integer sums stay exact past
                    # int64. min/max seed from the first value itself (the
                    # re-visit is idempotent under least/greatest) and keep
                    # the element type
                    seed = (
                        f"coalesce(({first_v} - {first_v}) "
                        f"* cast(1 as decimal(38, 0)), 0)"
                        if name == "sumMap"
                        else first_v
                    )
                    per_key = (
                        f"aggregate(filter({pairs}, __mp -> __mp.k <=> __mk), "
                        f"{seed}, (__ma, __mp) -> {fold})"
                    )
                    out.append(
                        f"struct(array_sort(array_distinct(transform({pairs}, "
                        f"__mp -> __mp.k))) AS keys, "
                        f"transform(array_sort(array_distinct(transform("
                        f"{pairs}, __mp -> __mp.k))), __mk -> {per_key}) "
                        f"AS values)"
                    )
                elif name == "anyHeavy" and len(args) == 1:
                    # heavy-hitters pick -> Spark's exact mode(): the most
                    # frequent value is a strictly stronger guarantee than
                    # CH's "a frequently occurring value"
                    out.append(f"mode({args[0]})")
                elif name == "avgWeighted" and len(args) == 2:
                    # sum(x*w)/sum(w); ClickHouse returns NaN on zero/empty
                    # weight where Spark's division yields NULL — coalesce
                    # restores the CH result exactly
                    x, w = args
                    out.append(
                        f"coalesce(try_divide(sum(({x}) * ({w})), sum({w})), "
                        f"cast('NaN' as double))"
                    )
                elif name == "arraySort" and len(args) == 1:
                    # 1-arg form only: the ClickHouse 2-arg form takes a KEY
                    # function first, Spark's takes a 3-way COMPARATOR second
                    # — not the same contract, so that form passes through
                    # and fails loudly in the analyzer
                    out.append(f"array_sort({args[0]})")
                elif name in _MEDIANS and len(args) == 1:
                    out.append(f"{_MEDIANS[name]}({args[0]}, 0.5)")
                elif name == "medianExactWeighted" and len(args) == 2:
                    out.append(f"percentile({args[0]}, 0.5, {args[1]})")
                elif name in _HOF_SWAP and len(args) == 2:
                    out.append(f"{_HOF_SWAP[name]}({args[1]}, {args[0]})")
                elif name == "position" and len(args) == 2:
                    # ClickHouse position(haystack, needle) counts BYTES.
                    # locate gives the CHARACTER offset; the byte offset is
                    # the octet length of the character prefix + 1 — exact
                    # on any UTF-8 input, 0 when absent, and expression-only
                    # (the haystack/needle texts repeat, so side-effect-free
                    # arguments only — true of every rewrite in this module)
                    hay, ndl = args[0], args[1]
                    out.append(
                        f"if(locate({ndl}, {hay}) = 0, 0, "
                        f"octet_length(substr({hay}, 1, "
                        f"locate({ndl}, {hay}) - 1)) + 1)"
                    )
                elif name == "position" and len(args) == 3:
                    # 3-arg form: ClickHouse's start_pos is a BYTE offset;
                    # a byte-indexed substring has no Spark builtin, so this
                    # form keeps CHARACTER semantics (positionUTF8) — exact
                    # for ASCII, documented divergence on multibyte
                    out.append(f"locate({args[1]}, {args[0]}, {args[2]})")
                elif name == "positionUTF8" and len(args) in (2, 3):
                    # CHARACTER offsets — locate's native contract, exact
                    rest = f", {args[2]}" if len(args) == 3 else ""
                    out.append(f"locate({args[1]}, {args[0]}{rest})")
                elif name in (
                    "positionCaseInsensitive",
                    "positionCaseInsensitiveUTF8",
                ) and len(args) == 2:
                    out.append(f"locate(lower({args[1]}), lower({args[0]}))")
                elif (
                    name == "dateDiff"
                    and len(args) == 3
                    and args[0].strip().lower().strip("'\"") in _DATEDIFF_UNITS
                ):
                    # ClickHouse dateDiff counts CROSSED UNIT BOUNDARIES
                    # (dateDiff('day', 23:59, next 00:01) = 1), unlike
                    # Spark's duration-based timestampdiff. Literal units
                    # only; a non-literal/unknown unit passes through and
                    # fails loudly on the builtin datediff's 2-arg arity.
                    unit = args[0].strip().lower().strip("'\"")
                    a, b = args[1], args[2]
                    out.append(_DATEDIFF_UNITS[unit].format(a=a, b=b))
                elif (
                    name == "age"
                    and len(args) == 3
                    and args[0].strip().lower().strip("'\"") in _DATEDIFF_UNITS
                ):
                    # ClickHouse age counts COMPLETE units (the complement
                    # of dateDiff's boundary crossings) — exactly Spark's
                    # duration-based timestampdiff. One documented edge:
                    # CH clamps month-end arithmetic (age('month', Jan 31,
                    # Feb 29) = 1 via Jan31+1mo==Feb29), Spark's months
                    # arithmetic does not (returns 0 there). Literal units
                    # only, like dateDiff.
                    unit = args[0].strip().lower().strip("'\"")
                    out.append(
                        f"timestampdiff({unit.upper()}, {args[1]}, {args[2]})"
                    )
                elif name == "monthName" and len(args) == 1:
                    out.append(f"date_format({args[0]}, 'MMMM')")
                elif name == "timestampAdd" and len(args) == 2:
                    # timestampAdd(ts, INTERVAL n unit) — plain interval
                    # addition once the dialect has the pieces
                    out.append(f"({args[0]} + {args[1]})")
                elif name == "timestampSub" and len(args) == 2:
                    out.append(f"({args[0]} - {args[1]})")
                elif (
                    name.startswith("emptyArray")
                    and not args
                    and name[len("emptyArray"):] in _EMPTY_ARRAY_TYPES
                ):
                    t_ = _EMPTY_ARRAY_TYPES[name[len("emptyArray"):]]
                    out.append(f"CAST(array() AS ARRAY<{t_}>)")
                elif name == "arraySum" and len(args) == 1:
                    # Type-adaptive zero: ``a[1] - a[1]`` has the ELEMENT
                    # type and equals 0; ``* cast(1 as decimal(38,0))``
                    # pins exact types at Spark's max decimal precision so
                    # the fold's ``acc + x`` cannot outgrow the accumulator
                    # (decimal addition caps at precision 38 — a
                    # lower-precision decimal zero fails analysis). Result:
                    # integer arrays sum in DECIMAL(38,0) (exact through
                    # the full int64 range and beyond, where the old DOUBLE
                    # accumulator rounded past 2^53 and ClickHouse's Int64
                    # silently WRAPS), decimal(p,s) arrays in DECIMAL(38,s)
                    # (CH Decimal128 analogue), float/double arrays in
                    # DOUBLE (decimal*double -> double). try_element_at +
                    # coalesce keep the empty array -> 0 (typed) contract.
                    # NULL elements are filtered before the fold — CH
                    # skips them on Array(Nullable); acc + NULL would
                    # otherwise poison the whole array's sum to NULL.
                    a = args[0]
                    out.append(
                        f"aggregate(filter({a}, __ne -> __ne IS NOT NULL), "
                        f"coalesce((try_element_at({a}, 1) - "
                        f"try_element_at({a}, 1)) "
                        f"* cast(1 as decimal(38, 0)), 0), "
                        f"(acc, x) -> acc + x)"
                    )
                elif name == "arrayAvg" and len(args) == 1:
                    # Float64 mean over non-NULL elements; empty/all-NULL
                    # -> NaN (CH's 0.0/0 Float64 division)
                    a = args[0]
                    nn = f"filter({a}, __ne -> __ne IS NOT NULL)"
                    out.append(
                        f"coalesce(try_divide(aggregate({nn}, "
                        f"CAST(0 AS DOUBLE), (__aa, __ax) -> __aa + __ax), "
                        f"size({nn})), cast('NaN' as double))"
                    )
                elif name == "arrayProduct" and len(args) == 1:
                    # Float64 product over non-NULL elements; empty -> 1.0
                    # (the multiplicative identity, like ClickHouse)
                    a = args[0]
                    out.append(
                        f"aggregate(filter({a}, __ne -> __ne IS NOT NULL), "
                        f"CAST(1 AS DOUBLE), (__pa, __px) -> __pa * __px)"
                    )
                elif name == "yesterday" and not args:
                    out.append("date_sub(current_date(), 1)")
                elif name == "base64Encode" and len(args) == 1:
                    # CH encodes the string's UTF-8 bytes; Spark's base64
                    # takes BINARY — the cast is exactly those bytes
                    out.append(f"base64(CAST({args[0]} AS BINARY))")
                elif name in ("base64Decode", "tryBase64Decode") and len(args) == 1:
                    # unbase64 -> BINARY -> STRING. Exact on VALID input
                    # for both forms; on malformed input Spark's unbase64
                    # is lenient (best-effort bytes) where CH base64Decode
                    # throws and tryBase64Decode returns '' — documented
                    # divergence confined to garbage inputs (the strict
                    # throw has no expression-level twin)
                    out.append(f"CAST(unbase64({args[0]}) AS STRING)")
                elif (
                    name == "toDateTime"
                    and len(args) == 1
                    and _string_literal(args[0]) is not None
                ):
                    # CH toDateTime accepts BOTH epoch seconds and
                    # 'YYYY-MM-DD hh:mm:ss' strings; the engine shim covers
                    # the BIGINT form, so the dialect routes literal
                    # strings to a plain timestamp cast (non-literal args
                    # keep the shim — a string COLUMN through it fails
                    # loudly rather than silently misparsing)
                    out.append(f"CAST({args[0]} AS TIMESTAMP)")
                elif name == "toMonday" and len(args) == 1:
                    # Date of the Monday of x's week (Spark's week truncs
                    # to Monday, like ClickHouse)
                    out.append(f"CAST(date_trunc('week', {args[0]}) AS DATE)")
                elif name == "isFinite" and len(args) == 1:
                    # NaN sorts ABOVE Infinity in Spark comparisons, so one
                    # strict compare covers both non-finite cases; NULL in
                    # -> NULL out, like ClickHouse's Nullable propagation
                    out.append(
                        f"(abs({args[0]}) < CAST('Infinity' AS DOUBLE))"
                    )
                elif name == "isInfinite" and len(args) == 1:
                    out.append(
                        f"(abs({args[0]}) = CAST('Infinity' AS DOUBLE))"
                    )
                elif name == "countSubstrings" and len(args) == 2:
                    # non-overlapping occurrence count: replace() removes
                    # exactly the disjoint left-to-right matches CH counts
                    # (arguments repeat — the module's side-effect-free
                    # contract); empty needle -> 0 like ClickHouse
                    s_, n_ = args
                    out.append(
                        f"coalesce((length({s_}) - "
                        f"length(replace({s_}, {n_}, ''))) "
                        f"DIV nullif(length({n_}), 0), 0)"
                    )
                elif name == "timeSlot" and len(args) == 1:
                    # round down to the half-hour (CH's fixed 1800 s slot)
                    out.append(
                        f"timestamp_seconds((unix_timestamp({args[0]}) "
                        f"div 1800) * 1800)"
                    )
                elif name in _TO_INTERVAL and len(args) == 1:
                    pos_args = ["0"] * 7
                    pos_args[_TO_INTERVAL[name]] = f"({args[0]})"
                    out.append(f"make_interval({', '.join(pos_args)})")
                elif name == "toIntervalQuarter" and len(args) == 1:
                    out.append(
                        f"make_interval(0, 3 * ({args[0]}), 0, 0, 0, 0, 0)"
                    )
                elif (
                    name in ("toDecimal32", "toDecimal64", "toDecimal128")
                    and len(args) == 2
                    and args[1].strip().isdigit()
                ):
                    prec = {"toDecimal32": 9, "toDecimal64": 18, "toDecimal128": 38}[
                        name
                    ]
                    out.append(
                        f"CAST({args[0]} AS DECIMAL({prec}, {args[1].strip()}))"
                    )
                elif name == "arraySlice" and len(args) in (2, 3):
                    # ClickHouse's 2-arg form is open-ended (slice to the
                    # array's end); Spark's slice requires a length
                    if len(args) == 3:
                        out.append(f"slice({args[0]}, {args[1]}, {args[2]})")
                    else:
                        out.append(
                            f"slice({args[0]}, {args[1]}, size({args[0]}))"
                        )
                elif name == "range" and len(args) in (1, 2):
                    # Spark's sequence(lo, hi) runs DESCENDING when hi < lo,
                    # so an unguarded rewrite of range(0) would yield [0,-1]
                    # instead of []; clamp the end and slice to the true
                    # length (greatest(...) keeps the plan expression-only)
                    lo, hi = ("0", args[0]) if len(args) == 1 else (args[0], args[1])
                    out.append(
                        f"slice(sequence(({lo}), greatest(({hi}) - 1, ({lo}))), "
                        f"1, greatest(({hi}) - ({lo}), 0))"
                    )
                elif name == "retention" and len(args) >= 1:
                    # retention(c1..cn) -> array of 0/1 flags: r1 = c1 held
                    # on some row, ri = c1 AND ci each held on some row
                    # (ClickHouse evaluates the conditions independently, so
                    # this is exactly min(max(c1), max(ci)) — a plain
                    # aggregate expression, no state machine needed)
                    c1 = f"max(CASE WHEN {args[0]} THEN 1 ELSE 0 END)"
                    elems = [c1] + [
                        f"least({c1}, max(CASE WHEN {a} THEN 1 ELSE 0 END))"
                        for a in args[1:]
                    ]
                    out.append(f"array({', '.join(elems)})")
                elif name == "replaceOne" and len(args) == 3:
                    # first-occurrence replace has no Spark builtin; splice
                    # around the located match (args repeat — documented
                    # side-effect-free-arguments contract)
                    h, p, r = args
                    out.append(
                        f"if(locate({p}, {h}) = 0, {h}, "
                        f"concat(substr({h}, 1, locate({p}, {h}) - 1), {r}, "
                        f"substr({h}, locate({p}, {h}) + length({p}))))"
                    )
                elif name in ("extract", "extractAll") and len(args) == 2:
                    # ClickHouse: whole match when the pattern has no capture
                    # group, else group 1. Decidable only for LITERAL
                    # patterns; a non-literal pattern falls through (loud
                    # analyzer failure, never silent wrong-group extraction).
                    grp = _regex_literal_group(args[1])
                    if grp is None:
                        out.append(f"{name}({', '.join(args)})")
                    else:
                        fn = (
                            "regexp_extract"
                            if name == "extract"
                            else "regexp_extract_all"
                        )
                        out.append(f"{fn}({args[0]}, {args[1]}, {grp})")
                elif name == "splitByString" and len(args) == 2:
                    # ClickHouse splits on a LITERAL separator; Spark's
                    # split takes a regex — \Q..\E quotes a literal pattern
                    sep, s = args
                    lit = _string_literal(sep)
                    if lit is None:
                        out.append(f"splitByString({sep}, {s})")
                    else:
                        out.append(f"split({s}, '\\\\Q{lit}\\\\E', -1)")
                elif name == "formatDateTime" and len(args) in (2, 3):
                    java = _format_datetime_java(args[1])
                    if java is None:
                        out.append(f"formatDateTime({', '.join(args)})")
                    else:
                        # Java-pattern quoting ('T') must survive SQL
                        # string-literal embedding: double the quotes
                        sql_lit = java.replace("'", "''")
                        out.append(f"date_format({args[0]}, '{sql_lit}')")
                elif name == "toStartOfInterval" and len(args) == 2:
                    iv = re.fullmatch(
                        r"INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY)S?",
                        args[1].strip(),
                        re.I,
                    )
                    if iv is None:
                        # WEEK/MONTH buckets are calendar-variable — only
                        # fixed-length units map to the epoch-floor form;
                        # anything else fails loudly in the analyzer
                        out.append(f"toStartOfInterval({', '.join(args)})")
                    else:
                        step = int(iv.group(1)) * {
                            "second": 1,
                            "minute": 60,
                            "hour": 3600,
                            "day": 86400,
                        }[iv.group(2).lower()]
                        out.append(
                            f"timestamp_seconds((unix_timestamp({args[0]}) "
                            f"div {step}) * {step})"
                        )
                elif name in _BIT_OPS and len(args) == 2:
                    out.append(f"(({args[0]}) {_BIT_OPS[name]} ({args[1]}))")
                elif name == "bitNot" and len(args) == 1:
                    out.append(f"(~({args[0]}))")
                elif name in _ARITH_FNS and len(args) == 2:
                    out.append(f"(({args[0]}) {_ARITH_FNS[name]} ({args[1]}))")
                elif name == "negate" and len(args) == 1:
                    out.append(f"(-({args[0]}))")
                elif name == "intDivOrZero" and len(args) == 2:
                    # floor division, 0 instead of the divide-by-zero
                    # error (intDiv itself is a SQL-UDF shim in engine.py).
                    # NULL inputs stay NULL — ClickHouse propagates NULL
                    # through Nullable args; only the zero DIVISOR maps to 0
                    a, b = args
                    out.append(
                        f"if(({a}) IS NULL OR ({b}) IS NULL, "
                        f"CAST(NULL AS BIGINT), "
                        f"coalesce(intDiv({a}, nullif({b}, 0)), 0))"
                    )
                elif name == "countEqual" and len(args) == 2:
                    # elements equal to x, NULL-safe like ClickHouse's
                    # countEqual(arr, NULL) counting NULL elements
                    out.append(f"size(filter({args[0]}, __ce -> __ce <=> {args[1]}))")
                elif name == "arrayCount" and len(args) in (1, 2):
                    if len(args) == 2:
                        # ClickHouse lambda-first: arrayCount(f, a)
                        out.append(f"size(filter({args[1]}, {args[0]}))")
                    else:
                        # 1-arg form counts truthy (non-zero) elements
                        out.append(
                            f"size(filter({args[0]}, __ac -> __ac != 0))"
                        )
                elif name == "arrayDifference" and len(args) == 1:
                    # a[i] - a[i-1], first element 0 — type-preserving and
                    # O(n): the indexed-lambda transform reads the previous
                    # element via 1-based element_at
                    a = args[0]
                    out.append(
                        f"transform({a}, (__x, __i) -> CASE WHEN __i = 0 "
                        f"THEN __x - __x ELSE __x - element_at({a}, __i) END)"
                    )
                elif name == "arrayCumSum" and len(args) == 1:
                    # running prefix sums; the accumulator takes the
                    # arraySum zero (element type widened to DECIMAL(38,_)
                    # for exact integer/decimal sums, DOUBLE for floats).
                    # O(n^2) prefix re-folds — ClickHouse arrays are small
                    # per-row values, not relations
                    a = args[0]
                    zero = (
                        f"coalesce((try_element_at({a}, 1) - "
                        f"try_element_at({a}, 1)) "
                        f"* cast(1 as decimal(38, 0)), 0)"
                    )
                    out.append(
                        f"transform({a}, (__x, __i) -> "
                        f"aggregate(slice({a}, 1, __i + 1), {zero}, "
                        f"(__s, __y) -> __s + __y))"
                    )
                elif name == "hasAll" and len(args) == 2:
                    # hasAll(a, b): every element of b is in a (NULL-safe
                    # element compare like countEqual)
                    out.append(
                        f"forall({args[1]}, __hb -> "
                        f"exists({args[0]}, __ha -> __ha <=> __hb))"
                    )
                elif name == "hasAny" and len(args) == 2:
                    out.append(
                        f"exists({args[1]}, __hb -> "
                        f"exists({args[0]}, __ha -> __ha <=> __hb))"
                    )
                elif name == "arrayUniq" and len(args) == 1:
                    # number of DISTINCT elements (not the distinct array)
                    out.append(f"size(array_distinct({args[0]}))")
                elif name == "arrayCompact" and len(args) == 1:
                    # drop CONSECUTIVE duplicates (keep the first of each
                    # run); element_at(a, i) is the 1-based PREVIOUS element
                    # of 0-based position i
                    a = args[0]
                    out.append(
                        f"transform(filter(transform({a}, (__cx, __ci) -> "
                        f"struct(__cx AS x, __ci AS i)), __cp -> __cp.i = 0 "
                        f"OR NOT (__cp.x <=> element_at({a}, __cp.i))), "
                        f"__cp -> __cp.x)"
                    )
                elif name == "arrayPushBack" and len(args) == 2:
                    out.append(f"concat({args[0]}, array({args[1]}))")
                elif name == "arrayPushFront" and len(args) == 2:
                    out.append(f"concat(array({args[1]}), {args[0]})")
                elif name == "arrayPopBack" and len(args) == 1:
                    a = args[0]
                    out.append(f"slice({a}, 1, greatest(size({a}) - 1, 0))")
                elif name == "arrayPopFront" and len(args) == 1:
                    a = args[0]
                    out.append(f"slice({a}, 2, greatest(size({a}) - 1, 0))")
                elif name == "arrayIntersect" and len(args) >= 2:
                    # n-ary in ClickHouse; Spark's builtin is binary — fold.
                    # CH returns DISTINCT elements (set semantics), as does
                    # array_intersect
                    expr = args[0]
                    for nxt in args[1:]:
                        expr = f"array_intersect({expr}, {nxt})"
                    out.append(expr)
                elif name == "arrayResize" and len(args) == 3:
                    # truncate or pad with the EXPLICIT filler (the 2-arg
                    # type-default form passes through loudly — the element
                    # type's zero is not derivable at the string level)
                    a, new_len, fill = args
                    out.append(
                        f"CASE WHEN size({a}) >= ({new_len}) "
                        f"THEN slice({a}, 1, ({new_len})) "
                        f"ELSE concat({a}, array_repeat({fill}, "
                        f"({new_len}) - size({a}))) END"
                    )
                elif name == "arrayReverseSort" and len(args) == 1:
                    out.append(f"reverse(array_sort({args[0]}))")
                elif name == "arrayElement" and len(args) == 2:
                    # 1-based, negative-from-end, NULL out of bounds (the
                    # Nullable convention; non-Nullable CH returns the type
                    # default)
                    out.append(f"try_element_at({args[0]}, {args[1]})")
                elif name == "arrayEnumerate" and len(args) == 1:
                    # [1, 2, ..., size(a)]; empty arrays -> [] (sequence
                    # would descend from 1 to 0, so guard like range())
                    a = args[0]
                    out.append(
                        f"slice(sequence(1, greatest(size({a}), 1)), "
                        f"1, greatest(size({a}), 0))"
                    )
                elif name == "multiIf" and len(args) >= 3 and len(args) % 2 == 1:
                    clauses = " ".join(
                        f"WHEN {args[p]} THEN {args[p + 1]}"
                        for p in range(0, len(args) - 1, 2)
                    )
                    out.append(f"CASE {clauses} ELSE {args[-1]} END")
                elif name == "kurtPop" and len(args) == 1:
                    # CH kurtPop is the NON-excess (Pearson) kurtosis
                    # m4/m2^2; Spark's kurtosis is the excess form (-3)
                    out.append(f"(kurtosis({args[0]}) + 3)")
                elif name in ("empty", "notEmpty") and len(args) == 1:
                    # array/map form (size); STRING inputs fail loudly in
                    # the analyzer — use s = '' there (no polymorphic
                    # dispatch in a text rewrite)
                    op = "=" if name == "empty" else "!="
                    out.append(f"(size({args[0]}) {op} 0)")
                elif name == "transform" and len(args) in (3, 4):
                    # CH value-mapping transform(x, from, to[, default]) —
                    # NOT Spark's array lambda (always 2 args, untouched).
                    # try_element_at: missing key -> NULL -> default/x
                    x, src_a, dst_a = args[0], args[1], args[2]
                    dflt = args[3] if len(args) == 4 else x
                    out.append(
                        f"coalesce(try_element_at(map_from_arrays("
                        f"{src_a}, {dst_a}), {x}), {dflt})"
                    )
                elif name == "accurateCastOrNull" and len(args) == 2:
                    lit = _string_literal(args[1])
                    t_sp = _CH_CAST_TYPES.get(lit or "")
                    if t_sp is None:
                        raise ValueError(
                            f"accurateCastOrNull: unsupported type "
                            f"{args[1]} (supported: "
                            f"{sorted(_CH_CAST_TYPES)})"
                        )
                    out.append(f"try_cast({args[0]} AS {t_sp})")
                elif name == "tuple" and args:
                    # CH unnamed tuple -> struct with FIXED field names
                    # col1..colN (Spark's struct() would name fields after
                    # their source columns), so tupleElement's positional
                    # form reads back exactly
                    fields = ", ".join(
                        f"'col{k + 1}', {a}" for k, a in enumerate(args)
                    )
                    out.append(f"named_struct({fields})")
                elif name == "untuple" and len(args) == 1:
                    # select-list struct expansion: Spark has no .* on an
                    # arbitrary expression — the inline() generator
                    # expands a one-element struct array to columns
                    out.append(f"inline(array({args[0]}))")
                elif name == "tupleElement" and len(args) == 2:
                    lit = _string_literal(args[1])
                    if lit is not None:
                        out.append(f"{args[0]}.{lit}")
                    elif re.fullmatch(r"\d+", args[1]):
                        # positional (1-based) over tuple()->struct()'s
                        # default field names col1..colN
                        out.append(f"{args[0]}.col{args[1]}")
                    else:
                        raise ValueError(
                            "tupleElement needs a literal field name or "
                            f"1-based index, got {args[1]!r}"
                        )
                elif name == "simpleLinearRegression" and len(args) == 2:
                    # CH returns tuple (k, b) = (slope, intercept); note
                    # Spark's regr_* take (y, x) — CH takes (x, y)
                    x, y = args
                    out.append(
                        f"named_struct('k', regr_slope({y}, {x}), "
                        f"'b', regr_intercept({y}, {x}))"
                    )
                elif (
                    name in ("arraySort", "arrayReverseSort")
                    and len(args) == 2
                    and "->" in args[0]
                ):
                    # CH 2-arg form sorts arr by KEY FUNCTION f(x) (stable);
                    # decorate-sort-undecorate: struct(key, value) arrays
                    # compare field-by-field, so array_sort orders by key
                    lam_var, _, lam_body = args[0].partition("->")
                    lam_var = lam_var.strip().lstrip("(").rstrip(")").strip()
                    sorted_expr = (
                        f"transform(array_sort(transform({args[1]}, "
                        f"{lam_var} -> struct(({lam_body.strip()}) AS __ask, "
                        f"{lam_var} AS __asv))), __ase -> __ase.__asv)"
                    )
                    if name == "arrayReverseSort":
                        sorted_expr = f"reverse({sorted_expr})"
                    out.append(sorted_expr)
                elif name == "numbers" and len(args) in (1, 2):
                    # table function: numbers(N) / numbers(offset, N) ->
                    # a range() subquery (lazy, LIMIT-prunable)
                    if len(args) == 1:
                        rng = f"range({args[0]})"
                    else:
                        rng = f"range({args[0]}, ({args[0]}) + ({args[1]}))"
                    out.append(f"(SELECT id AS number FROM {rng})")
                elif name == "now64" and len(args) <= 2:
                    # precision/tz args are display concerns; Spark
                    # timestamps are microsecond anyway
                    out.append("now()")
                elif name == "toDateTime64" and len(args) in (2, 3):
                    # (x, precision[, tz]) — sub-second precision is
                    # capped at Spark's native microseconds; tz rides the
                    # session zone (documented divergence)
                    out.append(f"CAST({args[0]} AS TIMESTAMP)")
                elif name == "halfMD5" and len(args) == 1:
                    # first 8 bytes of md5, big-endian as UInt64 == the
                    # first 16 hex chars as a number — exact for one arg
                    out.append(
                        f"CAST(conv(substring(md5(CAST({args[0]} AS "
                        f"STRING)), 1, 16), 16, 10) AS DECIMAL(20,0))"
                    )
                elif (
                    name in ("arrayFirst", "arrayFirstIndex")
                    and len(args) == 2
                ):
                    # first element satisfying the predicate. CH returns
                    # the element-type default when none matches; Spark
                    # reads NULL (the engine's documented default-vs-NULL
                    # divergence). The index form is 1-based, 0 when none
                    # — array_position of the first match is exact for
                    # pure value predicates (an earlier equal element
                    # would itself satisfy the predicate).
                    first = f"try_element_at(filter({args[1]}, {args[0]}), 1)"
                    if name == "arrayFirst":
                        out.append(first)
                    else:
                        out.append(
                            f"coalesce(array_position({args[1]}, {first}), 0)"
                        )
                elif name == "greatCircleDistance" and len(args) == 4:
                    # haversine, meters, mean Earth radius 6371 km (CH uses
                    # a WGS-84-derived metric; agreement is within ~0.5%)
                    lon1, lat1, lon2, lat2 = args
                    out.append(
                        f"(2 * 6371000 * asin(sqrt("
                        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
                        f"cos(radians({lat1})) * cos(radians({lat2})) * "
                        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
                    )
                elif name == "dateName" and len(args) == 2:
                    unit = (_string_literal(args[0]) or "").lower()
                    ts_ = args[1]
                    forms = {
                        "year": f"CAST(year({ts_}) AS STRING)",
                        "quarter": f"CAST(quarter({ts_}) AS STRING)",
                        "month": f"date_format({ts_}, 'MMMM')",
                        "week": f"CAST(weekofyear({ts_}) AS STRING)",
                        "day": f"CAST(day({ts_}) AS STRING)",
                        "weekday": f"date_format({ts_}, 'EEEE')",
                        "hour": f"CAST(hour({ts_}) AS STRING)",
                        "minute": f"CAST(minute({ts_}) AS STRING)",
                        "second": f"CAST(second({ts_}) AS STRING)",
                    }
                    if unit not in forms:
                        raise ValueError(
                            f"dateName: unsupported unit {args[0]} "
                            f"(supported: {sorted(forms)})"
                        )
                    out.append(forms[unit])
                elif name == "toWeek" and len(args) == 1:
                    # CH default mode 0: Sunday-start weeks, week 1 begins
                    # at the year's first Sunday, earlier days are week 0
                    ts_ = args[0]
                    fs = (
                        f"(((8 - dayofweek(date_trunc('year', {ts_}))) % 7)"
                        f" + 1)"
                    )
                    out.append(
                        f"(CASE WHEN dayofyear({ts_}) >= {fs} THEN "
                        f"CAST(floor((dayofyear({ts_}) - {fs}) / 7) AS INT)"
                        f" + 1 ELSE 0 END)"
                    )
                elif name in _RELATIVE_NUMS and len(args) == 1:
                    out.append(_RELATIVE_NUMS[name].format(ts=args[0]))
                elif name == "ifNotFinite" and len(args) == 2:
                    x_, y_ = args
                    out.append(
                        f"(CASE WHEN isnan({x_}) OR abs({x_}) = "
                        f"CAST('Infinity' AS DOUBLE) THEN {y_} "
                        f"ELSE {x_} END)"
                    )
                elif name == "bar" and len(args) == 4:
                    # full-block approximation of CH's eighth-block bars
                    v_, lo_, hi_, w_ = args
                    out.append(
                        f"repeat('\u2588', CAST(greatest(0, least(({w_}),"
                        f" round((({v_}) - ({lo_})) / (({hi_}) - ({lo_})) "
                        f"* ({w_})))) AS INT))"
                    )
                elif name == "formatReadableSize" and len(args) == 1:
                    b_ = f"CAST({args[0]} AS DOUBLE)"
                    out.append(
                        f"(CASE "
                        f"WHEN {b_} < 1024 THEN concat(format_string('%.2f', {b_}), ' B') "
                        f"WHEN {b_} < 1048576 THEN concat(format_string('%.2f', {b_} / 1024), ' KiB') "
                        f"WHEN {b_} < 1073741824 THEN concat(format_string('%.2f', {b_} / 1048576), ' MiB') "
                        f"WHEN {b_} < 1099511627776 THEN concat(format_string('%.2f', {b_} / 1073741824), ' GiB') "
                        f"ELSE concat(format_string('%.2f', {b_} / 1099511627776), ' TiB') END)"
                    )
                elif name == "formatReadableQuantity" and len(args) == 1:
                    n_ = f"CAST({args[0]} AS DOUBLE)"
                    out.append(
                        f"(CASE "
                        f"WHEN abs({n_}) < 1000 THEN format_string('%.2f', {n_}) "
                        f"WHEN abs({n_}) < 1000000 THEN concat(format_string('%.2f', {n_} / 1000), ' thousand') "
                        f"WHEN abs({n_}) < 1000000000 THEN concat(format_string('%.2f', {n_} / 1000000), ' million') "
                        f"WHEN abs({n_}) < 1000000000000 THEN concat(format_string('%.2f', {n_} / 1000000000), ' billion') "
                        f"ELSE concat(format_string('%.2f', {n_} / 1000000000000), ' trillion') END)"
                    )
                elif name in _STATE_FUNCS and len(args) == 1:
                    out.append(_STATE_FUNCS[name].format(x=args[0]))
                elif name in _MERGE_FUNCS and len(args) == 1:
                    out.append(_MERGE_FUNCS[name].format(s=args[0]))
                elif name == "entropy" and len(args) == 1:
                    # Shannon entropy (log2) of the value distribution —
                    # exact composition over the group's collected values
                    # (O(distinct x n) per group; CH streams a hash map)
                    lst = f"collect_list({args[0]})"
                    tot = f"CAST(size({lst}) AS DOUBLE)"
                    counts = (
                        f"transform(array_distinct({lst}), __ev -> "
                        f"CAST(size(filter({lst}, __ee -> __ee <=> __ev)) "
                        f"AS DOUBLE))"
                    )
                    out.append(
                        f"aggregate({counts}, CAST(0 AS DOUBLE), "
                        f"(__ea, __ec) -> __ea - (__ec / {tot}) * "
                        f"log2(__ec / {tot}))"
                    )
                elif name == "sumCount" and len(args) == 1:
                    out.append(
                        f"named_struct('col1', sum({args[0]}), "
                        f"'col2', count({args[0]}))"
                    )
                elif name == "boundingRatio" and len(args) == 2:
                    # slope between the leftmost and rightmost points:
                    # (y at max x - y at min x) / (max x - min x)
                    x_, y_ = args
                    out.append(
                        f"((max_by({y_}, {x_}) - min_by({y_}, {x_})) / "
                        f"(max({x_}) - min({x_})))"
                    )
                elif name == "arrayResize" and len(args) in (2, 3):
                    a_, n_ = args[0], args[1]
                    fill = (
                        args[2]
                        if len(args) == 3
                        # type-adaptive zero of the element type (empty
                        # input pads NULL — documented divergence from
                        # CH's type default)
                        else f"(try_element_at({a_}, 1) - "
                        f"try_element_at({a_}, 1))"
                    )
                    out.append(
                        f"concat(slice({a_}, 1, least(size({a_}), {n_})), "
                        f"array_repeat({fill}, "
                        f"greatest(0, ({n_}) - size({a_}))))"
                    )
                elif name == "arrayJaccardIndex" and len(args) == 2:
                    a_, b_ = args
                    out.append(
                        f"(CAST(size(array_intersect({a_}, {b_})) AS DOUBLE)"
                        f" / size(array_union({a_}, {b_})))"
                    )
                elif (
                    name in ("arrayRotateLeft", "arrayRotateRight")
                    and len(args) == 2
                ):
                    a_, n_ = args
                    shift = n_ if name == "arrayRotateLeft" else f"-({n_})"
                    k = f"pmod({shift}, size({a_}))"
                    out.append(
                        f"(CASE WHEN size({a_}) = 0 THEN {a_} ELSE "
                        f"concat(slice({a_}, {k} + 1, size({a_})), "
                        f"slice({a_}, 1, {k})) END)"
                    )
                elif name == "arrayReduce" and len(args) == 2:
                    agg = (_string_literal(args[0]) or "").lower()
                    a_ = args[1]
                    nn = f"filter({a_}, __rx -> __rx IS NOT NULL)"
                    forms = {
                        "min": f"array_min({a_})",
                        "max": f"array_max({a_})",
                        "count": f"size({nn})",
                        "uniqexact": f"size(array_distinct({nn}))",
                        "sum": (
                            f"aggregate({nn}, CAST(0 AS DOUBLE), "
                            f"(__ra, __rx) -> __ra + __rx)"
                        ),
                        "avg": (
                            f"(aggregate({nn}, CAST(0 AS DOUBLE), "
                            f"(__ra, __rx) -> __ra + __rx) / size({nn}))"
                        ),
                    }
                    if agg not in forms:
                        raise ValueError(
                            f"arrayReduce: unsupported aggregate {args[0]} "
                            f"(supported: {sorted(forms)})"
                        )
                    out.append(forms[agg])
                elif name == "bitTest" and len(args) == 2:
                    out.append(
                        f"CAST((shiftright(CAST({args[0]} AS BIGINT), "
                        f"{args[1]}) & 1) AS SMALLINT)"
                    )
                elif name in ("bitTestAll", "bitTestAny") and len(args) >= 2:
                    op = " AND " if name == "bitTestAll" else " OR "
                    conds = op.join(
                        f"(shiftright(CAST({args[0]} AS BIGINT), {p}) & 1"
                        f" = 1)"
                        for p in args[1:]
                    )
                    out.append(f"CAST(({conds}) AS SMALLINT)")
                elif name == "roundToExp2" and len(args) == 1:
                    x_ = args[0]
                    out.append(
                        f"(CASE WHEN ({x_}) < 1 THEN 0 ELSE "
                        f"CAST(pow(2, floor(log2(CAST({x_} AS DOUBLE)))) "
                        f"AS BIGINT) END)"
                    )
                elif name == "roundDown" and len(args) == 2:
                    x_, arr_ = args
                    out.append(
                        f"coalesce(array_max(filter({arr_}, "
                        f"__rd -> __rd <= ({x_}))), "
                        f"try_element_at({arr_}, 1))"
                    )
                elif name in ("SHA1", "SHA224", "SHA256", "SHA384", "SHA512") and len(args) == 1:
                    # hex STRING where CH returns FixedString bytes —
                    # unhex() recovers the byte form
                    bits = name[3:]
                    if name == "SHA1":
                        out.append(f"sha1({args[0]})")
                    else:
                        out.append(f"sha2({args[0]}, {bits})")
                elif name == "defaultValueOfTypeName" and len(args) == 1:
                    lit = _string_literal(args[0])
                    t_sp = _CH_CAST_TYPES.get(lit or "")
                    if t_sp is None:
                        raise ValueError(
                            f"defaultValueOfTypeName: unsupported type "
                            f"{args[0]} (supported: {sorted(_CH_CAST_TYPES)})"
                        )
                    if t_sp == "STRING":
                        out.append("''")
                    elif t_sp == "DATE":
                        out.append("DATE '1970-01-01'")
                    elif t_sp == "TIMESTAMP":
                        out.append("TIMESTAMP '1970-01-01 00:00:00'")
                    elif t_sp == "BOOLEAN":
                        out.append("false")
                    else:
                        out.append(f"CAST(0 AS {t_sp})")
                elif name == "rand" and not args:
                    # CH rand() is a random UInt32, not a [0,1) double
                    out.append("CAST(floor(rand() * 4294967296) AS BIGINT)")
                elif name == "rand64" and not args:
                    # non-negative 63-bit sample (CH spans the full UInt64
                    # range — documented divergence)
                    out.append(
                        "CAST(floor(rand() * 9223372036854775807) AS BIGINT)"
                    )
                elif name == "toFixedString" and len(args) == 2:
                    # pad with NUL bytes like CH; longer inputs TRUNCATE
                    # where CH errors (documented divergence)
                    out.append(
                        f"rpad({args[0]}, {args[1]}, chr(0))"
                    )
                elif name in ("sumMap", "minMap", "maxMap") and len(args) == 1:
                    # key-wise map combination across the group's rows:
                    # union the keys, fold each key's values. Exact
                    # composition of builtins (collect_list -> flatten ->
                    # per-key fold); keys come back SORTED like ClickHouse.
                    # sumMap folds in DOUBLE (documented: CH sums in the
                    # value type); min/max preserve the element type.
                    m_ = args[0]
                    ents = f"flatten(collect_list(map_entries({m_})))"
                    keys = (
                        f"array_sort(array_distinct(transform({ents}, "
                        f"__me -> __me.key)))"
                    )
                    vals = f"filter({ents}, __me -> __me.key <=> __mk)"
                    if name == "sumMap":
                        fold = (
                            f"aggregate({vals}, CAST(0 AS DOUBLE), "
                            f"(__ma, __me) -> __ma + __me.value)"
                        )
                    elif name == "minMap":
                        fold = f"array_min(transform({vals}, __me -> __me.value))"
                    else:
                        fold = f"array_max(transform({vals}, __me -> __me.value))"
                    out.append(
                        f"map_from_entries(transform({keys}, "
                        f"__mk -> struct(__mk, {fold})))"
                    )
                elif name in _UNWRAP and len(args) == 1:
                    out.append(args[0])
                elif name in _NAME_MAP:
                    out.append(f"{_NAME_MAP[name]}({', '.join(args)})")
                else:
                    out.append(f"{name}({', '.join(args)})")
                continue
            # bare identifier (no call): keyword rewrites (PREWHERE), else keep
            out.append(_KEYWORDS.get(name.upper(), name))
            continue
        out.append(tok.text)  # quoted tokens and the rest copy verbatim
    result = "".join(out)
    # fail-loud backstop: ASOF JOIN syntax the fragment scanners could not
    # reach (e.g. split mid-subquery) must never reach Spark's parser — it
    # would silently parse as an alias plus a plain INNER join with the
    # ordering condition folded into the join predicate
    blanked = sqltext.blank_quoted(result)
    if re.search(r"\bLIMIT\s+\S+\s+WITH\s+TIES\b", blanked, re.I):
        raise ValueError(
            "LIMIT ... WITH TIES has no Spark equivalent; use a rank() "
            "window — e.g. QUALIFY rank() OVER (ORDER BY <sort>) <= n"
        )
    if _ASOF_LEFTOVER_RE.search(blanked):
        raise ValueError(
            "ASOF JOIN could not be translated in this position; supported "
            "shape: FROM <term> <alias> ASOF [LEFT] JOIN <term> <alias> "
            "ON <equality conjuncts> AND <one ordered condition>"
        )
    if _ANY_LEFTOVER_RE.search(blanked):
        raise ValueError(
            "ANY JOIN could not be translated in this position; supported "
            "shape: FROM <term> <alias> ANY [LEFT|INNER] JOIN <term> "
            "<alias> ON <equality conjuncts>"
        )
    if _ARRAY_JOIN_LEFTOVER_RE.search(blanked):
        raise ValueError(
            "ARRAY JOIN could not be translated in this position; supported "
            "shape: FROM <term> [alias] [LEFT] ARRAY JOIN <array-expr> "
            "[AS <name>][, ...] — un-rewritten it would parse as an alias "
            "plus a plain join"
        )
    if _WITH_FILL_LEFTOVER_RE.search(blanked):
        raise ValueError(
            "WITH FILL could not be translated in this position; supported "
            "shape: a top-level ORDER BY [prefix keys,] <column> WITH FILL "
            "[FROM f] [TO t] [STEP s] [INTERPOLATE (bare columns)]"
        )
    return result
