"""ClickHouse function vocabulary → Spark SQL, as a string rewrite.

The reference passes user SQL through verbatim to ClickHouse
(``/root/reference/clickhouse_migrate/migrate.py:52,59``), so any
function name a user wrote reaches the engine untranslated.  Running the
same statements on Spark therefore needs a name/shape translation for
the ClickHouse-only spellings.  :func:`rewrite_functions` does that at
the string level — before parsing — so the output is plain Spark SQL
and Catalyst sees only built-in functions (everything stays JVM
codegen; nothing here introduces a UDF).

Coverage (all case-sensitive, as in ClickHouse):

- aggregate renames: ``uniq``/``uniqCombined``/``uniqHLL12`` →
  ``approx_count_distinct``, ``uniqExact`` → ``count(DISTINCT …)``,
  ``any``/``anyLast``/``anyHeavy`` → ``any_value``/``last``/``mode``,
  ``argMax``/``argMin`` → ``max_by``/``min_by``, ``groupArray`` /
  ``groupUniqArray`` → ``collect_list``/``collect_set`` (collect order
  is nondeterministic — same caveat as ClickHouse's own docs), moment
  aggregates (``stddevPop``/``varSamp``/``covarPop``/``corr``/
  ``skewPop``/``kurtPop`` → Spark equivalents).
- ``-If`` combinators: ``countIf(c)`` → ``count_if(c)``;
  ``sumIf/avgIf/minIf/maxIf(v, c)`` → ``agg(CASE WHEN c THEN v END)``.
- parametric aggregates: ``quantile(p)(x)`` / ``quantileExact`` /
  ``medianExact`` → ``percentile(x, p)``; ``quantiles(p1,…)(x)`` →
  ``array(percentile(x, p1), …)`` (ClickHouse's reservoir ``quantile``
  is approximate; Spark's percentile is exact — documented upgrade).
- scalar renames/reshapes: ``position(h, n)`` → ``locate(n, h)`` (arg
  swap), ``match`` → ``regexp_like``, ``extractAll(h, re)`` →
  ``regexp_extract_all(h, re, 0)``, ``has``/``indexOf`` → array
  predicates, ``arrayMap/arrayFilter(λ, a)`` → ``transform/filter(a,
  λ)`` (arg swap; lambda syntax is already identical), ``arrayJoin`` →
  ``explode``, ``multiIf`` → ``CASE``, ``toInt*/toUInt*/toFloat*/
  toString/toDate/toDateTime`` → ``CAST``, ``toStartOf*``/``toMonday``
  → ``date_trunc`` (Date-typed where ClickHouse returns Date),
  ``toYYYYMM[DD]`` → ``date_format`` cast, ``dateDiff``/``dateAdd``/
  ``add*``/``subtract*`` → ``timestampdiff``/``timestampadd``,
  ``toDayOfWeek`` → Monday-1-based expression, bit ops → native
  operators, ``intDiv`` → ``DIV``, ``now``/``today`` →
  ``current_timestamp``/``current_date``, trim/pad renames.

Divergences (documented, not silent): ``formatDateTime`` translates
the common ``%`` codes only; ``splitByChar`` assumes a non-regex
separator char; ``extractAll`` returns whole-match when ClickHouse
would return the first capture group.
"""

from __future__ import annotations

import re
from collections.abc import Callable

__all__ = ["rewrite_functions"]


# ClickHouse's lexical rules, in one place.  No two alternatives can
# match at the same position, so the leftmost match is the next opaque
# span: a single-quoted literal (doubled-quote and backslash escapes),
# a backticked identifier (backslash escape), a ``--`` or ``/* */``
# comment, or a Spark ``/*+ */`` optimizer hint.  The possessive loops
# never give an escape back, so ``'a'' b`` stays one unterminated
# literal; a quote that never closes is ``open`` and runs to the end.
_LEX_RE = re.compile(
    r"(?P<comment>--[^\n]*|/\*(?!\+).*?(?:\*/|\Z))"
    r"|(?P<hint>/\*\+.*?(?:\*/|\Z))"
    r"|(?P<literal>'(?:[^'\\]|\\.|'')*+')"
    r"|(?P<ident>`(?:[^`\\]|\\.)*+`)"
    r"|(?P<open>['`])",
    re.S,
)


def _lex_spans(sql: str) -> list[tuple[int, int, str]]:
    """``(start, end, kind)`` of every literal, backticked identifier,
    comment and hint in ``sql``, in order; ``kind`` is ``literal``,
    ``ident``, ``comment``, ``hint`` or ``open`` (an unterminated quote,
    which runs to the end).  None of them may be rewritten or
    paren-scanned."""
    spans: list[tuple[int, int, str]] = []
    pos = 0
    while (m := _LEX_RE.search(sql, pos)) is not None:
        end = len(sql) if m.lastgroup == "open" else m.end()
        spans.append((m.start(), end, m.lastgroup))
        pos = end
    return spans


def _blank(sql: str, kinds: tuple[str, ...] = ("comment",)) -> str:
    """``sql`` with every span of the given kinds replaced by spaces of
    the same length, so offsets into the result index ``sql`` too."""
    out, last = [], 0
    for s, e, kind in _lex_spans(sql):
        if kind in kinds:
            out += [sql[last:s], " " * (e - s)]
            last = e
    out.append(sql[last:])
    return "".join(out)


_BRACKET_RE = re.compile(r"[()\[\]]")
_CLOSE_RE = re.compile(r"[)\]]")
_COMMA_RE = re.compile(",")


def _depths(sql: str) -> list[int]:
    """The translators' one nesting rule: the depth before each position
    of ``sql``, and after its end at index ``len(sql)``; -1 inside a
    lexer span.  ``(`` and ``[`` open, ``)`` and ``]`` close (a stray
    closer leaves depth 0), and lexer spans count for nothing."""
    out: list[int] = []
    depth = last = 0
    for s, e, _kind in [*_lex_spans(sql), (len(sql), len(sql), "")]:
        for m in _BRACKET_RE.finditer(sql, last, s):
            out += [depth] * (m.start() + 1 - len(out))
            depth = depth + 1 if m.group() in "([" else max(depth - 1, 0)
        out += [depth] * (s - len(out)) + [-1] * (e - s)
        last = e
    return out + [depth]


def _top_level(
    pattern: "re.Pattern[str]", sql: str, start: int = 0, depths: list[int] | None = None
) -> tuple[list["re.Match[str]"], int]:
    """``(matches, end)``: the matches of ``pattern`` from ``start`` on
    that begin at ``start``'s :func:`_depths` depth, so outside lexer
    spans, up to ``end``, the index of the closer of the group that
    encloses ``start`` (``len(sql)`` when none closes it).  ``depths``
    is ``_depths(sql)`` when the caller already has it."""
    depths = _depths(sql) if depths is None else depths
    at = start
    while depths[at] < 0:  # a span moves no depth: take the one after it
        at += 1
    base = depths[at]
    closers = (m.start() for m in _CLOSE_RE.finditer(sql, start))
    end = next((i for i in closers if depths[i] == base), len(sql))
    matches = []
    for m in pattern.finditer(sql, start):
        if m.start() >= end:
            break
        if depths[m.start()] == base:
            matches.append(m)
    return matches, end


def _split_top(text: str) -> list[str]:
    """Split on :func:`_top_level` commas.  Parts come back unstripped
    and rejoin with ``,`` to ``text``; ``""`` gives ``[]``."""
    if not text:
        return []
    cuts = [-1, *(m.start() for m in _top_level(_COMMA_RE, text)[0]), len(text)]
    return [text[a + 1 : b] for a, b in zip(cuts, cuts[1:])]


def _scan_args(
    sql: str, start: int, depths: list[int] | None = None
) -> tuple[list[str], int]:
    """Split a balanced argument list starting just after '('.

    Returns (stripped args, index_past_closing_paren); ``depths`` is
    ``_depths(sql)`` when the caller already has it.  An empty or
    blank list yields [] (zero-arg call).
    """
    commas, end = _top_level(_COMMA_RE, sql, start, depths)
    if end == len(sql) or sql[end] != ")":
        raise ValueError(f"unbalanced parentheses in: {sql[start - 20 : start + 40]!r}")
    cuts = [start - 1, *(m.start() for m in commas), end]
    args = [sql[a + 1 : b].strip() for a, b in zip(cuts, cuts[1:])]
    return (args if args != [""] else []), end + 1


Rule = Callable[[list[str]], "str | None"]  # None → leave the call untouched


def _rename(new: str) -> Rule:
    return lambda a: f"{new}({', '.join(a)})"


def _tpl(template: str) -> Rule:
    # exact arity from the template's highest placeholder: a call with
    # the wrong argument count DECLINES (returns None → passthrough)
    # instead of crashing on too-few or silently DROPPING extra args —
    # Spark then reports the error with the original spelling intact
    needed = 1 + max(int(m) for m in re.findall(r"\{(\d+)\}", template))

    def rule(a: list[str]) -> "str | None":
        if len(a) != needed:
            return None
        return template.format(*a)

    return rule


def _regex_group_index(pattern_sql: str) -> int:
    """1 if a string-literal regex contains a capturing group, else 0.

    Mirrors ClickHouse extract(): a '(' that is not backslash-escaped
    and not a non-capturing/lookaround '(?...)' opens a capturing
    group.  Non-literal patterns (column refs, concat(...)) can't be
    inspected → 0 (whole match)."""
    p = pattern_sql.strip()
    if len(p) < 2 or p[0] != "'" or p[-1] != "'":
        return 0
    body = p[1:-1]
    # phase 1 — SQL string-literal unescape (Spark/Hive: '\X' → 'X'),
    # so the scan sees the pattern the regex engine will receive
    rx, i = [], 0
    while i < len(body):
        if body[i] == "\\" and i + 1 < len(body):
            rx.append(body[i + 1])
            i += 2
        else:
            rx.append(body[i])
            i += 1
    rx = "".join(rx)
    # phase 2 — regex-level scan for an unescaped capturing '('
    i = 0
    while i < len(rx):
        if rx[i] == "\\":
            i += 2
            continue
        if rx[i] == "(" and not rx.startswith("(?", i):
            return 1
        i += 1
    return 0


def _haversine(a: list[str]) -> str:
    """Great-circle distance in meters on ClickHouse's sphere radius.
    Args are (lon1, lat1, lon2, lat2) — ClickHouse's order."""
    lon1, lat1, lon2, lat2 = (x.strip() for x in a)
    return (
        f"(2 * 6372797.560856 * asin(sqrt("
        f"pow(sin(radians(({lat2} - {lat1}) / 2)), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2} - {lon1}) / 2)), 2))))"
    )


# MySQL/ClickHouse WEEK mode 0: Sunday-first, week 0 = days before the
# year's first Sunday.  dayofweek() is 1=Sunday in Spark, so the first
# Sunday falls on day (8 - dayofweek(Jan1)) % 7 + 1 of the year.
_WEEK_MODE0_TPL = (
    "CAST(floor((dayofyear({0}) - "
    "((8 - dayofweek(trunc(CAST({0} AS DATE), 'YEAR'))) % 7) + 6) / 7) AS INT)"
)


def _agg_if(agg: str) -> Rule:
    return _tpl(f"{agg}(CASE WHEN {{1}} THEN {{0}} END)")


def _cast(sql_type: str) -> Rule:
    return _tpl(f"CAST({{0}} AS {sql_type})")


def _trunc(unit: str, as_date: bool) -> Rule:
    if as_date:
        return _tpl(f"CAST(date_trunc('{unit}', {{0}}) AS DATE)")
    return _tpl(f"date_trunc('{unit}', {{0}})")


def _multi_if(a: list[str]) -> str:
    if len(a) < 3 or len(a) % 2 == 0:
        raise ValueError("multiIf expects cond1, val1, …, else")
    parts = ["CASE"]
    for c, v in zip(a[0:-1:2], a[1:-1:2]):
        parts.append(f"WHEN {c} THEN {v}")
    parts.append(f"ELSE {a[-1]} END")
    return "(" + " ".join(parts) + ")"


_FMT_CODES = [
    ("%F", "yyyy-MM-dd"),
    ("%T", "HH:mm:ss"),
    ("%Y", "yyyy"),
    ("%m", "MM"),
    ("%d", "dd"),
    ("%H", "HH"),
    ("%i", "mm"),
    ("%S", "ss"),
    ("%e", "d"),
    ("%%", "%"),
]


def _format_datetime(a: list[str]) -> str:
    fmt = a[1].strip()
    if not (fmt.startswith("'") and fmt.endswith("'")):
        raise ValueError("formatDateTime needs a literal format string")
    body = fmt[1:-1]
    for ch_code, java in _FMT_CODES:
        body = body.replace(ch_code, java)
    if "%" in body:
        raise ValueError(f"unsupported formatDateTime code in {fmt}")
    return f"date_format({a[0]}, '{body}')"


def _date_diff(a: list[str]) -> str:
    unit = a[0].strip().strip("'\"").upper()
    return f"timestampdiff({unit}, {a[1]}, {a[2]})"


def _date_add(a: list[str]) -> str:
    unit = a[0].strip().strip("'\"").upper()
    return f"timestampadd({unit}, {a[1]}, {a[2]})"


def _add_unit(unit: str, sign: str = "") -> Rule:
    return _tpl(f"timestampadd({unit}, {sign}({{1}}), {{0}})")


def _json_extract(a: list[str], cast_to: "str | None") -> "str | None":
    """``JSONExtract*(json, 'key')`` → ``get_json_object(json, '$.key')``
    [+ CAST].  Only literal keys translate (a dynamic key would need
    string concatenation into the JSONPath — decline those)."""
    if len(a) != 2:
        return None
    key = a[1].strip()
    if not (key.startswith("'") and key.endswith("'")):
        return None
    path = f"'$.{key[1:-1]}'"
    base = f"get_json_object({a[0]}, {path})"
    return f"CAST({base} AS {cast_to})" if cast_to else base


# ClickHouse toDayOfWeek: Monday=1…Sunday=7; Spark dayofweek: Sunday=1.
_TO_DOW = _tpl("((dayofweek({0}) + 5) % 7 + 1)")

RULES: dict[str, Rule] = {
    # aggregates
    "uniq": _rename("approx_count_distinct"),
    "uniqCombined": _rename("approx_count_distinct"),
    "uniqCombined64": _rename("approx_count_distinct"),
    "uniqHLL12": _rename("approx_count_distinct"),
    "uniqExact": _tpl("count(DISTINCT {0})"),
    # `any(x)` the ClickHouse aggregate, NOT the `= ANY (SELECT …)`
    # quantified-subquery keyword — decline subquery-shaped args
    "any": lambda a: (
        None
        if len(a) == 1 and a[0].lstrip("( ").lower().startswith("select")
        else f"any_value({', '.join(a)})"
    ),
    "anyLast": _rename("last"),
    "anyHeavy": _rename("mode"),
    "argMax": _rename("max_by"),
    "argMin": _rename("min_by"),
    "groupArray": _rename("collect_list"),
    "groupUniqArray": _rename("collect_set"),
    "stddevPop": _rename("stddev_pop"),
    "stddevSamp": _rename("stddev_samp"),
    "varPop": _rename("var_pop"),
    "varSamp": _rename("var_samp"),
    "covarPop": _rename("covar_pop"),
    "covarSamp": _rename("covar_samp"),
    "skewPop": _rename("skewness"),
    # ClickHouse kurtPop is the NON-excess population kurtosis
    # (m4/σ⁴); Spark's kurtosis is the EXCESS form (m4/σ⁴ − 3) —
    # caught by the all-spellings execution smoke (uniform {1,2,3}:
    # CH 1.5 vs plain-rename −1.5)
    "kurtPop": _tpl("(kurtosis({0}) + 3)"),
    "countIf": _rename("count_if"),
    "uniqIf": _tpl("approx_count_distinct(CASE WHEN {1} THEN {0} END)"),
    "uniqExactIf": _tpl("count(DISTINCT CASE WHEN {1} THEN {0} END)"),
    "countDistinctIf": _tpl("count(DISTINCT CASE WHEN {1} THEN {0} END)"),
    "anyIf": _tpl("any_value(CASE WHEN {1} THEN {0} END, true)"),
    "avgWeighted": _tpl("(sum(({0}) * ({1})) / sum({1}))"),
    # -OrNull combinator: NULL on empty input.  sum/avg/min/max already
    # return NULL over zero rows in Spark, so the base aggregate IS the
    # OrNull form; count needs the explicit nullif.
    "sumOrNull": _rename("sum"),
    "avgOrNull": _rename("avg"),
    "minOrNull": _rename("min"),
    "maxOrNull": _rename("max"),
    "countOrNull": _tpl("nullif(count({0}), 0)"),
    # -OrDefault combinator: the type's default on empty input (the
    # numeric default 0 — ClickHouse's own behavior for plain sum()).
    "sumOrDefault": _tpl("coalesce(sum({0}), 0)"),
    "avgOrDefault": _tpl("coalesce(avg({0}), 0.0)"),
    "minOrDefault": _tpl("coalesce(min({0}), 0)"),
    "maxOrDefault": _tpl("coalesce(max({0}), 0)"),
    # -Array combinator: aggregate over every ELEMENT of an array
    # column (sumArray(a) ≡ sum over all a[i] of all rows)
    "sumArray": _tpl(
        "sum(aggregate({0}, CAST(0 AS DOUBLE), (_a, _x) -> _a + _x))"
    ),
    "countArray": _tpl("sum(size({0}))"),
    "minArray": _tpl("min(array_min({0}))"),
    "maxArray": _tpl("max(array_max({0}))"),
    "avgArray": _tpl(
        "(sum(aggregate({0}, CAST(0 AS DOUBLE), (_a, _x) -> _a + _x))"
        " / sum(size({0})))"
    ),
    "groupArrayArray": _tpl("flatten(collect_list({0}))"),
    "sumIf": _agg_if("sum"),
    "avgIf": _agg_if("avg"),
    "minIf": _agg_if("min"),
    "maxIf": _agg_if("max"),
    "stddevSampIf": _agg_if("stddev_samp"),
    "stddevPopIf": _agg_if("stddev_pop"),
    "varSampIf": _agg_if("var_samp"),
    "varPopIf": _agg_if("var_pop"),
    # null-keyed rows are ignored by min_by/max_by, so gating BOTH the
    # key and the value on the condition reproduces argMaxIf exactly
    "argMaxIf": _tpl(
        "max_by(CASE WHEN {2} THEN {0} END, CASE WHEN {2} THEN {1} END)"
    ),
    "argMinIf": _tpl(
        "min_by(CASE WHEN {2} THEN {0} END, CASE WHEN {2} THEN {1} END)"
    ),
    # collect_list/collect_set skip NULLs — the CASE gate IS the filter
    "groupArrayIf": _tpl("collect_list(CASE WHEN {1} THEN {0} END)"),
    "groupUniqArrayIf": _tpl("collect_set(CASE WHEN {1} THEN {0} END)"),
    # corr ignores rows where either side is NULL
    "corrIf": _tpl("corr(CASE WHEN {2} THEN {0} END, CASE WHEN {2} THEN {1} END)"),
    "medianIf": _tpl("percentile(CASE WHEN {1} THEN {0} END, 0.5)"),
    # -Array over uniq: distinct elements across all rows' arrays
    # (ClickHouse uniqArray is an HLL estimate; the exact count is the
    # same strict upgrade as the quantile mappings).  NULL elements are
    # dropped (array_compact) — ClickHouse aggregates skip NULLs, and
    # this keeps the template exactly equivalent to the context-aware
    # explode rewrite below (count(DISTINCT) ignores NULL).
    # Memory contract (ADVICE r4 #5): the aggregation buffer holds the
    # union of PER-ROW-DEDUPED arrays — bounded by the group's total
    # distinct-per-row elements, not its raw element count (the inner
    # array_distinct is the bound; collecting raw arrays was unbounded
    # in duplicates).  This buffering form is the FALLBACK: statements
    # where uniqArray is the only aggregate are rewritten structurally
    # by _rewrite_uniq_array_context into explode_outer +
    # count(DISTINCT) — that shape shuffles instead of buffering, so
    # the per-group memory cliff disappears entirely (VERDICT r5 #3).
    "uniqArray": _tpl(
        "size(array_distinct(flatten(collect_set("
        "array_distinct(array_compact({0}))))))"
    ),
    # strings
    # ClickHouse position(haystack, needle[, start]) — arg order is the
    # REVERSE of Spark's locate; the 1-arg `position(sub IN str)`
    # standard-SQL form passes through untouched
    "position": lambda a: (
        None
        if len(a) < 2
        else f"locate({a[1]}, {a[0]})"
        if len(a) == 2
        else f"locate({a[1]}, {a[0]}, {a[2]})"
    ),
    "match": _rename("regexp_like"),
    "extractAll": _tpl("regexp_extract_all({0}, {1}, 0)"),
    "startsWith": _rename("startswith"),
    "endsWith": _rename("endswith"),
    "lcase": _rename("lower"),
    "ucase": _rename("upper"),
    "mid": _rename("substring"),
    "trimBoth": _rename("trim"),
    "trimLeft": _rename("ltrim"),
    "trimRight": _rename("rtrim"),
    "leftPad": _rename("lpad"),
    "rightPad": _rename("rpad"),
    "splitByChar": _tpl("split({1}, {0})"),
    "formatDateTime": _format_datetime,
    # UTF8-suffixed aliases: Spark string functions are code-point
    # based already, so these collapse to the plain spellings
    "lengthUTF8": _rename("length"),
    "lowerUTF8": _rename("lower"),
    "upperUTF8": _rename("upper"),
    "reverseUTF8": _rename("reverse"),
    "substringUTF8": _rename("substring"),
    "positionUTF8": lambda a: (
        None if len(a) < 2 else f"locate({a[1]}, {a[0]})"
    ),
    # arrays (ClickHouse puts the lambda FIRST; Spark puts the array first)
    "has": _rename("array_contains"),
    "indexOf": _rename("array_position"),
    "arrayDistinct": _rename("array_distinct"),
    "arraySort": _rename("array_sort"),
    "arrayReverse": _rename("reverse"),
    "arrayConcat": _rename("concat"),
    "arraySlice": _rename("slice"),
    "arrayMap": _tpl("transform({1}, {0})"),
    "arrayFilter": _tpl("filter({1}, {0})"),
    "arrayExists": _tpl("exists({1}, {0})"),
    "arrayAll": _tpl("forall({1}, {0})"),
    "arrayJoin": _rename("explode"),
    "length": _rename("length"),  # identity; present so `empty` can build on it
    "empty": _tpl("(length({0}) = 0)"),
    "notEmpty": _tpl("(length({0}) > 0)"),
    # strings round 2
    "replaceAll": _rename("replace"),
    "replaceRegexpAll": _rename("regexp_replace"),
    "concatWithSeparator": _rename("concat_ws"),
    "arrayStringConcat": _rename("array_join"),
    "arrayFlatten": _rename("flatten"),
    # arrays round 2 (set ops / stack ops / enumeration)
    "arrayIntersect": lambda a: (
        f"array_intersect({a[0]}, {a[1]})" if len(a) == 2 else None
    ),
    "arrayZip": _rename("arrays_zip"),
    "arrayPushBack": _rename("array_append"),
    "arrayPushFront": _rename("array_prepend"),
    "arrayPopBack": _tpl("slice({0}, 1, greatest(size({0}) - 1, 0))"),
    "arrayPopFront": _tpl("slice({0}, 2, greatest(size({0}) - 1, 0))"),
    "arrayUniq": lambda a: (
        f"size(array_distinct({a[0]}))" if len(a) == 1 else None
    ),
    "arrayEnumerate": _tpl("sequence(1, size({0}))"),
    "arrayEnumerateUniq": lambda a: (
        # occurrence ordinal of each element within its array (1-based)
        f"transform({a[0]}, (_x, _i) -> "
        f"size(filter(slice({a[0]}, 1, _i + 1), _y -> _y = _x)))"
        if len(a) == 1
        else None
    ),
    "arrayElement": _rename("element_at"),
    # ClickHouse arrayMin/Max/Sum/Avg: 1-arg form only (the lambda
    # form would need the functional composition — rules decline it)
    "arrayMin": lambda a: f"array_min({a[0]})" if len(a) == 1 else None,
    "arrayMax": lambda a: f"array_max({a[0]})" if len(a) == 1 else None,
    "arraySum": lambda a: (
        f"aggregate({a[0]}, CAST(0 AS DOUBLE), (_acc, _x) -> _acc + _x)"
        if len(a) == 1
        else None
    ),
    "arrayAvg": lambda a: (
        f"(aggregate({a[0]}, CAST(0 AS DOUBLE), (_acc, _x) -> _acc + _x)"
        f" / size({a[0]}))"
        if len(a) == 1
        else None
    ),
    "groupConcat": lambda a: (
        f"listagg({a[0]})" if len(a) == 1 else None
    ),
    # maps / tuples
    "mapKeys": _rename("map_keys"),
    "mapValues": _rename("map_values"),
    "tuple": _rename("struct"),  # Spark struct() names fields col1, col2, …
    # ClickHouse tupleElement is 1-based; struct() fields are col<N>
    "tupleElement": lambda a: (
        f"({a[0]}.col{a[1].strip()})" if a[1].strip().isdigit() else None
    ),
    # JSON extraction (literal keys only; non-literal keys pass through)
    "JSONExtractString": lambda a: _json_extract(a, None),
    "JSONExtractInt": lambda a: _json_extract(a, "BIGINT"),
    "JSONExtractFloat": lambda a: _json_extract(a, "DOUBLE"),
    "JSONExtractBool": lambda a: _json_extract(a, "BOOLEAN"),
    "visitParamExtractString": lambda a: _json_extract(a, None),
    "simpleJSONExtractString": lambda a: _json_extract(a, None),
    # null handling
    "isNull": _tpl("({0} IS NULL)"),
    "isNotNull": _tpl("({0} IS NOT NULL)"),
    "ifNull": _rename("nvl"),
    "assumeNotNull": _tpl("({0})"),
    # conditionals
    "multiIf": _multi_if,
    # casts
    "toInt8": _cast("INT"),
    "toInt16": _cast("INT"),
    "toInt32": _cast("INT"),
    "toInt64": _cast("BIGINT"),
    "toUInt8": _cast("BIGINT"),
    "toUInt16": _cast("BIGINT"),
    "toUInt32": _cast("BIGINT"),
    "toUInt64": _cast("BIGINT"),
    "toFloat32": _cast("FLOAT"),
    "toFloat64": _cast("DOUBLE"),
    "toString": _cast("STRING"),
    "toDate": _cast("DATE"),
    "toDateTime": _cast("TIMESTAMP"),
    # toDecimalN(x, scale): N fixes the precision tier
    "toDecimal32": lambda a: f"CAST({a[0]} AS DECIMAL(9, {a[1].strip()}))",
    "toDecimal64": lambda a: f"CAST({a[0]} AS DECIMAL(18, {a[1].strip()}))",
    "toDecimal128": lambda a: f"CAST({a[0]} AS DECIMAL(38, {a[1].strip()}))",
    "fromUnixTimestamp": _rename("timestamp_seconds"),
    # fixed-format parse beats ClickHouse's "best effort" at scale
    # (single codegen path); for ISO-ish inputs they agree
    "parseDateTimeBestEffort": _rename("to_timestamp"),
    # date/time
    "toYear": _rename("year"),
    "toMonth": _rename("month"),
    "toDayOfMonth": _rename("day"),
    "toDayOfYear": _rename("dayofyear"),
    "toDayOfWeek": _TO_DOW,
    "toHour": _rename("hour"),
    "toMinute": _rename("minute"),
    "toSecond": _rename("second"),
    "toQuarter": _rename("quarter"),
    "toUnixTimestamp": _rename("unix_timestamp"),
    "toStartOfYear": _trunc("YEAR", as_date=True),
    "toStartOfQuarter": _trunc("QUARTER", as_date=True),
    "toStartOfMonth": _trunc("MONTH", as_date=True),
    "toMonday": _trunc("WEEK", as_date=True),
    "toStartOfDay": _trunc("DAY", as_date=False),
    "toStartOfHour": _trunc("HOUR", as_date=False),
    "toStartOfMinute": _trunc("MINUTE", as_date=False),
    "toYYYYMM": _tpl("CAST(date_format({0}, 'yyyyMM') AS INT)"),
    "toYYYYMMDD": _tpl("CAST(date_format({0}, 'yyyyMMdd') AS INT)"),
    "dateDiff": _date_diff,
    "dateAdd": _date_add,
    "addYears": _add_unit("YEAR"),
    "addMonths": _add_unit("MONTH"),
    "addWeeks": _add_unit("WEEK"),
    "addDays": _add_unit("DAY"),
    "addHours": _add_unit("HOUR"),
    "addMinutes": _add_unit("MINUTE"),
    "addSeconds": _add_unit("SECOND"),
    "subtractYears": _add_unit("YEAR", "-"),
    "subtractMonths": _add_unit("MONTH", "-"),
    "subtractWeeks": _add_unit("WEEK", "-"),
    "subtractDays": _add_unit("DAY", "-"),
    "subtractHours": _add_unit("HOUR", "-"),
    "subtractMinutes": _add_unit("MINUTE", "-"),
    "subtractSeconds": _add_unit("SECOND", "-"),
    "now": _rename("current_timestamp"),
    "today": _rename("current_date"),
    "yesterday": lambda a: "date_sub(current_date(), 1)",
    "currentDatabase": _rename("current_database"),
    "currentUser": _rename("current_user"),
    "generateUUIDv4": _rename("uuid"),
    # ClickHouse rand() is uniform over the UInt32 range.  The Spark
    # spelling must be `random` (the rand alias), NOT `rand`: a rule
    # whose output contains its own spelling re-matches on the next
    # rewriter pass and the loop never terminates (caught by the
    # all-spellings execution smoke).
    "rand": lambda a: "CAST(random() * 4294967295 AS BIGINT)",
    "e": lambda a: "exp(1)" if not a else None,
    "isNaN": _rename("isnan"),
    # arithmetic / bits
    "intDiv": _tpl("({0} DIV {1})"),
    "modulo": _tpl("({0} % {1})"),
    "plus": _tpl("({0} + {1})"),
    "minus": _tpl("({0} - {1})"),
    "multiply": _tpl("({0} * {1})"),
    "divide": _tpl("({0} / {1})"),
    "negate": _tpl("(-{0})"),
    "bitAnd": _tpl("({0} & {1})"),
    "bitOr": _tpl("({0} | {1})"),
    "bitXor": _tpl("({0} ^ {1})"),
    "bitNot": _tpl("(~{0})"),
    "bitShiftLeft": _rename("shiftleft"),
    "bitShiftRight": _rename("shiftright"),
    "bitCount": _rename("bit_count"),
    # round 3: array search / reshape (ClickHouse puts the lambda first)
    "arrayCount": lambda a: (
        f"size(filter({a[0]}, _x -> _x != 0))"
        if len(a) == 1
        else f"size(filter({a[1]}, {a[0]}))"
        if len(a) == 2
        else None
    ),
    # get() is 0-based and NULL out-of-bounds — ANSI-safe on empty matches.
    # DOCUMENTED DIVERGENCE: when no element matches, ClickHouse returns
    # the element type's default value (0, '', …) while this returns
    # NULL — the type isn't visible at rewrite time, so a faithful
    # default can't be synthesized; wrap in coalesce at the call site if
    # the downstream expression can't absorb NULL.
    "arrayFirst": lambda a: (
        f"get(filter({a[1]}, {a[0]}), 0)" if len(a) == 2 else None
    ),
    "arrayLast": lambda a: (
        f"get(reverse(filter({a[1]}, {a[0]})), 0)" if len(a) == 2 else None
    ),
    # array_position returns 0 when absent — same convention as ClickHouse
    "arrayFirstIndex": lambda a: (
        f"array_position(transform({a[1]}, {a[0]}), true)" if len(a) == 2 else None
    ),
    "arrayReverseSort": lambda a: (
        f"reverse(array_sort({a[0]}))" if len(a) == 1 else None
    ),
    # round 4: array reshaping / enumeration
    # consecutive-dup collapse: keep element 0 and every element that
    # differs from its predecessor (0-based subscript = predecessor)
    "arrayCompact": lambda a: (
        f"filter({a[0]}, (_x, _i) -> _i = 0 OR NOT (_x <=> {a[0]}[_i - 1]))"
        if len(a) == 1
        else None
    ),
    # dense first-appearance ranks (array_distinct preserves first-
    # occurrence order, array_position is 1-based — same as ClickHouse)
    "arrayEnumerateDense": lambda a: (
        f"transform({a[0]}, _x -> array_position(array_distinct({a[0]}), _x))"
        if len(a) == 1
        else None
    ),
    # first element 0, then pairwise deltas (ClickHouse semantics)
    "arrayDifference": lambda a: (
        f"transform({a[0]}, (_x, _i) -> CASE WHEN _i = 0 THEN _x - _x "
        f"ELSE _x - {a[0]}[_i - 1] END)"
        if len(a) == 1
        else None
    ),
    # O(n²) per row but arrays are row-local; the distributed explode+
    # window form lives in operators/scalars.py (scalar_array_cumsum_diff)
    "arrayCumSum": lambda a: (
        f"transform({a[0]}, (_x, _i) -> aggregate(slice({a[0]}, 1, _i + 1), "
        f"CAST(0 AS DOUBLE), (_a, _b) -> _a + _b))"
        if len(a) == 1
        else None
    ),
    "arrayProduct": lambda a: (
        f"aggregate({a[0]}, CAST(1 AS DOUBLE), (_a, _b) -> _a * _b)"
        if len(a) == 1
        else None
    ),
    "emptyArrayString": lambda a: (
        "CAST(array() AS ARRAY<STRING>)" if not a else None
    ),
    # ClickHouse range(n): [0..n) — guard the empty case (Spark's
    # sequence() would count DOWN for start > stop).  ONLY the 1-arg
    # form rewrites: 2-arg range(start, end) is also DuckDB spelling
    # (the oracle-safety property — rewriter must stay inert on oracle
    # SQL, pinned by test_rewriter_fixed_point_and_oracle_safety) and
    # `FROM range(...)` is Spark's table-valued function (guarded in
    # rewrite_functions).
    "range": lambda a: (
        f"(CASE WHEN {a[0]} <= 0 THEN CAST(array() AS ARRAY<BIGINT>) "
        f"ELSE sequence(CAST(0 AS BIGINT), CAST({a[0]} AS BIGINT) - 1) END)"
        if len(a) == 1
        else None
    ),
    # round 4: bits / time / maps / geo
    "bitTest": lambda a: (
        f"(shiftright({a[0]}, CAST({a[1]} AS INT)) & 1)" if len(a) == 2 else None
    ),
    "toStartOfFifteenMinutes": _tpl(
        "timestamp_seconds(CAST(floor(unix_timestamp({0}) / 900) * 900 AS BIGINT))"
    ),
    "toStartOfTenMinutes": _tpl(
        "timestamp_seconds(CAST(floor(unix_timestamp({0}) / 600) * 600 AS BIGINT))"
    ),
    # ClickHouse timeDiff(t1, t2) = t2 − t1 in whole seconds
    "timeDiff": _tpl("(unix_timestamp({1}) - unix_timestamp({0}))"),
    "mapContains": _rename("map_contains_key"),
    # haversine on ClickHouse's sphere radius (6372797.560856 m);
    # geoDistance's ellipsoid correction is approximated by the same
    # formula — documented divergence ≤0.5% (the correction factor)
    "greatCircleDistance": lambda a: (_haversine(a) if len(a) == 4 else None),
    "geoDistance": lambda a: (_haversine(a) if len(a) == 4 else None),
    # "1.23 million"-style humanized quantities
    # ClickHouse prints FIXED two decimals at every tier ('1.50
    # million'), like formatReadableSize below — round+CAST dropped
    # trailing zeros (execution-smoke catch); format_number keeps them.
    # The mantissa is < 1000 at every tier EXCEPT trillion (the top
    # tier is unbounded: 1e15 → mantissa 1000), where format_number's
    # thousands separator must be stripped — ClickHouse prints
    # '1234.56 trillion', not '1,234.56 trillion' (ADVICE r6)
    "formatReadableQuantity": lambda a: (
        f"(CASE WHEN abs({a[0]}) >= 1e12 THEN "
        f"concat(replace(format_number({a[0]} / 1e12, 2), ',', '')"
        f", ' trillion') "
        f"WHEN abs({a[0]}) >= 1e9 THEN concat(format_number({a[0]} / 1e9, 2)"
        f", ' billion') "
        f"WHEN abs({a[0]}) >= 1e6 THEN concat(format_number({a[0]} / 1e6, 2)"
        f", ' million') "
        f"WHEN abs({a[0]}) >= 1e3 THEN concat(format_number({a[0]} / 1e3, 2)"
        f", ' thousand') "
        f"ELSE CAST({a[0]} AS STRING) END)"
        if len(a) == 1
        else None
    ),
    # "1.50 KiB"-style humanized byte sizes: ClickHouse prints FIXED
    # two decimals at every tier ('12.00 B', '1.50 KiB') and scales
    # through PiB/EiB — format_string('%.2f') reproduces the exact
    # string (ADVICE r2)
    "formatReadableSize": lambda a: (
        f"(CASE "
        f"WHEN abs({a[0]}) >= 1152921504606846976 THEN "
        f"concat(format_string('%.2f', {a[0]} / 1152921504606846976), ' EiB') "
        f"WHEN abs({a[0]}) >= 1125899906842624 THEN "
        f"concat(format_string('%.2f', {a[0]} / 1125899906842624), ' PiB') "
        f"WHEN abs({a[0]}) >= 1099511627776 THEN "
        f"concat(format_string('%.2f', {a[0]} / 1099511627776), ' TiB') "
        f"WHEN abs({a[0]}) >= 1073741824 THEN "
        f"concat(format_string('%.2f', {a[0]} / 1073741824), ' GiB') "
        f"WHEN abs({a[0]}) >= 1048576 THEN "
        f"concat(format_string('%.2f', {a[0]} / 1048576), ' MiB') "
        f"WHEN abs({a[0]}) >= 1024 THEN "
        f"concat(format_string('%.2f', {a[0]} / 1024), ' KiB') "
        f"ELSE concat(format_string('%.2f', CAST({a[0]} AS DOUBLE)), ' B') "
        f"END)"
        if len(a) == 1
        else None
    ),
    "arrayResize": lambda a: (
        f"slice(concat({a[0]}, array_repeat("
        f"{a[2].strip() if len(a) == 3 else 'NULL'}, "
        f"greatest(CAST({a[1]} AS INT) - size({a[0]}), 0))), 1, CAST({a[1]} AS INT))"
        if len(a) in (2, 3)
        else None
    ),
    # round 3: strings
    "countSubstrings": lambda a: (
        f"CAST((length({a[0]}) - length(replace({a[0]}, {a[1]}, ''))) "
        f"/ length({a[1]}) AS BIGINT)"
        if len(a) == 2
        else None
    ),
    "multiSearchAny": lambda a: (
        f"exists({a[1]}, _n -> contains({a[0]}, _n))" if len(a) == 2 else None
    ),
    "substringIndex": _rename("substring_index"),
    "splitByWhitespace": lambda a: (
        f"split(trim({a[0]}), '\\\\s+')" if len(a) == 1 else None
    ),
    # round 3: rounding / guarded arithmetic
    "roundBankers": _rename("bround"),
    "intDivOrZero": lambda a: (
        f"(CASE WHEN {a[1]} = 0 THEN 0 ELSE {a[0]} DIV {a[1]} END)"
        if len(a) == 2
        else None
    ),
    "moduloOrZero": lambda a: (
        f"(CASE WHEN {a[1]} = 0 THEN 0 ELSE {a[0]} % {a[1]} END)"
        if len(a) == 2
        else None
    ),
    # round 3: value mapping — ClickHouse transform(x, from, to[, default]).
    # ONLY the 3/4-arg form rewrites; 2-arg Spark higher-order transform()
    # passes through untouched.  array_position (FIRST occurrence) not
    # map_from_arrays: a duplicate key in `from` must take the first
    # match (a map build would throw DUPLICATE_MAP_KEY), and a NULL in
    # `to` must map to NULL (a coalesce would mask it into the default).
    # x is evaluated twice — acceptable for the scalar/column args this
    # sees; wrap the call site if x has side effects.
    "transform": lambda a: (
        f"(CASE WHEN array_position({a[1]}, {a[0]}) > 0 "
        f"THEN element_at({a[2]}, CAST(array_position({a[1]}, {a[0]}) AS INT)) "
        f"ELSE {a[3].strip() if len(a) == 4 else a[0]} END)"
        if len(a) in (3, 4)
        else None
    ),
    # round 3: dates
    "age": lambda a: (
        f"timestampdiff({a[0].strip()[1:-1].upper()}, {a[1]}, {a[2]})"
        if len(a) == 3 and a[0].strip().startswith("'")
        else None
    ),
    # ClickHouse timeSlot: floor to the half-hour
    "timeSlot": lambda a: (
        f"timestamp_seconds(CAST(floor(unix_timestamp({a[0]}) / 1800) "
        f"* 1800 AS BIGINT))"
        if len(a) == 1
        else None
    ),
    "toRelativeDayNum": _tpl("datediff(CAST({0} AS DATE), DATE'1970-01-01')"),
    "toRelativeHourNum": _tpl("CAST(floor(unix_timestamp({0}) / 3600) AS BIGINT)"),
    "toRelativeMinuteNum": _tpl("CAST(floor(unix_timestamp({0}) / 60) AS BIGINT)"),
    "toLastDayOfMonth": _rename("last_day"),
    # ISO week/year: Spark's weekofyear/YEAROFWEEK are ISO-8601 already
    "toISOWeek": _rename("weekofyear"),
    "toISOYear": _tpl("extract(YEAROFWEEK FROM {0})"),
    # ClickHouse toWeek defaults to MODE 0 (Sunday-first, weeks 0-53),
    # NOT ISO — weekofyear would silently shift week numbers (e.g.
    # toWeek('2021-01-01') = 0 vs weekofyear = 53).  Mode 0 formula:
    # offset = days before the year's first Sunday; week =
    # floor((doy - offset + 6) / 7)  (0 for days before that Sunday).
    # Explicit mode 3 = ISO → weekofyear; other modes decline
    # (passthrough) rather than translate wrongly.
    "toWeek": lambda a: (
        _WEEK_MODE0_TPL.format(a[0])
        if len(a) == 1 or (len(a) == 2 and a[1].strip() == "0")
        else f"weekofyear({a[0]})"
        if len(a) == 2 and a[1].strip() == "3"
        else None
    ),
    "toYYYYMMDDhhmmss": _tpl("CAST(date_format({0}, 'yyyyMMddHHmmss') AS BIGINT)"),
    "addQuarters": _add_unit("QUARTER"),
    "subtractQuarters": _add_unit("QUARTER", "-"),
    # toInterval*: ClickHouse interval constructors → make_interval
    # (usable in +/- date arithmetic on both sides)
    "toIntervalYear": _tpl("make_interval({0})"),
    "toIntervalMonth": _tpl("make_interval(0, {0})"),
    "toIntervalWeek": _tpl("make_interval(0, 0, {0})"),
    "toIntervalDay": _tpl("make_interval(0, 0, 0, {0})"),
    "toIntervalHour": _tpl("make_interval(0, 0, 0, 0, {0})"),
    "toIntervalMinute": _tpl("make_interval(0, 0, 0, 0, 0, {0})"),
    "toIntervalSecond": _tpl("make_interval(0, 0, 0, 0, 0, 0, {0})"),
    # round 3: window-function aliases (ClickHouse's in-frame variants —
    # Spark's lag/lead are frame-insensitive, the common usage matches)
    "lagInFrame": _rename("lag"),
    "leadInFrame": _rename("lead"),
    # round 3: case-insensitive / regex search
    "positionCaseInsensitive": lambda a: (
        f"locate(lower({a[1]}), lower({a[0]}))" if len(a) == 2 else None
    ),
    "countMatches": lambda a: (
        f"size(regexp_extract_all({a[0]}, {a[1]}, 0))" if len(a) == 2 else None
    ),
    # ClickHouse extract(haystack, re) — returns the FIRST CAPTURING
    # GROUP when the pattern has one, else the whole match; the
    # standard-SQL extract(unit FROM ts) form scans as ONE arg and
    # passes through.  Group detection inspects string-literal patterns
    # for an unescaped '(' not starting a (?...) construct; non-literal
    # patterns default to whole-match (documented).
    "extract": lambda a: (
        f"regexp_extract({a[0]}, {a[1]}, {_regex_group_index(a[1])})"
        if len(a) == 2
        else None
    ),
    "ilike": lambda a: (
        f"(lower({a[0]}) LIKE lower({a[1]}))" if len(a) == 2 else None
    ),
    "notLike": lambda a: (
        f"(NOT {a[0]} LIKE {a[1]})" if len(a) == 2 else None
    ),
    # set-Jaccard of two arrays (array_intersect/union already dedupe)
    "arrayJaccardIndex": lambda a: (
        f"(size(array_intersect({a[0]}, {a[1]})) "
        f"/ CAST(size(array_union({a[0]}, {a[1]})) AS DOUBLE))"
        if len(a) == 2
        else None
    ),
    "dateName": lambda a: (
        (
            lambda unit: (
                f"date_format({a[1]}, '{_DATE_NAME_FMT[unit]}')"
                if unit in _DATE_NAME_FMT
                else None
            )
        )(a[0].strip().strip("'").lower())
        if len(a) == 2 and a[0].strip().startswith("'")
        else None
    ),
    # round 5: string / array / json / time gaps
    # splitByString: non-regex separator → \Q…\E-quote it for Spark's
    # regex-based split (works for literal AND computed separators)
    "splitByString": _tpl("split({1}, concat('\\\\Q', {0}, '\\\\E'))"),
    # replaceOne: first occurrence only — overlay at locate(), guarded
    # for the not-found case (ClickHouse returns the input unchanged)
    "replaceOne": _tpl(
        "(CASE WHEN locate({1}, {0}) = 0 THEN {0} "
        "ELSE overlay({0} PLACING {2} FROM locate({1}, {0}) FOR length({1})) END)"
    ),
    "JSONHas": lambda a: (
        None
        if len(a) != 2 or not a[1].strip().startswith("'")
        else f"(get_json_object({a[0]}, '$.{a[1].strip()[1:-1]}') IS NOT NULL)"
    ),
    "dateSub": lambda a: (
        f"timestampadd({a[0].strip().strip(chr(39) + chr(34)).upper()}, -({a[1]}), {a[2]})"
        if len(a) == 3
        else None
    ),
    "base64Encode": _rename("base64"),
    "base64Decode": _tpl("CAST(unbase64({0}) AS STRING)"),
    "hasAll": _tpl("(size(array_except({1}, {0})) = 0)"),
    "hasAny": _rename("arrays_overlap"),
    "toModifiedJulianDay": _tpl("datediff({0}, DATE '1858-11-17')"),
    "now64": lambda a: "current_timestamp()" if len(a) <= 1 else None,
    # `random`, not `rand` — see the "rand" rule's self-match note
    "rand64": lambda a: (
        "CAST(random() * 9223372036854775807 AS BIGINT)" if not a else None
    ),
}

# dateName('unit', t) → date_format pattern (string-valued, like ClickHouse)
_DATE_NAME_FMT = {
    "year": "yyyy",
    "month": "MMMM",
    "weekday": "EEEE",
    "dayofmonth": "d",
    "hour": "H",
    "minute": "m",
    "second": "s",
}
del RULES["length"]  # identity — no rewrite needed, avoid useless loop work

def _param_percentile(params: list[str], args: list[str]) -> str:
    x = ", ".join(args)
    p = params[0] if params else "0.5"
    return f"percentile({x}, {p})"


def _param_quantiles(params: list[str], args: list[str]) -> str:
    x = ", ".join(args)
    parts = ", ".join(f"percentile({x}, {p})" for p in params)
    return f"array({parts})"


# parametric aggregates: name(params)(args) → Spark expression
_PARAMETRIC: dict[str, Callable[[list[str], list[str]], str]] = {
    "quantile": _param_percentile,
    "quantileExact": _param_percentile,
    "median": _param_percentile,
    "medianExact": _param_percentile,
    "quantiles": _param_quantiles,
    # ClickHouse's t-digest quantile is approximate — so is Spark's
    "quantileTDigest": lambda p, a: (
        f"approx_percentile({', '.join(a)}, {p[0] if p else '0.5'})"
    ),
    # uniqUpTo(N): exact distinct count, saturating at N+1 (ClickHouse
    # default N=5)
    "uniqUpTo": lambda p, a: (
        f"least(count(DISTINCT {', '.join(a)}), {(int(p[0]) if p else 5) + 1})"
    ),
    # groupArray(N): first N collected values (collect order caveat as
    # for the plain form)
    "groupArray": lambda p, a: (
        f"slice(collect_list({', '.join(a)}), 1, {int(p[0])})"
    ),
    # timing/deterministic quantile variants: ClickHouse's are
    # approximation strategies of the same statistic — exact percentile
    # is a strict upgrade; quantileDeterministic's determinator arg is
    # dropped (exact needs no tie-breaking seed)
    "quantileTiming": lambda p, a: (
        f"percentile({a[0]}, {p[0] if p else '0.5'})"
    ),
    "quantileDeterministic": lambda p, a: (
        f"percentile({a[0]}, {p[0] if p else '0.5'})"
    ),
    # -If forms of the parametric quantiles: gate the value column
    "quantileIf": lambda p, a: (
        f"percentile(CASE WHEN {a[1]} THEN {a[0]} END, {p[0] if p else '0.5'})"
    ),
    "quantileExactIf": lambda p, a: (
        f"percentile(CASE WHEN {a[1]} THEN {a[0]} END, {p[0] if p else '0.5'})"
    ),
    # groupArraySample(N[, seed]): ClickHouse samples randomly; mapped to
    # the first-N slice — deterministic, documented divergence (use the
    # engine's hash-based sampling operators for reproducible samples)
    "groupArraySample": lambda p, a: (
        f"slice(collect_list({', '.join(a)}), 1, {int(p[0])})"
    ),
}

_IDENT_RE = re.compile(r"(?<![\w.`'])([A-Za-z_][A-Za-z0-9_]*)\s*\(")
# a literal-start bracket: not element access after an identifier,
# a closing paren or bracket, or a quoted name
_ARRAY_LITERAL_RE = re.compile(r"(?<![\w)\]`'])\[")


def _rewrite_array_literals(sql: str) -> str:
    """ClickHouse ``[a, b, …]`` array literals → Spark ``array(a, b, …)``.

    Only literal-START brackets rewrite: a ``[`` immediately preceded
    by an identifier character, ``)`` or ``]`` is element ACCESS
    (``arr[1]``) and is left untouched — ClickHouse indexing is
    1-based while Spark's bracket access is 0-based, so silent
    translation would be wrong; use ``arrayElement`` → ``element_at``
    (both 1-based) for portable indexing."""
    while "[" in sql:
        depths = _depths(sql)  # -1 marks a lexer span
        start = next(
            (m.start() for m in _ARRAY_LITERAL_RE.finditer(sql) if depths[m.start()] >= 0),
            None,
        )
        if start is None:
            return sql
        end = _top_level(_COMMA_RE, sql, start + 1, depths)[1]
        if end == len(sql) or sql[end] != "]":
            return sql  # unbalanced — leave for Spark's parser to report
        sql = sql[:start] + "array(" + sql[start + 1 : end] + ")" + sql[end + 1 :]
    return sql


_TABLE_VALUED_AMBIGUOUS = {"range"}


# depth-0 keywords recognized by the uniqArray structural rewrite; any
# depth-0 keyword OUTSIDE the allowed subset (JOIN, UNION, HAVING,
# OVER, DISTINCT, LATERAL …) makes the statement fall back to the
# buffering template
_UA_CLAUSE_RE = re.compile(
    r"\b(SELECT|FROM|WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|UNION"
    r"|JOIN|OVER|DISTINCT|LATERAL)\b",
    re.I,
)
_UA_ALLOWED = ("SELECT", "FROM", "WHERE", "GROUP BY", "ORDER BY", "LIMIT")


def _rewrite_uniq_array_context(sql: str) -> str:
    """Context-aware ``uniqArray`` rewrite (VERDICT r5 #3): when the
    statement is a plain single-table aggregate in which ``uniqArray``
    is the ONLY aggregate expression (every other select item is a
    group key), emit

        SELECT keys…, count(DISTINCT _ua_el) AS alias
        FROM (SELECT *, explode_outer(arg) AS _ua_el FROM t [WHERE …])
        GROUP BY … [ORDER BY …] [LIMIT …]

    — the shuffle-not-buffer shape: per-group state is the
    count-distinct hash set partitioned across executors, so a group
    whose distinct-element union exceeds executor memory no longer
    cliffs (the ``collect_set`` template buffers that union in ONE
    aggregation buffer).  ``explode_outer`` (not ``explode``) keeps
    groups whose arrays are all empty/NULL: they surface one NULL
    element which ``count(DISTINCT)`` ignores → count 0, group
    retained — exactly the template's semantics.

    Any shape this scanner cannot PROVE safe — joins, unions, HAVING,
    window functions, other aggregates alongside, subqueries in FROM,
    table-qualified column references, a missing alias — falls back to
    the documented-bound buffering template (the two forms are exactly
    equivalent, including NULL-element handling)."""
    if "uniqArray" not in sql:
        return sql
    clauses = [
        (re.sub(r"\s+", " ", m.group(1).upper()), m.start(), m.end())
        for m in _top_level(_UA_CLAUSE_RE, sql)[0]
    ]
    order = [c[0] for c in clauses]
    if (
        not order
        or order[0] != "SELECT"
        # the statement must BEGIN at the depth-0 SELECT: a WITH/CTE
        # prefix (or anything else) before it would be silently dropped
        # by the span reassembly below
        or sql[: clauses[0][1]].strip()
        or "FROM" not in order
        or any(kw not in _UA_ALLOWED for kw in order)
        or len(set(order)) != len(order)
        or [_UA_ALLOWED.index(k) for k in order]
        != sorted(_UA_ALLOWED.index(k) for k in order)
    ):
        return sql
    spans: dict[str, str] = {}
    for j, (kw, _s, b) in enumerate(clauses):
        e = clauses[j + 1][1] if j + 1 < len(clauses) else len(sql)
        spans[kw] = sql[b:e].strip()
    table = spans["FROM"]
    if not re.fullmatch(r"[\w.`]+", table):
        return sql
    # qualified references (t.col) would dangle once the source is
    # wrapped in the _ua_src subquery — bail
    bare = table.strip("`").split(".")[-1]
    if re.search(rf"\b{re.escape(bare)}\s*\.", sql):
        return sql
    sel_end = next(s for kw, s, _b in clauses if kw == "FROM")
    items = [p.strip() for p in _split_top(sql[clauses[0][2] : sel_end])]
    ua_items = [i for i, it in enumerate(items) if "uniqArray" in it]
    if len(ua_items) != 1:
        return sql
    idx = ua_items[0]
    head = re.match(r"uniqArray\s*\(", items[idx])
    if not head:
        return sql
    try:
        args, end = _scan_args(items[idx], head.end())
    except ValueError:
        return sql
    alias_m = re.fullmatch(r"\s*AS\s+([A-Za-z_]\w*)\s*", items[idx][end:], re.I)
    if len(args) != 1 or not alias_m:
        return sql
    # the inner subquery introduces `_ua_el`; if the statement already
    # mentions that name (or the table could carry such a column that
    # the query references), the rewrite would be ambiguous — bail
    # (ADVICE r6 #3)
    if "_ua_el" in sql:
        return sql

    def _norm(e: str) -> str:
        return re.sub(r"\s+", " ", e).strip().lower()

    others = [it for i, it in enumerate(items) if i != idx]
    sel_aliases: set[str] = {_norm(alias_m.group(1))}
    if "GROUP BY" in spans:
        keys = {_norm(k) for k in _split_top(spans["GROUP BY"])}
        for it in others:
            am = re.match(r"(?is)^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", it)
            expr, al = (am.group(1), am.group(2)) if am else (it, None)
            if al is not None:
                sel_aliases.add(_norm(al))
            if _norm(expr) in keys:
                continue
            # alias-only match: `sum(v) AS k … GROUP BY k` shadows a
            # base column — explode_outer would silently inflate the
            # sum (ADVICE r6 #1).  Accept the alias path only when the
            # expression provably contains no function call at all.
            if al is not None and _norm(al) in keys and "(" not in expr:
                continue
            return sql  # a non-key item: another aggregate — bail
    elif others:
        return sql
    else:
        keys = set()
    if "ORDER BY" in spans:
        # the ORDER BY span is re-attached to the REWRITTEN (grouped)
        # query verbatim; an aggregate there (`ORDER BY count(*)`)
        # would then evaluate over exploded rows and, with LIMIT,
        # change the returned set (ADVICE r6 #2).  Accept only sort
        # items that are a group key, a select alias, or an ordinal.
        for ob in _split_top(spans["ORDER BY"]):
            core = re.sub(
                r"(?i)\s+(ASC|DESC)\s*$",
                "",
                re.sub(r"(?i)\s+NULLS\s+(FIRST|LAST)\s*$", "", ob.strip()),
            ).strip()
            if (
                _norm(core) not in keys
                and _norm(core) not in sel_aliases
                and not re.fullmatch(r"\d+", core)
            ):
                return sql
    inner = f"SELECT *, explode_outer({args[0]}) AS _ua_el FROM {table}"
    if "WHERE" in spans:
        inner += f" WHERE {spans['WHERE']}"
    out_items = list(items)
    out_items[idx] = f"count(DISTINCT _ua_el) AS {alias_m.group(1)}"
    out = f"SELECT {', '.join(out_items)} FROM ({inner}) _ua_src"
    for kw in ("GROUP BY", "ORDER BY", "LIMIT"):
        if kw in spans:
            out += f" {kw} {spans[kw]}"
    return out


def rewrite_functions(sql: str) -> str:
    """Translate ClickHouse function spellings in ``sql`` to Spark SQL.

    Pure string transformation; quote-aware (never rewrites inside
    ``'…'`` literals or backtick identifiers); applies repeatedly so
    nested calls resolve inside-out.  Unknown names pass through
    untouched — Spark raises its own error for genuinely unsupported
    functions, with the original spelling intact.
    """
    sql = _rewrite_array_literals(sql)
    sql = _rewrite_uniq_array_context(sql)
    progress = True
    # Termination backstop: each pass rewrites one call, so a statement
    # can need at most ~its own length in passes.  A rule whose OUTPUT
    # re-matches a spelling (the round-6 `rand` bug) would otherwise
    # loop forever growing the string — cap and return what we have
    # (Spark reports any leftover spelling with a clear error).
    budget = 200 + len(sql)
    while progress:
        budget -= 1
        if budget < 0:
            return sql
        progress = False
        depths = _depths(sql)
        for m in _IDENT_RE.finditer(sql):
            if depths[m.start(1)] < 0:  # inside a lexer span
                continue
            name = m.group(1)
            if name not in RULES and name not in _PARAMETRIC:
                continue
            if name in _TABLE_VALUED_AMBIGUOUS:
                # `FROM range(10)` is Spark's table-valued function —
                # only the scalar/array usage (inside expressions) is a
                # ClickHouse spelling to translate
                prev = re.search(r"([A-Za-z_]+)\s*$", sql[: m.start()])
                if prev and prev.group(1).upper() in ("FROM", "JOIN"):
                    continue
            args, end = _scan_args(sql, m.end(), depths)
            rest = sql[end:]
            stripped = rest.lstrip()
            # a rule that raises on malformed arity/params DECLINES the
            # call (Spark reports the error with the original spelling) —
            # a malformed user statement must never crash the rewriter
            try:
                if name in _PARAMETRIC and stripped.startswith("("):
                    # name(params)(args) — the combinator form
                    inner_start = end + (len(rest) - len(stripped)) + 1
                    inner_args, end = _scan_args(sql, inner_start, depths)
                    repl = _PARAMETRIC[name](args, inner_args)
                elif name in RULES:
                    maybe = RULES[name](args)
                    if maybe is None:
                        continue
                    repl = maybe
                else:
                    # bare form of a parametric aggregate: ClickHouse
                    # defaults apply (quantile/median → p=0.5, uniqUpTo → 5)
                    repl = _PARAMETRIC[name]([], args)
            except (IndexError, KeyError, TypeError, ValueError):
                continue
            sql = sql[: m.start()] + repl + sql[end:]
            progress = True
            break
    return sql
