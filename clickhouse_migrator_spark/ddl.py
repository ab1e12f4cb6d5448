"""ClickHouse-dialect DDL/DML → Spark translation.

The reference passes user migration SQL verbatim to a ClickHouse server
(`/root/reference/clickhouse_migrate/migrate.py:52,59`); Catalyst cannot
parse ClickHouse DDL, so this module is the one string-level dialect
shim the engine needs (SURVEY.md §2.C C1–C3, §4).  It is deliberately
tiny and test-pinned:

- ``CREATE TABLE``: map ClickHouse types → Spark types, strip/record
  ``ENGINE``/``PARTITION BY``/``ORDER BY`` clauses.  A column
  ``DEFAULT`` that is one literal stays as ``DEFAULT CAST(<value> AS
  T)``, where the value is what ClickHouse stores (the zero date is the
  epoch, an out-of-range integer wraps), so INSERTs that omit the
  column get it.  A literal Spark still cannot cast and any other
  ``DEFAULT`` are dropped (Spark defaults must be constants), as are
  ``CODEC``, column ``TTL`` and ``INDEX`` items.
- ``ALTER TABLE … ADD COLUMN c T [DEFAULT <literal>]``: metadata only,
  one Spark ``ADD COLUMNS`` with the stored value as a Spark column
  default (``metadata_only``); a literal Spark cannot cast raises
  ``ValueError``.  An expression ``DEFAULT`` (Spark defaults must be
  constants): copy-on-write ``withColumn(expr.cast(T))`` + atomic
  table swap.
- ``ALTER TABLE … UPDATE c=e WHERE p`` / ``… DELETE WHERE p``
  (ClickHouse's asynchronous "mutations"): copy-on-write rewrite.
  Spark execution is synchronous, which subsumes the reference's
  ``pipelined`` mutation barrier (`migrate.py:56-71`) — statement N+1
  can never observe statement N half-applied.

Unsigned integers: Spark has no unsigned types; ``UInt8/16/32 → INT/
BIGINT`` map to the next WIDER signed type, and a negative integer
``DEFAULT`` on an unsigned column wraps modulo 2^bits at translation
time (``UInt32 DEFAULT -1`` → 4294967295 — matching ClickHouse's
two's-complement reinterpretation, relied on by the reference's
``V1_sequential_dmls.json``).  ``UInt64`` keeps signed semantics (the
wrapped value would overflow BIGINT; documented divergence — SURVEY.md
§1.2 — no reference test depends on it).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from decimal import Decimal

from .functions.select_funcs import _COMMA_RE, _blank, _lex_spans, _split_top, _top_level

TYPE_MAP = {
    "UInt8": "SMALLINT",
    "UInt16": "INT",
    "UInt32": "BIGINT",
    "UInt64": "BIGINT",
    "Int8": "TINYINT",
    "Int16": "SMALLINT",
    "Int32": "INT",
    "Int64": "BIGINT",
    "Float32": "FLOAT",
    "Float64": "DOUBLE",
    "String": "STRING",
    "FixedString": "STRING",
    "Date": "DATE",
    "DateTime64": "TIMESTAMP",
    "DateTime": "TIMESTAMP",
    "Bool": "BOOLEAN",
    "UUID": "STRING",
}

_TYPE_RE = re.compile(
    r"\b(" + "|".join(sorted(TYPE_MAP, key=len, reverse=True)) + r")\b(\(\d+\))?"
)
# One level of nested parens inside a container's type argument —
# `Nullable(DateTime64(3))`, `Array(Decimal(10, 2))`, `Map(String,
# FixedString(16))` are everyday ClickHouse DDL; the old paren-free
# `[^()]*?` inner silently left the wrapper in place and emitted
# invalid Spark DDL like `Nullable(TIMESTAMP)` (round-6 coverage-audit
# catch).  Deeper nesting resolves through the fixpoint loop in
# :func:`map_types` (innermost container matches first, then its
# parent sees one level again).
_INNER = r"[^()]*(?:\([^()]*\)[^()]*)*?"
# wrapper types: Nullable(T) → T (Spark columns are nullable by default),
# LowCardinality(T) → T (a ClickHouse storage hint; Spark's parquet
# dictionary encoding is the equivalent and automatic)
_WRAPPER_RE = re.compile(rf"\b(?:Nullable|LowCardinality)\(\s*({_INNER})\s*\)")
_ENUM_RE = re.compile(r"\bEnum(?:8|16)?\s*\([^)]*\)")
_DECIMAL_RE = re.compile(r"\bDecimal(?:32|64|128)?\s*\(")
_ARRAY_RE = re.compile(rf"\bArray\(\s*({_INNER})\s*\)")
_MAP_RE = re.compile(rf"\bMap\(\s*([^(),]*?)\s*,\s*({_INNER})\s*\)")
# unnamed Tuple(T1, T2) → STRUCT<_1: T1, _2: T2>; named
# Tuple(a T1, b T2) → STRUCT<a: T1, b: T2>
_TUPLE_RE = re.compile(rf"\bTuple\(\s*({_INNER})\s*\)")
# statements with no Spark referent, each a documented no-op (``SELECT
# 1``): data-skipping index and projection maintenance (parquet footer
# min/max and bloom filters subsume indexes; Catalyst plans from the
# one layout), MODIFY/RESET SETTING (CREATE-time SETTINGS are dropped),
# FREEZE (object-store versioning subsumes snapshots) and FETCH (there
# are no replicas), KILL (mutations are synchronous, so KILL MUTATION
# targets an empty set — see migrate.pipelined) and SYSTEM
# STOP/START/FLUSH/RELOAD (no merges, replication queues or caches)
_NOOP_RE = re.compile(
    r"^\s*(?:ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+(?:(?:ADD|DROP|CLEAR|MATERIALIZE)\s+"
    r"(?:INDEX|PROJECTION)|(?:MODIFY|RESET)\s+SETTING|(?:UN)?FREEZE|FETCH)\b"
    r"|KILL\s+(?:MUTATION|QUERY)\b|SYSTEM\s+(?:STOP|START|FLUSH|RELOAD)\s+\w+)",
    re.I,
)
_MODIFY_ORDER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+MODIFY\s+ORDER\s+BY\s+"
    r"(?P<e>.+?)\s*;?\s*$",
    re.I | re.S,
)
_MODIFY_SAMPLE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+MODIFY\s+SAMPLE\s+BY\s+"
    r"(?P<e>.+?)\s*;?\s*$",
    re.I | re.S,
)
_MODIFY_COMMENT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+MODIFY\s+COMMENT\s+"
    r"(?P<c>'.*')\s*;?\s*$",
    re.I | re.S,
)
_REMOVE_DEFAULT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+MODIFY\s+COLUMN\s+"
    r"(?:IF\s+EXISTS\s+)?(?P<col>[\w`]+)\s+REMOVE\s+DEFAULT\s*;?\s*$",
    re.I,
)


def _tuple_to_struct(m: "re.Match[str]") -> str:
    parts, depth, cur = [], 0, []
    for ch in m.group(1):
        # the fixpoint loop may already have mapped an inner container
        # to Spark's angle-bracket form (MAP<K, V>, ARRAY<T>,
        # STRUCT<…>) — its commas are nested too (hypothesis catch:
        # Tuple(Map(String, UInt8)) split inside the rewritten MAP<…>)
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    fields = []
    for i, p in enumerate(parts, 1):
        bits = p.split(None, 1)
        if len(bits) == 2 and re.match(r"^[a-z_]\w*$", bits[0]):  # named field
            fields.append(f"{bits[0]}: {bits[1]}")
        else:
            fields.append(f"_{i}: {p}")
    return "STRUCT<" + ", ".join(fields) + ">"


_LIT_SLOT_RE = re.compile("\x00(\\d+)\x00")


def _mask_literal_contents(
    sql: str, kinds: tuple[str, ...] = ("literal",)
) -> tuple[str, list[str]]:
    """Replace the CONTENT of every :func:`_lex_spans` span of ``kinds``
    (string literals unless told otherwise) with a ``\\x00i\\x00`` slot
    (quotes stay, so quote-expecting grammar still matches).  Type
    tokens, ENGINE/ORDER BY/PARTITION BY/WHERE keywords, commas, or
    parens inside a literal are DATA — the quote-blind scans rewrote
    ``DEFAULT 'a UInt32 b'`` and captured layout clauses out of
    ``DEFAULT 'ORDER BY x'`` (round-7 probe battery)."""
    lits: list[str] = []
    out, last = [], 0
    for s, e, kind in _lex_spans(sql):
        if kind in kinds:
            out += [sql[last : s + 1], f"\x00{len(lits)}\x00"]
            lits.append(sql[s + 1 : e - 1])
            last = e - 1
    out.append(sql[last:])
    return "".join(out), lits


def _is_literal(text: str) -> bool:
    """Whether ``text`` is exactly one string literal."""
    return _lex_spans(text) == [(0, len(text), "literal")]


def _unmask_literal_contents(sql: str | None, lits: list[str]) -> str | None:
    if sql is None or not lits:
        return sql
    return _LIT_SLOT_RE.sub(lambda m: lits[int(m.group(1))], sql)


def map_types(sql: str) -> str:
    """Rewrite ClickHouse type tokens to Spark DDL types (including the
    wrapper types real-world DDL uses: Nullable / LowCardinality /
    Enum / Decimal / Array).  String-literal contents and backticked
    identifiers are never touched: `` `Date` Date `` keeps its name."""
    sql, lits = _mask_literal_contents(sql, ("literal", "ident"))
    prev = None
    while prev != sql:  # unwrap nested wrappers/containers to fixpoint
        prev = sql
        sql = _WRAPPER_RE.sub(lambda m: m.group(1), sql)
        sql = _ARRAY_RE.sub(lambda m: f"ARRAY<{m.group(1)}>", sql)
        sql = _MAP_RE.sub(lambda m: f"MAP<{m.group(1)}, {m.group(2)}>", sql)
        sql = _TUPLE_RE.sub(_tuple_to_struct, sql)
    sql = _ENUM_RE.sub("STRING", sql)  # enums → their string labels
    sql = _DECIMAL_RE.sub("DECIMAL(", sql)
    return _unmask_literal_contents(
        _TYPE_RE.sub(lambda m: TYPE_MAP[m.group(1)], sql), lits
    )


@dataclass
class Statement:
    """A classified, translated statement ready for the runner."""

    kind: str  # passthrough | create_table | add_column | cow_update | cow_delete
    sql: str  # translated SQL (passthrough/create_table) or original text
    table: str | None = None
    column: str | None = None
    col_type: str | None = None
    default: str | None = None
    assignments: list[tuple[str, str]] = field(default_factory=list)
    predicate: str | None = None
    order_by: str | None = None
    partition_by: str | None = None
    engine: str | None = None
    deduplicate: bool = False
    ttl: str | None = None
    rename_to: str | None = None
    if_exists: bool = False
    sample_by: str | None = None
    #: ADD COLUMN with no DEFAULT or a literal one: a catalog change only
    metadata_only: bool = False


_UINT_RE = re.compile(r"^\s*UInt(8|16|32)\s*$")


#: a ClickHouse literal a Spark column default can hold: a number
#: (optionally signed), a string (``''`` or backslash escapes), or NULL
_LITERAL_RE = re.compile(
    r"[+-]?(?:\d+\.?\d*|\.\d+)(?:e[+-]?\d+)?|'(?:[^'\\]|''|\\.)*'|NULL", re.I | re.S
)


_CREATE_RE = re.compile(r"^\s*CREATE\s+TABLE\s", re.I)
_RENAME_RE = re.compile(
    r"^\s*RENAME\s+TABLE\s+(?P<src>[\w.`]+)\s+TO\s+(?P<dst>[\w.`]+)\s*;?\s*$", re.I
)
_OPTIMIZE_RE = re.compile(r"^\s*OPTIMIZE\s+TABLE\s+(?P<table>[\w.`]+)", re.I)
_ADD_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+ADD\s+COLUMN\s+"
    r"(?:(?P<ifnex>IF\s+NOT\s+EXISTS)\s+)?(?P<col>[\w`]+)\s+(?P<type>\w+(?:\([^)]*\))?)"
    r"(?:\s+DEFAULT\s+(?P<default>.+?))?\s*;?\s*$",
    re.I | re.S,
)
_UPDATE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+UPDATE\s+(?P<assign>.+?)\s+"
    r"WHERE\s+(?P<pred>.+?)\s*;?\s*$",
    re.I | re.S,
)
_DELETE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+DELETE\s+WHERE\s+(?P<pred>.+?)\s*;?\s*$",
    re.I | re.S,
)
# a CREATE's layout clauses, each running to the next one; its CTAS
# query ends them all
_LAYOUT_RE = re.compile(
    r"\b(?P<kw>ENGINE|PARTITION\s+BY|ORDER\s+BY|PRIMARY\s+KEY|SAMPLE\s+BY|TTL|SETTINGS)\b"
    r"|(?P<ctas>\bAS\s+\(?\s*(?:SELECT|WITH)\b)",
    re.I,
)
_CREATE_HEAD_RE = re.compile(
    r"\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?:`(?:[^`\\]|\\.)*`|[^\s(])*\s*", re.I
)
_USING_RE = re.compile(r"\bUSING\s+\w+", re.I)
# a column item: its name, then its type up to the first option
_COL_NAME_RE = re.compile(r"\s*(?:`(?:[^`\\]|\\.)*`|\S+)")
_COL_OPTION_RE = re.compile(r"\s+(?P<kw>DEFAULT|COMMENT|CODEC|TTL)\b", re.I)
# inline data-skipping index definitions — parquet min/max + optional
# bloom filters subsume them
_INDEX_ITEM_RE = re.compile(r"\s*INDEX\s+\S+\s.*\bTYPE\s", re.I | re.S)
_MODIFY_TTL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+MODIFY\s+TTL\s+(?P<e>.+?)\s*;?\s*$",
    re.I | re.S,
)
_DROP_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+DROP\s+COLUMN\s+"
    r"(?:(?P<ifex>IF\s+EXISTS)\s+)?(?P<col>[\w`]+)\s*;?\s*$",
    re.I,
)
_MODIFY_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+MODIFY\s+COLUMN\s+"
    r"(?P<col>[\w`]+)\s+(?P<type>\w+(?:\([^)]*\))?)\s*;?\s*$",
    re.I,
)
_RENAME_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+RENAME\s+COLUMN\s+"
    r"(?:(?P<ifex>IF\s+EXISTS)\s+)?(?P<src>[\w`]+)\s+TO\s+(?P<dst>[\w`]+)\s*;?\s*$",
    re.I,
)
# statement decorations with no Spark equivalent, dropped at the top
# level of every statement before classification: the distributed-DDL
# ``ON CLUSTER c`` (meaningless off-cluster, rejected by Spark's
# parser) and an ALTER column's ``CODEC(…)`` (parquet has its own
# codecs; a CREATE column item drops its own in :func:`_column_def`)
_DECORATION_RE = re.compile(
    r"\bON\s+CLUSTER\s+[`'\"]?[\w-]+[`'\"]?|(?P<call>\bCODEC\s*\()", re.I
)
_EXCHANGE_RE = re.compile(
    r"^\s*EXCHANGE\s+TABLES\s+(?P<a>[\w.`]+)\s+AND\s+(?P<b>[\w.`]+)\s*;?\s*$", re.I
)
_CREATE_DICT_RE = re.compile(
    r"^\s*CREATE\s+DICTIONARY\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.`]+)\s*"
    r"\((?P<cols>.*?)\)\s*"
    r"PRIMARY\s+KEY\s+(?P<key>[\w`]+)\s*"
    r".*?SOURCE\s*\(\s*CLICKHOUSE\s*\((?P<src>[^)]*)\)\s*\)",
    re.I | re.S,
)
_DICT_SRC_TABLE_RE = re.compile(r"TABLE\s+'(?P<t>[\w.]+)'", re.I)
_MOVE_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<src>[\w.`]+)\s+MOVE\s+PARTITION\s+"
    r"(?P<val>.+?)\s+TO\s+TABLE\s+(?P<dst>[\w.`]+)\s*;?\s*$",
    re.I | re.S,
)
_REPLACE_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<dst>[\w.`]+)\s+REPLACE\s+PARTITION\s+"
    r"(?P<val>.+?)\s+FROM\s+(?P<src>[\w.`]+)\s*;?\s*$",
    re.I | re.S,
)
_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<table>[\w.`]+)\s*;?\s*$",
    re.I,
)
_PART_OP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+(?P<op>DROP|DETACH|ATTACH)\s+"
    r"PARTITION\s+(?P<val>.+?)\s*;?\s*$",
    re.I | re.S,
)
_CLEAR_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+CLEAR\s+COLUMN\s+"
    r"(?:(?P<ifex>IF\s+EXISTS)\s+)?(?P<col>[\w`]+)\s+IN\s+PARTITION\s+(?P<val>.+?)\s*;?\s*$",
    re.I | re.S,
)
_DETACH_TABLE_RE = re.compile(
    r"^\s*DETACH\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<table>[\w.`]+)"
    r"(?:\s+PERMANENTLY)?\s*;?\s*$",
    re.I,
)
_ATTACH_TABLE_RE = re.compile(
    r"^\s*ATTACH\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<table>[\w.`]+)\s*;?\s*$",
    re.I,
)
_COMMENT_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.`]+)\s+COMMENT\s+COLUMN\s+"
    r"(?:IF\s+EXISTS\s+)?(?P<col>[\w`]+)\s+(?P<txt>'.*')\s*;?\s*$",
    re.I | re.S,
)


#: the width of each integral Spark type, for a DEFAULT's range check
_INT_BITS = {"TINYINT": 8, "SMALLINT": 16, "INT": 32, "BIGINT": 64}
#: a date or timestamp string Spark casts: no zero month or day, so not
#: ClickHouse's zero date ``'0000-00-00'``
_DATE_LIT_RE = re.compile(r"'\d{4}-(?!00)\d\d-(?!00)\d\d(?:[ T][\d:.]*)?'")


#: ClickHouse's zero date, which it reads as the epoch
_ZERO_DATE_RE = re.compile(r"0|'0000-00-00(?: 00:00:00)?'")


def _castable(lit: str, spark_type: str) -> bool:
    """Whether ``lit`` is one literal that Spark casts to ``spark_type``:
    not a number for a date, nor an integer out of the type's range."""
    if not _LITERAL_RE.fullmatch(lit):
        return False
    if lit.upper() == "NULL":
        return True
    if spark_type in ("DATE", "TIMESTAMP"):
        return bool(_DATE_LIT_RE.fullmatch(lit))
    if spark_type in _INT_BITS and not lit.startswith("'"):
        half = 1 << (_INT_BITS[spark_type] - 1)
        return -half - 1 < Decimal(lit) < half  # the cast truncates
    return not spark_type.startswith(("ARRAY", "MAP", "STRUCT"))


def _stored_default(ch_type: str, lit: str, lits: list[str] | None = None) -> str | None:
    """The literal DEFAULT ``lit`` (``lits`` unmask it) as the value
    ClickHouse stores in a ``ch_type`` column, written so that Spark
    casts it to the mapped type, or None if Spark cannot.  ClickHouse
    reads its zero date (``0``, ``'0000-00-00'``, ``'0000-00-00
    00:00:00'``) as the epoch and wraps an integer outside an integral
    type's range as two's complement (``Int8 DEFAULT 300`` → 44,
    ``UInt32 DEFAULT -1`` → 4294967295: UInt8/16/32 map to the next
    wider signed type, so the wrapped value fits).  UInt64 maps to
    BIGINT and keeps signed semantics.  ``lit`` comes back as given
    when no mapping applies."""
    value = _unmask_literal_contents(lit, lits)
    spark_type = map_types(ch_type)
    unsigned = _UINT_RE.match(ch_type)
    if spark_type in ("DATE", "TIMESTAMP") and _ZERO_DATE_RE.fullmatch(value):
        value = lit = "'1970-01-01'"
    elif re.fullmatch(r"[+-]?\d+", value) and (unsigned or spark_type in _INT_BITS):
        bits = int(unsigned.group(1)) if unsigned else _INT_BITS[spark_type]
        v = int(value) % (1 << bits)
        if not unsigned and v >= 1 << (bits - 1):
            v -= 1 << bits
        value = lit = str(v)
    return lit if _castable(value, spark_type) else None


def _column_def(item: str, lits: list[str]) -> str | None:
    """One literal-masked CREATE column item, its types still
    ClickHouse's, or None for an INDEX item.  A literal DEFAULT whose
    stored value Spark can cast to the column's type stays, as
    ``DEFAULT CAST(<value> AS T)`` like metadata-only ADD COLUMN (see
    :func:`_stored_default`); any other DEFAULT (Spark defaults must be
    constants), CODEC and TTL are dropped; COMMENT stays."""
    if _INDEX_ITEM_RE.match(item):
        return None
    name_end = _COL_NAME_RE.match(item).end()
    opts = _top_level(_COL_OPTION_RE, item, name_end)[0]
    type_end = opts[0].start() if opts else len(item)
    ch_type = item[name_end:type_end].strip()
    out = [item[:type_end]]
    for opt, nxt in zip(opts, [*opts[1:], None]):
        end = nxt.start() if nxt else len(item)
        kw = opt.group("kw").upper()
        lit = (
            _stored_default(ch_type, item[opt.end() : end].strip(), lits)
            if kw == "DEFAULT"
            else None
        )
        if kw == "COMMENT":
            out.append(item[opt.start() : end])
        elif lit is not None:
            out.append(f" DEFAULT CAST({lit} AS {ch_type})")
        elif kw != "CODEC":  # a dropped CODEC leaves no space behind
            out.append(" ")
    return "".join(out)


def _drop_decorations(sql: str) -> str:
    """``sql`` with each top-level :data:`_DECORATION_RE` match replaced
    by a space; a ``CODEC(`` runs on through its close."""
    if not _DECORATION_RE.search(sql):
        return sql
    out, last = [], 0
    for m in _top_level(_DECORATION_RE, sql)[0]:
        out += [sql[last : m.start()], " "]
        last = _top_level(_COMMA_RE, sql, m.end())[1] + 1 if m.group("call") else m.end()
    return "".join(out) + sql[last:]


def _split_assignments(assign: str, lits: list[str]) -> list[tuple[str, str]]:
    """Split literal-masked ``a = e1, b = e2`` on top-level commas only,
    unmasking each expression with ``lits``."""
    out = []
    for p in _split_top(assign):
        if "=" not in p:
            p = _unmask_literal_contents(p, lits)
            raise ValueError(f"ALTER UPDATE assignment without '=': {p.strip()!r}")
        col, expr = p.split("=", 1)
        out.append((col.strip().strip("`"), _unmask_literal_contents(expr.strip(), lits)))
    return out


def translate(sql: str) -> Statement:
    """Classify + translate one ClickHouse-dialect statement.  Comments
    are blanked first, so none can hide a keyword or swallow a clause."""
    sql = _drop_decorations(_blank(sql))
    sql = re.sub(r"\bSYNC\s*;?\s*$", "", sql, flags=re.I)  # synchronous-drop modifier
    # MATERIALIZED VIEW → a real table built by CTAS (POPULATE is then
    # implicit — Spark has no deferred-fill concept); *continuous*
    # maintenance is the operators/rollup.py refresh pattern, not DDL
    sql = re.sub(
        r"^(\s*CREATE\s+)MATERIALIZED\s+VIEW\b", r"\1TABLE", sql, flags=re.I
    )
    sql = re.sub(r"\bPOPULATE\s+(?=AS\b)", "", sql, flags=re.I)
    # the lazy ALTER captures that stop at a keyword (UPDATE … WHERE,
    # MOVE … TO TABLE, REPLACE … FROM) match on literal-masked text, so a
    # keyword inside a literal is data; each captured field is unmasked
    masked, lits = _mask_literal_contents(sql)
    m = _NOOP_RE.match(sql)
    if m:
        return Statement(kind="passthrough", sql="SELECT 1", table=m.group("table"))
    m = _MODIFY_ORDER_RE.match(sql)
    if m:  # the recorded ORDER BY drives OPTIMIZE …  DEDUPLICATE — a
        # MODIFY must update the stored property, not error out
        return Statement(
            kind="set_order_by",
            sql=sql,
            table=m.group("table").strip("`"),
            order_by=m.group("e").strip(),
        )
    m = _MODIFY_SAMPLE_RE.match(sql)
    if m:  # recorded SAMPLE BY backs `FROM t SAMPLE k`
        return Statement(
            kind="set_sample_by",
            sql=sql,
            table=m.group("table").strip("`"),
            sample_by=m.group("e").strip(),
        )
    m = _MODIFY_COMMENT_RE.match(sql)
    if m and _is_literal(m.group("c")):
        # table comment — Spark spells it COMMENT ON TABLE … IS …
        return Statement(
            kind="passthrough",
            sql=f"COMMENT ON TABLE {m.group('table')} IS {m.group('c')}",
            table=m.group("table").strip("`"),
        )
    m = _REMOVE_DEFAULT_RE.match(sql)
    if m:  # column default removal — Spark: ALTER COLUMN … DROP DEFAULT
        return Statement(
            kind="passthrough",
            sql=(
                f"ALTER TABLE {m.group('table')} ALTER COLUMN "
                f"{m.group('col')} DROP DEFAULT"
            ),
            table=m.group("table").strip("`"),
            column=m.group("col").strip("`"),
        )
    m = _RENAME_RE.match(sql)
    if m:  # ClickHouse RENAME TABLE → Spark ALTER TABLE … RENAME TO
        return Statement(
            kind="passthrough",
            sql=f"ALTER TABLE {m.group('src')} RENAME TO {m.group('dst')}",
        )
    m = _OPTIMIZE_RE.match(sql)
    if m:  # MergeTree part merge → real work (migrate._exec_translated):
        # Replacing engines / DEDUPLICATE → key-dedupe rewrite using the
        # recorded ORDER BY; otherwise small-file compaction
        return Statement(
            kind="optimize",
            sql=sql,
            table=m.group("table").strip("`"),
            deduplicate=bool(re.search(r"\bDEDUPLICATE\b", sql, re.I)),
        )
    m = _EXCHANGE_RE.match(sql)
    if m:  # atomic table swap (blue/green deploys) → three-rename cycle,
        # executed by the runner so the intermediate name stays internal
        return Statement(
            kind="exchange_tables",
            sql=sql,
            table=m.group("a").strip("`"),
            rename_to=m.group("b").strip("`"),
        )
    m = _CREATE_DICT_RE.match(sql)
    if m:  # dictionary = keyed broadcast lookup over a source table →
        # a VIEW projecting the declared columns (LAYOUT/LIFETIME are
        # in-memory-refresh knobs with no Spark meaning: a view always
        # reflects the source, which subsumes LIFETIME-based reload);
        # the PRIMARY KEY is recorded for dictGet() rewriting
        sm = _DICT_SRC_TABLE_RE.search(m.group("src"))
        if not sm:
            raise ValueError(f"CREATE DICTIONARY without TABLE source: {sql!r}")
        cols = ", ".join(
            c.strip().split()[0] for c in _split_top(m.group("cols")) if c.strip()
        )
        return Statement(
            kind="create_dictionary",
            sql=f"SELECT {cols} FROM {sm.group('t')}",
            table=m.group("name").strip("`"),
            column=m.group("key").strip("`"),
            rename_to=sm.group("t"),
        )
    m = _MOVE_PART_RE.match(masked)
    if m:  # partition migration between tables (append + cow-delete)
        return Statement(
            kind="move_partition",
            sql=sql,
            table=m.group("src").strip("`"),
            rename_to=m.group("dst").strip("`"),
            predicate=_unmask_literal_contents(m.group("val").strip(), lits),
        )
    m = _REPLACE_PART_RE.match(masked)
    if m:  # overwrite dst's partition with src's copy (src unchanged)
        return Statement(
            kind="replace_partition",
            sql=sql,
            table=m.group("dst").strip("`"),
            rename_to=m.group("src").strip("`"),
            predicate=_unmask_literal_contents(m.group("val").strip(), lits),
        )
    m = _TRUNCATE_RE.match(sql)
    if m:  # delete all rows, keep schema — executed by the runner so
        # ClickHouse's IF EXISTS (Spark TRUNCATE lacks it) still works
        return Statement(
            kind="truncate",
            sql=sql,
            table=m.group("table").strip("`"),
            if_exists=bool(m.group("ifex")),
        )
    m = _PART_OP_RE.match(sql)
    if m:  # partition lifecycle against the recorded PARTITION BY
        # expression: DROP deletes, DETACH parks rows in a side table,
        # ATTACH restores them (ClickHouse's detached/ directory)
        return Statement(
            kind=m.group("op").lower() + "_partition",
            sql=sql,
            table=m.group("table").strip("`"),
            predicate=m.group("val").strip(),
        )
    m = _CLEAR_COL_RE.match(sql)
    if m:  # ClickHouse resets the column to its default inside the
        # partition; the rewrite resets it to NULL, whatever the
        # column's default — documented divergence
        return Statement(
            kind="clear_column_in_partition",
            sql=sql,
            table=m.group("table").strip("`"),
            column=m.group("col").strip("`"),
            predicate=m.group("val").strip(),
            if_exists=bool(m.group("ifex")),
        )
    m = _DETACH_TABLE_RE.match(sql)
    if m:  # hide the table (rename to an internal name) until ATTACH
        return Statement(
            kind="detach_table", sql=sql, table=m.group("table").strip("`")
        )
    m = _ATTACH_TABLE_RE.match(sql)
    if m:
        return Statement(
            kind="attach_table", sql=sql, table=m.group("table").strip("`")
        )
    m = _COMMENT_COL_RE.match(sql)
    if m and _is_literal(m.group("txt")):
        # ClickHouse COMMENT COLUMN → Spark ALTER COLUMN ... COMMENT
        return Statement(
            kind="passthrough",
            sql=(
                f"ALTER TABLE {m.group('table')} ALTER COLUMN "
                f"{m.group('col')} COMMENT {m.group('txt')}"
            ),
        )
    m = _DROP_COL_RE.match(sql)
    if m:  # Spark parquet tables reject DROP COLUMN → copy-on-write
        return Statement(
            kind="drop_column",
            sql=sql,
            table=m.group("table").strip("`"),
            column=m.group("col").strip("`"),
            if_exists=bool(m.group("ifex")),
        )
    m = _MODIFY_COL_RE.match(sql)
    if m:  # type change → copy-on-write cast
        return Statement(
            kind="modify_column",
            sql=sql,
            table=m.group("table").strip("`"),
            column=m.group("col").strip("`"),
            col_type=map_types(m.group("type")),
        )
    m = _RENAME_COL_RE.match(sql)
    if m:  # Spark parquet tables reject RENAME COLUMN → copy-on-write
        return Statement(
            kind="rename_column",
            sql=sql,
            table=m.group("table").strip("`"),
            column=m.group("src").strip("`"),
            rename_to=m.group("dst").strip("`"),
            if_exists=bool(m.group("ifex")),
        )
    m = _ADD_COL_RE.match(sql)
    if m:
        default = m.group("default")
        literal = default is None or bool(_LITERAL_RE.fullmatch(default.strip()))
        if default is not None and literal:
            default = _stored_default(m.group("type"), default.strip())
            if default is None:
                raise ValueError(
                    f"ALTER ADD COLUMN {m.group('col')!r}: Spark cannot store "
                    f"DEFAULT {m.group('default').strip()} as {m.group('type')}"
                )
        return Statement(
            kind="add_column",
            sql=sql,
            table=m.group("table").strip("`"),
            column=m.group("col").strip("`"),
            col_type=map_types(m.group("type")),
            default=default,
            if_exists=bool(m.group("ifnex")),  # IF NOT EXISTS tolerance
            metadata_only=literal,
        )
    m = _UPDATE_RE.match(masked)
    if m:
        return Statement(
            kind="cow_update",
            sql=sql,
            table=m.group("table").strip("`"),
            assignments=_split_assignments(m.group("assign"), lits),
            predicate=_unmask_literal_contents(m.group("pred"), lits),
        )
    m = _DELETE_RE.match(sql)
    if m:
        return Statement(
            kind="cow_delete",
            sql=sql,
            table=m.group("table").strip("`"),
            predicate=m.group("pred"),
        )
    m = _MODIFY_TTL_RE.match(sql)
    if m:  # retention-policy metadata update; no Spark-side DDL exists
        return Statement(
            kind="set_ttl",
            sql=sql,
            table=m.group("table").strip("`"),
            ttl=m.group("e").strip(),
        )
    if _CREATE_RE.match(sql):
        # read by structure on literal-masked text: the column list is
        # the group after the table name, split before map_types (Spark's
        # MAP<K, V> nests with angle brackets); the layout clauses are
        # the top-level spans between clause keywords, and the CTAS
        # query after them keeps its own ORDER BY
        out, lits = _mask_literal_contents(sql.strip().rstrip(";"))
        pos = _CREATE_HEAD_RE.match(out).end()
        head = map_types(out[:pos])
        if out[pos : pos + 1] == "(":
            end = _top_level(_COMMA_RE, out, pos + 1)[1]
            if end == len(out):
                raise ValueError(f"unclosed column list in: {sql.strip()!r}")
            cols = [_column_def(c, lits) for c in _split_top(out[pos + 1 : end])]
            head += "(" + map_types(",".join(c for c in cols if c is not None)) + ")"
            pos = end + 1
        rest = map_types(out[pos:])
        stops = _top_level(_LAYOUT_RE, rest)[0]
        ctas = next((m for m in stops if m.group("ctas")), None)
        stops = stops[: stops.index(ctas) + 1] if ctas else stops
        layout: dict[str, str] = {}
        for m, nxt in zip(stops, [*stops[1:], None]):
            if m.group("kw"):
                value = rest[m.end() : nxt.start() if nxt else len(rest)].strip()
                kw = re.sub(r"\s+", " ", m.group("kw").upper())
                layout.setdefault(kw, _unmask_literal_contents(value, lits))
        kept = rest[: stops[0].start() if stops else len(rest)]
        out = re.sub(r"\s+", " ", head + kept).strip()
        if not _top_level(_USING_RE, kept)[0]:
            out += " USING PARQUET"
        if ctas:  # Spark syntax: USING comes before AS SELECT
            out += " " + re.sub(r"\s+", " ", rest[ctas.start() :]).strip()
        em = re.match(r"\s*=?\s*(\w+)", layout.get("ENGINE", ""))
        return Statement(
            kind="create_table",
            sql=_unmask_literal_contents(out, lits),
            order_by=layout.get("ORDER BY"),
            partition_by=layout.get("PARTITION BY"),
            engine=em.group(1) if em else None,
            ttl=layout.get("TTL"),
            sample_by=layout.get("SAMPLE BY"),
        )
    return Statement(kind="passthrough", sql=map_types(sql).strip().rstrip(";"))
