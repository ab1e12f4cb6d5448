"""Driver-hash-safe output encoding helpers.

The driver's correctness gate collects Spark results through pandas and
hashes every cell; three output shapes break that comparison even when
the values are semantically identical:

* ``array<...>`` / ``map<...>`` columns → numpy ndarrays → unhashable
  (``TypeError`` in the driver, CORRECTNESS r01 "err" rows);
* ``decimal(p,s)`` columns → ``Decimal`` objects whose repr differs
  from DuckDB's differently-widened sums → hash mismatch;
* ``round(sum(<double>), k)`` → the float sum's partial-aggregation
  order differs run to run, so a value sitting near a rounding
  boundary flips between runs (observed: ``agg_conditional_returnflag_mix``).

The safe output surface is: string, boolean, integral, double, date,
timestamp — with any rounded double derived from an EXACT (decimal or
integer-grid) numerator.

Cross-engine contract (verified): Spark ``CAST(decimal(p,s) AS STRING)``
and DuckDB ``CAST(decimal(p,s) AS VARCHAR)`` render identically
(fixed-point, full scale, no exponent, ``-0.0`` normalized), and both
engines cast an exact decimal to the same nearest double.  So:

* arrays → ``concat_ws(',')`` of string-rendered elements (sorted
  first when the collection order is unspecified), mirrored by DuckDB
  ``array_to_string(list(...), ',')``;
* money/doubles → sum a ``decimal``-cast column (exact, associative,
  order-insensitive), then ``CAST(... AS DOUBLE)`` before any round.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


# DuckDB's trim() strips EXACTLY Unicode category Zs (space
# separators: U+0020, NBSP, U+1680, U+2000–200A, U+202F, U+205F,
# U+3000) — NOT tab/newline/CR/NEL/U+2028/29 (probed utf8proc
# behavior, round 8).  Java \p{Zs} is exactly that set.  Anchored
# with \z, not $: Java's $ also matches BEFORE a final line
# terminator, so 'hello \n' would lose the space that DuckDB's trim
# (stopping at the non-Zs newline) keeps (round-8 code review).
#: Java regex for the Zs edge-strip — kept as the SPEC (and the parity
#: test's second implementation); the hot path below uses btrim.
_UNICODE_WS_EDGES = '(^\\p{Zs}+)|(\\p{Zs}+\\z)'

#: The 17 Unicode Zs (space-separator) codepoints — exactly Java's
#: ``\p{Zs}`` and utf8proc's Zs category (what DuckDB's trim strips).
#: All BMP, so the btrim char-set walk has no surrogate-pair hazard.
_ZS_CHARS = "".join(
    chr(c)
    for c in (
        0x0020,  # SPACE
        0x00A0,  # NO-BREAK SPACE
        0x1680,  # OGHAM SPACE MARK
        *range(0x2000, 0x200B),  # EN QUAD .. HAIR SPACE (11)
        0x202F,  # NARROW NO-BREAK SPACE
        0x205F,  # MEDIUM MATHEMATICAL SPACE
        0x3000,  # IDEOGRAPHIC SPACE
    )
)


def utrim(col: Column | str) -> Column:
    """DuckDB-parity trim.  DuckDB's ``trim()`` strips the Unicode Zs
    space-separator set (NBSP included, via utf8proc; tab/newline
    EXCLUDED) while Spark's ``trim()`` strips only the ASCII space — a
    text with unicode-whitespace EDGES tokenized differently across
    the two engines (round-8 data-edge fuzz catch,
    ``unicode/text_flesch_reading_ease``).

    Implementation is ``btrim(text, <the 17 Zs chars>)`` — a plain
    char-set edge walk, ~2× cheaper than the equivalent anchored
    ``\\p{Zs}`` regexp_replace that r8 shipped (the ``utrim`` tax on
    every text scan was VERDICT r9 #3; numbers in SCALE.md).  The two
    are character-for-character equal — btrim's end-of-string is the
    regex's ``\\z``, never ``$`` (no final-line-terminator divergence)
    — pinned by ``tests/test_edge_fuzz.py`` parity tests and the
    hypothesis equivalence test.  Pure JVM expression — stays in
    whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.btrim(c, F.lit(_ZS_CHARS))


def dec_str(col: Column | str, scale: int = 4, precision: int = 28) -> Column:
    """Render a numeric column as a fixed-point string, identically to
    DuckDB's ``CAST(x AS DECIMAL(p,s))::VARCHAR``."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})").cast("string")


def arr_str(arr: Column, sep: str = ",") -> Column:
    """Join an array of STRING elements into one deterministic string.
    Caller is responsible for element order (sort unordered sets)."""
    return F.concat_ws(sep, arr)


def dsum(col: Column | str, scale: int = 4) -> Column:
    """Order-insensitive exact sum of a fixed-point-valued double
    column, returned as DOUBLE.  Oracle twin:
    ``CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 4) -> Column:
    """Deterministic average: exact decimal sum divided by non-null
    count, as DOUBLE.  Oracle twin:
    ``CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE) / count(x)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double") / F.count(c)


def _int_div(a: Column, b: Column) -> Column:
    """Exact floor division of non-negative integer-valued decimal(38,0)
    columns without leaving the JVM: ``(a - a % b) / b`` — the dividend
    is an exact multiple of ``b``, so the decimal division's true
    quotient is an integer and Spark's scale-adjusted HALF_UP result is
    exactly that integer."""
    return (a - a % b) / b


def round_quotient(
    num: Column,
    den: Column,
    k: int = 4,
    den_scale: int = 0,
    num_scale: int | None = None,
) -> Column:
    """HALF_UP ``round(num / den, k)`` computed EXACTLY in integer
    arithmetic, then rendered as a double — bit-identical on any engine.

    Why this exists (CORRECTNESS r01/r02's only red row,
    ``agg_conditional_returnflag_mix``): money values carry ≤2 decimals,
    so an average ``sum/count`` lands on an EXACT ``x.xxxx5`` halfway
    point with non-trivial probability.  ``round(double, k)`` then
    diverges across engines: Spark rounds the shortest-repr BigDecimal
    of the quotient double HALF_UP, DuckDB multiplies the double by 10^k
    and nearbyint()s — near a halfway point they disagree, and the
    engine version moves the boundary.  Doing the round in ℚ removes the
    lottery:

        T      = num · 10^(k+den_scale)   (exact integer: num is a
                                           decimal with ≤ k decimals)
        D      = den · 10^den_scale       (exact integer)
        scaled = ⌊(2T + D) / (2D)⌋        (= HALF_UP for num, den ≥ 0)
        result = CAST(scaled AS DOUBLE) / 10^k

    The power-of-ten multiplies run in DECIMAL arithmetic: each factor
    is cast to a decimal sized so the product's precision lands exactly
    at 38 (no precision-loss rescale, no rounding).  Casting AFTER the
    multiply — the pre-round-5 shape — computed ``num · 10^(k+s)`` in
    int64 for integral inputs and silently WRAPPED above
    ~9.2e18/10^(k+s) (ADVICE r4 #1).

    Numerator headroom (ADVICE r5 #1): the pre-multiply cast reserves
    ``num_scale`` fractional digits, so the numerator gets
    ``10^(36 - (k + den_scale) - num_scale)`` of integer headroom.
    ``num_scale`` defaults to ``k + den_scale`` (the loosest contract),
    giving ``10^(36-2(k+s))`` — ≥1e20 for k+s ≤ 8.  Call sites with
    k+s > 8 MUST pass the numerator's true scale (e.g. the den_scale=6
    TPC-H share queries pass ``num_scale=6`` → 1e20 headroom); a
    ``ValueError`` is raised at plan-construction time whenever the
    resulting headroom drops below 1e18 — no silent cliff at 100 TB.
    Past the headroom Spark yields NULL (overflow) and DuckDB raises
    Out of Range at the SAME threshold (precisions aligned), never a
    wrong number and never a one-engine-only gap band.  The remaining
    integer steps run in decimal(38,0); the two final double ops are
    identical IEEE operations on both engines.

    ``num`` must be an exact decimal/integral expression (a decimal-cast
    sum) with at most ``num_scale`` (default ``k + den_scale``)
    fractional digits; ``den`` a non-zero exact expression with at most
    ``den_scale`` fractional digits (0 for counts).  Either side may be
    negative (HALF_UP away from zero, like both engines' ``round``).
    Oracle twin: :func:`oracle_round_quotient` (HUGEINT ``//`` — the
    same integer).
    """
    # Cast each factor to decimal BEFORE multiplying: precisions are
    # sized so p1 + p2 + 1 == 38 — the product is exact decimal(38, s),
    # with no int64 wrap (inputs may be bigint) and no precision-loss
    # scale reduction (which would round for k + den_scale > 6).
    ns = k + den_scale
    a = ns if num_scale is None else num_scale
    if not 0 <= a <= ns:
        raise ValueError(f"num_scale={a} must be in [0, k+den_scale={ns}]")
    if (36 - ns - a) < 18:
        raise ValueError(
            f"round_quotient numerator headroom 10^{36 - ns - a} < 1e18 "
            f"(k={k}, den_scale={den_scale}, num_scale={a}); pass the "
            "numerator's true num_scale or reduce k/den_scale"
        )
    t0 = (
        num.cast(f"decimal({36 - ns},{a})")
        * F.lit(10**ns).cast(f"decimal({ns + 1},0)")
    ).cast("decimal(38,0)")
    d0 = (
        den.cast(f"decimal({36 - den_scale},{den_scale})")
        * F.lit(10**den_scale).cast(f"decimal({den_scale + 1},0)")
    ).cast("decimal(38,0)")
    # Fold the denominator sign into the numerator, then HALF_UP away
    # from zero on |T| (the engines' integer-division semantics differ
    # on negatives — truncation vs floor — so stay non-negative).
    # A ZERO denominator becomes NULL first: DuckDB's `// 0`/`% 0`
    # yield NULL, but Spark's ANSI `%` THROWS — on degenerate inputs
    # (empty group, single-row sample) the engines diverged crash-vs-
    # NULL (round-8 data-edge fuzz catch, `single/agg_ks_two_sample`).
    t = F.when(d0 < 0, -t0).otherwise(t0)
    d = F.when(d0 == 0, F.lit(None)).otherwise(F.abs(d0))
    mag = _int_div(
        (F.lit(2) * F.abs(t) + d).cast("decimal(38,0)"),
        (F.lit(2) * d).cast("decimal(38,0)"),
    )
    scaled = F.when(t < 0, -mag).otherwise(mag)
    return (scaled.cast("double") / F.lit(float(10**k))).cast("double")


def oracle_round_quotient(
    num_sql: str, den_sql: str, k: int = 4, den_scale: int = 0,
    num_scale: int | None = None,
) -> str:
    """DuckDB twin of :func:`round_quotient`.  ``//`` on HUGEINT is
    floor division — the same integer Spark's decimal path computes.
    The power-of-ten multiplies run in decimal just like the Spark
    side (multiplying first in INT64 — the pre-round-5 shape — raised
    an Out of Range error above ~9.2e18/10^(k+s) for bigint inputs).
    The operand precisions MATCH the Spark side exactly (36-x, not
    DuckDB's allowed 37-x) so both engines run out of integer headroom
    at the same threshold — no band where one engine overflows and the
    other still answers (ADVICE r5 #1)."""
    ns = k + den_scale
    a = ns if num_scale is None else num_scale
    if not 0 <= a <= ns:
        raise ValueError(f"num_scale={a} must be in [0, k+den_scale={ns}]")
    if (36 - ns - a) < 18:
        raise ValueError(
            f"oracle_round_quotient numerator headroom 10^{36 - ns - a} < "
            f"1e18 (k={k}, den_scale={den_scale}, num_scale={a})"
        )
    t0 = (
        f"CAST(CAST(({num_sql}) AS DECIMAL({36 - ns},{a}))"
        f" * CAST({10 ** ns} AS DECIMAL({ns + 1},0)) AS HUGEINT)"
    )
    d0 = (
        f"CAST(CAST(({den_sql}) AS DECIMAL({36 - den_scale},{den_scale}))"
        f" * CAST({10 ** den_scale} AS DECIMAL({den_scale + 1},0)) AS HUGEINT)"
    )
    t = f"(CASE WHEN {d0} < 0 THEN -{t0} ELSE {t0} END)"
    d = f"abs({d0})"
    mag = f"((2 * abs({t}) + {d}) // (2 * {d}))"
    scaled = f"(CASE WHEN {t} < 0 THEN -{mag} ELSE {mag} END)"
    return f"(CAST({scaled} AS DOUBLE) / {float(10 ** k)})"
