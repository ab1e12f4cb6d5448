"""Deduplication pack over the documents table (driver north star:
LLM-training-data pipelines; SURVEY.md §2.D M4).

Five families, each the idiomatic Spark shape for its scale regime:

- **exact**: hash groupBy on the full text / normalized fingerprint —
  one shuffle, the 100 TB baseline.
- **n-gram Jaccard**: exact pairwise similarity via a shingle
  inverted-index self-join — correct but O(pairs-sharing-a-shingle);
  the oracle-checkable ground truth for the approximate variants.
- **MinHash + LSH**: 32-permutation minhash (independent seeded
  xxhash64 per permutation — see minhash_signatures) → 16 bands × 2 rows →
  band-bucket join for candidates → exact-Jaccard verification OF THE
  CANDIDATES ONLY.
  THE scalable near-dup path: candidate generation touches only
  hash-bucket collisions, never all pairs.  Deterministic (seeded
  hashes), so it is oracle-checked against exact Jaccard: at τ=0.8 and
  16×2 bands the per-pair miss probability is (1-j²)^16 ≤ 5e-11 — the
  LSH output provably coincides with the exact result on this data.
- **SimHash**: 60-bit signature from md5 (both engines can reproduce:
  Spark ``conv(hex,16,10)``, DuckDB ``('0x'||hex)::UBIGINT``), pairs
  within Hamming distance via signature self-join.
- **embedding cosine**: brute-force pair cosine over float vectors
  (JVM higher-order functions, no UDF); the LSH-bucketed scale path
  for vectors lives in :mod:`.similarity`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .. import memo
from ..hashsafe import oracle_round_quotient, round_quotient, utrim
from ..registry import register
from ..tables import table

JACCARD_T = 0.8
COSINE_T = 0.4
N_HASHES = 32  # 16 bands × 2 rows
N_BANDS = 16
SIMHASH_BITS = 60
# tight threshold: the synthetic corpus draws from a tiny vocabulary, so
# moderately-similar docs already land within a few bits of each other
HAMMING_T = 2
# shingle document-frequency cap: shingles appearing in more documents
# than this carry no near-dup signal (boilerplate) and are the quadratic
# blow-up in any inverted-index join — one shingle shared by d docs
# contributes d² candidate pairs.  Dropping them bounds every posting
# list, which bounds both LSH bucket sizes and the exact-baseline
# self-join.  Fixture parity: max df is 25 at sf0.1 (verified), so the
# cap never binds on test data and the DuckDB oracles match verbatim.
SHINGLE_DF_CAP = 64


def _tokens() -> Column:
    return F.split(F.lower(utrim(F.col("text"))), r"\s+")


def kgrams(toks: Column, k: int) -> Column:
    """Word k-gram windows (space-joined strings) over a token array.

    Built as an ``arrays_zip`` of k SHIFTED VIEWS of the array — k O(n)
    slices + one zip per document — instead of a per-window ``F.slice``
    inside the HOF lambda (O(windows · k) interpreted allocations;
    measured ~5× slower cold, ~30% warm at sf0.1, identical output).
    Arrays shorter than k yield an empty window list (``greatest``
    clamps the slice length, so the expression is total even when a
    consumer's size-filter is reordered after the projection)."""
    n_windows = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(0))
    shifted = F.arrays_zip(*[F.slice(toks, i + 1, n_windows) for i in range(k)])
    return F.transform(
        shifted, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)])
    )


def token_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, toks) frame: the documents table tokenized
    once per (session, corpus) and pinned by the session memo
    (:mod:`..memo`) — ONE scan + regex-tokenize pass shared by every
    gram/shingle/span/boundary consumer (r13, VERDICT r12 next-round
    #1: the k=3 shingle stream, the k=8 passage grams, the 8-token
    spans and the boundary grams each re-ran the full tokenize; at
    100 TB that is four full text scans for one corpus).

    The repartition widens the single-row-group fixture scan before
    the regex split so the CPU-heavy tokenize uses every core — at
    production scale many files/row-groups give the width for free."""

    def build():
        d = table(spark, sf_dir, "documents").repartition(
            int(spark.sparkContext.defaultParallelism), "doc_id"
        )
        toks = d.select("doc_id", _tokens().alias("toks"))
        return toks, (toks,)

    return memo.get(spark, sf_dir, "token_arrays", build, reads=("documents",))


def shingles(
    spark: SparkSession, sf_dir: str, k: int = 3, df_cap: int | None = SHINGLE_DF_CAP
) -> DataFrame:
    """Distinct word-k-gram shingles per document (explode over the
    shared :func:`token_arrays` memo), with shingles whose document
    frequency exceeds ``df_cap`` removed ("stop-shingles").

    The cap is applied CONSISTENTLY — signatures, intersection counts
    and set sizes all see the same capped set — so Jaccard stays a true
    set similarity (of the signal shingles).  The hot-shingle list is a
    tiny aggregate (linear scan, partial-agg'd) anti-joined back;
    Catalyst broadcasts it.

    Memoized per (session, corpus, k, df_cap): several registered
    queries each called shingles() and cached their own identical copy
    (distinct DataFrame objects don't share cache entries).  With a cap,
    the exploded stream feeds BOTH the hot-shingle aggregate and the
    anti-join probe side inside the first consumer's job, so the memo
    pins it before any consumer runs (r13: the two sides raced the cold
    cache and ran the tokenize+gram explode twice concurrently)."""
    return memo.get(
        spark,
        sf_dir,
        f"shingles_k{k}",
        lambda: _shingles_impl(spark, sf_dir, k, df_cap),
        reads=("documents",),
        params=(df_cap,),
        fill=df_cap is not None,
    )


def _shingles_impl(
    spark: SparkSession, sf_dir: str, k: int, df_cap: int | None
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """(capped shingle stream, the frames the memo must pin)."""
    d = token_arrays(spark, sf_dir)
    toks = F.col("toks")
    grams = kgrams(toks, k)
    sh = (
        d.where(F.size(toks) >= k)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
    )
    if df_cap is None:
        return sh, ()
    # the gram transform is an interpreted HOF over every token window
    # and BOTH the hot-shingle aggregate and the anti-join probe side
    # read it — the memo caches the exploded stream so tokenize+gram
    # runs once (MEMORY_AND_DISK default spills rather than recomputes)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    # no broadcast hint: the hot list is usually tiny (AQE broadcasts it
    # at runtime), but at 100 TB it can grow past executor memory — the
    # shuffle anti-join is linear either way
    return sh.join(hot, "shingle", "left_anti"), (sh,)


_SHINGLE_SQL = f"""
    toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
             FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                        i -> array_to_string(w[i:i+2], ' '))) AS shingle
           FROM toks WHERE len(w) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pair_inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
    pair_jaccard AS (
      SELECT doc_a, doc_b,
             inter / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard,
             {oracle_round_quotient("inter", "sa.n + sb.n - inter", 6)}
               AS jaccard_r6
      FROM pair_inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b)
"""


def _attach_jaccard(inter: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter) + per-doc set sizes → jaccard.  No
    broadcast hints: sizes is one row per document (too big to
    broadcast at 100 TB); AQE broadcasts it at fixture scale anyway."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    union = F.col("na") + F.col("nb") - F.col("inter")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.col("inter") / union.cast("double"))
        # exact HALF_UP round of the integer quotient: rounding the
        # float jaccard lands on x…x5 halfway points whenever
        # 10^6·inter/union is a half-integer — the cross-engine
        # lottery this repo eliminated everywhere else (ADVICE r4 #3)
        .withColumn("jaccard_r6", round_quotient(F.col("inter"), union, 6))
    )


def _exact_jaccard_pairs(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard for EVERY co-shingled pair — the oracle-twin
    baseline.  The inverted-index self-join is O(Σ df²) over posting
    lists; the df cap inside :func:`shingles` bounds every term of that
    sum, which is what keeps the exact baseline runnable as a spot-audit
    at scale (the production near-dup path is :func:`near_dup_pairs`)."""
    if sh is None:
        sh = shingles(spark, sf_dir).cache()
        # r12: the self-join's two sides raced the cold cache and ran
        # the tokenize+gram explode twice concurrently; fill it once
        # first (CacheManager dedupes the entry across the three
        # registered consumers of this helper, so only the first pays)
        sh.count()
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _attach_jaccard(inter, sh)


def _jaccard_for_candidates(sh: DataFrame, candidates: DataFrame) -> DataFrame:
    """Exact Jaccard computed ONLY for the given candidate pairs — the
    verify stage that preserves LSH's pruning.

    Plan: one per-document aggregate packs each doc's (df-capped,
    already-distinct) shingle set into an int64 ``xxhash64`` array —
    one row per doc, same shuffle shape as the signature stage — then
    the candidate table equi-joins that per-doc table on each side and
    ``|A ∩ B|`` is a row-local ``array_intersect`` over the two arrays.
    Everything is linear in corpus + candidates; no per-pair fan-out by
    set size crosses a shuffle.  (An earlier shape exploded candidates
    × |sh(doc_a)| rows into a (doc_b, shingle) equi-join + re-group:
    same asymptotics, but on a dense-duplicate corpus — 1M docs, 36M
    candidates — the ~1B-row shuffle cost 428 s where this shape runs
    the same verify in ~40 s.)

    Exactness caveat: intersections compare 64-bit shingle hashes, so a
    within-pair collision between two DIFFERENT shingles could perturb
    ``inter`` by 1 with probability ≈ |A|·|B| / 2⁶⁴ per pair (≈ 5e-12
    even for 10k-shingle docs) — the same accepted-risk class as the
    banded-LSH miss bound.  Per-task memory is bounded by both docs'
    shingle arrays per candidate row, not by any corpus-wide structure.
    (Candidates sharing zero shingles drop out of nothing here; they
    yield inter = 0 and are removed by any τ > 0 filter downstream.)"""
    doc_sets = sh.groupBy("doc_id").agg(
        F.collect_set(F.xxhash64("shingle")).alias("hs"),
        F.count(F.lit(1)).alias("n"),
    )
    return _jaccard_from_doc_sets(doc_sets, candidates)


def _jaccard_from_doc_sets(doc_sets: DataFrame, candidates: DataFrame) -> DataFrame:
    """Verify core shared by :func:`_jaccard_for_candidates` and the
    fused per-doc aggregate inside :func:`_near_dup_pairs_impl` —
    ``doc_sets`` must carry (doc_id, hs: array<bigint> of distinct
    shingle hashes, n: exact set size)."""
    a = doc_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"), F.col("n").alias("na")
    )
    b = doc_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"), F.col("n").alias("nb")
    )
    inter = (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("inter"),
            "na",
            "nb",
        )
    )
    union = F.col("na") + F.col("nb") - F.col("inter")
    return inter.withColumn(
        "jaccard", F.col("inter") / union.cast("double")
    ).withColumn("jaccard_r6", round_quotient(F.col("inter"), union, 6))


@register(
    "dedup_shingle_cap_audit",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
    SELECT count(*) AS n_shingles,
           CAST(sum(CASE WHEN df > {SHINGLE_DF_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_stop_shingles,
           CAST(sum(df) AS BIGINT) AS posting_mass,
           CAST(coalesce(sum(CASE WHEN df > {SHINGLE_DF_CAP} THEN df END), 0) AS BIGINT)
             AS dropped_posting_mass,
           {oracle_round_quotient(
               "coalesce(sum(CASE WHEN df > " + str(SHINGLE_DF_CAP)
               + " THEN df END), 0)", "sum(df)", 6)} AS dropped_mass_ratio,
           max(CASE WHEN df <= {SHINGLE_DF_CAP} THEN df END) AS max_surviving_df
    FROM df
    """,
)
def dedup_shingle_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability for the SHINGLE_DF_CAP stop-shingle drop (VERDICT
    r2 "what's wrong #3"): the cap is the scale move that bounds every
    posting list, but on boilerplate-heavy corpora it silently turns
    Jaccard into "Jaccard of signal shingles".  This audit puts numbers
    next to the substrate every round: how many distinct shingles are
    dropped, what share of the total posting mass (doc-shingle
    incidences) they carried, and the largest df that survives.  On the
    fixtures max df ≪ cap, so dropped mass is 0 — the audit is the
    tripwire that fires when a real corpus starts binding the cap (the
    companion recall smoke under a binding cap lives in
    tools/scale_smoke.py stage `shingle_cap_binding`).

    Plan: the uncapped shingle explode + one (shingle) hash aggregate +
    a 1-row reduce — linear, partial-agg'd, the same cost class as the
    substrate build itself."""
    sh = shingles(spark, sf_dir, df_cap=None)
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    over = F.col("df") > SHINGLE_DF_CAP
    return df.agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(over, 1).otherwise(0)).alias("n_stop_shingles"),
        F.sum("df").alias("posting_mass"),
        F.coalesce(F.sum(F.when(over, F.col("df"))), F.lit(0)).alias(
            "dropped_posting_mass"
        ),
        round_quotient(
            F.coalesce(F.sum(F.when(over, F.col("df"))), F.lit(0)),
            F.sum("df"),
            6,
        ).alias("dropped_mass_ratio"),
        F.max(F.when(~over, F.col("df"))).alias("max_surviving_df"),
    )


@register(
    "dedup_exact_summary",
    oracle="""
    SELECT count(*)                        AS n_docs,
           count(DISTINCT text)            AS n_distinct_texts,
           count(DISTINCT md5(lower(trim(text)))) AS n_normalized_distinct,
           count(*) - count(DISTINCT text) AS n_exact_dups
    FROM documents
    """,
)
def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_distinct_texts"),
        F.countDistinct(F.md5(F.lower(utrim(F.col("text"))))).alias(
            "n_normalized_distinct"
        ),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("n_exact_dups"),
    )


@register(
    "dedup_exact_representatives",
    oracle="""
    SELECT lang, source, min(doc_id) AS representative_doc, count(*) AS group_size
    FROM documents GROUP BY lang, source
    """,
)
def dedup_exact_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by key: keep one representative per group (min id) —
    `dropDuplicates` semantics made deterministic for the oracle."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.min("doc_id").alias("representative_doc"),
        F.count(F.lit(1)).alias("group_size"),
    )


@register(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLE_SQL}
    SELECT doc_a, doc_b, jaccard_r6 AS jaccard
    FROM pair_jaccard WHERE jaccard >= {JACCARD_T}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (shingle inverted-index
    self-join).  Scale warning: exact pairwise is the *verification*
    stage; candidate generation at 100 TB is the MinHash-LSH variant
    below."""
    return (
        _exact_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", F.col("jaccard_r6").alias("jaccard"))
    )


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_SHINGLE_SQL}
    SELECT doc_a, doc_b, jaccard_r6 AS jaccard
    FROM pair_jaccard WHERE jaccard >= {JACCARD_T}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.col("jaccard_r6").alias("jaccard")
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """32-permutation minhash signature per document from 32
    INDEPENDENT seeded hashes (``xxhash64(shingle, seed)``).

    r3 correction: the r2 "parametric" construction (one base hash + 32
    affine ``a·h+b mod p`` maps with small multipliers) is NOT
    collision-equivalent to independent permutations — affine maps of
    one base value are mutually correlated (small multipliers are
    near-monotone over much of the range, so many "permutations" share
    their argmin), which collapsed the effective band count and MISSED
    a jaccard-0.947 pair at sf0.1 (independence math says such a miss
    is a 1.6e-16 event; the correlation made it real).  With true
    per-seed hashes the banded miss probability at τ = 0.8 is the
    documented (1−j²)^16 ≤ 5e-11.  Cost: 32 cheap JVM xxhash64 calls
    per (doc, shingle) row instead of 1 + 32 affine ops — hashing is
    not the path's bottleneck (the shuffle and verify join are)."""
    return sh.groupBy("doc_id").agg(*_minhash_min_cols())


def _minhash_min_cols() -> list[Column]:
    """THE hash family, in one place: the 32 per-seed min aggregates
    used by :func:`minhash_signatures` AND the fused per-doc aggregate
    in :func:`_near_dup_pairs_impl` — the estimator audit joins one
    path's signatures against the other path's pairs, so the two must
    never diverge (the r3 affine→independent-seed correction is the
    cautionary tale)."""
    return [
        F.min(F.xxhash64("shingle", F.lit(i))).alias(f"h{i}") for i in range(N_HASHES)
    ]


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoizing wrapper over :func:`_near_dup_pairs_impl`: five
    registered queries (clustering, survivor pick, and the whole graph
    pack) all read the SAME verified pair table, so it is materialized
    once per (session, corpus) — exactly how a production pipeline
    treats the pair table at 100 TB (build it once, persist, fan out
    consumers) instead of re-running minhash+LSH per downstream job."""

    def build():
        pairs, per_doc = _near_dup_pairs_impl(spark, sf_dir)
        # r12 (guide §1/§2.4): the checkpoint job reads per_doc from
        # FOUR concurrent subtrees (band self-join l/r + verify a/b);
        # with a cold cache they raced the fill and each re-ran the
        # full shingle+minhash aggregate side by side.  Filling the
        # scratch cache in its own job first makes the checkpoint's
        # four reads cache hits — same plan, same rows, one pass.
        per_doc.count()
        pairs = memo.pin(pairs)
        # the pin materialized the pairs; the per-doc scratch
        # (32 hashes + the full hashed shingle set per doc) is never
        # read again
        per_doc.unpersist()
        return pairs, ()

    return memo.get(spark, sf_dir, "near_dup_pairs", build, reads=("documents",))


def _near_dup_pairs_impl(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """MinHash+LSH near-dup detection, end to end — THE production path
    (also the pair substrate for clustering and the dup graph):

    df-capped shingle → 32-permutation seeded-hash minhash signature
    (one groupBy with 32 min() aggregates — a single shuffle) → 16
    two-row bands → band-bucket self-join (candidates only from hash
    collisions) → exact Jaccard computed FOR THE CANDIDATES ONLY
    (:func:`_jaccard_for_candidates`): no stage anywhere touches
    all pairs, so the LSH pruning survives into the verify step —
    the full pipeline is linear in corpus + candidates.

    Deterministic; oracle = exact Jaccard pairs (miss probability
    ≤ (1-0.8²)^16 ≈ 5e-11 per qualifying pair, i.e. the outputs
    coincide).

    Returns (pair plan, per-doc scratch frame): the plan reads the
    cached per-doc aggregate, which the caller releases once the pairs
    are materialized.  The impl stays checkpoint-free so plan tests can
    audit the real query plan."""
    sh = shingles(spark, sf_dir)
    # ONE groupBy(doc_id) computes the 32 min-hashes AND the verify
    # stage's hashed shingle set + exact size — the signature and
    # doc-set aggregates previously each shuffled the full exploded
    # stream (the two consumers prune different columns, so Catalyst
    # cannot reuse the exchange); fusing them halves the path's
    # corpus-stream shuffles.  The cached frame is one row per doc
    # (far smaller than the exploded stream the old shape cached).
    per_doc = sh.groupBy("doc_id").agg(
        *_minhash_min_cols(),
        F.collect_set(F.xxhash64("shingle")).alias("hs"),
        F.count(F.lit(1)).alias("n"),
    ).cache()
    rows_per_band = N_HASHES // N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(N_BANDS)
        ]
    )
    banded = per_doc.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    l, r = banded.alias("l"), banded.alias("r")
    candidates = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = (
        _jaccard_from_doc_sets(per_doc.select("doc_id", "hs", "n"), candidates)
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard", "jaccard_r6")
    )
    return pairs, per_doc


@register(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), tok AS (
      SELECT DISTINCT doc_id, unnest(w) AS token FROM toks
    ), tok_hash AS (
      SELECT doc_id, CAST(('0x' || substr(md5(token), 1, {SIMHASH_BITS // 4}))::UBIGINT AS BIGINT) AS h
      FROM tok
    ), bit_votes AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM tok_hash CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BITS})) AS bit) b
      GROUP BY doc_id, b.bit
    ), sigs AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN vote > 0 THEN (1::UBIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
      FROM bit_votes GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT)) <= {HAMMING_T}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit signature = per-bit majority vote
    of token hashes (md5-derived so both engines agree), pairs within
    Hamming ≤ {HAMMING_T}.

    Candidate generation is EXACT banded blocking (pigeonhole): the 60
    bits split into HAMMING_T+1 = 3 bands of 20; a pair differing in
    ≤ {HAMMING_T} bits must agree exactly on ≥ 1 band, so an equi-join
    on (band, band-bits) finds every qualifying pair with NO all-pairs
    stage and NO recall loss — the oracle's all-pairs formulation
    stays valid verbatim.  Verification re-checks full Hamming on the
    (distinct) candidates only.

    r13: tokens come from the shared :func:`token_arrays` memo (one
    corpus tokenize per session instead of a private scan+split), and
    the explode inherits its 32-way width."""
    tok = token_arrays(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct("toks")).alias("token")
    )
    h = F.conv(F.substring(F.md5("token"), 1, SIMHASH_BITS // 4), 16, 10).cast("bigint")
    tok_hash = tok.select("doc_id", h.alias("h"))
    bits = tok_hash.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
    ).select(
        "doc_id",
        "bit",
        F.expr(
            "CASE WHEN shiftright(h, CAST(bit AS INT)) & 1 = 1 THEN 1 ELSE -1 END"
        ).alias("vote"),
    )
    sigs = (
        bits.groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("vote"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("vote") > 0,
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"),
                ).otherwise(F.lit(0).cast("bigint"))
            ).alias("simhash")
        )
    )
    sigs = sigs.cache()  # shared by banding + verify
    # r12: four concurrent readers (band l/r + verify a/b) raced the
    # cold cache and re-ran the 60-bit vote aggregate 4× in parallel;
    # an up-front fill job makes them all cache hits (guide §1/§2.4)
    sigs.count()
    n_bands = HAMMING_T + 1
    band_bits = SIMHASH_BITS // n_bands
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"shiftright(simhash, {b * band_bits}) "
                            f"& {(1 << band_bits) - 1}"
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_T)
    )


N_COSINE_BLOCKS = 16
# Registered-query cap on the EXACT all-pairs baseline (VERDICT r2
# "what's wrong #2"): the blocked GEMM is O(n_cap²·d) no matter how
# large the corpus grows.  10k ≥ the embeddings table at every test SF
# (500 / 500 / 2000), so gate results are unchanged; at 100 TB the
# registered form degrades gracefully to a ~10k-vector audit sample and
# the production path is the bucketed sign-LSH twin
# (`dedup_embedding_cosine_bucketed`).  Full-corpus exact remains
# available as the opt-in `dedup_embedding_cosine_full` (unregistered).
EXACT_COSINE_CAP = 10_000


from .sampling import cap_sample as _cap_sample
from .sampling import sql_cap_sample as _sql_cap_sample


@register(
    "dedup_embedding_cosine_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM {_sql_cap_sample("vec_id", "embeddings", EXACT_COSINE_CAP)})
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= {COSINE_T}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via **block-wise matrix
    multiply** over a deterministic ≤{EXACT_COSINE_CAP}-vector hash
    sample (cap ≥ corpus at every test SF, so the sample is the whole
    table there; at 100 TB the registered query stays a bounded audit
    — `dedup_embedding_cosine_full` is the opt-in full-corpus form and
    `dedup_embedding_cosine_bucketed` the production LSH path).

    Vectors are hashed into B blocks, the B·(B+1)/2 block pairs are
    joined, and each block pair runs one vectorized NumPy GEMM inside
    ``mapInPandas``, emitting only pairs ≥ τ.

    This is the scalable all-pairs plan: O(n²·d) flops stay, but they
    run as ~B² dense matrix products (SIMD, Arrow-batched) instead of
    n²/2 per-row array allocations — ~40× faster than the per-pair
    `zip_with` formulation at sf0.1, and each task's memory is bounded
    by two blocks regardless of n."""
    return _embedding_cosine_pairs(spark, sf_dir, EXACT_COSINE_CAP)


def dedup_embedding_cosine_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opt-in FULL-CORPUS exact all-pairs (not registered): O(N²·d) —
    run deliberately, on a corpus you have sized, or use the capped
    registered form / the LSH-bucketed twin."""
    return _embedding_cosine_pairs(spark, sf_dir, None)


def _embedding_cosine_pairs(
    spark: SparkSession, sf_dir: str, n_cap: int | None
) -> DataFrame:
    import numpy as np
    import pandas as pd

    base = table(spark, sf_dir, "embeddings")
    # NULL embeddings carry no vector: they can't form a pair on either
    # engine (oracle similarity of NULL fails the threshold) but a None
    # inside the GEMM batch crashed the worker (round-8 edge fuzz)
    base = base.filter(F.col("embedding").isNotNull())
    if n_cap is not None:
        base = _cap_sample(base, "vec_id", n_cap)
    e = base.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        (F.col("vec_id") % N_COSINE_BLOCKS).alias("block"),
    )
    blocks = e.groupBy("block").agg(
        F.collect_list(F.struct("vec_id", "v")).alias("items")
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = a.join(b, F.col("a.block") <= F.col("b.block")).select(
        F.col("a.block").alias("block_a"),
        F.col("a.items").alias("items_a"),
        F.col("b.block").alias("block_b"),
        F.col("b.items").alias("items_b"),
    )

    def gemm(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for blk_a, items_a, blk_b, items_b in zip(
                pdf["block_a"], pdf["items_a"], pdf["block_b"], pdf["items_b"]
            ):
                ids_a = np.array([it["vec_id"] for it in items_a])
                ids_b = np.array([it["vec_id"] for it in items_b])
                ma = np.array([it["v"] for it in items_a])
                mb = np.array([it["v"] for it in items_b])
                ma /= np.linalg.norm(ma, axis=1, keepdims=True)
                mb /= np.linalg.norm(mb, axis=1, keepdims=True)
                sims = ma @ mb.T
                ia, ib = np.nonzero(sims >= COSINE_T)
                va, vb, sc = ids_a[ia], ids_b[ib], sims[ia, ib]
                if blk_a == blk_b:
                    keep = va < vb  # each unordered pair appears (i,j) and (j,i)
                    va, vb, sc = va[keep], vb[keep], sc[keep]
                else:  # cross-block: appears once; canonicalize order
                    va, vb = np.minimum(va, vb), np.maximum(va, vb)
                out_a.append(va)
                out_b.append(vb)
                out_c.append(sc)
            if out_a:
                yield pd.DataFrame(
                    {
                        "vec_a": np.concatenate(out_a),
                        "vec_b": np.concatenate(out_b),
                        "_cos": np.concatenate(out_c),
                    }
                )

    scored = pairs.mapInPandas(gemm, "vec_a BIGINT, vec_b BIGINT, _cos DOUBLE")
    return scored.select("vec_a", "vec_b", F.round("_cos", 6).alias("cosine"))


N_SIGN_BANDS = 2
# Band WIDTH (sign bits per band) is DATA-DRIVEN (VERDICT r9 #2 sweep):
# a fixed width is a fixed bucket count (2^width per band), so bucket
# sizes — and the bucket self-join — grow n²/2^width once the corpus
# outruns it, the same trap the fuzzy-join block key hit at sf1.  The
# law, computed inside the plan and mirrored verbatim in the DuckDB
# oracle: width = max(SIGN_BAND_DIMS_MIN, bits(ceil(n / B))) with
# B = SIGN_BUCKET_TARGET, capped at floor(dim / N_SIGN_BANDS) so the
# bands stay disjoint coordinate slices.  bits(x) = length(bin(x)) is
# exact integer arithmetic in both engines (no float-log edge).  At the
# test SFs (500-2000 vectors) the law yields the historical 8, so gate
# results are unchanged; at 1M vectors it yields 14 (16k buckets/band).
SIGN_BAND_DIMS_MIN = 8
SIGN_BUCKET_TARGET = 64
# near-dup regime: sign-LSH prunes well only for genuinely close
# vectors (per-hyperplane agreement 1−θ/π); τ=0.4 "related" pairs are
# the GEMM baseline's job, τ≥0.85 near-dups are LSH's
NEARDUP_COSINE_T = 0.85
TWIN_OFFSET = 100_000  # planted twin ids = vec_id + offset


def sign_band_dims(n: int, dim: int) -> int:
    """Python mirror of the in-plan band-width law (tests + docs):
    max(8, bit-length of ceil(n/64)), capped at floor(dim/2)."""
    import math

    bits = len(bin(int(math.ceil(n / float(SIGN_BUCKET_TARGET))))) - 2
    return min(max(SIGN_BAND_DIMS_MIN, bits), dim // N_SIGN_BANDS)


@register(
    "dedup_embedding_cosine_bucketed",
    oracle=f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    kk AS (
      -- data-driven band width: bits(ceil(n/B)) buckets/band, floored
      -- at {SIGN_BAND_DIMS_MIN}, capped at dim/{N_SIGN_BANDS} (see
      -- sign_band_dims in dedup.py — exact same arithmetic)
      SELECT least(
               greatest({SIGN_BAND_DIMS_MIN},
                        length(bin(CAST(ceil(count(*) / {SIGN_BUCKET_TARGET}.0)
                                        AS BIGINT)))),
               (SELECT CAST(floor(min(len(v)) / {N_SIGN_BANDS}.0) AS INT)
                FROM base)) AS k
      FROM base),
    twins AS (
      -- planted near-dups: every 10th vector gets a twin with dim 1
      -- nudged by +0.05 (deterministic, reproduced identically here
      -- and in the engine)
      SELECT vec_id + {TWIN_OFFSET} AS vec_id,
             list_transform(range(1, len(v) + 1),
               i -> CASE WHEN i = 1 THEN v[i] + 0.05 ELSE v[i] END) AS v
      FROM base WHERE vec_id % 10 = 0),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
    sig AS (
      SELECT vec_id, v,
             array_to_string(list_transform(v[1:(SELECT k FROM kk)],
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS b0,
             array_to_string(list_transform(
               v[(SELECT k FROM kk) + 1:2 * (SELECT k FROM kk)],
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS b1
      FROM corpus),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sig a JOIN sig b
        ON a.vec_id < b.vec_id AND (a.b0 = b.b0 OR a.b1 = b.b1))
    SELECT c.vec_a, c.vec_b,
           round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
    FROM cand c
    JOIN corpus ea ON ea.vec_id = c.vec_a
    JOIN corpus eb ON eb.vec_id = c.vec_b
    WHERE list_cosine_similarity(ea.v, eb.v) >= {NEARDUP_COSINE_T}
    """,
)
def dedup_embedding_cosine_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, LSH-GATED — the 100 TB path that the
    exact all-pairs GEMM baseline (`dedup_embedding_cosine_pairs`)
    recommends for itself: {N_SIGN_BANDS} bands of sign bits
    (deterministic axis-hyperplane signatures, so the oracle reproduces
    them in SQL); candidate pairs share at least one band-bucket; exact
    cosine is computed ONLY for candidates.

    Band WIDTH is data-driven (see :func:`sign_band_dims` and the
    module comment): bits(ceil(n/{SIGN_BUCKET_TARGET})) per band, so
    the bucket count — and therefore the bucket self-join's per-bucket
    quadratic — tracks the corpus instead of re-arming every decade.
    The scalar width is one agg broadcast onto the corpus; both the
    Spark plan and the DuckDB oracle compute it from the same exact
    integer arithmetic.

    The fixture corpus has no true near-dups (max pair cosine ≈ 0.51),
    so the query PLANTS them: every 10th vector gains a twin with one
    dim nudged — deterministic in both engines.  A qualifying pair is
    missed only when its sign pattern differs in BOTH bands; for
    near-identical vectors the flip probability per band is tiny
    (recall pinned in tests/test_dedup_substrate.py).  Every stage is
    an equi-join or hash aggregate: bucket self-joins are bounded by
    bucket sizes, the verify join is linear in candidates."""
    # base feeds FIVE subtrees (band-width scalar, planted twins, both
    # sides of the bucket self-join, and the two verify-join sides):
    # left lazy they each re-derived the scan+cast — 20 embeddings
    # scans in the committed before-plan.  Pinning it runs the corpus
    # read once; every downstream stage is a memory read.  (Kept
    # per-query, NOT the sim_* vector memo: this scan deliberately KEEPS
    # NULL embeddings — the oracle's base CTE has no NULL filter.)
    base = memo.pin(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
    )
    # scalar band width from the corpus count (exact mirror of the
    # oracle's kk CTE — bit-length arithmetic, no float-log edge)
    kdf = base.agg(
        F.least(
            F.greatest(
                F.lit(SIGN_BAND_DIMS_MIN),
                F.length(
                    F.bin(
                        F.ceil(
                            F.count(F.lit(1)) / F.lit(float(SIGN_BUCKET_TARGET))
                        ).cast("long")
                    )
                ),
            ),
            F.floor(F.min(F.size("v")) / F.lit(N_SIGN_BANDS)).cast("int"),
        ).alias("k")
    )
    twins = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + TWIN_OFFSET).alias("vec_id"),
        F.transform(
            "v", lambda x, i: F.when(i == 0, x + 0.05).otherwise(x)
        ).alias("v"),
    )
    vecs = base.unionByName(twins)

    def band(b: int) -> Column:
        return F.concat_ws(
            "",
            F.transform(
                F.slice(F.col("v"), F.lit(1) + F.lit(b) * F.col("k"), F.col("k")),
                lambda x: F.when(x >= 0, "1").otherwise("0"),
            ),
        )

    sig = (
        vecs.crossJoin(F.broadcast(kdf))
        .select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(b).alias("band"), band(b).alias("bucket"))
                        for b in range(N_SIGN_BANDS)
                    ]
                )
            ).alias("bb"),
        )
        .select(
            "vec_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
    )
    l, r = sig.alias("l"), sig.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(F.col("l.vec_id").alias("vec_a"), F.col("r.vec_id").alias("vec_b"))
        .distinct()
    )
    va = vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("v_a"))
    vb = vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("v_b"))
    dot = F.aggregate(
        F.zip_with(F.col("v_a"), F.col("v_b"), lambda p, q: p * q),
        F.lit(0.0),
        lambda a, z: a + z,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.zip_with(c, c, lambda p, q: p * q), F.lit(0.0), lambda a, z: a + z)
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cosine", dot / (norm(F.col("v_a")) * norm(F.col("v_b"))))
        .filter(F.col("cosine") >= NEARDUP_COSINE_T)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component) labels for every document that appears in a
    near-dup pair — iterative min-label propagation (see
    :func:`dedup_components_clusters` for the scale rationale).

    Edges come from the LSH-bounded :func:`near_dup_pairs` path, NOT
    the all-pairs exact baseline: at τ=0.8 the two provably coincide
    (per-pair miss ≤ 5e-11), so the recursive-CTE oracle stays valid
    while the Spark plan stays linear.

    Memoized per (session, corpus): both registered consumers (cluster
    summary + survivor pick) need the SAME converged labels, and the
    propagation loop costs a handful of checkpoint-barrier jobs each
    time it runs."""
    return memo.get(
        spark,
        sf_dir,
        "component_labels",
        lambda: (_component_labels_impl(spark, sf_dir), ()),
        reads=("documents",),
    )


#: Edge count below which connected components run as one driver-side
#: union-find instead of the distributed propagation loop.  Sized for
#: the PYTHON representation the fast path actually builds — collected
#: Row objects (~100 B/edge), a parent dict of up to 2 ints/edge and
#: the re-pickled result tuples — ~50 MB of driver heap at the cap,
#: not the raw 16 B/edge of the binary encoding.  The loop's fixed
#: cost is 2-4 checkpoint-barrier jobs (several seconds of scheduling
#: even on a 25-edge fixture graph), so the fast path still covers
#: every realistic "small dup graph".  Above the cap the log-diameter
#: loop takes over; the cap is a module constant so tests can force
#: either path.
LOCAL_CC_EDGE_CAP = 100_000


def _component_labels_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # near_dup_pairs is pinned, so this count is a cheap scan of an
    # in-memory RDD, not a recompute
    if pairs.count() <= LOCAL_CC_EDGE_CAP:
        return _component_labels_local(spark, pairs)
    return _component_labels_loop(spark, pairs)


def _component_labels_local(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Small-graph fast path: min-label union-find on the driver.

    Gated by :data:`LOCAL_CC_EDGE_CAP` — a graph that fits comfortably
    in one task is solved in one task; the distributed loop exists for
    the billion-edge case, not to spend checkpoint-barrier jobs on a
    fixture-sized graph.  Union-by-min-root + path compression keeps
    every tree rooted at its component's minimum member, so labels are
    bit-identical to the propagation loop's fixpoint (pinned by
    ``test_local_and_loop_components_agree``)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs.collect():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    rows = [(x, find(x)) for x in sorted(parent)]
    return spark.createDataFrame(rows, "doc_id BIGINT, component BIGINT")


def _component_labels_loop(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    sym = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).cache()
    labels = memo.pin(
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
    )

    def propagate(lab: DataFrame) -> DataFrame:
        # ONE join + ONE min-aggregate per round: a message table unions
        # the graph edges with each node's LABEL POINTER (doc_id →
        # component), so the same join delivers both the neighbors'
        # labels AND label(label(x)) — neighbor propagation and pointer
        # doubling (hash-to-min shortcutting → log rounds on chains)
        # fused into one shuffle.  x's own label is dominated by
        # label(label(x)) (labels only decrease, so lab(p) ≤ p =
        # lab(x)), and every node appears via its pointer message, so
        # the min over messages IS the stepped+doubled label — the
        # earlier 3-join formulation (neighbor groupBy + left join +
        # doubling self-join) computed exactly this at 3× the shuffle
        # count (9M-edge smoke: 104 → ~60 s).
        msgs = sym.select(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("src")).union(
            lab.select("doc_id", F.col("component").alias("src"))
        )
        return (
            msgs.join(
                lab.select(F.col("doc_id").alias("src"), "component"), "src"
            )
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
        )

    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    for _ in range(10):
        # TWO propagation rounds per checkpoint + convergence check:
        # the checkpoint job and the driver round trip are the per-
        # iteration fixed cost, and an extra round past the fixpoint is
        # idempotent — so halving the barrier count is free accuracy-
        # wise and ~halves the loop's scheduling overhead
        labels = memo.pin(propagate(propagate(labels)))
        # labels only ever decrease, so the label sum is strictly
        # monotone until the fixpoint — convergence detection for the
        # cost of one aggregate instead of a self-join + filter
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # the returned frame is pinned, so the edge cache is no longer needed — release the executor storage it
    # pinned rather than letting one entry leak per corpus
    sym.unpersist()
    return labels


@register(
    "dedup_components_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    edges AS (SELECT doc_a, doc_b FROM pair_jaccard WHERE jaccard >= {JACCARD_T}),
    sym AS (SELECT doc_a AS src, doc_b AS dst FROM edges
            UNION SELECT doc_b, doc_a FROM edges),
    reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
    comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
             FROM reach GROUP BY src)
    SELECT component,
           count(*)            AS n_members,
           min(doc_id)         AS min_doc,
           max(doc_id)         AS max_doc
    FROM comp GROUP BY component
    ORDER BY component
    """,
)
def dedup_components_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the Jaccard pair
    graph — the step that turns pairwise dup detection into "keep one
    document per cluster".  Hybrid: graphs at/under
    :data:`LOCAL_CC_EDGE_CAP` edges solve as one driver-side
    union-find (a graph that fits in one task is solved in one task);
    larger graphs run iterative min-label propagation.

    Scale (loop path): each iteration is one shuffle join (edges ⨝
    labels) + a min-aggregate; iterations needed = component diameter,
    and near-dup clusters are shallow (dups of a common ancestor), so
    3–5 rounds converge (smoked at 9M edges / 1M chain components).
    Pinning each round (`memo.pin`) truncates the growing loop lineage —
    without it the plan doubles every round and the driver, not the
    data, becomes the bottleneck.  (At extreme skew the alternating
    large-star/small-star variant halves rounds; same join shape.)
    The DuckDB oracle computes the same components with a recursive
    transitive closure — feasible only because sf-scale graphs are
    tiny; the Spark path is the one that scales."""
    labels = component_labels(spark, sf_dir)
    return (
        labels.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("component")
    )


@register(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    edges AS (SELECT doc_a, doc_b FROM pair_jaccard WHERE jaccard >= {JACCARD_T}),
    sym AS (SELECT doc_a AS src, doc_b AS dst FROM edges
            UNION SELECT doc_b, doc_a FROM edges),
    reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
    comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
             FROM reach GROUP BY src),
    lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
                   d.n_chars
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    ranked AS (
      SELECT component, doc_id, n_chars,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, doc_id) AS rk,
             count(*) OVER (PARTITION BY component) AS n_members
      FROM lab)
    SELECT component, doc_id AS rep_doc, n_members, n_chars AS rep_chars
    FROM ranked WHERE rk = 1 ORDER BY component
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection over near-dup clusters: every document
    gets a component label (docs in no pair are their own singleton
    cluster), and each cluster keeps its highest-quality member —
    quality = ``n_chars`` here, doc_id as the deterministic tiebreak.
    This is the step that turns dup DETECTION into a curated corpus:
    drop count = Σ(n_members − 1).

    Scale: the labels frame is tiny relative to the corpus (only docs
    appearing in pairs), so the label join is broadcast-able; the
    per-cluster argmax is a window over the component key — state is
    one row per cluster, partition-parallel.  No full-corpus shuffle
    beyond the one component-key exchange."""
    from pyspark.sql import Window

    labels = component_labels(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lab = d.join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        "n_chars",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        lab.select(
            "component",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy("component")).alias("n_members"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("rep_doc"),
            "n_members",
            F.col("n_chars").alias("rep_chars"),
        )
        .orderBy("component")
    )


@register(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH {_SHINGLE_SQL}
    SELECT CASE WHEN jaccard >= 0.9 THEN '0.9'
                WHEN jaccard >= 0.7 THEN '0.7'
                WHEN jaccard >= 0.5 THEN '0.5'
                ELSE '<0.5' END AS threshold_band,
           count(*) AS n_pairs,
           round(min(jaccard), 6) AS min_jaccard,
           round(max(jaccard), 6) AS max_jaccard
    FROM pair_jaccard
    GROUP BY 1 ORDER BY threshold_band
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard threshold sensitivity in ONE pass: candidate pairs
    bucketed by the threshold band they'd survive (≥0.9 / ≥0.7 / ≥0.5 /
    below) — the sweep that picks a dedup operating point WITHOUT
    re-running the pipeline per threshold.  Pair generation cost is paid
    once; the bands are a row-local CASE over the scored pairs."""
    pairs = _exact_jaccard_pairs(spark, sf_dir)
    band = (
        F.when(F.col("jaccard") >= 0.9, "0.9")
        .when(F.col("jaccard") >= 0.7, "0.7")
        .when(F.col("jaccard") >= 0.5, "0.5")
        .otherwise("<0.5")
    )
    return (
        pairs.groupBy(band.alias("threshold_band"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .orderBy("threshold_band")
    )


@register(
    "dedup_shared_passage_ratio",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
                  FROM documents),
    g AS (SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
                                       i -> array_to_string(w[i:i+7], ' '))) AS gram
          FROM toks WHERE len(w) >= 8),
    df AS (SELECT gram, count(*) AS d FROM g GROUP BY gram),
    per_doc AS (
      SELECT g.doc_id,
             count(*) AS n_grams,
             sum(CASE WHEN df.d > 1 THEN 1 ELSE 0 END) AS n_shared
      FROM g JOIN df USING (gram) GROUP BY g.doc_id)
    SELECT CASE WHEN n_shared * 10 >= n_grams * 9 THEN '0.9'
                WHEN n_shared * 2  >= n_grams     THEN '0.5'
                WHEN n_shared > 0                 THEN '>0'
                ELSE 'unique' END AS shared_band,
           count(*)      AS n_docs,
           CAST(sum(n_grams) AS BIGINT)  AS total_grams,
           CAST(sum(n_shared) AS BIGINT) AS total_shared
    FROM per_doc GROUP BY 1 ORDER BY shared_band
    """,
)
def dedup_shared_passage_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage audit: for every document, the
    fraction of its distinct word-8-grams that appear in at least one
    OTHER document — the passage-level duplication signal (templates,
    boilerplate, syndicated text) that pairwise near-dup detection
    misses when no single pair clears τ.  Docs are banded by shared
    ratio (≥0.9 near-copies / ≥0.5 heavy reuse / >0 / unique).

    Plan: distinct 8-grams per doc (one scan + explode), gram document
    frequency (hash agg, partial-agg'd), a gram-keyed equi-join back,
    then a per-doc aggregate — all linear; band thresholds compare
    integers (n_shared·k vs n_grams·m), no float ratios to flake.

    Measured construction note: grams are concat_ws strings, NOT
    xxhash64 over the token slice — hashing an ARRAY per gram walks a
    serialized representation and benched 6× slower than the string
    build (3.9 s vs 0.7 s at sf0.1); string grams also group byte-
    identically to the oracle's.

    r13: the tokenize pass comes from the shared :func:`token_arrays`
    memo (already 32-way repartitioned + cached), so this query no
    longer re-scans and re-splits the corpus for its k=8 grams."""
    d = token_arrays(spark, sf_dir)
    toks = F.col("toks")
    k = 8
    grams = kgrams(toks, k)
    # distinct AFTER the explode, not array_distinct on the per-doc
    # array: array_distinct is O(len²) per row and long documents make
    # it the bottleneck; the exploded dropDuplicates dedups map-side
    # before one (doc, gram) shuffle.  g is pinned for its two
    # consumers (frequency + join).
    g = memo.pin(
        d.where(F.size(toks) >= k)
        .select("doc_id", F.explode(grams).alias("gram"))
        .dropDuplicates(["doc_id", "gram"])
    )
    df_counts = g.groupBy("gram").agg(F.count(F.lit(1)).alias("d"))
    per_doc = (
        g.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0)).alias("n_shared"),
        )
    )
    band = (
        F.when(F.col("n_shared") * 10 >= F.col("n_grams") * 9, "0.9")
        .when(F.col("n_shared") * 2 >= F.col("n_grams"), "0.5")
        .when(F.col("n_shared") > 0, ">0")
        .otherwise("unique")
    )
    return (
        per_doc.groupBy(band.alias("shared_band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_shared").alias("total_shared"),
        )
        .orderBy("shared_band")
    )


CONTAINMENT_T = 0.9


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_SHINGLE_SQL}
    SELECT doc_a, doc_b,
           {oracle_round_quotient("inter", "least(sa.n, sb.n)", 6)} AS containment
    FROM pair_inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter >= {CONTAINMENT_T} * least(sa.n, sb.n)
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT pairs: |A∩B| / min(|A|,|B|) ≥ {CONTAINMENT_T} —
    the asymmetric cousin of Jaccard that catches a short document
    embedded inside a much longer one (quotes, concatenated shards),
    which symmetric Jaccard misses (the union dilutes the overlap).

    Substrate note: minhash-LSH approximates JACCARD, so its bands
    cannot prune for containment; the pair generation is the df-capped
    co-shingle index (`_exact_jaccard_pairs` posture — the cap bounds
    every posting list), with the integer comparison
    ``inter ≥ τ·min(n)`` evaluated before the float ratio."""
    pairs = _exact_jaccard_pairs(spark, sf_dir)
    mn = F.least(F.col("na"), F.col("nb"))
    return (
        pairs.filter(F.col("inter") >= CONTAINMENT_T * mn)
        .select(
            "doc_a",
            "doc_b",
            round_quotient(F.col("inter"), mn, 6).alias("containment"),
        )
    )


BOUNDARY_K = 4  # tokens hashed at each document boundary


@register(
    "dedup_boundary_stitch_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents),
    b AS (
      SELECT doc_id,
             array_to_string(toks[1:{BOUNDARY_K}], ' ')  AS head_gram,
             array_to_string(toks[-{BOUNDARY_K}:], ' ')  AS tail_gram
      FROM t WHERE len(toks) >= {BOUNDARY_K})
    SELECT a.doc_id AS doc_a, h.doc_id AS doc_b, a.tail_gram AS boundary_gram
    FROM b a JOIN b h ON a.tail_gram = h.head_gram AND a.doc_id != h.doc_id
    ORDER BY doc_a, doc_b
    """,
)
def dedup_boundary_stitch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-boundary stitch detection: pairs where one document's
    LAST K=4 tokens equal another's FIRST K=4 tokens — the signature of
    a crawl/chunker that split one source document across records (the
    inverse problem of `pipeline_chunk_documents`).  Re-joining such
    chains before near-dup scoring prevents both halves surviving
    dedup as "distinct" documents.

    Scale shape: each doc contributes ONE head key and ONE tail key
    (row-local slices — no shingle explosion), and detection is a plain
    equi-join on the boundary gram — hash-partitioned, linear, no
    candidate blow-up: the cheapest member of the dedup family.

    r13: reads the shared :func:`token_arrays` memo.  The r12 eager
    localCheckpoint of the boundary frame is gone with it — both join
    sides now read the CACHED token frame and the head/tail slices are
    row-local map work, so re-deriving them per side costs two cheap
    cache reads instead of a scan+tokenize each, and the checkpoint's
    job barrier is saved."""
    t = token_arrays(spark, sf_dir)
    k = BOUNDARY_K
    b = t.filter(F.size("toks") >= k).select(
        "doc_id",
        F.concat_ws(" ", F.slice("toks", 1, k)).alias("head_gram"),
        F.concat_ws(" ", F.slice(F.col("toks"), -k, k)).alias("tail_gram"),
    )
    a = b.select(F.col("doc_id").alias("doc_a"), F.col("tail_gram").alias("boundary_gram"))
    h = b.select(F.col("doc_id").alias("doc_b"), F.col("head_gram"))
    return (
        a.join(h, (F.col("boundary_gram") == F.col("head_gram")) & (F.col("doc_a") != F.col("doc_b")))
        .select("doc_a", "doc_b", "boundary_gram")
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_lsh_s_curve",
    oracle="""
    SELECT CAST(round(s, 2) AS DOUBLE) AS jaccard_s,
           round(1 - pow(1 - pow(s, 1.0),  32), 6) AS p_b32_r1,
           round(1 - pow(1 - pow(s, 2.0),  16), 6) AS p_b16_r2,
           round(1 - pow(1 - pow(s, 4.0),   8), 6) AS p_b8_r4,
           round(1 - pow(1 - pow(s, 8.0),   4), 6) AS p_b4_r8
    FROM (SELECT unnest(generate_series(1, 19)) * 0.05 AS s)
    ORDER BY jaccard_s
    """,
)
def dedup_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding S-curve P(candidate | jaccard=s) = 1−(1−s^r)^b
    for every (b, r) split of the 32-permutation signature — the tuning
    table that justifies the production choice b=16, r=2 in
    :func:`near_dup_pairs` (threshold ≈ (1/b)^(1/r) ≈ 0.25 candidate
    knee, miss ≤ 5e-11 at τ = 0.8).  Pure engine math on a generated
    grid — zero data touched — kept as a registered query so the
    parameter policy itself is oracle-certified, engine to engine."""
    s = spark.range(1, 20).select((F.col("id") * 0.05).alias("s"))
    out = s.select(
        F.round("s", 2).alias("jaccard_s"),
        *[
            F.round(1 - F.pow(1 - F.pow(F.col("s"), float(r)), float(b)), 6).alias(
                f"p_b{b}_r{r}"
            )
            for b, r in ((32, 1), (16, 2), (8, 4), (4, 8))
        ],
    )
    return out.orderBy("jaccard_s")


@register(
    "dedup_minhash_estimator_audit",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL}
    SELECT doc_a, doc_b, jaccard_r6 AS jaccard,
           round(2 * sqrt(jaccard * (1 - jaccard) / {N_HASHES}), 6)
             AS two_sigma_bound
    FROM pair_jaccard WHERE jaccard >= {JACCARD_T}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR calibration: for every verified near-dup pair,
    compare the signature-agreement estimate (matching components / 32
    — an unbiased estimator of Jaccard with σ = sqrt(j(1−j)/32) ≈ 0.07
    at j = 0.8) against the exact Jaccard, and flag whether the
    estimate sits within 2σ ≈ 0.14.  This is the audit that justifies
    trusting signature agreement as a FIRST-PASS similarity (skipping
    the exact verify) when a pipeline needs to trade precision for
    another 10× throughput.

    The exact Jaccards and the 2σ bound (a pure function of jaccard)
    are oracle-pinned DATA; the within-bound assertion lives in
    tests/test_dedup_substrate.py with a documented allowance — a 2σ
    bound is a ~95% statement, so hard-pinning `true` per pair in the
    oracle (the r2 shape) would fail spuriously on the ~5% of
    borderline pairs under any fixture/parameter change (ADVICE r2).
    Cost: one extra signature self-join ON THE VERIFIED PAIRS ONLY
    (tiny), reusing the memoized pair table."""
    pairs = near_dup_pairs(spark, sf_dir)
    sh = shingles(spark, sf_dir)
    sig = minhash_signatures(sh)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    est = matches / float(N_HASHES)
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("jaccard_r6").alias("jaccard"),
            F.round(
                2
                * F.sqrt(
                    F.col("jaccard") * (1 - F.col("jaccard")) / F.lit(N_HASHES)
                ),
                6,
            ).alias("two_sigma_bound"),
        )
        .orderBy("doc_a", "doc_b")
    )


def minhash_estimator_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate-vs-exact detail for the tolerance TEST (not registered:
    the estimate is engine-internal xxhash64, so no SQL oracle can
    reproduce it): (doc_a, doc_b, jaccard, est_jaccard, abs_err)."""
    pairs = near_dup_pairs(spark, sf_dir)
    sig = minhash_signatures(shingles(spark, sf_dir))
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    est = matches / float(N_HASHES)
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            est.alias("est_jaccard"),
            F.abs(est - F.col("jaccard")).alias("abs_err"),
        )
    )
