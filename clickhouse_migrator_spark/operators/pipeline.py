"""End-to-end training-data curation pipeline (flagship composite):

    language-ID gate → quality gate → exact near-dup removal →
    deterministic subsampling

chained as ONE declarative DataFrame plan — no intermediate
materialization, so Catalyst fuses the gates into the scan and the
only shuffles are the dedup groupBy and the final ordering.  This is
the shape a 100 TB corpus-curation job takes: every stage is a
row-local expression except dedup (one hash shuffle) and sampling
(row-local hash), so the pipeline streams through executors once.

NOT-IN-REFERENCE: driver-mandated extension surface (SURVEY.md §2.D);
stages reuse the exact operators certified individually in
:mod:`.text`, :mod:`.dedup`, :mod:`.sampling`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import memo
from ..hashsafe import oracle_round_quotient, round_quotient, utrim

_N_TOK_SQL = r"len(string_split_regex(lower(trim(text)), '\s+'))"
from ..registry import register
from ..tables import table
from .sampling import _P, _sql_bucket, hash_bucket
from .text import STOP_DE, STOP_EN, STOP_ES, _sql_stop_hits, _stop_hits, _tokens


@register(
    "pipeline_curate_corpus",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, source,
             string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents),
    scored AS (
      SELECT doc_id, source, text, len(toks) AS n_tokens,
             {_sql_stop_hits(STOP_EN)} AS s_en,
             {_sql_stop_hits(STOP_ES)} AS s_es,
             {_sql_stop_hits(STOP_DE)} AS s_de
      FROM t),
    gated AS (
      SELECT * FROM scored
      WHERE s_en >= s_es AND s_en >= s_de AND s_en > 0
        AND n_tokens >= 20
        AND length(text) / CAST(n_tokens AS DOUBLE) BETWEEN 3 AND 12),
    keep AS (
      SELECT min(doc_id) AS doc_id
      FROM gated GROUP BY md5(lower(trim(text)))),
    curated AS (
      SELECT g.doc_id, g.source, g.n_tokens
      FROM gated g JOIN keep k ON g.doc_id = k.doc_id
      WHERE {_sql_bucket('g.doc_id')} < {_P} * 0.5)
    SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM curated GROUP BY source ORDER BY source
    """,
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curate `documents` into a training corpus: keep English
    (stopword-argmax language ID), quality-gated (≥20 tokens, sane
    avg token length), exactly-deduplicated (min doc_id survives per
    normalized-text fingerprint), then a reproducible 50% hash sample;
    report per-source yield."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tok = F.size(toks)
    s_en, s_es, s_de = (
        _stop_hits(toks, STOP_EN),
        _stop_hits(toks, STOP_ES),
        _stop_hits(toks, STOP_DE),
    )
    avg_len = F.length("text") / n_tok.cast("double")
    gated = d.select("doc_id", "source", "text", n_tok.alias("n_tokens")).filter(
        (s_en >= s_es)
        & (s_en >= s_de)
        & (s_en > 0)
        & (n_tok >= 20)
        & avg_len.between(3, 12)
    )
    keep = gated.groupBy(F.md5(F.lower(utrim(F.col("text")))).alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        gated.join(keep.select("doc_id"), "doc_id", "left_semi")
        .filter(hash_bucket(F.col("doc_id")) < _P * 0.5)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source")
    )


PACK_BUDGET_TOKENS = 2048
PACK_SHARDS = 16
_PACK_SALT, _MIX_SALT = 101, 202


@register(
    "pipeline_pack_token_budget",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             ({_sql_bucket('doc_id', str(_PACK_SALT))}) % {PACK_SHARDS} AS shard,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT shard, doc_id, n_tokens,
             CAST(floor(
               (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens)
               / {PACK_BUDGET_TOKENS}) AS BIGINT) AS bin_id
      FROM toks
    )
    SELECT shard, bin_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM packed GROUP BY shard, bin_id
    """,
)
def pipeline_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: assign documents to fixed-token-budget
    bins for sequence packing during training.  Documents are sharded
    by the portable deterministic hash (shard count ≫ executor count at
    scale, so packing parallelizes), ordered deterministically within
    the shard, and binned by ``floor(running_total_before / budget)`` —
    a bin may overflow by at most one document, the standard streaming-
    packing approximation (greedy exact packing is inherently
    sequential).

    Scale: one shuffle (shard hash-partition), one in-partition sort
    for the window cumsum, then a partial-agg rollup."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (hash_bucket(F.col("doc_id"), F.lit(_PACK_SALT)) % PACK_SHARDS).alias("shard"),
        F.size(_tokens()).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "bin_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_BUDGET_TOKENS
        ),
    )
    return packed.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )


MIX_WEIGHTS = {"web": 80, "books": 60, "code": 40, "wiki": 100}


@register(
    "pipeline_mix_sources",
    oracle=f"""
    WITH rated AS (
      SELECT doc_id, source,
             CASE source
               WHEN 'web' THEN 80 WHEN 'books' THEN 60
               WHEN 'code' THEN 40 WHEN 'wiki' THEN 100 ELSE 50 END AS keep_pct,
             ({_sql_bucket('doc_id', str(_MIX_SALT))}) % 100 AS bucket
      FROM documents
    )
    SELECT source, count(*) AS n_kept, min(keep_pct) AS keep_pct
    FROM rated WHERE bucket < keep_pct
    GROUP BY source
    """,
)
def pipeline_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing: per-source sampling rates (the 'data recipe' of
    a training run) applied via the deterministic hash bucket — the
    same document set survives on every engine and run.  Rate-filtering
    is a row-local expression fused into the scan; the only shuffle is
    the tiny per-source rollup."""
    d = table(spark, sf_dir, "documents")
    weight = F.coalesce(
        *[F.when(F.col("source") == s, F.lit(p)) for s, p in MIX_WEIGHTS.items()],
        F.lit(50),
    )
    rated = d.select(
        "doc_id",
        "source",
        weight.alias("keep_pct"),
        (hash_bucket(F.col("doc_id"), F.lit(_MIX_SALT)) % 100).alias("bucket"),
    )
    return (
        rated.filter(F.col("bucket") < F.col("keep_pct"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.min("keep_pct").alias("keep_pct"))
    )


@register(
    "pipeline_decontaminate_ngrams",
    oracle=f"""
    WITH toks AS (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\\s+') AS w
                  FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                        i -> array_to_string(w[i:i+2], ' ')))
                    AS shingle
           FROM toks WHERE len(w) >= 3),
    bench AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY {_sql_bucket('doc_id')}, doc_id)
                 AS rn
        FROM documents
      ) WHERE rn <= 10
    )
    SELECT t.doc_id,
           count(DISTINCT t.shingle) AS n_shared_grams
    FROM sh t
    JOIN (SELECT DISTINCT shingle FROM sh JOIN bench USING (doc_id)) b
      ON t.shingle = b.shingle
    WHERE t.doc_id NOT IN (SELECT doc_id FROM bench)
    GROUP BY t.doc_id
    HAVING count(DISTINCT t.shingle) >= 3
    """,
)
def pipeline_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-pipeline step that
    removes documents overlapping an evaluation set.  The "benchmark"
    here is a deterministic 10-document subset (smallest portable-hash
    values, so both engines pick the same set); a training document is
    flagged when it shares ≥3 distinct word-3-gram shingles with any
    benchmark document.

    Plan shape — the scale-critical part: benchmark shingles reduce to
    a small DISTINCT set that is **broadcast** into the corpus-shingle
    stream (the corpus side never shuffles), then one partial-agg'd
    count-distinct per doc.  At 100 TB the corpus side stays a single
    scan + broadcast-semi-join; only flagged docs reach the aggregate."""
    from .dedup import shingles

    sh = shingles(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    # global top-10 by hash via orderBy().limit() — planned as
    # TakeOrderedAndProject (distributed heaps), not a one-partition window
    bench = (
        d.select("doc_id", hash_bucket(F.col("doc_id")).alias("bkt"))
        .orderBy("bkt", "doc_id")
        .limit(10)
        .select("doc_id")
    )
    bench_grams = (
        sh.join(F.broadcast(bench), "doc_id").select("shingle").distinct()
    )
    return (
        sh.join(F.broadcast(bench), "doc_id", "left_anti")
        .join(F.broadcast(bench_grams), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= 3)
    )


CHUNK_TOKENS = 32  # tokens per training chunk
CHUNK_STRIDE = 24  # chunk start step (overlap = CHUNK_TOKENS - CHUNK_STRIDE)


@register(
    "pipeline_chunk_documents",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents),
    n AS (
      SELECT doc_id, toks, len(toks) AS n_tokens,
             1 + CAST(floor((greatest(len(toks) - {CHUNK_TOKENS}, 0)
                             + {CHUNK_STRIDE} - 1) / {CHUNK_STRIDE}) AS BIGINT)
                 AS n_chunks
      FROM t)
    SELECT doc_id, k AS chunk_id, k * {CHUNK_STRIDE} AS start_tok,
           least({CHUNK_TOKENS}, n_tokens - k * {CHUNK_STRIDE}) AS chunk_len,
           md5(coalesce(array_to_string(
               list_slice(toks, k * {CHUNK_STRIDE} + 1,
                          k * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' '), ''))
             AS chunk_hash
    FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(k)
    """,
)
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence chunking for training: split each document's token
    stream into fixed-size overlapping chunks (size {CHUNK_TOKENS},
    stride {CHUNK_STRIDE} — the sliding-context-window preprocessing
    step of an LLM data pipeline), emitting per-chunk offsets, lengths
    and a content hash.

    Plan shape: chunk starts are a generated `sequence()` exploded
    row-locally — NO shuffle at all; the whole op is a single scan
    whose fan-out (~n_tokens/stride rows per doc) is absorbed by the
    downstream consumer.  At 100 TB this is the ideal shape: chunking
    is embarrassingly parallel, and the explode never materializes the
    token arrays more than once per partition."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", _tokens().alias("toks"))
        .withColumn("n_tokens", F.size("toks"))
        .withColumn(
            "n_chunks",
            (
                F.lit(1)
                + F.floor(
                    (
                        F.greatest(F.col("n_tokens") - CHUNK_TOKENS, F.lit(0))
                        + (CHUNK_STRIDE - 1)
                    )
                    / CHUNK_STRIDE
                )
            ).cast("bigint"),
        )
    )
    return (
        d.select(
            "doc_id",
            "n_tokens",
            "toks",
            F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_chunks") - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * CHUNK_STRIDE).alias("start_tok"),
            F.least(
                F.lit(CHUNK_TOKENS).cast("bigint"),
                F.col("n_tokens") - F.col("chunk_id") * CHUNK_STRIDE,
            ).alias("chunk_len"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        f"slice(toks, chunk_id * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS})"
                    ),
                )
            ).alias("chunk_hash"),
        )
    )


@register(
    "pipeline_dataset_card",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, lang, n_chars,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
             md5(lower(trim(text))) AS h
      FROM documents),
    per_source AS (
      SELECT source,
             count(*)                         AS n_docs,
             CAST(sum(n_tokens) AS BIGINT)    AS total_tokens,
             round(avg(n_tokens), 4)          AS avg_tokens,
             round(avg(n_chars), 4)           AS avg_chars,
             count(DISTINCT lang)             AS n_langs,
             count(DISTINCT h)                AS n_unique_texts
      FROM t GROUP BY source),
    tot AS (SELECT sum(total_tokens) AS all_tokens FROM per_source)
    SELECT source, n_docs, total_tokens, avg_tokens, avg_chars, n_langs,
           round(1 - n_unique_texts / CAST(n_docs AS DOUBLE), 6)   AS dup_rate,
           round(total_tokens / CAST(all_tokens AS DOUBLE), 6)     AS token_share
    FROM per_source CROSS JOIN tot
    ORDER BY source
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source "dataset card": document/token counts, average
    lengths, language diversity, exact-dup rate and token share — the
    summary table a training run's data recipe is negotiated over.

    One exploded-free scan (token counts are array sizes, not
    explodes), one hash aggregate per source, and the global token
    total is a 1-row broadcast back into the share column.  Exactly
    the plan shape that stays cheap at 100 TB: per-source state is a
    handful of counters."""
    t = table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        "n_chars",
        F.size(_tokens()).alias("n_tokens"),
        F.md5(F.lower(utrim(F.col("text")))).alias("h"),
    )
    per_source = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("h").alias("n_unique_texts"),
    )
    from pyspark.sql import Window

    # ratio-to-total over the ALREADY-aggregated per-source frame (a few
    # rows) — a frame-less window here avoids recomputing the corpus
    # aggregate for a 1-row total (the crossJoin(tot) spelling doubles
    # the scan unless exchange reuse kicks in)
    w_all = Window.partitionBy()
    return (
        per_source.select(
            "source",
            "n_docs",
            "total_tokens",
            "avg_tokens",
            "avg_chars",
            "n_langs",
            F.round(
                1 - F.col("n_unique_texts") / F.col("n_docs").cast("double"), 6
            ).alias("dup_rate"),
            F.round(
                F.col("total_tokens")
                / F.sum("total_tokens").over(w_all).cast("double"),
                6,
            ).alias("token_share"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_incremental_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, md5(lower(trim(text))) AS h,
             ({_sql_bucket('doc_id')} < {_P} * 0.1) AS is_new
      FROM documents),
    corpus AS (SELECT DISTINCT h FROM t WHERE NOT is_new)
    SELECT t.source,
           count(*) AS n_new_docs,
           -- EXISTS (not IN): a NULL fingerprint must count as NOVEL,
           -- matching the engine's anti-join semantics; NULL IN (...)
           -- is three-valued and silently drops from BOTH filters
           count(*) FILTER (WHERE EXISTS
               (SELECT 1 FROM corpus c WHERE c.h = t.h)) AS n_dup_of_corpus,
           count(*) FILTER (WHERE NOT EXISTS
               (SELECT 1 FROM corpus c WHERE c.h = t.h)) AS n_novel
    FROM t WHERE t.is_new
    GROUP BY t.source ORDER BY t.source
    """,
)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: a deterministic 10% hash-selected
    "new batch" is checked against the existing corpus's fingerprint
    set — the shape every CONTINUOUS training-data pipeline runs on
    arrival, where re-deduplicating the full corpus per batch would be
    quadratic over time.

    Scale: the corpus side reduces to DISTINCT fingerprints once (in
    production: a materialized fingerprint table, not a rescan); the
    new batch semi-joins / anti-joins against it keyed on the hash —
    both joins reuse one exchange of the small batch side."""
    t = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.lower(utrim(F.col("text")))).alias("h"),
        (hash_bucket(F.col("doc_id")) < _P * 0.1).alias("is_new"),
    )
    corpus = t.filter(~F.col("is_new")).select("h").distinct()
    new = t.filter(F.col("is_new"))
    # one pass over the batch: corpus is DISTINCT on h, so a left join
    # cannot fan out and count(_hit) equals the left-semi match count —
    # the former separate base aggregate (a second scan of the batch
    # side) and the base⨝dup stitch join are folded into this aggregate
    marked = new.join(
        corpus.withColumn("_hit", F.lit(1)), "h", "left"
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new_docs"),
            F.count("_hit").alias("n_dup_of_corpus"),
        )
        .select(
            "source",
            "n_new_docs",
            "n_dup_of_corpus",
            (F.col("n_new_docs") - F.col("n_dup_of_corpus")).alias("n_novel"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_quality_quarantine",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\\s+') AS toks,
             length(text) AS n_chars
      FROM documents),
    routed AS (
      SELECT source,
             CASE WHEN len(toks) < 20 THEN 'too_short'
                  WHEN n_chars / CAST(len(toks) AS DOUBLE) < 3 THEN 'tokens_too_short'
                  WHEN n_chars / CAST(len(toks) AS DOUBLE) > 12 THEN 'tokens_too_long'
                  WHEN {_sql_stop_hits(STOP_EN)} = 0
                   AND {_sql_stop_hits(STOP_ES)} = 0
                   AND {_sql_stop_hits(STOP_DE)} = 0 THEN 'no_known_language'
                  ELSE 'pass' END AS verdict
      FROM t)
    SELECT verdict, count(*) AS n_docs,
           count(DISTINCT source) AS n_sources
    FROM routed GROUP BY verdict ORDER BY verdict
    """,
)
def pipeline_quality_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine routing with REASON CODES: every document gets the
    first gate it fails (too short → token-shape anomalies → unknown
    language) or 'pass' — the triage report that tells a curation team
    WHICH filter is eating their corpus, not just how much survived
    (the pass-rate-only view is `pipeline_curate_corpus`).

    Ordered CASE evaluation = deterministic single reason per doc;
    one scan, one small aggregate on (verdict)."""
    t = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        _tokens().alias("toks"),
        F.length("text").alias("n_chars"),
    )
    ratio = F.col("n_chars") / F.size("toks").cast("double")
    verdict = (
        F.when(F.size("toks") < 20, "too_short")
        .when(ratio < 3, "tokens_too_short")
        .when(ratio > 12, "tokens_too_long")
        .when(
            (_stop_hits(F.col("toks"), STOP_EN) == 0)
            & (_stop_hits(F.col("toks"), STOP_ES) == 0)
            & (_stop_hits(F.col("toks"), STOP_DE) == 0),
            "no_known_language",
        )
        .otherwise("pass")
    )
    return (
        t.select("source", verdict.alias("verdict"))
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("verdict")
    )


@register(
    "pipeline_scd2_upsert",
    oracle="""
    WITH upd AS (
      SELECT c_custkey, 'MOVED' AS c_mktsegment,
             round(c_acctbal + 100.0, 2) AS c_acctbal
      FROM customer WHERE c_custkey % 7 = 0),
    closed AS (
      SELECT c.c_custkey, 1 AS version, c.c_mktsegment,
             round(c.c_acctbal, 2) AS acctbal,
             1 AS valid_from,
             CASE WHEN u.c_custkey IS NULL THEN NULL ELSE 2 END AS valid_to,
             u.c_custkey IS NULL AS is_current
      FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey),
    fresh AS (
      SELECT c_custkey, 2 AS version, c_mktsegment, c_acctbal AS acctbal,
             2 AS valid_from, CAST(NULL AS INTEGER) AS valid_to, true AS is_current
      FROM upd)
    SELECT * FROM closed
    UNION ALL
    SELECT * FROM fresh
    ORDER BY c_custkey, version
    """,
)
def pipeline_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 MERGE, expressed declaratively:
    an update batch (deterministic fixture: every 7th customer moves
    segment and gains 100.00 balance) is merged into the dimension so
    changed keys get their old row CLOSED (valid_to set, is_current
    false) and a new CURRENT version appended — the batch equivalent of
    `MERGE WHEN MATCHED/NOT MATCHED`, i.e. what ClickHouse's
    ReplacingMergeTree + FINAL gives implicitly and what every CDC /
    dimension-history pipeline needs explicitly.

    Plan shape: ONE left join of the dimension against the (always
    comparatively tiny, hence broadcast) update batch plus a union with
    the batch itself — no row is rewritten in place, matching the
    copy-on-write discipline of `migrate.py`'s ALTER path.  At 100 TB
    the join broadcasts the delta; the dimension streams through
    unshuffled."""
    c = table(spark, sf_dir, "customer")
    upd = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit("MOVED").alias("c_mktsegment"),
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
    )
    closed = (
        c.join(
            F.broadcast(upd.select(F.col("c_custkey").alias("_uk"))),
            c.c_custkey == F.col("_uk"),
            "left",
        )
        .select(
            "c_custkey",
            F.lit(1).alias("version"),
            "c_mktsegment",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.lit(1).alias("valid_from"),
            F.when(F.col("_uk").isNull(), F.lit(None).cast("int"))
            .otherwise(F.lit(2))
            .alias("valid_to"),
            F.col("_uk").isNull().alias("is_current"),
        )
    )
    fresh = upd.select(
        "c_custkey",
        F.lit(2).alias("version"),
        "c_mktsegment",
        F.col("c_acctbal").alias("acctbal"),
        F.lit(2).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed.unionByName(fresh).orderBy("c_custkey", "version")


@register(
    "pipeline_curriculum_phases",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
             {oracle_round_quotient("length(text)", _N_TOK_SQL, 6)} AS difficulty
      FROM documents WHERE text IS NOT NULL),
    r AS (
      SELECT *,
             row_number() OVER (ORDER BY difficulty, doc_id) AS rn,
             count(*) OVER () AS n
      FROM t),
    p AS (
      SELECT *, CAST(floor((rn - 1) * 4.0 / n) + 1 AS BIGINT) AS phase FROM r)
    SELECT phase,
           count(*) AS n_docs,
           round(min(difficulty), 6) AS min_difficulty,
           round(max(difficulty), 6) AS max_difficulty,
           round(avg(n_tokens), 4)   AS avg_tokens
    FROM p GROUP BY phase ORDER BY phase
    """,
)
def pipeline_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: rank the corpus by a
    difficulty proxy (mean token length — cheap, monotone with lexical
    complexity) and split it into 4 phases, easy → hard, reporting each
    phase's bounds.  The phase boundary uses the exact
    floor((rn−1)·k/n) split, so phases are reproducible to the row.

    The global rank comes from `stats.with_global_row_number` — the
    two-level bucketed substrate — NOT a single-partition window, so
    the ordering step scales: serial work is capped at the bucket
    count regardless of corpus size (the audited-global-window
    contract of `tests/test_global_window_audit.py`)."""
    from .stats import with_global_row_number

    # rank contract: NULL text has no difficulty (both sides)
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.lower(utrim(F.col("text"))), r"\s+")
    t = d.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tokens"),
        round_quotient(F.length("text"), F.size(toks), 6).alias("difficulty"),
    )
    # pin the per-doc difficulty frame for the substrate's two readers
    # (bounds + bucketing): the tokenize projection is the expensive
    # part and ran once per reader
    t = memo.pin(t)
    # the phase divisor comes from the substrate's own 64-row bucket
    # frame (with_totals) — the previous eager t.count() was a whole
    # extra documents-scan + tokenize pass AND a driver round-trip
    r = with_global_row_number(
        t, ["difficulty", "doc_id"], rn_col="rn", with_totals=True
    )
    p = r.withColumn(
        "phase",
        (F.floor((F.col("rn") - 1) * 4.0 / F.col("n_total")) + 1).cast("bigint"),
    )
    return (
        p.groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("difficulty"), 6).alias("min_difficulty"),
            F.round(F.max("difficulty"), 6).alias("max_difficulty"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
        .orderBy("phase")
    )


VOCAB_K = 30  # closed-vocabulary size for the OOV audit


@register(
    "pipeline_vocab_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents),
    vocab AS (
      SELECT token FROM (
        SELECT token, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, token) AS rn
        FROM tok GROUP BY token) t
      WHERE rn <= {VOCAB_K}),
    per_doc AS (
      SELECT t.doc_id, t.source,
             count(*) AS n_tokens,
             sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM tok t LEFT JOIN vocab v ON t.token = v.token
      GROUP BY t.doc_id, t.source)
    SELECT source,
           count(*) AS n_docs,
           round(avg(n_oov / CAST(n_tokens AS DOUBLE)), 6) AS avg_oov_rate,
           CAST(sum(CASE WHEN n_oov * 2 > n_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_majority_oov
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def pipeline_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / out-of-vocabulary audit: build a closed
    top-30 corpus vocabulary (by frequency, ties broken
    lexicographically), then measure each document's OOV token rate and
    roll it up per source — the tokenizer-fit check run before
    committing a tokenizer to a corpus mix (a source with high OOV
    against the trained vocab fragments into byte-fallback pieces and
    wastes context window).

    Two corpus passes: token counts (one hash aggregate — vocabulary-
    sized state, Heaps-bounded), then a broadcast anti-probe of the
    tiny vocab against the token stream.  The top-k is taken on the
    AGGREGATED vocabulary frame (grid-bounded sort), never on raw
    tokens."""
    tok = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.explode(_tokens()).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    # orderBy().limit(k) plans TakeOrderedAndProject — a distributed
    # per-partition top-k + driver merge of k rows, NOT a global sort,
    # so the vocabulary frame (Heaps-law-sized at 100 TB) never funnels
    # through one partition
    vocab = (
        counts.orderBy(F.desc("c"), F.asc("token"))
        .limit(VOCAB_K)
        .select("token", F.lit(True).alias("_in_vocab"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.avg(F.col("n_oov") / F.col("n_tokens").cast("double")), 6
            ).alias("avg_oov_rate"),
            F.sum(
                F.when(F.col("n_oov") * 2 > F.col("n_tokens"), 1).otherwise(0)
            ).alias("n_docs_majority_oov"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_point_in_time_join",
    oracle="""
    WITH upd AS (
      SELECT c_custkey, 'MOVED' AS seg FROM customer WHERE c_custkey % 7 = 0),
    dim AS (
      SELECT c.c_custkey, c.c_mktsegment AS seg, 1 AS valid_from,
             CASE WHEN u.c_custkey IS NULL THEN NULL ELSE 2 END AS valid_to
      FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
      UNION ALL
      SELECT c_custkey, seg, 2, NULL FROM upd),
    o AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CASE WHEN CAST(o_orderdate AS DATE) < DATE '1995-01-01'
                  THEN 1 ELSE 2 END AS as_of
      FROM orders)
    SELECT d.seg AS segment_at_order_time, o.as_of,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS revenue
    FROM o JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND d.valid_from <= o.as_of
     AND (d.valid_to IS NULL OR d.valid_to > o.as_of)
    GROUP BY d.seg, o.as_of
    ORDER BY segment_at_order_time, as_of
    """,
)
def pipeline_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct join against the SCD2 dimension
    (`pipeline_scd2_upsert`'s history): each order joins the customer
    VERSION that was valid at order time, never a later one — the
    temporal-leakage guard every feature-store / training-data pipeline
    needs (joining current attributes onto past facts leaks the
    future into features).

    Plan: the fact stream equi-joins on the customer key with the
    validity-interval predicate as a residual join filter — one hash
    join, versions-per-key is tiny so the fan-out is bounded; the
    dimension broadcasts when small, shuffles on key otherwise (AQE
    decides)."""
    c = table(spark, sf_dir, "customer")
    upd = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("MOVED").alias("seg")
    )
    dim = (
        c.join(upd.select(F.col("c_custkey").alias("_uk")), c.c_custkey == F.col("_uk"), "left")
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("seg"),
            F.lit(1).alias("valid_from"),
            F.when(F.col("_uk").isNull(), F.lit(None).cast("int"))
            .otherwise(F.lit(2))
            .alias("valid_to"),
        )
        .unionByName(
            upd.select(
                "c_custkey",
                "seg",
                F.lit(2).alias("valid_from"),
                F.lit(None).cast("int").alias("valid_to"),
            )
        )
    )
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        F.when(
            F.col("o_orderdate").cast("date") < F.lit("1995-01-01").cast("date"), 1
        )
        .otherwise(2)
        .alias("as_of"),
    )
    joined = o.join(
        dim,
        (o.o_custkey == dim.c_custkey)
        & (dim.valid_from <= o.as_of)
        & (dim.valid_to.isNull() | (dim.valid_to > o.as_of)),
    )
    return (
        joined.groupBy(F.col("seg").alias("segment_at_order_time"), "as_of")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("revenue"),
        )
        .orderBy("segment_at_order_time", "as_of")
    )


LEAK_K = 5  # gram width for the split-leakage audit
LEAK_DF_CAP = 64  # drop grams shared by more docs than this (boilerplate)


@register(
    "pipeline_split_leakage_audit",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN {_sql_bucket('doc_id')} < {_P} * 0.8 THEN 'train'
                  ELSE 'heldout' END AS split,
             string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents),
    g0 AS (
      SELECT doc_id, split,
             unnest(list_transform(range(1, greatest(len(w) - {LEAK_K - 2}, 2)),
                    i -> array_to_string(w[i:i+{LEAK_K - 1}], ' '))) AS gram
      FROM t WHERE len(w) >= {LEAK_K}),
    -- portable 60-bit gram hash (same md5 construction as the simhash
    -- oracle): every downstream join/distinct/df-count runs on BIGINT
    -- keys in both engines, so hash collisions (if any) merge
    -- IDENTICALLY here and in the engine
    g AS (
      SELECT DISTINCT doc_id, split,
             CAST(('0x' || substr(md5(gram), 1, 15))::UBIGINT AS BIGINT) AS gram
      FROM g0),
    capped AS (
      SELECT g.* FROM g
      JOIN (SELECT gram FROM g GROUP BY gram
            HAVING count(DISTINCT doc_id) <= {LEAK_DF_CAP}) ok
        ON g.gram = ok.gram),
    leaks AS (
      SELECT DISTINCT h.doc_id
      FROM capped h JOIN capped tr
        ON h.gram = tr.gram AND h.split = 'heldout' AND tr.split = 'train'),
    held AS (SELECT count(*) AS n_heldout FROM t WHERE split = 'heldout')
    SELECT n_heldout,
           (SELECT count(*) FROM leaks) AS n_contaminated,
           round((SELECT count(*) FROM leaks) / CAST(n_heldout AS DOUBLE), 6)
             AS leakage_rate
    FROM held
    """,
)
def pipeline_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/held-out SPLIT-LEAKAGE audit: does any held-out document
    share a 5-gram with the training split?  This is the
    decontamination check applied to the pipeline's OWN split (the
    standard benchmark-contamination method — GPT-3 appendix C /
    PaLM-style n-gram overlap — pointed at train-vs-eval leakage, the
    subtler cousin of external-benchmark contamination).

    Shape: the split is the deterministic hash (so the audit is
    reproducible anywhere); distinct (doc, gram) explode per side; a
    document-frequency cap drops boilerplate grams (each surviving
    posting list is bounded, so the cross-split gram join cannot blow
    up — same discipline as `dedup.shingles`); one equi-join on gram +
    one distinct.  Linear in corpus + capped-gram postings at 100 TB.

    r13: the tokenize pass comes from the shared
    :func:`..operators.dedup.token_arrays` memo (cached, already
    32-way repartitioned — the r9 explicit round-robin widen is
    subsumed); the split label is row-local arithmetic on doc_id."""
    from .dedup import kgrams, token_arrays

    t = token_arrays(spark, sf_dir).select(
        "doc_id",
        F.when(hash_bucket(F.col("doc_id")) < _P * 0.8, "train")
        .otherwise("heldout")
        .alias("split"),
        F.col("toks").alias("w"),
    )
    # shifted-slice zip window build (see dedup.kgrams): total for
    # short arrays, so no pre-filter guard is needed on the expression
    grams = kgrams(F.col("w"), LEAK_K)
    # r9 sf10 probe: grams travel as PORTABLE 60-bit md5 hashes
    # (same construction as dedup_simhash; the oracle mirrors it), so
    # every shuffle/join/distinct below moves int64 keys instead of
    # ~50-char strings — ~10x smaller exchanges and cache; collisions
    # merge identically in both engines, so the oracle stays exact.
    gram_h = F.conv(F.substring(F.md5(F.col("_g")), 1, 15), 16, 10).cast("bigint")
    # three consumers (df-cap agg, heldout probe, train probe) read the
    # gram stream; the gram transform is an interpreted HOF over every
    # token window, so cache the exploded result rather than re-running
    # tokenize+gram per consumer
    g = (
        t.filter(F.size("w") >= LEAK_K)
        .select(
            "doc_id",
            "split",
            F.explode(F.array_distinct(grams)).alias("_g"),
        )
        .select("doc_id", "split", gram_h.alias("gram"))
        .cache()
    )
    # r12: three concurrent readers (df-cap agg + the two capped probe
    # sides) raced the cold cache and re-ran the gram build in
    # parallel; fill it once first (guide §1/§2.4)
    g.count()
    # NOTE r12 (guide §2.4 — remove shuffles outright): a global
    # .distinct() used to sit here, but the rows are ALREADY distinct —
    # array_distinct dedups grams within a doc and doc_id is unique per
    # input row — except for within-doc 60-bit md5 collisions (~1e-13
    # per gram pair).  Every consumer tolerates duplicates identically:
    # the df cap counts countDistinct(doc_id), the train probe re-
    # distincts its gram set, and the leaked-doc count distincts doc_id
    # — so dropping the full-stream shuffle+dedup changes no output.
    ok = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= LEAK_DF_CAP)
        .select("gram")
    )
    capped = g.join(ok, "gram")
    leaks = (
        capped.filter(F.col("split") == "heldout")
        .select("doc_id", "gram")
        .join(
            capped.filter(F.col("split") == "train").select("gram").distinct(),
            "gram",
        )
        .select("doc_id")
        .distinct()
    )
    held = t.filter(F.col("split") == "heldout").agg(
        F.count(F.lit(1)).alias("n_heldout")
    )
    n_leak = leaks.agg(F.count(F.lit(1)).alias("n_contaminated"))
    return held.crossJoin(F.broadcast(n_leak)).select(
        "n_heldout",
        "n_contaminated",
        F.round(
            F.try_divide(
                F.col("n_contaminated"), F.col("n_heldout").cast("double")
            ),
            6,
        ).alias("leakage_rate"),
    )


@register(
    "pipeline_dataset_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT doc_id, md5(lower(trim(text))) AS fp
      FROM documents WHERE doc_id % 11 != 0),
    b AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 7 = 0
                      THEN lower(trim(text)) || ' v2'
                      ELSE lower(trim(text)) END) AS fp
      FROM documents WHERE doc_id % 13 != 0),
    j AS (
      SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
             a.fp AS fp_a, b.fp AS fp_b
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
    SELECT CASE WHEN fp_a IS NULL THEN 'added'
                WHEN fp_b IS NULL THEN 'removed'
                WHEN fp_a = fp_b  THEN 'unchanged'
                ELSE 'changed' END AS status,
           count(*) AS n_docs,
           min(doc_id) AS first_doc
    FROM j GROUP BY 1 ORDER BY status
    """,
)
def pipeline_dataset_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset snapshot DIFF by content fingerprint: full-outer join of
    two corpus versions on doc_id, rows classified added / removed /
    changed / unchanged by comparing normalized-text hashes — the
    dataset-versioning audit run between crawl refreshes before
    retraining (how much actually changed? is an incremental dedup
    pass enough?).  Same full-outer-diff shape as the migration
    ledger planner (`migrate.migrations_to_apply`), applied to data
    instead of schema.

    The fixture derives both snapshots deterministically from the one
    documents table (every 11th doc deleted in A, every 13th in B,
    every 7th edited), so the oracle knows the truth in closed form.
    One hash join on doc_id; fingerprints are row-local md5 — at
    100 TB this is a single co-partitioned pass, and with both
    snapshots bucketed by doc_id it needs no shuffle at all."""
    d = table(spark, sf_dir, "documents")
    norm = F.lower(utrim(F.col("text")))
    a = d.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", F.md5(norm).alias("fp_a")
    )
    b = d.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 7 == 0, F.concat(norm, F.lit(" v2"))).otherwise(
                norm
            )
        ).alias("fp_b"),
    )
    j = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_a").isNull(), "added")
        .when(F.col("fp_b").isNull(), "removed")
        .when(F.col("fp_a") == F.col("fp_b"), "unchanged")
        .otherwise("changed")
    )
    return (
        j.select("doc_id", status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .orderBy("status")
    )


@register(
    "pipeline_capacity_plan_100tb",
    oracle="""
    WITH s AS (
      SELECT count(*) AS n_docs,
             avg(length(text)) AS avg_bytes,
             CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_bytes
      FROM documents)
    SELECT n_docs,
           round(avg_bytes, 2) AS avg_doc_bytes,
           total_bytes,
           CAST(floor(1e14 / avg_bytes) AS BIGINT) AS projected_docs_100tb,
           CAST(ceil(1e14 / (512 * 1024 * 1024)) AS BIGINT) AS shards_512mb,
           CAST(ceil(1e14 / avg_bytes / 2000000) AS BIGINT) AS dedup_partitions_2m_docs
    FROM s
    """,
)
def pipeline_capacity_plan_100tb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity planning from measured corpus statistics: project the
    document count at the 100 TB design point from the observed
    bytes/doc, the parquet shard count at the 512 MB target file size
    (the object-store sweet spot — small files kill scan parallelism
    setup, huge files kill pruning granularity), and the dedup
    partition count at ~2M docs per partition (the state size the
    minhash aggregate comfortably holds per task).

    These are the three numbers every job in this repo sizes itself
    by; computing them IN the engine from the corpus keeps the plan
    honest as the corpus drifts.  One aggregate pass."""
    d = table(spark, sf_dir, "documents")
    s = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.length("text")).alias("avg_bytes"),
        F.sum(F.length("text").cast("bigint")).alias("total_bytes"),
    )
    return s.select(
        "n_docs",
        F.round("avg_bytes", 2).alias("avg_doc_bytes"),
        "total_bytes",
        F.floor(F.lit(1e14) / F.col("avg_bytes")).cast("bigint").alias(
            "projected_docs_100tb"
        ),
        F.ceil(F.lit(1e14) / (512 * 1024 * 1024)).cast("bigint").alias("shards_512mb"),
        F.ceil(F.lit(1e14) / F.col("avg_bytes") / 2000000).cast("bigint").alias(
            "dedup_partitions_2m_docs"
        ),
    )


SPAN_TOKENS = 8  # C4-style dedup span length (non-overlapping token windows)
SPAN_MAX_OCCURRENCES = 2  # spans seen more often than this are boilerplate


@register(
    "pipeline_span_dedup_c4",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents),
    spans AS (
      SELECT doc_id,
             unnest(list_transform(
                 generate_series(0, CAST(ceil(len(w) / {SPAN_TOKENS}.0) AS BIGINT) - 1),
                 i -> array_to_string(
                          w[i * {SPAN_TOKENS} + 1 : (i + 1) * {SPAN_TOKENS}],
                          ' '))) AS span
      FROM toks),
    freq AS (SELECT span, count(*) AS n_occ FROM spans GROUP BY span),
    flagged AS (
      SELECT s.doc_id, s.span, f.n_occ > {SPAN_MAX_OCCURRENCES} AS is_dup
      FROM spans s JOIN freq f USING (span))
    SELECT doc_id,
           count(*) AS n_spans,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           {oracle_round_quotient(
               "sum(CASE WHEN is_dup THEN 1 ELSE 0 END)", "count(*)", 6)}
             AS dup_span_ratio,
           CAST(sum(CASE WHEN is_dup THEN 0
                    ELSE len(string_split_regex(span, ' ')) END)
             AS BIGINT) AS tokens_after_removal
    FROM flagged GROUP BY doc_id
    """,
)
def pipeline_span_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style SPAN-level dedup (Raffel et al. 2020 drop repeated
    three-sentence spans; CCNet dedups paragraphs the same way): the
    corpus-frequency pass that document-level dedup cannot express —
    a document can be globally unique while half its spans are
    boilerplate shared with thousands of others.  The fixture text has
    no sentence/newline structure, so spans are non-overlapping
    8-token windows (documented stand-in; the plan is identical for
    any segmenter).

    Per doc: span count, spans whose corpus-wide occurrence exceeds
    {SPAN_MAX_OCCURRENCES}, the duplicated-span ratio (exact integer
    quotient — hashsafe), and the token count surviving span removal —
    the numbers a curation run reads before deciding the drop rule.

    Scale shape: explode to ~n_tokens/{SPAN_TOKENS} span rows (LESS
    than the token explode every text query already pays), one
    span-hash aggregate (partial-agg'd), one equi-join back, one
    per-doc rollup — all linear, no self-join, no window.

    r13: the tokenize pass comes from the shared
    :func:`..operators.dedup.token_arrays` memo (one corpus
    scan+split per session instead of a private one; VERDICT r12
    next-round #1)."""
    from .dedup import token_arrays

    d = token_arrays(spark, sf_dir)
    toks = F.col("toks")
    n_spans_expr = F.ceil(F.size(toks) / float(SPAN_TOKENS)).cast("bigint")
    # guard the empty case: Spark's sequence(0, -1) yields the
    # DESCENDING series [0, -1] (two bogus spans) where DuckDB's
    # generate_series(0, -1) is empty — emit an empty array so a
    # zero-token document contributes zero spans on both engines
    # (ADVICE r4 #2)
    span_idx = F.when(
        n_spans_expr > 0, F.sequence(F.lit(0), n_spans_expr - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    spans = d.select(
        "doc_id",
        F.explode(
            F.transform(
                span_idx,
                lambda i: F.concat_ws(
                    " ", F.slice(toks, i * SPAN_TOKENS + 1, SPAN_TOKENS)
                ),
            )
        ).alias("span"),
    )
    freq = spans.groupBy("span").agg(F.count(F.lit(1)).alias("n_occ"))
    flagged = spans.join(freq, "span").select(
        "doc_id",
        "span",
        (F.col("n_occ") > SPAN_MAX_OCCURRENCES).alias("is_dup"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dup_spans"),
        round_quotient(
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)), F.count(F.lit(1)), 6
        ).alias("dup_span_ratio"),
        F.sum(
            F.when(F.col("is_dup"), 0).otherwise(F.size(F.split(F.col("span"), " ")))
        ).alias("tokens_after_removal"),
    )


MIX_TEMPERATURE = 0.3  # alpha: 1.0 = proportional, 0 = uniform (XLM-R recipe)
MIX_TARGET_TOKENS = 1_000_000  # illustrative per-run token budget


@register(
    "pipeline_language_temperature_mix",
    oracle=f"""
    WITH lang_tokens AS (
      SELECT lang,
             CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang),
    tot AS (SELECT sum(n_tokens) AS total FROM lang_tokens),
    powed AS (
      SELECT lang, n_tokens,
             pow(n_tokens / CAST(total AS DOUBLE), {MIX_TEMPERATURE}) AS p_raw
      FROM lang_tokens CROSS JOIN tot),
    norm AS (SELECT sum(p_raw) AS z FROM powed)
    SELECT lang, n_tokens,
           round(p_raw / z, 6) AS sample_prob,
           round(({MIX_TARGET_TOKENS} * p_raw / z) / n_tokens, 4)
             AS epochs_at_budget
    FROM powed CROSS JOIN norm
    ORDER BY lang
    """,
)
def pipeline_language_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling weights (the XLM-R /
    mT5 recipe, Conneau et al. 2020): p_l ∝ (n_l/N)^α with α =
    {MIX_TEMPERATURE} up-weights low-resource languages without
    flattening the mix entirely.  Emits each language's sampling
    probability and the implied EPOCHS over its data at a target token
    budget — the number that warns when a low-resource language would
    be repeated past the memorization knee (>~4 epochs).

    One token-count aggregate to a #languages-row frame; the power
    normalization is a frame-less reduce over those rows (float pow —
    the per-value rounding caveat of every float-stat output applies
    and is accepted).  Complements `pipeline_mix_sources` (fixed
    per-source rates) with the principled-allocation variant."""
    d = table(spark, sf_dir, "documents")
    # lt feeds four subtrees (total, the pow projection, z, the final
    # select), each of which otherwise re-ran the corpus scan + token-
    # count aggregate; it is #languages rows, so pinning it runs the
    # tokenize pass once.
    lt = memo.pin(d.groupBy("lang").agg(F.sum(F.size(_tokens())).alias("n_tokens")))
    tot = lt.agg(F.sum("n_tokens").alias("total"))
    powed = lt.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        F.pow(F.col("n_tokens") / F.col("total"), MIX_TEMPERATURE).alias("p_raw"),
    )
    z = powed.agg(F.sum("p_raw").alias("z"))
    return (
        powed.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_tokens",
            # round-ok: pow() provenance — float-stat exemption
            F.round(F.col("p_raw") / F.col("z"), 6).alias("sample_prob"),
            # round-ok: pow() provenance — float-stat exemption
            F.round(
                (F.lit(MIX_TARGET_TOKENS) * F.col("p_raw") / F.col("z"))
                / F.col("n_tokens"),
                4,
            ).alias("epochs_at_budget"),
        )
        .orderBy("lang")
    )
