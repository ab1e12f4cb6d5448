"""Similarity-search pack over the embeddings table (driver north star;
SURVEY.md §2.D M4).

Three tiers, mirroring a production vector pipeline:

- **brute-force top-k** (cosine / euclidean): broadcast the query set
  against the corpus, per-query window top-k.  Exact; O(Q·N·d) — the
  baseline and the verifier for the approximate tiers.
- **sign-LSH bucketed top-k**: axis-aligned random-hyperplane signature
  (sign of the leading dims) → candidates share the query's bucket →
  top-k within bucket.  Deterministic, so fully oracle-checkable.
- **IVF top-k**: k-means-style inverted file with the label field's
  per-label centroids; the query probes its nearest centroid's
  partition only.  At 100 TB: centroids broadcast, corpus partitioned
  by list assignment → each query touches 1/nlist of the data.

All vector math is `zip_with`/`aggregate` higher-order functions —
JVM-side, codegen'd, no Python UDF in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from .. import memo
from ..registry import register
from ..tables import table
from .sampling import cap_sample, sql_cap_sample

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10
LSH_DIMS = 8


def _dot(x: Column, y: Column) -> Column:
    return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda a, z: a + z)


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed vector scan (vec_id, v, label), memoized and pinned per
    (session, corpus) by the session memo (:mod:`..memo`).  Every sim_*
    query consumed its own parquet scan+cast of the embeddings corpus —
    and most consume it SEVERAL times per plan (corpus side + probe
    side + the cap-sample count pass: 4–12 embeddings scans per query);
    the memo makes every pass after the first a memory read.

    NULL embeddings are excluded — a missing vector cannot be searched
    or ranked; the sign-LSH bucket of a NULL vector otherwise rendered
    as '' and matched every other NULL (round-8 edge fuzz); all sim_*
    oracles carry the same `WHERE embedding IS NOT NULL` contract."""

    def build():
        v = (
            table(spark, sf_dir, "embeddings")
            .filter(F.col("embedding").isNotNull())
            .select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("v"),
                "label",
            )
        )
        return v, (v,)

    return memo.get(spark, sf_dir, "vec_arrays", build, reads=("embeddings",))


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Reusable exact top-k cosine: broadcast queries, score all corpus
    rows, per-query top-k via window (the scalable exact plan: one pass
    over the corpus, no corpus self-join)."""
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    c = corpus.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
    cos = _dot(F.col("qv"), F.col("cv")) / (
        F.sqrt(_dot(F.col("qv"), F.col("qv"))) * F.sqrt(_dot(F.col("cv"), F.col("cv")))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("_cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", F.round("_cos", 6).alias("cosine"))
    )


# Registered-query cap on the exact scan baseline (VERDICT r2 "what's
# wrong #2"): candidates come from a deterministic ~CAND_CAP-row hash
# sample of the corpus — cap ≥ corpus at every test SF (gate results
# unchanged); at 100 TB the registered query is a bounded audit and the
# LSH / IVF twins are the production path.  `sim_topk_cosine_full` is
# the opt-in uncapped form.
CAND_CAP = 10_000


@register(
    "sim_topk_cosine_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM {sql_cap_sample(
                   "vec_id",
                   "(SELECT * FROM embeddings WHERE embedding IS NOT NULL)",
                   CAND_CAP,
               )}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT query_id, e.vec_id AS cand_id,
             list_cosine_similarity(qv, e.v) AS c
      FROM q JOIN e ON e.vec_id != q.query_id
    ), ranked AS (
      SELECT query_id, cand_id, c,
             row_number() OVER (PARTITION BY query_id ORDER BY c DESC, cand_id) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, rank, round(c, 6) AS cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k over a deterministic ≤CAND_CAP-vector hash sample
    (cap ≥ corpus at every test SF, so identical to the full scan
    there).  See the CAND_CAP note above; `sim_topk_cosine_full` is the
    opt-in full-corpus form."""
    e = cap_sample(_vecs(spark, sf_dir), "vec_id", CAND_CAP)
    return cosine_topk(e, e.filter(F.col("vec_id") < N_QUERIES))


def sim_topk_cosine_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opt-in FULL-CORPUS exact top-k (not registered): one corpus scan
    per query batch — run deliberately on a corpus you have sized, or
    use the LSH / IVF twins."""
    e = _vecs(spark, sf_dir)
    return cosine_topk(e, e.filter(F.col("vec_id") < N_QUERIES))


@register(
    "sim_topk_euclidean",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT query_id, e.vec_id AS cand_id, list_distance(qv, e.v) AS d
      FROM q JOIN e ON e.vec_id != q.query_id
    ), ranked AS (
      SELECT query_id, cand_id, d,
             row_number() OVER (PARTITION BY query_id ORDER BY d, cand_id) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, rank, round(d, 6) AS distance
    FROM ranked WHERE rank <= 5
    """,
)
def sim_topk_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vecs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("cv"), lambda p, q_: (p - q_) * (p - q_)),
            F.lit(0.0),
            lambda a, z: a + z,
        )
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", dist.alias("_d"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_d"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "cand_id", "rank", F.round("_d", 6).alias("distance"))
    )


@register(
    "sim_lsh_bucket_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
    sigs AS (
      SELECT vec_id, v,
             array_to_string(list_transform(v[1:{LSH_DIMS}],
                                            x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')
                 AS bucket
      FROM e
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM sigs WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, s.vec_id AS cand_id,
             list_cosine_similarity(q.qv, s.v) AS c
      FROM q JOIN sigs s ON s.bucket = q.bucket AND s.vec_id != q.query_id
    ), ranked AS (
      SELECT query_id, cand_id, c,
             row_number() OVER (PARTITION BY query_id ORDER BY c DESC, cand_id) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, rank, round(c, 6) AS cosine
    FROM ranked WHERE rank <= 5
    """,
)
def sim_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate top-k: {LSH_DIMS}-bit hyperplane signature →
    equi-join on bucket (a hash join on the signature — no cross join
    at all), top-5 within the query's bucket."""
    e = _vecs(spark, sf_dir)
    bucket = F.concat_ws(
        "",
        F.transform(
            F.slice(F.col("v"), 1, LSH_DIMS),
            lambda x: F.when(x >= 0, "1").otherwise("0"),
        ),
    )
    sigs = e.select("vec_id", "v", bucket.alias("bucket"))
    q = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    cos = _dot(F.col("qv"), F.col("v")) / (
        F.sqrt(_dot(F.col("qv"), F.col("qv"))) * F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    scored = (
        sigs.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), cos.alias("_cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "cand_id", "rank", F.round("_cos", 6).alias("cosine"))
    )


@register(
    "sim_ivf_label_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
    dims AS (
      SELECT vec_id, label, unnest(v) AS val, unnest(range(1, 65)) AS dim FROM e
    ),
    centroids AS (
      SELECT label, dim, avg(val) AS cval FROM dims GROUP BY label, dim
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    qdims AS (
      SELECT vec_id AS query_id, unnest(v) AS qval, unnest(range(1, 65)) AS dim
      FROM e WHERE vec_id < {N_QUERIES}
    ),
    q2c AS (
      SELECT query_id, c.label, sum((qval - cval) * (qval - cval)) AS d2
      FROM qdims JOIN centroids c USING (dim)
      GROUP BY query_id, c.label
    ),
    probe AS (
      SELECT query_id, label FROM q2c
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d2, label) = 1
    ),
    scored AS (
      SELECT p.query_id, e.vec_id AS cand_id,
             list_cosine_similarity(q.qv, e.v) AS c
      FROM probe p
      JOIN e ON e.label = p.label
      JOIN q ON q.query_id = p.query_id
      WHERE e.vec_id != p.query_id
    ), ranked AS (
      SELECT query_id, cand_id, c,
             row_number() OVER (PARTITION BY query_id ORDER BY c DESC, cand_id) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, rank, round(c, 6) AS cosine
    FROM ranked WHERE rank <= 5
    """,
)
def sim_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style probe: per-label centroids (the label field stands in
    for k-means list assignment), query probes only its nearest
    centroid's partition, exact top-5 within it.  At scale: centroids
    broadcast; corpus pre-partitioned by list id → 1/nlist scan."""
    e = _vecs(spark, sf_dir)
    dims = e.select("vec_id", "label", F.posexplode("v").alias("dim0", "val"))
    centroids = (
        dims.groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(F.avg("val").alias("cval"))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    qdims = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.posexplode("v").alias("dim0", "qval"))
        .withColumn("dim", F.col("dim0") + 1)
    )
    q2c = (
        qdims.join(F.broadcast(centroids), "dim")
        .groupBy("query_id", "label")
        .agg(F.sum((F.col("qval") - F.col("cval")) * (F.col("qval") - F.col("cval"))).alias("d2"))
    )
    wprobe = Window.partitionBy("query_id").orderBy("d2", "label")
    probe = (
        q2c.withColumn("rn", F.row_number().over(wprobe))
        .filter(F.col("rn") == 1)
        .select("query_id", "label")
    )
    cos = _dot(F.col("qv"), F.col("v")) / (
        F.sqrt(_dot(F.col("qv"), F.col("qv"))) * F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    scored = (
        e.join(F.broadcast(probe), "label")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), cos.alias("_cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "cand_id", "rank", F.round("_cos", 6).alias("cosine"))
    )


KMEANS_K = 8
KMEANS_ITERS = 10  # numpy Lloyd on the bounded sample — iterations are ~free
# Lloyd's iterations run on a deterministic 1/8 hash-sample of the
# corpus (FAISS trains IVF centroids on a sample for the same reason:
# centroid quality converges long before the full corpus is seen, and
# at 100 TB the training scans are the dominant cost — sampling cuts
# every per-iteration shuffle 8×).  The final list assignment still
# covers every vector.
KMEANS_TRAIN_MOD = 8
KMEANS_TRAIN_CAP = 4096  # driver-side training sample bound (FAISS posture)
# multi-probe: each query searches its NPROBE nearest inverted lists.
# nprobe=1 recall is bounded by how often a true neighbor lands in a
# different list than the query (cell-boundary misses); probing 2 of 8
# lists recovers most of those at 2× the (already 1/K) search cost.
# The recall@k-vs-nprobe curve is pinned in tests/test_similarity_kmeans.py.
NPROBE = 2
SEED_POOL = 64  # candidate pool for the greedy max-min seeding

def _ivf_train(spark: SparkSession, sf_dir: str, vecs: DataFrame):
    """Memoized (dim, centroid ndarray) for the corpus, or None when
    the corpus is empty.  Training is deterministic given the corpus
    (hash-fixed sample + seeding + Lloyd), so every consumer —
    ``sim_ivf_kmeans_topk`` plus the recall audit's TWO operating-point
    runs — reproduces bit-identical centroids; memoizing the (collect +
    numpy) step per (session, corpus) removes two full re-trainings
    from the audit without changing any result."""
    return memo.get(
        spark,
        sf_dir,
        "ivf_train",
        lambda: (_ivf_train_impl(spark, vecs), ()),
        reads=("embeddings",),
    )


def _ivf_train_impl(spark: SparkSession, vecs: DataFrame):
    """Numpy Lloyd on a bounded deterministic sample — the body that
    used to live inline in :func:`ivf_kmeans_topk` (unchanged math).

    The FAISS IVF posture: TRAIN on a sample that fits in memory,
    ASSIGN/SEARCH distributed.  r2 trained in-engine — 3 iterations of
    (broadcast-join + 64-column avg aggregate + localCheckpoint) whose
    per-iteration plan compilation dominated the data by ~100×
    (measured ~48 s of the sf0.001 bench for K=8, d=64, 500 vectors).
    Training touches at most KMEANS_TRAIN_CAP vectors (portable hash
    sample, deterministic), so driver memory is bounded at any corpus
    size; every corpus-sized stage stays in-engine."""
    import numpy as np

    from .sampling import cap_sample

    if vecs.select("v").head() is None:
        return None  # empty corpus: nothing to index (ADVICE r4 #4)
    train = vecs.filter(F.pmod(F.xxhash64("vec_id"), F.lit(KMEANS_TRAIN_MOD)) == 0)
    rows = (
        cap_sample(train, "vec_id", KMEANS_TRAIN_CAP)
        .select("vec_id", "v", F.xxhash64("vec_id").alias("h"))
        .orderBy("h", "vec_id")
        .collect()
    )
    if not rows:
        # the 1-in-KMEANS_TRAIN_MOD hash filter can miss every vector
        # of a tiny corpus — train on the (capped) corpus itself; the
        # corpus is non-empty here by the head() guard above
        rows = (
            cap_sample(vecs, "vec_id", KMEANS_TRAIN_CAP)
            .select("vec_id", "v", F.xxhash64("vec_id").alias("h"))
            .orderBy("h", "vec_id")
            .collect()
        )
    X = np.array([r.v for r in rows], dtype="float64")
    # greedy max-min seeding over the hash-ordered head of the sample
    pool = X[: min(SEED_POOL, len(X))]
    chosen = [0]
    while len(chosen) < min(KMEANS_K, len(pool)):
        d2 = ((pool[:, None, :] - pool[chosen][None, :, :]) ** 2).sum(-1)
        nearest = d2.min(axis=1)
        nearest[chosen] = -1.0
        chosen.append(int(nearest.argmax()))
    C = pool[chosen].copy()
    for _ in range(KMEANS_ITERS):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(axis=1)
        for k in range(len(C)):
            members = X[assign == k]
            if len(members):
                C[k] = members.mean(axis=0)
    return C


@register("sim_ivf_kmeans_topk")
# PERMANENT rows-only contract (the repo's single no-oracle entry, by
# design — written justification per VERDICT r2 §next-round #3):
# 1. The output is defined by K-means training state: greedy max-min
#    seeding over a hash-ordered sample pool followed by KMEANS_ITERS
#    Lloyd iterations.  Every step is deterministic GIVEN the previous
#    state, but the state is ~K×dim doubles of accumulated float-sum
#    centroids.  Reproducing it in DuckDB would require re-implementing
#    the full training loop (recursive CTE over list-valued centroid
#    columns with bit-matching float summation ORDER inside avg()),
#    at which point the "oracle" is a second implementation of the same
#    algorithm, not an independent check — it certifies nothing the
#    pinned tests don't.
# 2. What IS independently certified: (a) determinism — the driver's
#    rows-only re-run gate sees identical row counts every round, and
#    seeding/iteration order is hash-fixed (no Math.random anywhere);
#    (b) CORRECTNESS of the ANN contract — recall@K against the
#    oracle-checked exact brute force is pinned as a monotone
#    recall-vs-nprobe curve in tests/test_similarity_kmeans.py (probe
#    more lists → recall rises to 1.0), which is the property an IVF
#    index must satisfy, independent of which local optimum training
#    lands in.
def sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_kmeans_topk(spark, sf_dir, nprobe=NPROBE)


def ivf_kmeans_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = NPROBE
) -> DataFrame:
    """True IVF-Flat ANN: k-means centroids trained on a bounded
    deterministic sample (Lloyd's in numpy on ≤ KMEANS_TRAIN_CAP
    driver-collected vectors — the FAISS train-on-sample posture), the
    corpus partitioned into inverted lists by nearest centroid
    IN-ENGINE, each query probing its ``nprobe`` nearest lists.

    Seeding: greedy max-min (k-means++-style spread without the
    sequential D²-sampling passes): a {SEED_POOL}-vector hash-ordered
    sample is collected (tiny, driver-side), and K seeds are chosen
    greedily to maximize distance to the nearest already-chosen seed —
    deterministic, and immune to the first-K-ids degenerate clusters
    of naive init.

    Scale: training touches centroids only through a broadcast
    (corpus × K distance argmin is a map-side expression, never a
    shuffle of the corpus); per-iteration recompute is one partial-agg
    shuffle of (list, sum-vector).  Search cost is ~nprobe/K of brute
    force.  Reference pattern: FAISS IVF-Flat multi-probe (public);
    all search math in JVM higher-order functions."""
    vecs = _vecs(spark, sf_dir)  # memo-cached; a second .cache() is a no-op
    C = _ivf_train(spark, sf_dir, vecs)
    if C is None:
        # empty corpus: nothing to index or query — the empty result
        # frame, not an IndexError from an empty training pool
        # (ADVICE r4 #4)
        return spark.createDataFrame(
            [], "query_id BIGINT, vec_id BIGINT, cosine DOUBLE, rank INT"
        )

    def dist2(vcol, cv) -> Column:
        return F.aggregate(
            F.zip_with(vcol, cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda a, z: a + z,
        )

    def nearest_lists(vcol: str, n: int) -> Column:
        # `cents` is an array<struct<cid, cv>> COLUMN from the broadcast
        # 1-row centroid frame — embedding centroids as float literals
        # instead costs a fresh whole-stage-codegen compile of a
        # K×dim-literal expression tree per iteration (measured ~5 s per
        # plan at K=8, d=64; the data itself is milliseconds).  Returns
        # the n nearest centroid ids (distance-sorted struct array).
        ranked = F.array_sort(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    dist2(F.col(vcol), c["cv"]).alias("dist"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        return F.transform(F.slice(ranked, 1, n), lambda s: s["cid"])

    def cent_arr(centroids: DataFrame) -> DataFrame:
        # K tiny rows folded into ONE array row — broadcast-joined so the
        # corpus side never shuffles and the plan stays constant-size
        return centroids.agg(
            F.sort_array(F.collect_list(F.struct("cid", "cv"))).alias("cents")
        )

    centroids = spark.createDataFrame(
        [(k, C[k].tolist()) for k in range(len(C))],
        "cid BIGINT, cv ARRAY<DOUBLE>",
    )

    final_cents = F.broadcast(cent_arr(centroids))
    corpus = vecs.crossJoin(final_cents).select(
        "vec_id",
        "v",
        F.element_at(nearest_lists("v", 1), 1).alias("list_id"),
    )
    # multi-probe: explode each query's nprobe nearest lists; corpus
    # vectors live in exactly one list, so no candidate dedup is needed
    queries = (
        vecs.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(final_cents)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(nearest_lists("v", nprobe)).alias("list_id"),
        )
    )
    norm = lambda col: F.sqrt(_dot(col, col))  # noqa: E731
    scored = (
        corpus.join(F.broadcast(queries), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (_dot(F.col("v"), F.col("qv")) / (norm(F.col("v")) * norm(F.col("qv")))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
        .orderBy("query_id", "rank")
    )


# Contract floor for the IVF recall audit below.  Measured mean
# recall@{TOP_K} at nprobe={NPROBE} is 0.44-0.48 across sf0.001/0.01/0.1
# (r11 calibration); 0.3 leaves ≥0.14 margin while still failing loudly
# on any real index regression (a broken list assignment or probe
# selection collapses recall toward TOP_K/corpus ≈ 0).
IVF_RECALL_FLOOR = 0.3


@register(
    "sim_ivf_recall_audit",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST({TOP_K} AS BIGINT)  AS k,
           CAST({NPROBE} AS BIGINT) AS nprobe,
           TRUE AS mean_recall_ge_floor,
           TRUE AS full_probe_recall_is_1
    FROM embeddings WHERE vec_id < {N_QUERIES} AND embedding IS NOT NULL
    """,
)
def sim_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable ANN contract for the IVF index (VERDICT r10 #3):
    the one entry whose result k-means training state makes
    non-SQL-expressible (`sim_ivf_kmeans_topk`, rows-only by written
    contract) gets a FULL-oracle companion that fails the driver's
    value-hash gate whenever the contract breaks.

    Two invariants are computed in-engine against the exact brute-force
    top-{TOP_K} (`sim_topk_cosine_full`) and emitted as booleans the
    oracle asserts TRUE:

    - ``mean_recall_ge_floor``: mean recall@{TOP_K} over the query set
      at nprobe={NPROBE} ≥ {IVF_RECALL_FLOOR} (calibrated with margin —
      see IVF_RECALL_FLOOR);
    - ``full_probe_recall_is_1``: probing ALL {KMEANS_K} lists
      reproduces the exact top-k EXACTLY — every vector lives in
      exactly one inverted list and the scoring expression is
      bit-identical to brute force, so nprobe=K *is* brute force; any
      dropped/duplicated vector in the list layout breaks this.

    ``n_queries`` is genuinely SQL-computed on both sides.  Scale note:
    this is a bounded audit (one full exact scan over the query batch),
    run to certify the index, not the production search path.  The
    exact top-k (≤ N_QUERIES × TOP_K rows) is cached so the two
    operating-point comparisons share one brute-force scan."""
    # pinned, not .cache(): the fused action below reads this frame
    # from FOUR subtrees at once (two per operating point) — a cold
    # cache would be raced and the brute-force scan re-run 4×.  The
    # frame is bounded (≤ N_QUERIES × TOP_K rows).
    exact = memo.pin(sim_topk_cosine_full(spark, sf_dir).select("query_id", "cand_id"))

    def mean_recall(nprobe: int) -> float:
        # .distinct() before the join (ADVICE r11): a duplicated
        # (query_id, cand_id) in the approx top-k — exactly the
        # duplicated-vector list-layout bug this audit exists to catch
        # — would fan out the join and inflate n_hit past the truth,
        # letting recall read 1.0 while a true candidate was displaced.
        # Deduped, the displaced candidate is genuinely missing from
        # the hit set and full_probe_recall_is_1 fails as intended.
        approx = (
            ivf_kmeans_topk(spark, sf_dir, nprobe=nprobe)
            .select("query_id", F.col("vec_id").alias("cand_id"))
            .distinct()
        )
        hits = (
            exact.join(approx, ["query_id", "cand_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        per_q = (
            exact.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_exact"))
            .join(hits, "query_id", "left")
            .select((F.coalesce("n_hit", F.lit(0)) / F.col("n_exact")).alias("r"))
        )
        # 1-row scalar reduction (vacuous recall 1.0 on an empty corpus)
        return float(per_q.agg(F.coalesce(F.avg("r"), F.lit(1.0))).head()[0])

    # Kept as SEQUENTIAL scalar actions deliberately (r12): fusing the
    # two operating points + the count into one cross-joined action was
    # tried and the mega-plan scheduled the window/distinct subtrees
    # into pathological single-partition stages under AQE — slower than
    # three small actions.  The real r12 win here is upstream:
    # _ivf_train memoizes k-means training per (session, corpus), so
    # the second operating point (and sim_ivf_kmeans_topk) reuse the
    # centroids instead of re-collecting the training sample.
    n_queries = (
        _vecs(spark, sf_dir).filter(F.col("vec_id") < N_QUERIES).count()
    )
    mr = mean_recall(NPROBE)
    fr = mean_recall(KMEANS_K)
    # the pinned blocks of `exact` are freed by GC of its RDD (unpersist
    # would only clear CacheManager registrations); it is bounded.
    return spark.createDataFrame(
        [
            (
                n_queries,
                TOP_K,
                NPROBE,
                bool(mr >= IVF_RECALL_FLOOR),
                bool(fr >= 1.0),
            )
        ],
        "n_queries BIGINT, k BIGINT, nprobe BIGINT, "
        "mean_recall_ge_floor BOOLEAN, full_probe_recall_is_1 BOOLEAN",
    )


@register(
    "sim_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE embedding IS NOT NULL),
    s AS (
      SELECT label, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM v),
    e AS (
      SELECT label, scale,
             list_sum(list_transform(
                 v, x -> pow(x - round(x / scale) * scale, 2))) / len(v) AS mse,
             list_max(list_transform(
                 v, x -> abs(x - round(x / scale) * scale))) AS maxerr
      FROM s)
    SELECT label, count(*) AS n_vecs,
           round(avg(scale), 6)  AS avg_scale,
           round(avg(mse), 6)    AS avg_mse,
           round(max(maxerr), 6) AS max_abs_err
    FROM e GROUP BY label ORDER BY label
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 vector quantization (the storage/ANN compression
    step of an embedding pipeline): per-vector scale = max|x|/127,
    codes = round(x/scale), then the reconstruction-error audit
    (per-label mean squared error and worst absolute error) that
    decides whether int8 is safe for a corpus.

    Everything is higher-order array expressions on the JVM — one scan,
    one partial-agg'd groupBy(label); no Python, no shuffle of the
    vectors themselves, only 4 doubles per label cross the exchange.
    At 100 TB the same plan quantizes shards independently and the
    audit cost stays O(#labels)."""
    v = _vecs(spark, sf_dir)
    s = v.withColumn(
        "scale",
        F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0),
    )
    dq_err = F.transform(
        # round-ok: interior quantization arithmetic, not a hashed output
        "v", lambda x: x - F.round(x / F.col("scale")) * F.col("scale")
    )
    e = s.select(
        "label",
        "scale",
        (
            F.aggregate(dq_err, F.lit(0.0), lambda a, z: a + z * z)
            / F.size("v")
        ).alias("mse"),
        F.array_max(F.transform(dq_err, lambda z: F.abs(z))).alias("maxerr"),
    )
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("scale"), 6).alias("avg_scale"),
            F.round(F.avg("mse"), 6).alias("avg_mse"),
            F.round(F.max("maxerr"), 6).alias("max_abs_err"),
        )
        .orderBy("label")
    )


TRUNC_DIMS = 16


@register(
    "sim_truncated_recall",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS fv
      FROM embeddings WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS query_id, fv AS qv FROM v WHERE vec_id < {N_QUERIES}),
    full_scored AS (
      SELECT query_id, v.vec_id,
             list_sum(list_transform(range(1, 65),
                 i -> qv[i] * fv[i]))
               / (sqrt(list_sum(list_transform(fv, x -> x * x)))
                  * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS c,
             row_number() OVER (PARTITION BY query_id ORDER BY
                 list_sum(list_transform(range(1, 65), i -> qv[i] * fv[i]))
               / (sqrt(list_sum(list_transform(fv, x -> x * x)))
                  * sqrt(list_sum(list_transform(qv, x -> x * x)))) DESC,
                 v.vec_id) AS rk
      FROM v JOIN q ON v.vec_id != query_id),
    trunc_scored AS (
      SELECT query_id, v.vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY
                 list_sum(list_transform(range(1, {TRUNC_DIMS + 1}),
                     i -> qv[i] * fv[i]))
               / (sqrt(list_sum(list_transform(list_slice(fv, 1, {TRUNC_DIMS}),
                                               x -> x * x)))
                  * sqrt(list_sum(list_transform(list_slice(qv, 1, {TRUNC_DIMS}),
                                                 x -> x * x)))) DESC,
                 v.vec_id) AS rk
      FROM v JOIN q ON v.vec_id != query_id)
    SELECT f.query_id,
           count(*) FILTER (WHERE t.rk <= {TOP_K}) AS n_overlap,
           round(count(*) FILTER (WHERE t.rk <= {TOP_K})
                 / CAST({TOP_K} AS DOUBLE), 4) AS recall_at_{TOP_K}
    FROM full_scored f JOIN trunc_scored t
      ON f.query_id = t.query_id AND f.vec_id = t.vec_id
    WHERE f.rk <= {TOP_K}
    GROUP BY f.query_id ORDER BY f.query_id
    """,
)
def sim_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation recall audit (the Matryoshka/short-vector
    question): score every query's exact top-{TOP_K} under FULL 64-dim
    cosine against the top-{TOP_K} under the first {TRUNC_DIMS} dims
    only, and report the per-query overlap.  This is the measurement
    that decides whether truncated embeddings are usable as a cheap
    first-pass filter.

    Scale: both rankings share one broadcast of the query set; the
    corpus is scanned once per ranking (the truncated pass reads the
    same vectors — at 100 TB you'd store the prefix as its own column
    to cut I/O, which this audit would justify)."""
    v = _vecs(spark, sf_dir)
    q = (
        v.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    )
    norm = lambda col: F.sqrt(_dot(col, col))  # noqa: E731

    def ranked(vec_expr, qv_expr):
        scored = (
            v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                (_dot(vec_expr, qv_expr) / (norm(vec_expr) * norm(qv_expr))).alias("c"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("vec_id"))
        return scored.select("query_id", "vec_id", F.row_number().over(w).alias("rk"))

    full_rk = ranked(F.col("v"), F.col("qv"))
    trunc_rk = ranked(
        F.slice(F.col("v"), 1, TRUNC_DIMS), F.slice(F.col("qv"), 1, TRUNC_DIMS)
    )
    return (
        full_rk.filter(F.col("rk") <= TOP_K)
        .join(
            trunc_rk.select(
                "query_id", "vec_id", F.col("rk").alias("trk")
            ),
            ["query_id", "vec_id"],
        )
        .groupBy("query_id")
        .agg(
            F.count(F.when(F.col("trk") <= TOP_K, 1)).alias("n_overlap"),
            # round-ok: n/TOP_K has 2 decimals — round(…, 4) is identity
            F.round(
                F.count(F.when(F.col("trk") <= TOP_K, 1)) / float(TOP_K), 4
            ).alias(f"recall_at_{TOP_K}"),
        )
        .orderBy("query_id")
    )


@register(
    "sim_cluster_separation",
    oracle="""
    WITH v AS (
      SELECT label, vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS fv
      FROM embeddings WHERE embedding IS NOT NULL),
    cent AS (
      SELECT label, list(avg_val ORDER BY i) AS cv FROM (
        SELECT label, u.i AS i, avg(fv[u.i]) AS avg_val
        FROM v CROSS JOIN unnest(range(1, 65)) AS u(i)
        GROUP BY label, u.i)
      GROUP BY label),
    radius AS (
      SELECT v.label,
             avg(sqrt(list_sum(list_transform(range(1, 65),
                 i -> pow(v.fv[i] - c.cv[i], 2))))) AS r
      FROM v JOIN cent c ON v.label = c.label
      GROUP BY v.label),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             sqrt(list_sum(list_transform(range(1, 65),
                 i -> pow(a.cv[i] - b.cv[i], 2)))) AS centroid_dist,
             ra.r AS radius_a, rb.r AS radius_b
      FROM cent a JOIN cent b ON a.label < b.label
      JOIN radius ra ON ra.label = a.label
      JOIN radius rb ON rb.label = b.label)
    SELECT label_a, label_b,
           round(centroid_dist, 6) AS centroid_dist,
           round((radius_a + radius_b) / centroid_dist, 6) AS db_ratio
    FROM pairs ORDER BY label_a, label_b
    """,
)
def sim_cluster_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-separation audit (Davies-Bouldin-style): pairwise
    centroid distances between label clusters and the ratio
    (r_a + r_b)/dist — ratios near or above 1 mean the clusters
    overlap and the label (or the k-means partition in
    `sim_ivf_kmeans_topk`) is unreliable for routing.

    Centroids are one per-dimension aggregate (posexplode-free: dim
    parallel avg columns), radii one join + aggregate; the pairwise
    stage runs on K rows.  Everything after the two corpus passes is
    constant-size."""
    v = _vecs(spark, sf_dir)  # carries (vec_id, v, label)
    dim = 64
    # cent is consumed THREE times (radius build + both sides of the
    # pairwise join) and radius twice — left lazy, each consumption
    # re-ran the full corpus aggregate (12 embeddings scans in the
    # committed before-plan).  Both frames are K rows (K = #labels), so
    # pinning them cuts the corpus passes to exactly two: one for
    # centroids, one for radii.
    cent = memo.pin(
        v.groupBy("label")
        .agg(*[F.avg(F.element_at("v", i + 1)).alias(f"c{i}") for i in range(dim)])
        .select("label", F.array(*[F.col(f"c{i}") for i in range(dim)]).alias("cv"))
    )
    dist = lambda a, b: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
    )
    radius = memo.pin(
        v.join(F.broadcast(cent), "label")
        .select("label", dist(F.col("v"), F.col("cv")).alias("d"))
        .groupBy("label")
        .agg(F.avg("d").alias("r"))
    )
    a = cent.select(F.col("label").alias("label_a"), F.col("cv").alias("cva"))
    b = cent.select(F.col("label").alias("label_b"), F.col("cv").alias("cvb"))
    ra = radius.select(F.col("label").alias("label_a"), F.col("r").alias("radius_a"))
    rb = radius.select(F.col("label").alias("label_b"), F.col("r").alias("radius_b"))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .join(F.broadcast(ra), "label_a")
        .join(F.broadcast(rb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(dist(F.col("cva"), F.col("cvb")), 6).alias("centroid_dist"),
            # round-ok: centroid distance is sqrt-derived — float-stat
            F.round(
                (F.col("radius_a") + F.col("radius_b"))
                / dist(F.col("cva"), F.col("cvb")),
                6,
            ).alias("db_ratio"),
        )
        .orderBy("label_a", "label_b")
    )


JL_K = 16  # Johnson-Lindenstrauss target dimensionality
EMB_D = 64  # fixture embedding dimensionality (all SFs)


def _jl_sign(i: Column, j: Column) -> Column:
    """Deterministic ±1 Rademacher entry R[i][j] from the portable
    integer mixer (`sampling.hash_bucket`) — identical in any engine,
    no stored projection matrix to ship."""
    from .sampling import hash_bucket

    return F.when(hash_bucket(i * 97 + j * 389 + F.lit(7)) % 2 == 0, F.lit(1.0)).otherwise(
        F.lit(-1.0)
    )


def jl_sign_value(i: int, j: int) -> float:
    """Python twin of :func:`_jl_sign` — the SAME portable mixer on the
    SAME key, evaluated at PLAN TIME.  The signs depend only on (i, j),
    so they are constants: folding them into literals removes ~8 bigint
    ops per (dim, out-dim) pair per ROW (measured 8× on the projection
    scan) while the oracle keeps deriving them in SQL — value parity is
    what the oracle checks."""
    from .sampling import _A, _C1, _C2, _P

    k = i * 97 + j * 389 + 7
    h = (k % _P * _A) % _P
    h = ((h + _C1) * _A) % _P
    h = ((h + _C2) * _A) % _P
    return 1.0 if h % 2 == 0 else -1.0


def jl_sign_matrix(k_out: int = JL_K, d_in: int = EMB_D) -> Column:
    """Literal k_out × d_in ±1 matrix column (rows = output dims)."""
    return F.array(
        *[
            F.array(*[F.lit(jl_sign_value(i, j)) for i in range(d_in)])
            for j in range(k_out)
        ]
    )


def jl_project_unrolled(v: Column, k_out: int = JL_K, d_in: int = EMB_D) -> Column:
    """The JL projection UNROLLED into plain ± arithmetic — the bulk
    path.  Spark evaluates higher-order-function lambdas INTERPRETED
    (measured ~0.5 µs per element — 10 s for 20k vectors via nested
    transform/aggregate), while a flat k_out × d_in sum-of-terms
    expression whole-stage-codegens to JVM arithmetic: one ~9 s Janino
    compile, then ~100× per-row throughput.  Use the HOF form for small
    probe sets (compile dominates), this form for corpus-scale scans."""
    cols = []
    for j in range(k_out):
        terms: Column | None = None
        for i in range(d_in):
            t = F.element_at(v, i + 1)
            t = t if jl_sign_value(i, j) > 0 else -t
            terms = t if terms is None else terms + t
        cols.append(terms)
    return F.array(*cols)


def _sql_jl_sign(i: str, j: str) -> str:
    from .sampling import _sql_bucket

    return f"CASE WHEN ({_sql_bucket(f'({i} * 97 + {j} * 389 + 7)')}) % 2 = 0 THEN 1.0 ELSE -1.0 END"


@register(
    "sim_jl_projection_audit",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
    p AS (
      SELECT vec_id, v,
             list_transform(range(0, {JL_K}),
                 j -> list_sum(list_transform(range(0, {EMB_D}),
                          i -> ({_sql_jl_sign('i', 'j')}) * v[i + 1]))) AS pv
      FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, pv AS qpv FROM p WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT query_id, p.vec_id AS cand_id,
             list_cosine_similarity(qv, p.v)  AS c_exact,
             list_cosine_similarity(qpv, p.pv) AS c_proj
      FROM q JOIN p ON p.vec_id != q.query_id),
    ranked AS (
      SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id ORDER BY c_exact DESC, cand_id) AS r_exact,
             row_number() OVER (PARTITION BY query_id ORDER BY c_proj  DESC, cand_id) AS r_proj
      FROM scored)
    SELECT a.query_id,
           {JL_K} AS jl_dims,
           count(b.cand_id) AS overlap_at_{TOP_K}
    FROM (SELECT query_id, cand_id FROM ranked WHERE r_exact <= {TOP_K}) a
    LEFT JOIN (SELECT query_id, cand_id FROM ranked WHERE r_proj <= {TOP_K}) b
      ON a.query_id = b.query_id AND a.cand_id = b.cand_id
    GROUP BY a.query_id
    ORDER BY a.query_id
    """,
)
def sim_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection audit: project 64-d
    embeddings to 16-d with a deterministic ±1 Rademacher matrix
    (Achlioptas 2001 — database-friendly projections), then measure
    top-10 overlap between exact-space and projected-space cosine
    retrieval for each probe.

    This is the dimensionality-reduction leg of the ANN toolbox (next
    to sign-LSH buckets and IVF): at 100 TB a 4× dim cut is a 4× cut in
    scan bytes and dot-product FLOPs for every downstream search.  The
    projection is row-local (a 16×64 fold inside one projection — no
    shuffle, no stored matrix: signs are re-derived from the portable
    integer mixer in any engine); retrieval reuses the one-pass
    broadcast-probe plan, so the audit costs two scans of the corpus.

    On the synthetic fixture the corpus is near-isotropic (all cosines
    ~0, neighbors barely separated), so measured overlap is near the
    random floor — exactly what the audit is FOR: it tells a pipeline
    whether 16 dims preserve ITS neighbor structure before committing
    the cheap scan path."""
    e = _vecs(spark, sf_dir).withColumn("_sm", jl_sign_matrix())
    i_seq = F.sequence(F.lit(0), F.lit(EMB_D - 1))
    pv = F.transform(
        F.col("_sm"),
        lambda row: F.aggregate(
            i_seq,
            F.lit(0.0),
            lambda acc, i: acc + F.get(row, i) * F.element_at(F.col("v"), i + 1),
        ),
    )
    p = e.select("vec_id", "v", pv.alias("pv"))
    exact = cosine_topk(
        p.select("vec_id", "v"), p.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "v")
    ).select("query_id", "cand_id")
    proj = cosine_topk(
        p.select("vec_id", F.col("pv").alias("v")),
        p.filter(F.col("vec_id") < N_QUERIES).select("vec_id", F.col("pv").alias("v")),
    ).select("query_id", "cand_id")
    hits = proj.withColumn("_hit", F.lit(1))
    return (
        exact.join(hits, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").alias(f"overlap_at_{TOP_K}"))
        .select("query_id", F.lit(JL_K).alias("jl_dims"), f"overlap_at_{TOP_K}")
        .orderBy("query_id")
    )


@register(
    "sim_doc_semantic_neighbors",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT query_id, e.vec_id AS cand_id,
             list_cosine_similarity(qv, e.v) AS c
      FROM q JOIN e ON e.vec_id != q.query_id),
    ranked AS (
      SELECT query_id, cand_id, c,
             row_number() OVER (PARTITION BY query_id ORDER BY c DESC, cand_id) AS rank
      FROM scored)
    SELECT r.query_id AS probe_doc, r.cand_id AS neighbor_doc, r.rank,
           round(r.c, 6) AS cosine,
           d.source AS neighbor_source, d.n_chars AS neighbor_chars
    FROM ranked r
    JOIN documents d ON d.doc_id = r.cand_id
    WHERE r.rank <= 5
    ORDER BY probe_doc, rank
    """,
)
def sim_doc_semantic_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval: text documents joined to their embedding
    rows (doc_id = vec_id is the fixtures' modality link), probe docs'
    nearest semantic neighbors resolved BACK to document metadata —
    the lookup a semantic-dedup reviewer or RAG retriever actually
    consumes (ids alone are useless; you want the neighbor's source
    and size next to its score).

    Plan: the exact broadcast-probe top-k (`cosine_topk`) plus ONE
    metadata equi-join of the k·|probes| result rows against the
    documents table — the join input is the tiny RESULT, not the
    corpus, so enrichment costs nothing at any scale."""
    e = _vecs(spark, sf_dir)
    topk = cosine_topk(e, e.filter(F.col("vec_id") < N_QUERIES), k=5)
    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("cand_id"),
        F.col("source").alias("neighbor_source"),
        F.col("n_chars").alias("neighbor_chars"),
    )
    return (
        topk.join(d, "cand_id")
        .select(
            F.col("query_id").alias("probe_doc"),
            F.col("cand_id").alias("neighbor_doc"),
            "rank",
            "cosine",
            "neighbor_source",
            "neighbor_chars",
        )
        .orderBy("probe_doc", "rank")
    )
