"""End-to-end session-memo invalidation (VERDICT r5 next-round #5,
ADVICE r5 #2, ADVICE r13 #1/#2).

Every session memo (:mod:`clickhouse_migrator_spark.memo`) keys on the
fingerprint (path + mtime_ns + size per data file) of the tables it
reads.  These tests rewrite fixture copies IN PLACE and assert that:

* every layer rebuilds from the new bytes rather than serving stale
  results, and the superseded entry is evicted and unpersisted;
* ``memo.reregister()`` re-pins surviving frames after a blanket
  ``clearCache()``;
* the ``refreshByPath`` record survives an explicit invalidation, so a
  rebuilt plan never reads the old bytes' cached blocks.

Per-query pins go through ``memo.pin`` alone, which holds the rule for
when a frame may be pinned and the deployment note.
"""

from __future__ import annotations

import re
import shutil
from pathlib import Path

import duckdb

from clickhouse_migrator_spark import memo

SRC = "/root/testdata/sf0.001"


def _write_docs(dest_dir, limit, tag=""):
    """A documents.parquet with the first ``limit`` fixture docs (text
    optionally tagged so contents, size and mtime all change)."""
    con = duckdb.connect()
    con.sql(
        f"COPY (SELECT doc_id, text || '{tag}' AS text, lang, source, n_chars "
        f"      FROM '{SRC}/documents.parquet' ORDER BY doc_id LIMIT {limit}) "
        f"TO '{dest_dir}/documents.parquet' (FORMAT PARQUET)"
    )


def _rewrite_head(dest_dir, name, limit, extra=""):
    """Rewrite ``name``.parquet in place with its first ``limit`` rows
    (plus the ``extra`` select items)."""
    duckdb.connect().sql(
        f"COPY (SELECT *{extra} FROM '{SRC}/{name}.parquet' LIMIT {limit}) "
        f"TO '{dest_dir}/{name}.parquet' (FORMAT PARQUET)"
    )


def _unpersisted(df) -> bool:
    level = df.storageLevel
    return not (level.useMemory or level.useDisk)


def _cache_loaded(spark, df) -> bool:
    """True when ``df`` has a CacheManager entry whose blocks are
    already materialized (a consumer would read a loaded cache)."""
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return cached.isDefined() and (
        cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
    )


def test_dedup_substrate_rebuilds_on_corpus_rewrite(spark, tmp_path):
    """Mutating documents.parquet in place must invalidate EVERY dedup
    memo layer — token arrays, shingle stream, verified pairs,
    component labels — via the fingerprint key alone (no explicit
    invalidation call), evicting and unpersisting the superseded
    entries."""
    from clickhouse_migrator_spark.operators.dedup import (
        component_labels,
        near_dup_pairs,
        shingles,
    )

    d = str(tmp_path / "corpus_a")
    (tmp_path / "corpus_a").mkdir()
    _write_docs(d, 60)

    names = ["token_arrays", "shingles_k3", "near_dup_pairs", "component_labels"]
    sh1 = shingles(spark, d)
    docs1 = sh1.select("doc_id").distinct().count()
    pairs1 = near_dup_pairs(spark, d)
    labels1 = component_labels(spark, d)
    keys1 = memo.entries(d, names)
    assert sorted(k[2] for k in keys1) == sorted(names)
    frames1 = [f for k in keys1 for f in memo._ENTRIES[k].frames]
    assert frames1 and all(f.is_cached for f in frames1)

    # rewrite the corpus in place: fewer docs, different bytes
    _write_docs(d, 25, tag=" rewritten")

    sh2 = shingles(spark, d)
    assert sh2 is not sh1
    docs2 = sh2.select("doc_id").distinct().count()
    assert docs2 < docs1  # rebuilt from the NEW bytes, not stale
    assert near_dup_pairs(spark, d) is not pairs1
    assert component_labels(spark, d) is not labels1
    # superseded entries evicted and their frames unpersisted: one live
    # entry per memo name for this corpus.  (The rebuilt plans are
    # structurally identical to the old ones and share their
    # CacheManager slot, so the unpersist() call is what is checked.)
    assert sorted(k[2] for k in memo.entries(d, names)) == sorted(names)
    assert not any(f.is_cached for f in frames1)


def test_vec_memo_rewrite_evicts_and_unpersists_old_frame(spark, tmp_path):
    """ADVICE r13 #1: rewriting embeddings.parquet in place must leave
    exactly one live vector entry for (app, sf_dir), and the old
    vector frame must be unpersisted, not leaked."""
    from clickhouse_migrator_spark.operators.similarity import _vecs

    d = str(tmp_path / "emb")
    (tmp_path / "emb").mkdir()
    shutil.copy(f"{SRC}/embeddings.parquet", f"{d}/embeddings.parquet")

    old = _vecs(spark, d)
    n_old = old.count()
    # the extra column makes the new plan differ from the old one, so
    # the old frame's CacheManager entry is observable on its own
    _rewrite_head(d, "embeddings", 40, extra=", 1 AS extra_col")
    new = _vecs(spark, d)

    assert new is not old
    assert new.count() < n_old
    assert _unpersisted(old)
    assert len(memo.entries(d, ["vec_arrays"])) == 1


def test_reregister_repins_surviving_frames(spark, tmp_path):
    """ADVICE r13 #2: after a blanket clearCache, reregister() itself
    starts the count job, so the next consumer of a surviving memo
    reads a loaded cache instead of refilling it on its own clock."""
    from clickhouse_migrator_spark.operators.similarity import _vecs

    d = str(tmp_path / "emb")
    (tmp_path / "emb").mkdir()
    shutil.copy(f"{SRC}/embeddings.parquet", f"{d}/embeddings.parquet")

    v = _vecs(spark, d)
    assert _cache_loaded(spark, v)
    spark.catalog.clearCache()
    assert not _cache_loaded(spark, v)
    memo.reregister()
    assert _vecs(spark, d) is v  # the entry survived
    assert _cache_loaded(spark, v)


def test_refresh_record_survives_invalidate(spark, tmp_path):
    """A cached frame derived from a table, then the table rewritten in
    place with fewer rows and every memo invalidated: the rebuilt
    same-shaped frame must count the NEW bytes.  The memo's refresh
    record outlives the invalidation, so it still pushes refreshByPath
    and the CacheManager cannot serve the old cached blocks for the
    structurally identical plan."""
    from clickhouse_migrator_spark.tables import table

    d = str(tmp_path / "ord")
    (tmp_path / "ord").mkdir()
    shutil.copy(f"{SRC}/orders.parquet", f"{d}/orders.parquet")

    def order_keys():
        return table(spark, d, "orders").select("o_orderkey")

    old = order_keys().cache()
    n_old = old.count()
    _rewrite_head(d, "orders", 100)
    memo.invalidate()

    assert order_keys().count() == 100 < n_old
    old.unpersist()


def test_events_schema_cache_rebuilds_on_rewrite(spark, tmp_path):
    """ADVICE r5 #2: the streaming schema memo must key on the events
    fingerprint — rewriting events.parquet with a DIFFERENT schema in
    the same session must be observed, and superseded fingerprints for
    the same path must be evicted (no unbounded growth)."""
    from clickhouse_migrator_spark.streaming.events_stream import events_schema

    d = str(tmp_path / "ev")
    (tmp_path / "ev").mkdir()
    shutil.copy(f"{SRC}/events.parquet", f"{d}/events.parquet")

    s1 = events_schema(spark, d)
    assert events_schema(spark, d) is s1  # memo hit on unchanged bytes
    assert "extra_col" not in s1.fieldNames()

    con = duckdb.connect()
    con.sql(
        f"COPY (SELECT *, 1 AS extra_col FROM '{SRC}/events.parquet' LIMIT 10) "
        f"TO '{d}/events.parquet' (FORMAT PARQUET)"
    )
    s2 = events_schema(spark, d)
    assert "extra_col" in s2.fieldNames()
    # one live entry per (app, path): the stale fingerprint was evicted
    assert len(memo.entries(d, ["events_schema"])) == 1


def test_every_local_checkpoint_goes_through_memo_pin():
    """No module but memo.py calls ``.localCheckpoint(``: a reliable-
    checkpoint deployment then changes ``memo.pin`` and nothing else."""
    pkg = Path(memo.__file__).parent
    call = re.compile(r"\.\s*localCheckpoint\s*\(")
    found = [
        f"{py.relative_to(pkg)}:{i}"
        for py in sorted(pkg.rglob("*.py"))
        if py != pkg / "memo.py"
        for i, line in enumerate(py.read_text().splitlines(), 1)
        if call.search(line)
    ]
    assert found == []
