"""Session memos: values computed from the fixture tables under one
``sf_dir`` and reused by every later caller in the same Spark
application — table plans, the events schema, the dedup token/shingle/
pair/component substrates, the typed vector frame and the IVF centroids.

Every memo goes through :func:`get`, which applies one set of rules:

* **Key.** ``(applicationId, sf_dir, name, params)``.  Each entry also
  carries the fingerprint — ``(path, mtime_ns, size)`` of every file —
  of the tables it declares it reads.  A new session never sees another
  session's entries, and a table rewritten in place is detected by a
  handful of ``stat()`` calls.
* **Lookup and eviction.** A hit is the stat walk plus a dict lookup,
  with no Spark call.  When a key's fingerprint changes, the old entry
  is evicted and its backing frames are unpersisted before the new
  value is built, so a rewritten corpus leaves exactly one live entry.
* **Stale cached blocks.** Spark's CacheManager matches cached data by
  plan structure, so a rebuilt plan over the same path would be served
  the old bytes' cached blocks.  When a path's fingerprint differs from
  the one last resolved in this application, the memo pushes
  ``spark.catalog.refreshByPath`` for it.  That record survives
  :func:`invalidate`: clearing the memos must not skip the refresh.
* **Fills.** ``build()`` returns ``(value, frames)``.  The memo pins
  ``frames`` (``.cache()`` + ``count()``, so every consumer hits a warm
  cache instead of racing a cold one) and, for a filling memo, reports
  the build's wall seconds through :func:`..memo_events.record_fill`
  under the memo's name.

A frame that one query reads several times, rather than many queries,
goes through :func:`pin` instead, which also holds the deployment note
for both kinds of pin.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterable
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from .memo_events import record_fill


class _Entry(NamedTuple):
    paths: tuple[str, ...]
    fp: tuple
    value: Any
    frames: tuple[DataFrame, ...]


#: (applicationId, sf_dir, name, params) → live entry
_ENTRIES: dict[tuple, _Entry] = {}

#: (applicationId, path) → fingerprint last resolved for that path
_RESOLVED: dict[tuple[str, str], tuple] = {}


def fingerprint_path(path: str) -> tuple:
    """(path, mtime_ns, size) of every file under ``path``.  The walk
    is fully sorted so partitioned layouts fingerprint
    deterministically."""
    entries = []
    if os.path.isdir(path):
        for base, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(base, f)
                st = os.stat(p)
                entries.append((p, st.st_mtime_ns, st.st_size))
    elif os.path.exists(path):
        st = os.stat(path)
        entries.append((path, st.st_mtime_ns, st.st_size))
    return tuple(entries)


def get(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], tuple[Any, tuple[DataFrame, ...]]],
    *,
    reads: tuple[str, ...],
    params: tuple = (),
    fill: bool = True,
) -> Any:
    """The memoized value of ``name`` over the tables ``reads`` under
    ``sf_dir``, built by ``build()`` on a miss (see the module
    docstring).  ``fill=False`` marks memos whose build is not reported
    as a fill (table plans, the events schema)."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name, params)
    paths = tuple(f"{sf_dir}/{t}.parquet" for t in reads)
    fp = _fingerprint(paths)
    entry = _ENTRIES.get(key)
    if entry is not None:
        if entry.fp == fp:
            return entry.value
        _evict(key)
    for path, path_fp in zip(paths, fp):
        if _RESOLVED.setdefault((app, path), path_fp) != path_fp:
            spark.catalog.refreshByPath(path)
            _RESOLVED[(app, path)] = path_fp
    t0 = time.perf_counter()
    value, frames = build()
    _pin(frames)
    if fill:
        record_fill(name, time.perf_counter() - t0)
    _ENTRIES[key] = _Entry(paths, fp, value, frames)
    return value


def _fingerprint(paths: tuple[str, ...]) -> tuple:
    return tuple(fingerprint_path(p) for p in paths)


def pin(df: DataFrame) -> DataFrame:
    """``df`` materialized by one eager ``localCheckpoint``, its lineage
    truncated.  This is the only per-query pin in the package.

    Pin a frame only when it is bounded, small next to the tables
    beneath it (an aggregate, a grid, a capped sample or a narrow
    projection), and pinning it does one of:

    * saves a fact-table scan, because several subtrees of the final
      plan (or several jobs) read the frame and each would otherwise
      re-run the scan beneath it;
    * measures faster, over alternating warm runs;
    * truncates the lineage that a loop grows
      (``dedup._component_labels_loop``);
    * keeps the data of a table that is dropped next
      (``dialect_final_replacing_latest``).

    Deployment note: ``localCheckpoint`` keeps its blocks on live
    executors only and drops the lineage that could recompute them, so
    on a cluster that loses executors the job fails; the memo frames'
    ``.cache()`` blocks are likewise lost with their executor.  Such a
    deployment switches this function to a reliable checkpoint
    (``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()``) and
    persists the memo frames to storage."""
    return df.localCheckpoint(eager=True)


def _pin(frames: tuple[DataFrame, ...]) -> None:
    for frame in frames:
        frame.cache()
        frame.count()


def _evict(key: tuple) -> None:
    for frame in _ENTRIES.pop(key).frames:
        frame.unpersist()


def entries(sf_dir: str | None = None, names: Iterable[str] | None = None) -> list[tuple]:
    """Keys of the live entries, optionally only those under ``sf_dir``
    and/or named in ``names``."""
    names = None if names is None else set(names)
    return [
        k
        for k in _ENTRIES
        if (sf_dir is None or k[1] == sf_dir) and (names is None or k[2] in names)
    ]


def invalidate(sf_dir: str | None = None, names: Iterable[str] | None = None) -> None:
    """Drop every memo (or those under ``sf_dir``, and/or named in
    ``names``) and unpersist their backing frames.  Callers that
    rewrite a corpus in place need not call this — the fingerprint
    catches the rewrite — but may, to release the old frames early."""
    for key in entries(sf_dir, names):
        _evict(key)


def reregister() -> None:
    """Re-cache and re-pin the backing frames of every surviving entry
    of the active application, after a blanket
    ``spark.catalog.clearCache()`` dropped their registrations.  The
    count runs here, so the next consumer reads a loaded cache instead
    of each consumer recomputing the frame uncached.  An entry whose
    tables changed since its build is evicted instead."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return
    app = spark.sparkContext.applicationId
    for key in [k for k in _ENTRIES if k[0] == app]:
        entry = _ENTRIES[key]
        if _fingerprint(entry.paths) != entry.fp:
            _evict(key)
        else:
            _pin(entry.frames)
