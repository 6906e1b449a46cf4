"""Process-level materialized-intermediate cache.

Several query families consume the same expensive derived artifact —
the near-dup CC label table, the learned BPE merge table, the k-means
centroids, the classifier's cached training table. A production
deployment materializes these at ingest (exactly as
``build_ivf_index`` does on disk); recomputing them per consuming
query benchmarks an anti-pattern. This module is the ONE
implementation of the share-per-process pattern:

- keyed by ``SparkContext.applicationId`` (unique per context,
  including a stopped-and-restarted context in the same process —
  ``id(sc)`` is NOT safe, CPython reuses addresses after GC) plus a
  caller-supplied name and key parts;
- per-KEY locking: the first consumer builds while later consumers
  of the SAME key wait; unrelated keys build concurrently;
- every entry is stamped with the ``table_version`` of its lake dir
  (``key_parts[0]``: the listed name, size and mtime of every file
  under it, one driver-side walk, no Spark job). A lookup whose stamp
  differs — an upsert appended to a table, a table was rewritten —
  unpersists the old artifact and rebuilds, so an answer never comes
  from an older lake. A lake the driver cannot list (not on the local
  filesystem) stamps ``()`` and its entries live for the process;
  ``invalidate()`` drops entries by hand.
"""

from __future__ import annotations

import threading
from typing import Any, Callable

from .sources.tables import table_version

_CACHE: dict = {}
_LOCKS: dict = {}
_GLOBAL = threading.Lock()


def shared_intermediate(
    spark, name: str, key_parts: tuple, build: Callable[[], Any]
) -> Any:
    """Return the cached artifact for (app, name, *key_parts),
    building it once per process and version of the lake dir
    ``key_parts[0]`` via ``build()``."""
    key = (spark.sparkContext.applicationId, name, *key_parts)
    version = table_version(key_parts[0])
    hit = _CACHE.get(key)
    if hit is not None and hit[0] == version:
        return hit[1]
    with _GLOBAL:
        lock = _LOCKS.setdefault(key, threading.Lock())
    with lock:
        hit = _CACHE.get(key)
        if hit is None or hit[0] != version:
            if hit is not None:
                _unpersist_artifact(hit[1])
            hit = _CACHE[key] = (version, build())
    return hit[1]


def _unpersist_artifact(obj: Any) -> None:
    """Release executor storage held by an evicted artifact: cached
    DataFrames / localCheckpointed RDD-backed frames respond to
    ``unpersist``; tuples/lists of them are walked; everything else
    (driver-side plain data: merge tables, centroid arrays) has no
    pinned storage to free."""
    if isinstance(obj, (tuple, list)):
        for member in obj:
            _unpersist_artifact(member)
        return
    unpersist = getattr(obj, "unpersist", None)
    if callable(unpersist):
        try:
            unpersist()
        except Exception:
            pass  # a stopped SparkContext: storage is already gone
    # localCheckpoint-backed frames: DataFrame.unpersist only clears
    # CacheManager entries and is a no-op for the checkpoint's RDD
    # blocks — free those too by unpersisting the LogicalRDD's
    # backing RDD (r12 ADVICE #4), else invalidate() leaves the old
    # edge-list blocks pinned until the ContextCleaner finds them.
    jdf = getattr(obj, "_jdf", None)
    if jdf is not None:
        try:
            plan = jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)
        except Exception:
            pass


def invalidate(name: str | None = None) -> None:
    """Drop cached entries (all, or those matching ``name``),
    unpersisting any DataFrame-typed artifacts so the eviction frees
    executor storage too, not just the dict slot (r4 ADVICE)."""
    with _GLOBAL:
        for k in [
            k for k in _CACHE if name is None or k[1] == name
        ]:
            _unpersist_artifact(_CACHE.pop(k, (None, None))[1])
            _LOCKS.pop(k, None)
