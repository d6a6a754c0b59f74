"""The engine's one session-staging registry.

Many operators reuse an intermediate (shingle sets, the co-purchase
edge list, candidate tables, trained models, round-trip readers) across
several consumers of the same input. ``stage`` builds each such
artifact once per input and returns the same object to every later
caller; nothing else in the package keeps a get-or-build cache.

- **Key.** ``(name, id(owner), *params)``: ``name`` names the artifact,
  ``owner`` is the object whose identity scopes it (the input
  DataFrame, the ``InstacartTables``, or the SparkSession for
  per-session handles and paths), ``params`` are the build parameters.
- **Held owner.** The value is ``(owner, result)``. Holding the owner
  keeps it alive, so its ``id()`` cannot be recycled while the entry
  exists, and a lookup only hits if the held owner ``is`` the caller's.
- **Eviction.** On a miss, entries of the same ``name`` whose owner is
  older than the ``KEEP_OWNERS`` most recent owner generations (the
  incoming one included, by first-touch order) are dropped; other
  names are never touched, so the different inputs of one session
  (documents, embeddings, lineitem, tables, the session itself) do not
  evict each other. Two generations keep two inputs used in
  alternation warm. Dropping the references releases a superseded
  input's localCheckpoint blocks to Spark's ContextCleaner.
- **Lock.** ``STAGING_LOCK`` serializes every lookup, eviction and
  build, so two threads (the plan-lint builders run in a pool) never
  both build one key. It is re-entrant because a build may stage a
  nested artifact.
- **Store.** ``_STAGED_CACHE`` is a plain module-level dict, read
  through the module global on every call. The benchmark's cold guard
  (``perfbench/layers.CacheGuard``) swaps every ``_*_CACHE`` dict for
  a counting one, so renaming it or hiding it behind another object
  would blind the guard.
"""

from __future__ import annotations

import threading
from typing import Any, Callable

from pyspark.sql import DataFrame


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition ``df`` to the configured default parallelism
    (r10, guide §2.5): the test fixtures are single-row-group parquet
    files, so scans — and every projection fused into them — run as
    ONE task no matter the core count; the driver's 8-vs-32-core
    scaling block measured ratios <= 1 for that reason. An EXPLICIT
    width is load-bearing: AQE coalesces repartition(col) right back
    to one tiny partition, hiding the CPU-bound work again (measured:
    dedup_cdc 4.0 s -> 4.0 s with implicit width, -> 0.98 s with the
    explicit width). Only use above per-row-HEAVY projections whose
    downstream result is partition-invariant (aggregations, keyed
    joins, windows with total orderings). At cluster scale the scan
    already arrives split and the one narrow exchange this adds is
    noise next to the per-row compute it parallelizes; the width
    follows spark.default.parallelism, i.e. the documented env knob.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols) if cols else df.repartition(n)


#: owner generations kept per artifact name
KEEP_OWNERS = 2

#: (name, id(owner), *params) -> (owner, result)
_STAGED_CACHE: dict = {}

STAGING_LOCK = threading.RLock()


def stage(name: str, owner, build: Callable[[], Any], *params,
          checkpoint: bool = True):
    """Return the staged ``name`` artifact of ``owner`` for ``params``,
    calling ``build`` on first touch. With ``checkpoint`` the built
    DataFrame is eagerly localCheckpointed; results that are not a
    single DataFrame (tuples, lists, paths, persisted frames)
    materialize inside ``build`` and pass ``checkpoint=False``."""
    key = (name, id(owner), *params)
    with STAGING_LOCK:
        hit = _STAGED_CACHE.get(key)
        if hit is not None and hit[0] is owner:
            return hit[1]
        _evict(name, owner)
        result = build()
        if checkpoint:
            result = result.localCheckpoint(eager=True)
        _STAGED_CACHE[key] = (owner, result)
        return result


def _evict(name: str, owner) -> None:
    """Drop ``name`` entries of all but the newest ``KEEP_OWNERS - 1``
    owners other than ``owner``."""
    owners: list = []
    for k, (o, _) in _STAGED_CACHE.items():
        if k[0] == name and o is not owner and all(o is not p for p in owners):
            owners.append(o)
    stale = owners[: max(0, len(owners) - (KEEP_OWNERS - 1))]
    for k in [k for k, (o, _) in _STAGED_CACHE.items()
              if k[0] == name and any(o is s for s in stale)]:
        del _STAGED_CACHE[k]
