"""The engine's one session-staging registry.

Many operators reuse an intermediate (shingle sets, the co-purchase
edge list, feature and candidate tables, trained models, round-trip
readers) across several consumers of the same input. ``stage`` builds
each such artifact once per input and returns the same object to every
later caller; nothing else in the package keeps a get-or-build cache,
and nothing else persists a DataFrame.

- **Key.** ``(name, id(owner), *params)``: ``name`` names the artifact,
  ``owner`` is the object whose identity scopes it (the input
  DataFrame, the ``InstacartTables``, or the SparkSession for
  per-session handles and paths), ``params`` are the build parameters.
  A SparkSession-owned artifact passes its input directory (``sf_dir``)
  as the first param.
- **Held owner.** The value is ``(owner, result)``. Holding the owner
  keeps it alive, so its ``id()`` cannot be recycled while the entry
  exists, and a lookup only hits if the held owner ``is`` the caller's.
- **Materialization.** ``checkpoint`` (the default) passes the built
  DataFrame through ``cut``; ``persist`` instead persists it
  MEMORY_AND_DISK, lazily, so the first action that reads it fills the
  cache and every later plan reads it as an ``InMemoryRelation``;
  results that are not a single DataFrame (tuples, lists, paths,
  tables) pass ``checkpoint=False`` and materialize inside ``build``.
- **Eviction.** On a miss, entries of the same ``name`` older than the
  ``KEEP_OWNERS`` most recent input generations (the incoming one
  included, by first-touch order) are dropped. A generation is the
  owner; for a SparkSession owner it is the owner and the ``sf_dir``,
  so session-owned handles, views and tables are bounded per input
  like the rest. Other names are never touched, so the different
  inputs of one session (documents, embeddings, lineitem, tables) do
  not evict each other. Two generations keep two inputs used in
  alternation warm. A dropped persisted result is unpersisted; a
  dropped localCheckpoint is released to Spark's ContextCleaner with
  its last reference.
- **Cut.** ``cut(df)`` is the package's one lineage cut: every
  operator that bounds an iterative plan or shares an intermediate
  between several consumers calls it, and no other module calls
  ``localCheckpoint``. Every cut is eager. Under AQE a lazy
  ``localCheckpoint(eager=False)`` still runs each shuffle and
  broadcast stage of its plan at the call, so the lazy form saved no
  job and only deferred the final stage to the next action. A cut
  block lives in executor storage and cannot be recomputed by Spark:
  an action over a lost block fails with
  ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. ``cut`` is the seam for a
  durable mode (reliable ``checkpoint`` or ``persist(DISK_ONLY)``),
  which then changes this one function.
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

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


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


def cut(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and return a frame whose plan starts at
    the materialized blocks (see **Cut** above); ``localCheckpoint``
    is eager by default."""
    return df.localCheckpoint()


#: owner generations kept per artifact name
KEEP_OWNERS = 2

#: (name, id(owner), *params) -> (owner, result)
_STAGED_CACHE: dict = {}

STAGING_LOCK = threading.RLock()


def stage(name: str, owner, build: Callable[[], Any], *params,
          checkpoint: bool = True, persist: bool = False):
    """Return the staged ``name`` artifact of ``owner`` for ``params``,
    calling ``build`` on first touch. With ``persist`` the built
    DataFrame is persisted MEMORY_AND_DISK (and unpersisted when
    evicted); otherwise, with ``checkpoint``, it is ``cut``."""
    key = (name, id(owner), *params)
    with STAGING_LOCK:
        hit = _STAGED_CACHE.get(key)
        if hit is not None and hit[0] is owner:
            return hit[1]
        _evict(name, _generation(key, owner))
        result = build()
        if persist:
            result = result.persist(StorageLevel.MEMORY_AND_DISK)
        elif checkpoint:
            result = cut(result)
        _STAGED_CACHE[key] = (owner, result)
        return result


def _generation(key: tuple, owner) -> tuple:
    """The input generation of an entry: its owner, and for a session
    owner also the ``sf_dir`` it was staged for. Every owner in the
    store is held alive, so ``id()`` tells them apart."""
    if isinstance(owner, SparkSession):
        return (id(owner), *key[2:3])
    return (id(owner),)


def _evict(name: str, incoming: tuple) -> None:
    """Drop ``name`` entries of all but the newest ``KEEP_OWNERS - 1``
    generations other than ``incoming``, unpersisting persisted ones."""
    gens: list = []
    for k, (o, _) in _STAGED_CACHE.items():
        g = _generation(k, o)
        if k[0] == name and g != incoming and g not in gens:
            gens.append(g)
    stale = gens[: max(0, len(gens) - (KEEP_OWNERS - 1))]
    for k in [k for k, (o, _) in _STAGED_CACHE.items()
              if k[0] == name and _generation(k, o) in stale]:
        result = _STAGED_CACHE.pop(k)[1]
        if isinstance(result, DataFrame) and result.is_cached:
            result.unpersist()
