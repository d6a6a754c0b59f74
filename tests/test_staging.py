"""The session-staging registry (``operators._staging``).

- id()-reuse: a hit needs the held owner to BE the caller's owner, and
  the registry keeps every owner it stages for alive.
- threads: concurrent callers build each key exactly once, and owner
  generations stay bounded per artifact name.
- structure: ``_staging._STAGED_CACHE`` is the engine's only
  module-level ``_*_CACHE`` dict and the only user of ``STAGING_LOCK``,
  ``_staging`` is the only module that persists a DataFrame, and
  ``_staging.cut`` is the only lineage cut.
- cut: a cut block cannot be recomputed by Spark; losing it fails the
  next action instead of returning rows.
- eviction: an evicted persisted artifact is unpersisted, and
  session-owned artifacts are bounded per input directory, so a session
  that runs the pipeline on many inputs holds at most ``KEEP_OWNERS``
  inputs' worth of cached tables.
"""

from __future__ import annotations

import ast
import gc
import importlib
import inspect
import pkgutil
import re
import sys
import threading
import time
import weakref
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
import big_data_instacart_market_basket_analysis_spark as pkg
from big_data_instacart_market_basket_analysis_spark.operators import _staging
from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
    load_table,
)

from tests.conftest import SF_SMOKE

ROOT = Path(__file__).resolve().parents[1]


class _Owner:
    """A weak-referenceable stand-in for an input DataFrame."""


def test_stage_rebuilds_on_foreign_owner_and_holds_owner(monkeypatch):
    monkeypatch.setattr(_staging, "_STAGED_CACHE", {})
    owner, stranger = _Owner(), _Owner()
    # an entry left under owner's key by a dead object whose id() was
    # recycled: it must not be returned
    _staging._STAGED_CACHE[("art", id(owner), 3)] = (stranger, "stale")
    got = _staging.stage("art", owner, lambda: "fresh", 3, checkpoint=False)
    assert got == "fresh"
    assert _staging._STAGED_CACHE[("art", id(owner), 3)] == (owner, "fresh")
    # the registry holds the owner, so its id() cannot be recycled
    ref = weakref.ref(owner)
    del owner
    gc.collect()
    assert ref() is not None


def test_load_table_ignores_foreign_owner_entry(spark, monkeypatch):
    monkeypatch.setattr(_staging, "_STAGED_CACHE", {})
    key = ("table_handle", id(spark), SF_SMOKE, "region")
    _staging._STAGED_CACHE[key] = (_Owner(), "dead application's handle")
    df = load_table(spark, SF_SMOKE, "region")
    assert df.count() > 0
    assert load_table(spark, SF_SMOKE, "region") is df


def test_registry_one_build_per_key_under_threads(monkeypatch):
    monkeypatch.setattr(_staging, "_STAGED_CACHE", {})
    names = ("x", "y")
    owners = [_Owner() for _ in range(5)]
    calls: Counter = Counter()
    calls_lock = threading.Lock()

    def build(name, owner):
        def run():
            with calls_lock:
                calls[(name, id(owner))] += 1
            time.sleep(0.01)
            return (name, owner)

        return run

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            for owner in owners[:4]:
                jobs = [
                    pool.submit(
                        _staging.stage, name, owner, build(name, owner),
                        checkpoint=False,
                    )
                    for _ in range(8)
                    for name in names
                ]
                for job in jobs:
                    assert job.result(timeout=30)[1] is owner
    finally:
        sys.setswitchinterval(interval)
    assert calls == Counter(
        {(n, id(o)): 1 for o in owners[:4] for n in names}
    )
    for name in names:
        _staging.stage(name, owners[4], build(name, owners[4]),
                       checkpoint=False)
        gens = {
            id(v[0]) for k, v in _staging._STAGED_CACHE.items()
            if k[0] == name
        }
        assert gens == {id(owners[3]), id(owners[4])}


def _engine_modules() -> list:
    for info in pkgutil.walk_packages(pkg.__path__, f"{pkg.__name__}."):
        importlib.import_module(info.name)
    importlib.import_module("__spark_entry__")
    return [
        mod for name, mod in list(sys.modules.items())
        if mod is not None
        and (name == "__spark_entry__" or name.startswith(pkg.__name__))
    ]


def test_one_staging_registry():
    pattern = re.compile(r"^_[A-Z0-9_]*_CACHE$")
    caches, lock_users = [], []
    for mod in _engine_modules():
        for attr, val in vars(mod).items():
            if pattern.match(attr) and type(val) is dict:
                caches.append(f"{mod.__name__}.{attr}")
            if val is _staging.STAGING_LOCK and mod is not _staging:
                lock_users.append(f"{mod.__name__}.{attr}")
    assert caches == [f"{_staging.__name__}._STAGED_CACHE"]
    assert lock_users == []
    assert [
        str(p) for p in _package_sources()
        if p.name != "_staging.py" and "STAGING_LOCK" in p.read_text()
    ] == []
    params = inspect.signature(_staging.stage).parameters
    assert "cache" not in params and "keep_owners" not in params


def _package_sources() -> list[Path]:
    sources = list(Path(pkg.__path__[0]).rglob("*.py"))
    sources.append(Path(pkg.__path__[0]).parent / "__spark_entry__.py")
    return sources


def test_only_staging_persists():
    """Every persisted DataFrame is a staged one, so eviction can
    unpersist it; the one other cache is ``train_metrics``' transient
    split, cached and unpersisted inside the call."""
    persisting = [p.name for p in _package_sources() if ".persist(" in p.read_text()]
    assert persisting == ["_staging.py"]
    caching = {
        p.name: p.read_text().count(".cache()") for p in _package_sources()
        if ".cache()" in p.read_text()
    }
    assert caching == {"models.py": 2}


def _attr_uses(tree: ast.AST, attr: str) -> int:
    return sum(
        isinstance(n, ast.Attribute) and n.attr == attr for n in ast.walk(tree)
    )


def test_one_lineage_cut():
    """``localCheckpoint`` is called once, inside ``_staging.cut``,
    which takes only the frame: no call site picks eager or lazy."""
    trees = {p: ast.parse(p.read_text()) for p in _package_sources()}
    uses = {p.name: _attr_uses(tree, "localCheckpoint") for p, tree in trees.items()}
    assert {name: n for name, n in uses.items() if n} == {"_staging.py": 1}
    cut_tree = ast.parse(inspect.getsource(_staging.cut))
    assert _attr_uses(cut_tree, "localCheckpoint") == 1
    assert list(inspect.signature(_staging.cut).parameters) == ["df"]
    assert [
        f"{p.name}:{n.lineno}" for p, tree in trees.items()
        for n in ast.walk(tree) if isinstance(n, ast.keyword) and n.arg == "eager"
    ] == []


def test_lost_cut_block_fails_the_next_action(spark):
    """A cut has no lineage to fall back on: once its block is gone,
    the next action raises instead of recomputing or returning rows."""
    df = _staging.cut(
        spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    )
    assert df.count() == 7
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    spark.sparkContext._jsc.sc().unpersistRDD(rdd_id, True)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        df.collect()


def test_evicted_persisted_artifact_is_unpersisted(spark, monkeypatch):
    monkeypatch.setattr(_staging, "_STAGED_CACHE", {})
    owners = [_Owner() for _ in range(3)]
    # distinct plans: the cache manager shares one entry between equal
    # plans, so equal ones would hide which entry was released
    staged = [
        _staging.stage("art", o, lambda i=i: spark.range(100 + i), persist=True)
        for i, o in enumerate(owners)
    ]
    assert [df.count() for df in staged] == [100, 101, 102]
    assert staged[0].storageLevel == StorageLevel.NONE
    assert [df.storageLevel for df in staged[1:]] == [StorageLevel.MEMORY_AND_DISK] * 2
    for df in staged[1:]:
        df.unpersist()


def test_session_artifacts_bounded_by_input(spark, monkeypatch):
    """A SparkSession-owned artifact's generation is its ``sf_dir``: the
    third input evicts the first input's entries of that name, all of
    them, and keeps the second's."""
    monkeypatch.setattr(_staging, "_STAGED_CACHE", {})
    for sf_dir in ("in1", "in2", "in3"):
        for table in ("orders", "part"):
            _staging.stage("h", spark, lambda: (sf_dir, table), sf_dir, table,
                           checkpoint=False)
    assert sorted(k[2:] for k in _staging._STAGED_CACHE) == [
        ("in2", "orders"), ("in2", "part"), ("in3", "orders"), ("in3", "part"),
    ]


_PIPELINE = ("ingest_orders", "product_features", "users_final",
             "user_product_features", "candidates")


def test_pipeline_on_many_inputs_keeps_cache_bounded(spark, monkeypatch, tmp_path):
    """Four generated inputs through the pipeline's staged tables in one
    session: cached RDDs and staged entries stay at ``KEEP_OWNERS``
    inputs' worth instead of growing with every input."""
    sys.path.insert(0, str(ROOT / "perfbench"))
    import gen

    monkeypatch.setattr(_staging, "_STAGED_CACHE", {})
    shape = gen.Shape(customers=30, orders_per_customer=5, parts=40,
                      suppliers=5, events=50, event_users=10, documents=10,
                      dup_rate=0.1, embeddings=10)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    queries = entrymod.queries()

    def cached_rdds() -> int:
        return len(set(jsc.getPersistentRDDs().keySet()) - before)

    def entries(name: str) -> int:
        return sum(k[0] == name for k in _staging._STAGED_CACHE)

    try:
        for i in range(4):
            sf_dir = str(tmp_path / f"in{i}")
            gen.generate(sf_dir, 100 + i, shape)
            for q in _PIPELINE:
                assert queries[q](spark, sf_dir).count() > 0, q
            if i == 0:
                per_input = (cached_rdds(), entries("table_handle"))
        assert per_input[0] > 0
        assert cached_rdds() <= _staging.KEEP_OWNERS * per_input[0]
        assert entries("instacart_tables") == _staging.KEEP_OWNERS
        assert entries("table_handle") == _staging.KEEP_OWNERS * per_input[1]
    finally:
        for _, result in _staging._STAGED_CACHE.values():
            if hasattr(result, "is_cached") and result.is_cached:
                result.unpersist()
