"""The session-staging registry (``operators._staging``).

- id()-reuse: a hit needs the held owner to BE the caller's owner, and
  the registry keeps every owner it stages for alive.
- threads: concurrent callers build each key exactly once, and owner
  generations stay bounded per artifact name.
- structure: ``_staging._STAGED_CACHE`` is the engine's only
  module-level ``_*_CACHE`` dict and the only user of ``STAGING_LOCK``.
"""

from __future__ import annotations

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

import big_data_instacart_market_basket_analysis_spark as pkg
from big_data_instacart_market_basket_analysis_spark.operators import _staging
from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
    load_table,
)

from tests.conftest import SF_SMOKE


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
    sources = list(Path(pkg.__path__[0]).rglob("*.py"))
    sources.append(Path(pkg.__path__[0]).parent / "__spark_entry__.py")
    assert [
        str(p) for p in sources
        if p.name != "_staging.py" and "STAGING_LOCK" in p.read_text()
    ] == []
    params = inspect.signature(_staging.stage).parameters
    assert "cache" not in params and "keep_owners" not in params
