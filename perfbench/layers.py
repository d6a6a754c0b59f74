"""Layer attribution for the benchmark.

``Tracer`` keeps spans in memory: it wraps the engine's public layer
functions from outside the engine (every module-level binding of the
function is swapped, so ``from x import f`` call sites are covered
too) and restores them afterwards. ``CacheGuard`` watches the engine's
staging caches in every run: it counts staged builds and hits per pass
and enforces that no pass reads an artifact that an earlier pass built.
``SparkStats`` reads job and stage metrics from Spark's status store
for the jobs a query started.
"""

from __future__ import annotations

import statistics
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "big_data_instacart_market_basket_analysis_spark"

#: (module, attribute, span name) of every traced layer function.
LAYER_FUNCTIONS = (
    ("sources.loaders", "load_table", "sources.load_table"),
    ("plans.instacart", "instacart_tables", "plans.instacart_tables"),
    ("operators.features", "product_features", "features.product_features"),
    ("operators.features", "users_final", "features.users_final"),
    ("operators.features", "user_product_features", "features.user_product_features"),
    ("operators.candidates", "candidates_staged", "candidates.build"),
    ("ml.models", "train_metrics", "ml.train_metrics"),
    ("operators.submission", "proxy_submission", "submission.proxy"),
    ("operators.submission", "ef1_submission", "submission.ef1"),
    ("operators.dedup", "_shingles_staged", "dedup.shingles"),
    ("operators.dedup", "_shared_counts_staged", "dedup.shared_counts"),
    ("operators.graph", "_edges_staged", "graph.edges_stage"),
)

#: layers whose self time is reported, by span-name prefix.
LAYERS = (
    "sources", "plans", "features", "candidates", "ml",
    "submission", "dedup", "graph",
)


def _bindings(fn) -> list[tuple[object, str]]:
    """Every (module, name) in the engine that binds ``fn``."""
    out = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not (
            name == "__spark_entry__" or name.startswith(PACKAGE)
        ):
            continue
        for attr, val in list(vars(mod).items()):
            if val is fn:
                out.append((mod, attr))
    return out


class Patches:
    """Swap functions in every module that binds them; undo on exit."""

    def __init__(self) -> None:
        self._undo: list[tuple[object, str, object]] = []

    def swap(self, fn, wrapper) -> None:
        for mod, attr in _bindings(fn):
            self._undo.append((mod, attr, fn))
            setattr(mod, attr, wrapper)

    def set_item(self, mapping: dict, key, value) -> None:
        self._undo.append((mapping, key, mapping[key]))
        mapping[key] = value

    def restore(self) -> None:
        for target, key, old in reversed(self._undo):
            if isinstance(target, dict):
                target[key] = old
            else:
                setattr(target, key, old)
        self._undo.clear()


class Tracer:
    """In-memory spans: name, start, end, parent span, query id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.qid: str | None = None
        self._query_stack: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened on a worker thread (the ML fits run in a pool)
        # hangs under the innermost open span of the query's thread
        outer = stack or self._query_stack
        parent = outer[-1] if outer else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "qid": self.qid}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def query(self, qid: str):
        self.qid = qid
        self._query_stack = self._stack()
        try:
            with self.span("query") as rec:
                yield rec
        finally:
            self._query_stack = []
            self.qid = None

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self, patches: Patches) -> None:
        """Wrap every layer function and the ML model fits."""
        import importlib

        for mod_name, attr, span_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            patches.swap(getattr(mod, attr), self.wrap(getattr(mod, attr), span_name))
        models = importlib.import_module(f"{PACKAGE}.ml.models")
        for name, build in list(models.MODEL_BUILDERS.items()):
            patches.set_item(models.MODEL_BUILDERS, name, self._fit_timed(build, name))

    def _fit_timed(self, build, name: str):
        def timed_build():
            est = build()
            est.fit = self.wrap(est.fit, f"ml.fit.{name}")
            return est

        return timed_build

    def self_times(self, qids: set[str]) -> dict[str, float]:
        """Per layer: span time not covered by its child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["qid"] in qids:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {layer: 0.0 for layer in LAYERS}
        for i, s in enumerate(self.spans):
            layer = s["name"].split(".")[0]
            if layer not in out or s["qid"] not in qids:
                continue
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out[layer] += (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str, qids: set[str]) -> tuple[float, int]:
        """Summed duration and count of spans called ``name``."""
        ds = [s["end"] - s["start"] for s in self.spans
              if s["name"] == name and s["qid"] in qids]
        return sum(ds), len(ds)


class GuardedCache(dict):
    """An engine staging cache that reports stores and lookups."""

    def __init__(self, guard: "CacheGuard", name: str, items: dict) -> None:
        super().__init__(items)
        self._guard = guard
        self._name = name

    def _seen(self, key) -> bool:
        found = dict.__contains__(self, key)
        self._guard.lookup(self._name, key, found)
        return found

    def __setitem__(self, key, value) -> None:
        if not dict.__contains__(self, key):
            self._guard.stored(self._name, key)
        dict.__setitem__(self, key, value)

    def __getitem__(self, key):
        self._seen(key)
        return dict.__getitem__(self, key)

    def __contains__(self, key) -> bool:
        return self._seen(key)

    def get(self, key, default=None):
        self._seen(key)
        return dict.get(self, key, default)


class CacheGuard:
    """Counts staged builds and hits in every ``_*_CACHE`` dict of the engine.

    The engine stages artifacts in module-level dicts keyed by input
    identity (``id()`` of a DataFrame, or ``(id(spark), sf_dir)``),
    directly or through ``operators._staging.stage``. A store of a new
    key is a build; a lookup that finds a key stored by an earlier query
    of the same pass is a hit. The cold guard: a lookup must never find
    a key stored in an earlier pass (each pass runs on a fresh input
    directory), and every timed pass must build the same number of
    artifacts. Build time is the union of the intervals from a missed
    lookup to the store of that key.
    """

    def __init__(self) -> None:
        self.pass_no = -1
        self.query_no = 0
        self._stored: dict = {}
        self._missed: dict = {}
        self._hits_seen: set = set()
        self.counts: dict[int, dict] = {}
        self._intervals: dict[int, list] = {}
        self.violations: list[str] = []

    def start_pass(self, pass_no: int) -> None:
        self.pass_no = pass_no
        self.counts[pass_no] = {"builds": 0, "hits": 0}
        self._intervals[pass_no] = []

    def start_query(self) -> None:
        self.query_no += 1
        self._missed.clear()

    def lookup(self, name: str, key, found: bool) -> None:
        ident = (name, key)
        if not found:
            self._missed.setdefault(ident, time.perf_counter())
            return
        where = self._stored.get(ident)
        if where is None or where[1] == self.query_no:
            return
        if where[0] != self.pass_no:
            self.violations.append(
                f"pass {self.pass_no} read {name}[{key!r}], built in pass {where[0]}"
            )
        elif (self.query_no, ident) not in self._hits_seen:
            self._hits_seen.add((self.query_no, ident))
            self.counts[self.pass_no]["hits"] += 1

    def stored(self, name: str, key) -> None:
        ident = (name, key)
        self._stored[ident] = (self.pass_no, self.query_no)
        self.counts.setdefault(self.pass_no, {"builds": 0, "hits": 0})
        self.counts[self.pass_no]["builds"] += 1
        t0 = self._missed.pop(ident, None)
        if t0 is not None:
            self._intervals.setdefault(self.pass_no, []).append((t0, time.perf_counter()))

    def build_s(self, pass_no: int) -> float:
        total, end = 0.0, float("-inf")
        for a, b in sorted(self._intervals.get(pass_no, [])):
            if b > end:
                total += b - max(a, end)
                end = b
        return total

    def install(self, patches: Patches) -> int:
        """Import every engine module and guard its staging caches."""
        import importlib
        import pkgutil
        import re

        pkg = importlib.import_module(PACKAGE)
        for info in pkgutil.walk_packages(pkg.__path__, f"{PACKAGE}."):
            importlib.import_module(info.name)
        pattern = re.compile(r"^_[A-Z0-9_]*_CACHE$")
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if not (mod_name == "__spark_entry__" or mod_name.startswith(PACKAGE)):
                continue
            for attr, val in list(vars(mod).items()):
                if pattern.match(attr) and type(val) is dict:
                    patches.swap(val, GuardedCache(self, f"{mod_name}.{attr}", val))
                    n += 1
        return n

    def check(self, passes: list[int]) -> list[str]:
        builds = {p: self.counts.get(p, {"builds": 0})["builds"] for p in passes}
        problems = list(self.violations)
        if len(set(builds.values())) > 1:
            problems.append(f"staged builds differ between passes: {builds}")
        return problems


class SparkStats:
    """Job/stage metrics of the jobs started since the last call.

    Job ids are dense, so new jobs are read one id at a time from the
    last one seen: each call costs a few JVM round trips per new job,
    not per retained job.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._last_job = -1

    def _new_jobs(self) -> list:
        from py4j.protocol import Py4JJavaError

        self._sc.listenerBus().waitUntilEmpty()
        jobs, misses, probe = [], 0, self._last_job + 1
        while misses < 4:
            try:
                jobs.append(self._store.job(probe))
                self._last_job, misses = probe, 0
            except Py4JJavaError:
                misses += 1
            probe += 1
        return jobs

    def skip(self) -> None:
        """Forget every job started so far."""
        self._new_jobs()

    def collect(self) -> dict:
        """Sum the metrics of every job started since the last call."""
        new = self._new_jobs()
        out = {"jobs": len(new), "stages": 0, "tasks": 0, "input_b": 0,
               "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0,
               "executor_run_ms": 0, "slowest_stage_ms": 0,
               "slowest_stage_skew": 1.0}
        seen: set[int] = set()
        for job in new:
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["input_b"] += st.inputBytes()
                out["shuffle_read_b"] += st.shuffleReadBytes()
                out["shuffle_write_b"] += st.shuffleWriteBytes()
                out["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                run_ms = st.executorRunTime()
                out["executor_run_ms"] += run_ms
                if run_ms > out["slowest_stage_ms"]:
                    out["slowest_stage_ms"] = run_ms
                    out["slowest_stage_skew"] = self._skew(sid, st.attemptId())
        return out

    def _skew(self, sid: int, attempt: int) -> float:
        tasks = self._store.taskList(sid, attempt, 100000)
        times = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        med = statistics.median(times) if times else 0
        return max(times) / med if med else 1.0
