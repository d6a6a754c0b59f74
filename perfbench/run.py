"""Cold, seeded, layer-attributed benchmark of the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One driver process starts the engine's
SparkSession on ``local[nproc]`` and acts as a single closed-loop
client: it calls a query builder from ``__spark_entry__.queries()``,
collects the result, and only then issues the next query. Set-up is
session start plus one warm-up pass on its own seed-derived input.
Every timed pass then runs on a freshly generated input directory, so
each ``(session, sf_dir)``-keyed staging cache misses and staged builds
are paid and timed, never read warm. After each pass the collected rows
are checked against the DuckDB oracles (untimed); collecting them in
the timed action, rather than forcing the plan through the ``noop``
sink, is what lets the check run without executing each query twice.

CPU times are scaled to a reference host speed, measured by a probe
between queries (``PROBE``). ``--trace 0`` prints the end-to-end
metrics. ``--trace 1`` alternates untraced and traced passes and prints
the per-layer metrics, including the tracing overhead (traced minus
untraced pass time). The last line
of stdout is the JSON result; the line before it is the run record.
Spans and the run record are also written to ``.perfbench/out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from layers import LAYERS, CacheGuard, Patches, SparkStats, Tracer  # noqa: E402

#: The engine's default JVM heap is 16 GB; the benchmark caps it at
#: 2 GB, which every workload fits in, so that runs on a host whose
#: memory is shared stay small, and fixes the heap and young generation
#: sizes, so that the peak RSS does not follow G1's adaptive sizing from
#: run to run (with a growing heap it spread by IQR/median 0.09-0.16 over
#: five runs; with a fixed one, 0.03).
DRIVER_MEM = "2g"
#: The JIT keeps its default tiers. In a run this short it never
#: settles: its compiler threads run in the background of every pass,
#: so their CPU time is measured and taken out of the CPU metrics
#: (``_tree_cpu_s``). A fixed number of compiler threads keeps every one
#: of them alive, so none of that time leaves with an exited thread.
JVM_OPTIONS = f"-XX:-UseDynamicNumberOfCompilerThreads -Xms{DRIVER_MEM} -Xmn192m"
MB = 1024 * 1024


#: Every input: ~1.5k orders and ~7k line items over 150 customers and
#: 200 parts; 200 documents of which 10% are edited copies of another.
#: The largest size tried at which a run stays under ~70 s on 4 vCPUs
#: and every query matches its oracle (twice the size took 62 s on
#: reorder_pipeline, and graph_kcore disagreed with its oracle there);
#: the pipeline's pass splits here much as at sf0.1 (candidates ~21%,
#: ML training ~39% of it). See README.md.
SHAPE = gen.Shape(customers=150, orders_per_customer=10, parts=200,
                  suppliers=10, events=1000, event_users=150,
                  documents=200, dup_rate=0.1, embeddings=200)

#: workload name -> the queries of one pass, in the order they are issued
WORKLOADS = {
    # The paper's pipeline in order: ingest, product/user/user x product
    # features, candidate expansion, RF/GBT/DT training, submissions.
    # Loads features, candidates, ml and submission; bypasses dedup,
    # similarity and graph.
    "reorder_pipeline": (
        "ingest_orders", "product_features", "users_final",
        "user_product_features", "candidates", "ml_train_metrics",
        "proxy_submission", "ef1_submission",
    ),
    # Short independent requests from one interactive client across the
    # engine's surface: relational and event-window queries (many small
    # scans), two text near-dup kernels that share one staged
    # shared-count table, a similarity query staged through
    # ``_staging.stage``, and two graph kernels that share the staged
    # co-purchase edge list and checkpoint every superstep. Bypasses
    # features, candidates, ml and submission. The order is fixed: the
    # first query of a sharing pair pays the shared build, so a shuffled
    # order moved the latency percentiles by ~20% between seeds.
    "query_mix": (
        "pricing_summary", "shipping_priority", "nation_market_share",
        "events_sessionize", "dedup_ngram_jaccard", "dedup_containment",
        "ann_brute_force", "graph_kcore", "graph_adamic_adar",
    ),
}

WARMUP = -1  # pass number of the untimed warm-up pass

#: The host-speed probe. On a shared host the same pass took from 12 to
#: 17 CPU-seconds from one run to the next, with no CPU stolen, as the
#: load of other guests on the host changed the speed of every core.
#: Sorting this fixed array, in the client between queries, slows down
#: with it; the ``*_cpu_ref_*`` metrics scale each pass's CPU times by
#: ``REF_PROBE_S`` over the probe's median time in that pass, so they
#: read in CPU-seconds of a host on which one sort takes ``REF_PROBE_S``.
PROBE = np.random.default_rng(0).random(1_000_000)
#: a typical time of one sort of ``PROBE`` on a 4-vCPU Xeon VM with
#: numpy 1.26; any fixed value would do, it only sets the unit
REF_PROBE_S = 0.014


def _input_seed(seed: int, workload: str, pass_no: int) -> int:
    ss = np.random.SeedSequence([seed, sorted(WORKLOADS).index(workload), pass_no + 1])
    return int(ss.generate_state(1)[0])


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a ``/proc/.../stat`` file."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:  # the process or thread ended while we read
        return None
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st and st[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            ticks += int(st[1][11]) + int(st[1][12])
    return ticks


def _tree_cpu_s() -> tuple[float, float]:
    """CPU seconds used by this process and all its descendants (the
    JVM and its Python workers: ``utime + stime``, plus
    ``cutime + cstime`` of reaped children) without the JVM's JIT
    compiler threads, and the CPU seconds of those threads."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        st = _stat(f"/proc/{pid}/stat")
        if st:
            name, fields = st
            stats[int(pid)] = (name, int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    todo, ticks, jit = [os.getpid()], 0, 0
    while todo:
        pid = todo.pop()
        name, _, t = stats.get(pid, ("", 0, 0))
        ticks += t
        if name == "java":
            jit += _jit_ticks(pid)
        todo.extend(children.get(pid, []))
    hz = os.sysconf("SC_CLK_TCK")
    return (ticks - jit) / hz, jit / hz


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _probe_s() -> list[float]:
    """Thread CPU seconds of one sort of ``PROBE`` on each CPU this
    process may run on, the least of two on each: the host's load moves
    the speed of each vCPU on its own, and the engine runs on all."""
    cpus = os.sched_getaffinity(0)
    times = []
    try:
        for cpu in sorted(cpus):
            os.sched_setaffinity(0, {cpu})
            best = float("inf")
            for _ in range(2):
                t = time.thread_time()
                np.sort(PROBE)
                best = min(best, time.thread_time() - t)
            times.append(best)
    finally:
        os.sched_setaffinity(0, cpus)
    return times


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile, as ``numpy.quantile`` computes it."""
    return float(np.quantile(xs, q)) if xs else 0.0


class Bench:
    def __init__(self, args, work: str, out: str, log) -> None:
        self.args = args
        self.queries_run = WORKLOADS[args.workload]
        self.work = work
        self.out = out
        self.log = log
        self.tracer = Tracer() if args.trace else None
        self.guard = CacheGuard()
        self.patches = Patches()
        self.patches_traced = Patches()
        self.passes: list[dict] = []
        self.failures: list[str] = []
        self.warmup_failures = 0
        self.input_rows: dict[str, int] = {}

    # -- session -----------------------------------------------------
    def start(self) -> None:
        import __spark_entry__ as entry
        from big_data_instacart_market_basket_analysis_spark.session import get_spark

        self.guarded_caches = self.guard.install(self.patches)
        self.import_s = time.perf_counter() - T_START
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        missing = [q for q in self.queries_run if q not in self.queries]
        if missing:
            raise RuntimeError(f"queries missing from the engine: {missing}")
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": f"{self.work}/warehouse",
                "spark.driver.extraJavaOptions": JVM_OPTIONS,
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.sc = self.spark.sparkContext
        self.stats = SparkStats(self.spark) if self.tracer else None

    def stop(self) -> None:
        sc = getattr(self, "sc", None)
        if sc is None:
            return
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> dict[str, float]:
        jvm = getattr(self.sc._gateway, "proc", None)
        return {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm.pid) if jvm else 0.0}

    # -- one pass ----------------------------------------------------
    def run_pass(self, pass_no: int, traced: bool) -> dict:
        sf_dir = os.path.join(self.work, "inputs", f"pass{pass_no + 1}")
        rows = gen.generate(
            sf_dir, _input_seed(self.args.seed, self.args.workload, pass_no), SHAPE
        )
        if pass_no == 0:
            self.input_rows = rows
        self.guard.start_pass(pass_no)
        if traced:
            self.stats.skip()
            self.tracer.install(self.patches_traced)
        rec = {"pass": pass_no, "traced": traced, "latency_s": {}, "cpu_s": {},
               "jit_cpu_s": {}, "probe_s": [], "spark": {}, "log": {}, "dfs": {}}
        try:
            for name in self.queries_run:
                self._run_query(name, sf_dir, rec)
        finally:
            if traced:
                self.patches_traced.restore()
        rec["probe_s"].append(_probe_s())
        rec["speed"] = REF_PROBE_S / _median([t for ts in rec["probe_s"] for t in ts])
        rec["pass_s"] = sum(rec["latency_s"].values())
        rec["pass_cpu_s"] = sum(rec["cpu_s"].values())
        if traced:
            counts = dict(self.guard.counts[pass_no])
            self._outcome_counts(sf_dir, rec)
            self.guard.counts[pass_no] = counts
        t_check = time.perf_counter()
        if pass_no != WARMUP:
            for name, df in rec["dfs"].items():
                try:
                    err = checks.check(name, df, sf_dir, self.oracles)
                except Exception as ex:  # a failed check is a failed query
                    err = f"check raised {type(ex).__name__}: {ex}"
                if err:
                    self._fail(pass_no, name, err)
        rec.pop("dfs")
        rec["check_s"] = time.perf_counter() - t_check
        return rec

    def _run_query(self, name: str, sf_dir: str, rec: dict) -> None:
        build = self.queries[name]
        rec["probe_s"].append(_probe_s())
        self.guard.start_query()
        self.sc.setJobGroup(f"q:{name}", f"pass {rec['pass']}")
        log_start = self._log_offset()
        cpu0, jit0 = _tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if rec["traced"]:
                with self.tracer.query(f"{rec['pass']}:{name}"):
                    with self.tracer.span("plan.build"):
                        df = build(self.spark, sf_dir)
                    with self.tracer.span("plan.optimize"):
                        df._jdf.queryExecution().executedPlan()
                    with self.tracer.span("exec.action"):
                        rows = df.collect()
            else:
                df = build(self.spark, sf_dir)
                rows = df.collect()
        except Exception as ex:  # the closed loop goes on after a failed query
            self._timed(name, rec, t0, cpu0, jit0)
            self._fail(rec["pass"], name, f"{type(ex).__name__}: {ex}")
            traceback.print_exc(file=self.log)
            return
        self._timed(name, rec, t0, cpu0, jit0)
        rec["dfs"][name] = checks.Collected(df.columns, rows)
        if rec["traced"]:
            rec["spark"][name] = self.stats.collect()
            rec["log"][name] = (log_start, self._log_offset())

    @staticmethod
    def _timed(name: str, rec: dict, t0: float, cpu0: float, jit0: float) -> None:
        rec["latency_s"][name] = time.perf_counter() - t0
        cpu, jit = _tree_cpu_s()
        rec["cpu_s"][name] = cpu - cpu0
        rec["jit_cpu_s"][name] = jit - jit0

    def _fail(self, pass_no: int, name: str, why: str) -> None:
        print(f"FAILED pass {pass_no} {name}: {why}", file=self.log, flush=True)
        if pass_no == WARMUP:
            self.warmup_failures += 1
        else:
            self.failures.append(f"pass {pass_no} {name}: {why}")

    def _log_offset(self) -> int:
        return os.lseek(2, 0, os.SEEK_CUR) if self.args.trace else 0

    def _outcome_counts(self, sf_dir: str, rec: dict) -> None:
        """Untimed counts read from the kernels' outputs."""
        dfs = rec["dfs"]
        if "candidates" in dfs:
            rows = dfs["candidates"].collect()
            orders = len({r["orderID"] for r in rows})
            rec["candidates_rows_per_order"] = len(rows) / orders if orders else 0.0
        if "dedup_ngram_jaccard" in dfs:
            import __spark_entry__ as entry
            from big_data_instacart_market_basket_analysis_spark.operators import dedup

            docs = entry._docs(self.spark, sf_dir)
            rec["dedup_candidate_pairs"] = dedup._shared_counts_staged(docs).count()
            rec["dedup_verified_pairs"] = dfs["dedup_ngram_jaccard"].count()

    # -- the run -----------------------------------------------------
    def run(self) -> dict:
        load_start = _loadavg()
        self.start()
        session_s = time.perf_counter() - T_START
        warmup = self.run_pass(WARMUP, traced=False)
        setup_s = time.perf_counter() - T_START

        t0, steal0 = time.perf_counter(), _steal_s()
        pass_no = 0
        # traced runs go untraced, traced, untraced: the JIT is still
        # warming up, so a later pass runs faster, and the median of the
        # two untraced passes takes that drift out of the tracing overhead
        min_passes = 3 if self.tracer else 1
        while pass_no < min_passes or time.perf_counter() - t0 < self.args.seconds:
            traced = bool(self.tracer) and pass_no % 2 == 1
            self.passes.append(self.run_pass(pass_no, traced))
            shutil.rmtree(os.path.join(self.work, "inputs"), ignore_errors=True)
            pass_no += 1
        measured_s = time.perf_counter() - t0
        steal_s = _steal_s() - steal0
        peak_rss = self.peak_rss_mb()

        # the warm-up pass builds what every timed pass must build, so a
        # run with a single timed pass is still checked against it
        cold = self.guard.check([WARMUP] + [p["pass"] for p in self.passes])
        for problem in cold:
            print(f"COLD GUARD: {problem}", file=self.log, flush=True)
        attempted = sum(len(p["latency_s"]) for p in self.passes)
        record = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "input_rows": self.input_rows,
            "nproc": len(os.sched_getaffinity(0)),
            "default_parallelism": self.sc.defaultParallelism,
            "pyspark": __import__("pyspark").__version__,
            "driver_memory": DRIVER_MEM,
            "loadavg_start": load_start,
            "loadavg_end": _loadavg(),
            "passes": len(self.passes),
            "import_s": self.import_s,
            "session_s": session_s,
            "warmup_s": setup_s - session_s,
            "setup_s": setup_s,
            "warmup_probe_s": warmup["probe_s"],
            "warmup_speed": warmup["speed"],
            "measured_s": measured_s,
            # CPU time stolen by other guests while the passes ran
            "steal_s": steal_s,
            "check_s": sum(p["check_s"] for p in self.passes),
            "query_samples": attempted,
            "guarded_caches": self.guarded_caches,
            "staging": self.guard.counts,
            "cold_guard": cold or "ok",
            "failures": self.failures,
            "warmup_failures": self.warmup_failures,
            "latency_s": [p["latency_s"] for p in self.passes],
            "pass_s": [p["pass_s"] for p in self.passes],
            "pass_cpu_s": [p["pass_cpu_s"] for p in self.passes],
            "query_cpu_s": [p["cpu_s"] for p in self.passes],
            # host-speed probe times and the factor the *_cpu_ref_* metrics
            # scale each pass's CPU times by
            "probe_s": [p["probe_s"] for p in self.passes],
            "speed": [p["speed"] for p in self.passes],
            # JIT compiler threads, left out of the CPU metrics above
            "query_jit_cpu_s": [p["jit_cpu_s"] for p in self.passes],
            "peak_rss_mb": peak_rss,
        }
        if self.tracer:
            metrics = self.layer_metrics()
        else:
            cpu = [v * p["speed"] for p in self.passes for v in p["cpu_s"].values()]
            metrics = {
                # wall time, scaled by the warm-up pass's host speed
                "setup_s": (setup_s * warmup["speed"], "s"),
                "pass_cpu_ref_s": (
                    _median([p["pass_cpu_s"] * p["speed"] for p in self.passes]), "s"),
                "query_cpu_ref_p50_s": (_quantile(cpu, 0.5), "s"),
                "query_cpu_ref_p90_s": (_quantile(cpu, 0.9), "s"),
                "peak_rss_mb": (sum(peak_rss.values()), "MB"),
            }
        self.write_out(record, metrics)
        return {
            "record": record,
            "correct": not self.failures and not cold,
            "attempted": attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    # -- per-layer metrics (traced runs) ------------------------------
    def layer_metrics(self) -> dict:
        traced = [p for p in self.passes if p["traced"]]
        plain = [p for p in self.passes if not p["traced"]]
        tr = self.tracer
        cores = self.sc.defaultParallelism

        def per_pass(fn) -> float:
            return _median([fn(p) for p in traced])

        def qids(p) -> set[str]:
            return {f"{p['pass']}:{q}" for q in p["latency_s"]}

        def spark_sum(p, key) -> float:
            return sum(s[key] for s in p["spark"].values())

        def span_s(name):
            return per_pass(lambda p: tr.total(name, qids(p))[0])

        def staging(p, key):
            return self.guard.counts.get(p["pass"], {}).get(key, 0)

        def hit_ratio(p):
            calls = staging(p, "hits") + staging(p, "builds")
            return staging(p, "hits") / calls if calls else 0.0

        def skew(p):
            slowest = max(p["spark"].values(), key=lambda s: s["slowest_stage_ms"],
                          default=None)
            return slowest["slowest_stage_skew"] if slowest else 0.0

        def warn_lines(p):
            n = 0
            for start, end in p["log"].values():
                n += self._log_text(start, end).count(" WARN ")
            return n

        def graph_jobs(p):
            jobs = [s["jobs"] for q, s in p["spark"].items() if q.startswith("graph_")]
            return sum(jobs) / len(jobs) if jobs else 0.0

        def verify_ratio(p):
            cand = p.get("dedup_candidate_pairs", 0)
            return p.get("dedup_verified_pairs", 0) / cand if cand else 0.0

        m: dict[str, tuple[float, str]] = {
            "spark.jobs": (per_pass(lambda p: spark_sum(p, "jobs")), "count"),
            "spark.stages": (per_pass(lambda p: spark_sum(p, "stages")), "count"),
            "spark.tasks": (per_pass(lambda p: spark_sum(p, "tasks")), "count"),
            "spark.input_mb": (per_pass(lambda p: spark_sum(p, "input_b") / MB), "MB"),
            "spark.shuffle_read_mb": (
                per_pass(lambda p: spark_sum(p, "shuffle_read_b") / MB), "MB"),
            "spark.shuffle_write_mb": (
                per_pass(lambda p: spark_sum(p, "shuffle_write_b") / MB), "MB"),
            "spark.spill_mb": (per_pass(lambda p: spark_sum(p, "spill_b") / MB), "MB"),
            "spark.executor_run_s": (
                per_pass(lambda p: spark_sum(p, "executor_run_ms") / 1000), "s"),
            "spark.busy_frac": (per_pass(
                lambda p: spark_sum(p, "executor_run_ms") / 1000 / (p["pass_s"] * cores)),
                "ratio"),
            "spark.task_skew": (per_pass(skew), "ratio"),
            "spark.warn_lines": (per_pass(warn_lines), "count"),
            "plan.build_s": (span_s("plan.build"), "s"),
            "plan.optimize_s": (span_s("plan.optimize"), "s"),
            "exec.action_s": (span_s("exec.action"), "s"),
            "sources.load_table_s": (span_s("sources.load_table"), "s"),
            "sources.load_table_calls": (
                per_pass(lambda p: tr.total("sources.load_table", qids(p))[1]), "count"),
            "plans.instacart_tables_s": (span_s("plans.instacart_tables"), "s"),
            "staging.builds": (per_pass(lambda p: staging(p, "builds")), "count"),
            "staging.hits": (per_pass(lambda p: staging(p, "hits")), "count"),
            "staging.build_s": (per_pass(lambda p: self.guard.build_s(p["pass"])), "s"),
            "staging.hit_ratio": (per_pass(hit_ratio), "ratio"),
            "features.product_features_s": (span_s("features.product_features"), "s"),
            "features.users_final_s": (span_s("features.users_final"), "s"),
            "features.user_product_features_s": (
                span_s("features.user_product_features"), "s"),
            "candidates.build_s": (
                per_pass(lambda p: p["latency_s"].get("candidates", 0.0)), "s"),
            "candidates.rows_per_order": (
                per_pass(lambda p: p.get("candidates_rows_per_order", 0.0)), "ratio"),
            "ml.fit_s.rf": (span_s("ml.fit.rf"), "s"),
            "ml.fit_s.gbt": (span_s("ml.fit.gbt"), "s"),
            "ml.fit_s.dt": (span_s("ml.fit.dt"), "s"),
            "ml.train_metrics_s": (span_s("ml.train_metrics"), "s"),
            "submission.proxy_s": (span_s("submission.proxy"), "s"),
            "submission.ef1_s": (span_s("submission.ef1"), "s"),
            "dedup.candidate_pairs": (
                per_pass(lambda p: p.get("dedup_candidate_pairs", 0)), "count"),
            "dedup.verified_pairs": (
                per_pass(lambda p: p.get("dedup_verified_pairs", 0)), "count"),
            "dedup.verify_ratio": (per_pass(verify_ratio), "ratio"),
            "graph.jobs_per_query": (per_pass(graph_jobs), "count"),
            "graph.edges_stage_s": (span_s("graph.edges_stage"), "s"),
        }
        selfs = [tr.self_times(qids(p)) for p in traced]
        for layer in LAYERS:
            m[f"self.{layer}_s"] = (_median([s[layer] for s in selfs]), "s")
        m["trace.overhead_s"] = (
            _median([p["pass_s"] for p in traced]) - _median([p["pass_s"] for p in plain]),
            "s",
        )
        for queries in WORKLOADS.values():
            for q in queries:
                m[f"q.{q}_s"] = (per_pass(lambda p: p["latency_s"].get(q, 0.0)), "s")
        return m

    def _log_text(self, start: int, end: int) -> str:
        with open(self.log_path, "rb") as f:
            f.seek(start)
            return f.read(max(0, end - start)).decode("utf-8", "replace")

    def write_out(self, record: dict, metrics: dict) -> None:
        name = f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}"
        doc = {"record": record, "metrics": metrics}
        if self.tracer:
            doc["spans"] = self.tracer.spans
            doc["warn_lines_by_query"] = {
                f"{p['pass']}:{q}": self._log_text(a, b).count(" WARN ")
                for p in self.passes for q, (a, b) in p["log"].items()
            }
        with open(os.path.join(self.out, f"{name}.json"), "w") as f:
            json.dump(doc, f, indent=1, default=str)


def declared_names(root: str, trace: int) -> set[str]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    log = sys.stderr
    for need in ("__spark_entry__.py", "tests/oracle_harness.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the repository root",
                  file=log)
            return 2
    declared = declared_names(root, args.trace)

    work = os.path.join(root, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(root, ".perfbench", "out")
    for d in (f"{work}/tmp", f"{work}/local", out):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM (the spark-submit launcher too) keeps its temp files
        # and perf data inside the work directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    })
    sys.path[:0] = [root, os.path.join(root, "tests")]

    bench = Bench(args, work, out, log)
    if args.trace:
        # the JVM inherits fd 2, so its WARN lines land in this file and
        # byte offsets taken around each query attribute them to it
        bench.log_path = os.path.join(out, f"{args.workload}-seed{args.seed}-stderr.log")
        log = bench.log = os.fdopen(os.dup(2), "w")
        fd = os.open(bench.log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
    try:
        result = bench.run()
    except Exception:
        traceback.print_exc(file=log)
        return 1
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    names = set(result["metrics"])
    if names != declared:
        print(f"perfbench: metric names differ from BENCHMARK.json: "
              f"extra {sorted(names - declared)}, missing {sorted(declared - names)}",
              file=log)
        return 3
    print(json.dumps({"run_record": result.pop("record")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
