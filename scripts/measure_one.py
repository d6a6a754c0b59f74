"""Per-query micro-measurement: construction vs action time, job/stage
counts, min-of-N action timing — the round-9 optimization instrument.

Usage: python scripts/measure_one.py q1,q2,... [sf_dir] [n_runs]

For each query: builds the DataFrame (timed), runs the noop sink
(timed, n_runs times, min reported), and reports how many Spark jobs
the build and action submitted (statusTracker delta) and how many
classes they compiled (``CodegenMetrics`` delta). A large construction
share means py4j/Catalyst analysis overhead; a large job count means
driver-coordinated supersteps or staging actions. The warm-up run has
already compiled every shape the query has, so a nonzero ``compiles``
means its generated code depends on the call (a literal, a random name
or an input-derived value in the code text) and it pays Janino on every
issue. ``py_cpu`` is the CPU time of the Python worker processes under
the JVM (``pyspark.daemon`` and its forks) during the reported run: a
nonzero value means the query sends rows through Python (a pandas UDF,
``mapInPandas``, an RDD ``map``), which no other column shows.

The warm-up run is the query's first touch of the input: it reads the
tables and builds the staged artifacts that the timed runs then reuse.
``w-build`` and ``w-jobs`` are its construction time and the Spark jobs
it submitted (build and action), the cost the timed columns never show.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_instacart_market_basket_analysis_spark.session import get_spark  # noqa: E402

import __spark_entry__ as e  # noqa: E402


def _descendants_cpu_s(pid: int) -> float:
    """CPU seconds (``utime + stime`` and the reaped children's
    ``cutime + cstime``) of every process below ``pid``, read from
    ``/proc``."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we read
            continue
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for child, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(child)
    todo, ticks = list(children.get(pid, [])), 0
    while todo:
        child = todo.pop()
        ticks += stats[child][1]
        todo.extend(children.get(child, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def main() -> None:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    spark = get_spark("measure_one")
    sc = spark.sparkContext
    codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    qs = e.queries()

    def compiles() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    def py_cpu() -> float:
        return _descendants_cpu_s(sc._gateway.proc.pid)

    # warmup the session itself
    spark.range(1).write.format("noop").mode("overwrite").save()

    def jobs() -> int:
        """Jobs submitted so far. Job ids count up from 0; the number of
        listed ids would stop growing at ``spark.ui.retainedJobs``."""
        return max(sc.statusTracker().getJobIdsForGroup(None) or [-1]) + 1

    print(
        f"{'query':34s} {'build':>7s} {'act-min':>8s} {'jobs':>5s}"
        f" {'compiles':>8s} {'py_cpu':>6s} {'total':>7s}"
        f" {'w-build':>7s} {'w-jobs':>6s}"
    )
    for name in names:
        fn = qs[name]
        # cold pass: warms file indexes/codegen like bench.py's warmup
        sc.setJobDescription(f"warmup:{name}")
        wj0 = jobs()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        warm_build = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        warm_jobs = jobs() - wj0

        best_act, build_t, njobs, ncomp, pcpu = None, None, None, None, None
        for i in range(n_runs):
            j0 = jobs()
            c0 = compiles()
            p0 = py_cpu()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            sc.setJobDescription(f"measure:{name}")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            j1 = jobs()
            c1 = compiles()
            p1 = py_cpu()
            if best_act is None or (t2 - t1) < best_act:
                best_act, build_t = t2 - t1, t1 - t0
                njobs, ncomp, pcpu = j1 - j0, c1 - c0, p1 - p0
        print(
            f"{name:34s} {build_t:7.3f} {best_act:8.3f} {njobs:5d} "
            f"{ncomp:8d} {pcpu:6.2f} {build_t + best_act:7.3f} "
            f"{warm_build:7.3f} {warm_jobs:6d}",
            flush=True,
        )


if __name__ == "__main__":
    main()
