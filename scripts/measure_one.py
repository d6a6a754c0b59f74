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
issue.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_instacart_market_basket_analysis_spark.session import get_spark  # noqa: E402

import __spark_entry__ as e  # noqa: E402


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

    # warmup the session itself
    spark.range(1).write.format("noop").mode("overwrite").save()

    print(
        f"{'query':34s} {'build':>7s} {'act-min':>8s} {'jobs':>5s}"
        f" {'compiles':>8s} {'total':>7s}"
    )
    for name in names:
        fn = qs[name]
        # cold pass: warms file indexes/codegen like bench.py's warmup
        sc.setJobDescription(f"warmup:{name}")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        best_act, build_t, njobs, ncomp = None, None, None, None
        for i in range(n_runs):
            j0 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
            c0 = compiles()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            sc.setJobDescription(f"measure:{name}")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            j1 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
            c1 = compiles()
            if best_act is None or (t2 - t1) < best_act:
                best_act, build_t = t2 - t1, t1 - t0
                njobs, ncomp = j1 - j0, c1 - c0
        print(
            f"{name:34s} {build_t:7.3f} {best_act:8.3f} {njobs:5d} "
            f"{ncomp:8d} {build_t + best_act:7.3f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
