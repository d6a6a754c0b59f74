"""Scale-proof sidecar (round-10 VERDICT item 7) — evidence-only, NOT
the bench harness: bench.py and its one-line JSON contract are
untouched. This script times a fixed slow-line subset against the
synthetic sf1 fixture (`make_scale_fixture.py`, 10x sf0.1 with
shifted entity keys) at whatever core count `$SPARK_GRAFT_CPUS`
says, so two runs (8 and 32) show whether the engine's heavy paths
scale with cores once the input actually splits — the round-9
verdict's item 7 (at sf0.1 every 8-vs-32 ratio was <= 1 because every
fixture table was a single row group).

Query pick: the slowest bench lines whose workload the replicated
fixture preserves. Pair-forming kernels over text payloads
(docs_er_matches, dedup_*) are EXCLUDED — the fixture replicates
document text verbatim, so cross-copy exact duplicates would grow
their blocked pair counts quadratically and the measurement would
time a different workload, not the same one scaled. ml_train_metrics
is excluded because its GBT chain is partition-pinned by semantics
(bootstrap/sampling seeds) and single-threaded by design — documented
inherent in OPTIMIZATION_r10.md.

Usage: SPARK_GRAFT_CPUS=N python scripts/bench_scale.py <sf_dir> <out_json>
Methodology mirrors bench.py: warmup pass over every query, then one
timed pass (construction + noop action), min over N_RUNS passes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_instacart_market_basket_analysis_spark.session import get_spark  # noqa: E402

import __spark_entry__ as e  # noqa: E402

QUERIES = [
    "graph_betweenness_stability",
    "graph_ktruss",
    "graph_hits",
    "graph_sssp",
    "graph_adamic_adar",
    "graph_link_prediction",
    "udf_grouped_map",
    "embedding_kmeans_lloyd",
    "ann_pq",
    "events_curve_locality",
    "events_rfm_segments",
    "suppliers_waiting",
]

N_RUNS = 2


def main() -> None:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_scale")
    sc = spark.sparkContext
    # the parallelism the session really got, next to what the env asked
    default_parallelism = sc.defaultParallelism
    qs = e.queries()

    # warmup: JVM, file indexes, codegen, session staging (the same
    # convention as bench.py so timed lines read warm)
    for name in QUERIES:
        sc.setJobDescription(f"warmup:{name}")
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    timings: dict[str, float] = {}
    for name in QUERIES:
        best = None
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            sc.setJobDescription(f"scale:{name}")
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        print(f"{name:34s} {best:7.3f}", flush=True)

    out = {
        "fixture": sf_dir,
        "cpus": cpus,
        "default_parallelism": default_parallelism,
        "n_runs_min": N_RUNS,
        "load_end": round(os.getloadavg()[0], 2),
        "total": round(sum(timings.values()), 3),
        "queries": timings,
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({
        "total": out["total"], "cpus": cpus,
        "default_parallelism": default_parallelism,
    }))


if __name__ == "__main__":
    main()
