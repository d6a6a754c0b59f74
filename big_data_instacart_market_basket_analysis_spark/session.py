"""SparkSession factory.

Defaults are tuned for the local[32] test harness but every knob is
cluster-safe: on a real deployment the same settings (AQE, skew-join
handling, broadcast threshold, shuffle partitions sized to the data)
are what you'd want at 100 TB — only the numbers change, via env vars
or ``extra_conf``.

Notable choices
---------------
- ``spark.sql.ansi.enabled=false``: the reference's arithmetic
  (F.py:72,106,151,157,159-160) relies on null-on-divide-by-zero, and the
  DuckDB oracles use ``NULLIF`` to match. ANSI mode (Spark 4 default)
  would raise instead.
- ``spark.sql.session.timeZone=UTC``: fixture timestamps are UTC-naive;
  DuckDB compares in UTC.
- shuffle partitions default to cpu count (local): 200 would
  over-parallelize tiny test data; a cluster run overrides via
  ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.
- AQE with coalesce + skew-join: the candidate-expansion explode join
  (SURVEY.md §4 "Generate") is the row-amplifying operator at scale;
  AQE re-plans the post-explode shuffles at runtime.
- ``spark.sql.codegen.cache.maxEntries=CODEGEN_CACHE_ENTRIES`` (8000):
  Spark compiles each whole-stage-codegen class with Janino and keeps
  it in one JVM-wide cache keyed by the generated code text. The
  default of 100 classes is smaller than one perfbench
  ``reorder_pipeline`` pass (159 compiles), so every re-issued query
  shape compiled all of its classes again. One pass over the whole
  query surface (every ``queries()`` entry at sf0.001) compiles 6,718
  distinct classes; the bound covers that with ~20% headroom, and a
  second pass over a copy of the input then compiles 67 (10,444 with
  100 entries). The conf is static: the JVM reads it once, when the
  first class is compiled, so it can only be set here (see
  ``loaders._RUNTIME_DEFAULTS``). Memory, measured after that surface
  pass: a cached class holds ~50 KB of heap (its code text, which is
  the key, and its bytecode) and ~8 KB of metaspace; heap after a full
  GC was 736 MB against 386 MB with 100 entries, metaspace 311 MB
  against 260 MB. A run that issues a few shapes, like perfbench,
  never fills the cache.
- ``spark.sql.codegen.useIdInClassName=false``: the class name would
  carry the codegen stage id, which AQE hands out in the order its
  query stages finish, so the same plan compiled again under another
  name (``candidates``: 4-6 classes per re-issue). Without it, equal
  plans share one class. With it and the uid-free feature vector of
  ``ml.models.assemble``, the surface's distinct classes fell from
  8,677 to 6,718.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: ``spark.sql.codegen.cache.maxEntries``: how many compiled classes the
#: JVM keeps (see "Notable choices").
CODEGEN_CACHE_ENTRIES = 8000


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "big_data_instacart_market_basket_analysis_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = _cpus()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # scan-split sizing: the lever that keeps per-task input within
        # executor memory at any SF (at 100 TB, smaller splits -> more,
        # cheaper tasks; AQE coalesces the resulting shuffles).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        # events fixture carries TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as epoch-nanos long, converted in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
