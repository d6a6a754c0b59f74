"""Parquet fixture loaders (S1 replacement).

One ``spark.read.parquet`` per table — columnar scan, predicate pushdown
and column pruning come free from the vectorized reader. At cluster scale
the same call reads a partitioned directory instead of a single file; no
code change needed.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..operators._staging import stage as _stage

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

#: Runtime-settable confs every declared query needs to be correct and
#: fast on *any* session handed to it (the ``__spark_entry__`` contract:
#: the grading driver supplies a stock session with none of our
#: ``get_spark()`` builder defaults). All are dynamic SQL confs —
#: settable post-startup via ``spark.conf.set``.
#:
#: The compiled-class cache size (``spark.sql.codegen.cache.maxEntries``,
#: see ``session.py``) cannot be set here: it is a static conf, which
#: ``spark.conf.set`` refuses, and the JVM reads it once, when the first
#: class is compiled. A session the engine did not build keeps Spark's
#: 100 entries and recompiles re-issued query shapes; results are the
#: same. ``spark.sql.codegen.useIdInClassName=false`` stays in
#: ``get_spark`` with it: it only pays off in a cache large enough to
#: keep the classes it lets queries share.
_RUNTIME_DEFAULTS = (
    # events fixture carries INT64 TIMESTAMP(NANOS); the reader rejects
    # it without this (read as epoch-nanos long, converted in the loader)
    (NANOS_CONF, "true"),
    # reference semantics are null-on-divide-by-zero / null-on-bad-cast;
    # every oracle was written against non-ANSI behavior (Spark 4
    # defaults ANSI on)
    ("spark.sql.ansi.enabled", "false"),
    # fixture timestamps are UTC-naive and DuckDB compares in UTC
    ("spark.sql.session.timeZone", "UTC"),
    # inert on the engine's default V1 scans; enables footer-stats
    # MIN/MAX/COUNT on the V2 scans fast_stats_profile builds (the
    # pushdown RULE reads this at optimization time, so it must be a
    # session default — a set/restore window around plan construction
    # provably does not survive until planning)
    ("spark.sql.parquet.aggregatePushdown", "true"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    # without this, session-staged (persisted) views are materialized
    # with AQE disabled and pin the stock 200-partition shuffle onto
    # every downstream scan of the cache
    ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
)

_SHUFFLE_STOCK_DEFAULT = "200"

# id -> the session object itself. Holding the reference (not a bare
# id) means a GC'd session's recycled id can never alias a new session
# and silently skip tuning.
_tuned_sessions: dict[int, SparkSession] = {}


def ensure_session_defaults(spark: SparkSession) -> None:
    """Apply the engine's runtime-settable defaults to *any* session.

    Queries must be correct (and reasonably fast) on whatever session
    is handed to them, so the engine's semantic confs are set here at
    runtime rather than relying on our own ``get_spark()`` builder.
    Idempotent and memoized per session; each conf is individually
    best-effort so an unrecognized knob on some future Spark can never
    take a query down.
    """
    key = id(spark)
    if _tuned_sessions.get(key) is spark:
        return
    for conf, value in _RUNTIME_DEFAULTS:
        try:
            # NB: conf.get validates the *default* argument's type on
            # typed confs, so probe without one and treat a miss as
            # unset.
            try:
                current = spark.conf.get(conf)
            except Exception:
                current = None
            if current != value:
                spark.conf.set(conf, value)
        except Exception:
            # Conf not recognized / not settable on this session: fall
            # through and let the affected query surface a real error.
            pass
    try:
        # Size the shuffle to the machine only when the session still
        # carries the stock default (never clobber an explicit choice).
        # On a real cluster SPARK_GRAFT_SHUFFLE_PARTITIONS / an explicit
        # session conf wins; AQE coalesce handles the rest either way.
        if (
            spark.conf.get("spark.sql.shuffle.partitions")
            == _SHUFFLE_STOCK_DEFAULT
        ):
            cpus = os.environ.get(
                "SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)
            )
            spark.conf.set("spark.sql.shuffle.partitions", cpus)
    except Exception:
        pass
    _tuned_sessions[key] = spark


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Back-compat alias: the nanos conf now rides with the full set."""
    ensure_session_defaults(spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's DataFrame handle, staged per (session, sf_dir,
    name). A bare spark.read.parquet costs ~70-90 ms of driver-side
    metadata work (file listing + footer schema inference) EVERY call;
    the entry module alone has 300+ load_table sites, so an unstaged
    loader spends tens of seconds per bench pass re-resolving ten
    immutable fixture files (guide §6: file listing/planning is
    driver-side, single-process work). The handle is lazy — nothing is
    computed or cached data-wise — and staging also makes its
    identity stable, so the operators' per-input staging hits across
    every call site."""
    return _stage(
        "table_handle", spark, lambda: _read_table(spark, sf_dir, name),
        sf_dir, name, checkpoint=False,
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_defaults(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a session-TZ TIMESTAMP.

    The fixture's physical encoding has varied across driver test-data
    generations — INT64 TIMESTAMP(NANOS) (read as epoch-nanos long
    under ``legacy.parquet.nanosAsLong``) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (read as TIMESTAMP_NTZ) — while every engine
    plan and oracle treats ``ts`` as a plain UTC timestamp. Fold all
    encodings to TimestampType here, once, at the scan; session TZ is
    pinned to UTC by ``ensure_session_defaults`` so the NTZ -> LTZ cast
    is value-preserving.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use.

    Per-table failure tolerance: one unreadable table must not take
    down queries that never touch it (round-1 lesson — the events
    nanos-timestamp read aborted unrelated ``sql_*`` queries). A table
    that fails to load is skipped; the query that actually needs it
    surfaces the real error at its own read.
    """
    errors: dict[str, Exception] = {}
    for name in TABLES:
        try:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        except Exception as exc:  # defer: only the dependent query fails
            errors[name] = exc
    if errors:
        import warnings

        warnings.warn(
            "register_views skipped unreadable tables: "
            + ", ".join(f"{n} ({type(e).__name__})" for n, e in errors.items())
        )


def local_rows(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """A small driver-side table (a list of tuples) as a DataFrame built
    in the JVM: the one place the engine turns Python rows into Spark
    rows.

    ``spark.createDataFrame(list, ddl)`` parallelizes the list and
    re-pickles it through a Python ``map``, so even a 3-row table runs
    Python-worker tasks and starts a ``pyspark.daemon`` if none is up:
    1.0-1.5 CPU-s per call measured warm on 4 vCPUs, about a tenth of a
    reorder-pipeline pass for ``ml_train_metrics``' one metrics table.
    Here the rows become a ``pyarrow.Table`` in the Arrow form of the
    schema, which the JVM reads directly into a ``LocalTableScan``:
    0.04-0.06 CPU-s and no Python worker. This path does not depend on
    ``spark.sql.execution.arrow.pyspark.enabled``, so it is the same on
    a stock session.

    Values are converted as ``createDataFrame(list, ...)`` converts them
    (a naive datetime is local time), and ``schema`` — a DDL string or
    a ``StructType`` — keeps its nullability, so rows and schema equal
    the list path's.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    internal = [schema.toInternal(row) for row in rows]
    columns = list(zip(*internal)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [
            pa.array(column, type=field.type)
            for column, field in zip(columns, arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
