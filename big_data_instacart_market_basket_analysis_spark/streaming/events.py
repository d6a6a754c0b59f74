"""[EXT] Streaming shapes over the ``events`` fixture (SURVEY.md §2i
notes the reference has none; §7 phase 6 adds them as engine surface).

Batch/stream duality: every aggregation here is declared once and runs
both ways — as a batch DataFrame (DuckDB-oracle-checked) and as a
Structured Streaming query over the same parquet (memory sink,
``processAllAvailable`` drives it to completion in tests). At
production scale the readStream source becomes Kafka/files-on-arrival
with the same downstream plan; state stores shard by the grouping key.

Driving a stream: every query goes through ``_drain(spark, writer)``,
which starts it, runs it to the end of its input and stops it. The
shuffle-partition setting (the state shard count) is lowered to
``STREAM_STATE_PARTITIONS`` only across ``start()``, which is where the
query's cloned session captures it, and is restored even when
``start()`` raises. The sketch/SPC streams use ``_fold``: a staged
multi-file source, one file per micro-batch, folded into standing state
by a per-query ``step(batch, prev)``. Checkpoints and file sinks live
under ``_stream_root``, a fresh directory per call below the
per-application scratch root that driver and executors share.

Timestamps: the fixture's TIMESTAMP(NANOS) arrives as epoch-nanos long
(see loaders.py); outputs expose epoch millis (bigint) so engine/oracle
compare integers, never timezone-bearing objects.
"""

from __future__ import annotations

from collections.abc import Callable
from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators._staging import stage as _stage
from ..sources.loaders import (
    ensure_nanos_conf,
    load_table,
    local_rows,
    normalize_event_ts,
    parquet_schema,
)

SESSION_GAP_MIN = 30


def tumbling_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch form).

    ``sum(value)`` is rounded to 4 decimals: double summation order is
    engine-dependent, and the contract is value-equality at hash time.
    """
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("win.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE_TUMBLING_HOURLY = """
tumbling_hourly AS (
  SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start_ms,
         event_type,
         count(*) AS n_events,
         round(sum(value), 4) AS sum_value
  FROM events
  GROUP BY 1, 2
)
"""


def sliding_hourly(events: DataFrame) -> DataFrame:
    """Sliding 1-hour window, 30-minute hop (batch form). Every event
    lands in exactly width/hop = 2 windows; the oracle replays the
    expansion with an explicit 2-element unnest. Epoch-aligned starts
    match Spark's window() alignment."""
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("win.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE_SLIDING_HOURLY = """
sliding_hourly AS (
  SELECT epoch_ms(ws) AS window_start_ms,
         event_type,
         count(*) AS n_events,
         round(sum(value), 4) AS sum_value
  FROM events, LATERAL unnest([
         time_bucket(INTERVAL '30 minutes', ts),
         time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
       ]) AS t(ws)
  GROUP BY 1, 2
)
"""


def with_session_ids(events: DataFrame) -> DataFrame:
    """Tag each event with its (user_id, session_seq): lag flags a
    >gap boundary, a running sum of boundary flags numbers sessions.
    One shuffle on user_id; both windows and any following
    (user_id, ...) groupBy share the partitioning."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = SESSION_GAP_MIN * 60 * 1000
    prev = F.unix_millis(F.lag("ts").over(w))
    flagged = events.withColumn(
        "is_new",
        F.when(prev.isNull(), F.lit(1))
        .when(F.unix_millis("ts") - prev > gap_ms, F.lit(1))
        .otherwise(F.lit(0)),
    )
    return flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Sessionization: per-user sessions split on >30 min inactivity.

    lag + running-sum-of-boundaries — the standard batch pattern
    (pyspark guide "Common OLAP patterns"); the streaming equivalent is
    ``session_window`` below.
    """
    return with_session_ids(events).groupBy("user_id", "session_seq").agg(
        F.min(F.unix_millis("ts")).alias("session_start_ms"),
        F.count("*").alias("n_events"),
        (F.max(F.unix_millis("ts")) - F.min(F.unix_millis("ts"))).alias(
            "duration_ms"
        ),
    )


ORACLE_SESSIONIZE = f"""
esess AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w)
                   > {SESSION_GAP_MIN * 60 * 1000} THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
esess2 AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM esess
),
sessionize AS (
  SELECT user_id, session_seq,
         min(epoch_ms(ts)) AS session_start_ms,
         count(*) AS n_events,
         max(epoch_ms(ts)) - min(epoch_ms(ts)) AS duration_ms
  FROM esess2
  GROUP BY 1, 2
)
"""


def json_props_stats(events: DataFrame) -> DataFrame:
    """JSON extraction (scalar-function surface): props is a JSON
    string; pull ``$.k`` and aggregate per event_type."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg("k").alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_JSON_PROPS_STATS = """
json_props_stats AS (
  SELECT event_type,
         count(*) AS n,
         avg(CAST(json_extract_string(props, '$.k') AS INT)) AS avg_k,
         min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
         max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
  FROM events
  GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# Structured Streaming forms
# ---------------------------------------------------------------------------


#: state-store shard count for the streaming queries. Unlike batch
#: shuffles, stateful-streaming partitions are fixed at query start
#: (spark.sql.shuffle.partitions) and AQE never coalesces them — on an
#: untuned session the default 200 shards of near-empty state dominate
#: runtime at fixture scale. Profiling at sf0.01 (r9): a stream-stream
#: join micro-batch costs ~10 s of pure state-store/task overhead at
#: 32 shards (4 stores per shard, each committing a delta file per
#: batch) vs well under a second at 8 — with identical results. 8 is
#: still a multi-shard distributed plan; a cluster run sizes this to
#: key cardinality via the env var.
import os as _os

STREAM_STATE_PARTITIONS = int(
    _os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")
)


def _stream_root(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """A fresh directory for one stream run's checkpoint and sink files,
    under the per-application scratch root (shared storage on a
    cluster, where executors write what the driver reads back). One
    root per call: ``run_stream_checkpoint_restart`` writes its input
    with errorifexists and resumes from its own checkpoint."""
    from ..sources._scratch import scratch_dir

    return f"{scratch_dir(spark, 'stream', sf_dir)}/{tag}-{uuid4().hex}"


def _drain(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Start ``writer``, run it until its input is consumed, stop it.

    A stream's state shards are fixed at start (Spark clones the session
    there), so the shuffle-partition setting is lowered to
    ``STREAM_STATE_PARTITIONS`` only across ``start()`` and put back
    whether or not it raises; later batch queries keep full width."""
    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    spark.conf.set(key, str(min(int(orig), STREAM_STATE_PARTITIONS)))
    try:
        q = writer.start()
    finally:
        spark.conf.set(key, orig)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (schema pinned; the
    raw ``ts`` encoding — nanos-long or NTZ — arrives exactly like the
    batch reader and is normalized the same way)."""
    ensure_nanos_conf(spark)
    # the file source wants a directory; glob-filter the one table out
    # of the shared fixture dir.
    stream = (
        spark.readStream.schema(
            parquet_schema(spark, f"{sf_dir}/events.parquet")
        )
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_event_ts(stream)


def run_stream_tumbling(
    spark: SparkSession, sf_dir: str, name: str = "stream_tumbling"
) -> DataFrame:
    """Run the tumbling agg as a real Structured Streaming query
    (complete mode, memory sink), drive it to completion, return the
    materialized result — equal to the batch form, hence oracle-able."""
    agg = tumbling_hourly(_event_stream(spark, sf_dir))
    _drain(
        spark,
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name),
    )
    return spark.table(name)


def run_stream_windowed_watermark(
    spark: SparkSession, sf_dir: str, name: str = "stream_watermark"
) -> DataFrame:
    """Append-mode sliding window with a 10-minute watermark — the
    late-data-handling shape. Append emits only windows the watermark
    has closed; with a bounded fixture every window except the final
    open ones is emitted."""
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", f"{WATERMARK_MIN} minutes")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_millis(F.col("win.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
        )
    )
    _drain(
        spark,
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
    )
    return spark.table(name)


#: watermark delay shared by the append-mode streaming queries.
WATERMARK_MIN = 10

#: stream-stream join window: purchases match clicks at most this far
#: back (same bound the watermark uses to expire click state).
JOIN_LOOKBACK_MIN = 30


def run_stream_interval_join(
    spark: SparkSession, sf_dir: str, name: str = "stream_ssjoin"
) -> DataFrame:
    """Stream-stream interval join: each purchase inner-joins the same
    user's clicks from the previous 30 minutes.

    The canonical two-stream stateful shape: both sides carry a
    watermark and the join condition bounds event time, so each side's
    state store holds only the lookback window — without the time
    bound, stream-stream join state grows forever. Inner joins emit
    every match exactly once as it forms, so over a bounded input the
    result set equals the batch inequality join — which is the oracle.
    State shards by user_id (the equi-key); scale-out is the same
    story as the other stateful queries.
    """
    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            "user_id",
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("p_user_id"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {JOIN_LOOKBACK_MIN} MINUTES")
        ),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user_id").alias("user_id"),
        (
            F.unix_millis("purchase_ts") - F.unix_millis("click_ts")
        ).alias("ms_before_purchase"),
    )
    _drain(
        spark,
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
    )
    return spark.table(name)


ORACLE_STREAM_INTERVAL_JOIN = f"""
ssj_clicks AS (
  SELECT event_id AS click_id, ts AS click_ts, user_id
  FROM events WHERE event_type = 'click'
),
ssj_purchases AS (
  SELECT event_id AS purchase_id, ts AS purchase_ts, user_id
  FROM events WHERE event_type = 'purchase'
),
stream_interval_join AS (
  SELECT p.purchase_id, c.click_id, p.user_id,
         epoch_ms(p.purchase_ts) - epoch_ms(c.click_ts)
           AS ms_before_purchase
  FROM ssj_purchases p
  JOIN ssj_clicks c
    ON c.user_id = p.user_id
   AND c.click_ts <= p.purchase_ts
   AND c.click_ts >= p.purchase_ts - INTERVAL {JOIN_LOOKBACK_MIN} MINUTES
)
"""


def _sentinel_staged_input(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table plus one far-future sentinel pair as a
    parquet dir for file-source streams (r8 verdict task 1).

    The sentinel click+purchase sit 7 days of EVENT time past every
    real event, so once a micro-batch has consumed the whole dir the
    watermark is decisively beyond delay + lookback + any internal
    eviction slack — every real unmatched row closes in the following
    no-data batch. Staging the sentinel WITH the data (instead of
    appending it after a first drain) halves the micro-batch count:
    the join emits matches and advances the watermark in ONE data
    batch, then the standard no-data batch emits the evictions.
    The dir lives under the per-application scratch root (portable —
    same contract as the ingest round-trips) and is written once per
    (session, sf_dir) — the write is the expensive part of the outer
    interval join; it is never mutated afterwards, so cached readers
    and late consumers can never tear.
    """
    return _stage(
        "stream_sentinel_input", spark,
        lambda: _write_sentinel_input(spark, sf_dir), sf_dir,
        checkpoint=False,
    )


def _write_sentinel_input(spark: SparkSession, sf_dir: str) -> str:
    from ..sources._scratch import scratch_dir

    in_dir = f"{scratch_dir(spark, 'stream_sentinel', sf_dir)}/events"
    events = load_table(spark, sf_dir, "events")
    # few, larger files: the file source lists and plans per file, and
    # fixture-scale state batches are overhead-bound, not scan-bound.
    events.coalesce(4).write.mode("overwrite").parquet(in_dir)
    schema = parquet_schema(spark, in_dir)
    sentinel_ts = events.select(
        (F.max("ts") + F.expr("INTERVAL 7 DAYS")).alias("t")
    ).first()["t"]
    local_rows(
        spark,
        [
            (-1, sentinel_ts, -1, "click", 0.0, "{}"),
            (-2, sentinel_ts, -1, "purchase", 0.0, "{}"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(in_dir)
    return in_dir


def _spc_staged_src(spark, sf_dir, tag, build):
    """Stage an SPC/sketch stream's source dir once per (session,
    sf_dir) — the same write-once-per-session contract as
    ``_sentinel_staged_input``: the dir holds a pure projection of the
    events fixture, split into 4 files so ``maxFilesPerTrigger=1``
    still drives a genuinely multi-batch run (4 triggers — micro-batch
    sizing is the canonical streaming throughput knob; the merges are
    associative, so the standing state and the result are
    batch-count-invariant), and is never mutated after the write, so
    cached readers can never tear. r9 optimization (guide §1.2):
    re-building the identical immutable input cost one
    repartition+write job chain per query per invocation."""

    def write() -> str:
        from ..sources._scratch import scratch_dir

        src = f"{scratch_dir(spark, f'stream_{tag}', sf_dir)}/src"
        build().repartition(4).write.mode("overwrite").parquet(src)
        return src

    return _stage("stream_src", spark, write, sf_dir, tag, checkpoint=False)


def _fold(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    build_src: Callable[[], DataFrame],
    step: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> DataFrame:
    """Fold a multi-batch stream into standing state: the source is
    ``build_src()`` staged by ``_spc_staged_src``, one file per
    trigger; each micro-batch's state is ``step(batch, prev)``
    (``prev`` is None on the first batch), and the state after the
    last batch is returned.

    Each batch's state materializes as one eager ``localCheckpoint``,
    a NEW table per batch, so batch k reads batch k-1's state and never
    aliases its own output. The state is sketch-grain bounded (KMV
    bottom-k, CMS cells, HLL registers, histogram buckets), and a
    per-batch parquet write+read of it cost two file jobs per trigger
    for no durability (r10: ~1 s/query faster). A production
    deployment would point the state at a durable store; the
    demonstrated contract (associative merges, batch-count-invariant
    state) is unchanged."""
    src = _spc_staged_src(spark, sf_dir, tag, build_src)
    stream = (
        spark.readStream.schema(parquet_schema(spark, src))
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = None

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal state
        state = step(batch_df, state).localCheckpoint(eager=True)

    root = _stream_root(spark, sf_dir, tag)
    _drain(
        spark,
        stream.writeStream.foreachBatch(_merge).option(
            "checkpointLocation", f"{root}/ckpt"
        ),
    )
    return state


def run_stream_interval_join_outer(
    spark: SparkSession, sf_dir: str, name: str = "stream_ssjoin_outer"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: purchases with their
    same-user clicks from the lookback window, or a null-extended row
    once the watermark proves no click can ever match.

    The outer variant is the genuinely stateful-semantics case: matched
    pairs emit as they form (inner behavior), but an UNMATCHED purchase
    can only emit on state EVICTION — and Spark's eviction bound for
    interval conditions is conservative and internally timing-dependent
    (a tail of recent unmatched rows stays open over a bounded input,
    with a boundary that is not a stable function of max(ts)). Rather
    than replay that internal boundary, the input is staged with one
    far-FUTURE sentinel pair (see ``_sentinel_staged_input``): the
    sentinel advances the watermark past every real row by more than
    delay + lookback, forcing every real unmatched purchase to close.
    The result is then exactly the batch LEFT JOIN over the real
    events — no cutoff rule in the oracle at all. Sentinels cannot
    match real rows (they are newer than any real purchase and too new
    for any real click window; the sentinel purchase matches only the
    sentinel click) and are filtered from the output by id sign.
    State is sharded by user_id and bounded by the lookback window.
    """
    ensure_nanos_conf(spark)
    in_dir = _sentinel_staged_input(spark, sf_dir)
    schema = parquet_schema(spark, in_dir)

    stream = (
        spark.readStream.schema(schema).format("parquet").load(in_dir)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            "user_id",
        )
        .withWatermark("click_ts", f"{WATERMARK_MIN} minutes")
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("p_user_id"),
    ).withWatermark("purchase_ts", f"{WATERMARK_MIN} minutes")
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {JOIN_LOOKBACK_MIN} MINUTES")
        ),
        "leftOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user_id").alias("user_id"),
        (
            F.unix_millis("purchase_ts") - F.unix_millis("click_ts")
        ).alias("ms_before_purchase"),
    )
    # one drain: the data batch (with the staged sentinel already
    # in the dir) emits matches and advances the watermark; the
    # automatic no-data batch that follows emits the evictions.
    _drain(
        spark,
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
    )
    return spark.table(name).filter(F.col("purchase_id") >= 0)


ORACLE_STREAM_INTERVAL_JOIN_OUTER = f"""
ssjo_clicks AS (
  SELECT event_id AS click_id, ts AS click_ts, user_id
  FROM events WHERE event_type = 'click'
),
ssjo_purchases AS (
  SELECT event_id AS purchase_id, ts AS purchase_ts, user_id
  FROM events WHERE event_type = 'purchase'
),
stream_interval_join_outer AS (
  SELECT p.purchase_id, c.click_id, p.user_id,
         epoch_ms(p.purchase_ts) - epoch_ms(c.click_ts)
           AS ms_before_purchase
  FROM ssjo_purchases p
  LEFT JOIN ssjo_clicks c
    ON c.user_id = p.user_id
   AND c.click_ts <= p.purchase_ts
   AND c.click_ts >= p.purchase_ts - INTERVAL {JOIN_LOOKBACK_MIN} MINUTES
)
"""


def run_stream_session_window(
    spark: SparkSession, sf_dir: str, name: str = "stream_sessions"
) -> DataFrame:
    """Native streaming sessionization: ``session_window`` with the
    same 30-min gap as the batch ``sessionize`` operator."""
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", f"{WATERMARK_MIN} minutes")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias(
                "win"
            ),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("win.start")).alias("session_start_ms"),
            "n_events",
        )
    )
    _drain(
        spark,
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
    )
    return spark.table(name)


# Append mode over a bounded input is deterministic: the file source
# drains in one batch, the watermark then advances to max(ts) - delay,
# and a final empty batch emits exactly the windows the watermark
# closed (Spark's eviction predicate is strict: window.end < watermark).
# That makes both append-mode queries oracle-checkable — the oracle
# replays the window expansion and applies the same cutoff.
ORACLE_STREAM_SLIDING_WATERMARK = f"""
ssw_wm AS (
  SELECT epoch_ms(max(ts)) - {WATERMARK_MIN * 60 * 1000} AS wm_ms
  FROM events
),
stream_sliding_watermark AS (
  SELECT epoch_ms(ws) AS window_start_ms,
         event_type,
         count(*) AS n_events
  FROM events, LATERAL unnest([
         time_bucket(INTERVAL '30 minutes', ts),
         time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
       ]) AS t(ws)
  GROUP BY 1, 2
  HAVING epoch_ms(ws) + 3600000 < (SELECT wm_ms FROM ssw_wm)
)
"""

# Session merge rule differs from the batch `sessionize` oracle at the
# exact-gap boundary: Spark's session_window spans [ts, ts+gap) per
# event and merges overlapping spans, so an event arriving exactly
# gap ms after its predecessor starts a NEW session (>= below), whereas
# the lag-based batch operator keeps it (strict >). Session end =
# last event ts + gap; emitted iff end < final watermark.
ORACLE_STREAM_SESSION_WINDOW = f"""
ssn_wm AS (
  SELECT epoch_ms(max(ts)) - {WATERMARK_MIN * 60 * 1000} AS wm_ms
  FROM events
),
ssn_flag AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w)
                   >= {SESSION_GAP_MIN * 60 * 1000} THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ssn_sess AS (
  SELECT user_id, ts,
         sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM ssn_flag
),
stream_session_window AS (
  SELECT user_id,
         min(epoch_ms(ts)) AS session_start_ms,
         count(*) AS n_events
  FROM ssn_sess
  GROUP BY user_id, session_seq
  HAVING max(epoch_ms(ts)) + {SESSION_GAP_MIN * 60 * 1000}
         < (SELECT wm_ms FROM ssn_wm)
)
"""


def run_stream_dedup(
    spark: SparkSession, sf_dir: str, name: str = "stream_dedup"
) -> DataFrame:
    """Exactly-once dedup of at-least-once delivery: the event stream
    unioned with a duplicate copy of itself (simulating redelivery),
    then ``dropDuplicates`` on the event key under a watermark so the
    dedup state is bounded — old keys expire instead of accumulating
    forever, which is what makes this runnable on an unbounded
    stream. Output must equal the batch events table exactly (every
    event once, no redelivered copy) — hence oracle-checked.
    """
    stream = _event_stream(spark, sf_dir)
    redelivered = stream.unionByName(stream)
    deduped = (
        redelivered.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select(
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "user_id",
            "event_type",
            "value",
        )
    )
    _drain(
        spark,
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
    )
    return spark.table(name)


ORACLE_STREAM_DEDUP = """
stream_dedup AS (
  SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value
  FROM events
)
"""


def session_funnel(events: DataFrame) -> DataFrame:
    """Session funnel: per session, click/purchase counts and whether
    the session CONVERTED — a purchase at-or-after its first click
    (ordered pattern, not mere co-occurrence).

    Same single user_id shuffle as sessionize (the session-id windows
    and the per-session agg all cluster on user_id); the funnel flags
    are conditional aggregates in the same hash-agg pass. At 100 TB
    this is sessionization's cost plus nothing.
    """
    tagged = with_session_ids(events)
    is_click = (F.col("event_type") == "click").cast("bigint")
    is_buy = (F.col("event_type") == "purchase").cast("bigint")
    click_ms = F.when(
        F.col("event_type") == "click", F.unix_millis("ts")
    )
    buy_ms = F.when(
        F.col("event_type") == "purchase", F.unix_millis("ts")
    )
    per_sess = tagged.groupBy("user_id", "session_seq").agg(
        F.sum(is_click).alias("n_clicks"),
        F.sum(is_buy).alias("n_purchases"),
        F.min(click_ms).alias("first_click_ms"),
        F.max(buy_ms).alias("last_purchase_ms"),
    )
    converted = (
        F.col("first_click_ms").isNotNull()
        & F.col("last_purchase_ms").isNotNull()
        & (F.col("last_purchase_ms") >= F.col("first_click_ms"))
    )
    return per_sess.withColumn("converted", converted.cast("int"))


ORACLE_SESSION_FUNNEL = f"""
fsess AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w)
                   > {SESSION_GAP_MIN * 60 * 1000} THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
fsess2 AS (
  SELECT user_id, ts, event_type,
         CAST(sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM fsess
),
fsess3 AS (
  SELECT user_id, session_seq,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_clicks,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchases,
         min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END)
           AS first_click_ms,
         max(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
           AS last_purchase_ms
  FROM fsess2
  GROUP BY 1, 2
),
session_funnel AS (
  SELECT user_id, session_seq, n_clicks, n_purchases,
         first_click_ms, last_purchase_ms,
         CAST(CASE WHEN first_click_ms IS NOT NULL
                    AND last_purchase_ms IS NOT NULL
                    AND last_purchase_ms >= first_click_ms
              THEN 1 ELSE 0 END AS INT) AS converted
  FROM fsess3
)
"""


def run_stream_partitioned_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming -> lakehouse: each micro-batch lands via foreachBatch
    into a day-partitioned parquet table through the dynamic
    partition-overwrite upsert — the canonical continuous-ingestion
    shape (restating a day replaces exactly that day's partition).
    Returns the read-back table, which must equal the batch events
    table — oracle-checked.
    """
    from ..sources.sinks import upsert_partitions

    stream = _event_stream(spark, sf_dir)
    root = _stream_root(spark, sf_dir, "psink")
    target = f"{root}/events"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        upsert_partitions(
            spark,
            batch_df.withColumn(
                "day", F.date_format("ts", "yyyy-MM-dd")
            ),
            target,
            ["day"],
        )

    _drain(
        spark,
        stream.writeStream.foreachBatch(_sink).option(
            "checkpointLocation", f"{root}/ckpt"
        ),
    )
    return spark.read.parquet(target).select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "user_id",
        "event_type",
        "value",
    )


ORACLE_STREAM_PARTITIONED_SINK = """
stream_partitioned_sink AS (
  SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value
  FROM events
)
"""


#: ts split for the two-phase checkpoint/restart run: phase 1 ingests
#: days before this, phase 2 the rest (no late data across the split,
#: so the final result equals a single run's).
CKPT_SPLIT_DAY = "2024-01-16"


def run_stream_checkpoint_restart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once across a restart: a windowed append-mode agg runs
    on half the input, STOPS, new files land, and a NEW query resumes
    from the same checkpoint — emitting only the windows the first run
    had not yet closed.

    This is the property that matters operationally at 100 TB: the
    checkpoint (offset log + state store) makes a crash/redeploy
    resume instead of recompute. If state recovery were broken, the
    restarted query would re-aggregate from zero and re-emit run-1's
    windows into the same file sink — the oracle (one-pass batch over
    ALL events with the standard final-watermark cutoff) would then
    see duplicate rows and fail the hash. Both runs share the file
    sink directory and checkpoint; only files added after run 1 are
    read by run 2 (offset log), and run-1 state (open windows at the
    split boundary) is restored from the state store.
    """
    ensure_nanos_conf(spark)
    events = load_table(spark, sf_dir, "events")
    root = _stream_root(spark, sf_dir, "ckpt")
    in_dir, out_dir, ckpt = f"{root}/in", f"{root}/out", f"{root}/ckpt"
    split = F.lit(CKPT_SPLIT_DAY).cast("date")
    events.filter(F.to_date("ts") < split).write.parquet(in_dir)
    schema = parquet_schema(spark, in_dir)

    def _run_phase() -> None:
        agg = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(in_dir)
            .withWatermark("ts", f"{WATERMARK_MIN} minutes")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .select(
                F.unix_millis(F.col("win.start")).alias("window_start_ms"),
                F.unix_millis(F.col("win.end")).alias("window_end_ms"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
        _drain(
            spark,
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt),
        )

    _run_phase()
    # phase 2: the rest of the days land as new files; the restarted
    # query resumes from the checkpoint (offset log skips phase-1
    # files, state store restores the still-open windows).
    events.filter(F.to_date("ts") >= split).write.mode("append").parquet(
        in_dir
    )
    _run_phase()
    return spark.read.parquet(out_dir)


ORACLE_STREAM_CKPT_RESTART = f"""
sck_wm AS (
  SELECT epoch_ms(max(ts)) - {WATERMARK_MIN * 60 * 1000} AS wm_ms
  FROM events
),
stream_ckpt_restart AS (
  SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start_ms,
         epoch_ms(time_bucket(INTERVAL '1 hour', ts)) + 3600000
           AS window_end_ms,
         event_type,
         count(*) AS n_events,
         round(sum(value), 4) AS sum_value
  FROM events
  GROUP BY 1, 2, 3
  HAVING epoch_ms(time_bucket(INTERVAL '1 hour', ts)) + 3600000
         < (SELECT wm_ms FROM sck_wm)
)
"""


def variant_props_rollup(events: DataFrame) -> DataFrame:
    """Semi-structured via VariantType (the Spark 4 path for JSON-heavy
    columns): ``parse_json`` once into a variant, extract typed fields
    with ``try_variant_get``, and GROUP BY a derived field. Variant
    keeps the parsed form in a compact binary encoding — at 100 TB the
    parse happens once per row in the scan stage instead of once per
    ``get_json_object`` call, and the extraction is columnar.
    """
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
        )
    )


ORACLE_VARIANT_PROPS_ROLLUP = """
variant_props_rollup AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
              AS BIGINT) AS sum_k
  FROM events
  GROUP BY 1, 2
)
"""


#: path analysis: truncate each session's event-type sequence here.
PATH_MAX_EVENTS = 5


def session_paths(events: DataFrame) -> DataFrame:
    """Clickstream path analysis: the most common event-type sequences
    per session (first PATH_MAX_EVENTS types, '>'-joined), with session
    and distinct-user counts.

    Rides the same single user_id shuffle as sessionize (the window and
    the (user_id, session_seq) groupBy share partitioning); the ordered
    sequence comes from array_sort over (ts_ms, event_id, type) structs
    — a deterministic total order, no second sort pass. The final path
    agg is on a low-cardinality key (paths are short strings), with
    map-side combine.
    """
    sess = with_session_ids(events)
    per_session = sess.groupBy("user_id", "session_seq").agg(
        F.expr(
            "array_join(slice(transform(array_sort(collect_list("
            " struct(unix_millis(ts) AS ts_ms, event_id, event_type))),"
            f" s -> s.event_type), 1, {PATH_MAX_EVENTS}), '>')"
        ).alias("path")
    )
    return per_session.groupBy("path").agg(
        F.count("*").alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
    )


ORACLE_SESSION_PATHS = f"""
sp_tagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w)
                   > {SESSION_GAP_MIN * 60 * 1000} THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sp_sess AS (
  SELECT user_id, event_id, ts, event_type,
         sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM sp_tagged
),
sp_paths AS (
  SELECT user_id, session_seq,
         array_to_string(list_slice(
           array_agg(event_type ORDER BY ts, event_id),
           1, {PATH_MAX_EVENTS}), '>') AS path
  FROM sp_sess
  GROUP BY 1, 2
),
session_paths AS (
  SELECT path,
         CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM sp_paths
  GROUP BY 1
)
"""


def run_stream_static_enrich(
    spark: SparkSession, sf_dir: str, name: str = "stream_enrich"
) -> DataFrame:
    """Stream-static broadcast enrichment — the canonical dimension
    join in a streaming pipeline: each micro-batch of events inner-
    joins the static customer dim on the user key.

    Stateless (no watermark, no state store): the static side is
    planned as a broadcast-hash join *inside every micro-batch*, so
    nothing accumulates and the output over a bounded input equals
    the batch join — which is the oracle. At production scale the
    static side is a slowly-changing dim refreshed by replanning
    (each micro-batch re-resolves the static DataFrame); state
    sharding is moot because the operator keeps none.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = (
        _event_stream(spark, sf_dir)
        .join(F.broadcast(cust), "user_id")
        .select("event_id", "user_id", "segment", "event_type")
    )
    _drain(
        spark,
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
    )
    return spark.table(name)


ORACLE_STREAM_STATIC_ENRICH = """
stream_static_enrich AS (
  SELECT e.event_id, e.user_id,
         c.c_mktsegment AS segment, e.event_type
  FROM events e
  JOIN customer c ON c.c_custkey = e.user_id
)
"""


def run_stream_state_inspect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming-state observability via the Spark 4 State Data Source:
    run a watermarked windowed aggregation to completion, stop it, and
    read the checkpoint's state store back as a DataFrame
    (``spark.read.format("statestore")``) — the operational tool for
    inspecting what a live 100 TB pipeline is holding in RocksDB
    (leaked keys, skewed partitions, watermark stalls) without
    touching the running query.

    The returned rows are the OPEN windows: append mode emits (and
    evicts) every window whose end fell behind the final watermark, so
    the surviving state is exactly the complement — windows with
    ``end >= max(ts) - watermark``. That makes the state dump fully
    oracle-checkable, and doubles as a correctness proof of eviction:
    a leaked (unevicted) window would surface as an extra row and fail
    the hash. State float sums are rounded per the cross-engine rule.
    """
    ensure_nanos_conf(spark)
    events = load_table(spark, sf_dir, "events")
    root = _stream_root(spark, sf_dir, "state")
    in_dir, out_dir, ckpt = f"{root}/in", f"{root}/out", f"{root}/ckpt"
    events.write.parquet(in_dir)
    schema = parquet_schema(spark, in_dir)
    agg = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(in_dir)
        .withWatermark("ts", f"{WATERMARK_MIN} minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    _drain(
        spark,
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt),
    )
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.unix_millis(F.col("key.window.start")).alias("window_start_ms"),
        F.unix_millis(F.col("key.window.end")).alias("window_end_ms"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
        F.round(F.col("value.sum"), 4).alias("sum_value"),
    )


ORACLE_STREAM_STATE_INSPECT = f"""
ssi_wm AS (
  SELECT epoch_ms(max(ts)) - {WATERMARK_MIN * 60 * 1000} AS wm_ms
  FROM events
),
stream_state_inspect AS (
  SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start_ms,
         epoch_ms(time_bucket(INTERVAL '1 hour', ts)) + 3600000
           AS window_end_ms,
         event_type,
         count(*) AS n_events,
         round(sum(value), 4) AS sum_value
  FROM events
  GROUP BY 1, 2, 3
  HAVING epoch_ms(time_bucket(INTERVAL '1 hour', ts)) + 3600000
         >= (SELECT wm_ms FROM ssi_wm)
)
"""


#: keyed-state MERGE sink: hash-bucket partition count of the state
#: table (the merge granularity — only buckets touched by a batch are
#: rewritten).
MERGE_STATE_BUCKETS = 8


def run_stream_merge_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming foreachBatch MERGE into a keyed aggregate state table
    — the upsert/CDC companion to ``run_stream_partitioned_sink``'s
    append shape. Each micro-batch folds into per-user running state
    (event count + latest value), persisted as a hash-bucketed parquet
    table where ONLY the buckets a batch touches are rewritten
    (dynamic partition overwrite = partition-level MERGE; a table
    format with file-level MERGE shrinks the rewrite unit further, but
    the plan shape is identical).

    Mechanics per batch:

      1. partial state = one hash-agg over the batch (count + a single
         ``max(struct(ts_ms, event_id, value))`` — the struct max IS
         the deterministic "latest wins" rule, total-ordered by the
         unique event_id);
      2. prior state for the affected buckets only is unioned in and
         re-aggregated (associative monoid: counts add, latest maxes);
      3. the merged buckets localCheckpoint (the read and the
         overwrite target are the same path — materializing first is
         this file-format's snapshot isolation), then land via dynamic
         partition overwrite.

    The affected-bucket list is a driver collect of <=
    MERGE_STATE_BUCKETS ints — bounded by the bucket count, never by
    data. The source is staged
    as multiple files consumed one per trigger, so the merge genuinely
    runs across many micro-batches; the final table must equal the
    batch-mode per-user aggregate — oracle-checked.
    """
    import os

    root = _stream_root(spark, sf_dir, "merge")
    target = f"{root}/state"

    batch_events = load_table(spark, sf_dir, "events")
    # src staged once per (session, sf_dir) — write-once contract as
    # _spc_staged_src; range-split by ts so batches arrive time-ordered
    def write_src() -> str:
        from ..sources._scratch import scratch_dir

        src = f"{scratch_dir(spark, 'stream_merge_state', sf_dir)}/src"
        batch_events.repartitionByRange(4, "ts").write.mode(
            "overwrite"
        ).parquet(src)
        return src

    src = _stage(
        "stream_src", spark, write_src, sf_dir, "merge_state_src",
        checkpoint=False,
    )
    schema = parquet_schema(spark, src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    bucket = F.pmod(F.col("user_id"), F.lit(MERGE_STATE_BUCKETS)).alias(
        "bucket"
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.max(
                F.struct(
                    F.unix_millis("ts").alias("ts_ms"),
                    F.col("event_id").alias("eid"),
                    F.col("value").alias("v"),
                )
            ).alias("last"),
        )
        if os.path.isdir(target):
            touched = [
                r["bucket"]
                for r in partial.select(bucket).distinct().collect()
            ]
            old = spark.read.parquet(target).filter(
                F.col("bucket").isin(touched)
            ).select("user_id", "n_events", "last")
            partial = (
                old.unionByName(partial)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.max("last").alias("last"),
                )
            )
        merged = partial.select(
            "user_id", "n_events", "last", bucket
        ).localCheckpoint(eager=True)
        from ..sources.sinks import upsert_partitions

        upsert_partitions(spark, merged, target, ["bucket"])

    _drain(
        spark,
        stream.writeStream.foreachBatch(_merge).option(
            "checkpointLocation", f"{root}/ckpt"
        ),
    )
    return spark.read.parquet(target).select(
        "user_id",
        "n_events",
        F.col("last.ts_ms").alias("last_ts_ms"),
        F.col("last.v").alias("last_value"),
    )


ORACLE_STREAM_MERGE_STATE = """
stream_merge_state AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         epoch_ms(max(ts)) AS last_ts_ms,
         arg_max(value, epoch_ms(ts) * 1000000 + event_id) AS last_value
  FROM events
  GROUP BY user_id
)
"""


def run_stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str, name: str = "stream_dedup_wwm"
) -> DataFrame:
    """Exactly-once dedup via ``dropDuplicatesWithinWatermark``
    (Spark 3.5+) — the variant for producers whose redeliveries carry
    DIFFERENT event times for the same key. Plain ``dropDuplicates``
    keys state on the exact (key, ts) first seen and can emit a
    redelivery whose ts differs; WithinWatermark guarantees a key is
    emitted once as long as its redeliveries arrive within the
    watermark delay of each other, and expires state afterward —
    strictly better bounded-state semantics for at-least-once
    sources.

    Simulated redelivery shifts the duplicate copy's ts by 1 second
    (inside the 1 hour delay). Projecting the ts AWAY (it is
    nondeterministic — either copy's may win) keeps the output
    oracle-checkable: every event key exactly once with its stable
    columns.
    """
    stream = _event_stream(spark, sf_dir)
    shifted = stream.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")
    )
    redelivered = stream.unionByName(shifted)
    deduped = (
        redelivered.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    _drain(
        spark,
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
    )
    return spark.table(name)


ORACLE_STREAM_DEDUP_WWM = """
stream_dedup_wwm AS (
  SELECT event_id, user_id, event_type, value FROM events
)
"""


#: streaming embedding dedup: vectors below this id form the standing
#: index; the stream is screened against it.
EMB_INDEX_SPLIT = 250


def run_stream_embedding_dedup(
    spark: SparkSession,
    sf_dir: str,
    name: str = "stream_embedding_dedup",
) -> DataFrame:
    """Continuous-ingest embedding dedup: each micro-batch of incoming
    vectors is screened against a STANDING index by LSH bucket join +
    exact cosine verify — the streaming twin of ``dedup_incremental``
    for the vector modality, and the shape an embedding-ingest service
    runs forever: index lookup per batch, no state operator needed
    (the index is the state, and it lives in a table, not the stream).

    The stream-static join re-resolves the index inside every
    micro-batch (same mechanism as ``run_stream_static_enrich``);
    bucketing means each arriving vector compares against its bucket's
    index vectors only, never the whole index. Output: arriving
    vectors (vec_id >= split) labeled is_dup by nearest-index cosine —
    hash-equal to the batch computation, which is the oracle.
    """
    from ..operators.similarity import (
        NEAR_DUP_COSINE,
        _with_bucket_and_norm,
    )

    stream = (
        spark.readStream.schema(
            parquet_schema(spark, f"{sf_dir}/embeddings.parquet")
        )
        .format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
    )
    index = (
        _with_bucket_and_norm(
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < EMB_INDEX_SPLIT
            )
        )
        .select(
            F.col("vec_id").alias("idx_id"),
            F.col("v").alias("iv"),
            F.col("vnorm").alias("inorm"),
            "bucket",
        )
    )
    arriving = _with_bucket_and_norm(
        stream.filter(F.col("vec_id") >= EMB_INDEX_SPLIT)
    )
    dot = (
        "aggregate(zip_with(v, iv, (x, y) -> x * y),"
        " CAST(0 AS DOUBLE), (acc, p) -> acc + p)"
    )
    scored = (
        arriving.join(F.broadcast(index), "bucket", "left")
        .withColumn(
            "cosine",
            F.when(
                F.col("idx_id").isNotNull(),
                F.expr(dot) / (F.col("vnorm") * F.col("inorm")),
            ),
        )
        .groupBy("vec_id")
        .agg(F.max("cosine").alias("max_cosine"))
        .select(
            "vec_id",
            F.round(F.coalesce("max_cosine", F.lit(-1.0)), 6).alias(
                "max_cosine"
            ),
            (
                F.coalesce("max_cosine", F.lit(-1.0)) >= NEAR_DUP_COSINE
            ).alias("is_dup"),
        )
    )
    _drain(
        spark,
        scored.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name),
    )
    return spark.table(name)


def oracle_stream_embedding_dedup() -> str:
    from ..operators.similarity import NEAR_DUP_COSINE, _oracle_bucket_sql

    b = _oracle_bucket_sql("embedding::DOUBLE[]")
    return f"""
sed_idx AS (
  SELECT vec_id AS idx_id, embedding::DOUBLE[] AS iv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS inorm,
         {b} AS bucket
  FROM embeddings WHERE vec_id < {EMB_INDEX_SPLIT}
),
sed_arr AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS vnorm,
         {b} AS bucket
  FROM embeddings WHERE vec_id >= {EMB_INDEX_SPLIT}
),
sed_scored AS (
  SELECT a.vec_id,
         max(list_dot_product(a.v, i.iv) / (a.vnorm * i.inorm)) AS mc
  FROM sed_arr a LEFT JOIN sed_idx i USING (bucket)
  GROUP BY 1
),
stream_embedding_dedup AS (
  SELECT vec_id,
         round(coalesce(mc, -1.0), 6) AS max_cosine,
         coalesce(mc, -1.0) >= {NEAR_DUP_COSINE} AS is_dup
  FROM sed_scored
)
"""


def run_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct count via a KMV sketch as the state: each
    micro-batch's user hashes fold into a STANDING bottom-k table
    (union -> distinct -> re-take k smallest -> overwrite), exploiting
    the sketch's mergeability — bottom-k of unioned bottom-k sets IS
    the global bottom-k, so the final estimate equals the batch
    `kmv_distinct_sketch` computation exactly (the oracle).

    This is the unbounded-cardinality answer streaming aggregation
    can't give: exact streaming distinct needs per-key state that
    grows forever; the sketch state is K rows REGARDLESS of stream
    length, trivially checkpoint-/restart-safe because each merge is
    idempotent and associative. Per batch the standing table is K
    rows, so the merge costs one batch-sized distinct + a K-row sort.
    Output (1 row): n_kept, est_users.
    """
    from ..operators.temporal import KMV_K, _KMV_DENOM

    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
    ).cast("bigint")

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = batch_df.select(h.alias("h")).distinct()
        if prev is not None:
            part = prev.unionByName(part)
        return part.distinct().orderBy("h").limit(KMV_K)

    sk = _fold(
        spark,
        sf_dir,
        "kmv",
        lambda: load_table(spark, sf_dir, "events").select("user_id"),
        step,
    )
    return sk.agg(
        F.count("*").alias("n_kept"),
        F.when(
            F.count("*") < KMV_K,
            F.round(F.count("*").cast("double"), 4),
        )
        .otherwise(
            F.round(
                F.lit(float(KMV_K - 1))
                / ((F.max("h") + F.lit(1)) / F.lit(_KMV_DENOM)),
                4,
            )
        )
        .alias("est_users"),
    )


def _oracle_stream_kmv() -> str:
    from ..operators.temporal import KMV_K, _KMV_DENOM

    return f"""
skmv_h AS (
  SELECT DISTINCT
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
              AS BIGINT) AS h
  FROM events
),
skmv_sk AS (
  SELECT h FROM skmv_h
  QUALIFY row_number() OVER (ORDER BY h) <= {KMV_K}
),
stream_kmv AS (
  SELECT CAST(count(*) AS BIGINT) AS n_kept,
         CASE WHEN count(*) < {KMV_K}
              THEN round(CAST(count(*) AS DOUBLE), 4)
              ELSE round({float(KMV_K - 1)!r}
                         / ((max(h) + 1) / {_KMV_DENOM!r}), 4)
         END AS est_users
  FROM skmv_sk
)
"""


ORACLE_STREAM_KMV = _oracle_stream_kmv()


def run_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch as streaming state — the frequency-sketch twin
    of ``run_stream_kmv``: per micro-batch, the batch's partial
    (row, cell) counts MERGE into a standing depth*width cell table by
    cell-wise addition (the CMS merge monoid; KMV merges by bottom-k,
    HLL by max — three sketches, three monoids, one streaming
    pattern). State is CMS_DEPTH*CMS_WIDTH rows forever, regardless
    of stream length or key cardinality.

    The final cell table must equal the batch sketch exactly (the
    oracle), because integer cell addition is associative and
    commutative across any micro-batch partitioning. Output: r, c,
    cnt.
    """
    from ..operators.temporal import CMS_DEPTH, CMS_WIDTH

    rows = F.array(*[F.lit(r) for r in range(CMS_DEPTH)])
    cell = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit("cms"),
                    F.col("r").cast("string"),
                    F.col("user_id").cast("string"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint") % CMS_WIDTH

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = (
            batch_df.select("user_id", F.explode(rows).alias("r"))
            .withColumn("c", cell)
            .groupBy("r", "c")
            .agg(F.count("*").alias("cnt"))
        )
        if prev is not None:
            part = (
                prev.unionByName(part)
                .groupBy("r", "c")
                .agg(F.sum("cnt").alias("cnt"))
            )
        return part

    cells = _fold(
        spark,
        sf_dir,
        "cms",
        lambda: load_table(spark, sf_dir, "events").select("user_id"),
        step,
    )
    return cells.select(
        "r", "c", F.col("cnt").cast("long").alias("cnt")
    )


def _oracle_stream_cms() -> str:
    from ..operators.temporal import CMS_DEPTH, CMS_WIDTH

    return f"""
scms_cells AS (
  SELECT r, CAST(('0x' || substr(md5('cms:' || r || ':' ||
           CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT)
           % {CMS_WIDTH} AS c,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events, LATERAL unnest(range(0, {CMS_DEPTH})) AS g(r)
  GROUP BY 1, 2
),
stream_cms AS (
  SELECT CAST(r AS INT) AS r, c, cnt FROM scms_cells
)
"""


ORACLE_STREAM_CMS = _oracle_stream_cms()


def run_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL registers as streaming state — completes the sketch-state
    trio (KMV: bottom-k, CMS: add, HLL: MAX): each micro-batch's
    partial registers fold into the standing 64-row register table by
    element-wise max; the final registers and estimate equal the batch
    `hll_distinct` 'ALL' row exactly. Output (1 row): n_registers,
    est_users.
    """
    from ..operators.temporal import (
        HLL_M,
        HLL_W_BITS,
    )

    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
    ).cast("bigint")

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = (
            batch_df.select(h.alias("h"))
            .select(
                F.expr(f"h DIV {1 << HLL_W_BITS}").alias("bucket"),
                (F.col("h") % F.lit(1 << HLL_W_BITS)).alias("w"),
            )
            .withColumn(
                "rho",
                F.when(
                    F.col("w") == 0, F.lit(HLL_W_BITS + 1)
                ).otherwise(
                    F.lit(HLL_W_BITS + 1) - F.length(F.bin(F.col("w")))
                ),
            )
            .groupBy("bucket")
            .agg(F.max("rho").alias("rho"))
        )
        if prev is not None:
            part = (
                prev.unionByName(part)
                .groupBy("bucket")
                .agg(F.max("rho").alias("rho"))
            )
        return part

    regs = _fold(
        spark,
        sf_dir,
        "hll",
        lambda: load_table(spark, sf_dir, "events").select("user_id"),
        step,
    )
    grid = spark.range(HLL_M).select(F.col("id").alias("bucket"))
    full = grid.join(regs, "bucket", "left").select(
        F.coalesce("rho", F.lit(0)).alias("rho")
    )
    alpha = F.lit(0.7213) / (
        F.lit(1.0) + F.lit(1.079) / F.lit(float(HLL_M))
    )
    stats = full.agg(
        F.count("*").alias("n_registers"),
        F.sum(F.lit(1.0) / F.expr("shiftleft(1L, rho)")).alias("z"),
        F.sum(F.when(F.col("rho") == 0, 1).otherwise(0)).alias("zeros"),
    )
    raw = alpha * F.lit(float(HLL_M * HLL_M)) / F.col("z")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("zeros") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("zeros")),
    ).otherwise(raw)
    return stats.select(
        "n_registers", F.round(est, 4).alias("est_users")
    )


def _oracle_stream_hll() -> str:
    from ..operators.temporal import HLL_M, HLL_W_BITS

    return f"""
shll_h AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
              AS BIGINT) AS h
  FROM events
),
shll_regs AS (
  SELECT CAST(h // {1 << HLL_W_BITS} AS BIGINT) AS bucket,
         max(CASE WHEN h % {1 << HLL_W_BITS} = 0 THEN {HLL_W_BITS + 1}
                  ELSE {HLL_W_BITS + 1}
                       - length(bin(h % {1 << HLL_W_BITS}))
             END) AS rho
  FROM shll_h GROUP BY 1
),
shll_full AS (
  SELECT COALESCE(r.rho, 0) AS rho
  FROM (SELECT unnest(range(0, {HLL_M})) AS bucket) g
  LEFT JOIN shll_regs r ON r.bucket = g.bucket
),
shll_s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_registers,
         sum(1.0 / (CAST(1 AS BIGINT) << rho)) AS z,
         CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS zeros
  FROM shll_full
),
stream_hll AS (
  SELECT n_registers,
         round(CASE WHEN (0.7213 / (1.0 + 1.079 / {float(HLL_M)!r}))
                         * {float(HLL_M * HLL_M)!r} / z
                         <= {2.5 * HLL_M!r}
                    AND zeros > 0
               THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / zeros)
               ELSE (0.7213 / (1.0 + 1.079 / {float(HLL_M)!r}))
                    * {float(HLL_M * HLL_M)!r} / z
               END, 4) AS est_users
  FROM shll_s
)
"""


ORACLE_STREAM_HLL = _oracle_stream_hll()


def run_stream_histq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantiles via the mergeable histogram sketch as
    state: each micro-batch's partial (event_type, bin) counts fold
    into a standing histogram by plain addition — the sketch whose
    merge is lossless AND order-independent, so the final interpolated
    quantiles equal the batch ``histogram_quantiles`` estimates
    exactly (the oracle pins stream == batch).

    Contrast with percentile_approx as streaming state: GK compression
    is merge-order dependent, so a redeployed stream could change its
    answers; the additive histogram cannot. State size = types x bins
    rows regardless of stream length; per batch the merge costs one
    batch-sized hash-agg + a state-sized sum. Output per (type, p):
    est_q + n.
    """
    from ..operators.temporal import HQ_BIN_WIDTH, HQ_PROBS

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = batch_df.groupBy(
            "event_type",
            F.floor(F.col("value") / F.lit(HQ_BIN_WIDTH)).alias("bin"),
        ).agg(F.count("*").alias("cnt"))
        if prev is not None:
            part = prev.unionByName(part)
        return (
            part.groupBy("event_type", "bin")
            .agg(F.sum("cnt").alias("cnt"))
        )

    hist = _fold(
        spark,
        sf_dir,
        "histq",
        lambda: load_table(spark, sf_dir, "events").select(
            "event_type", "value"
        ),
        step,
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "event_type", "bin", "cnt", F.sum("cnt").over(wc).alias("cum")
    )
    n = hist.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    qs = n.select(
        "event_type",
        "n",
        F.explode(F.array(*[F.lit(p) for p in HQ_PROBS])).alias("p"),
    ).select(
        "event_type",
        "n",
        "p",
        F.ceil(F.col("p") * F.col("n")).cast("bigint").alias("r"),
    )
    return (
        qs.join(cum, "event_type")
        .filter(F.col("cum") >= F.col("r"))
        .groupBy("event_type", "p", "n", "r")
        .agg(F.min("bin").alias("bin"))
        .join(cum, ["event_type", "bin"])
        .select(
            "event_type",
            "p",
            F.round(
                F.col("bin") * F.lit(HQ_BIN_WIDTH)
                + F.lit(HQ_BIN_WIDTH)
                * (F.col("r") - (F.col("cum") - F.col("cnt")))
                / F.col("cnt"),
                4,
            ).alias("est_q"),
            "n",
        )
    )


def _oracle_stream_histq() -> str:
    from ..operators.temporal import HQ_BIN_WIDTH, HQ_PROBS

    return f"""
shq_hist AS (
  SELECT event_type, CAST(floor(value / {HQ_BIN_WIDTH!r}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
shq_cum AS (
  SELECT event_type, bin, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM shq_hist
),
shq_n AS (
  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM shq_hist GROUP BY 1
),
shq_qs AS (
  SELECT event_type, n, CAST(p AS DOUBLE) AS p,
         CAST(ceil(CAST(p AS DOUBLE) * n) AS BIGINT) AS r
  FROM shq_n, LATERAL unnest([{", ".join(repr(p) for p in HQ_PROBS)}]) AS t(p)
),
stream_hist_quantiles AS (
  SELECT q.event_type, q.p,
         round(b.bin * {HQ_BIN_WIDTH!r}
               + {HQ_BIN_WIDTH!r} * (q.r - (c2.cum - c2.cnt)) / c2.cnt,
               4) AS est_q,
         q.n
  FROM shq_qs q
  JOIN (
    SELECT q2.event_type, q2.p, min(c.bin) AS bin
    FROM shq_qs q2 JOIN shq_cum c
      ON c.event_type = q2.event_type AND c.cum >= q2.r
    GROUP BY 1, 2
  ) b ON b.event_type = q.event_type AND b.p = q.p
  JOIN shq_cum c2 ON c2.event_type = q.event_type AND c2.bin = b.bin
)
"""


ORACLE_STREAM_HISTQ = _oracle_stream_histq()


def run_stream_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A/B monitor: the per-variant moment cells (n, Σcents,
    Σcents²) are the STANDING STATE, merged per micro-batch by simple
    addition — moments are the canonical mergeable statistic, so the
    state is 2 rows regardless of stream length and the final Welch z
    equals the batch computation bit-for-bit (the oracle). This is
    the streaming face of the group-sequential family: every
    micro-batch boundary is an interim look at the same cumulative z
    the batch `events_ab_test` computes at the end.

    Per batch: one batch-sized agg + a 2-row merge overwrite —
    checkpoint/restart-safe because addition is associative and the
    state write is idempotent per batch id.

    Output (1 row): n0, n1, z, significant.
    """

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = batch_df.groupBy("variant").agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s"),
            F.sum(F.col("c") * F.col("c")).alias("q"),
        )
        if prev is not None:
            part = prev.unionByName(part)
        return part.groupBy("variant").agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.sum("q").alias("q"),
        )

    st = _fold(
        spark,
        sf_dir,
        "abm",
        lambda: load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            (F.col("user_id") % 2).cast("int").alias("variant"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        ),
        step,
    )
    cells = st.agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("variant") == 0, F.col("s"))).alias("s0"),
        F.sum(F.when(F.col("variant") == 0, F.col("q"))).alias("q0"),
        F.sum(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("variant") == 1, F.col("s"))).alias("s1"),
        F.sum(F.when(F.col("variant") == 1, F.col("q"))).alias("q1"),
    )
    n0d, n1d = F.col("n0").cast("double"), F.col("n1").cast("double")
    v0 = (
        n0d * F.col("q0").cast("double")
        - F.col("s0").cast("double") * F.col("s0").cast("double")
    ) / (n0d * n0d * (n0d - 1))
    v1 = (
        n1d * F.col("q1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / (n1d * n1d * (n1d - 1))
    z = (
        F.col("s1").cast("double") / n1d
        - F.col("s0").cast("double") / n0d
    ) / F.sqrt(v0 + v1)
    return cells.select(
        "n0",
        "n1",
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > 1.96).alias("significant"),
    )


ORACLE_STREAM_AB = """
sab_cells AS (
  SELECT CAST(user_id % 2 AS INT) AS variant,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS s,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)
                  * CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS q
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
sab_m AS (
  SELECT CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN variant = 0 THEN s END) AS BIGINT) AS s0,
         CAST(sum(CASE WHEN variant = 0 THEN q END) AS BIGINT) AS q0,
         CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN variant = 1 THEN s END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN variant = 1 THEN q END) AS BIGINT) AS q1
  FROM sab_cells
),
stream_ab_monitor AS (
  SELECT n0, n1,
         round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
               / sqrt((CAST(n0 AS DOUBLE) * CAST(q0 AS DOUBLE)
                       - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
                      / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)
                         * (CAST(n0 AS DOUBLE) - 1))
                      + (CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                        / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                           * (CAST(n1 AS DOUBLE) - 1))), 6) AS z,
         abs(round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
               / sqrt((CAST(n0 AS DOUBLE) * CAST(q0 AS DOUBLE)
                       - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
                      / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)
                         * (CAST(n0 AS DOUBLE) - 1))
                      + (CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                        / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                           * (CAST(n1 AS DOUBLE) - 1))), 6)) > 1.96
           AS significant
  FROM sab_m
)
"""


def run_stream_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Wald SPRT: the sequential test whose state is the
    minimal mergeable pair (n, s) — each micro-batch adds its trial
    and success counts to a 1-row standing state, and the cumulative
    log-likelihood ratio after the final batch equals the batch
    `events_sprt` monitor's last day bit-for-bit (same
    Python-injected ln constants, same integer counts). SPRT is the
    canonical STREAMING test — it was designed to be decided
    mid-stream — so this is the batch==stream duality check the
    repo's stream family runs, applied to the sequential-testing
    ladder.

    Per batch: one batch-sized conditional count agg + a 1-row merge
    overwrite (addition is associative; idempotent per batch id).

    Output (1 row): n_trials, n_success, llr, decision.
    """
    from big_data_instacart_market_basket_analysis_spark.operators.temporal import (
        SPRT_L0,
        SPRT_L1,
        SPRT_LOWER,
        SPRT_UPPER,
    )

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = batch_df.agg(
            F.count("*").alias("n"), F.sum("y").alias("s")
        )
        if prev is not None:
            part = prev.unionByName(part)
        return part.agg(F.sum("n").alias("n"), F.sum("s").alias("s"))

    st = _fold(
        spark,
        sf_dir,
        "sprt",
        lambda: load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            (F.col("event_type") == "purchase").cast("int").alias("y")
        ),
        step,
    )
    llr = F.col("s") * F.lit(SPRT_L1) + (
        F.col("n") - F.col("s")
    ) * F.lit(SPRT_L0)
    return st.select(
        F.col("n").alias("n_trials"),
        F.col("s").alias("n_success"),
        F.round(llr, 6).alias("llr"),
        F.when(llr >= F.lit(SPRT_UPPER), F.lit("accept_h1"))
        .when(llr <= F.lit(SPRT_LOWER), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


def _oracle_stream_sprt() -> str:
    from big_data_instacart_market_basket_analysis_spark.operators.temporal import (
        SPRT_L0,
        SPRT_L1,
        SPRT_LOWER,
        SPRT_UPPER,
    )

    return f"""
ssp_a AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                  END) AS BIGINT) AS s
  FROM events WHERE event_type IN ('click', 'purchase')
),
stream_sprt AS (
  SELECT n AS n_trials, s AS n_success,
         round(s * CAST({SPRT_L1!r} AS DOUBLE)
               + (n - s) * CAST({SPRT_L0!r} AS DOUBLE), 6) AS llr,
         CASE WHEN s * CAST({SPRT_L1!r} AS DOUBLE)
                   + (n - s) * CAST({SPRT_L0!r} AS DOUBLE)
                   >= CAST({SPRT_UPPER!r} AS DOUBLE)
              THEN 'accept_h1'
              WHEN s * CAST({SPRT_L1!r} AS DOUBLE)
                   + (n - s) * CAST({SPRT_L0!r} AS DOUBLE)
                   <= CAST({SPRT_LOWER!r} AS DOUBLE)
              THEN 'accept_h0'
              ELSE 'continue' END AS decision
  FROM ssp_a
)
"""


ORACLE_STREAM_SPRT = _oracle_stream_sprt()


def run_stream_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming extreme-value monitor: the Gumbel block-maxima fit
    (``events_gumbel``) with its state kept as the ADDITIVE hour-grain
    revenue table — hourly sums split across micro-batches merge by
    plain addition (a max-of-partial-hours state would be WRONG:
    max(partial, partial) != max(full); keeping state one grain finer
    than the block makes the merge exact), and the daily-max + method
    -of-moments tail runs once on the final standing table, equal to
    the batch answer bit-for-bit.

    Per batch: one batch-sized hour agg + a calendar-bounded state
    merge. The merge is ADDITIVE (not idempotent): it relies on the
    exactly-once batch delivery a single ``processAllAvailable`` run
    of a file-source checkpointed query guarantees — under an
    at-least-once replay a re-delivered batch would double-count, so
    a production deployment would key per-batch partials by
    ``batch_id`` and aggregate on read. State: hours-in-calendar rows
    at ANY corpus scale.

    Output (1 row): n_blocks, mean_max_cents, sd_max_cents, beta, mu,
    ret30_cents.
    """
    from big_data_instacart_market_basket_analysis_spark.operators.temporal import (
        gumbel_from_hourly,
    )

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = batch_df.groupBy("h").agg(F.sum("c").alias("rev"))
        if prev is not None:
            part = prev.unionByName(part)
        return part.groupBy("h").agg(F.sum("rev").alias("rev"))

    hourly = _fold(
        spark,
        sf_dir,
        "extremes",
        lambda: load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("hour", "ts").alias("h"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        ),
        step,
    )
    return gumbel_from_hourly(hourly)


def run_stream_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming p-chart: the daily error-rate control chart
    (``events_pchart``) with its state kept as the ADDITIVE day-grain
    (n_events, n_errors) pair table — counts split across
    micro-batches merge by plain addition, and the center line /
    3-sigma limits / flags run once on the final standing table,
    equal to the batch chart bit-for-bit (the stream==batch duality
    every stream op here is held to).

    Per batch: one batch-sized day agg + a calendar-bounded additive
    state merge (same exactly-once caveat as ``run_stream_extremes``:
    a production deployment keys partials by batch_id). State:
    days-in-calendar rows at ANY corpus scale.

    Output: the batch p-chart columns (day, n_events, n_errors, p,
    ucl, lcl, out_of_control).
    """
    from big_data_instacart_market_basket_analysis_spark.operators.temporal import (
        pchart_from_daily,
    )

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = batch_df.groupBy("day").agg(
            F.count("*").alias("n"), F.sum("err").alias("e")
        )
        if prev is not None:
            part = prev.unionByName(part)
        return part.groupBy("day").agg(
            F.sum("n").alias("n"), F.sum("e").alias("e")
        )

    daily = _fold(
        spark,
        sf_dir,
        "pchart",
        lambda: load_table(spark, sf_dir, "events").select(
            F.to_date("ts").alias("day"),
            (F.col("event_type") == "error").cast("bigint").alias("err"),
        ),
        step,
    )
    return pchart_from_daily(daily)


# ---------------------------------------------------------------------------
# streaming HBOS anomaly alerts against a static model (round 8)
# ---------------------------------------------------------------------------

#: alert threshold on the HBOS score — the ~99th percentile of the
#: fixture score distribution; the score is a sum of -ln(bin
#: probability) terms, so its distribution stabilizes as N grows and a
#: fixed literal stays scale-meaningful.
HBOS_ALERT_MIN = 10.0


def run_stream_hbos_alerts(
    spark: SparkSession, sf_dir: str, name: str = "stream_hbos"
) -> DataFrame:
    """Streaming anomaly alerts: score each micro-batch event against
    a STATIC HBOS model (the hour/dow/value-octave histograms of
    ``events_hbos_outliers``, trained batch-side — the "train on
    yesterday, score the live stream" model-apply pattern) and emit
    only events whose score crosses the alert threshold.

    Stateless like the enrich query (the model rides in as three
    broadcast-hash dims inside every micro-batch; nothing
    accumulates), so over a bounded input the alert stream equals the
    batch filter — the oracle. In production the model DataFrames are
    re-resolved at each micro-batch replan, which is exactly how a
    nightly-refreshed model serves a live scorer. The score is one ln
    of an exact integer per event (see the batch twin), so the stream
    and the oracle agree bit-for-bit.
    """
    batch = load_table(spark, sf_dir, "events")

    def _feats(df: DataFrame) -> DataFrame:
        c = F.round(F.col("value") * 100, 0).cast("bigint")
        voct = (
            F.when(c >= 0, F.floor(F.log2(c + 1)))
            .otherwise(-1 - F.floor(F.log2(-c)))
            .cast("bigint")
        )
        return df.filter(F.col("value").isNotNull()).select(
            "event_id",
            "user_id",
            F.hour("ts").alias("hour"),
            F.dayofweek("ts").alias("dow"),
            voct.alias("voct"),
        )

    model = _feats(batch)
    hh = model.groupBy("hour").agg(F.count("*").alias("n_h"))
    dd = model.groupBy("dow").agg(F.count("*").alias("n_d"))
    vv = model.groupBy("voct").agg(F.count("*").alias("n_v"))
    tot = model.agg(F.count("*").alias("n"))
    score = F.round(
        3 * F.log(F.col("n").cast("double"))
        - F.log(
            (F.col("n_h") * F.col("n_d") * F.col("n_v")).cast("double")
        ),
        6,
    )
    alerts = (
        _feats(_event_stream(spark, sf_dir))
        .join(F.broadcast(hh), "hour")
        .join(F.broadcast(dd), "dow")
        .join(F.broadcast(vv), "voct")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_id", "user_id", "hour", "dow", "voct",
            score.alias("score"),
        )
        .filter(F.col("score") > HBOS_ALERT_MIN)
    )
    _drain(
        spark,
        alerts.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
    )
    return spark.table(name)


ORACLE_STREAM_HBOS = f"""
sh_base AS (
  SELECT event_id, user_id,
         hour(ts) AS hour, dayofweek(ts) + 1 AS dow,
         CASE WHEN CAST(round(value * 100, 0) AS BIGINT) >= 0
              THEN CAST(floor(log2(CAST(round(value * 100, 0)
                                        AS BIGINT) + 1)) AS BIGINT)
              ELSE CAST(-1 - floor(log2(-CAST(round(value * 100, 0)
                                              AS BIGINT))) AS BIGINT)
         END AS voct
  FROM events WHERE value IS NOT NULL
),
sh_h AS (SELECT hour, CAST(count(*) AS BIGINT) AS n_h
         FROM sh_base GROUP BY 1),
sh_d AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_d
         FROM sh_base GROUP BY 1),
sh_v AS (SELECT voct, CAST(count(*) AS BIGINT) AS n_v
         FROM sh_base GROUP BY 1),
sh_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sh_base),
stream_hbos_alerts AS (
  SELECT b.event_id, b.user_id, b.hour, b.dow, b.voct,
         round(3 * ln(CAST(n.n AS DOUBLE))
               - ln(CAST(h.n_h * d.n_d * v.n_v AS DOUBLE)), 6)
           AS score
  FROM sh_base b
  JOIN sh_h h USING (hour) JOIN sh_d d USING (dow)
  JOIN sh_v v USING (voct) CROSS JOIN sh_n n
  WHERE round(3 * ln(CAST(n.n AS DOUBLE))
              - ln(CAST(h.n_h * d.n_d * v.n_v AS DOUBLE)), 6)
        > {HBOS_ALERT_MIN}
)
"""
