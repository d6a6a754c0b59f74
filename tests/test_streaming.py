"""Streaming shape tests: batch/stream duality, watermarked append,
session windows, custom stateful operator, and the one stream driver
(``_drain``/``_fold``/``_stream_root``)."""

from __future__ import annotations

import ast
import tempfile
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
    load_table,
)
from big_data_instacart_market_basket_analysis_spark.streaming import (
    events as ev,
)
from big_data_instacart_market_basket_analysis_spark.streaming import (
    stateful as st,
)
from tests.conftest import SF_SMOKE


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_tumbling_equals_batch(spark):
    batch = ev.tumbling_hourly(load_table(spark, SF_SMOKE, "events"))
    stream = ev.run_stream_tumbling(spark, SF_SMOKE, name="t_tumb_eq")
    cols = ["window_start_ms", "event_type", "n_events", "sum_value"]
    assert _rows(batch, *cols) == _rows(stream, *cols)


def test_watermark_append_emits_closed_windows(spark):
    out = ev.run_stream_windowed_watermark(spark, SF_SMOKE, name="t_wm")
    batch_windows = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .count()
        .count()
    )
    emitted = out.select("window_start_ms").distinct().count()
    # append emits only watermark-closed windows: all but the trailing
    # open ones, and nothing more.
    assert 0 < emitted <= batch_windows
    assert emitted >= batch_windows - 2


def test_session_window_total_events_preserved(spark):
    out = ev.run_stream_session_window(spark, SF_SMOKE, name="t_sess")
    n_events = load_table(spark, SF_SMOKE, "events").count()
    emitted = out.agg(F.sum("n_events")).first()[0] or 0
    # closed sessions partition their events; only watermark-open tail
    # sessions may be withheld.
    assert emitted <= n_events
    assert emitted > 0


def test_stateful_counts_match_groupby(spark):
    out = st.run_stream_stateful_counts(spark, SF_SMOKE, name="t_state")
    expected = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    assert _rows(out, "user_id", "n_events") == _rows(
        expected, "user_id", "n_events"
    )


def test_sessionize_batch_invariants(spark):
    events = load_table(spark, SF_SMOKE, "events")
    sess = ev.sessionize(events)
    # sessions partition all events exactly
    assert sess.agg(F.sum("n_events")).first()[0] == events.count()
    # no negative durations
    assert sess.filter(F.col("duration_ms") < 0).count() == 0


def test_stream_interval_join_matches_batch(spark):
    """Inner stream-stream interval join over bounded input must equal
    the batch inequality join with the same condition."""
    out = ev.run_stream_interval_join(spark, SF_SMOKE, name="t_ssj")
    events = load_table(spark, SF_SMOKE, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        "user_id",
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("p_user_id"),
    )
    batch = purchases.join(
        clicks,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {ev.JOIN_LOOKBACK_MIN} MINUTES")
        ),
    )
    assert _rows(out, "purchase_id", "click_id") == _rows(
        batch, "purchase_id", "click_id"
    )


def test_stream_interval_join_outer_equals_batch_left_join(spark):
    """With the far-future sentinel forcing full state eviction, the
    left-outer stream-stream join over bounded input must equal the
    batch LEFT join exactly: inner matches identical, and EVERY
    unmatched purchase emits exactly one null-extended row."""
    inner = ev.run_stream_interval_join(spark, SF_SMOKE, name="t_ssj_i")
    outer = ev.run_stream_interval_join_outer(
        spark, SF_SMOKE, name="t_ssj_o"
    )
    inner_pairs = set(_rows(inner, "purchase_id", "click_id"))
    matched = {
        (r["purchase_id"], r["click_id"])
        for r in outer.filter(F.col("click_id").isNotNull()).collect()
    }
    assert matched == inner_pairs
    events = load_table(spark, SF_SMOKE, "events")
    all_purchases = {
        r["event_id"]
        for r in events.filter(
            F.col("event_type") == "purchase"
        ).collect()
    }
    null_purchases = sorted(
        r["purchase_id"]
        for r in outer.filter(F.col("click_id").isNull()).collect()
    )
    # nulls = exactly the purchases with no inner match, each once
    expected_nulls = all_purchases - {p for p, _ in inner_pairs}
    assert null_purchases == sorted(expected_nulls)


@pytest.mark.skipif(
    not st.tws_available(),
    reason="transformWithState v2 needs protobuf (absent in this env); "
    "plumbing is complete and the v1 stateful path is oracle-checked",
)
def test_tws_spend_matches_groupby(spark):
    out = st.run_stream_tws_spend(spark, SF_SMOKE, name="t_tws")
    events = load_table(spark, SF_SMOKE, "events")
    batch = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 1000).cast("bigint")).alias(
            "sum_value_millis"
        ),
        F.max(F.floor(F.col("value") * 1000).cast("bigint")).alias(
            "max_value_millis"
        ),
    )
    assert _rows(out, "user_id", "n_events", "sum_value_millis") == _rows(
        batch, "user_id", "n_events", "sum_value_millis"
    )


def test_tws_processor_logic_local():
    """The v2 processor's state math, exercised without Spark: feed
    pandas batches through handleInputRows with a fake ValueState and
    check the running aggregate (keeps the blocked operator's logic
    covered in this environment)."""
    import pandas as pd

    proc = st._make_spend_processor()

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    class FakeHandle:
        def getValueState(self, name, schema, ttlDurationMs=None):
            return FakeState()

    proc.init(FakeHandle())
    out1 = list(
        proc.handleInputRows(
            (7,), iter([pd.DataFrame({"value": [1.25, 2.5]})])
        )
    )[0]
    assert out1.loc[0, "n_events"] == 2
    assert out1.loc[0, "sum_value_millis"] == 1250 + 2500
    out2 = list(
        proc.handleInputRows((7,), iter([pd.DataFrame({"value": [0.5]})]))
    )[0]
    assert out2.loc[0, "n_events"] == 3
    assert out2.loc[0, "sum_value_millis"] == 4250
    assert out2.loc[0, "max_value_millis"] == 2500


def test_available_now_trigger_terminates(spark):
    """Trigger.AvailableNow: process everything currently available in
    bounded micro-batches, then stop on its own — the batch-backfill
    trigger for streaming pipelines (no processAllAvailable babysitting)."""
    stream = ev._event_stream(spark, SF_SMOKE)
    q = (
        stream.groupBy("event_type")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_avnow")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {r.event_type: r["count"] for r in spark.table("t_avnow").collect()}
    events = load_table(spark, SF_SMOKE, "events")
    want = {
        r.event_type: r["count"]
        for r in events.groupBy("event_type").count().collect()
    }
    assert got == want


def test_stream_roots_live_under_scratch_root(spark, monkeypatch):
    """Checkpoints and file sinks go under the per-application scratch
    root, never a driver-local temp dir; each call gets its own root,
    so a second checkpoint/restart run in the session starts clean."""

    def no_tempdir(*args, **kwargs):
        raise AssertionError("stream asked for a driver-local temp dir")

    monkeypatch.setattr(tempfile, "mkdtemp", no_tempdir)
    assert ev.run_stream_sprt(spark, SF_SMOKE).count() == 1
    first = _rows(ev.run_stream_checkpoint_restart(spark, SF_SMOKE), "*")
    again = _rows(ev.run_stream_checkpoint_restart(spark, SF_SMOKE), "*")
    assert first and first == again


def _owners(match) -> list[str]:
    """Top-level definition enclosing each AST node that ``match``es,
    over every streaming module."""
    found = []
    for path in sorted(Path(ev.__file__).parent.glob("*.py")):
        for top in ast.parse(path.read_text()).body:
            found += [
                getattr(top, "name", "<module>")
                for node in ast.walk(top) if match(node)
            ]
    return found


def _attr(name):
    return lambda n: isinstance(n, ast.Attribute) and n.attr == name


def test_one_stream_driver():
    """Only ``_drain`` starts, drains and stops a query and touches the
    shuffle-partition setting; only ``_fold`` and the two sinks that
    write files per micro-batch use foreachBatch."""
    conf_key = "spark.sql.shuffle.partitions"
    assert _owners(_attr("processAllAvailable")) == ["_drain"]
    assert _owners(_attr("start")) == ["_drain"]
    assert set(
        _owners(lambda n: isinstance(n, ast.Constant) and n.value == conf_key)
    ) == {"_drain"}
    assert sorted(_owners(_attr("foreachBatch"))) == [
        "_fold", "run_stream_merge_state", "run_stream_partitioned_sink",
    ]
    for path in Path(ev.__file__).parent.glob("*.py"):
        text = path.read_text()
        for gone in ("tempfile", "_PingPong", "_ORIG_SHUFFLE_PARTS",
                     "_tune_stream_session", "_restore_stream_session"):
            assert gone not in text, (path.name, gone)
