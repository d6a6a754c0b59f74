"""Round-9 regression pins: the r8 verdict tasks and ADVICE items.

- scratch-dir portability (verdict task 4 + ADVICE 1): the ingest
  round-trips resolve a per-application staging dir from session conf
  / warehouse dir instead of a hard-coded driver-local /tmp path, so
  concurrent drivers can never overwrite files under each other's
  lazily-evaluated cached readers.
- baseline-round cap (ADVICE 2): the bench/boardtail diff gates never
  pick the CURRENT round's committed snapshot as their own baseline —
  the newest CORRECTNESS_r{N}.json marks the last completed round and
  caps baseline discovery.
- yuen empty-group guard (ADVICE 3): with one group absent both
  engines emit zero rows (the pivot's half-populated NULL row is
  dropped).
- staging keep-2 eviction (ADVICE 4): two inputs used in alternation
  stay warm; only the third-oldest generation is evicted.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

import bench
from big_data_instacart_market_basket_analysis_spark.operators import (
    _staging,
    temporal,
)
from big_data_instacart_market_basket_analysis_spark.sources._scratch import (
    SCRATCH_CONF,
    roundtrip_path,
    scratch_dir,
)


# ----------------------------------------------------------------- scratch


def test_scratch_dir_honors_conf_and_app_id(spark):
    old = None
    try:
        old = spark.conf.get(SCRATCH_CONF, None)
    except Exception:
        pass
    try:
        spark.conf.set(SCRATCH_CONF, "/somewhere/staging")
        p = scratch_dir(spark, "orc", "/root/testdata/sf0.001")
        app_id = spark.sparkContext.applicationId
        assert p == (
            f"/somewhere/staging/{app_id}/orc/root_testdata_sf0.001"
        )
    finally:
        if old is not None:
            spark.conf.set(SCRATCH_CONF, old)
        else:
            spark.conf.unset(SCRATCH_CONF)


def test_scratch_dir_defaults_under_warehouse(spark):
    try:
        spark.conf.unset(SCRATCH_CONF)
    except Exception:
        pass
    p = scratch_dir(spark, "csv", "/root/testdata/sf0.001")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    assert p.startswith(f"{wh.rstrip('/')}/_ingest_scratch/")
    assert spark.sparkContext.applicationId in p
    assert not p.startswith("/tmp/")


def test_roundtrip_path_explicit_base_keeps_legacy_layout(spark):
    p = roundtrip_path(
        spark, "json", "/root/testdata/sf0.001", "events", "/x/y"
    )
    assert p == "/x/y/root_testdata_sf0.001/events"


def test_no_literal_tmp_in_ingest_modules():
    import big_data_instacart_market_basket_analysis_spark.sources as srcs

    root = os.path.dirname(os.path.abspath(srcs.__file__))
    for mod in (
        "csv_ingest.py",
        "json_ingest.py",
        "text_ingest.py",
        "xml_ingest.py",
        "orc_ingest.py",
        "pydatasource.py",
    ):
        body = open(os.path.join(root, mod)).read()
        assert "/tmp/" not in body, f"{mod} still hard-codes /tmp"


# ---------------------------------------------------------- baseline cap


def test_latest_round_file_respects_cap(tmp_path):
    for n in (7, 8, 9):
        (tmp_path / f"DRIVERSIM_r0{n}.json").write_text("{}")
    pat = str(tmp_path / "DRIVERSIM_r*.json")
    assert bench._latest_round_file(pat).endswith("r09.json")
    assert bench._latest_round_file(pat, max_round=8).endswith("r08.json")
    assert bench._latest_round_file(pat, max_round=6) is None


def test_baseline_round_cap_matches_latest_correctness():
    here = os.path.dirname(os.path.abspath(bench.__file__))
    rounds = [
        int(f[len("CORRECTNESS_r"):-len(".json")])
        for f in os.listdir(here)
        if f.startswith("CORRECTNESS_r") and f.endswith(".json")
    ]
    assert bench._baseline_round_cap() == (max(rounds) if rounds else None)


def test_boardtail_baseline_excludes_uncompleted_rounds():
    """The discovered DRIVERSIM baseline round never exceeds the last
    completed (CORRECTNESS-stamped) round — the self-diff trap."""
    cap = bench._baseline_round_cap()
    assert cap is not None
    here = os.path.dirname(os.path.abspath(bench.__file__))
    p = bench._latest_round_file(
        os.path.join(here, "DRIVERSIM_r*.json"), max_round=cap
    )
    assert p is not None
    import re

    assert int(re.search(r"_r(\d+)\.json$", p).group(1)) <= cap


# ------------------------------------------------------------------- yuen


def test_yuen_one_group_absent_emits_zero_rows(spark):
    events = spark.createDataFrame(
        [(i, "purchase", float(i)) for i in range(1, 30)],
        "event_id int, event_type string, value double",
    )
    assert temporal.yuen_trimmed_test(events).count() == 0


def test_yuen_both_groups_present_emits_one_row(spark):
    rows = [(i, "purchase", float(i % 7) + 1.0) for i in range(40)] + [
        (100 + i, "click", float(i % 5) + 3.0) for i in range(40)
    ]
    events = spark.createDataFrame(
        rows, "event_id int, event_type string, value double"
    )
    out = temporal.yuen_trimmed_test(events).collect()
    assert len(out) == 1
    assert out[0]["n1"] == 40 and out[0]["n2"] == 40


# ---------------------------------------------------------------- staging


def test_stage_keeps_two_owner_generations(spark, monkeypatch):
    monkeypatch.setattr(_staging, "_STAGED_CACHE", {})
    cache = _staging._STAGED_CACHE
    a = spark.range(3)
    b = spark.range(4)
    c = spark.range(5)
    _staging.stage("t", a, lambda: a, checkpoint=False)
    _staging.stage("t", b, lambda: b, checkpoint=False)
    # alternation: A must still be warm after B arrived
    assert ("t", id(a)) in cache and ("t", id(b)) in cache
    _staging.stage("t", c, lambda: c, checkpoint=False)
    # oldest generation (A) evicted, B + C warm
    assert ("t", id(a)) not in cache
    assert ("t", id(b)) in cache and ("t", id(c)) in cache


def test_stage_same_owner_variants_all_kept(spark, monkeypatch):
    monkeypatch.setattr(_staging, "_STAGED_CACHE", {})
    a = spark.range(3)
    for k in range(5):
        _staging.stage("t", a, lambda: a, k, checkpoint=False)
    assert len(_staging._STAGED_CACHE) == 5


# ------------------------------------------------- stream conf restore


def test_stream_queries_restore_batch_shuffle_partitions(spark):
    """Stateful streams capture the lowered shuffle-partition setting
    at .start() (Spark clones the session there); the batch session
    must get its original value back so later batch queries keep full
    reduce-side parallelism (r9)."""
    from big_data_instacart_market_basket_analysis_spark.streaming import (
        events as SE,
    )

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        df = SE.run_stream_tumbling(
            spark, "/root/testdata/sf0.001", name="restore_pin"
        )
        assert df.count() > 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
