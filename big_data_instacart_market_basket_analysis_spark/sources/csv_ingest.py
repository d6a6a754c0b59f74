"""Instacart-format CSV ingest (reference parity path; SURVEY.md §2a).

Replaces the reference's RDD ingest (F.py:16-30) one-for-one with
DataFrame reads — header strip (S2) becomes ``header=True``; per-row
``int()`` lambdas (S3) become read-time schemas; the products
malformed-row drop (S4) keeps ``mode=DROPMALFORMED``; the eval_set enum
encode (S5) and days_since null default (S6) become Catalyst
expressions. Zero Python UDFs, so the scan stays inside whole-stage
codegen and the CSV parse is JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators._staging import stage as _stage
from .schemas import INSTACART_SCHEMAS

# eval_set enum encoding, F.py:26: prior->0, train->1, test->2.
EVAL_PRIOR, EVAL_TRAIN, EVAL_TEST = 0, 1, 2


def encode_eval_set(col: F.Column) -> F.Column:
    """S5 (F.py:26): ``0 if eval_set=="prior" else 1 if =="train" else 2``."""
    return (
        F.when(col == "prior", F.lit(EVAL_PRIOR))
        .when(col == "train", F.lit(EVAL_TRAIN))
        .otherwise(F.lit(EVAL_TEST))
    )


def read_order_products(spark: SparkSession, path: str) -> DataFrame:
    """S1-S3 (F.py:16-22): order_products__{prior,train}.csv."""
    return spark.read.csv(
        path, schema=INSTACART_SCHEMAS["order_products"], header=True
    )


def read_orders(spark: SparkSession, path: str) -> DataFrame:
    """S1-S3 + S5 + S6 (F.py:24-26): orders.csv with enum + null default."""
    raw = spark.read.csv(path, schema=INSTACART_SCHEMAS["orders"], header=True)
    return raw.select(
        "orderID",
        "userID",
        encode_eval_set(F.col("eval_set")).alias("eval_set"),
        "order_number",
        "order_dow",
        "order_hod",
        # F.py:26: "" -> 0; try_cast is null for "" on ANSI and
        # non-ANSI sessions alike (the driver's session is stock).
        F.coalesce(
            F.expr("try_cast(days_since AS INT)"), F.lit(0)
        ).alias("days_since"),
    )


EVAL_NAMES = {EVAL_PRIOR: "prior", EVAL_TRAIN: "train", EVAL_TEST: "test"}


def orders_csv_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    tmp_base: str | None = None,
) -> DataFrame:
    """S1-S6 on the reference's REAL input format: render the orders
    view as an Instacart-style orders.csv (eval_set as the prior/train/
    test strings, first-order days_since as an empty field), then
    re-ingest it through ``read_orders``. Lossless by construction, so
    the result must hash-equal the parquet-derived orders view — which
    makes the CSV parse rules (header strip, typed read, enum encode,
    ""->0 default) oracle-checkable against the same ``iorders`` CTE.

    The write is a distributed ``df.write.csv`` (each partition writes
    its own part file — the same code shape a cluster export uses).
    It runs once per (session, sf_dir), as do the other ingest
    round-trips: the write is idempotent, but re-writing under a
    returned lazy reader would be a read/overwrite hazard.
    """
    return _stage(
        "csv_roundtrip", spark,
        lambda: _csv_roundtrip(spark, sf_dir, tmp_base),
        sf_dir, checkpoint=False,
    )


def _csv_roundtrip(
    spark: SparkSession, sf_dir: str, tmp_base: str | None
) -> DataFrame:
    from ..plans.instacart import instacart_tables

    orders = instacart_tables(spark, sf_dir).orders
    eval_name = (
        F.when(F.col("eval_set") == EVAL_PRIOR, F.lit(EVAL_NAMES[EVAL_PRIOR]))
        .when(F.col("eval_set") == EVAL_TRAIN, F.lit(EVAL_NAMES[EVAL_TRAIN]))
        .otherwise(F.lit(EVAL_NAMES[EVAL_TEST]))
    )
    out = orders.select(
        "orderID",
        "userID",
        eval_name.alias("eval_set"),
        "order_number",
        "order_dow",
        "order_hod",
        # exercise the ""->0 rule: zero gaps (first orders) become empty
        # CSV fields, which the reader must default back to 0.
        F.when(F.col("days_since") == 0, F.lit(None).cast("string"))
        .otherwise(F.col("days_since").cast("string"))
        .alias("days_since"),
    )
    from ._scratch import roundtrip_path

    path = roundtrip_path(spark, "csv", sf_dir, "orders", tmp_base)
    out.write.mode("overwrite").option("header", True).csv(path)
    return read_orders(spark, path)


def read_products(spark: SparkSession, path: str) -> DataFrame:
    """S4 + P1 (F.py:28-30): malformed-row drop, product-name column pruned."""
    return spark.read.csv(
        path,
        schema=INSTACART_SCHEMAS["products"],
        header=True,
        mode="DROPMALFORMED",
    ).select("productID", "aisle_id", "dep_id")
