"""Explicit read-time schemas.

The reference imposes types via ``int()`` casts inside map lambdas
(F.py:16-30); here every reader is given its schema, so none infers one
and Catalyst can prune columns at the scan (SURVEY.md §1 "Spark
mapping"): CSV sources from the ``StructType`` declared below, parquet
tables from their own footers.

Two schema families:

- ``FIXTURE_SCHEMAS``: the driver's synthetic TPC-H-ish parquet tables
  (FIXTURES.md §B). They are documentation, not reader input: the
  reader's schema is each file's own footer, which
  ``loaders.read_parquet`` reads on the driver and passes to the
  reader, so no read infers one in a Spark job, and a file whose
  encoding differs from these (the events ``ts`` column has shipped
  as two) is read as it is.
- ``INSTACART_SCHEMAS``: the reference's four CSV inputs (FIXTURES.md §A)
  for the format-parity ingest path (csv_ingest.py).
"""

from __future__ import annotations

from pyspark.sql import types as T


def _struct(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


FIXTURE_SCHEMAS: dict[str, T.StructType] = {
    "region": _struct(
        ("r_regionkey", T.IntegerType()), ("r_name", T.StringType())
    ),
    "nation": _struct(
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ),
    "customer": _struct(
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ),
    "supplier": _struct(
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ),
    "part": _struct(
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ),
    "orders": _struct(
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        ("o_orderdate", T.TimestampType()),
        ("o_orderpriority", T.StringType()),
    ),
    "lineitem": _struct(
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampType()),
    ),
    "events": _struct(
        ("event_id", T.LongType()),
        ("ts", T.TimestampType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ),
    "documents": _struct(
        ("doc_id", T.LongType()),
        ("text", T.StringType()),
        ("lang", T.StringType()),
        ("source", T.StringType()),
        ("n_chars", T.LongType()),
    ),
    "embeddings": _struct(
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", T.IntegerType()),
    ),
}


# Instacart CSV layout (F.py:16-30); ``days_since`` stays a string at read
# time because the reference maps "" -> 0 (F.py:26) — the cast happens in
# csv_ingest.read_orders so malformed rows surface the same way.
INSTACART_SCHEMAS: dict[str, T.StructType] = {
    "order_products": _struct(
        ("orderID", T.IntegerType()),
        ("productID", T.IntegerType()),
        ("cart_order", T.IntegerType()),
        ("reordered", T.IntegerType()),
    ),
    "orders": _struct(
        ("orderID", T.IntegerType()),
        ("userID", T.IntegerType()),
        ("eval_set", T.StringType()),
        ("order_number", T.IntegerType()),
        ("order_dow", T.IntegerType()),
        ("order_hod", T.IntegerType()),
        ("days_since", T.StringType()),
    ),
    "products": _struct(
        ("productID", T.IntegerType()),
        ("product_name", T.StringType()),
        ("aisle_id", T.IntegerType()),
        ("dep_id", T.IntegerType()),
    ),
}
