"""[EXT] Arrow-batched GROUPED_AGG pandas UDF — the custom-aggregate
cell of the UDF surface matrix (scalar pandas UDF: similarity.
cosine_pandas_udf; UDTF: textstats.chunk_documents_udtf; mapInPandas:
multimodal; applyInPandasWithState / transformWithState: streaming).

The demo aggregate is deliberately one a native expression can also
compute, so the UDF path is hash-pinned against the engine's own
native twin AND the DuckDB oracle — proving the Arrow grouped-agg
transport is lossless, which is the property that matters before
putting a genuinely-custom reducer (a model update, an exotic sketch)
on this path. Per the repo design rules the native form is what the
hot path uses; this module exists to keep the custom-aggregate escape
hatch exercised and tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def grouped_agg_spend(events: DataFrame) -> DataFrame:
    """Per-type value stats where the mean comes from a GROUPED_AGG
    pandas UDF (Arrow-batched per-group reduction) next to the native
    aggregate — both rounded(6), required identical. Scale: grouped-
    agg UDFs get partial aggregation disabled (all group rows ship to
    one executor batch), so the native twin is the 100 TB path; the
    UDF path is for reducers SQL cannot express, on bounded groups.
    Output: event_type, n, mean_udf, mean_native.
    """
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # defined annotation-free: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf's signature inference
    # rejects (same workaround as similarity.cosine_pandas_udf)
    def _mean_impl(v):
        return float(v.sum() / v.count())

    _mean = pandas_udf("double", PandasUDFType.GROUPED_AGG)(_mean_impl)

    base = events.filter(F.col("value").isNotNull())
    # Spark forbids mixing grouped-agg pandas UDFs with native
    # aggregates in one agg() — compute the two paths separately and
    # join on the group key (both are |types|-row tables)
    udf_side = base.groupBy("event_type").agg(
        F.round(_mean("value"), 6).alias("mean_udf")
    )
    native = base.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.round(F.sum("value") / F.count("value"), 6).alias(
            "mean_native"
        ),
    )
    return native.join(udf_side, "event_type").select(
        "event_type", "n", "mean_udf", "mean_native"
    )


ORACLE_GROUPED_AGG = """
grouped_agg_spend AS (
  SELECT event_type, CAST(count(value) AS BIGINT) AS n,
         round(sum(value) / count(value), 6) AS mean_udf,
         round(sum(value) / count(value), 6) AS mean_native
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# grouped-map applyInPandas (per-user trend slope), oracle-checked
# ---------------------------------------------------------------------------


def grouped_map_slope(events: DataFrame) -> DataFrame:
    """Per-user spend trend via the GROUPED-MAP Arrow path
    (``applyInPandas``): each user's purchase cents regressed on the
    within-user event index, slope computed in a pandas batch — the
    grouped-map member of the engine's pandas-interop family
    (scalar pandas_udf: cosine; grouped-agg: mean twin; map:
    multimodal; stateful: streaming counter). The regression inputs
    are EXACT integers prepared by Spark (row-number index, cents),
    so the pandas float math is one deterministic closed form and the
    whole operator hash-matches a DuckDB moment oracle — proving the
    Arrow boundary loses nothing.

    Scale: grouped-map ships each user's rows to one executor batch —
    fine for user-bounded groups; the moment-based SQL twin (the
    oracle body) is the plan for unbounded groups.

    Output per user (n >= 3 purchases): user_id, n, slope.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # r10 (guide §2.5/§4): the window/grouped-map shuffle AQE-coalesced
    # to ONE partition, so all ~1.5k per-group Python calls ran on one
    # core. An explicit-width hash exchange on the group key BEFORE the
    # window satisfies the required distribution of both the window and
    # applyInPandas (no further exchange, and AQE never coalesces a
    # user-specified width), spreading the Python workers across the
    # executor pool.
    base = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .repartition(
            events.sparkSession.sparkContext.defaultParallelism,
            "user_id",
        )
        .withColumn("idx", F.row_number().over(w))
        .select("user_id", "idx", "c")
    )

    def _slope(pdf):
        import pandas as pd

        n = len(pdf)
        # total over every group: a user with fewer than 3 purchases
        # gets no row (for n = 1 the denominator below is 0)
        if n < 3:
            return pd.DataFrame()
        x = pdf["idx"].astype("int64")
        y = pdf["c"].astype("int64")
        sx, sy = int(x.sum()), int(y.sum())
        sxy = int((x * y).sum())
        sxx = int((x * x).sum())
        num = float(n * sxy - sx * sy)
        den = float(n * sxx - sx * sx)
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n": [n],
                # raw value: rounding happens ENGINE-side below so
                # Python's banker's rounding never enters the hash
                "slope": [num / den],
            }
        )

    return (
        base.groupBy("user_id")
        .applyInPandas(
            _slope, schema="user_id bigint, n bigint, slope double"
        )
        .select("user_id", "n", F.round("slope", 6).alias("slope"))
    )


ORACLE_GROUPED_MAP_SLOPE = """
gm_base AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT)
           AS idx,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
),
gm_m AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(idx) AS BIGINT) AS sx,
         CAST(sum(c) AS BIGINT) AS sy,
         CAST(sum(idx * c) AS BIGINT) AS sxy,
         CAST(sum(idx * idx) AS BIGINT) AS sxx
  FROM gm_base GROUP BY 1
),
grouped_map_slope AS (
  SELECT user_id, n,
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope
  FROM gm_m WHERE n >= 3
)
"""
