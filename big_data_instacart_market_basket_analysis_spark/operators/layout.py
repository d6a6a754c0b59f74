"""[EXT] Data-layout operators: Z-order (Morton) clustering keys.

Multi-dimensional data skipping at 100 TB: sorting files by a Z-order
key over (user_id, time) makes min/max file statistics selective for
BOTH dimensions at once, so a `user_id = ? AND ts BETWEEN ?` scan
prunes most files — a plain sort on one column only prunes that
column. The key is a pure integer expression (bit interleave via
DIV/%/pow arithmetic, exact in doubles up to 2^31), identical in the
DuckDB oracle; the write path is `sortWithinPartitions(zkey)` ahead of
a parquet write, which costs a local sort and no extra shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._staging import cut as _cut

#: bits per dimension (16 -> 32-bit Morton key).
Z_BITS = 16
Z_MASK = (1 << Z_BITS) - 1


def _interleave_expr(x: str, y: str) -> str:
    """Morton interleave of two Z_BITS-wide nonneg ints: bit i of x
    lands at position 2i, bit i of y at 2i+1. pow(2,i)/pow(4,i) are
    exact powers of two in double, so the DIV/% arithmetic is integral
    end-to-end and engine-portable (no shift-operator dialect)."""
    return (
        f"CAST(aggregate(sequence(0, {Z_BITS - 1}), 0L, (acc, i) ->"
        f" acc + (({x} DIV CAST(pow(2, i) AS BIGINT)) % 2)"
        "        * CAST(pow(4, i) AS BIGINT)"
        f"     + (({y} DIV CAST(pow(2, i) AS BIGINT)) % 2)"
        "        * 2 * CAST(pow(4, i) AS BIGINT)) AS BIGINT)"
    )


def zorder_keys(events: DataFrame) -> DataFrame:
    """Z-order clustering key per event over (user_id, hour-of-epoch),
    both masked to 16 bits. Map-only — the key computation adds no
    shuffle; the layout win comes from sorting the write by it."""
    prepared = events.select(
        "event_id",
        (F.col("user_id") % (Z_MASK + 1)).alias("zx"),
        (
            F.floor(F.unix_millis("ts") / F.lit(3_600_000))
            % (Z_MASK + 1)
        ).alias("zy"),
    )
    return prepared.select(
        "event_id",
        "zx",
        "zy",
        F.expr(_interleave_expr("zx", "zy")).alias("zkey"),
    )


ORACLE_ZORDER_KEYS = f"""
zorder_base AS (
  SELECT event_id,
         user_id % {Z_MASK + 1} AS zx,
         CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT)
           % {Z_MASK + 1} AS zy
  FROM events
),
zorder_keys AS (
  SELECT event_id, zx, zy,
         CAST(list_sum(list_transform(range(0, {Z_BITS}), i ->
           ((zx // CAST(pow(2, i) AS BIGINT)) % 2)
             * CAST(pow(4, i) AS BIGINT)
           + ((zy // CAST(pow(2, i) AS BIGINT)) % 2)
             * 2 * CAST(pow(4, i) AS BIGINT)
         )) AS BIGINT) AS zkey
  FROM zorder_base
)
"""


def write_zordered(events: DataFrame, path: str) -> None:
    """Cluster the physical layout: local sort by zkey inside each
    partition, then parquet. File-level min/max stats become selective
    on both interleaved dimensions; no global sort (and no extra
    shuffle) is required for the skipping win."""
    keyed = events.join(zorder_keys(events).select("event_id", "zkey"),
                        "event_id")
    keyed.sortWithinPartitions("zkey").write.mode("overwrite").parquet(
        path
    )


# ---------------------------------------------------------------------------
# consistent-hash shard routing (ring with virtual nodes)
# ---------------------------------------------------------------------------

CH_SHARDS = 8
CH_VNODES = 16


def consistent_shards(docs: DataFrame) -> DataFrame:
    """Consistent-hash routing (Karger et al. 1997) of documents onto
    CH_SHARDS shards via a ring of CH_VNODES virtual points per shard
    — the placement scheme whose property plain ``pmod`` bucketing
    lacks: adding/removing a shard remaps only ~1/shards of keys, not
    all of them. The report is the per-shard balance (vnodes smooth
    the ring; fewer vnodes -> visibly skewed shards).

    Everything is md5 arithmetic, so placement is engine-exact. The
    ring is shards*vnodes rows broadcast against the corpus hash —
    one map-side join + a per-doc min; routing a 100 TB corpus costs
    one scan. Output: shard, n_docs, frac.
    """
    spark = docs.sparkSession
    ring = (
        spark.range(CH_SHARDS)
        .select(F.col("id").alias("shard"))
        .crossJoin(
            spark.range(CH_VNODES).select(F.col("id").alias("v"))
        )
        .select(
            "shard",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit("ring"),
                            F.col("shard").cast("string"),
                            F.col("v").cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("bigint").alias("point"),
        )
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("bigint")
    hashed = docs.select("doc_id", h.alias("h"))
    ring_min = ring.agg(F.min("point").alias("minp"))
    routed = (
        hashed.crossJoin(F.broadcast(ring))
        .groupBy("doc_id", "h")
        .agg(
            F.min(
                F.when(F.col("point") >= F.col("h"), F.col("point"))
            ).alias("p_ge")
        )
        .crossJoin(F.broadcast(ring_min))
        .select(
            "doc_id",
            F.coalesce("p_ge", "minp").alias("point"),
        )
        .join(F.broadcast(ring), "point")
    )
    total = docs.count()
    return (
        routed.groupBy("shard")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "shard",
            "n_docs",
            F.round(F.col("n_docs") / F.lit(float(total)), 4).alias(
                "frac"
            ),
        )
    )


ORACLE_CONSISTENT_SHARDS = f"""
ch_ring AS (
  SELECT s.shard, v.v,
         CAST(('0x' || substr(md5('ring:' || s.shard || ':' || v.v),
               1, 13)) AS BIGINT) AS point
  FROM (SELECT unnest(range(0, {CH_SHARDS})) AS shard) s
  CROSS JOIN (SELECT unnest(range(0, {CH_VNODES})) AS v) v
),
ch_docs AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
              AS BIGINT) AS h
  FROM documents
),
ch_routed AS (
  SELECT d.doc_id,
         COALESCE(min(CASE WHEN r.point >= d.h THEN r.point END),
                  (SELECT min(point) FROM ch_ring)) AS point
  FROM ch_docs d CROSS JOIN ch_ring r
  GROUP BY 1
),
consistent_shards AS (
  SELECT r.shard, CAST(count(*) AS BIGINT) AS n_docs,
         round(count(*) / CAST((SELECT count(*) FROM documents)
               AS DOUBLE), 4) AS frac
  FROM ch_routed t JOIN ch_ring r USING (point)
  GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# RLE sort-order compression advisor
# ---------------------------------------------------------------------------

def rle_layout_report(lineitem: DataFrame) -> DataFrame:
    """Sort-order compression advisor: how many RLE runs each column
    collapses to under candidate table sort orders — the number that
    decides a 100 TB table's sort-key choice (parquet RLE and
    dictionary-page efficiency are run-length driven; a
    low-cardinality leading sort key turns a column into a handful of
    runs, while insertion order leaves ~one run per value change).

    Candidate orders:
      - 'natural' : (l_orderkey, l_linenumber) — ingest order;
      - 'status'  : (l_returnflag, l_linestatus, l_orderkey,
        l_linenumber) — low-cardinality-first layout.

    Distributed run counting never builds a global sort: each order's
    leading column partitions the window (hash partition per key), so
    runs = within-partition value changes + number of partitions —
    exact for any total order whose leading key equals the partition
    key. The candidate keys are not unique in this data, so the
    measured column itself is appended as the final tiebreaker —
    rows tying on the full candidate key sort with equal values
    adjacent, making the run count well-defined (and equal to the
    best case any stable writer could achieve for that key).
    Output per (sort_order, column): n_runs, n_rows, avg_run_len
    (the compression leverage).
    """
    from pyspark.sql import Window

    total = lineitem.agg(F.count("*").alias("n_rows"))
    cols = ["l_returnflag", "l_linestatus", "l_partkey"]
    out = None
    for order_name, part_col, order_cols in (
        ("natural", "l_orderkey", ["l_linenumber"]),
        (
            "status",
            "l_returnflag",
            ["l_linestatus", "l_orderkey", "l_linenumber"],
        ),
    ):
        n_parts = lineitem.agg(
            F.countDistinct(part_col).alias("n_parts")
        )
        for c in cols:
            w = Window.partitionBy(part_col).orderBy(*order_cols, c)
            row = (
                lineitem.select(
                    F.col(c).alias("_v"), F.lag(c).over(w).alias("_prev")
                )
                .agg(
                    F.sum(
                        (
                            F.col("_prev").isNotNull()
                            & (F.col("_v") != F.col("_prev"))
                        ).cast("bigint")
                    ).alias("changes")
                )
                .crossJoin(F.broadcast(n_parts))
                .crossJoin(F.broadcast(total))
                .select(
                    F.lit(order_name).alias("sort_order"),
                    F.lit(c).alias("column"),
                    (F.col("changes") + F.col("n_parts")).alias("n_runs"),
                    "n_rows",
                    F.round(
                        F.col("n_rows")
                        / (F.col("changes") + F.col("n_parts")),
                        2,
                    ).alias("avg_run_len"),
                )
            )
            out = row if out is None else out.unionByName(row)
    return out


def oracle_rle_layout() -> str:
    cols = ["l_returnflag", "l_linestatus", "l_partkey"]
    blocks = []
    for order_name, part, order_by in (
        ("natural", "l_orderkey", "l_linenumber"),
        ("status", "l_returnflag", "l_linestatus, l_orderkey, l_linenumber"),
    ):
        for c in cols:
            blocks.append(
                f"""SELECT '{order_name}' AS sort_order, '{c}' AS column,
         (SELECT CAST(sum(CASE WHEN prev IS NOT NULL AND {c} <> prev
                               THEN 1 ELSE 0 END)
                 + count(DISTINCT {part}) AS BIGINT)
          FROM (SELECT {part}, {c},
                       lag({c}) OVER (PARTITION BY {part}
                                      ORDER BY {order_by}, {c}) AS prev
                FROM lineitem)) AS n_runs,
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
         round((SELECT count(*) FROM lineitem)
               / CAST((SELECT sum(CASE WHEN prev IS NOT NULL AND {c} <> prev
                                       THEN 1 ELSE 0 END)
                       + count(DISTINCT {part})
                       FROM (SELECT {part}, {c},
                                    lag({c}) OVER (PARTITION BY {part}
                                                   ORDER BY {order_by}, {c})
                                      AS prev
                             FROM lineitem)) AS DOUBLE), 2)
           AS avg_run_len"""
            )
    union = "\n  UNION ALL\n  ".join(blocks)
    return f"rle_layout_report AS (\n  {union}\n)"


# ---------------------------------------------------------------------------
# zone-map data-skipping report
# ---------------------------------------------------------------------------

ZM_ZONE_KEYS = 1000
ZM_DATE_LO = "1996-01-01"
ZM_DATE_HI = "1996-03-31"


def zonemap_skipping_report(lineitem: DataFrame) -> DataFrame:
    """Zone-map (min/max statistics) pruning simulation — the
    data-skipping arithmetic behind parquet row-group pruning, Delta
    file skipping, and ClickHouse marks, measured for two layouts:

      - 'natural' zones: l_orderkey ranges (ingest clustering);
      - 'date-sorted' zones: calendar months (what sorting the table
        by l_shipdate would produce).

    For the audit predicate (a shipdate quarter), a zone is skippable
    iff its [min, max] interval misses the predicate range — computed
    from ONE hash-agg per layout over zone grain (exactly the stats a
    writer maintains for free). Output per layout: n_zones,
    n_pruned_zones, rows_total, rows_skipped, skip_fraction — the
    number that justifies paying the sort: at 100 TB 'frac 0.9' means
    a 10x scan cut for every query shaped like the predicate.
    """
    lo, hi = F.lit(ZM_DATE_LO).cast("date"), F.lit(ZM_DATE_HI).cast("date")
    d = F.to_date("l_shipdate")

    def layout(name: str, zone: F.Column) -> DataFrame:
        zones = (
            lineitem.select(zone.alias("zone"), d.alias("d"))
            .groupBy("zone")
            .agg(
                F.count("*").alias("n_rows"),
                F.min("d").alias("dmin"),
                F.max("d").alias("dmax"),
            )
            .select(
                "*",
                ((F.col("dmax") < lo) | (F.col("dmin") > hi)).alias(
                    "pruned"
                ),
            )
        )
        return zones.agg(
            F.lit(name).alias("layout"),
            F.count("*").alias("n_zones"),
            F.sum(F.col("pruned").cast("bigint")).alias("n_pruned_zones"),
            F.sum("n_rows").alias("rows_total"),
            F.sum(
                F.when(F.col("pruned"), F.col("n_rows")).otherwise(0)
            ).alias("rows_skipped"),
            F.round(
                F.sum(
                    F.when(F.col("pruned"), F.col("n_rows")).otherwise(0)
                )
                / F.sum("n_rows"),
                4,
            ).alias("skip_fraction"),
        )

    nat = layout(
        "natural",
        (F.col("l_orderkey") / F.lit(ZM_ZONE_KEYS)).cast("bigint"),
    )
    srt = layout(
        "date-sorted",
        F.date_format(d, "yyyy-MM"),
    )
    return nat.unionByName(srt)


def oracle_zonemap_skipping() -> str:
    def blk(name: str, zone_expr: str) -> str:
        return f"""SELECT '{name}' AS layout,
         CAST(count(*) AS BIGINT) AS n_zones,
         CAST(sum(CAST(pruned AS BIGINT)) AS BIGINT) AS n_pruned_zones,
         CAST(sum(n_rows) AS BIGINT) AS rows_total,
         CAST(sum(CASE WHEN pruned THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_skipped,
         round(sum(CASE WHEN pruned THEN n_rows ELSE 0 END)
               / CAST(sum(n_rows) AS DOUBLE), 4) AS skip_fraction
  FROM (
    SELECT {zone_expr} AS zone,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(CAST(l_shipdate AS DATE)) AS dmin,
           max(CAST(l_shipdate AS DATE)) AS dmax,
           max(CAST(l_shipdate AS DATE)) < DATE '{ZM_DATE_LO}'
             OR min(CAST(l_shipdate AS DATE)) > DATE '{ZM_DATE_HI}'
             AS pruned
    FROM lineitem GROUP BY 1
  )"""

    return f"""
zonemap_skipping_report AS (
  {blk("natural", f"l_orderkey // {ZM_ZONE_KEYS}")}
  UNION ALL
  {blk("date-sorted", "strftime(CAST(l_shipdate AS DATE), '%Y-%m')")}
)
"""


# ---------------------------------------------------------------------------
# Hilbert-curve clustering keys + curve locality comparison
# ---------------------------------------------------------------------------

H_BITS = Z_BITS
H_SIDE = 1 << H_BITS
#: locality report: each curve's OCCUPIED key range is sliced into
#: this many equal segments (fixed-width zones over the 4^16 key
#: space would collapse to one zone when the data occupies a corner
#: of the grid — measured on the fixtures).
CURVE_ZONES = 256


def hilbert_d_frame(df: DataFrame, keep: list[str]) -> DataFrame:
    """Hilbert distance of the (x, y) cell columns on the 2^H_BITS
    grid — the canonical top-down quadrant walk (the public-domain
    xy2d loop), unrolled into H_BITS levels of pure integer
    arithmetic:

      rx = (x DIV s) % 2          (computed as x % 2s >= s)
      d += s^2 * ((3*rx) XOR ry)  with the XOR replaced by the
           arithmetic identity 3*rx - (2*rx - 1)*ry (rx, ry in {0,1})
           — no XOR/shift dialect differences between engines
      rotate: if ry == 0 swap x/y, flipping both when rx == 1

    r10: the walk is ONE ``aggregate()`` fold over the level sequence
    (was 2 chained projections per level — 32 projections whose
    Catalyst analysis cost ~2 s of DRIVER time per query call; the
    fold is a constant-size expression tree with the identical integer
    recurrence per level, so hkey is bit-equal). rx/ry inline 3x each
    inside the lambda (SQL lambdas have no let-binding) — trivial
    per-row integer re-evaluation next to the analysis time it saves.
    Input needs columns x, y; output keeps ``keep`` + hkey."""
    n1 = H_SIDE - 1
    s = "CAST(shiftleft(1L, lvl) AS BIGINT)"
    rx = f"CAST(a.x % (2 * {s}) >= {s} AS BIGINT)"
    ry = f"CAST(a.y % (2 * {s}) >= {s} AS BIGINT)"
    step = f"""named_struct(
          'x', CASE WHEN {ry} = 1 THEN a.x
                    WHEN {rx} = 1 THEN {n1}L - a.y
                    ELSE a.y END,
          'y', CASE WHEN {ry} = 1 THEN a.y
                    WHEN {rx} = 1 THEN {n1}L - a.x
                    ELSE a.x END,
          'd', a.d + {s} * {s} * (3 * {rx} - (2 * {rx} - 1) * {ry})
        )"""
    hkey = F.expr(
        f"""aggregate(
          sequence({H_BITS - 1}, 0, -1),
          named_struct('x', CAST(x AS BIGINT), 'y', CAST(y AS BIGINT),
                       'd', CAST(0 AS BIGINT)),
          (a, lvl) -> {step},
          a -> a.d
        )"""
    )
    return df.select(*keep, hkey.alias("hkey"))


def hilbert_keys(events: DataFrame) -> DataFrame:
    """Hilbert clustering key per event over the same
    (user_id, hour-of-epoch) grid as ``zorder_keys``. Hilbert's edge
    over Morton: consecutive curve positions are always grid
    neighbors (no Z-shape jumps across half the plane), so contiguous
    key ranges have tighter bounding boxes -> better min/max skipping
    for range predicates on either dimension. Map-only; the win comes
    from sorting the write by hkey (same ``write_zordered`` shape).
    """
    from ._staging import spread as _spread

    # r10 (guide §2.5): the 16-level fold below ran on the ONE-task
    # fixture scan; one narrow exchange first parallelizes it (the
    # value set is per-event and order-free — hash-compared).
    prepared = _spread(events).select(
        "event_id",
        (F.col("user_id") % (Z_MASK + 1)).alias("x"),
        (
            F.floor(F.unix_millis("ts") / F.lit(3_600_000))
            % (Z_MASK + 1)
        ).alias("y"),
    ).select(
        "event_id",
        "x",
        "y",
        F.col("x").alias("hx"),
        F.col("y").alias("hy"),
    )
    return hilbert_d_frame(prepared, ["event_id", "hx", "hy"]).select(
        "event_id", "hx", "hy", "hkey"
    )


def oracle_hilbert_keys() -> str:
    n1 = H_SIDE - 1
    parts = [
        f"""
hil_l{H_BITS} AS (
  SELECT event_id,
         user_id % {Z_MASK + 1} AS x,
         CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT)
           % {Z_MASK + 1} AS y,
         CAST(0 AS BIGINT) AS d
  FROM events
)"""
    ]
    for lvl in range(H_BITS - 1, -1, -1):
        s = 1 << lvl
        parts.append(
            f"""
hil_l{lvl} AS (
  SELECT event_id,
         CASE WHEN ry = 1 THEN x
              WHEN rx = 1 THEN {n1} - y ELSE y END AS x,
         CASE WHEN ry = 1 THEN y
              WHEN rx = 1 THEN {n1} - x ELSE x END AS y,
         d + {s}::BIGINT * {s} * (3 * rx - (2 * rx - 1) * ry) AS d
  FROM (
    SELECT event_id, x, y, d,
           CASE WHEN x % {2 * s} >= {s} THEN 1 ELSE 0 END AS rx,
           CASE WHEN y % {2 * s} >= {s} THEN 1 ELSE 0 END AS ry
    FROM hil_l{lvl + 1}
  )
)"""
        )
    parts.append(
        f"""
hilbert_keys AS (
  SELECT b.event_id,
         b.user_id % {Z_MASK + 1} AS hx,
         CAST(floor(epoch_ms(b.ts) / 3600000) AS BIGINT)
           % {Z_MASK + 1} AS hy,
         l.d AS hkey
  FROM events b JOIN hil_l0 l USING (event_id)
)"""
    )
    return ",".join(parts)


def curve_locality_report(events: DataFrame) -> DataFrame:
    """Space-filling-curve locality comparison — the number that
    justifies choosing Hilbert over Z-order for a 100 TB layout:
    slice each curve's OCCUPIED key range into ``CURVE_ZONES`` equal
    segments (the row groups a key-sorted writer would emit) and
    measure the per-zone bounding box of the original (x, y) points.
    Tighter boxes == more selective min/max stats on BOTH dimensions.
    Per curve: one 1-row min/max agg (broadcast back — the sanctioned
    1-row crossJoin), one hash-agg on the zone key; no global sort —
    the report costs two scans regardless of table size.

    Output per curve: n_zones, n_points, avg per-zone x/y span and
    avg box area (spans weighted uniformly per occupied zone).
    """
    from ._staging import spread as _spread

    # r10 (guide §2.5): the 16-level Hilbert/Z key chains were fused
    # into the ONE-task fixture scan; spread the points first so both
    # key projections run at full width (outputs are keyed aggs —
    # partition-invariant).
    events = _spread(events)
    z = zorder_keys(events).select(
        F.lit("zorder").alias("curve"),
        F.col("zx").alias("x"),
        F.col("zy").alias("y"),
        F.col("zkey").alias("key"),
    )
    h = hilbert_keys(events).select(
        F.lit("hilbert").alias("curve"),
        F.col("hx").alias("x"),
        F.col("hy").alias("y"),
        F.col("hkey").alias("key"),
    )
    # the keyed union feeds TWO aggs (extents, zones) and the Hilbert
    # key is a 16-level expression chain — unstaged, both keys compute
    # twice (measured 6.3 s vs 3.4 s at sf0.1)
    both = _cut(z.unionByName(h))
    extents = both.groupBy(F.col("curve").alias("ecurve")).agg(
        F.min("key").alias("kmin"),
        (F.max("key") - F.min("key") + 1).alias("krange"),
    )
    zones = (
        both.join(
            F.broadcast(extents), both.curve == extents.ecurve
        )
        .withColumn(
            # integer DIV end-to-end: double division + cast differs
            # between engines (Spark truncates, DuckDB rounds)
            "zone",
            F.expr(f"((key - kmin) * {CURVE_ZONES}) DIV krange"),
        )
        .groupBy("curve", "zone")
        .agg(
            F.count("*").alias("n"),
            (F.max("x") - F.min("x") + 1).alias("xspan"),
            (F.max("y") - F.min("y") + 1).alias("yspan"),
        )
    )
    return (
        zones.groupBy("curve")
        .agg(
            F.count("*").alias("n_zones"),
            F.sum("n").alias("n_points"),
            F.round(F.avg("xspan"), 2).alias("avg_xspan"),
            F.round(F.avg("yspan"), 2).alias("avg_yspan"),
            F.round(F.avg(F.col("xspan") * F.col("yspan")), 2).alias(
                "avg_box_area"
            ),
        )
    )


def oracle_curve_locality() -> str:
    return (
        oracle_hilbert_keys()
        + ","
        + ORACLE_ZORDER_KEYS
        + f""",
cl_both AS (
  SELECT 'zorder' AS curve, zx AS x, zy AS y, zkey AS key
  FROM zorder_keys
  UNION ALL
  SELECT 'hilbert' AS curve, hx AS x, hy AS y, hkey AS key
  FROM hilbert_keys
),
cl_ext AS (
  SELECT curve AS ecurve, min(key) AS kmin,
         max(key) - min(key) + 1 AS krange
  FROM cl_both GROUP BY 1
),
cl_zones AS (
  SELECT curve, ((key - kmin) * {CURVE_ZONES}) // krange AS zone,
         count(*) AS n,
         max(x) - min(x) + 1 AS xspan,
         max(y) - min(y) + 1 AS yspan
  FROM cl_both b JOIN cl_ext e ON b.curve = e.ecurve
  GROUP BY 1, 2
),
curve_locality_report AS (
  SELECT curve,
         CAST(count(*) AS BIGINT) AS n_zones,
         CAST(sum(n) AS BIGINT) AS n_points,
         round(avg(xspan), 2) AS avg_xspan,
         round(avg(yspan), 2) AS avg_yspan,
         round(avg(xspan * yspan), 2) AS avg_box_area
  FROM cl_zones GROUP BY 1
)"""
    )
