"""[EXT] Sequential & spectral structure: Markov chains, trend/randomness tests, ACF/PACF, transforms.

Split from the monolithic ``operators/temporal.py`` (r8 verdict task 2); see the package ``__init__`` for provenance. All docstring citations to the reference (F.py) are preserved on the operators themselves.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_instacart_market_basket_analysis_spark.operators import (
    ranking as _rank,
)
from .._staging import cut as _cut

from .fits import AR2_VAL_SCALE



#: ordered funnel steps (first-touch timestamps must be increasing).
FUNNEL_STEPS = ("signup", "click", "purchase")




def user_funnel(events: DataFrame) -> DataFrame:
    """User-level ordered funnel across event types: how many users
    reached signup -> click -> purchase IN ORDER (first-touch
    timestamps strictly increasing step to step). One conditional
    min-agg per user (every step's first-touch in a single hash-agg
    pass), then a 1-row conditional rollup — no joins, no windows;
    the classic product-analytics funnel at fact-scan cost.
    """
    firsts = events.groupBy("user_id").agg(
        *[
            F.min(
                F.when(
                    F.col("event_type") == s, F.unix_millis("ts")
                )
            ).alias(f"t_{s}")
            for s in FUNNEL_STEPS
        ]
    )
    s0, s1, s2 = [f"t_{s}" for s in FUNNEL_STEPS]
    reached1 = F.col(s0).isNotNull()
    reached2 = reached1 & F.col(s1).isNotNull() & (F.col(s0) < F.col(s1))
    reached3 = reached2 & F.col(s2).isNotNull() & (F.col(s1) < F.col(s2))
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.sum(reached1.cast("bigint")).alias("step1_signup"),
        F.sum(reached2.cast("bigint")).alias("step2_click"),
        F.sum(reached3.cast("bigint")).alias("step3_purchase"),
    )




ORACLE_USER_FUNNEL = """
uf_firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup'
                  THEN epoch_ms(ts) END) AS t_signup,
         min(CASE WHEN event_type = 'click'
                  THEN epoch_ms(ts) END) AS t_click,
         min(CASE WHEN event_type = 'purchase'
                  THEN epoch_ms(ts) END) AS t_purchase
  FROM events GROUP BY user_id
),
user_funnel AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CASE WHEN t_signup IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS step1_signup,
         CAST(sum(CASE WHEN t_signup IS NOT NULL
                        AND t_click IS NOT NULL
                        AND t_signup < t_click
                       THEN 1 ELSE 0 END) AS BIGINT) AS step2_click,
         CAST(sum(CASE WHEN t_signup IS NOT NULL
                        AND t_click IS NOT NULL
                        AND t_signup < t_click
                        AND t_purchase IS NOT NULL
                        AND t_click < t_purchase
                       THEN 1 ELSE 0 END) AS BIGINT) AS step3_purchase
  FROM uf_firsts
)
"""




def markov_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov model of the event stream: P(next_type |
    current_type) from consecutive-event pairs within each user's
    timeline — the sequence model under next-action prediction and
    funnel simulation.

    One user_id window (lead over the per-user time order) produces
    the transition pairs; counts aggregate on the tiny (from, to)
    grain. Probabilities are ratios of integral counts, rounded at
    the edge. At 100 TB this is sessionization's shuffle plus a
    |types|^2-row table.

    Output: from_type, to_type, n, p (rounded 6).
    """
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    pairs = (
        events.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
            F.unix_micros("ts").alias("_us"),
            "event_id",
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("n_from"), 6).alias("p"),
    )




ORACLE_MARKOV = """
mk_pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
mk_counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM mk_pairs WHERE to_type IS NOT NULL
  GROUP BY 1, 2
),
mk_tot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
  FROM mk_counts GROUP BY 1
),
markov_transitions AS (
  SELECT from_type, to_type, n,
         round(CAST(n AS DOUBLE) / n_from, 6) AS p
  FROM mk_counts JOIN mk_tot USING (from_type)
)
"""




def markov_entropy_rate(events: DataFrame) -> DataFrame:
    """Entropy rate of the event-type Markov chain: H = Σ π(s)·H(·|s)
    in bits — "how predictable is the next action", the single number
    summarizing the transition matrix (0 = deterministic flows, log2
    |types| = uniform chaos). Burst-bot traffic and broken
    instrumentation both show up as entropy collapse against a
    baseline.

    Derived entirely from the transition counts (one more tiny agg on
    the |types|² table): π from row sums, conditional entropies from
    count ratios, total rounded at the edge. Output (1 row):
    n_transitions, entropy_bits, max_entropy_bits, predictability.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    counts = (
        events.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    row_tot = counts.groupBy("from_type").agg(
        F.sum("n").alias("n_from")
    )
    grand = counts.agg(
        F.sum("n").alias("n_all"),
        F.countDistinct("to_type").alias("n_types"),
    )
    terms = (
        counts.join(F.broadcast(row_tot), "from_type")
        .crossJoin(F.broadcast(grand))
        .select(
            "n_all",
            "n_types",
            (
                (F.col("n").cast("double") / F.col("n_all"))
                * -F.log2(
                    F.col("n").cast("double") / F.col("n_from")
                )
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("n_all", "n_types")
        .agg(F.round(F.sum("term"), 6).alias("entropy_bits"))
        .select(
            F.col("n_all").alias("n_transitions"),
            "entropy_bits",
            F.round(F.log2(F.col("n_types").cast("double")), 6).alias(
                "max_entropy_bits"
            ),
            F.round(
                F.lit(1.0)
                - F.col("entropy_bits")
                / F.round(F.log2(F.col("n_types").cast("double")), 6),
                6,
            ).alias("predictability"),
        )
    )




ORACLE_MARKOV_ENTROPY = """
me_pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
me_counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM me_pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
),
me_row AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
  FROM me_counts GROUP BY 1
),
me_grand AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_all,
         CAST(count(DISTINCT to_type) AS BIGINT) AS n_types
  FROM me_counts
),
me_agg AS (
  SELECT g.n_all, g.n_types,
         round(sum((CAST(c.n AS DOUBLE) / g.n_all)
               * -log2(CAST(c.n AS DOUBLE) / r.n_from)), 6)
           AS entropy_bits
  FROM me_counts c JOIN me_row r USING (from_type), me_grand g
  GROUP BY 1, 2
),
markov_entropy_rate AS (
  SELECT n_all AS n_transitions, entropy_bits,
         round(log2(CAST(n_types AS DOUBLE)), 6) AS max_entropy_bits,
         round(1.0 - entropy_bits
               / round(log2(CAST(n_types AS DOUBLE)), 6), 6)
           AS predictability
  FROM me_agg
)
"""




# ---------------------------------------------------------------------------
# Markov next-event prediction accuracy (model backtest)
# ---------------------------------------------------------------------------


def markov_predict_eval(events: DataFrame) -> DataFrame:
    """Backtest of the first-order Markov model: predict each user's
    next event type as the argmax transition from the global matrix
    (ties -> alphabetical), score against what actually happened —
    the evaluation loop that turns `markov_transitions` from a
    descriptive table into a validated predictor.

    The transition pairs come from the same one-window pass as the
    model; the argmax per from_type is a packed max over the tiny
    |types|^2 count table; accuracy is a ratio of integral counts.
    Output per from_type: predicted_next, n_transitions, n_correct,
    accuracy (round 6).
    """
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    pairs = (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    wmax = Window.partitionBy("from_type")
    pred = (
        pairs.withColumn("mx", F.max("n").over(wmax))
        .filter(F.col("n") == F.col("mx"))
        .groupBy("from_type")
        .agg(F.min("to_type").alias("predicted_next"))
    )
    return (
        pairs.join(F.broadcast(pred), "from_type")
        .groupBy("from_type", "predicted_next")
        .agg(
            F.sum("n").alias("n_transitions"),
            F.sum(
                F.when(
                    F.col("to_type") == F.col("predicted_next"),
                    F.col("n"),
                ).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            "from_type",
            "predicted_next",
            "n_transitions",
            "n_correct",
            F.round(
                F.col("n_correct") / F.col("n_transitions"), 6
            ).alias("accuracy"),
        )
    )




ORACLE_MARKOV_PREDICT = """
mp_pairs AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events)
  WHERE to_type IS NOT NULL GROUP BY 1, 2
),
mp_pred AS (
  SELECT from_type, min(to_type) AS predicted_next FROM (
    SELECT *, max(n) OVER (PARTITION BY from_type) AS mx FROM mp_pairs)
  WHERE n = mx GROUP BY 1
),
markov_predict AS (
  SELECT p.from_type, d.predicted_next,
         CAST(sum(p.n) AS BIGINT) AS n_transitions,
         CAST(sum(CASE WHEN p.to_type = d.predicted_next THEN p.n
                       ELSE 0 END) AS BIGINT) AS n_correct,
         round(sum(CASE WHEN p.to_type = d.predicted_next THEN p.n
                        ELSE 0 END) / sum(p.n), 6) AS accuracy
  FROM mp_pairs p JOIN mp_pred d USING (from_type)
  GROUP BY 1, 2
)
"""




# ---------------------------------------------------------------------------
# Markov stationary distribution (integer power iteration)
# ---------------------------------------------------------------------------

#: fixed power-iteration rounds for the stationary distribution; the
#: chain on |types| states mixes in a handful of rounds and BOTH
#: engines run the same unrolled count, so parity is exact regardless.
STATIONARY_ITERATIONS = 8



#: probability scale (millionths) — same integer-arithmetic stance as
#: graph.pagerank_products: float matrix powers are fold-order
#: sensitive across engines, floor-division mass flow is exact.
STATIONARY_SCALE = 1_000_000




def markov_stationary(
    events: DataFrame, iterations: int = STATIONARY_ITERATIONS
) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov
    chain by integer power iteration: pi'_j = sum_i (pi_i * n_ij) DIV
    n_i on a millionths scale, starting uniform. The long-run "where
    does the funnel settle" readout on top of ``markov_transitions``.

    The transition table is |types|^2 rows, so every iteration is a
    joins-and-aggs plan over a broadcast-sized table; the heavy stage
    remains the ONE per-user window that built the pairs. Floor
    division leaks ≤1 millionth per edge per round (documented,
    deterministic, identical in the oracle) — the price of
    cross-engine exactness.

    Output: (state, pi_millionths, n_iterations).
    """
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    pairs = (
        events.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    trans = _cut(pairs.join(F.broadcast(totals), "from_type"))
    n_states = totals.agg(F.count("*").alias("k"))
    pi = totals.select(F.col("from_type").alias("state")).crossJoin(
        F.broadcast(n_states)
    ).select(
        "state",
        (F.lit(STATIONARY_SCALE) / F.col("k")).cast("bigint").alias("pi"),
    )
    for _ in range(iterations):
        pi = (
            trans.join(pi, trans.from_type == pi.state)
            .select(
                F.col("to_type").alias("state"),
                ((F.col("pi") * F.col("n")) / F.col("n_from"))
                .cast("bigint")
                .alias("flow"),
            )
            .groupBy("state")
            .agg(F.sum("flow").alias("pi"))
        )
    return pi.select(
        "state",
        F.col("pi").alias("pi_millionths"),
        F.lit(iterations).alias("n_iterations"),
    )




def oracle_markov_stationary(
    iterations: int = STATIONARY_ITERATIONS,
) -> str:
    ctes = [
        """
mst_counts AS MATERIALIZED (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events
  ) WHERE to_type IS NOT NULL
  GROUP BY 1, 2
),
mst_tot AS MATERIALIZED (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
  FROM mst_counts GROUP BY 1
),
mst_trans AS MATERIALIZED (
  SELECT c.from_type, c.to_type, c.n, t.n_from
  FROM mst_counts c JOIN mst_tot t USING (from_type)
),
mst_p0 AS (
  SELECT from_type AS state,
         CAST({scale} // (SELECT count(*) FROM mst_tot) AS BIGINT) AS pi
  FROM mst_tot
)""".format(scale=STATIONARY_SCALE)
    ]
    prev = "mst_p0"
    for i in range(1, iterations + 1):
        ctes.append(
            """
mst_p{i} AS MATERIALIZED (
  SELECT t.to_type AS state,
         CAST(sum((p.pi * t.n) // t.n_from) AS BIGINT) AS pi
  FROM mst_trans t JOIN {prev} p ON t.from_type = p.state
  GROUP BY 1
)""".format(i=i, prev=prev)
        )
        prev = f"mst_p{i}"
    ctes.append(
        """
markov_stationary AS (
  SELECT state, pi AS pi_millionths,
         {it} AS n_iterations
  FROM {prev}
)""".format(it=iterations, prev=prev)
    )
    return ",".join(ctes)




# ---------------------------------------------------------------------------
# top journey paths (ordered pre-conversion sequences)
# ---------------------------------------------------------------------------

#: path prefix length and output cap.
PATH_PREFIX_LEN = 4


PATH_TOP_N = 20




def top_paths(events: DataFrame) -> DataFrame:
    """Top pre-conversion journey paths: each user's first
    {PATH_PREFIX_LEN} non-purchase event types (in time order, the
    same pre-first-purchase journey the Markov/Shapley attribution
    models read) become a path string, ranked by how many users walk
    it and annotated with its conversion rate — the "Pathfinder"
    readout: WHICH sequences convert, not just which steps.

    One per-user window (the shared sessionization shuffle), one
    user-grain agg building the capped path via sorted collect +
    slice (bounded by the prefix cap, never the event count), one
    path-grain agg, and a deterministic (n_users DESC, path) top-N.

    Output: path, n_users, n_conv, conv_rate — {PATH_TOP_N} rows.
    """
    fp = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.expr("unix_micros(ts)")).alias("fp_us"))
    )
    base = (
        events.filter(F.col("event_type") != "purchase")
        .join(fp, "user_id", "left")
        .filter(
            F.col("fp_us").isNull()
            | (F.expr("unix_micros(ts)") < F.col("fp_us"))
        )
        .select(
            "user_id",
            "event_type",
            F.expr("unix_micros(ts)").alias("us"),
            "event_id",
            F.col("fp_us").isNotNull().alias("conv"),
        )
    )
    per_user = base.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.slice(
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(us, event_id, event_type))),"
                    " x -> x.event_type)"
                ),
                1,
                PATH_PREFIX_LEN,
            ),
        ).alias("path"),
        F.max(F.col("conv").cast("int")).alias("conv"),
    )
    paths = per_user.groupBy("path").agg(
        F.count("*").alias("n_users"),
        F.sum("conv").alias("n_conv"),
    )
    return (
        paths.orderBy(F.desc("n_users"), F.asc("path"))
        .limit(PATH_TOP_N)
        .select(
            "path",
            "n_users",
            "n_conv",
            F.round(
                F.col("n_conv") / F.col("n_users").cast("double"), 6
            ).alias("conv_rate"),
        )
    )




top_paths.__doc__ = top_paths.__doc__.format(
    PATH_PREFIX_LEN=PATH_PREFIX_LEN, PATH_TOP_N=PATH_TOP_N
)




ORACLE_TOP_PATHS = f"""
tp_fp AS (
  SELECT user_id, min(epoch_us(ts)) AS fp_us
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
tp_base AS (
  SELECT e.user_id, e.event_type, epoch_us(e.ts) AS us, e.event_id,
         f.fp_us IS NOT NULL AS conv
  FROM events e LEFT JOIN tp_fp f ON e.user_id = f.user_id
  WHERE e.event_type <> 'purchase'
    AND (f.fp_us IS NULL OR epoch_us(e.ts) < f.fp_us)
),
tp_user AS (
  SELECT user_id,
         array_to_string(
           (list(event_type ORDER BY us, event_id))
             [1:{PATH_PREFIX_LEN}], '>') AS path,
         CAST(max(CASE WHEN conv THEN 1 ELSE 0 END) AS INT) AS conv
  FROM tp_base GROUP BY 1
),
tp_paths AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(conv) AS BIGINT) AS n_conv
  FROM tp_user GROUP BY 1
),
top_paths AS (
  SELECT path, n_users, n_conv,
         round(n_conv / CAST(n_users AS DOUBLE), 6) AS conv_rate
  FROM tp_paths
  ORDER BY n_users DESC, path
  LIMIT {PATH_TOP_N}
)
"""




def runs_test(events: DataFrame) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily revenue
    direction: the up/down sign sequence vs its own median-free
    expectation — too FEW runs means momentum/trend, too many means
    oscillation; either breaks the i.i.d. assumption the forecasting
    family quietly makes, so this is their admission test.

    Day-grain: signs from lag() on the ordered bounded series, runs
    counted as sign-change prefix events, mean/variance of the run
    count from the exact (n_up, n_down) integers.

    Output (1 row): n_days, n_up, n_down, n_runs, z, significant.
    """
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).alias("rev")
        )
    )
    w = Window.orderBy("day")
    # runs = 1 + number of sign changes over the day-ordered signs.
    seq = (
        daily.select(
            "day", (F.col("rev") - F.lag("rev").over(w)).alias("d")
        )
        .filter(F.col("d").isNotNull() & (F.col("d") != 0))
        .select("day", (F.col("d") > 0).cast("int").alias("s"))
    )
    wd = Window.orderBy("day")
    runs = seq.select(
        "s",
        (
            F.col("s") != F.coalesce(F.lag("s").over(wd), F.col("s"))
        ).cast("int").alias("chg"),
    )
    m = runs.agg(
        F.count("*").alias("n"),
        F.sum("s").alias("n_up"),
        F.sum(F.lit(1) - F.col("s")).alias("n_down"),
        (F.sum("chg") + 1).alias("n_runs"),
    )
    nu = F.col("n_up").cast("double")
    nd2 = F.col("n_down").cast("double")
    ntot = nu + nd2
    mu = 2 * nu * nd2 / ntot + 1
    var = (
        (2 * nu * nd2 * (2 * nu * nd2 - ntot))
        / (ntot * ntot * (ntot - 1))
    )
    z = (F.col("n_runs").cast("double") - mu) / F.sqrt(var)
    return m.select(
        F.col("n").alias("n_days"),
        "n_up",
        "n_down",
        "n_runs",
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > 1.96).alias("significant"),
    )




ORACLE_RUNS = """
rn_daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev
  FROM events GROUP BY 1
),
rn_seq AS (
  SELECT day, CAST(d > 0 AS INT) AS s FROM (
    SELECT day, rev - lag(rev) OVER (ORDER BY day) AS d FROM rn_daily
  ) WHERE d IS NOT NULL AND d <> 0
),
rn_runs AS (
  SELECT s,
         CAST(s <> coalesce(lag(s) OVER (ORDER BY day), s) AS INT)
           AS chg
  FROM rn_seq
),
rn_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(s) AS BIGINT) AS n_up,
         CAST(sum(1 - s) AS BIGINT) AS n_down,
         CAST(sum(chg) + 1 AS BIGINT) AS n_runs
  FROM rn_runs
),
runs_test AS (
  SELECT n AS n_days, n_up, n_down, n_runs,
         round((CAST(n_runs AS DOUBLE)
                - (2 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                   / (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
                   + 1))
               / sqrt((2 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                       * (2 * CAST(n_up AS DOUBLE)
                          * CAST(n_down AS DOUBLE)
                          - (CAST(n_up AS DOUBLE)
                             + CAST(n_down AS DOUBLE))))
                      / ((CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
                         * (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
                         * (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)
                            - 1))), 6) AS z,
         abs(round((CAST(n_runs AS DOUBLE)
                - (2 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                   / (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
                   + 1))
               / sqrt((2 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                       * (2 * CAST(n_up AS DOUBLE)
                          * CAST(n_down AS DOUBLE)
                          - (CAST(n_up AS DOUBLE)
                             + CAST(n_down AS DOUBLE))))
                      / ((CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
                         * (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
                         * (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)
                            - 1))), 6)) > 1.96 AS significant
  FROM rn_m
)
"""




# ---------------------------------------------------------------------------
# variance-homogeneity screen (Hartley's Fmax across event types)
# ---------------------------------------------------------------------------


def variance_ratio_screen(events: DataFrame) -> DataFrame:
    """Hartley's Fmax homogeneity-of-variance screen across the event
    types: max group variance / min group variance — the assumption
    check ANOVA (``events_anova``) quietly requires; Fmax >> 1 says
    use Welch-style corrections instead. Per-group variances come
    from the n·Σx² − (Σx)² identity on exact BIGINT cents (one
    map-combinable agg); the ratio picks max/min via greatest/least
    over the k=5 group rows packed into one 1-row reduction.

    Output per group + ratio columns: event_type, n, variance; the
    f_max and n_groups columns repeat on every row (grain-preserving
    so both the per-group audit AND the verdict are one readout).
    """
    g = (
        events.select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s"),
            F.sum(F.col("c") * F.col("c")).alias("q"),
        )
    )
    nd = F.col("n").cast("double")
    var = (
        nd * F.col("q").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
    ) / (nd * (nd - 1))
    gv = g.select("event_type", "n", F.round(var, 4).alias("variance"))
    ext = gv.agg(
        F.max("variance").alias("vmax"),
        F.min("variance").alias("vmin"),
        F.count("*").alias("n_groups"),
    )
    return gv.crossJoin(F.broadcast(ext)).select(
        "event_type",
        "n",
        "variance",
        "n_groups",
        F.round(F.col("vmax") / F.col("vmin"), 6).alias("f_max"),
    )




ORACLE_VARRATIO = """
vr_g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         round((CAST(count(*) AS DOUBLE) * CAST(sum(c * c) AS DOUBLE)
                - CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
               / (CAST(count(*) AS DOUBLE)
                  * (CAST(count(*) AS DOUBLE) - 1)), 4) AS variance
  FROM (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
    FROM events
  ) GROUP BY 1
),
vr_e AS (
  SELECT max(variance) AS vmax, min(variance) AS vmin,
         CAST(count(*) AS BIGINT) AS n_groups
  FROM vr_g
),
variance_ratio_screen AS (
  SELECT g.event_type, g.n, g.variance, e.n_groups,
         round(e.vmax / e.vmin, 6) AS f_max
  FROM vr_g g, vr_e e
)
"""




# ---------------------------------------------------------------------------
# exact matrix-profile motif + discord on the daily revenue series
# ---------------------------------------------------------------------------

#: subsequence window length (days).
MP_WINDOW = 7




def matrix_profile_report(events: DataFrame) -> DataFrame:
    """Exact matrix-profile readout over daily revenue: the MOTIF
    (the two most similar non-overlapping {w}-day windows — the
    recurring pattern) and the DISCORD (the window farthest from its
    nearest neighbor — the anomaly), the two questions the
    time-series-mining literature answers with the matrix profile.
    Distances are EXACT BIGINT sums of squared cent differences over
    the {w} aligned days, so every argmin/argmax is engine-exact with
    (dist, i, j) tie-breaks.

    The all-pairs step is day-INDEX grain² — calendar-bounded (never
    data-bounded), which is what makes the exact profile affordable
    at any fact scale: the fact table collapses to one row per day
    first. Windows build from {wm1} lead() columns; overlapping pairs
    (|i−j| < {w}) are excluded per the trivial-match rule.

    Output (1 row): n_windows, motif_i, motif_j, motif_dist,
    discord_i, discord_nn_dist.
    """
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).alias("rev")
        )
    )
    w = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(w).alias("i"),
        "rev",
        *[
            F.lead("rev", j).over(w).alias(f"r{j}")
            for j in range(1, MP_WINDOW)
        ],
    ).filter(F.col(f"r{MP_WINDOW - 1}").isNotNull())
    a = idx.select(
        F.col("i").alias("ia"),
        F.col("rev").alias("a0"),
        *[F.col(f"r{j}").alias(f"a{j}") for j in range(1, MP_WINDOW)],
    )
    b = idx.select(
        F.col("i").alias("ib"),
        F.col("rev").alias("b0"),
        *[F.col(f"r{j}").alias(f"b{j}") for j in range(1, MP_WINDOW)],
    )
    dist = sum(
        (F.col(f"a{j}") - F.col(f"b{j}"))
        * (F.col(f"a{j}") - F.col(f"b{j}"))
        for j in range(MP_WINDOW)
    )
    pairs = (
        a.join(b, F.col("ia") < F.col("ib"))
        .filter(F.col("ib") - F.col("ia") >= MP_WINDOW)
        .select("ia", "ib", dist.alias("d"))
    )
    motif = pairs.orderBy("d", "ia", "ib").limit(1).select(
        F.col("ia").alias("motif_i"),
        F.col("ib").alias("motif_j"),
        F.col("d").alias("motif_dist"),
    )
    both_dir = pairs.select(
        F.col("ia").alias("i"), F.col("d")
    ).unionByName(pairs.select(F.col("ib").alias("i"), F.col("d")))
    nn = both_dir.groupBy("i").agg(F.min("d").alias("nn_d"))
    discord = nn.orderBy(F.desc("nn_d"), "i").limit(1).select(
        F.col("i").alias("discord_i"),
        F.col("nn_d").alias("discord_nn_dist"),
    )
    n_w = idx.agg(F.count("*").alias("n_windows"))
    return n_w.crossJoin(F.broadcast(motif)).crossJoin(
        F.broadcast(discord)
    )




matrix_profile_report.__doc__ = matrix_profile_report.__doc__.format(
    w=MP_WINDOW, wm1=MP_WINDOW - 1
)




def oracle_matrix_profile(w: int = MP_WINDOW) -> str:
    acols = ", ".join(
        f"lead(rev, {j}) OVER (ORDER BY day) AS r{j}"
        for j in range(1, w)
    )
    dterms = " + ".join(
        f"(x.{'rev' if j == 0 else f'r{j}'} - y.{'rev' if j == 0 else f'r{j}'})"
        f" * (x.{'rev' if j == 0 else f'r{j}'} - y.{'rev' if j == 0 else f'r{j}'})"
        for j in range(w)
    )
    return f"""
mp_daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev
  FROM events GROUP BY 1
),
mp_idx AS MATERIALIZED (
  SELECT * FROM (
    SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
           rev, {acols}
    FROM mp_daily
  ) WHERE r{w - 1} IS NOT NULL
),
mp_pairs AS MATERIALIZED (
  SELECT x.i AS ia, y.i AS ib, CAST({dterms} AS BIGINT) AS d
  FROM mp_idx x JOIN mp_idx y ON x.i < y.i AND y.i - x.i >= {w}
),
mp_motif AS (
  SELECT ia AS motif_i, ib AS motif_j, d AS motif_dist
  FROM mp_pairs ORDER BY d, ia, ib LIMIT 1
),
mp_nn AS (
  SELECT i, CAST(min(d) AS BIGINT) AS nn_d FROM (
    SELECT ia AS i, d FROM mp_pairs
    UNION ALL SELECT ib AS i, d FROM mp_pairs
  ) GROUP BY 1
),
mp_discord AS (
  SELECT i AS discord_i, nn_d AS discord_nn_dist
  FROM mp_nn ORDER BY nn_d DESC, i LIMIT 1
),
matrix_profile_report AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM mp_idx) AS n_windows,
         m.motif_i, m.motif_j, m.motif_dist,
         dc.discord_i, dc.discord_nn_dist
  FROM mp_motif m CROSS JOIN mp_discord dc
)
"""




# ---------------------------------------------------------------------------
# autocorrelation function + Ljung-Box portmanteau (lags 1..14)
# ---------------------------------------------------------------------------

#: ACF lag horizon.
ACF_MAX_LAG = 14


#: chi-squared 5% critical values for df 1..14 (Ljung-Box).
ACF_CHI2_05 = (3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067,
               15.507, 16.919, 18.307, 19.675, 21.026, 22.362, 23.685)




def acf_report(events: DataFrame) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1..{L} with
    the cumulative Ljung-Box Q — the residual-whiteness diagnostic
    the AR/Holt/Croston forecasting family should be judged against
    (significant Q says structure remains). Deviations center on the
    FLOOR mean (S DIV n — the deterministic integer choice), so every
    covariance c_k is an exact BIGINT product-sum; rho_k = c_k/c_0
    rounds at 6 dp BEFORE entering Q, and Q accumulates over the
    ordered 14-row lag grain — both engines fold identically.

    One day collapse, {L} lag columns over the bounded series, one
    15-sum reduction, a stack to the lag grain.

    Output per lag: lag, n_pairs, c_lag, rho, lb_q, significant.
    """
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).alias("rev")
        )
    )
    m = daily.agg(
        F.expr("sum(rev) DIV count(*)").alias("mu"),
        F.count("*").alias("n"),
    )
    w = Window.orderBy("day")
    lagged = daily.crossJoin(F.broadcast(m)).select(
        (F.col("rev") - F.col("mu")).alias("d"),
        "n",
        *[
            (F.lag("rev", k).over(w) - F.col("mu")).alias(f"d{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    agg = lagged.agg(
        F.max("n").alias("n"),
        F.sum(F.col("d") * F.col("d")).alias("c0"),
        *[
            F.sum(F.col("d") * F.col(f"d{k}")).alias(f"c{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
        *[
            F.count(F.col(f"d{k}")).alias(f"n{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    stacked = agg.selectExpr(
        "n",
        "c0",
        "stack({}, {}) AS (lag, c_lag, n_pairs)".format(
            ACF_MAX_LAG,
            ", ".join(
                f"{k}, c{k}, n{k}" for k in range(1, ACF_MAX_LAG + 1)
            ),
        ),
    )
    rho = F.round(
        F.col("c_lag").cast("double") / F.col("c0").cast("double"), 6
    )
    terms = stacked.select(
        "lag",
        "n_pairs",
        "c_lag",
        rho.alias("rho"),
        (
            rho * rho / (F.col("n").cast("double") - F.col("lag"))
        ).alias("term"),
        "n",
    )
    wq = Window.orderBy("lag").rowsBetween(
        Window.unboundedPreceding, 0
    )
    nd = F.col("n").cast("double")
    q = F.round(nd * (nd + 2) * F.sum("term").over(wq), 6)
    crit = F.element_at(
        F.array(*[F.lit(c) for c in ACF_CHI2_05]), F.col("lag")
    )
    return terms.select(
        "lag",
        "n_pairs",
        "c_lag",
        "rho",
        q.alias("lb_q"),
        (q > crit).alias("significant"),
    )




acf_report.__doc__ = acf_report.__doc__.format(L=ACF_MAX_LAG)




def oracle_acf(max_lag: int = ACF_MAX_LAG) -> str:
    lag_cols = ",\n         ".join(
        f"lag(rev, {k}) OVER (ORDER BY day) - mu AS d{k}"
        for k in range(1, max_lag + 1)
    )
    csums = ",\n         ".join(
        f"CAST(sum(d * d{k}) AS BIGINT) AS c{k},"
        f" CAST(count(d{k}) AS BIGINT) AS n{k}"
        for k in range(1, max_lag + 1)
    )
    arms = "\n  UNION ALL\n".join(
        f"  SELECT {k} AS lag, c{k} AS c_lag, n{k} AS n_pairs, n, c0"
        " FROM acf_a"
        for k in range(1, max_lag + 1)
    )
    crits = ", ".join(
        f"({i + 1}, CAST({c} AS DOUBLE))"
        for i, c in enumerate(ACF_CHI2_05)
    )
    return f"""
acf_daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev
  FROM events GROUP BY 1
),
acf_m AS (
  SELECT CAST(sum(rev) // count(*) AS BIGINT) AS mu,
         CAST(count(*) AS BIGINT) AS n
  FROM acf_daily
),
acf_l AS MATERIALIZED (
  SELECT rev - mu AS d, n,
         {lag_cols}
  FROM acf_daily, acf_m
),
acf_a AS MATERIALIZED (
  SELECT CAST(max(n) AS BIGINT) AS n,
         CAST(sum(d * d) AS BIGINT) AS c0,
         {csums}
  FROM acf_l
),
acf_rows AS (
{arms}
),
acf_crit (lag, crit) AS (VALUES {crits}),
acf_t AS (
  SELECT lag, n_pairs, c_lag,
         round(CAST(c_lag AS DOUBLE) / CAST(c0 AS DOUBLE), 6) AS rho,
         round(CAST(c_lag AS DOUBLE) / CAST(c0 AS DOUBLE), 6)
           * round(CAST(c_lag AS DOUBLE) / CAST(c0 AS DOUBLE), 6)
           / (CAST(n AS DOUBLE) - lag) AS term,
         n
  FROM acf_rows
),
acf_report AS (
  SELECT t.lag, t.n_pairs, t.c_lag, t.rho,
         round(CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) + 2)
               * sum(t.term) OVER (ORDER BY t.lag
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               6) AS lb_q,
         round(CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) + 2)
               * sum(t.term) OVER (ORDER BY t.lag
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               6) > c.crit AS significant
  FROM acf_t t JOIN acf_crit c USING (lag)
)
"""




# ---------------------------------------------------------------------------
# PACF via unrolled Durbin-Levinson (AR-order identification)
# ---------------------------------------------------------------------------

#: PACF levels (Durbin-Levinson unrolled).
PACF_MAX_LAG = 5




def pacf_report(events: DataFrame) -> DataFrame:
    """Partial autocorrelations of daily revenue at lags 1..{L} by the
    Durbin-Levinson recursion, UNROLLED as chained column algebra on
    the one-row ACF frame — with the ACF table this completes the
    Box-Jenkins identification pair (ACF tails ↔ PACF cuts choose the
    AR order the `ar2_forecast` model assumes). Inputs are the
    6-dp-rounded rho_k (exact-BIGINT covariances around the floor
    mean, same kernel as `acf_report`), so every level's phis are
    identical IEEE scalars in both engines.

    Output per lag: lag, pacf (round 6), significant
    (|pacf| > 1.96/sqrt(n)).
    """
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).alias("rev")
        )
    )
    m = daily.agg(
        F.expr("sum(rev) DIV count(*)").alias("mu"),
        F.count("*").alias("n"),
    )
    w = Window.orderBy("day")
    lagged = daily.crossJoin(F.broadcast(m)).select(
        (F.col("rev") - F.col("mu")).alias("d"),
        "n",
        *[
            (F.lag("rev", k).over(w) - F.col("mu")).alias(f"d{k}")
            for k in range(1, PACF_MAX_LAG + 1)
        ],
    )
    agg = lagged.agg(
        F.max("n").alias("n"),
        F.sum(F.col("d") * F.col("d")).alias("c0"),
        *[
            F.sum(F.col("d") * F.col(f"d{k}")).alias(f"c{k}")
            for k in range(1, PACF_MAX_LAG + 1)
        ],
    )
    rhos = agg.select(
        "n",
        *[
            F.round(
                F.col(f"c{k}").cast("double")
                / F.col("c0").cast("double"),
                6,
            ).alias(f"r{k}")
            for k in range(1, PACF_MAX_LAG + 1)
        ],
    )
    # Durbin-Levinson, unrolled: level k keeps phi_k1..phi_kk columns.
    cur = rhos.withColumn("p1_1", F.col("r1"))
    phis = {1: ["p1_1"]}
    for k in range(2, PACF_MAX_LAG + 1):
        prev = phis[k - 1]
        num = F.col(f"r{k}")
        den = F.lit(1.0)
        for j, colname in enumerate(prev, start=1):
            num = num - F.col(colname) * F.col(f"r{k - j}")
            den = den - F.col(colname) * F.col(f"r{j}")
        cur = cur.withColumn(f"p{k}_{k}", num / den)
        new_cols = []
        for j, colname in enumerate(prev, start=1):
            mirror = prev[k - 1 - j]
            cur = cur.withColumn(
                f"p{k}_{j}",
                F.col(colname) - F.col(f"p{k}_{k}") * F.col(mirror),
            )
            new_cols.append(f"p{k}_{j}")
        phis[k] = new_cols + [f"p{k}_{k}"]
    stacked = cur.selectExpr(
        "n",
        "stack({}, {}) AS (lag, pacf_raw)".format(
            PACF_MAX_LAG,
            ", ".join(
                f"{k}, p{k}_{k}" for k in range(1, PACF_MAX_LAG + 1)
            ),
        ),
    )
    thresh = 1.96 / F.sqrt(F.col("n").cast("double"))
    return stacked.select(
        "lag",
        F.round("pacf_raw", 6).alias("pacf"),
        (F.abs(F.round("pacf_raw", 6)) > thresh).alias("significant"),
    )




pacf_report.__doc__ = pacf_report.__doc__.format(L=PACF_MAX_LAG)




def oracle_pacf(max_lag: int = PACF_MAX_LAG) -> str:
    lag_cols = ",\n         ".join(
        f"lag(rev, {k}) OVER (ORDER BY day) - mu AS d{k}"
        for k in range(1, max_lag + 1)
    )
    csums = ",\n         ".join(
        f"CAST(sum(d * d{k}) AS BIGINT) AS c{k}"
        for k in range(1, max_lag + 1)
    )
    rho_cols = ",\n         ".join(
        f"round(CAST(c{k} AS DOUBLE) / CAST(c0 AS DOUBLE), 6) AS r{k}"
        for k in range(1, max_lag + 1)
    )
    # unroll Durbin-Levinson as chained CTEs, one per level
    ctes = []
    phis = {1: ["p1_1"]}
    ctes.append("pf_l1 AS (SELECT *, r1 AS p1_1 FROM pf_rho)")
    prev_cte = "pf_l1"
    for k in range(2, max_lag + 1):
        prev = phis[k - 1]
        num = f"r{k}"
        den = "1.0"
        for j, colname in enumerate(prev, start=1):
            num += f" - {colname} * r{k - j}"
            den += f" - {colname} * r{j}"
        parts = [f"({num}) / ({den}) AS p{k}_{k}"]
        cte_a = (
            f"pf_l{k}a AS (SELECT *, {parts[0]} FROM {prev_cte})"
        )
        ctes.append(cte_a)
        upd = []
        new_cols = []
        for j, colname in enumerate(prev, start=1):
            mirror = prev[k - 1 - j]
            upd.append(
                f"{colname} - p{k}_{k} * {mirror} AS p{k}_{j}"
            )
            new_cols.append(f"p{k}_{j}")
        ctes.append(
            f"pf_l{k} AS (SELECT *, {', '.join(upd)} FROM pf_l{k}a)"
        )
        phis[k] = new_cols + [f"p{k}_{k}"]
        prev_cte = f"pf_l{k}"
    arms = "\n  UNION ALL\n".join(
        f"  SELECT {k} AS lag, p{k}_{k} AS pacf_raw, n FROM {prev_cte}"
        for k in range(1, max_lag + 1)
    )
    return f"""
pf_daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev
  FROM events GROUP BY 1
),
pf_m AS (
  SELECT CAST(sum(rev) // count(*) AS BIGINT) AS mu,
         CAST(count(*) AS BIGINT) AS n
  FROM pf_daily
),
pf_l AS MATERIALIZED (
  SELECT rev - mu AS d, n,
         {lag_cols}
  FROM pf_daily, pf_m
),
pf_a AS MATERIALIZED (
  SELECT CAST(max(n) AS BIGINT) AS n,
         CAST(sum(d * d) AS BIGINT) AS c0,
         {csums}
  FROM pf_l
),
pf_rho AS MATERIALIZED (
  SELECT n,
         {rho_cols}
  FROM pf_a
),
{",".join(ctes)},
pf_rows AS (
{arms}
),
pacf_report AS (
  SELECT lag, round(pacf_raw, 6) AS pacf,
         abs(round(pacf_raw, 6))
           > 1.96 / sqrt(CAST(n AS DOUBLE)) AS significant
  FROM pf_rows
)
"""




# ---------------------------------------------------------------------------
# cross-correlation function (clicks vs revenue, leads and lags)
# ---------------------------------------------------------------------------

#: CCF lag horizon (both directions).
CCF_MAX_LAG = 7




def ccf_report(events: DataFrame) -> DataFrame:
    """Cross-correlation between daily CLICKS and daily REVENUE at
    lags −{L}..+{L}: positive lags correlate today's revenue with
    clicks k days EARLIER — the lead/lag picture behind the Granger
    test's single F number (which side leads, and by how much).
    Deviations center on each series' floor mean, so every
    cross-covariance is an exact BIGINT product-sum; rho_k divides by
    the two exact variances once, rounded 6.

    Same one-collapse + lag-column shape as the ACF: adding lags
    adds columns. Output per lag: lag, n_pairs, rho.
    """
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).alias("rev"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("clk"),
        )
    )
    m = daily.agg(
        F.expr("sum(rev) DIV count(*)").alias("mur"),
        F.expr("sum(clk) DIV count(*)").alias("muc"),
    )
    w = Window.orderBy("day")
    lags = list(range(-CCF_MAX_LAG, CCF_MAX_LAG + 1))

    def cname(k: int) -> str:
        return f"cm{-k}" if k < 0 else f"cp{k}"

    lagged = daily.crossJoin(F.broadcast(m)).select(
        (F.col("rev") - F.col("mur")).alias("dr"),
        (F.col("clk") - F.col("muc")).alias("dc"),
        *[
            (F.lag("clk", k).over(w) - F.col("muc")).alias(cname(k))
            for k in lags
        ],
    )
    agg = lagged.agg(
        F.sum(F.col("dr") * F.col("dr")).alias("vr"),
        F.sum(F.col("dc") * F.col("dc")).alias("vc"),
        *[
            F.sum(F.col("dr") * F.col(cname(k))).alias(f"x{cname(k)}")
            for k in lags
        ],
        *[
            F.count(F.col(cname(k))).alias(f"n{cname(k)}")
            for k in lags
        ],
    )
    stacked = agg.selectExpr(
        "vr",
        "vc",
        "stack({}, {}) AS (lag, xc, n_pairs)".format(
            len(lags),
            ", ".join(
                f"{k}, x{cname(k)}, n{cname(k)}" for k in lags
            ),
        ),
    )
    return stacked.select(
        "lag",
        "n_pairs",
        F.round(
            F.col("xc").cast("double")
            / F.sqrt(
                F.col("vr").cast("double") * F.col("vc").cast("double")
            ),
            6,
        ).alias("rho"),
    )




ccf_report.__doc__ = ccf_report.__doc__.format(L=CCF_MAX_LAG)




def oracle_ccf(max_lag: int = CCF_MAX_LAG) -> str:
    lags = list(range(-max_lag, max_lag + 1))

    def cname(k: int) -> str:
        return f"cm{-k}" if k < 0 else f"cp{k}"

    lag_cols = ",\n         ".join(
        f"lag(clk, {k}) OVER (ORDER BY day) - muc AS {cname(k)}"
        for k in lags
    )
    sums = ",\n         ".join(
        f"CAST(sum(dr * {cname(k)}) AS BIGINT) AS x{cname(k)},"
        f" CAST(count({cname(k)}) AS BIGINT) AS n{cname(k)}"
        for k in lags
    )
    arms = "\n  UNION ALL\n".join(
        f"  SELECT {k} AS lag, x{cname(k)} AS xc,"
        f" n{cname(k)} AS n_pairs, vr, vc FROM cc_a"
        for k in lags
    )
    return f"""
cc_daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS clk
  FROM events GROUP BY 1
),
cc_m AS (
  SELECT CAST(sum(rev) // count(*) AS BIGINT) AS mur,
         CAST(sum(clk) // count(*) AS BIGINT) AS muc
  FROM cc_daily
),
cc_l AS MATERIALIZED (
  SELECT rev - mur AS dr, clk - muc AS dc,
         {lag_cols}
  FROM cc_daily, cc_m
),
cc_a AS MATERIALIZED (
  SELECT CAST(sum(dr * dr) AS BIGINT) AS vr,
         CAST(sum(dc * dc) AS BIGINT) AS vc,
         {sums}
  FROM cc_l
),
cc_rows AS (
{arms}
),
ccf_report AS (
  SELECT lag, n_pairs,
         round(CAST(xc AS DOUBLE)
               / sqrt(CAST(vr AS DOUBLE) * CAST(vc AS DOUBLE)), 6)
           AS rho
  FROM cc_rows
)
"""




# ---------------------------------------------------------------------------
# Walsh-Hadamard sequency spectrum (integer-exact spectral analysis)
# ---------------------------------------------------------------------------

#: WHT block length (2^4 days — the fixtures span ~30 days).
WHT_N = 16




def wht_spectrum(events: DataFrame) -> DataFrame:
    """Walsh-Hadamard sequency spectrum of the first {n} days of
    revenue — spectral analysis the engine can hash-verify (16-day block): WHT basis
    functions are ±1, so every butterfly stage is integer adds/subs
    and the whole transform stays EXACT BIGINT (a Fourier DFT would
    drag in cos/sin whose cross-engine rounding is not IEEE-pinned —
    the reason a periodogram was rejected). High-sequency energy =
    day-to-day churn, low = slow drift; Parseval (Σcoeff² = {n}·Σx²)
    rides along as a self-proving flag.

    The butterfly stages run as chained ARRAY transforms on ONE
    row (each stage materialized — the expression-tree-doubling trap
    from the Hilbert lesson); fact-scale work is only the day
    collapse.

    Output per sequency index: seq_idx, coeff, parseval_ok.
    """
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).alias("rev")
        )
    )
    w = Window.orderBy("day")
    first = (
        daily.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= WHT_N)
        .select("rn", "rev")
    )
    arr = first.groupBy().agg(
        F.expr(
            "transform(array_sort(collect_list(struct(rn, rev))),"
            " x -> x.rev)"
        ).alias("w0")
    )
    cur = arr
    stages = 4
    for s in range(stages):
        h = 1 << s
        cur = cur.select(
            "*",
            F.expr(
                f"transform(sequence(0, {WHT_N - 1}), i -> CASE"
                f" WHEN (i DIV {h}) % 2 = 0"
                f" THEN element_at(w{s}, i + 1)"
                f"      + element_at(w{s}, (i ^ {h}) + 1)"
                f" ELSE element_at(w{s}, (i ^ {h}) + 1)"
                f"      - element_at(w{s}, i + 1) END)"
            ).alias(f"w{s + 1}"),
        ).select(f"w{s + 1}", "w0")
    final = cur.select(
        F.col(f"w{stages}").alias("wf"),
        F.expr(
            f"aggregate(w{stages}, CAST(0 AS BIGINT),"
            " (acc, v) -> acc + v * v)"
        ).alias("energy"),
        F.expr(
            "aggregate(w0, CAST(0 AS BIGINT),"
            " (acc, v) -> acc + v * v)"
        ).alias("raw_energy"),
    )
    return final.select(
        F.posexplode("wf").alias("seq_idx", "coeff"),
        (F.col("energy") == F.lit(WHT_N) * F.col("raw_energy"))
        .cast("int")
        .alias("parseval_ok"),
    )




wht_spectrum.__doc__ = wht_spectrum.__doc__.format(n=WHT_N)




def oracle_wht(stages: int = 4) -> str:
    n = 1 << stages
    ctes = [
        f"""
wh_daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev
  FROM events GROUP BY 1
),
wh_first AS (
  SELECT rev, row_number() OVER (ORDER BY day) AS rn FROM wh_daily
  QUALIFY rn <= {n}
),
wh_a0 AS (
  SELECT list(rev ORDER BY rn) AS w0 FROM wh_first
)"""
    ]
    prev = "wh_a0"
    for s in range(stages):
        h = 1 << s
        ctes.append(
            f"""
wh_a{s + 1} AS MATERIALIZED (
  SELECT w0, list_transform(range({n}), i -> CASE
           WHEN (i // {h}) % 2 = 0
           THEN w{s}[i + 1] + w{s}[xor(i::BIGINT, {h}::BIGINT) + 1]
           ELSE w{s}[xor(i::BIGINT, {h}::BIGINT) + 1] - w{s}[i + 1]
         END) AS w{s + 1}
  FROM {prev}
)"""
        )
        prev = f"wh_a{s + 1}"
    ctes.append(
        f"""
wh_f AS (
  SELECT w{stages} AS wf,
         list_sum(list_transform(w{stages}, v -> v * v)) AS energy,
         list_sum(list_transform(w0, v -> v * v)) AS raw_energy
  FROM {prev}
),
wht_spectrum AS (
  SELECT CAST(t.i AS INT) AS seq_idx,
         CAST(wf[t.i + 1] AS BIGINT) AS coeff,
         CAST(energy = {n} * raw_energy AS INT) AS parseval_ok
  FROM wh_f, range({n}) t(i)
)"""
    )
    return ",".join(ctes)




# ---------------------------------------------------------------------------
# Haar multi-resolution energy decomposition (integer wavelets)
# ---------------------------------------------------------------------------

#: Haar block (2^4 days) and level count.
HAAR_N = 16


HAAR_LEVELS = 4




def haar_energy(events: DataFrame) -> DataFrame:
    """Unnormalized Haar wavelet energy by resolution level over the
    first {n}-day revenue block: level 1 details are day-pair
    differences (fastest variation), level 4 the coarsest — the
    multi-resolution variance decomposition that says WHICH timescale
    carries the volatility (the hierarchical reading the flat WHT
    sequency spectrum doesn't give). Unnormalized Haar keeps every
    approximation/detail coefficient an exact BIGINT (a+b / a−b per
    pair), so per-level energies hash-match.

    Each level halves the array (one checkpointed 1-row transform —
    the element_at inlining discipline from the WHT); fact-scale work
    is only the day collapse.

    Output per level: level, n_coeffs, detail_energy.
    """
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).alias("rev")
        )
    )
    w = Window.orderBy("day")
    first = (
        daily.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HAAR_N)
        .select("rn", "rev")
    )
    cur = _cut(first.groupBy().agg(
        F.expr(
            "transform(array_sort(collect_list(struct(rn, rev))),"
            " x -> x.rev)"
        ).alias("a0")
    ))
    for lv in range(1, HAAR_LEVELS + 1):
        m = HAAR_N >> lv
        cur = _cut(cur.select(
            "*",
            F.expr(
                f"transform(sequence(0, {m - 1}), i ->"
                f" element_at(a{lv - 1}, 2 * i + 1)"
                f" + element_at(a{lv - 1}, 2 * i + 2))"
            ).alias(f"a{lv}"),
            F.expr(
                f"aggregate(transform(sequence(0, {m - 1}), i ->"
                f" element_at(a{lv - 1}, 2 * i + 1)"
                f" - element_at(a{lv - 1}, 2 * i + 2)),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"
            ).alias(f"e{lv}"),
        ).select(
            f"a{lv}", *[f"e{j}" for j in range(1, lv + 1)]
        ))
    return cur.selectExpr(
        "stack({}, {}) AS (level, n_coeffs, detail_energy)".format(
            HAAR_LEVELS,
            ", ".join(
                f"{lv}, CAST({HAAR_N >> lv} AS BIGINT), e{lv}"
                for lv in range(1, HAAR_LEVELS + 1)
            ),
        )
    )




haar_energy.__doc__ = haar_energy.__doc__.format(n=HAAR_N)




def oracle_haar(levels: int = HAAR_LEVELS) -> str:
    n = HAAR_N
    ctes = [
        f"""
ha_daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev
  FROM events GROUP BY 1
),
ha_first AS (
  SELECT rev, row_number() OVER (ORDER BY day) AS rn FROM ha_daily
  QUALIFY rn <= {n}
),
ha_l0 AS (SELECT list(rev ORDER BY rn) AS a0 FROM ha_first)"""
    ]
    prev = "ha_l0"
    for lv in range(1, levels + 1):
        m = n >> lv
        ctes.append(
            f"""
ha_l{lv} AS MATERIALIZED (
  SELECT *,
         list_transform(range({m}), i ->
           a{lv - 1}[2 * i + 1] + a{lv - 1}[2 * i + 2]) AS a{lv},
         list_sum(list_transform(range({m}), i ->
           (a{lv - 1}[2 * i + 1] - a{lv - 1}[2 * i + 2])
           * (a{lv - 1}[2 * i + 1] - a{lv - 1}[2 * i + 2])))
           AS e{lv}
  FROM {prev}
)"""
        )
        prev = f"ha_l{lv}"
    arms = "\n  UNION ALL\n".join(
        f"  SELECT {lv} AS level, CAST({n >> lv} AS BIGINT) AS n_coeffs,"
        f" CAST(e{lv} AS BIGINT) AS detail_energy FROM {prev}"
        for lv in range(1, levels + 1)
    )
    ctes.append(f"""
haar_energy AS (
{arms}
)""")
    return ",".join(ctes)




# ---------------------------------------------------------------------------
# Cochran-Armitage trend test (conversion vs ordered engagement)
# ---------------------------------------------------------------------------


def trend_test(events: DataFrame) -> DataFrame:
    """Cochran-Armitage test for TREND in conversion across ordered
    engagement bins — the dose-response question the plain chi-square
    independence test wastes power on (chi2 sees any deviation; CA
    targets the monotone alternative a funnel owner actually cares
    about). Exposure score = capped view-count bin 0..7, outcome =
    converted (any purchase).

    Numerator A = sum_i x_i*(y_i*N - n_i*R) is pure integer
    (DECIMAL(38,0)/HUGEINT); Var(A/N) = R*(N-R)*C/N^3 with
    C = N*sum(n*x^2) - (sum n*x)^2 also integer-exact, evaluated as
    the same IEEE double product chain in both engines; z =
    (A/N)/sqrt(Var) is one rounded division (round 6). One
    user-grain pass + one 8-row bin agg.

    Output (1 row): n_users, n_converted, z_trend, increasing
    (z > 1.645 one-sided).
    """
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("views"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("y"),
    )
    bins = per_user.select(
        F.least(F.col("views"), F.lit(7)).cast("int").alias("x"), "y"
    ).groupBy("x").agg(
        F.count("*").alias("n"), F.sum("y").alias("yy")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = bins.agg(
        F.sum("n").alias("nn"),
        F.sum("yy").alias("rr"),
        F.sum(dec(F.col("x")) * dec(F.col("yy"))).alias("sxy"),
        F.sum(dec(F.col("x")) * dec(F.col("n"))).alias("sxn"),
        F.sum(
            dec(F.col("x")) * dec(F.col("x")) * dec(F.col("n"))
        ).alias("sxxn"),
    )
    a_num = dec(F.col("sxy")) * dec(F.col("nn")) - dec(
        F.col("sxn")
    ) * dec(F.col("rr"))
    c_term = (
        dec(F.col("nn")) * dec(F.col("sxxn"))
        - dec(F.col("sxn")) * dec(F.col("sxn"))
    ).cast("double")
    var = (
        F.col("rr").cast("double")
        * (F.col("nn") - F.col("rr")).cast("double")
        / F.col("nn").cast("double")
        * c_term
        / F.col("nn").cast("double")
        / F.col("nn").cast("double")
    )
    z = a_num.cast("double") / F.col("nn").cast("double") / F.sqrt(var)
    return agg.select(
        F.col("nn").alias("n_users"),
        F.col("rr").alias("n_converted"),
        F.round(z, 6).alias("z_trend"),
        (F.round(z, 6) > 1.645).alias("increasing"),
    )




ORACLE_TREND_TEST = """
tt_u AS (
  SELECT CAST(least(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                        END), 7) AS INT) AS x,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                  END) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
tt_b AS (
  SELECT x, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT)
           AS yy
  FROM tt_u GROUP BY 1
),
tt_a AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(yy) AS BIGINT) AS rr,
         CAST(sum(CAST(x AS HUGEINT) * yy) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * n) AS HUGEINT) AS sxn,
         CAST(sum(CAST(x AS HUGEINT) * x * n) AS HUGEINT) AS sxxn
  FROM tt_b
),
trend_test AS (
  SELECT nn AS n_users, rr AS n_converted,
         round((CAST(sxy * nn - sxn * rr AS DOUBLE)
                / CAST(nn AS DOUBLE))
               / sqrt(CAST(rr AS DOUBLE)
                      * CAST(nn - rr AS DOUBLE) / CAST(nn AS DOUBLE)
                      * CAST(nn * sxxn - sxn * sxn AS DOUBLE)
                      / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)),
               6) AS z_trend,
         round((CAST(sxy * nn - sxn * rr AS DOUBLE)
                / CAST(nn AS DOUBLE))
               / sqrt(CAST(rr AS DOUBLE)
                      * CAST(nn - rr AS DOUBLE) / CAST(nn AS DOUBLE)
                      * CAST(nn * sxxn - sxn * sxn AS DOUBLE)
                      / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)),
               6) > 1.645 AS increasing
  FROM tt_a
)
"""




# ---------------------------------------------------------------------------
# Kendall tau-b trend on the daily revenue series
# ---------------------------------------------------------------------------


def kendall_tau_daily(events: DataFrame) -> DataFrame:
    """Kendall tau-b rank correlation between calendar day and daily
    purchase revenue — the pair-counting twin of ``events_spearman``
    (which ranks): the normalized -1..1 CORRELATION COEFFICIENT with
    exact tie handling that the sibling ``events_robust_trend``
    (Mann-Kendall S + tie-corrected z + Theil-Sen slope) does not
    emit; its z_mk here is the textbook no-tie-correction form, kept
    beside tau_b because the two share the same three integers.

    EXACT INTEGER pair counting: the day-grain series (calendar-
    bounded, ~365 rows/year at ANY data scale) self-joins on
    d1 < d2 and every pair is classified concordant / discordant /
    revenue-tied by integer cent comparison — C, D, T are exact
    BIGINTs in both engines. Days are distinct so the x-tie term
    vanishes and tau_b = (C-D)/sqrt(n0*(n0-T)) with n0 = C+D+T; the
    Mann-Kendall normal z = (C-D)/sqrt(n(n-1)(2n+5)/18) shares the
    same integers. Both are one rounded division (round 6).

    Scale shape: ONE map-side-combinable day agg over the fact table
    is the only corpus-sized stage; the pair join is calendar² —
    bounded work forever. Output (1 row): n_days, concordant,
    discordant, tied_pairs, tau_b, z_mk, trending.
    """
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .alias("rev")
        )
    )
    a = daily.select(F.col("d").alias("d1"), F.col("rev").alias("r1"))
    b = daily.select(F.col("d").alias("d2"), F.col("rev").alias("r2"))
    pairs = a.join(b, F.col("d1") < F.col("d2"))
    m = pairs.agg(
        F.sum((F.col("r2") > F.col("r1")).cast("bigint")).alias("c"),
        F.sum((F.col("r2") < F.col("r1")).cast("bigint")).alias("dd"),
        F.sum((F.col("r2") == F.col("r1")).cast("bigint")).alias("t"),
    ).crossJoin(daily.agg(F.count("*").alias("nd")))
    n0 = F.col("c") + F.col("dd") + F.col("t")
    num = (F.col("c") - F.col("dd")).cast("double")
    tau = num / F.sqrt(
        n0.cast("double") * (n0 - F.col("t")).cast("double")
    )
    ndd = F.col("nd").cast("double")
    z = num / F.sqrt(
        ndd * (ndd - 1) * (2 * ndd + 5) / 18
    )
    return m.select(
        F.col("nd").alias("n_days"),
        F.col("c").alias("concordant"),
        F.col("dd").alias("discordant"),
        F.col("t").alias("tied_pairs"),
        F.round(tau, 6).alias("tau_b"),
        F.round(z, 6).alias("z_mk"),
        (F.abs(F.round(z, 6)) > 1.96).alias("trending"),
    )




ORACLE_KENDALL = """
kt_d AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
kt_m AS (
  SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(sum(CASE WHEN b.rev < a.rev THEN 1 ELSE 0 END)
              AS BIGINT) AS dd,
         CAST(sum(CASE WHEN b.rev = a.rev THEN 1 ELSE 0 END)
              AS BIGINT) AS t,
         (SELECT CAST(count(*) AS BIGINT) FROM kt_d) AS nd
  FROM kt_d a JOIN kt_d b ON a.d < b.d
),
kendall_tau_daily AS (
  SELECT nd AS n_days, c AS concordant, dd AS discordant,
         t AS tied_pairs,
         round(CAST(c - dd AS DOUBLE)
               / sqrt(CAST(c + dd + t AS DOUBLE)
                      * CAST(c + dd + t - t AS DOUBLE)), 6) AS tau_b,
         round(CAST(c - dd AS DOUBLE)
               / sqrt(CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) - 1)
                      * (2 * CAST(nd AS DOUBLE) + 5) / 18), 6)
           AS z_mk,
         abs(round(CAST(c - dd AS DOUBLE)
               / sqrt(CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) - 1)
                      * (2 * CAST(nd AS DOUBLE) + 5) / 18), 6)) > 1.96
           AS trending
  FROM kt_m
)
"""




# ---------------------------------------------------------------------------
# Dynamic time warping (clicks vs purchases daily-shape alignment)
# ---------------------------------------------------------------------------

#: DTW "infinity" border sentinel. Path costs are bounded by
#: calendar_len * max|a-b| (~3.7e14 even at 1e11 daily counts), so
#: 4e15 can never be chosen over a real path and INF + cost stays
#: far inside BIGINT.
DTW_INF = 4_000_000_000_000_000




def dtw_alignment(events: DataFrame) -> DataFrame:
    """Dynamic time warping distance between the daily CLICK and
    PURCHASE count series — "do purchases trace the same shape as
    clicks, allowing lag/stretch", where plain correlation
    (``events_type_corr``) and fixed-lag CCF (``events_ccf``) demand
    rigid alignment. Previously on the deferred ledger as
    "cross-dependent DP state"; resolved by the same two moves as
    the Wagner-Whitin kernel:

    ENGINE: the DP D(i,j) = |a_i-b_j| + min(D(i-1,j), D(i,j-1),
    D(i-1,j-1)) runs as a packed-array kernel — both day-grain
    series pack into arrays (calendar-bounded at ANY corpus scale)
    and nested higher-order aggregates build the DP rows executor-
    side, O(n*m) exact BIGINT ops, one job. ORACLE: DuckDB replays
    the DP as a WAVEFRONT recursion — antidiagonal k has no
    intra-diagonal dependency, so a recursive CTE advances one
    diagonal per step carrying two diagonals of (i, j, d) rows (the
    classic systolic-array DTW schedule, here in pure SQL). Both
    sides are exact integers, so the hash gate proves the two
    schedules compute the same warp distance.

    The corpus-sized work is one (date, type) hash-agg. Output
    (1 row): n_a, n_b, dtw_cost (sum of |count gaps| along the
    optimal warp path).
    """
    def _daily(ty: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == ty)
            .groupBy(F.to_date("ts").alias("d"))
            .agg(F.count("*").alias("cnt"))
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("d", "cnt"))
                ).alias("s")
            )
            .select(F.expr("transform(s, x -> x.cnt)"))
        )

    # Empty-series guard (review finding): a zero-row side packs to
    # an empty array and the DP fold would index element_at(av, 0);
    # dropping the degenerate row yields 0 rows — matching the
    # oracle, whose final diagonal (n, m) never materializes when
    # either list is NULL/empty.
    packed = (
        _daily("click")
        .toDF("av")
        .crossJoin(_daily("purchase").toDF("bv"))
        .filter(F.expr("size(av) > 0 AND size(bv) > 0"))
    )
    inf = f"cast({DTW_INF} as bigint)"
    dp = packed.select(
        F.expr("size(av)").alias("n_a"),
        F.expr("size(bv)").alias("n_b"),
        F.expr(
            "aggregate(sequence(1, size(av)),"
            f" concat(array(cast(0 as bigint)),"
            f"  transform(sequence(1, size(bv)), x -> {inf})),"
            " (prev, i) -> aggregate(sequence(1, size(bv)),"
            f"  array({inf}),"
            "  (r, j) -> array_append(r,"
            "   abs(element_at(av, i) - element_at(bv, j))"
            "   + least(element_at(prev, j + 1), element_at(prev, j),"
            "           element_at(r, -1)))))"
        ).alias("row"),
    )
    return dp.select(
        "n_a",
        "n_b",
        F.expr("element_at(row, n_b + 1)").alias("dtw_cost"),
    )




ORACLE_DTW = f"""
dtw_a AS (
  SELECT list(cnt ORDER BY d) AS av FROM (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS cnt
    FROM events WHERE event_type = 'click' GROUP BY 1)
),
dtw_b AS (
  SELECT list(cnt ORDER BY d) AS bv FROM (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS cnt
    FROM events WHERE event_type = 'purchase' GROUP BY 1)
),
dtw_ab AS (
  SELECT av, bv, len(av) AS n, len(bv) AS m FROM dtw_a, dtw_b
),
dtw_rec AS (
  SELECT * FROM (VALUES
    (1, 0, 0, CAST(0 AS BIGINT)),
    (0, 1, 0, CAST({DTW_INF} AS BIGINT)),
    (0, 0, 1, CAST({DTW_INF} AS BIGINT))) AS t(age, i, j, d)
  UNION ALL
  SELECT u.age, u.ci AS i, u.cj AS j,
         CASE WHEN u.age = 1 THEN min(w.d)
              WHEN u.ci = 0 OR u.cj = 0 THEN CAST({DTW_INF} AS BIGINT)
              ELSE abs(ab.av[u.ci] - ab.bv[u.cj]) + min(w.d) END AS d
  FROM dtw_rec w
  CROSS JOIN dtw_ab ab
  CROSS JOIN UNNEST(
    CASE WHEN w.age = 0 THEN [
      {{'age': 0, 'ci': w.i + 1, 'cj': w.j}},
      {{'age': 0, 'ci': w.i, 'cj': w.j + 1}},
      {{'age': 1, 'ci': w.i, 'cj': w.j}}]
    ELSE [{{'age': 0, 'ci': w.i + 1, 'cj': w.j + 1}}] END) AS t(u)
  WHERE u.ci <= ab.n AND u.cj <= ab.m
        AND NOT (u.age = 1 AND w.i + w.j >= ab.n + ab.m)
  GROUP BY u.age, u.ci, u.cj, ab.av, ab.bv, ab.n, ab.m
),
dtw_alignment AS (
  SELECT ab.n AS n_a, ab.m AS n_b, w.d AS dtw_cost
  FROM dtw_rec w, dtw_ab ab
  WHERE w.age = 0 AND w.i = ab.n AND w.j = ab.m
)
"""




# ---------------------------------------------------------------------------
# record-value test (trend detection by counting record days)
# ---------------------------------------------------------------------------


def record_days_test(events: DataFrame) -> DataFrame:
    """Record-value trend test on daily revenue: count the days that
    set a new all-time high. Under exchangeability (no trend) the
    expected record count is the harmonic number H_n and
    Var = H_n - H_n^(2), both distribution-FREE — so an excess of
    records is trend evidence that needs no magnitude assumptions at
    all, the third leg beside Mann-Kendall (pair signs,
    ``events_robust_trend``) and runs (``events_runs_test``).

    Zero windows: the day-grain series packs into one sorted array
    (calendar-bounded at any corpus scale) and the running-max fold
    counts records executor-side; H_n and H_n^(2) fold over
    sequence(1, n) in the same order in both engines (DuckDB replays
    the record count with a MAX OVER and the harmonic sums with
    list_transform — same IEEE additions). The first day is a record
    by convention (H_n includes the i=1 term).

    Output (1 row): n_days, n_records, expected, z, trending
    (one-sided z > 1.645).
    """
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .alias("rev")
        )
    )
    packed = daily.agg(
        F.sort_array(F.collect_list(F.struct("d", "rev"))).alias("s")
    )
    m = packed.select(
        F.expr("size(s)").alias("n"),
        F.expr(
            "aggregate(s,"
            " named_struct('mx', cast(-1 as bigint),"
            "              'r', cast(0 as bigint)),"
            " (acc, x) -> named_struct("
            "  'mx', greatest(acc.mx, x.rev),"
            "  'r', acc.r + if(x.rev > acc.mx, 1, 0))).r"
        ).alias("n_records"),
        F.expr(
            "aggregate(sequence(1, size(s)), cast(0.0 as double),"
            " (a, i) -> a + 1.0 / i)"
        ).alias("h1"),
        F.expr(
            "aggregate(sequence(1, size(s)), cast(0.0 as double),"
            " (a, i) -> a + 1.0 / (cast(i as double) * i))"
        ).alias("h2"),
    )
    z = (F.col("n_records").cast("double") - F.col("h1")) / F.sqrt(
        F.col("h1") - F.col("h2")
    )
    return m.select(
        F.col("n").alias("n_days"),
        "n_records",
        F.round(F.col("h1"), 6).alias("expected"),
        F.round(z, 6).alias("z"),
        (F.round(z, 6) > 1.645).alias("trending"),
    )




ORACLE_RECORDS = """
rd_d AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
rd_f AS (
  SELECT CASE WHEN rev > coalesce(max(rev) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         THEN 1 ELSE 0 END AS isrec
  FROM rd_d
),
rd_r AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(isrec) AS BIGINT) AS n_records
  FROM rd_f
),
rd_h AS (
  SELECT n, n_records,
         list_aggregate(list_transform(range(1, n + 1),
           i -> 1.0 / i), 'sum') AS h1,
         list_aggregate(list_transform(range(1, n + 1),
           i -> 1.0 / (CAST(i AS DOUBLE) * i)), 'sum') AS h2
  FROM rd_r
),
record_days_test AS (
  SELECT n AS n_days, n_records, round(h1, 6) AS expected,
         round((CAST(n_records AS DOUBLE) - h1) / sqrt(h1 - h2), 6)
           AS z,
         round((CAST(n_records AS DOUBLE) - h1) / sqrt(h1 - h2), 6)
           > 1.645 AS trending
  FROM rd_h
)
"""




# ---------------------------------------------------------------------------
# turning-points randomness test (local extrema count)
# ---------------------------------------------------------------------------


def turning_points_test(events: DataFrame) -> DataFrame:
    """Turning-points test of the daily revenue series: count the
    interior days that are strict local maxima or minima. An i.i.d.
    series has E[T] = 2(n-2)/3 and Var[T] = (16n-29)/90 — too FEW
    turning points means momentum/trend, too MANY means oscillation
    (negative autocorrelation); the classic Kendall randomness check
    beside runs (``events_runs_test``, signs vs median) and records
    (``events_record_days``, all-time highs). Plateaus (a day equal
    to a neighbor) are not turning points under the strict-extremum
    convention (documented; exact in integer cents).

    Zero windows: the calendar-bounded day series packs into one
    sorted array and the triple scan is a single higher-order filter;
    the moments are closed forms of n. Output (1 row): n_days,
    n_turning, expected, z, nonrandom (|z| > 1.96).
    """
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .alias("rev")
        )
    )
    packed = daily.agg(
        F.sort_array(F.collect_list(F.struct("d", "rev"))).alias("s")
    )
    m = packed.select(
        F.expr("size(s)").alias("n"),
        F.expr(
            "size(filter(sequence(2, size(s) - 1), i ->"
            " (s[i - 1].rev > s[i - 2].rev"
            "  AND s[i - 1].rev > s[i].rev)"
            " OR (s[i - 1].rev < s[i - 2].rev"
            "     AND s[i - 1].rev < s[i].rev)))"
        ).cast("bigint").alias("t"),
    )
    nd = F.col("n").cast("double")
    exp_t = 2 * (nd - 2) / 3
    var_t = (16 * nd - 29) / 90
    z = (F.col("t").cast("double") - exp_t) / F.sqrt(var_t)
    return m.select(
        F.col("n").alias("n_days"),
        F.col("t").alias("n_turning"),
        F.round(exp_t, 6).alias("expected"),
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > 1.96).alias("nonrandom"),
    )




ORACLE_TURNING = """
tp_d AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
tp_l AS (
  SELECT rev,
         lag(rev) OVER (ORDER BY d) AS prev,
         lead(rev) OVER (ORDER BY d) AS nxt
  FROM tp_d
),
tp_m AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM tp_d) AS n,
         CAST(sum(CASE WHEN (rev > prev AND rev > nxt)
                         OR (rev < prev AND rev < nxt)
                  THEN 1 ELSE 0 END) AS BIGINT) AS t
  FROM tp_l WHERE prev IS NOT NULL AND nxt IS NOT NULL
),
turning_points_test AS (
  SELECT n AS n_days, t AS n_turning,
         round(2 * (CAST(n AS DOUBLE) - 2) / 3, 6) AS expected,
         round((CAST(t AS DOUBLE)
                - 2 * (CAST(n AS DOUBLE) - 2) / 3)
               / sqrt((16 * CAST(n AS DOUBLE) - 29) / 90), 6) AS z,
         abs(round((CAST(t AS DOUBLE)
                - 2 * (CAST(n AS DOUBLE) - 2) / 3)
               / sqrt((16 * CAST(n AS DOUBLE) - 29) / 90), 6)) > 1.96
           AS nonrandom
  FROM tp_m
)
"""




# ---------------------------------------------------------------------------
# Durbin-Watson first-order autocorrelation test (round 7)
# ---------------------------------------------------------------------------

#: rule-of-thumb DW bands: < 1.5 positive autocorrelation, > 2.5
#: negative (the exact dL/dU bounds depend on n and regressor count —
#: a table lookup, not an expression; the bands are the standard
#: practitioners' screen).
DW_POS_BAND = 1.5


DW_NEG_BAND = 2.5




def durbin_watson(events: DataFrame) -> DataFrame:
    """Durbin-Watson statistic of the daily purchase-revenue series
    (deviations from its own mean — the null-model residuals):
    DW = sum (x_t - x_{t-1})^2 / sum (x_t - xbar)^2, the classic
    first-order serial-correlation screen that complements the
    ACF/Ljung-Box report (``events_acf``) with the single-number
    regression-residual diagnostic (DW ~ 2(1 - rho1)).

    EXACT until the last division: both quadratic forms assemble from
    integer cent sums as DECIMAL(38,0) — numerator n*ssd, denominator
    n*Q - S^2 (the n-scaled centered sum of squares, so the mean
    never materializes as a rational). Overflow envelope: n*Q < 1e38
    holds while daily sums stay under ~1.5e17 cents at a 10-year
    calendar — same decade analysis as SCALE.md's changepoint
    section, same rescaling rule beyond it.

    One corpus pass to day grain; the lag-1 difference rides a
    calendar-bounded ordered window (the acf_report stance).
    Output (1 row): n_days, dw, positive_autocorr, negative_autocorr.
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("value") * 100, 0).cast("bigint")
            ).alias("x")
        )
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "x", (F.col("x") - F.lag("x", 1).over(w)).alias("d")
    )
    m = lagged.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("q"),
        F.sum(dec(F.col("d")) * dec(F.col("d"))).alias("ssd"),
    )
    num = dec(F.col("n")) * F.col("ssd")
    den = dec(F.col("n")) * F.col("q") - dec(F.col("s")) * dec(
        F.col("s")
    )
    dw = F.round(num.cast("double") / den.cast("double"), 6)
    return m.select(
        F.col("n").alias("n_days"),
        dw.alias("dw"),
        (dw < DW_POS_BAND).alias("positive_autocorr"),
        (dw > DW_NEG_BAND).alias("negative_autocorr"),
    )




ORACLE_DURBIN_WATSON = f"""
dwt_d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
dwt_l AS (
  SELECT x, x - lag(x) OVER (ORDER BY day) AS d FROM dwt_d
),
dwt_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q,
         CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS ssd
  FROM dwt_l
),
durbin_watson AS (
  SELECT n AS n_days,
         round(CAST(n * ssd AS DOUBLE)
               / CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE), 6)
           AS dw,
         round(CAST(n * ssd AS DOUBLE)
               / CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE), 6)
           < {DW_POS_BAND} AS positive_autocorr,
         round(CAST(n * ssd AS DOUBLE)
               / CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE), 6)
           > {DW_NEG_BAND} AS negative_autocorr
  FROM dwt_m
)
"""




# ---------------------------------------------------------------------------
# Page's trend test over the 7-day revenue cycle (round 7)
# ---------------------------------------------------------------------------

PAGE_CYCLE = 7




def page_trend(events: DataFrame) -> DataFrame:
    """Page's L test for an ORDERED alternative: does daily purchase
    revenue trend monotonically across the 7-day cycle? Friedman
    (``events_friedman``) only answers "are the positions different";
    Page's L = sum_j j*R_j weights the within-block ranks by the
    hypothesized order and so has power specifically against
    monotone trends.

    Blocks are consecutive 7-day calendar windows from the first
    event day over the GAPFILLED calendar (absent days enter as 0
    revenue — a sequence() explode, calendar-bounded), keeping only
    complete blocks; position j = 1..7 within the block. Ranks use
    the same doubled-midrank k^2-per-block grid as Friedman (exact
    integers), so L2 = sum j*2R_j is a BIGINT; the normal
    approximation z = (L2 - b*k(k+1)^2/2) / sqrt(b*k^2(k+1)(k^2-1)/36)
    assembles in doubles (midrank ties use the untied-variance
    formula — the standard practical convention, documented).

    One corpus pass to day grain; everything after is
    calendar-bounded grid algebra, no windows. Output (1 row):
    n_blocks, k, l2_stat, z, increasing, decreasing (one-sided 1.645
    both ways).
    """
    k = PAGE_CYCLE
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("value") * 100, 0).cast("bigint")
            ).alias("x")
        )
    )
    span = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        F.explode(F.expr("sequence(d0, d1)")).alias("day"), "d0"
    )
    grid = (
        cal.join(daily, "day", "left")
        .select(
            F.floor(F.datediff("day", "d0") / k).alias("blk"),
            (F.datediff("day", "d0") % k + 1).alias("pos"),
            F.coalesce("x", F.lit(0)).alias("x"),
        )
    )
    full = grid.groupBy("blk").agg(F.count("*").alias("c")).filter(
        F.col("c") == k
    ).select("blk")
    g = grid.join(full, "blk", "leftsemi")
    other = g.select(
        F.col("blk").alias("b2"), F.col("x").alias("x2")
    )
    r2 = (
        g.join(other, F.col("blk") == F.col("b2"))
        .groupBy("blk", "pos", "x")
        .agg(
            (
                2 * F.sum((F.col("x2") < F.col("x")).cast("bigint"))
                + F.sum((F.col("x2") == F.col("x")).cast("bigint"))
                + 1
            ).alias("r2")
        )
    )
    m = r2.agg(
        F.countDistinct("blk").alias("b"),
        F.sum(F.col("pos") * F.col("r2")).alias("l2"),
    )
    bd = F.col("b").cast("double")
    e2 = bd * k * (k + 1) * (k + 1) / 2.0
    var2 = bd * k * k * (k + 1) * (k * k - 1) / 36.0
    z = F.round((F.col("l2") - e2) / F.sqrt(var2), 6)
    return m.select(
        F.col("b").alias("n_blocks"),
        F.lit(k).alias("k"),
        F.col("l2").alias("l2_stat"),
        z.alias("z"),
        (z > 1.645).alias("increasing"),
        (z < -1.645).alias("decreasing"),
    )




ORACLE_PAGE_TREND = f"""
pg_d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
pg_span AS (SELECT min(day) AS d0, max(day) AS d1 FROM pg_d),
pg_cal AS (
  SELECT unnest(generate_series(s.d0, s.d1,
                                INTERVAL 1 DAY))::DATE AS day, s.d0
  FROM pg_span s
),
pg_grid AS (
  SELECT CAST(datediff('day', c.d0, c.day) // {PAGE_CYCLE}
              AS BIGINT) AS blk,
         CAST(datediff('day', c.d0, c.day) % {PAGE_CYCLE} + 1
              AS BIGINT) AS pos,
         coalesce(d.x, 0) AS x
  FROM pg_cal c LEFT JOIN pg_d d ON d.day = c.day
),
pg_full AS (
  SELECT blk FROM pg_grid GROUP BY 1
  HAVING count(*) = {PAGE_CYCLE}
),
pg_g AS (
  SELECT g.* FROM pg_grid g
  WHERE EXISTS (SELECT 1 FROM pg_full f WHERE f.blk = g.blk)
),
pg_r2 AS (
  SELECT g.blk, g.pos, g.x,
         2 * CAST(sum(CASE WHEN o.x < g.x THEN 1 ELSE 0 END)
                  AS BIGINT)
         + CAST(sum(CASE WHEN o.x = g.x THEN 1 ELSE 0 END)
                AS BIGINT) + 1 AS r2
  FROM pg_g g JOIN pg_g o ON g.blk = o.blk
  GROUP BY 1, 2, 3
),
pg_m AS (
  SELECT CAST(count(DISTINCT blk) AS BIGINT) AS b,
         CAST(sum(pos * r2) AS BIGINT) AS l2
  FROM pg_r2
),
page_trend AS (
  SELECT b AS n_blocks, CAST({PAGE_CYCLE} AS INT) AS k,
         l2 AS l2_stat,
         round((l2 - CAST(b AS DOUBLE) * {PAGE_CYCLE}
                * {PAGE_CYCLE + 1} * {PAGE_CYCLE + 1} / 2.0)
               / sqrt(CAST(b AS DOUBLE) * {PAGE_CYCLE * PAGE_CYCLE}
                      * {PAGE_CYCLE + 1}
                      * {PAGE_CYCLE * PAGE_CYCLE - 1} / 36.0), 6)
           AS z,
         round((l2 - CAST(b AS DOUBLE) * {PAGE_CYCLE}
                * {PAGE_CYCLE + 1} * {PAGE_CYCLE + 1} / 2.0)
               / sqrt(CAST(b AS DOUBLE) * {PAGE_CYCLE * PAGE_CYCLE}
                      * {PAGE_CYCLE + 1}
                      * {PAGE_CYCLE * PAGE_CYCLE - 1} / 36.0), 6)
           > 1.645 AS increasing,
         round((l2 - CAST(b AS DOUBLE) * {PAGE_CYCLE}
                * {PAGE_CYCLE + 1} * {PAGE_CYCLE + 1} / 2.0)
               / sqrt(CAST(b AS DOUBLE) * {PAGE_CYCLE * PAGE_CYCLE}
                      * {PAGE_CYCLE + 1}
                      * {PAGE_CYCLE * PAGE_CYCLE - 1} / 36.0), 6)
           < -1.645 AS decreasing
  FROM pg_m
)
"""




# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis (round 7)
# ---------------------------------------------------------------------------

#: dyadic R/S window sizes (days). Data-independent grid; windows
#: with fewer than 2 complete blocks at the fixture span simply drop
#: out of the regression (mirrored in the oracle).
HURST_WINDOWS = (8, 16, 32)




def hurst_exponent(events: DataFrame) -> DataFrame:
    """Hurst exponent of daily purchase revenue by classic rescaled-
    range analysis: split the (gapfilled) day series into complete
    blocks of w days for each dyadic w, compute R/S per block
    (range of cumulative mean-deviations over the block sd), and
    regress log2(mean R/S) on log2(w) — H > 0.5 long-range
    persistence, H < 0.5 mean reversion, the fractal complement to
    the ACF's fixed-lag view.

    Integer-exact core: within a block of size w, the w-scaled
    cumulative deviation at step j is the BIGINT w*cum_j - j*S_w, so
    R*w = max - min is exact and S^2 assembles from integer moments;
    only the final R/S, log2 and the 3-point OLS slope are doubles,
    rounded 6 dp. Per-block prefix sums ride (w, block)-partitioned
    windows — w-bounded by the declared grid, zero global windows.

    One corpus pass to day grain, then |grid| x days bounded algebra.
    Output (1 row): n_days, n_points, hurst, persistent.
    """
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("value") * 100, 0).cast("bigint")
            ).alias("x")
        )
    )
    span = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        F.explode(F.expr("sequence(d0, d1)")).alias("day"), "d0"
    )
    ser = cal.join(daily, "day", "left").select(
        F.datediff("day", "d0").alias("idx"),
        F.coalesce("x", F.lit(0)).alias("x"),
    )
    n_days = ser.groupBy().agg(F.count("*").alias("n_days"))
    arms = ser.select(
        "idx",
        "x",
        F.explode(
            F.array(*[F.lit(w) for w in HURST_WINDOWS])
        ).alias("w"),
    ).select(
        "w",
        F.floor(F.col("idx") / F.col("w")).alias("blk"),
        (F.col("idx") % F.col("w") + 1).alias("j"),
        "x",
    )
    full = (
        arms.groupBy("w", "blk")
        .agg(F.count("*").alias("c"), F.sum("x").alias("sw"))
        .filter(F.col("c") == F.col("w"))
        .select("w", "blk", "sw")
    )
    win = (
        Window.partitionBy("w", "blk")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = (
        arms.join(full, ["w", "blk"])
        .select(
            "w",
            "blk",
            "j",
            "x",
            "sw",
            (
                F.col("w") * F.sum("x").over(win)
                - F.col("j") * F.col("sw")
            ).alias("cumdev_w"),
        )
    )
    decc = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    blocks = dev.groupBy("w", "blk").agg(
        (
            (F.greatest(F.max("cumdev_w"), F.lit(0))
             - F.least(F.min("cumdev_w"), F.lit(0))).cast("double")
            / F.col("w").cast("double")
        ).alias("r"),
        # population sd from EXACT integer moments (a double x^2 sum
        # loses integer exactness past 2^53)
        F.sqrt(
            F.sum(decc(F.col("x")) * decc(F.col("x"))).cast("double")
            / F.col("w").cast("double")
            - (F.max("sw").cast("double") / F.col("w"))
            * (F.max("sw").cast("double") / F.col("w"))
        ).alias("s"),
    )
    per_w = (
        blocks.filter(F.col("s") > 0)
        .groupBy("w")
        .agg(F.avg(F.col("r") / F.col("s")).alias("rs"))
        .filter(F.col("rs") > 0)
        .select(
            F.log2("w").alias("lx"), F.log2("rs").alias("ly")
        )
    )
    reg = per_w.agg(
        F.count("*").alias("np"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    npd = F.col("np").cast("double")
    h = F.round(
        (npd * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (npd * F.col("sxx") - F.col("sx") * F.col("sx")),
        6,
    )
    return reg.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        F.col("np").alias("n_points"),
        h.alias("hurst"),
        (h > 0.5).alias("persistent"),
    )




def _oracle_hurst() -> str:
    ws = ", ".join(str(w) for w in HURST_WINDOWS)
    return f"""
hu_d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
hu_span AS (SELECT min(day) AS d0, max(day) AS d1 FROM hu_d),
hu_ser AS (
  SELECT CAST(datediff('day', s.d0, c.day) AS BIGINT) AS idx,
         coalesce(d.x, 0) AS x
  FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
               AS day, d0
        FROM hu_span) c(day, d0)
  CROSS JOIN hu_span s
  LEFT JOIN hu_d d ON d.day = c.day
),
hu_n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM hu_ser),
hu_arms AS (
  SELECT w, idx // w AS blk, idx % w + 1 AS j, x
  FROM hu_ser, unnest([{ws}]) AS t(w)
),
hu_full AS (
  SELECT w, blk, CAST(sum(x) AS BIGINT) AS sw
  FROM hu_arms GROUP BY 1, 2 HAVING count(*) = w
),
hu_dev AS (
  SELECT a.w, a.blk, a.j, a.x, f.sw,
         a.w * CAST(sum(a.x) OVER (PARTITION BY a.w, a.blk
                 ORDER BY a.j ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS BIGINT)
           - a.j * f.sw AS cumdev_w
  FROM hu_arms a JOIN hu_full f ON a.w = f.w AND a.blk = f.blk
),
hu_blocks AS (
  SELECT w, blk,
         CAST(greatest(max(cumdev_w), 0)
              - least(min(cumdev_w), 0) AS DOUBLE)
           / CAST(w AS DOUBLE) AS r,
         sqrt(CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE)
              / CAST(w AS DOUBLE)
              - (CAST(max(sw) AS DOUBLE) / w)
                * (CAST(max(sw) AS DOUBLE) / w)) AS s
  FROM hu_dev GROUP BY 1, 2
),
hu_pw AS (
  SELECT log2(CAST(w AS DOUBLE)) AS lx, log2(rs) AS ly
  FROM (SELECT w, avg(r / s) AS rs FROM hu_blocks
        WHERE s > 0 GROUP BY 1)
  WHERE rs > 0
),
hu_reg AS (
  SELECT CAST(count(*) AS BIGINT) AS np,
         sum(lx) AS sx, sum(ly) AS sy,
         sum(lx * ly) AS sxy, sum(lx * lx) AS sxx
  FROM hu_pw
),
hurst_exponent AS (
  SELECT n.n_days, r.np AS n_points,
         round((CAST(r.np AS DOUBLE) * r.sxy - r.sx * r.sy)
               / (CAST(r.np AS DOUBLE) * r.sxx - r.sx * r.sx), 6)
           AS hurst,
         round((CAST(r.np AS DOUBLE) * r.sxy - r.sx * r.sy)
               / (CAST(r.np AS DOUBLE) * r.sxx - r.sx * r.sx), 6)
           > 0.5 AS persistent
  FROM hu_reg r, hu_n n
)
"""




ORACLE_HURST = _oracle_hurst()




# ---------------------------------------------------------------------------
# daily periodogram at fixed integer periods (round 8)
# ---------------------------------------------------------------------------

#: candidate cycle lengths, in days. Integer periods over the
#: calendar-bounded day index keep every trig argument 2*pi*d/P an
#: identical double in both engines.
PERIODOGRAM_PERIODS = tuple(range(2, 15))




def periodogram_daily(events: DataFrame) -> DataFrame:
    """Direct-sum power spectrum of the DAILY purchase-count series at
    fixed integer periods (2..14 days) — the "which weekly/biweekly
    cycle dominates" readout that closes the seasonality ladder above
    the Rayleigh uniformity gate (is there a daily rhythm) and the STL
    decomposition. This retires the r6/r7 DFT deferral: the deferral
    reasoned that an irrational trig basis breaks the cross-engine
    hash, but ``rayleigh_hour`` (round 7) established the packed
    same-IEEE trig-fold protocol — the corpus collapses to an exact
    integer day-count series, and the only doubles are T identical
    cos/sin terms folded in identical (day-sorted) order in both
    engines (the record-days protocol).

    Per period P: C = sum_d (x_d - mu) cos(2 pi d / P), S = likewise
    with sin, power I_P = (C^2 + S^2) / T — the classic periodogram of
    the MEAN-CENTERED series (centering removes the DC term that would
    otherwise swamp every bin). The day series is gap-filled over the
    full calendar span (a zero-purchase day is a real observation, and
    skipping it would shift every later phase), x_d and T are exact
    BIGINTs, and mu = total/T is the single shared double.

    Scale: one day-grain hash-agg (calendar-bounded — SCALE.md's
    bounded-grain argument: days do not grow with row count), then a
    13-row period frame folding over the packed array on one executor.
    At 100 TB the day table is still tiny; the fold cost is
    |periods| * T multiply-adds. Output per period: period, c_term,
    s_term, power, is_peak.
    """
    pd_ = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("c"))
    )
    bounds = pd_.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = bounds.select(
        F.explode(F.expr("sequence(d0, d1)")).alias("day"), "d0"
    )
    daily = cal.join(pd_, "day", "left").select(
        F.datediff("day", "d0").cast("bigint").alias("d"),
        F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
    )
    packed = daily.agg(
        F.sort_array(F.collect_list(F.struct("d", "c"))).alias("s"),
        F.sum("c").alias("tot"),
        F.count("*").alias("t"),
    )
    per = packed.select(
        "s",
        "t",
        (F.col("tot").cast("double") / F.col("t").cast("double")).alias(
            "mu"
        ),
        F.explode(
            F.array(*[F.lit(p) for p in PERIODOGRAM_PERIODS])
        ).alias("period"),
    )
    folded = per.select(
        "period",
        "t",
        F.expr(
            "aggregate(s, cast(0.0 as double),"
            " (a, x) -> a + (x.c - mu) * cos(2 * pi() * x.d / period))"
        ).alias("cc"),
        F.expr(
            "aggregate(s, cast(0.0 as double),"
            " (a, x) -> a + (x.c - mu) * sin(2 * pi() * x.d / period))"
        ).alias("ss"),
    )
    # + 0.0 normalizes IEEE -0.0 (record-days convention: a tiny
    # negative rounds to -0.0 in one engine, +0.0 in the other).
    pw = folded.select(
        "period",
        (F.round("cc", 6) + 0.0).alias("c_term"),
        (F.round("ss", 6) + 0.0).alias("s_term"),
        F.round(
            (F.col("cc") * F.col("cc") + F.col("ss") * F.col("ss"))
            / F.col("t").cast("double"),
            6,
        ).alias("power"),
    )
    mx = pw.agg(F.max("power").alias("pmax"))
    return pw.crossJoin(F.broadcast(mx)).select(
        "period",
        "c_term",
        "s_term",
        "power",
        (F.col("power") == F.col("pmax")).alias("is_peak"),
    )




ORACLE_PERIODOGRAM = f"""
pg_d AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
pg_b AS (SELECT min(day) AS d0, max(day) AS d1 FROM pg_d),
pg_cal AS (
  SELECT CAST(u.day AS DATE) AS day, b.d0
  FROM pg_b b, unnest(generate_series(CAST(b.d0 AS TIMESTAMP),
                                      CAST(b.d1 AS TIMESTAMP),
                                      INTERVAL 1 DAY)) AS u(day)
),
pg_daily AS (
  SELECT CAST(date_diff('day', c.d0, c.day) AS BIGINT) AS d,
         CAST(coalesce(p.c, 0) AS BIGINT) AS c
  FROM pg_cal c LEFT JOIN pg_d p USING (day)
),
pg_pack AS (
  SELECT list({{'d': d, 'c': c}} ORDER BY d) AS s,
         CAST(sum(c) AS BIGINT) AS tot,
         CAST(count(*) AS BIGINT) AS t
  FROM pg_daily
),
pg_per AS (
  SELECT s, t, CAST(tot AS DOUBLE) / t AS mu, pp.period
  FROM pg_pack,
       (SELECT unnest([{", ".join(str(p) for p in PERIODOGRAM_PERIODS)}])
          AS period) pp
),
pg_f AS (
  SELECT period, t,
         list_aggregate(list_transform(s,
           x -> (x.c - mu) * cos(2 * pi() * x.d / period)), 'sum') AS cc,
         list_aggregate(list_transform(s,
           x -> (x.c - mu) * sin(2 * pi() * x.d / period)), 'sum') AS ss
  FROM pg_per
),
pg_pw AS (
  SELECT period, round(cc, 6) + 0.0 AS c_term,
         round(ss, 6) + 0.0 AS s_term,
         round((cc * cc + ss * ss) / t, 6) AS power
  FROM pg_f
),
events_periodogram AS (
  SELECT period, c_term, s_term, power,
         power = (SELECT max(power) FROM pg_pw) AS is_peak
  FROM pg_pw
)
"""




# ---------------------------------------------------------------------------
# per-user bounded-capacity LRU hit-rate simulation (round 8)
# ---------------------------------------------------------------------------

#: cache capacities to report — the cache-sizing curve.
LRU_CAPACITIES = (1, 2, 4, 8)




def lru_hitrate(events: DataFrame) -> DataFrame:
    """Per-user capacity-k LRU cache simulation over each user's
    time-ordered item-access sequence (item = the ``props`` JSON
    payload's ``k`` field — the event's object id), reporting the
    corpus hit rate per capacity in {1, 2, 4, 8} — the cache-sizing
    readout a serving team asks of an access log ("how big must the
    per-session cache be before hit rate plateaus"). This retires the
    deferred-ledger LRU entry: the GLOBAL-sequence variant stays
    parked (one unbounded fold over the whole corpus), but the
    per-user sequence is key-bounded — exactly the legitimacy argument
    the shipped DTW/Needleman-Wunsch packed-array kernels rely on.

    The simulation is an exact integer fold: each user's item array
    (sorted by ts, event_id — ts is unique per user in the fixtures,
    the tiebreak is for safety) is folded once per capacity with an
    (lru-list, hits) accumulator — hit moves the item to the front,
    miss prepends and truncates to capacity. Zero doubles anywhere
    except the final hit_rate division, mirrored 6 dp.

    Scale: one (user, item-array) hash-agg — per-user arrays are
    session-bounded, the same grain every sequence kernel here uses —
    then |capacities| folds per user, each O(len * capacity) with
    capacity <= 8. The oracle replays the identical automaton as a
    recursive CTE. Output per capacity: capacity, n_refs, hits,
    hit_rate.
    """
    seq = events.select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
    )
    per_user = seq.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ts, event_id,"
            " item))), x -> x.item)"
        ).alias("items")
    )
    caps = per_user.select(
        "items",
        F.explode(
            F.array(*[F.lit(k) for k in LRU_CAPACITIES])
        ).alias("capacity"),
    )
    folded = caps.select(
        "capacity",
        F.size("items").cast("bigint").alias("refs"),
        F.expr(
            "aggregate(items,"
            " named_struct('q', cast(array() as array<bigint>),"
            "              'h', cast(0 as bigint)),"
            " (acc, x) -> if(array_contains(acc.q, x),"
            "   named_struct('q', concat(array(x),"
            "                            filter(acc.q, e -> e != x)),"
            "                'h', acc.h + 1L),"
            "   named_struct('q', slice(concat(array(x), acc.q), 1,"
            "                           capacity),"
            "                'h', acc.h)),"
            " acc -> acc.h)"
        ).alias("hits"),
    )
    out = folded.groupBy("capacity").agg(
        F.sum("refs").alias("n_refs"), F.sum("hits").alias("hits")
    )
    return out.select(
        F.col("capacity").cast("int").alias("capacity"),
        "n_refs",
        "hits",
        F.round(
            F.col("hits").cast("double") / F.col("n_refs").cast("double"),
            6,
        ).alias("hit_rate"),
    )




ORACLE_LRU_HITRATE = f"""
lru_seq AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         CAST(props ->> '$.k' AS BIGINT) AS item
  FROM events
),
lru_len AS (SELECT user_id, CAST(max(rn) AS BIGINT) AS m
            FROM lru_seq GROUP BY 1),
lru_step AS (
  SELECT l.user_id, c.capacity, 0 AS rn,
         CAST([] AS BIGINT[]) AS q, CAST(0 AS BIGINT) AS h
  FROM lru_len l
  CROSS JOIN (SELECT unnest([{", ".join(str(k) for k in LRU_CAPACITIES)}])
                AS capacity) c
  UNION ALL
  SELECT s.user_id, s.capacity, s.rn + 1,
         CASE WHEN list_contains(s.q, e.item)
              THEN list_prepend(e.item,
                                list_filter(s.q, x -> x <> e.item))
              ELSE array_slice(list_prepend(e.item, s.q),
                               1, s.capacity) END,
         s.h + CASE WHEN list_contains(s.q, e.item) THEN 1 ELSE 0 END
  FROM lru_step s
  JOIN lru_seq e ON e.user_id = s.user_id AND e.rn = s.rn + 1
),
lru_fin AS (
  SELECT s.capacity, s.h, l.m
  FROM lru_step s JOIN lru_len l ON l.user_id = s.user_id
  WHERE s.rn = l.m
),
events_lru_hitrate AS (
  SELECT CAST(capacity AS INT) AS capacity,
         CAST(sum(m) AS BIGINT) AS n_refs,
         CAST(sum(h) AS BIGINT) AS hits,
         round(CAST(sum(h) AS DOUBLE) / sum(m), 6) AS hit_rate
  FROM lru_fin GROUP BY 1
)
"""




# ---------------------------------------------------------------------------
# seasonal Mann-Kendall (Hirsch-Slack) trend test (round 8)
# ---------------------------------------------------------------------------


def seasonal_mann_kendall(events: DataFrame) -> DataFrame:
    """Hirsch-Slack seasonal Mann-Kendall over the daily revenue
    series with day-of-week seasons: the trend statistic S and its
    tie-corrected variance are computed WITHIN each weekday's
    sub-series and summed — so a strong weekly cycle (which inflates
    plain MK's variance and can mask or fake a trend) never enters the
    comparison; only same-weekday pairs are ordered. This is the
    seasonal leg of the trend ladder (plain MK pairs + Sen slope in
    ``events_robust_trend``, record counts, turning points).

    S_s = sum sign(v_j - v_i) over same-season day pairs (i earlier) —
    exact integers from one within-season pair join (day-grain
    quadratic per season: calendar-bounded, ~((T/7) choose 2) x 7
    pairs, never corpus-sized); var_s = [n(n-1)(2n+5) -
    sum t(t-1)(2t+5)]/18 with per-(season, value) tie counts t. The
    only doubles are the final z = (S -/+ 1)/sqrt(V) continuity
    chain, rounded 6 dp. Output (1 row): n_days, n_seasons, s_total,
    var_x18 (the exact 18*variance integer), z, trend.
    """
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.expr(
                    f"CAST(floor(value * {AR2_VAL_SCALE}) AS BIGINT)"
                )
            ).alias("v")
        )
        .select("day", F.dayofweek("day").alias("season"), "v")
    )
    a = daily.select(
        "season", F.col("day").alias("di"), F.col("v").alias("vi")
    )
    b = daily.select(
        "season", F.col("day").alias("dj"), F.col("v").alias("vj")
    )
    pairs = a.join(b, "season").filter(F.col("di") < F.col("dj"))
    s_tot = pairs.agg(
        (
            F.sum(F.when(F.col("vj") > F.col("vi"), 1).otherwise(0))
            - F.sum(F.when(F.col("vj") < F.col("vi"), 1).otherwise(0))
        ).alias("s"),
    )
    n_per = daily.groupBy("season").agg(F.count("*").alias("n"))
    ties = daily.groupBy("season", "v").agg(F.count("*").alias("tt"))
    var18 = (
        n_per.agg(
            F.sum(
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            ).alias("a")
        )
        .crossJoin(
            F.broadcast(
                ties.agg(
                    F.sum(
                        F.col("tt")
                        * (F.col("tt") - 1)
                        * (2 * F.col("tt") + 5)
                    ).alias("b"),
                )
            )
        )
        .select((F.col("a") - F.col("b")).alias("v18"))
    )
    meta = daily.agg(
        F.count("*").alias("n_days"),
        F.countDistinct("season").alias("n_seasons"),
    )
    m = s_tot.crossJoin(F.broadcast(var18)).crossJoin(
        F.broadcast(meta)
    )
    s = F.col("s")
    vd = F.col("v18").cast("double") / 18
    z = (
        F.when(s > 0, (s - 1).cast("double") / F.sqrt(vd))
        .when(s < 0, (s + 1).cast("double") / F.sqrt(vd))
        .otherwise(F.lit(0.0))
    )
    z6 = F.round(z, 6)
    return m.select(
        "n_days",
        "n_seasons",
        s.alias("s_total"),
        F.col("v18").alias("var_x18"),
        z6.alias("z"),
        F.when(z6 > 1.96, F.lit("increasing"))
        .when(z6 < -1.96, F.lit("decreasing"))
        .otherwise(F.lit("none"))
        .alias("trend"),
    )




ORACLE_SEASONAL_MK = f"""
smk_d AS (
  SELECT day, dayofweek(day) + 1 AS season, v FROM (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CAST(floor(value * {AR2_VAL_SCALE}) AS BIGINT))
                AS BIGINT) AS v
    FROM events WHERE event_type = 'purchase' GROUP BY 1
  )
),
smk_s AS (
  SELECT CAST(sum(CASE WHEN b.v > a.v THEN 1 ELSE 0 END)
              - sum(CASE WHEN b.v < a.v THEN 1 ELSE 0 END)
              AS BIGINT) AS s
  FROM smk_d a JOIN smk_d b
    ON a.season = b.season AND a.day < b.day
),
smk_v AS (
  SELECT CAST((SELECT sum(n * (n - 1) * (2 * n + 5)) FROM (
                 SELECT CAST(count(*) AS BIGINT) AS n
                 FROM smk_d GROUP BY season))
              - (SELECT sum(tt * (tt - 1) * (2 * tt + 5)) FROM (
                   SELECT CAST(count(*) AS BIGINT) AS tt
                   FROM smk_d GROUP BY season, v))
              AS BIGINT) AS v18
),
smk_meta AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(count(DISTINCT season) AS BIGINT) AS n_seasons
  FROM smk_d
),
events_mk_seasonal AS (
  SELECT m.n_days, m.n_seasons, s.s AS s_total, v.v18 AS var_x18,
         round(CASE WHEN s.s > 0
                    THEN (s.s - 1) / sqrt(CAST(v.v18 AS DOUBLE) / 18)
                    WHEN s.s < 0
                    THEN (s.s + 1) / sqrt(CAST(v.v18 AS DOUBLE) / 18)
                    ELSE CAST(0.0 AS DOUBLE) END, 6) AS z,
         CASE WHEN round(CASE WHEN s.s > 0
                    THEN (s.s - 1) / sqrt(CAST(v.v18 AS DOUBLE) / 18)
                    WHEN s.s < 0
                    THEN (s.s + 1) / sqrt(CAST(v.v18 AS DOUBLE) / 18)
                    ELSE CAST(0.0 AS DOUBLE) END, 6) > 1.96
              THEN 'increasing'
              WHEN round(CASE WHEN s.s > 0
                    THEN (s.s - 1) / sqrt(CAST(v.v18 AS DOUBLE) / 18)
                    WHEN s.s < 0
                    THEN (s.s + 1) / sqrt(CAST(v.v18 AS DOUBLE) / 18)
                    ELSE CAST(0.0 AS DOUBLE) END, 6) < -1.96
              THEN 'decreasing' ELSE 'none' END AS trend
  FROM smk_s s CROSS JOIN smk_v v CROSS JOIN smk_meta m
)
"""



# ---------------------------------------------------------------------------
# permutation entropy (r9): ordinal-pattern complexity of the daily
# series (Bandt & Pompe 2002) — the model-free "how predictable is
# this signal" number beside ACF (linear memory) and the Markov
# entropy rate (symbolic memory). Monotone trends collapse to one
# pattern (entropy -> 0); i.i.d. noise spreads uniformly (-> ln 6).
# ---------------------------------------------------------------------------

#: embedding order m = 3 -> 3! = 6 ordinal patterns.
PE_ORDER = 3
_PE_LN_PATTERNS = 1.791759469228055  # ln(3!) as a shared literal


def permutation_entropy(events: DataFrame) -> DataFrame:
    """Permutation entropy of daily event counts, order 3.

    Each consecutive-day triple maps to its ordinal pattern with the
    STABLE rank rule (ties broken by position: r_i = #{v_j < v_i} +
    #{j < i : v_j = v_i}) — pure integer comparisons, so the pattern
    code is engine-exact. H = ln n − (Σ c·ln c)/n over the ≤6 pattern
    counts (ln of exact integers, the HBOS convention), normalized by
    the ln 3! literal. The top pattern is tie-broken by a packed
    integer (count, then lowest code). Output (1 row): n_windows,
    n_patterns, h, h_norm, top_code, top_n.

    Scale: one day-grain collapse (the corpus-sized stage), one
    lag window over the bounded gap-filled calendar (whitelisted day
    grain), one ≤6-row agg.
    """
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("c")
    )
    span = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        F.explode(F.expr("sequence(d0, d1)")).alias("day")
    )
    filled = cal.join(daily, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).alias("v")
    )
    w = Window.orderBy("day")
    tri = filled.select(
        F.col("v").alias("v0"),
        F.lead("v", 1).over(w).alias("v1"),
        F.lead("v", 2).over(w).alias("v2"),
    ).filter(F.col("v2").isNotNull() & F.col("v1").isNotNull())
    v0, v1, v2 = F.col("v0"), F.col("v1"), F.col("v2")
    r0 = (v1 < v0).cast("int") + (v2 < v0).cast("int")
    r1 = (
        (v0 < v1).cast("int")
        + (v2 < v1).cast("int")
        + (v0 == v1).cast("int")
    )
    r2 = (
        (v0 < v2).cast("int")
        + (v1 < v2).cast("int")
        + (v0 == v2).cast("int")
        + (v1 == v2).cast("int")
    )
    coded = tri.select((r0 * 9 + r1 * 3 + r2).alias("code"))
    pat = coded.groupBy("code").agg(F.count("*").alias("c"))
    agg = pat.agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_patterns"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c"))).alias(
            "clogc"
        ),
        F.max(F.col("c") * 32 + (31 - F.col("code"))).alias("pk"),
    )
    nd = F.col("n").cast("double")
    h = F.round(F.log(nd) - F.col("clogc") / nd, 6)
    return agg.select(
        F.col("n").alias("n_windows"),
        F.col("n_patterns").cast("int").alias("n_patterns"),
        h.alias("h"),
        F.round(h / F.lit(_PE_LN_PATTERNS), 6).alias("h_norm"),
        (31 - F.col("pk") % 32).cast("int").alias("top_code"),
        (F.col("pk") / 32).cast("bigint").alias("top_n"),
    )


ORACLE_PERM_ENTROPY = f"""
pe_daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
pe_cal AS (
  SELECT unnest(generate_series(
    (SELECT min(day) FROM pe_daily),
    (SELECT max(day) FROM pe_daily),
    INTERVAL 1 DAY))::DATE AS day
),
pe_f AS (
  SELECT c2.day, COALESCE(d.c, 0) AS v
  FROM pe_cal c2 LEFT JOIN pe_daily d USING (day)
),
pe_tri AS (
  SELECT v AS v0,
         lead(v, 1) OVER (ORDER BY day) AS v1,
         lead(v, 2) OVER (ORDER BY day) AS v2
  FROM pe_f
),
pe_code AS (
  SELECT ((CASE WHEN v1 < v0 THEN 1 ELSE 0 END)
          + (CASE WHEN v2 < v0 THEN 1 ELSE 0 END)) * 9
         + ((CASE WHEN v0 < v1 THEN 1 ELSE 0 END)
            + (CASE WHEN v2 < v1 THEN 1 ELSE 0 END)
            + (CASE WHEN v0 = v1 THEN 1 ELSE 0 END)) * 3
         + (CASE WHEN v0 < v2 THEN 1 ELSE 0 END)
         + (CASE WHEN v1 < v2 THEN 1 ELSE 0 END)
         + (CASE WHEN v0 = v2 THEN 1 ELSE 0 END)
         + (CASE WHEN v1 = v2 THEN 1 ELSE 0 END) AS code
  FROM pe_tri WHERE v1 IS NOT NULL AND v2 IS NOT NULL
),
pe_pat AS (
  SELECT code, CAST(count(*) AS BIGINT) AS c
  FROM pe_code GROUP BY 1
),
pe_agg AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS INT) AS n_patterns,
         sum(CAST(c AS DOUBLE) * ln(c)) AS clogc,
         CAST(max(c * 32 + (31 - code)) AS BIGINT) AS pk
  FROM pe_pat
),
events_perm_entropy AS (
  SELECT n AS n_windows, n_patterns,
         round(ln(CAST(n AS DOUBLE)) - clogc / CAST(n AS DOUBLE), 6)
           AS h,
         round(round(ln(CAST(n AS DOUBLE)) - clogc / CAST(n AS DOUBLE),
                     6) / {_PE_LN_PATTERNS}, 6) AS h_norm,
         CAST(31 - pk % 32 AS INT) AS top_code,
         CAST(pk // 32 AS BIGINT) AS top_n
  FROM pe_agg
)
"""


# ---------------------------------------------------------------------------
# sample entropy (r9): template self-similarity of the daily series
# (Richman & Moorman 2000) — the regularity number beside permutation
# entropy (ordinal mix) and ACF (linear memory). Low SampEn = the
# series repeats its own templates; high = unpredictable.
# ---------------------------------------------------------------------------

#: template length m (matches compare m-windows vs (m+1)-windows).
SAMPEN_M = 2
#: tolerance = mean/SAMPEN_TOL_DIV (integer floor), at least 1 count.
SAMPEN_TOL_DIV = 5


def sample_entropy(events: DataFrame) -> DataFrame:
    """SampEn(m=2, r=mean/5) of daily event counts.

    Integer end to end: daily counts are exact BIGINTs, the tolerance
    is an integer floor division of the mean, and template matches
    compare Chebyshev distances of integer tuples — so the match
    counts A (length-3 windows) and B (length-2 windows) are
    engine-exact, and SampEn = −ln(A/B) is one ln at the very end
    (fold rule round 6; NULL when no length-3 match exists).
    Output (1 row): n_days, r_tol, b_pairs, a_pairs, sampen.

    Scale: one day collapse; the pair join is over the bounded
    calendar span (days², trivially small at any corpus size — the
    grain is the calendar, not the data).
    """
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("c")
    )
    span = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        F.explode(F.expr("sequence(d0, d1)")).alias("day")
    )
    filled = cal.join(daily, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).alias("v")
    )
    w = Window.orderBy("day")
    win = (
        filled.select(
            F.row_number().over(w).alias("i"),
            F.col("v").alias("v0"),
            F.lead("v", 1).over(w).alias("v1"),
            F.lead("v", 2).over(w).alias("v2"),
        )
        .filter(F.col("v2").isNotNull())
    )
    tot = filled.agg(
        F.sum("v").alias("s"), F.count("*").alias("n_days")
    )
    rt = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr("s DIV (n_days * " + str(SAMPEN_TOL_DIV) + ")"),
    )
    # materialize the calendar-grain template table once: the a/b
    # self-join references it twice, and an unstaged subtree would
    # duplicate the global window (and its single-partition sort) in
    # the physical plan — the sweep whitelist pins this at ONE.
    win_t = _cut(win.crossJoin(
        F.broadcast(tot.select(rt.alias("r_tol"), "n_days"))
    ))
    a_ = win_t.alias("a")
    b_ = win_t.alias("b")
    pairs = a_.join(
        b_, F.col("a.i") < F.col("b.i")
    ).select(
        F.col("a.n_days").alias("n_days"),
        F.col("a.r_tol").alias("r_tol"),
        (
            F.greatest(
                F.abs(F.col("a.v0") - F.col("b.v0")),
                F.abs(F.col("a.v1") - F.col("b.v1")),
            )
            <= F.col("a.r_tol")
        ).cast("bigint").alias("bm"),
        (
            F.greatest(
                F.abs(F.col("a.v0") - F.col("b.v0")),
                F.abs(F.col("a.v1") - F.col("b.v1")),
                F.abs(F.col("a.v2") - F.col("b.v2")),
            )
            <= F.col("a.r_tol")
        ).cast("bigint").alias("am"),
    )
    agg = pairs.groupBy("n_days", "r_tol").agg(
        F.sum("bm").alias("b_pairs"), F.sum("am").alias("a_pairs")
    )
    return agg.select(
        "n_days",
        "r_tol",
        "b_pairs",
        "a_pairs",
        F.when(
            (F.col("a_pairs") > 0) & (F.col("b_pairs") > 0),
            # + 0.0 normalizes -ln(1) = -0.0 (the negative-zero trap)
            F.round(
                -F.log(
                    F.col("a_pairs").cast("double")
                    / F.col("b_pairs").cast("double")
                ),
                6,
            )
            + F.lit(0.0),
        ).alias("sampen"),
    )


ORACLE_SAMPEN = f"""
se_daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
se_cal AS (
  SELECT unnest(generate_series(
    (SELECT min(day) FROM se_daily),
    (SELECT max(day) FROM se_daily),
    INTERVAL 1 DAY))::DATE AS day
),
se_f AS (
  SELECT k.day, COALESCE(d.c, 0) AS v
  FROM se_cal k LEFT JOIN se_daily d USING (day)
),
se_tot AS (
  SELECT CAST(sum(v) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n_days
  FROM se_f
),
se_rt AS (
  SELECT n_days,
         greatest(CAST(1 AS BIGINT),
                  s // (n_days * {SAMPEN_TOL_DIV})) AS r_tol
  FROM se_tot
),
se_w AS (
  SELECT row_number() OVER (ORDER BY day) AS i,
         v AS v0,
         lead(v, 1) OVER (ORDER BY day) AS v1,
         lead(v, 2) OVER (ORDER BY day) AS v2
  FROM se_f
),
se_win AS (
  SELECT i, v0, v1, v2 FROM se_w WHERE v2 IS NOT NULL
),
se_pairs AS (
  SELECT t.n_days, t.r_tol,
         CAST(sum(CASE WHEN greatest(abs(a.v0 - b.v0),
                                     abs(a.v1 - b.v1)) <= t.r_tol
                       THEN 1 ELSE 0 END) AS BIGINT) AS b_pairs,
         CAST(sum(CASE WHEN greatest(abs(a.v0 - b.v0),
                                     abs(a.v1 - b.v1),
                                     abs(a.v2 - b.v2)) <= t.r_tol
                       THEN 1 ELSE 0 END) AS BIGINT) AS a_pairs
  FROM se_win a JOIN se_win b ON a.i < b.i
  CROSS JOIN se_rt t
  GROUP BY 1, 2
),
events_sample_entropy AS (
  SELECT n_days, r_tol, b_pairs, a_pairs,
         CASE WHEN a_pairs > 0 AND b_pairs > 0
              THEN round(-ln(CAST(a_pairs AS DOUBLE)
                             / CAST(b_pairs AS DOUBLE)), 6) + 0.0
         END AS sampen
  FROM se_pairs
)
"""
