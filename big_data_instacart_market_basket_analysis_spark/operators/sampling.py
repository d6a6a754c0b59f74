"""[EXT] Deterministic corpus splitting / sampling over ``documents``.

A training-data pipeline needs reproducible, cluster-order-independent
ways to carve a corpus: a content-hash train/val/test split (the
standard leakage guard — byte-identical documents always land in the
same split, whatever file or executor they arrive from) and a per-key
uniform sample (k docs per language, stable under reruns).

Both are expressed purely over ``md5(text)``: the hash is uniform over
the 32-hex-char space, so comparing it against a precomputed hex
threshold IS a Bernoulli draw with a deterministic seed — no RNG, no
``rand()`` (whose per-partition seeding makes results depend on the
physical plan). The DuckDB oracle replays the identical comparison,
byte for byte (both engines emit lowercase hex and compare strings by
codepoint).

Scale: ``split_by_hash`` is map-only — it fuses into any scan at 100 TB
with zero shuffle. ``stratified_sample`` does one shuffle on the
stratum key; the rank-window input is first cut down by a generous
hash prefilter (keep ~OVERSHOOT*k per stratum by threshold, exact
row_number only on survivors) so the per-key sort never sees the full
corpus — the two-phase trick that makes deterministic reservoir
sampling viable when one language holds 10^9 documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.loaders import local_rows
from ._staging import cut as _cut
from . import ranking as _rank

#: split fractions: 90% train, 5% val, 5% test.
SPLIT_TRAIN_FRAC = 0.90
SPLIT_VAL_FRAC = 0.05


def hex_threshold(frac: float) -> str:
    """32-hex-char threshold t such that P[md5(text) < t] == frac for a
    uniform hash. Precomputed in Python so both engines compare against
    the identical literal."""
    return format(int(frac * 16**32), "032x")


TRAIN_THRESHOLD = hex_threshold(SPLIT_TRAIN_FRAC)
VAL_THRESHOLD = hex_threshold(SPLIT_TRAIN_FRAC + SPLIT_VAL_FRAC)


def split_by_hash(docs: DataFrame) -> DataFrame:
    """Content-hash train/val/test assignment, one row per document.

    Map-only (no shuffle): the split column derives from the row alone,
    so at 100 TB this rides whatever scan already touches ``text``.
    Duplicate texts hash identically and therefore co-locate in one
    split — the property that prevents eval-set leakage through dups.
    """
    h = F.md5("text")
    return docs.select(
        "doc_id",
        F.when(h < TRAIN_THRESHOLD, "train")
        .when(h < VAL_THRESHOLD, "val")
        .otherwise("test")
        .alias("split"),
    )


ORACLE_SPLIT_BY_HASH = f"""
split_by_hash AS (
  SELECT doc_id,
         CASE WHEN md5(text) < '{TRAIN_THRESHOLD}' THEN 'train'
              WHEN md5(text) < '{VAL_THRESHOLD}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
"""


#: per-language sample size and the prefilter overshoot multiple.
SAMPLE_K_PER_LANG = 20
PREFILTER_OVERSHOOT = 8


def stratified_sample(
    docs: DataFrame, k: int = SAMPLE_K_PER_LANG
) -> DataFrame:
    """Deterministic uniform sample of ``k`` docs per language.

    Rank docs within each language by (md5(text), doc_id) — a uniform,
    reproducible order — and keep ranks 1..k. The exact-rank window
    only runs on rows surviving a hash-threshold prefilter sized to
    keep ~``PREFILTER_OVERSHOOT * k`` docs per stratum in expectation,
    so the per-key sort is over a bounded candidate set, not the whole
    corpus. If a small stratum is cut below k by the prefilter, fall
    back to ranking it in full (detected per-stratum, exactly — not
    heuristically — so results never depend on data volume).
    """
    n_per_lang = docs.groupBy("lang").agg(
        F.count("*").alias("n_lang")
    )
    # per-stratum threshold: frac = min(1, OVERSHOOT*k / n)
    frac = F.least(
        F.lit(1.0),
        F.lit(float(PREFILTER_OVERSHOOT * k)) / F.col("n_lang"),
    )
    ranked = (
        docs.select("doc_id", "lang", F.md5("text").alias("h"))
        .join(F.broadcast(n_per_lang), "lang")
        # prefilter: survives iff h < per-stratum hex threshold. The
        # threshold is frac scaled into hex space; comparing against
        # the first 8 hex chars (32 bits) is exact enough because the
        # fallback below re-ranks any stratum the cut starved.
        .withColumn(
            "keep_pre",
            F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint")
            < (frac * F.lit(float(16**8))).cast("bigint"),
        )
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    pre = (
        ranked.filter(F.col("keep_pre"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
    # strata where the prefilter kept < min(k, n_lang) rows must be
    # re-ranked in full (rare: OVERSHOOT*k draws undershooting k).
    short = (
        pre.groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
        .join(n_per_lang, "lang")
        .filter(F.col("n_kept") < F.least(F.lit(k), F.col("n_lang")))
        .select("lang")
    )
    redo = (
        ranked.join(F.broadcast(short), "lang", "leftsemi")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
    ok = pre.join(F.broadcast(short), "lang", "leftanti")
    return ok.unionByName(redo).select("doc_id", "lang", "rn")


def oracle_stratified_sample(k: int = SAMPLE_K_PER_LANG) -> str:
    """The oracle ranks every stratum in full — semantically identical
    to the two-phase plan (prefilter keeps a prefix of the same order,
    and starved strata are re-ranked in full)."""
    return f"""
strat_ranked AS (
  SELECT doc_id, lang,
         CAST(row_number() OVER (
             PARTITION BY lang ORDER BY md5(text), doc_id
         ) AS INT) AS rn
  FROM documents
),
stratified_sample AS (
  SELECT doc_id, lang, rn FROM strat_ranked WHERE rn <= {k}
)
"""


#: quality-weighted sampling: target fraction at quality 1.0; a doc's
#: keep-probability is base_rate * clamp(quality, 0, 1).
QW_BASE_RATE = 0.8


def quality_weighted_sample(
    scored_docs: DataFrame, base_rate: float = QW_BASE_RATE
) -> DataFrame:
    """Per-row Bernoulli keep with probability proportional to the
    document's quality score — the curriculum/mixture knob of a
    training-data pipeline, made deterministic: the draw is the 32-bit
    md5 prefix compared against a per-row threshold rendered as 8 hex
    chars (format_string('%08x') in Spark == printf('%08x') in DuckDB,
    so both engines compare identical strings). No rand(): re-runs,
    retries, and repartitions all keep exactly the same rows.

    The draw hashes doc_id (not text), so the op needs only
    (doc_id, quality_score) and stays a pure map over the scoring
    projection — no join back to the text column.
    """
    p = F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), F.col("quality_score"))
    ) * F.lit(base_rate)
    threshold = F.format_string(
        "%08x", (p * F.lit(float(1 << 32))).cast("bigint")
    )
    draw = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    return (
        scored_docs.filter(draw < threshold)
        .select("doc_id", F.round("quality_score", 4).alias("quality_score"))
    )


def oracle_quality_weighted_sample(base_rate: float = QW_BASE_RATE) -> str:
    """Composes after the quality_scores CTE (textstats oracle)."""
    return f"""
quality_weighted_sample AS (
  SELECT doc_id, round(quality_score, 4) AS quality_score
  FROM quality_scores
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        < printf('%08x',
            CAST(least(CAST(1.0 AS DOUBLE),
                       greatest(CAST(0.0 AS DOUBLE), quality_score))
                 * CAST({base_rate} AS DOUBLE)
                 * CAST(4294967296 AS DOUBLE) AS BIGINT))
)
"""


#: seed folded into the shuffle key — change it to re-shuffle.
SHUFFLE_SEED = "42"


def global_shuffle(docs: DataFrame) -> DataFrame:
    """Deterministic global training-order shuffle: every document
    gets a dense position 1..N in ``md5(seed:doc_id)`` order.

    A single ``row_number() OVER (ORDER BY key)`` collapses to one
    partition, so the total order is assigned by
    ``ranking.global_ranked`` (range exchange on the key, partition-
    local row numbers plus per-partition offsets); the global sort
    never materializes on one node. Output order is encoded in
    ``global_pos``, so the driver's order-insensitive hash still pins
    the exact permutation.
    """
    key = F.md5(
        F.concat_ws(
            ":", F.lit(SHUFFLE_SEED), F.col("doc_id").cast("string")
        )
    )
    keyed = docs.select("doc_id", key.alias("shuffle_key"))
    return _rank.global_ranked(
        keyed, [F.col("shuffle_key"), F.col("doc_id")]
    ).select("doc_id", "shuffle_key", F.col("_rk").alias("global_pos"))


ORACLE_GLOBAL_SHUFFLE = f"""
global_shuffle AS (
  SELECT doc_id, shuffle_key,
         CAST(row_number() OVER (ORDER BY shuffle_key, doc_id)
              AS BIGINT) AS global_pos
  FROM (SELECT doc_id,
               md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR))
                 AS shuffle_key
        FROM documents)
)
"""


#: A-ES sample size per language stratum.
AES_K = 15
#: weight clamp: a zero/negative quality must not divide the key.
AES_MIN_W = 0.05


def weighted_sample_aes(
    docs: DataFrame, scores: DataFrame, k: int = AES_K
) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling WITHOUT replacement:
    exactly min(k, n) docs per language, inclusion odds proportional
    to quality weight — deterministic, no ``rand()``.

    The exponential-race formulation: each row draws
    ``key = -ln(u) / w`` (an Exp(w) variate) from a 52-bit md5-derived
    uniform, and the k SMALLEST keys per stratum win — heavier rows
    draw stochastically smaller keys. Unlike the Bernoulli sampler
    (independent keeps, random output size), this is the exact-k
    mixture knob. One window per stratum, no shuffle beyond the lang
    partition; at 100 TB the window is replaced by the same two-phase
    threshold prefilter ``stratified_sample`` uses.

    Cross-engine note: ln differs by <=1 ulp between libms, so the key
    is rounded to 9 decimals (a flip needs the true value within
    ~1e-16 of a grid boundary) with doc_id as the total-order
    tie-break; u is an exact dyadic rational (52-bit hex parse) in
    both engines.
    """
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("aes:"), F.col("doc_id").cast("string"))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("bigint")
            + F.lit(1)
        ).cast("double")
        / F.lit(float(1 << 52))
    )
    w_col = F.greatest(
        F.lit(AES_MIN_W), F.least(F.lit(1.0), F.col("quality_score"))
    )
    keyed = (
        docs.select("doc_id", "lang")
        .join(scores.select("doc_id", "quality_score"), "doc_id")
        .select(
            "doc_id",
            "lang",
            F.round(F.col("quality_score"), 4).alias("quality_score"),
            F.round(-F.log(u) / w_col, 9).alias("aes_key"),
        )
    )
    wnd = Window.partitionBy("lang").orderBy("aes_key", "doc_id")
    return (
        keyed.withColumn("sample_rank", F.row_number().over(wnd))
        .filter(F.col("sample_rank") <= k)
        .select("doc_id", "lang", "quality_score", "aes_key", "sample_rank")
    )


def oracle_weighted_sample_aes(k: int = AES_K) -> str:
    """Composes after the quality_scores CTE (textstats oracle)."""
    return f"""
aes_keys AS (
  SELECT d.doc_id, d.lang,
         round(q.quality_score, 4) AS quality_score,
         round(
           -ln((CAST(('0x' || substr(
                  md5('aes:' || CAST(d.doc_id AS VARCHAR)), 1, 13))
                AS BIGINT) + 1) / {float(1 << 52)!r})
           / greatest({AES_MIN_W},
                      least(CAST(1.0 AS DOUBLE), q.quality_score)), 9)
           AS aes_key
  FROM documents d JOIN quality_scores q USING (doc_id)
),
weighted_sample_aes AS (
  SELECT doc_id, lang, quality_score, aes_key, sample_rank
  FROM (SELECT *, row_number() OVER (
          PARTITION BY lang ORDER BY aes_key, doc_id) AS sample_rank
        FROM aes_keys)
  WHERE sample_rank <= {k}
)
"""


TEMP_ALPHA = 0.5


def lang_temperature_sample(
    docs: DataFrame, alpha: float = TEMP_ALPHA
) -> DataFrame:
    """Temperature-based language rebalancing (the XLM-R / UniMax
    multilingual recipe): resample the corpus so language l's share
    moves from p_l to p_l^alpha / Z — flattening the language
    distribution while keeping total size ~constant. The per-doc keep
    rate is min(1, p_l^(alpha-1) / Z): head languages are thinned,
    tail languages ride through whole (UniMax's no-oversampling cap —
    without-replacement semantics, no duplicated examples).

    The keep decision is a deterministic Bernoulli: u from a 52-bit
    md5-derived dyadic rational (exact in doubles, oracle-replayable —
    the A-ES idiom) compared against the rate rounded to 9 decimals
    (absorbs pow/ln libm drift; a flip needs the true rate within
    ~1e-16 of u's grid). Rates come from one tiny per-lang agg that
    broadcasts — the corpus pays a map-only filter; zero wide stages
    at 100 TB.

    Output: surviving (doc_id, lang, keep_rate).
    """
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    tot = counts.agg(F.sum("n_lang").alias("n_total"))
    probs = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("p", F.col("n_lang") / F.col("n_total"))
        .withColumn("pa", F.pow("p", F.lit(alpha)))
    )
    z = probs.agg(F.sum("pa").alias("z"))
    rates = (
        probs.crossJoin(F.broadcast(z))
        .select(
            "lang",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.pow("p", F.lit(alpha - 1.0)) / F.col("z"),
                ),
                9,
            ).alias("keep_rate"),
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("temp:"), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("bigint")
        + F.lit(1)
    ).cast("double") / F.lit(float(1 << 52))
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .filter(u < F.col("keep_rate"))
        .select("doc_id", "lang", "keep_rate")
    )


def oracle_lang_temperature_sample(alpha: float = TEMP_ALPHA) -> str:
    return f"""
lt_counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM documents GROUP BY 1
),
lt_tot AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_total FROM lt_counts),
lt_probs AS (
  SELECT lang, n_lang,
         CAST(n_lang AS DOUBLE) / n_total AS p,
         pow(CAST(n_lang AS DOUBLE) / n_total, {alpha!r}) AS pa
  FROM lt_counts, lt_tot
),
lt_z AS (SELECT sum(pa) AS z FROM lt_probs),
lt_rates AS (
  SELECT lang,
         round(least(CAST(1.0 AS DOUBLE), pow(p, {alpha - 1.0!r}) / z), 9)
           AS keep_rate
  FROM lt_probs, lt_z
),
lang_temperature_sample AS (
  SELECT d.doc_id, d.lang, r.keep_rate
  FROM documents d JOIN lt_rates r USING (lang)
  WHERE (CAST(('0x' || substr(
           md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 13))
         AS BIGINT) + 1) / {float(1 << 52)!r} < r.keep_rate
)
"""


# ---------------------------------------------------------------------------
# greedy set-cover corpus selection
# ---------------------------------------------------------------------------

SETCOVER_ROUNDS = 8


def setcover_selection(
    docs: DataFrame, rounds: int = SETCOVER_ROUNDS
) -> DataFrame:
    """Coverage-maximizing subset selection: greedy set cover over the
    3-shingle universe — pick, each round, the document adding the
    most not-yet-covered shingles (ties -> lower doc_id). This is the
    classic (1 - 1/e)-approximate curation loop for building eval sets
    and seed corpora that span a corpus's phrase space instead of
    sampling its modes; the verified trajectory (picked doc, marginal
    gain, cumulative coverage) IS the selection artifact.

    Scale: the (doc, shingle) posting table is the shared staged
    checkpoint of the dedup family (one shuffle, all consumers). Each
    round = one anti-join of postings against the covered-shingle set
    + one doc-grain count-agg + a TakeOrdered(1). The covered set
    grows by at most max-doc-shingles per round (bounded, broadcast-
    sized for any realistic selection depth); postings are never
    rescanned from text. Lazy greedy / stochastic-greedy variants
    drop-in at 100 TB by subsampling candidate docs per round — the
    plan shape is unchanged.

    Output per round: round, doc_id, gain, covered, coverage_ratio.
    """
    from .dedup import _shingles_staged

    spark = docs.sparkSession
    dt = _shingles_staged(docs)
    universe = dt.agg(F.countDistinct("sh").alias("u"))
    picks: list = []  # doc_ids chosen so far
    rows = []  # (round, doc_id, gain, covered) — 1 tiny row per round
    n_cov = 0
    # r10 (guide §1.2/§5): the pick was eagerly checkpointed then
    # re-broadcast, and the covered set was a per-round checkpointed
    # union — 66 jobs for 8 rounds. The pick is ONE row (greedy argmax
    # is driver-sized by definition) — collect it; the covered set IS
    # the staged postings filtered to the picked docs (a lazy
    # broadcast-anti right side, no checkpoint, no union chain), and
    # the covered count folds on the driver from the per-round gains
    # (each round's new rows = exactly the picked doc's candidate
    # postings). One job per round, same greedy trajectory as the
    # unrolled oracle.
    for rnd in range(1, rounds + 1):
        cand = dt if not picks else dt.join(
            F.broadcast(
                dt.filter(F.col("doc_id").isin(picks)).select("sh")
            ),
            "sh",
            "leftanti",
        )
        pick = (
            cand.groupBy("doc_id")
            .agg(F.count("*").alias("gain"))
            .orderBy(F.col("gain").desc(), "doc_id")
            .limit(1)
            .first()
        )
        if pick is None:  # no candidates left / empty corpus
            break
        picks.append(pick["doc_id"])
        n_cov += int(pick["gain"])
        rows.append((rnd, pick["doc_id"], int(pick["gain"]), n_cov))
    out = local_rows(
        spark, rows, "round int, doc_id bigint, gain bigint, covered bigint"
    )
    return out.crossJoin(F.broadcast(universe)).select(
        "round",
        "doc_id",
        "gain",
        "covered",
        F.round(F.col("covered") / F.col("u"), 4).alias(
            "coverage_ratio"
        ),
    )


def oracle_setcover(rounds: int = SETCOVER_ROUNDS) -> str:
    """Unrolled greedy rounds; MATERIALIZED covered-set CTEs (each is
    referenced by the next round's anti-join AND the pick — default
    inlining would re-expand the whole prefix per round)."""
    parts = [
        """
sc_u AS MATERIALIZED (SELECT count(DISTINCT sh) AS u FROM dshingles),
sc_cov0 AS MATERIALIZED (SELECT sh FROM dshingles WHERE 1 = 0)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
sc_pick{r} AS MATERIALIZED (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
  FROM dshingles d
  WHERE NOT EXISTS (SELECT 1 FROM sc_cov{r - 1} c WHERE c.sh = d.sh)
  GROUP BY 1
  ORDER BY gain DESC, doc_id
  LIMIT 1
),
sc_cov{r} AS MATERIALIZED (
  SELECT sh FROM sc_cov{r - 1}
  UNION ALL
  SELECT d.sh FROM dshingles d
  WHERE d.doc_id = (SELECT doc_id FROM sc_pick{r})
    AND NOT EXISTS (SELECT 1 FROM sc_cov{r - 1} c WHERE c.sh = d.sh)
)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"""SELECT {r} AS round, p.doc_id, p.gain,
         (SELECT CAST(count(*) AS BIGINT) FROM sc_cov{r}) AS covered,
         round((SELECT count(*) FROM sc_cov{r})
               / CAST((SELECT u FROM sc_u) AS DOUBLE), 4)
           AS coverage_ratio
  FROM sc_pick{r} p"""
        for r in range(1, rounds + 1)
    )
    return ",".join(parts) + f""",
setcover_selection AS (
  {union}
)"""


# ---------------------------------------------------------------------------
# deterministic negative sampling (implicit-feedback training pairs)
# ---------------------------------------------------------------------------

NEG_K = 2
NEG_TRIES = 5


def negative_samples(
    t, k: int = NEG_K, tries: int = NEG_TRIES
) -> "DataFrame":
    """Deterministic negative sampling for implicit-feedback training:
    per user, up to ``k`` products the user never purchased, drawn by
    hashing (user, try) into the product-rank space and rejecting
    collisions with the user's positives — the standard
    uniform-negatives generator (word2vec/BPR style), made replayable:
    no rand(), so the training sample is stable across reruns, engines, and
    cluster layouts (a retrain produces the same pairs — diffs in
    model quality are model diffs, not sampling noise).

    Scale: candidates are exactly users x tries rows (tries is a
    small constant) — never users x products; the product-rank dim
    and the positives anti-join are the only joins, both on uniform
    hash keys. Rejected tries below ``k`` survivors per user simply
    yield fewer negatives for that user (documented standard
    behavior; raise ``tries`` to tighten). The contiguous product
    rank comes from the distributed-rank kernel (range exchange +
    local row_number), so even a 100 TB-scale product dimension never
    funnels through one task.

    Output: userID, productID (negative), try_idx, label=0.
    """
    from .factorization import _ratings

    ratings = _cut(_ratings(t))
    prods = _rank.global_ranked(
        ratings.select("productID").distinct(), [F.col("productID")]
    ).select(
        "productID",
        (F.col("_rk") - 1).cast("bigint").alias("rank"),
    )
    n_prod = prods.agg(F.count("*").alias("n_prod"))
    cand = (
        ratings.select("userID")
        .distinct()
        .select(
            "userID",
            F.explode(
                F.sequence(F.lit(0), F.lit(tries - 1))
            ).alias("try_idx"),
        )
        .crossJoin(F.broadcast(n_prod))
        .select(
            "userID",
            "try_idx",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("userID").cast("string"),
                                F.lit("#"),
                                F.col("try_idx").cast("string"),
                            )
                        ),
                        1,
                        13,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.col("n_prod"),
            ).alias("rank"),
        )
    )
    wuser = Window.partitionBy("userID").orderBy("try_idx")
    return (
        cand.join(F.broadcast(prods), "rank")
        .join(ratings.select("userID", "productID"), ["userID", "productID"], "leftanti")
        .withColumn("rn", F.row_number().over(wuser))
        .filter(F.col("rn") <= k)
        .select(
            "userID", "productID", "try_idx", F.lit(0).alias("label")
        )
    )


def oracle_negative_samples(k: int = NEG_K, tries: int = NEG_TRIES) -> str:
    return f"""
ns_r AS MATERIALIZED (
  SELECT o.userID, op.productID
  FROM iprior_products op
  JOIN iprior_orders o ON o.orderID = op.orderID
  GROUP BY 1, 2
),
ns_prods AS MATERIALIZED (
  SELECT productID,
         row_number() OVER (ORDER BY productID) - 1 AS rank
  FROM (SELECT DISTINCT productID FROM ns_r)
),
ns_cand AS (
  SELECT u.userID, t.try_idx,
         CAST(('0x' || substr(md5(CAST(u.userID AS VARCHAR) || '#'
                || CAST(t.try_idx AS VARCHAR)), 1, 13)) AS BIGINT)
           % (SELECT count(*) FROM ns_prods) AS rank
  FROM (SELECT DISTINCT userID FROM ns_r) u,
       LATERAL unnest(range(0, {tries})) AS t(try_idx)
),
negative_samples AS (
  SELECT userID, productID, CAST(try_idx AS INT) AS try_idx, 0 AS label
  FROM (
    SELECT c.userID, p.productID, c.try_idx,
           row_number() OVER (PARTITION BY c.userID
                              ORDER BY c.try_idx) AS rn
    FROM ns_cand c
    JOIN ns_prods p ON p.rank = c.rank
    WHERE NOT EXISTS (SELECT 1 FROM ns_r r
                      WHERE r.userID = c.userID
                        AND r.productID = p.productID)
  ) WHERE rn <= {k}
)
"""


# ---------------------------------------------------------------------------
# Neyman allocation (optimal stratified sample design)
# ---------------------------------------------------------------------------

#: total sample budget the allocation distributes.
NEYMAN_TOTAL = 1000


def neyman_allocation(events: DataFrame) -> DataFrame:
    """Neyman-optimal stratified allocation over event-type strata:
    the share of a fixed sample budget each stratum should get is
    ``N_h * S_h / Σ N_h * S_h`` (proportional to size x standard
    deviation — minimizes the variance of the stratified mean at
    fixed n; Neyman 1934). The sample-DESIGN step that runs before
    any of the engine's samplers at 100 TB: strata with volatile
    values earn more budget than uniform ones.

    Variances come from exact integer cent moments (n·Σx² − (Σx)² —
    one hash-agg to the |types| grain), so the only floats are the
    final sqrt/share expressions, all computed from BIGINTs and
    rounded. Shares are reported (6 dp) rather than floored integer
    counts — floor(share x budget) sits on a knife edge the
    cross-engine float rules exclude.

    Output: (event_type, n_rows, var_cents2, alloc_share, n_alloc_est).
    """
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    per = events.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    scored = per.select(
        "event_type",
        "n_rows",
        (
            (F.col("n_rows") * F.col("s2") - F.col("s1") * F.col("s1"))
            / (F.col("n_rows") * (F.col("n_rows") - 1))
        ).alias("var_c2"),
    ).select(
        "event_type",
        "n_rows",
        F.round(F.col("var_c2"), 6).alias("var_cents2"),
        (F.col("n_rows") * F.sqrt(F.col("var_c2"))).alias("w"),
    )
    tot = scored.agg(F.sum("w").alias("w_tot"))
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_rows",
            "var_cents2",
            F.round(F.col("w") / F.col("w_tot"), 6).alias("alloc_share"),
            F.round(
                F.lit(NEYMAN_TOTAL) * F.col("w") / F.col("w_tot"), 2
            ).alias("n_alloc_est"),
        )
    )


ORACLE_NEYMAN = f"""
ney_per AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(cents) AS BIGINT) AS s1,
         CAST(sum(cents * cents) AS BIGINT) AS s2
  FROM (SELECT event_type,
               CAST(round(value * 100, 0) AS BIGINT) AS cents
        FROM events)
  GROUP BY 1
),
ney_scored AS (
  SELECT event_type, n_rows,
         round((n_rows * s2 - s1 * s1)
               / CAST(n_rows * (n_rows - 1) AS DOUBLE), 6) AS var_cents2,
         n_rows * sqrt((n_rows * s2 - s1 * s1)
                       / CAST(n_rows * (n_rows - 1) AS DOUBLE)) AS w
  FROM ney_per
),
neyman_allocation AS (
  SELECT event_type, n_rows, var_cents2,
         round(w / (SELECT sum(w) FROM ney_scored), 6) AS alloc_share,
         round({NEYMAN_TOTAL} * w / (SELECT sum(w) FROM ney_scored), 2)
           AS n_alloc_est
  FROM ney_scored
)
"""


# ---------------------------------------------------------------------------
# PPS systematic sampling (Madow) over parts by revenue
# ---------------------------------------------------------------------------

#: systematic PPS draw count.
PPS_SAMPLE_N = 200


def pps_systematic_sample(
    lineitem: DataFrame, n: int = PPS_SAMPLE_N
) -> DataFrame:
    """Probability-proportional-to-size systematic sampling (Madow
    1949) of parts weighted by revenue — the estimator-friendly way
    to audit a heavy-tailed catalog: big sellers are (nearly) certain
    draws, the tail is sampled in proportion, and Horvitz-Thompson
    reweighting by T/n per hit reproduces the revenue total EXACTLY
    (telescoping: sum of n_hits is exactly n).

    Deterministic variant: units are laid on the cumulative revenue
    line in md5(partkey) order (the repo's engine-portable "random"
    shuffle) and the systematic start is 0 instead of a random
    offset — documented deviation from Madow's random start, chosen
    so the draw is reproducible and oracle-checkable. A unit whose
    size spans several skip intervals is drawn multiple times
    (n_hits > 1), the standard PPS-with-replacement accounting.

    Exactness: hit counts are pure integer arithmetic —
    n_hits = (cum_hi*n) div T - (cum_lo*n) div T with all products
    in DECIMAL(38,0)/HUGEINT, so the sample hash-matches by
    construction. The cumulative line comes from the distributed
    rank kernel (range exchange + local window + broadcast packed
    prefix offsets — ZERO global WindowExec); the oracle replays it
    as a plain window cumsum.

    Output per drawn part: l_partkey, size_cents, n_hits.
    """

    sizes = lineitem.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
        ).alias("size_cents")
    )
    ordered = sizes.withColumn(
        "h", F.md5(F.col("l_partkey").cast("string"))
    )
    ranked = _rank.global_ranked(
        ordered,
        [F.col("h"), F.col("l_partkey")],
        sum_cols=["size_cents"],
    )
    tot = sizes.agg(F.sum("size_cents").alias("t"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    hi = dec(F.col("_run_size_cents")) * F.lit(n)
    lo = dec(F.col("_run_size_cents") - F.col("size_cents")) * F.lit(n)
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "size_cents",
            (
                F.call_function("div", hi, dec(F.col("t")))
                - F.call_function("div", lo, dec(F.col("t")))
            ).alias("n_hits"),
        )
        .filter(F.col("n_hits") >= 1)
    )


def oracle_pps_systematic(n: int = PPS_SAMPLE_N) -> str:
    return f"""
pps_sizes AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS size_cents
  FROM lineitem GROUP BY 1
),
pps_cum AS (
  SELECT l_partkey, size_cents,
         CAST(sum(size_cents) OVER (
           ORDER BY md5(CAST(l_partkey AS VARCHAR)), l_partkey
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hi
  FROM pps_sizes
),
pps_tot AS (
  SELECT CAST(sum(size_cents) AS BIGINT) AS t FROM pps_sizes
),
pps_systematic_sample AS (
  SELECT l_partkey, size_cents, n_hits FROM (
    SELECT l_partkey, size_cents,
           CAST((CAST(cum_hi AS HUGEINT) * {n}) // t
                - (CAST(cum_hi - size_cents AS HUGEINT) * {n}) // t
                AS BIGINT) AS n_hits
    FROM pps_cum, pps_tot
  ) WHERE n_hits >= 1
)
"""


# ---------------------------------------------------------------------------
# deterministic TABLESAMPLE twins (BERNOULLI row-level + SYSTEM block-level)
# ---------------------------------------------------------------------------

#: sampling fraction and seed for the TABLESAMPLE emulation. The SQL
#: standard's TABLESAMPLE REPEATABLE(seed) is engine-seeded (Spark's
#: `TABLESAMPLE (10 PERCENT) REPEATABLE(7)` and DuckDB's draw different
#: rows for the same seed — that is WHY it sat on the deferred ledger).
#: These twins reproduce the two standard semantics with the engine-
#: independent md5-threshold draw every shipped split/sample already
#: uses, so the result is cross-engine deterministic AND plan-shape
#: independent (rand() per-partition seeding leaks the physical plan).
TABLESAMPLE_FRAC = 0.10
TABLESAMPLE_SEED = 7

#: rows per simulated storage block for the SYSTEM variant. SYSTEM
#: sampling admits whole pages, trading variance for zero per-row I/O;
#: blocking contiguous event_id ranges mirrors that: one md5 draw per
#: block admits/rejects its full id range.
TABLESAMPLE_BLOCK_ROWS = 512

TABLESAMPLE_THRESHOLD = hex_threshold(TABLESAMPLE_FRAC)


def tablesample_events(events: DataFrame) -> DataFrame:
    """Deterministic TABLESAMPLE over ``events``: the BERNOULLI
    (row-level) and SYSTEM (block-level) variants side by side, both
    as pure md5-threshold filters — P[md5 < t] = frac exactly as in
    ``split_by_hash`` (sampling.py:37), seeded by a namespaced
    literal so the two draws are independent.

    BERNOULLI draws per row on ``md5('ts:seed:' || event_id)``;
    SYSTEM draws once per 512-row block on the block ordinal
    ``event_id div 512`` and admits the whole block — the page-level
    I/O-saving semantics of SQL TABLESAMPLE SYSTEM, made
    deterministic. Retires the TABLESAMPLE deferred-ledger entry:
    what was deferred was matching ENGINE-seeded draws cross-engine,
    not the operator.

    Scale: both variants are map-only filters that fuse into the
    scan — zero shuffle, trivially parallel at 100 TB; the SYSTEM
    draw is a per-row hash of a derived block id (no pre-pass).
    Output: method, event_id, user_id, event_type, value.
    """
    cols = ["event_id", "user_id", "event_type", "value"]
    bern = events.filter(
        F.md5(
            F.concat(
                F.lit(f"ts:{TABLESAMPLE_SEED}:"),
                F.col("event_id").cast("string"),
            )
        )
        < F.lit(TABLESAMPLE_THRESHOLD)
    ).select(F.lit("bernoulli").alias("method"), *cols)
    syst = events.filter(
        F.md5(
            F.concat(
                F.lit(f"blk:{TABLESAMPLE_SEED}:"),
                F.expr(
                    f"cast(event_id div {TABLESAMPLE_BLOCK_ROWS}"
                    " as string)"
                ),
            )
        )
        < F.lit(TABLESAMPLE_THRESHOLD)
    ).select(F.lit("system").alias("method"), *cols)
    return bern.unionByName(syst)


ORACLE_TABLESAMPLE = f"""
tablesample_events AS (
  SELECT 'bernoulli' AS method, event_id, user_id, event_type, value
  FROM events
  WHERE md5('ts:{TABLESAMPLE_SEED}:' || CAST(event_id AS VARCHAR))
        < '{TABLESAMPLE_THRESHOLD}'
  UNION ALL
  SELECT 'system' AS method, event_id, user_id, event_type, value
  FROM events
  WHERE md5('blk:{TABLESAMPLE_SEED}:'
            || CAST(event_id // {TABLESAMPLE_BLOCK_ROWS} AS VARCHAR))
        < '{TABLESAMPLE_THRESHOLD}'
)
"""


# ---------------------------------------------------------------------------
# systematic sampling over the deterministic shuffle order (round 7)
# ---------------------------------------------------------------------------

SYSTEMATIC_K = 10


def systematic_sample(docs: DataFrame, k: int = SYSTEMATIC_K) -> DataFrame:
    """Systematic 1-in-k sample: every k-th document of the
    deterministic md5 shuffle order (``global_shuffle``) starting at
    position 1 — the classic equal-probability design whose implicit
    stratification over the (randomized) frame gives lower variance
    than Bernoulli at the same rate, with an EXACT output size
    ceil(N/k). Because the frame order is itself the seeded md5
    permutation, periodicity in the underlying table cannot align
    with the sampling interval (the textbook systematic-sampling
    hazard).

    Scale: inherits global_shuffle's zero-single-partition rank
    (256 range buckets + prefix offsets); the filter fuses on top.
    Output: doc_id, shuffle_key, global_pos.
    """
    return global_shuffle(docs).filter(
        F.col("global_pos") % k == 1
    )


ORACLE_SYSTEMATIC = (
    ORACLE_GLOBAL_SHUFFLE
    + f""",
systematic_sample AS (
  SELECT doc_id, shuffle_key, global_pos FROM global_shuffle
  WHERE global_pos % {SYSTEMATIC_K} = 1
)
"""
)


# ---------------------------------------------------------------------------
# one-stage cluster sampling by source (round 7)
# ---------------------------------------------------------------------------

CLUSTER_SAMPLE_FRAC = 0.4
CLUSTER_SAMPLE_SEED = 11
CLUSTER_THRESHOLD = hex_threshold(CLUSTER_SAMPLE_FRAC)


def cluster_sample(docs: DataFrame) -> DataFrame:
    """One-stage CLUSTER sample: draw whole SOURCES (the natural
    crawl/provenance clusters) with the deterministic md5-threshold
    Bernoulli at rate ``CLUSTER_SAMPLE_FRAC``, keep every document of
    a drawn source — the design you use when per-document access is
    expensive but per-source access is sequential (one crawl archive
    = one cluster), trading the intra-cluster correlation variance
    penalty for contiguous I/O. Completes the design-based family:
    Bernoulli/systematic (element), stratified (per-language),
    PPS/A-ES (weighted), cluster (this).

    Scale: the draw is evaluated per ROW on the row's own source
    string (a pure map-side filter fused into the scan — no source
    list materializes, no join); identical rows always agree, so the
    admitted set is exactly the union of drawn clusters.

    Output: doc_id, source.
    """
    draw = F.md5(
        F.concat(
            F.lit(f"cl:{CLUSTER_SAMPLE_SEED}:"), F.col("source")
        )
    )
    return docs.filter(draw < F.lit(CLUSTER_THRESHOLD)).select(
        "doc_id", "source"
    )


ORACLE_CLUSTER_SAMPLE = f"""
cluster_sample AS (
  SELECT doc_id, source FROM documents
  WHERE md5('cl:{CLUSTER_SAMPLE_SEED}:' || source)
        < '{CLUSTER_THRESHOLD}'
)
"""
