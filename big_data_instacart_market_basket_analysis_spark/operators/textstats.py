"""[EXT] Text-analysis operators over ``documents`` (SURVEY.md §7
phase 6: language-ID, quality scoring, token counting, fingerprinting).

All pure Catalyst string/array expressions — the hot path stays inside
whole-stage codegen with zero Python. Each operator is a map-only plan
(no shuffle at all): at 100 TB these run at scan speed and the only
cost is the parquet read of the ``text`` column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._staging import spread as _spread
from ._staging import stage as _stage
from .ranking import bucket_prefix_offsets

# Marker (stopword) lists per language — n-gram-free heuristic language
# ID by marker-token hit counts. Public common-word lists, truncated.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "est", "que"],
    "es": ["el", "la", "de", "y", "los", "las", "un", "una", "es", "que"],
    "de": ["der", "die", "das", "und", "ein", "eine", "ist", "nicht", "mit",
           "von"],
    "zh": ["de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"],
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["on", "with", "as", "at", "by", "an"]


def _tokens_col() -> F.Column:
    return F.split(F.lower(F.col("text")), r"\s+")


def token_counts(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate.

    ``n_subwords`` approximates a BPE token count from public rule of
    thumb (≈ chars/4 rounded up per word, lower-bounded by 1) — cheap,
    deterministic, and good enough for budget accounting.
    """
    return docs.select(
        "doc_id",
        F.size(_tokens_col()).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.expr(
            "CAST(aggregate(split(lower(text), '\\\\s+'), 0L,"
            " (acc, t) -> acc + greatest(1L,"
            "   CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT)"
        ).alias("n_subwords"),
    )


ORACLE_TOKEN_COUNTS = """
token_counts AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS INT)
           AS n_tokens,
         CAST(length(text) AS INT) AS n_chars_measured,
         CAST(list_sum(list_transform(
             regexp_split_to_array(lower(text), '\\s+'),
             t -> greatest(1, CAST(ceil(length(t) / 4.0) AS BIGINT))))
           AS BIGINT) AS n_subwords
  FROM documents
)
"""


def quality_scores(docs: DataFrame) -> DataFrame:
    """Quality scoring: length/stopword/alpha ratios + mean word length.

    The score is the standard cheap-filter combo (longer docs with
    natural stopword density and alphabetic content rank higher);
    deterministic double arithmetic, identical in the oracle.
    """
    toks = _tokens_col()
    stop_arr = "array({})".format(
        ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    )
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (F.length("text") / F.size(toks)).alias("avg_token_len"),
        F.expr(
            f"size(filter(split(lower(text), '\\\\s+'),"
            f" t -> array_contains({stop_arr}, t)))"
            " / CAST(size(split(lower(text), '\\\\s+')) AS DOUBLE)"
        ).alias("stopword_ratio"),
        (
            (F.length(F.regexp_replace(F.lower(F.col("text")),
                                       r"[^a-z]", "")))
            / F.length("text")
        ).alias("alpha_ratio"),
    ).withColumn(
        "quality_score",
        F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.3
        + F.col("alpha_ratio") * 0.3,
    )


def oracle_quality_scores() -> str:
    stops = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
quality_scores AS (
  SELECT doc_id, n_tokens, avg_token_len, stopword_ratio, alpha_ratio,
         least(n_tokens / 100.0, 1.0) * 0.4
           + least(stopword_ratio * 5.0, 1.0) * 0.3
           + alpha_ratio * 0.3 AS quality_score
  FROM (
    SELECT doc_id,
           CAST(len(w) AS INT) AS n_tokens,
           CAST(length(text) AS DOUBLE) / len(w) AS avg_token_len,
           CAST(len(list_filter(w, t -> list_contains([{stops}], t)))
                AS DOUBLE) / len(w) AS stopword_ratio,
           CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                AS DOUBLE) / length(text) AS alpha_ratio
    FROM (SELECT doc_id, text,
                 regexp_split_to_array(lower(text), '\\s+') AS w
          FROM documents)
  )
)
"""


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: marker-token hit counts per language,
    argmax with alphabetical tiebreak. Emits per-lang scores so the
    decision is auditable."""
    score_cols = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = "array({})".format(", ".join(f"'{w}'" for w in markers))
        score_cols.append(
            F.expr(
                f"size(filter(split(lower(text), '\\\\s+'),"
                f" t -> array_contains({arr}, t)))"
            ).alias(f"score_{lang}")
        )
    scored = docs.select("doc_id", F.col("lang").alias("labeled_lang"),
                         *score_cols)
    langs = sorted(LANG_MARKERS)
    # argmax by (score desc, lang asc): fold over a sorted struct array.
    pairs = ", ".join(
        f"struct(score_{lg} AS s, '{lg}' AS lg)" for lg in langs
    )
    best = (
        f"aggregate(array({pairs}), struct(-1 AS s, '' AS lg),"
        " (acc, x) -> CASE WHEN x.s > acc.s THEN x ELSE acc END).lg"
    )
    return scored.withColumn("predicted_lang", F.expr(best))


def oracle_lang_id() -> str:
    langs = sorted(LANG_MARKERS)
    score_exprs = []
    for lg in langs:
        arr = "[{}]".format(", ".join(f"'{w}'" for w in LANG_MARKERS[lg]))
        score_exprs.append(
            f"CAST(len(list_filter(w, t -> list_contains({arr}, t)))"
            f" AS INT) AS score_{lg}"
        )
    pairs = ", ".join(
        f"{{'s': score_{lg}, 'lg': '{lg}'}}" for lg in langs
    )
    return f"""
lang_scored AS (
  SELECT doc_id, labeled_lang, {", ".join(f"score_{lg}" for lg in langs)},
         list_reduce(list_prepend({{'s': -1, 'lg': ''}}, [{pairs}]),
           (acc, x) -> CASE WHEN x.s > acc.s THEN x ELSE acc END).lg
           AS predicted_lang
  FROM (
    SELECT doc_id, lang AS labeled_lang,
           {", ".join(score_exprs)}
    FROM (SELECT doc_id, lang,
                 regexp_split_to_array(lower(text), '\\s+') AS w
          FROM documents)
  )
)
"""


MIN_QUALITY = 0.5


def corpus_prep(docs: DataFrame, min_quality: float = MIN_QUALITY) -> DataFrame:
    """Composed training-data pipeline: quality-filter the corpus, drop
    near-duplicates (keep each cluster's representative), and emit the
    surviving docs with their token budget.

    The shape a 100 TB pre-training corpus pass takes: map-only scoring
    fused into the scan, the near-dup pair join as the only wide stage,
    cluster representatives via self-label equality (no second shuffle
    — cluster_id is already on the row).
    """
    from . import dedup

    q = quality_scores(docs).select("doc_id", "quality_score")
    clusters = dedup.connected_clusters(docs)
    keepers = clusters.filter(
        F.col("doc_id") == F.col("cluster_id")
    ).select("doc_id")
    return (
        docs.select("doc_id", "lang")
        .join(q, "doc_id")
        .filter(F.col("quality_score") >= min_quality)
        .join(keepers, "doc_id", "leftsemi")
        .join(token_counts(docs).select("doc_id", "n_tokens"), "doc_id")
        .select("doc_id", "lang", "n_tokens", "quality_score")
    )


ORACLE_CORPUS_PREP = f"""
corpus_prep AS (
  SELECT d.doc_id, d.lang, t.n_tokens, q.quality_score
  FROM documents d
  JOIN quality_scores q USING (doc_id)
  JOIN token_counts t USING (doc_id)
  JOIN connected_clusters c USING (doc_id)
  WHERE q.quality_score >= {MIN_QUALITY} AND c.cluster_id = d.doc_id
)
"""


TOP_TERMS_K = 10
MIN_TERM_LEN = 3


def top_terms_per_lang(docs: DataFrame, k: int = TOP_TERMS_K) -> DataFrame:
    """Corpus vocabulary analysis: top-k most frequent terms per
    language (terms >= 3 chars; count desc, term asc tiebreak).

    explode -> hash-agg on (lang, term) -> per-lang rank. At scale the
    (lang, term) agg does map-side combine so the explode amplification
    never crosses the wire raw; the final per-lang top-k moves only
    k rows per lang per partition.
    """
    toks = (
        docs.select(
            "lang", F.explode(_tokens_col()).alias("term")
        )
        .filter(F.length("term") >= MIN_TERM_LEN)
    )
    counts = toks.groupBy("lang", "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "term")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


ORACLE_TOP_TERMS_PER_LANG = f"""
tterms AS (
  SELECT lang, t AS term
  FROM (SELECT lang, unnest(regexp_split_to_array(lower(text), '\\s+'))
          AS t
        FROM documents)
  WHERE length(t) >= {MIN_TERM_LEN}
),
top_terms_per_lang AS (
  SELECT lang, term, n, rnk FROM (
    SELECT lang, term, n,
           CAST(row_number() OVER (
             PARTITION BY lang ORDER BY n DESC, term) AS INT) AS rnk
    FROM (SELECT lang, term, count(*) AS n FROM tterms GROUP BY 1, 2)
  ) WHERE rnk <= {TOP_TERMS_K}
)
"""


#: batch packing: token budget per training batch, and the shard width
#: (in doc_id space) that bounds each packing window's size.
PACK_BUDGET_TOKENS = 1000
PACK_SHARD_DOCS = 256


def pack_batches(
    docs: DataFrame,
    budget: int = PACK_BUDGET_TOKENS,
    shard_docs: int = PACK_SHARD_DOCS,
) -> DataFrame:
    """Training-batch packing: assign docs (in doc_id order, within
    language) to fixed-token-budget batches; emit per-batch totals.

    A batch boundary falls wherever the running token count crosses a
    multiple of ``budget`` — the streaming-pack rule (each batch lands
    within one doc of the budget; no bin-search, one pass). Packing
    runs per (lang, shard) where shard = doc_id div ``shard_docs``:
    the cumulative-sum window sorts only ``shard_docs`` rows, so the
    plan is embarrassingly parallel at 100 TB — a single global
    sequence would serialize the corpus through one partition, and
    training batches don't need global order, just determinism (which
    doc_id-ordered shards give).
    """
    toks = token_counts(docs).select("doc_id", "n_tokens")
    sharded = (
        docs.select("doc_id", "lang")
        .join(toks, "doc_id")
        .withColumn("shard", F.floor(F.col("doc_id") / shard_docs))
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sharded.withColumn(
        "batch_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget
        ),
    )
    return packed.groupBy("lang", "shard", "batch_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("batch_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


ORACLE_PACK_BATCHES = f"""
pb_cum AS (
  SELECT d.doc_id, d.lang, t.n_tokens,
         CAST(floor(d.doc_id / {PACK_SHARD_DOCS}) AS BIGINT) AS shard,
         coalesce(CAST(sum(t.n_tokens) OVER (
           PARTITION BY d.lang, floor(d.doc_id / {PACK_SHARD_DOCS})
           ORDER BY d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT), 0) AS cum_before
  FROM documents d JOIN token_counts t USING (doc_id)
),
pack_batches AS (
  SELECT lang, shard,
         CAST(floor(cum_before / {PACK_BUDGET_TOKENS}) AS BIGINT)
           AS batch_id,
         count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS batch_tokens,
         min(doc_id) AS first_doc,
         max(doc_id) AS last_doc
  FROM pb_cum
  GROUP BY 1, 2, 3
)
"""


TFIDF_TOP_K = 3


def tfidf_top_terms(docs: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """Per-document TF-IDF: top-k discriminative terms per doc
    (tf * ln(N/df), ranked on the ROUNDED score so the ordering is
    engine-stable; ties broken by term).

    Three stages, all key-partitioned: (doc, term) tf hash-agg, term df
    hash-agg (term side is vocabulary-sized — broadcast-eligible, AQE
    decides), per-doc top-k window. The corpus size N is a broadcast
    scalar, not a driver constant baked at plan time.
    """
    tok = (
        docs.select("doc_id", F.explode(_tokens_col()).alias("term"))
        .filter(F.length("term") >= MIN_TERM_LEN)
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_corpus"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_corpus") / F.col("df")),
                4,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), "term"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


ORACLE_TFIDF_TOP_TERMS = f"""
ttok AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+'))
          AS t
        FROM documents)
  WHERE length(t) >= {MIN_TERM_LEN}
),
ttf AS (SELECT doc_id, term, count(*) AS tf FROM ttok GROUP BY 1, 2),
tdf AS (SELECT term, count(*) AS df FROM ttf GROUP BY 1),
tcorpus AS (SELECT count(DISTINCT doc_id) AS n_corpus FROM documents),
tscored AS (
  SELECT f.doc_id, f.term, f.tf, tdf.df,
         round(f.tf * ln(CAST(c.n_corpus AS DOUBLE) / tdf.df), 4) AS tfidf
  FROM ttf f JOIN tdf USING (term), tcorpus c
),
tfidf_top_terms AS (
  SELECT doc_id, term, tf, df, tfidf, rnk FROM (
    SELECT doc_id, term, tf, df, tfidf,
           CAST(row_number() OVER (
             PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT)
             AS rnk
    FROM tscored
  ) WHERE rnk <= {TFIDF_TOP_K}
)
"""


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprinting: md5 over the sorted distinct token set
    (order-normalized content signature — catches shuffled copies that
    exact hashing misses)."""
    return docs.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(_tokens_col())), " "
            )
        ).alias("fingerprint"),
    )


ORACLE_FINGERPRINTS = """
fingerprints AS (
  SELECT doc_id,
         md5(array_to_string(
             list_sort(list_distinct(
               regexp_split_to_array(lower(text), '\\s+'))), ' '))
           AS fingerprint
  FROM documents
)
"""


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Within-document repetition scoring (the Gopher-style quality
    rule): fraction of duplicated word trigrams and duplicated words.

    Heavily-repeated boilerplate (nav bars, SEO spam, generation loops)
    shows up as a high dup-trigram ratio long before any cross-doc
    dedup pass sees it. Pure higher-order array expressions — map-only,
    zero shuffle, runs at scan speed at 100 TB.
    """
    tg = (
        "transform(sequence(0, size(w) - 3),"
        " i -> concat_ws(' ', element_at(w, i + 1),"
        " element_at(w, i + 2), element_at(w, i + 3)))"
    )
    return (
        docs.select(
            "doc_id", _tokens_col().alias("w")
        )
        .select(
            "doc_id",
            F.expr("size(w)").alias("n_words"),
            F.expr("size(array_distinct(w))").alias("n_distinct_words"),
            F.expr(
                f"CASE WHEN size(w) >= 3 THEN size(w) - 2 ELSE 0 END"
            ).alias("n_trigrams"),
            F.expr(
                f"CASE WHEN size(w) >= 3 THEN size(array_distinct({tg}))"
                " ELSE 0 END"
            ).alias("n_distinct_trigrams"),
        )
        .withColumn(
            "dup_word_ratio",
            F.when(
                F.col("n_words") > 0,
                1.0 - F.col("n_distinct_words")
                / F.col("n_words").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "dup_trigram_ratio",
            F.when(
                F.col("n_trigrams") > 0,
                1.0 - F.col("n_distinct_trigrams")
                / F.col("n_trigrams").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )


ORACLE_REPETITION = """
rep_base AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
  FROM documents
),
rep_counts AS (
  SELECT doc_id,
         CAST(len(w) AS INT) AS n_words,
         CAST(len(list_distinct(w)) AS INT) AS n_distinct_words,
         CAST(CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END AS INT)
           AS n_trigrams,
         CAST(CASE WHEN len(w) >= 3 THEN len(list_distinct(
             list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])))
           ELSE 0 END AS INT) AS n_distinct_trigrams
  FROM rep_base
),
repetition_scores AS (
  SELECT doc_id, n_words, n_distinct_words, n_trigrams,
         n_distinct_trigrams,
         CASE WHEN n_words > 0
              THEN 1.0 - n_distinct_words / CAST(n_words AS DOUBLE)
              ELSE 0.0 END AS dup_word_ratio,
         CASE WHEN n_trigrams > 0
              THEN 1.0 - n_distinct_trigrams / CAST(n_trigrams AS DOUBLE)
              ELSE 0.0 END AS dup_trigram_ratio
  FROM rep_counts
)
"""


#: chunking: context-window size and stride (words). Stride < size
#: gives overlapping chunks, the usual pre-training packing input.
CHUNK_SIZE_WORDS = 64
CHUNK_STRIDE_WORDS = 48


def chunk_documents(
    docs: DataFrame,
    size: int = CHUNK_SIZE_WORDS,
    stride: int = CHUNK_STRIDE_WORDS,
) -> DataFrame:
    """Split each document into overlapping fixed-width word windows
    (1 -> N row expansion for context-window training data).

    chunk_id = start//stride is derived, not positional, so the output
    is deterministic under any partitioning. The explode happens after
    projecting only (doc_id, w) — amplified rows never carry the full
    text column, which is what keeps the shuffle-free map stage cheap
    at 100 TB.
    """
    return (
        docs.select("doc_id", _tokens_col().alias("w"))
        .select(
            "doc_id",
            "w",
            F.explode(
                F.expr(f"sequence(0, size(w) - 1, {stride})")
            ).alias("start"),
        )
        .select(
            "doc_id",
            (F.col("start") / stride).cast("bigint").alias("chunk_id"),
            F.expr(f"size(slice(w, start + 1, {size}))").alias("n_words"),
            F.md5(
                F.expr(f"array_join(slice(w, start + 1, {size}), ' ')")
            ).alias("chunk_md5"),
        )
    )


ORACLE_CHUNKS = f"""
chunk_base AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
  FROM documents
),
chunk_starts AS (
  SELECT doc_id, w,
         unnest(range(0, len(w), {CHUNK_STRIDE_WORDS})) AS start
  FROM chunk_base
),
chunk_documents AS (
  SELECT doc_id,
         CAST(start // {CHUNK_STRIDE_WORDS} AS BIGINT) AS chunk_id,
         CAST(len(list_slice(w, start + 1,
                             start + {CHUNK_SIZE_WORDS})) AS INT)
           AS n_words,
         md5(array_to_string(
             list_slice(w, start + 1, start + {CHUNK_SIZE_WORDS}), ' '))
           AS chunk_md5
  FROM chunk_starts
)
"""


def source_mix(docs: DataFrame) -> DataFrame:
    """Data-mixture report: per (source, lang) doc/token totals, token
    share of the whole corpus, and an exact quality sum.

    The quality sum is integral millionths (per-row round then cast)
    so the aggregate is exact integer math — float summation order
    differs between engines and would break hash comparison. The
    corpus-total join is a broadcast of a 1-row aggregate.
    """
    per_doc = (
        docs.select("doc_id", "source", "lang")
        .join(token_counts(docs).select("doc_id", "n_tokens"), "doc_id")
        .join(
            quality_scores(docs).select(
                "doc_id",
                F.round(F.col("quality_score") * 1_000_000)
                .cast("bigint")
                .alias("q_millionths"),
            ),
            "doc_id",
        )
    )
    grouped = per_doc.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("q_millionths").alias("quality_sum_millionths"),
    )
    corpus = grouped.agg(
        F.sum("total_tokens").alias("corpus_tokens")
    )
    return grouped.crossJoin(F.broadcast(corpus)).select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        "quality_sum_millionths",
        F.round(
            F.col("total_tokens") / F.col("corpus_tokens").cast("double"),
            6,
        ).alias("token_share"),
    )


ORACLE_SOURCE_MIX = """
mix_per_doc AS (
  SELECT d.doc_id, d.source, d.lang, t.n_tokens,
         CAST(round(q.quality_score * 1000000) AS BIGINT) AS q_millionths
  FROM documents d
  JOIN token_counts t USING (doc_id)
  JOIN quality_scores q USING (doc_id)
),
mix_grouped AS (
  SELECT source, lang, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(sum(q_millionths) AS BIGINT) AS quality_sum_millionths
  FROM mix_per_doc GROUP BY 1, 2
),
source_mix AS (
  SELECT source, lang, n_docs, total_tokens, quality_sum_millionths,
         round(total_tokens / CAST(
           (SELECT sum(total_tokens) FROM mix_grouped) AS DOUBLE), 6)
           AS token_share
  FROM mix_grouped
)
"""


#: skip-gram extraction: context window (following words) and the
#: minimum pair count that survives into the PMI table.
SKIPGRAM_WINDOW = 2
SKIPGRAM_MIN_COUNT = 5


def skipgram_pmi(
    docs: DataFrame,
    k: int = SKIPGRAM_WINDOW,
    min_count: int = SKIPGRAM_MIN_COUNT,
) -> DataFrame:
    """Skip-gram co-occurrence pairs with PMI — the word2vec-style
    training-pair extraction over a corpus.

    Pair generation is a pure higher-order array expression (each word
    paired with its next ``k`` words), so the explode amplification is
    map-local and the (a, b) hash-agg does map-side combine before the
    only shuffle. Unigram counts are vocabulary-sized — broadcast onto
    the pair table; corpus totals are broadcast 1-row aggregates.
    Tokens are assumed '|'-free (the tokenizer splits on whitespace;
    the separator only exists inside the transient pair key).
    """
    pair_expr = (
        f"flatten(transform(sequence(1, size(w) - 1),"
        f" i -> transform(sequence(i + 1, least(i + {k}, size(w))),"
        " j -> concat(element_at(w, i), '|', element_at(w, j)))))"
    )
    pairs = (
        docs.select(_tokens_col().alias("w"))
        .filter(F.expr("size(w) >= 2"))
        .select(F.explode(F.expr(pair_expr)).alias("pair"))
    )
    pc = (
        pairs.select(
            F.substring_index("pair", "|", 1).alias("a"),
            F.substring_index("pair", "|", -1).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_pair"))
    )
    uni = (
        docs.select(F.explode(_tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n_word"))
    )
    totals = pc.agg(F.sum("n_pair").alias("t_pairs")).crossJoin(
        uni.agg(F.sum("n_word").alias("n_words"))
    )
    ua = uni.select(F.col("word").alias("a"), F.col("n_word").alias("na"))
    ub = uni.select(F.col("word").alias("b"), F.col("n_word").alias("nb"))
    return (
        pc.filter(F.col("n_pair") >= min_count)
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(totals))
        .select(
            "a",
            "b",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("t_pairs").cast("double"))
                    / (
                        (F.col("na") / F.col("n_words").cast("double"))
                        * (F.col("nb") / F.col("n_words").cast("double"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
    )


ORACLE_SKIPGRAM_PMI = f"""
sg_base AS (
  SELECT regexp_split_to_array(lower(text), '\\s+') AS w FROM documents
),
sg_pairs AS (
  SELECT unnest(flatten(list_transform(range(1, len(w)),
           i -> list_transform(
             range(i + 1, least(i + {SKIPGRAM_WINDOW}, len(w)) + 1),
             j -> w[i] || '|' || w[j])))) AS pair
  FROM sg_base WHERE len(w) >= 2
),
sg_pc AS (
  SELECT split_part(pair, '|', 1) AS a, split_part(pair, '|', 2) AS b,
         CAST(count(*) AS BIGINT) AS n_pair
  FROM sg_pairs GROUP BY 1, 2
),
sg_uni AS (
  SELECT t AS word, CAST(count(*) AS BIGINT) AS n_word
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
        FROM documents)
  GROUP BY 1
),
sg_tot AS (
  SELECT (SELECT CAST(sum(n_pair) AS BIGINT) FROM sg_pc) AS t_pairs,
         (SELECT CAST(sum(n_word) AS BIGINT) FROM sg_uni) AS n_words
),
skipgram_pmi AS (
  SELECT p.a, p.b, p.n_pair,
         round(ln((p.n_pair / CAST(t.t_pairs AS DOUBLE))
           / ((ua.n_word / CAST(t.n_words AS DOUBLE))
              * (ub.n_word / CAST(t.n_words AS DOUBLE)))), 4) AS pmi
  FROM sg_pc p
  JOIN sg_uni ua ON p.a = ua.word
  JOIN sg_uni ub ON p.b = ub.word, sg_tot t
  WHERE p.n_pair >= {SKIPGRAM_MIN_COUNT}
)
"""


#: quality-percentile filter: keep the top fraction per language.
QUALITY_TOP_FRACTION = 0.5


def quality_top_fraction(
    docs: DataFrame, frac: float = QUALITY_TOP_FRACTION
) -> DataFrame:
    """Per-language quality-percentile cutoff: keep each language's top
    ``frac`` of documents by quality score (ties broken by doc_id, so
    the boundary is deterministic).

    One shuffle on lang for the rank window; the per-lang count rides
    the same window, no second pass. Language cardinality is tiny, so
    at 100 TB the skew risk is the lang key itself — the same
    two-stage salting in ``functions/skew.py`` applies if one language
    dominates; at this fixture's five languages AQE handles it.
    """
    q = quality_scores(docs).select("doc_id", "quality_score")
    ranked = (
        docs.select("doc_id", "lang")
        .join(q, "doc_id")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.col("quality_score").desc(), "doc_id"
                )
            ),
        )
        .withColumn(
            "lang_docs",
            F.count("*").over(Window.partitionBy("lang")),
        )
    )
    return ranked.filter(
        F.col("rnk") <= F.ceil(F.col("lang_docs") * frac)
    ).select("doc_id", "lang", "quality_score", "rnk")


def oracle_quality_top_fraction(frac: float = QUALITY_TOP_FRACTION) -> str:
    return f"""
qtf_ranked AS (
  SELECT d.doc_id, d.lang, q.quality_score,
         CAST(row_number() OVER (
           PARTITION BY d.lang
           ORDER BY q.quality_score DESC, d.doc_id) AS INT) AS rnk,
         count(*) OVER (PARTITION BY d.lang) AS lang_docs
  FROM documents d JOIN quality_scores q USING (doc_id)
),
quality_top_fraction AS (
  SELECT doc_id, lang, quality_score, rnk
  FROM qtf_ranked
  WHERE rnk <= ceil(lang_docs * {frac})
)
"""


#: redaction patterns: email, long digit runs, and a named-entity
#: stop-list — the standard pre-training scrub pass. Alternation kept
#: RE2-compatible (no backrefs/lookahead) so Spark (Java regex) and
#: DuckDB (RE2) agree on every match.
PII_PATTERN = (
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    r"|[0-9]{6,}"
    r"|\b(?:customer|supplier)\b"
)
REDACTION_TOKEN = "[REDACTED]"


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII / entity scrub: replace every pattern hit with a redaction
    token; emit the hit count and an md5 of the scrubbed text (compact,
    hash-comparable). Map-only — fused into the scan like the other
    text passes; at 100 TB this is the same single pass the quality
    filter rides.
    """
    # column-native regexp calls: the pattern goes to Java regex
    # verbatim (an F.expr SQL string literal would re-interpret the
    # backslashes and quietly turn \b into a backspace character).
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_PATTERN)).alias(
            "n_redactions"
        ),
        F.md5(
            F.regexp_replace("text", PII_PATTERN, REDACTION_TOKEN)
        ).alias("clean_md5"),
    )


ORACLE_REDACT_PII = f"""
redact_pii AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{PII_PATTERN}')) AS INT)
           AS n_redactions,
         md5(regexp_replace(text, '{PII_PATTERN}', '{REDACTION_TOKEN}',
                            'g')) AS clean_md5
  FROM documents
)
"""


def pack_payloads(
    docs: DataFrame,
    budget: int = PACK_BUDGET_TOKENS,
    shard_docs: int = PACK_SHARD_DOCS,
) -> DataFrame:
    """Training-sequence payload construction: the same batch
    assignment as ``pack_batches``, but emitting each batch's actual
    concatenated text (doc_id order, EOS-separated) as an md5 plus its
    length — the step that turns packing *stats* into packing *output*.

    The concat rides the same (lang, shard) window shuffle as the
    batch assignment; ordered assembly uses array_sort over
    (doc_id, text) structs, so output is deterministic under any
    partitioning. Hashing the payload keeps the declared result narrow
    — the real pipeline writes the payload column itself.
    """
    toks = token_counts(docs).select("doc_id", "n_tokens")
    sharded = (
        docs.select("doc_id", "lang", "text")
        .join(toks, "doc_id")
        .withColumn("shard", F.floor(F.col("doc_id") / shard_docs))
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sharded.withColumn(
        "batch_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget
        ),
    )
    return packed.groupBy("lang", "shard", "batch_id").agg(
        F.count("*").alias("n_docs"),
        F.md5(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(doc_id, text))), s -> s.text), ' <eos> ')"
            )
        ).alias("payload_md5"),
        F.length(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(doc_id, text))), s -> s.text), ' <eos> ')"
            )
        ).alias("payload_chars"),
    )


ORACLE_PACK_PAYLOADS = f"""
pp_cum AS (
  SELECT d.doc_id, d.lang, d.text, t.n_tokens,
         CAST(floor(d.doc_id / {PACK_SHARD_DOCS}) AS BIGINT) AS shard,
         coalesce(CAST(sum(t.n_tokens) OVER (
           PARTITION BY d.lang, floor(d.doc_id / {PACK_SHARD_DOCS})
           ORDER BY d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT), 0) AS cum_before
  FROM documents d JOIN token_counts t USING (doc_id)
),
pack_payloads AS (
  SELECT lang, shard,
         CAST(floor(cum_before / {PACK_BUDGET_TOKENS}) AS BIGINT)
           AS batch_id,
         count(*) AS n_docs,
         md5(string_agg(text, ' <eos> ' ORDER BY doc_id))
           AS payload_md5,
         CAST(length(string_agg(text, ' <eos> ' ORDER BY doc_id))
           AS INT) AS payload_chars
  FROM pp_cum
  GROUP BY 1, 2, 3
)
"""


def chunk_documents_udtf(spark, docs: DataFrame) -> DataFrame:
    """The overlapping chunker as a Python UDTF (Spark 4 user-defined
    table function, 1 row -> N rows) — the [EXT] slow-path escape hatch
    demonstrated on a declared query.

    Same chunk rule as ``chunk_documents`` and the same DuckDB oracle,
    which makes this a three-way check: native Catalyst expressions,
    Python UDTF, and DuckDB must all hash-agree. Use the native form in
    production (codegen, no Python); the UDTF form is the template for
    logic that genuinely can't be expressed in expressions.
    """
    from pyspark.sql.functions import udtf

    size, stride = CHUNK_SIZE_WORDS, CHUNK_STRIDE_WORDS

    @udtf(
        returnType=(
            "doc_id bigint, chunk_id bigint, n_words int,"
            " chunk_md5 string"
        )
    )
    class ChunkDocs:
        def eval(self, doc_id, text):
            import hashlib
            import re

            w = re.split(r"\s+", text.lower())
            for start in range(0, len(w), stride):
                cw = w[start : start + size]
                yield (
                    doc_id,
                    start // stride,
                    len(cw),
                    hashlib.md5(" ".join(cw).encode()).hexdigest(),
                )

    spark.udtf.register("chunk_docs_udtf", ChunkDocs)
    docs.select("doc_id", "text").createOrReplaceTempView(
        "udtf_chunk_input"
    )
    return spark.sql(
        "SELECT c.* FROM udtf_chunk_input,"
        " LATERAL chunk_docs_udtf(doc_id, text) c"
    )


def training_export(
    docs: DataFrame, budget: int = PACK_BUDGET_TOKENS
) -> DataFrame:
    """End-to-end training-data export: the full pipeline in ONE plan.

    Composes the already-verified stages — quality filter + near-dup
    survivor selection (``corpus_prep``) -> deterministic shuffle
    order (md5 keys, the ``global_shuffle`` seed) -> token-budget
    batch packing in shuffle order, sharded by the key's first hex
    byte so the cumulative-sum window never sorts more than ~1/256 of
    the survivors. This is the product a pre-training pipeline ships:
    per (shard, batch) manifests with doc and token totals plus the
    language mix. Every stage is Catalyst-planned; the only wide
    stages are corpus_prep's near-dup join and the per-shard window.
    """
    from .sampling import SHUFFLE_SEED

    survivors = corpus_prep(docs)
    keyed = survivors.withColumn(
        "shuffle_key",
        F.md5(
            F.concat(
                F.lit(f"{SHUFFLE_SEED}:"), F.col("doc_id").cast("string")
            )
        ),
    ).withColumn("shard", F.substring("shuffle_key", 1, 2))
    w = (
        Window.partitionBy("shard")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = keyed.withColumn(
        "batch_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget
        ).cast("long"),
    )
    return packed.groupBy("shard", "batch_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("batch_tokens"),
        F.countDistinct("lang").alias("n_langs"),
    )


def oracle_training_export(budget: int = PACK_BUDGET_TOKENS) -> str:
    """Composes after the corpus_prep CTE chain; the shuffle seed must
    match ``sampling.SHUFFLE_SEED``."""
    from .sampling import SHUFFLE_SEED

    return f"""
tx_keyed AS (
  SELECT c.doc_id, c.lang, c.n_tokens,
         md5('{SHUFFLE_SEED}:' || CAST(c.doc_id AS VARCHAR))
           AS shuffle_key,
         substr(md5('{SHUFFLE_SEED}:' || CAST(c.doc_id AS VARCHAR)), 1, 2)
           AS shard
  FROM corpus_prep c
),
tx_cum AS (
  SELECT shard, lang, n_tokens,
         coalesce(CAST(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY shuffle_key, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
           0) AS cum
  FROM tx_keyed
),
training_export AS (
  SELECT shard, CAST(floor(cum / {budget}) AS BIGINT) AS batch_id,
         count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS batch_tokens,
         count(DISTINCT lang) AS n_langs
  FROM tx_cum
  GROUP BY 1, 2
)
"""


def unigram_logprob_scores(docs: DataFrame) -> DataFrame:
    """Corpus unigram LM scoring: each doc's mean token log-probability
    under the corpus's own unigram distribution — the cheap statistical
    cousin of a KenLM perplexity filter (low scores flag gibberish and
    boilerplate-with-rare-junk; high scores flag repetitive common-word
    text). Two passes over tokens: one hash-agg builds the unigram
    table, one explode+join+agg scores the docs. The unigram join is
    left unhinted: a curated corpus's vocabulary broadcasts (AQE sees
    the post-agg size at runtime), while raw web text's unbounded
    junk-token vocabulary falls back to a hash join on the token key —
    forcing broadcast here would be the 100 TB mistake. Scores rounded
    to 6 decimals (cross-engine float rule; the per-doc sum of ~1e2
    logs agrees to far below the grid).
    """
    toks = docs.select(
        "doc_id", F.explode(_tokens_col()).alias("t")
    ).filter(F.col("t") != "")
    unigrams = toks.groupBy("t").agg(F.count("*").alias("n_t"))
    total = unigrams.agg(F.sum("n_t").alias("n_total"))
    scored = (
        toks.join(unigrams, "t")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.log(F.col("n_t") / F.col("n_total")).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


ORACLE_UNIGRAM_LOGPROB = """
ult AS (
  SELECT doc_id, t
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
        FROM documents)
  WHERE t <> ''
),
ulu AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM ult GROUP BY 1
),
ultot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_total FROM ulu),
unigram_logprob AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         round(avg(ln(CAST(n_t AS DOUBLE) / n_total)), 6) AS avg_logprob
  FROM ult JOIN ulu USING (t), ultot
  GROUP BY doc_id
)
"""


DSIR_TARGET_LANG = "en"


def dsir_importance(
    docs: DataFrame, target_lang: str = DSIR_TARGET_LANG
) -> DataFrame:
    """DSIR-style importance weighting for pretraining data selection
    (Xie et al., 2023): score every document by the mean per-token
    log-likelihood ratio between a *target* unigram LM (here: the
    corpus's ``target_lang`` slice) and the full-corpus unigram LM,
    and keep documents that look more target-like than the corpus
    mixture (weight > 0). The importance weight is exactly the
    hashed-n-gram DSIR estimator with n=1 and whitespace features.

    Both LMs come from ONE hash-agg pass over the exploded tokens
    (conditional count for the target side), Laplace-smoothed over the
    shared vocabulary so target-unseen tokens get finite mass. Scoring
    is one join on the token key + one per-doc hash-agg — the same
    proven two-shuffle shape as ``unigram_logprob_scores``; at 100 TB
    the target slice is typically a small curated corpus, so its LM
    broadcasts and only the corpus-side explode shuffles.

    Output: (doc_id, lang, n_tokens, weight) for weight > 0, weight
    rounded to 6 decimals (cross-engine float rule: per-token log
    ratios fold through avg identically in both engines).
    """
    toks = docs.select(
        "doc_id", "lang", F.explode(_tokens_col()).alias("t")
    ).filter(F.col("t") != "")
    lms = toks.groupBy("t").agg(
        F.count("*").alias("n_c"),
        F.sum(
            F.when(F.col("lang") == target_lang, 1).otherwise(0)
        ).alias("n_t"),
    )
    totals = lms.agg(
        F.sum("n_c").alias("tot_c"),
        F.sum("n_t").alias("tot_t"),
        F.count("*").alias("vocab"),
    )
    scored = (
        toks.join(lms, "t")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "lang",
            (
                F.log((F.col("n_t") + 1) / (F.col("tot_t") + F.col("vocab")))
                - F.log((F.col("n_c") + 1) / (F.col("tot_c") + F.col("vocab")))
            ).alias("lr"),
        )
    )
    return (
        scored.groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg("lr").alias("w_raw"),
        )
        .filter(F.col("w_raw") > 0)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round("w_raw", 6).alias("weight"),
        )
    )


ORACLE_DSIR_IMPORTANCE = f"""
dsir_toks AS (
  SELECT doc_id, lang, t
  FROM (SELECT doc_id, lang,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
        FROM documents)
  WHERE t <> ''
),
dsir_lms AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_c,
         CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_t
  FROM dsir_toks GROUP BY 1
),
dsir_tot AS (
  SELECT CAST(sum(n_c) AS BIGINT) AS tot_c,
         CAST(sum(n_t) AS BIGINT) AS tot_t,
         CAST(count(*) AS BIGINT) AS vocab
  FROM dsir_lms
),
dsir_importance AS (
  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
         round(avg(ln(CAST(n_t + 1 AS DOUBLE) / (tot_t + vocab))
                   - ln(CAST(n_c + 1 AS DOUBLE) / (tot_c + vocab))), 6)
           AS weight
  FROM dsir_toks JOIN dsir_lms USING (t), dsir_tot
  GROUP BY doc_id, lang
  HAVING avg(ln(CAST(n_t + 1 AS DOUBLE) / (tot_t + vocab))
             - ln(CAST(n_c + 1 AS DOUBLE) / (tot_c + vocab))) > 0
)
"""


def corpus_prep_semantic(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """Full curation pipeline in one composed plan: lexical pass
    (quality filter + n-gram near-dup clustering, ``corpus_prep``)
    intersected with the semantic pass (IVF-cell SemDeDup survivors)
    via the doc_id <-> vec_id identity — the production ordering where
    cheap lexical dedup shrinks the corpus before embedding-based
    pruning, and only docs surviving BOTH passes enter training.

    Scale: the two passes share no shuffle key until the final
    doc_id-keyed semi-join, which co-partitions two already-reduced
    survivor sets; at 100 TB the embedding side would read only the
    lexical survivors' vectors (predicate pushdown through the join).
    Output: (doc_id, lang, n_tokens, quality_score, centroid_id).
    """
    from . import similarity

    lexical = corpus_prep(docs)
    semantic = similarity.semdedup_survivors(emb).select(
        F.col("vec_id").alias("doc_id"), "centroid_id"
    )
    return lexical.join(semantic, "doc_id").select(
        "doc_id", "lang", "n_tokens", "quality_score", "centroid_id"
    )


ORACLE_CORPUS_PREP_SEMANTIC = """
corpus_prep_semantic AS (
  SELECT c.doc_id, c.lang, c.n_tokens, c.quality_score, s.centroid_id
  FROM corpus_prep c JOIN semantic_dedup s ON s.vec_id = c.doc_id
)
"""


#: Gopher-rule thresholds (Rae et al., 2021, Table A1 — adapted to the
#: fixture corpus's 10-99-token docs: word-count floor lowered from 50,
#: everything else the published shape).
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_AVG_LEN = 3.0
GOPHER_MAX_AVG_LEN = 12.0
GOPHER_MIN_STOPWORD = 0.04
GOPHER_MIN_ALPHA = 0.6
GOPHER_MAX_DUP_TRIGRAM = 0.20
GOPHER_MAX_DUP_WORD = 0.50


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style composite quality filter: the six published rule
    families (length bounds, mean-word-length bounds, stopword floor,
    alphabetic floor, duplicate-word and duplicate-trigram ceilings)
    each emitted as an explicit boolean column plus the conjunctive
    ``keep`` verdict — the audit-friendly form (per-rule rejection
    rates fall out of one agg over this table).

    One map-only select over the scan: every rule is a higher-order
    array / string expression on the row, zero shuffle — at 100 TB
    this runs at scan speed and is the cheap first pass that shrinks
    the corpus before any join-shaped dedup stage.
    """
    stop_arr = "array({})".format(
        ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    )
    tg = (
        "transform(sequence(0, size(w) - 3),"
        " i -> concat_ws(' ', element_at(w, i + 1),"
        " element_at(w, i + 2), element_at(w, i + 3)))"
    )
    base = docs.select(
        "doc_id",
        "lang",
        _tokens_col().alias("w"),
        F.col("text"),
    ).select(
        "doc_id",
        "lang",
        F.expr("size(w)").alias("n_words"),
        (F.length("text") / F.expr("size(w)")).alias("avg_word_len"),
        F.expr(
            f"size(filter(w, t -> array_contains({stop_arr}, t)))"
            " / CAST(size(w) AS DOUBLE)"
        ).alias("stopword_ratio"),
        (
            F.length(F.regexp_replace(F.lower(F.col("text")), r"[^a-z]", ""))
            / F.length("text")
        ).alias("alpha_ratio"),
        F.expr(
            "CASE WHEN size(w) > 0 THEN"
            " 1.0 - size(array_distinct(w)) / CAST(size(w) AS DOUBLE)"
            " ELSE 0.0 END"
        ).alias("dup_word_ratio"),
        F.expr(
            f"CASE WHEN size(w) >= 3 THEN"
            f" 1.0 - size(array_distinct({tg}))"
            f" / CAST(size(w) - 2 AS DOUBLE)"
            " ELSE 0.0 END"
        ).alias("dup_trigram_ratio"),
    )
    rules = base.select(
        "doc_id",
        "lang",
        "n_words",
        (
            (F.col("n_words") >= GOPHER_MIN_WORDS)
            & (F.col("n_words") <= GOPHER_MAX_WORDS)
        ).alias("ok_word_count"),
        (
            (F.col("avg_word_len") >= GOPHER_MIN_AVG_LEN)
            & (F.col("avg_word_len") <= GOPHER_MAX_AVG_LEN)
        ).alias("ok_word_len"),
        (F.col("stopword_ratio") >= GOPHER_MIN_STOPWORD).alias(
            "ok_stopwords"
        ),
        (F.col("alpha_ratio") >= GOPHER_MIN_ALPHA).alias("ok_alpha"),
        (F.col("dup_word_ratio") <= GOPHER_MAX_DUP_WORD).alias(
            "ok_dup_words"
        ),
        (F.col("dup_trigram_ratio") <= GOPHER_MAX_DUP_TRIGRAM).alias(
            "ok_dup_trigrams"
        ),
    )
    return rules.withColumn(
        "keep",
        F.col("ok_word_count")
        & F.col("ok_word_len")
        & F.col("ok_stopwords")
        & F.col("ok_alpha")
        & F.col("ok_dup_words")
        & F.col("ok_dup_trigrams"),
    )


def oracle_gopher_rules() -> str:
    stops = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
gr_base AS (
  SELECT doc_id, lang, text,
         regexp_split_to_array(lower(text), '\\s+') AS w
  FROM documents
),
gr_feats AS (
  SELECT doc_id, lang,
         CAST(len(w) AS INT) AS n_words,
         CAST(length(text) AS DOUBLE) / len(w) AS avg_word_len,
         CAST(len(list_filter(w, t -> list_contains([{stops}], t)))
              AS DOUBLE) / len(w) AS stopword_ratio,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
              AS DOUBLE) / length(text) AS alpha_ratio,
         CASE WHEN len(w) > 0 THEN
           1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
         ELSE 0.0 END AS dup_word_ratio,
         CASE WHEN len(w) >= 3 THEN
           1.0 - CAST(len(list_distinct(list_transform(
               range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])))
             AS DOUBLE) / (len(w) - 2)
         ELSE 0.0 END AS dup_trigram_ratio
  FROM gr_base
),
gopher_rules AS (
  SELECT doc_id, lang, n_words,
         n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
           AS ok_word_count,
         avg_word_len >= {GOPHER_MIN_AVG_LEN}
           AND avg_word_len <= {GOPHER_MAX_AVG_LEN} AS ok_word_len,
         stopword_ratio >= {GOPHER_MIN_STOPWORD} AS ok_stopwords,
         alpha_ratio >= {GOPHER_MIN_ALPHA} AS ok_alpha,
         dup_word_ratio <= {GOPHER_MAX_DUP_WORD} AS ok_dup_words,
         dup_trigram_ratio <= {GOPHER_MAX_DUP_TRIGRAM} AS ok_dup_trigrams,
         (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
           AND (avg_word_len >= {GOPHER_MIN_AVG_LEN}
                AND avg_word_len <= {GOPHER_MAX_AVG_LEN})
           AND stopword_ratio >= {GOPHER_MIN_STOPWORD}
           AND alpha_ratio >= {GOPHER_MIN_ALPHA}
           AND dup_word_ratio <= {GOPHER_MAX_DUP_WORD}
           AND dup_trigram_ratio <= {GOPHER_MAX_DUP_TRIGRAM} AS keep
  FROM gr_feats
)
"""


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style corpus partitioning (Wenzek et al., 2020): rank each
    document by LM score within its language and split into
    head / middle / tail terciles — the standard recipe for grading
    web text by fluency before choosing how much of each grade enters
    training. The LM is the corpus's own unigram model
    (``unigram_logprob_scores``); head = least-perplex tercile.

    The ntile window sorts only within a language partition — at
    100 TB per-lang partitions are the natural parallel unit (the
    biggest lang still fits a sort-spill pipeline; CCNet itself shards
    per language). Ranking runs on the ROUNDED score so the tercile
    boundaries are cross-engine identical; ties broken by doc_id.
    """
    scores = unigram_logprob_scores(docs)
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), "doc_id"
    )
    tile = F.ntile(3).over(w)
    return (
        docs.select("doc_id", "lang")
        .join(scores, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "avg_logprob",
            F.when(tile == 1, "head")
            .when(tile == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


ORACLE_CCNET_BUCKETS = """
ccnet_buckets AS (
  SELECT u.doc_id, d.lang, u.n_tokens, u.avg_logprob,
         CASE ntile(3) OVER (PARTITION BY d.lang
                             ORDER BY u.avg_logprob DESC, u.doc_id)
           WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
         END AS bucket
  FROM unigram_logprob u JOIN documents d USING (doc_id)
)
"""


def char_entropy_scores(docs: DataFrame) -> DataFrame:
    """Per-document Shannon character entropy (bits/char): the cheap
    boilerplate detector — machine-generated or repetitive text sits
    well below natural language's ~4 bits/char, random junk above it.
    Used alongside the Gopher rules as a map-only quality signal.

    Entirely row-local higher-order expressions (no explode): the
    distinct-char set is sorted so the entropy fold runs in identical
    order in both engines, and per-char counts are exact integers over
    an exact length denominator; rounding to 6 absorbs log2's <=1-ulp
    libm drift. O(distinct_chars x doc_len) per row, zero shuffle —
    scan-speed at 100 TB like the other text scorers.
    """
    chars = "filter(split(lower(text), ''), x -> x <> '')"
    p = f"(CAST(size(filter({chars}, x -> x = ch)) AS DOUBLE)" \
        " / length(text))"
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.round(
            F.expr(
                f"aggregate(array_sort(array_distinct({chars})),"
                f" CAST(0 AS DOUBLE),"
                f" (acc, ch) -> acc - {p} * log2({p}))"
            ),
            6,
        ).alias("char_entropy"),
    )


ORACLE_CHAR_ENTROPY = """
char_entropy_scores AS (
  SELECT doc_id,
         CAST(length(text) AS INT) AS n_chars,
         round(list_sum(list_transform(
           list_sort(list_distinct(
             list_filter(string_split(lower(text), ''), x -> x <> ''))),
           ch -> - (CAST(len(list_filter(string_split(lower(text), ''),
                                         x -> x = ch)) AS DOUBLE)
                    / length(text))
                 * log2(CAST(len(list_filter(string_split(lower(text), ''),
                                             x -> x = ch)) AS DOUBLE)
                        / length(text)))), 6) AS char_entropy
  FROM documents
)
"""


#: BM25 free parameters (the standard Robertson/Sparck-Jones values)
#: and a fixed query-term set drawn from the corpus vocabulary.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("hash", "join", "vector")
BM25_TOP_K = 50


def bm25_search(docs: DataFrame, k: int = BM25_TOP_K) -> DataFrame:
    """BM25 ranked retrieval: score every document against a fixed
    query-term set and return the top-k — the lexical-retrieval half of
    a RAG / training-data selection pipeline (Robertson's Okapi BM25,
    the public standard).

    Plan shape (three tiny aggregates + one map-side score):

      1. per-doc term frequencies for ONLY the query terms, computed
         inline with ``filter(tokens, t -> t = term)`` — no
         explode-of-all-tokens, so the corpus never shuffles on token;
      2. corpus stats (N, avgdl) in one 1-row agg, document frequencies
         per query term in one |Q|-row agg — both broadcast back;
      3. the BM25 sum is a pure projection; top-k via TakeOrdered.

    At 100 TB the only data-sized cost is the scan: everything joined
    is O(|Q|) rows. IDF uses the +1 form (ln((N - df + .5)/(df + .5)
    + 1)) so scores stay positive; ties break on doc_id. Scores round
    to 4 decimals (repo float rule).
    """
    toks = _tokens_col()

    def _eq(term: str):
        # NB: unary lambda only — F.filter treats a 2-arg callable as
        # (element, index), so a `term=term` default would capture the
        # positional-index column instead of the query term.
        return lambda t: t == F.lit(term)

    tf_cols = [
        F.size(F.filter(toks, _eq(term))).alias(f"tf_{i}")
        for i, term in enumerate(BM25_QUERY_TERMS)
    ]
    per_doc = docs.select(
        "doc_id", F.size(toks).alias("dl"), *tf_cols
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    n, k1, b = F.col("n_docs"), F.lit(BM25_K1), F.lit(BM25_B)
    score = None
    for i in range(len(BM25_QUERY_TERMS)):
        tf, df = F.col(f"tf_{i}").cast("double"), F.col(f"df_{i}")
        idf = F.log(
            (n - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0)
        )
        part = idf * (
            tf
            * (k1 + 1)
            / (tf + k1 * (F.lit(1.0) - b + b * F.col("dl") / F.col("avgdl")))
        )
        score = part if score is None else score + part
    return (
        scored.select(
            "doc_id", "dl", F.round(score, 4).alias("bm25")
        )
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(k)
    )


def oracle_bm25_search(k: int = BM25_TOP_K) -> str:
    split = "regexp_split_to_array(lower(text), '\\s+')"
    tf_sql = ", ".join(
        f"len(list_filter({split}, t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(BM25_QUERY_TERMS)
    )
    df_sql = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(BM25_QUERY_TERMS))
    )
    score_sql = " + ".join(
        f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * (CAST(tf_{i} AS DOUBLE) * ({BM25_K1} + 1)"
        f" / (CAST(tf_{i} AS DOUBLE) + {BM25_K1}"
        f"    * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl)))"
        for i in range(len(BM25_QUERY_TERMS))
    )
    return f"""
bm_per_doc AS (
  SELECT doc_id, len({split}) AS dl, {tf_sql}
  FROM documents
),
bm_stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl, {df_sql}
  FROM bm_per_doc
),
bm_scored AS (
  SELECT doc_id, dl, round({score_sql}, 4) AS bm25
  FROM bm_per_doc CROSS JOIN bm_stats
),
bm25_search AS (
  SELECT doc_id, dl, bm25
  FROM bm_scored
  WHERE bm25 > 0
  ORDER BY bm25 DESC, doc_id
  LIMIT {k}
)
"""


#: Dirichlet-prior smoothing mass for query-likelihood retrieval —
#: the standard mu (Zhai & Lafferty 2001); an exact integer, so the
#: smoothing arithmetic starts from identical operands cross-engine.
QL_MU = 2000


def ql_search(docs: DataFrame, k: int = BM25_TOP_K) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval over the same
    fixed query terms as ``bm25_search`` — the language-modeling
    school of lexical ranking next to BM25's probabilistic one:
    score(d) = sum_t ln((tf + mu*cf_t/|C|) / (dl + mu)). Running both
    models over one corpus is how a RAG pipeline A/Bs its lexical
    leg; the two top-k lists rank-disagree exactly where doc-length
    normalization vs collection-frequency smoothing disagree.

    Same 100 TB plan shape as BM25: per-doc tfs for ONLY the query
    terms via filter() (no token shuffle), a 1-row corpus-stats agg
    (collection frequencies + total tokens) broadcast back, score as
    a pure projection, TakeOrdered top-k on the ROUNDED score with a
    doc_id tie-break. Smoothing keeps every term's contribution
    finite, so no doc is filtered out — the limit is the only cut.

    Output: doc_id, dl, ql (round 4), top-k by (ql DESC, doc_id).
    """
    toks = _tokens_col()

    def _eq(term: str):
        return lambda t: t == F.lit(term)

    tf_cols = [
        F.size(F.filter(toks, _eq(term))).alias(f"tf_{i}")
        for i, term in enumerate(BM25_QUERY_TERMS)
    ]
    per_doc = docs.select(
        "doc_id", F.size(toks).alias("dl"), *tf_cols
    )
    stats = per_doc.agg(
        F.sum("dl").alias("c_total"),
        *[
            F.sum(F.col(f"tf_{i}")).alias(f"cf_{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    mu = F.lit(float(QL_MU))
    score = None
    for i in range(len(BM25_QUERY_TERMS)):
        part = F.log(
            (
                F.col(f"tf_{i}").cast("double")
                + mu * F.col(f"cf_{i}") / F.col("c_total")
            )
            / (F.col("dl") + mu)
        )
        score = part if score is None else score + part
    return (
        scored.select("doc_id", "dl", F.round(score, 4).alias("ql"))
        .orderBy(F.desc("ql"), "doc_id")
        .limit(k)
    )


def oracle_ql_search(k: int = BM25_TOP_K) -> str:
    split = "regexp_split_to_array(lower(text), '\\s+')"
    tf_sql = ", ".join(
        f"len(list_filter({split}, t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(BM25_QUERY_TERMS)
    )
    cf_sql = ", ".join(
        f"CAST(sum(tf_{i}) AS BIGINT) AS cf_{i}"
        for i in range(len(BM25_QUERY_TERMS))
    )
    score_sql = " + ".join(
        f"ln((CAST(tf_{i} AS DOUBLE)"
        f" + CAST({QL_MU}.0 AS DOUBLE) * cf_{i} / c_total)"
        f" / (dl + CAST({QL_MU}.0 AS DOUBLE)))"
        for i in range(len(BM25_QUERY_TERMS))
    )
    return f"""
qls_per_doc AS (
  SELECT doc_id, len({split}) AS dl, {tf_sql}
  FROM documents
),
qls_stats AS (
  SELECT CAST(sum(dl) AS BIGINT) AS c_total, {cf_sql}
  FROM qls_per_doc
),
ql_search AS (
  SELECT doc_id, dl, ql FROM (
    SELECT doc_id, dl, round({score_sql}, 4) AS ql
    FROM qls_per_doc CROSS JOIN qls_stats
  )
  ORDER BY ql DESC, doc_id
  LIMIT {k}
)
"""


#: BPE pair-count surface: top-k adjacent character pairs.
BPE_TOP_PAIRS = 20


def bpe_first_merges(docs: DataFrame, k: int = BPE_TOP_PAIRS) -> DataFrame:
    """Tokenizer training, step one: corpus-wide adjacent character
    pair counts — the statistic the first BPE merge maximizes
    (Sennrich's public byte-pair-encoding recipe).

    The scale trick: pair counting runs over the DISTINCT-WORD
    VOCABULARY weighted by word frequency, never over raw text. The
    corpus-sized stage is one word-count hash-agg (map-side partial,
    Zipf-bounded output); the character-bigram explode touches only
    vocabulary rows (orders of magnitude smaller, and bounded by
    vocabulary size regardless of corpus scale). Each BPE iteration
    repeats this same plan on the re-segmented vocabulary.
    """
    vocab = (
        docs.select(F.explode(_tokens_col()).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    # length-1 words carry no pairs; the filter also keeps Spark's
    # sequence() off the start>stop case (which counts DOWN, not empty)
    pairs = vocab.filter(F.length("w") >= 2).select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n_pair"))
        .orderBy(F.desc("n_pair"), "pair")
        .limit(k)
    )


def oracle_bpe_first_merges(k: int = BPE_TOP_PAIRS) -> str:
    return f"""
bpe_vocab AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM documents)
  GROUP BY w
),
bpe_exploded AS (
  SELECT freq, substr(w, CAST(i AS INT), 2) AS pair
  FROM (SELECT w, freq, unnest(range(1, length(w))) AS i FROM bpe_vocab)
),
bpe_first_merges AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS n_pair
  FROM bpe_exploded
  GROUP BY pair
  ORDER BY n_pair DESC, pair
  LIMIT {k}
)
"""


# ---------------------------------------------------------------------------
# positional inverted index: exact phrase search
# ---------------------------------------------------------------------------

#: searched bigram phrase (fixture-common; parameterize in production).
PHRASE_W1 = "order"
PHRASE_W2 = "fast"


def phrase_search(docs: DataFrame) -> DataFrame:
    """Exact phrase search via a positional inverted index — the
    distributed form of a search engine's phrase query: posexplode
    assigns token positions, the two posting lists (one per phrase
    word) join on (doc_id, adjacent positions). Per-doc output is
    occurrence count + first position.

    Scale shape: posting lists are filtered BEFORE the join (only the
    phrase words' postings move), the join key (doc_id) is uniform,
    and position adjacency is an equi-condition (pos_b = pos_a + 1) —
    a hash join, never a positional sort-merge. At 100 TB the posting
    lists would be a materialized inverted-index table bucketed by
    term; this plan is the query-side probe of exactly that layout.
    """
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias(
            "pos", "word"
        ),
    )
    w1 = toks.filter(F.col("word") == PHRASE_W1).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    w2 = toks.filter(F.col("word") == PHRASE_W2).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    return (
        w1.join(
            w2,
            ["doc_id"],
        )
        .filter(F.col("pos_b") == F.col("pos_a") + 1)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.min("pos_a").alias("first_pos"),
        )
    )


ORACLE_PHRASE_SEARCH = f"""
ps_toks AS (
  SELECT doc_id, unnest(toks) AS word,
         CAST(generate_subscripts(toks, 1) - 1 AS INT) AS pos
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents)
),
phrase_search AS (
  SELECT a.doc_id,
         CAST(count(*) AS BIGINT) AS n_hits,
         CAST(min(a.pos) AS INT) AS first_pos
  FROM ps_toks a
  JOIN ps_toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.word = '{PHRASE_W1}' AND b.word = '{PHRASE_W2}'
  GROUP BY a.doc_id
)
"""


#: exact-substring dedup window: spans of this many whitespace tokens.
DUP_SPAN_W = 8
#: a span is "duplicated" when it appears in at least this many docs.
DUP_SPAN_MIN_DOCS = 2


def duplicate_spans(docs: DataFrame, w: int = DUP_SPAN_W) -> DataFrame:
    """Exact duplicate n-gram span detection — the bounded-window,
    position-aware form of suffix-array substring dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better";
    the fixed-width n-gram index is the distributed approximation used
    by web-corpus pipelines).

    Every w-token span is hashed with its start position; spans whose
    hash occurs in >= DUP_SPAN_MIN_DOCS distinct docs are duplicated
    content. Per doc, overlapping/contiguous duplicated spans merge
    into maximal islands (gaps-and-islands over the position lag), and
    the EXACT union of covered tokens is summed incrementally
    (min(w, pos - prev_pos) per span — no interval list materializes).

    Output per affected doc: n_dup_positions, n_islands, dup_tokens,
    n_tokens, dup_frac — the "fraction of this document that is
    copied text" signal a cleaning pipeline thresholds on.

    Scale shape: token-scale posexplode is map-side; the only
    corpus-wide shuffle is the span-hash agg (md5 key — uniform, no
    skew), the duplicated-hash semi-join partitions on the same key,
    and the island merge is one doc_id window. No self-join exists, so
    cost is linear in corpus tokens — unlike pair-forming dedup, a
    span shared by k docs costs k rows, never k^2 pairs.
    """
    # r10 (guide §2.5): the per-position span-md5 transform below is
    # the heavy stage and was fused into the ONE-task fixture scan;
    # spread the corpus first so it runs at full width (results are a
    # hash agg + doc-keyed window — partition-invariant).
    toks = _spread(docs, "doc_id").select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("t")
    )
    spans = (
        toks.filter(F.size("t") >= w)
        .select(
            "doc_id",
            F.col("t"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(t) - {w}),"
                    f" i -> md5(concat_ws(' ', slice(t, i + 1, {w}))))"
                )
            ).alias("pos", "h"),
        )
        .select("doc_id", "pos", "h", F.size("t").alias("n_tokens"))
    )
    hot = (
        spans.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= DUP_SPAN_MIN_DOCS)
        .select("h")
    )
    dup = spans.join(hot, "h")
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    marked = dup.withColumn(
        "delta", F.col("pos") - F.lag("pos").over(wspec)
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_positions"),
            F.sum(
                F.when(
                    F.col("delta").isNull() | (F.col("delta") > w), 1
                ).otherwise(0)
            ).alias("n_islands"),
            F.sum(
                F.when(F.col("delta").isNull(), w).otherwise(
                    F.least(F.lit(w), F.col("delta"))
                )
            ).alias("dup_tokens"),
            F.first("n_tokens").alias("n_tokens"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_tokens") / F.col("n_tokens"), 6),
        )
    )


ORACLE_DUP_SPANS = f"""
dsp_toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
),
dsp_spans AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         md5(array_to_string(t[i + 1 : i + {DUP_SPAN_W}], ' ')) AS h,
         len(t) AS n_tokens
  FROM dsp_toks, LATERAL unnest(range(0, len(t) - {DUP_SPAN_W} + 1))
    AS g(i)
  WHERE len(t) >= {DUP_SPAN_W}
),
dsp_hot AS (
  SELECT h FROM dsp_spans
  GROUP BY h HAVING count(DISTINCT doc_id) >= {DUP_SPAN_MIN_DOCS}
),
dsp_marked AS (
  SELECT s.doc_id, s.n_tokens,
         s.pos - lag(s.pos) OVER (PARTITION BY s.doc_id ORDER BY s.pos)
           AS delta
  FROM dsp_spans s JOIN dsp_hot USING (h)
),
duplicate_spans AS (
  SELECT doc_id,
         count(*) AS n_dup_positions,
         CAST(sum(CASE WHEN delta IS NULL OR delta > {DUP_SPAN_W}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_islands,
         CAST(sum(CASE WHEN delta IS NULL THEN {DUP_SPAN_W}
                       ELSE least({DUP_SPAN_W}, delta) END) AS BIGINT)
           AS dup_tokens,
         CAST(any_value(n_tokens) AS INT) AS n_tokens,
         round(CAST(sum(CASE WHEN delta IS NULL THEN {DUP_SPAN_W}
                             ELSE least({DUP_SPAN_W}, delta) END)
                    AS DOUBLE) / any_value(n_tokens), 6) AS dup_frac
  FROM dsp_marked
  GROUP BY doc_id
)
"""


#: add-k smoothing constant for the bigram LM.
BIGRAM_ADD_K = 0.5


def bigram_logprob_scores(docs: DataFrame) -> DataFrame:
    """Corpus bigram LM scoring with add-k smoothing — the next rung
    above ``unigram_logprob_scores`` on the KenLM ladder: per-doc mean
    ln P(w2|w1) where P = (C(w1,w2)+k) / (C(w1·)+k·V). Bigrams see
    word ORDER, so scrambled-but-common-word junk that fools the
    unigram filter scores low here; smoothing keeps unseen pairs
    finite (essential when scoring held-out text under a corpus LM).

    Plans: one explode feeds both LM tables (bigram counts; context
    counts derived from them by a second tiny agg — never a rescan);
    scoring is one pair-key join + one per-doc agg. The LM join is
    left unhinted for the same reason as the unigram op: a curated
    vocabulary's bigram table broadcasts at runtime via AQE, raw web
    text's does not and hash-joins on the uniform pair key. Scores
    rounded to 6 decimals (cross-engine float rule).
    """
    k = BIGRAM_ADD_K
    toksarr = docs.select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), '\\\\s+'), x -> x != '')"
        ).alias("t"),
    )
    bi = (
        toksarr.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    bc = bi.groupBy("w1", "w2").agg(F.count("*").alias("n_bi"))
    ctx = bc.groupBy("w1").agg(F.sum("n_bi").alias("n_ctx"))
    vocab = toksarr.select(F.explode("t").alias("x")).agg(
        F.countDistinct("x").alias("v")
    )
    return (
        bi.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.col("n_bi") + F.lit(k))
                / (F.col("n_ctx") + F.lit(k) * F.col("v"))
            ).alias("lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )


#: Kneser-Ney absolute discount — 3/4 is the textbook default and an
#: EXACT binary double, so both engines subtract the identical value.
KN_DISCOUNT = 0.75


def kneser_ney_scores(docs: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the smoothing that
    actually ships in KenLM-filtered pretraining pipelines, one rung
    above add-k: P(w2|w1) = max(C(w1,w2)-D,0)/C(w1*) +
    (D*T(w1)/C(w1*)) * (N1+(*w2)/B), where T(w1) = distinct
    continuations of w1, N1+(*w2) = distinct predecessors of w2, and
    B = distinct bigram types. The continuation term is what rescues
    "san francisco"-style words that are frequent only in one context
    — the failure mode add-k cannot see.

    Every statistic is an integer aggregate of the SAME bigram-count
    table (T and N1+ are second-level aggs of it — no rescans); the
    discount is the exact-binary 3/4; scored bigrams all occur in the
    corpus (self-scoring), so the discounted term stays positive and
    the interpolation total is strictly inside (0, 1]. The scoring
    expression is parenthesized identically in the oracle so each
    per-bigram double is bit-reproducible before the rounded per-doc
    mean. Output: doc_id, n_bigrams, kn_logprob (round 6).
    """
    d = KN_DISCOUNT
    toksarr = docs.select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), '\\\\s+'), x -> x != '')"
        ).alias("t"),
    )
    bi = (
        toksarr.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    bc = bi.groupBy("w1", "w2").agg(F.count("*").alias("n_bi"))
    ctx = bc.groupBy("w1").agg(
        F.sum("n_bi").alias("n_ctx"),
        F.count("*").alias("n_types"),
    )
    cont = bc.groupBy("w2").agg(F.count("*").alias("n_cont"))
    btypes = bc.agg(F.count("*").alias("b_types"))
    p = (F.col("n_bi") - F.lit(d)) / F.col("n_ctx") + (
        F.lit(d) * F.col("n_types") / F.col("n_ctx")
    ) * (F.col("n_cont") / F.col("b_types"))
    return (
        bi.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(btypes))
        .select("doc_id", F.log(p).alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("kn_logprob"),
        )
    )


ORACLE_KNESER_NEY = f"""
kn_t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
kn_bi AS MATERIALIZED (
  SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
  FROM kn_t, LATERAL unnest(range(0, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
kn_bc AS MATERIALIZED (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_bi
  FROM kn_bi GROUP BY 1, 2
),
kn_ctx AS (
  SELECT w1, CAST(sum(n_bi) AS BIGINT) AS n_ctx,
         CAST(count(*) AS BIGINT) AS n_types
  FROM kn_bc GROUP BY 1
),
kn_cont AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n_cont FROM kn_bc GROUP BY 1
),
kn_bt AS (SELECT CAST(count(*) AS BIGINT) AS b_types FROM kn_bc),
text_kneser_ney AS (
  SELECT b.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(ln((c.n_bi - {KN_DISCOUNT}) / x.n_ctx
               + ({KN_DISCOUNT} * x.n_types / x.n_ctx)
                 * (CAST(n.n_cont AS DOUBLE) / t.b_types))), 6)
           AS kn_logprob
  FROM kn_bi b
  JOIN kn_bc c USING (w1, w2)
  JOIN kn_ctx x USING (w1)
  JOIN kn_cont n USING (w2)
  CROSS JOIN kn_bt t
  GROUP BY 1
)
"""


ORACLE_BIGRAM_LOGPROB = f"""
bl_toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
bl_bi AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM bl_toks, LATERAL unnest(range(1, len(t))) AS g(i)
  WHERE len(t) >= 2
),
bl_bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_bi
  FROM bl_bi GROUP BY 1, 2
),
bl_ctx AS (
  SELECT w1, CAST(sum(n_bi) AS BIGINT) AS n_ctx FROM bl_bc GROUP BY 1
),
bl_v AS (
  SELECT CAST(count(DISTINCT x) AS BIGINT) AS v
  FROM (SELECT unnest(t) AS x FROM bl_toks)
),
bigram_logprob AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(ln((n_bi + {BIGRAM_ADD_K})
                      / (n_ctx + {BIGRAM_ADD_K} * v))), 6)
           AS avg_logprob
  FROM bl_bi
  JOIN bl_bc USING (w1, w2)
  JOIN bl_ctx USING (w1), bl_v
  GROUP BY doc_id
)
"""


def nb_quality_scores(docs: DataFrame) -> DataFrame:
    """Session-staged NB score table (see ``_nb_scores_build``): seven
    consumers (the declared quality query plus AUC / calibration / PR
    / scorecard / gains / decomposition) read one materialization
    instead of re-running the train-plus-score pipeline (r10; the
    bench line that first touches it carries the build, see
    OPTIMIZATION_r10.md)."""
    return _stage("nb_scored", docs, lambda: _nb_scores_build(docs))


def _nb_scores_build(docs: DataFrame) -> DataFrame:
    """Model-based quality filter, trained DISTRIBUTED and exactly
    verifiable: a multinomial Naive Bayes classifier fit on the Gopher
    rule verdict as weak labels (the CCNet / GPT-3-era recipe — train
    a cheap classifier on rule-derived labels, then score with the
    model, which generalizes past the rules' hard edges), scoring each
    doc with its keep-vs-reject log-odds.

    Because NB training is nothing but integer count aggregation
    (class-conditional token counts + priors, add-1 smoothing), the
    ENTIRE train-plus-score computation is replayable in SQL — this is
    the one trained text classifier in the engine whose coefficients
    and scores hash-match a DuckDB oracle, unlike the LBFGS-fitted
    models (rows-only by necessity).

    Plans: one token explode feeds training counts (one shuffle on the
    token key) and scoring (join on the same key — co-partitioned);
    totals and priors are tiny broadcast aggregates. Here the model
    scores its own training corpus (self-distillation of the rules);
    production scores a held-out corpus with the same tables.

    Output: doc_id, n_tokens, log_odds (rounded 6), pred_keep
    (sign of the rounded odds), keep (the weak label, for confusion
    readouts downstream).
    """
    labels = gopher_rules(docs).select("doc_id", "keep")
    # r10 (guide §2.5): toks is consumed twice (training counts +
    # scoring join) and the explode was fused into the one-task scan.
    toks = _spread(docs, "doc_id").select(
        "doc_id", F.explode(_tokens_col()).alias("t")
    ).filter(F.col("t") != "")
    tok_counts = (
        toks.join(labels, "doc_id")
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("c_keep"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("c_rej"),
        )
    )
    tot = tok_counts.agg(
        F.sum("c_keep").alias("n_keep"),
        F.sum("c_rej").alias("n_rej"),
        F.count("*").alias("v"),
    )
    prior = labels.agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("d_keep"),
        F.count("*").alias("d_all"),
    )
    contrib = (
        toks.join(tok_counts, "t")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (
                F.log(
                    (F.col("c_keep") + F.lit(1.0))
                    / (F.col("n_keep") + F.col("v"))
                )
                - F.log(
                    (F.col("c_rej") + F.lit(1.0))
                    / (F.col("n_rej") + F.col("v"))
                )
            ).alias("lo"),
        )
    )
    per_doc = contrib.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"), F.sum("lo").alias("s")
    )
    return (
        per_doc.crossJoin(F.broadcast(prior))
        .join(labels, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("s")
                + F.log(
                    F.col("d_keep").cast("double")
                    / (F.col("d_all") - F.col("d_keep"))
                ),
                6,
            ).alias("log_odds"),
            (
                F.round(
                    F.col("s")
                    + F.log(
                        F.col("d_keep").cast("double")
                        / (F.col("d_all") - F.col("d_keep"))
                    ),
                    6,
                )
                > 0
            ).alias("pred_keep"),
            "keep",
        )
    )


ORACLE_NB_QUALITY = """
nbq_toks AS (
  SELECT doc_id, t
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
        FROM documents)
  WHERE t <> ''
),
nbq_counts AS (
  SELECT t,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS c_keep,
         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS c_rej
  FROM nbq_toks JOIN gopher_rules USING (doc_id)
  GROUP BY 1
),
nbq_tot AS (
  SELECT CAST(sum(c_keep) AS BIGINT) AS n_keep,
         CAST(sum(c_rej) AS BIGINT) AS n_rej,
         CAST(count(*) AS BIGINT) AS v
  FROM nbq_counts
),
nbq_prior AS (
  SELECT CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS d_keep,
         CAST(count(*) AS BIGINT) AS d_all
  FROM gopher_rules
),
nbq_per_doc AS (
  SELECT s.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         sum(ln((c.c_keep + 1.0) / (t.n_keep + t.v))
             - ln((c.c_rej + 1.0) / (t.n_rej + t.v))) AS s
  FROM nbq_toks s JOIN nbq_counts c USING (t), nbq_tot t
  GROUP BY s.doc_id
),
nb_quality AS (
  SELECT d.doc_id, d.n_tokens,
         round(d.s + ln(CAST(p.d_keep AS DOUBLE)
                        / (p.d_all - p.d_keep)), 6) AS log_odds,
         round(d.s + ln(CAST(p.d_keep AS DOUBLE)
                        / (p.d_all - p.d_keep)), 6) > 0 AS pred_keep,
         g.keep
  FROM nbq_per_doc d, nbq_prior p
  JOIN gopher_rules g ON g.doc_id = d.doc_id
)
"""


#: fold count for the NB cross-validation.
NB_CV_FOLDS = 3


def nb_quality_cv(docs: DataFrame, n_folds: int = NB_CV_FOLDS) -> DataFrame:
    """Leakage-safe k-fold cross-validation of the NB quality
    classifier — with ALL k models trained in ONE corpus pass.

    The trick is count subtraction: token counts aggregate once per
    (token, fold, class); fold f's TRAINING model is the global totals
    minus fold f's own counts (priors, class totals, and the training
    vocabulary size derive the same way — a token whose occurrences
    all sit in fold f leaves that fold's training vocab). No per-fold
    rescan, no per-fold shuffle: k-fold CV costs one extra tiny agg
    over the vocabulary table. Every quantity is integral until the
    final log, so the full train-and-evaluate loop hash-matches SQL —
    the eval methodology itself is verifiable, not just the model.

    Folds split on doc_id mod k here (oracle-replayable); production
    splits on a content hash (``docs_split_by_hash``) so copies land
    in one fold and cannot leak across the train/test boundary.

    Output: one row per fold — n_docs, n_correct, accuracy(4dp).
    """
    k = n_folds
    # labels (doc grain, 3 consumers) and tok_fold (vocab x k grain,
    # 4 consumers: totals, fold scalars, exclusive-vocab, contrib)
    # are both bounded and multiply-consumed — lazy checkpoints stop
    # the gopher pass and the (t, fold) agg from re-running per
    # consumer (r10, guide §2.4). Values are exact integers.
    labels = (
        gopher_rules(docs)
        .select("doc_id", "keep")
        .withColumn("fold", F.pmod("doc_id", F.lit(k)))
        .localCheckpoint(eager=False)
    )
    toks = (
        docs.select("doc_id", F.explode(_tokens_col()).alias("t"))
        .filter(F.col("t") != "")
        .join(labels, "doc_id")
    )
    tok_fold = toks.groupBy("t", "fold").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("ckf"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("crf"),
    ).localCheckpoint(eager=False)
    tok_tot = tok_fold.groupBy("t").agg(
        F.sum("ckf").alias("ck"), F.sum("crf").alias("cr")
    )
    # per-fold training scalars, all derived by subtraction:
    folds = tok_fold.groupBy("fold").agg(
        F.sum("ckf").alias("nkf"), F.sum("crf").alias("nrf")
    )
    tot = tok_tot.agg(
        F.sum("ck").alias("nk"),
        F.sum("cr").alias("nr"),
        F.count("*").alias("v_all"),
    )
    exclusive = (
        tok_fold.join(tok_tot, "t")
        .filter(
            (F.col("ckf") + F.col("crf")) == (F.col("ck") + F.col("cr"))
        )
        .groupBy("fold")
        .agg(F.count("*").alias("n_exclusive"))
    )
    dpriors = labels.groupBy("fold").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("dkf"),
        F.count("*").alias("df"),
    )
    dtot = labels.agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("dk"),
        F.count("*").alias("d"),
    )
    fold_stats = (
        folds.join(exclusive, "fold", "left")
        .join(dpriors, "fold")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dtot))
        .select(
            "fold",
            (F.col("nk") - F.col("nkf")).alias("nk_train"),
            (F.col("nr") - F.col("nrf")).alias("nr_train"),
            (
                F.col("v_all") - F.coalesce("n_exclusive", F.lit(0))
            ).alias("v_train"),
            (F.col("dk") - F.col("dkf")).alias("dk_train"),
            (
                (F.col("d") - F.col("df"))
                - (F.col("dk") - F.col("dkf"))
            ).alias("dr_train"),
        )
    )
    contrib = (
        toks.join(tok_tot, "t")
        .join(tok_fold, ["t", "fold"], "left")
        .join(F.broadcast(fold_stats), "fold")
        .select(
            "doc_id",
            "fold",
            "keep",
            (
                F.log(
                    (
                        F.col("ck")
                        - F.coalesce("ckf", F.lit(0))
                        + F.lit(1.0)
                    )
                    / (F.col("nk_train") + F.col("v_train"))
                )
                - F.log(
                    (
                        F.col("cr")
                        - F.coalesce("crf", F.lit(0))
                        + F.lit(1.0)
                    )
                    / (F.col("nr_train") + F.col("v_train"))
                )
            ).alias("lo"),
        )
    )
    per_doc = contrib.groupBy("doc_id", "fold", "keep").agg(
        F.sum("lo").alias("s")
    )
    scored = per_doc.join(F.broadcast(fold_stats), "fold").select(
        "fold",
        "keep",
        (
            F.round(
                F.col("s")
                + F.log(
                    F.col("dk_train").cast("double") / F.col("dr_train")
                ),
                6,
            )
            > 0
        ).alias("pred"),
    )
    return (
        scored.groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("pred") == F.col("keep"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .withColumn(
            "accuracy",
            F.round(F.col("n_correct") / F.col("n_docs"), 4),
        )
    )


ORACLE_NB_CV = f"""
cv_lab AS (
  SELECT doc_id, keep, doc_id % {NB_CV_FOLDS} AS fold FROM gopher_rules
),
cv_toks AS (
  SELECT s.doc_id, s.t, l.keep, l.fold
  FROM (SELECT doc_id, t
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
              FROM documents)
        WHERE t <> '') s
  JOIN cv_lab l USING (doc_id)
),
cv_tok_fold AS (
  SELECT t, fold,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS ckf,
         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS crf
  FROM cv_toks GROUP BY 1, 2
),
cv_tok_tot AS (
  SELECT t, CAST(sum(ckf) AS BIGINT) AS ck,
         CAST(sum(crf) AS BIGINT) AS cr
  FROM cv_tok_fold GROUP BY 1
),
cv_folds AS (
  SELECT fold, CAST(sum(ckf) AS BIGINT) AS nkf,
         CAST(sum(crf) AS BIGINT) AS nrf
  FROM cv_tok_fold GROUP BY 1
),
cv_tot AS (
  SELECT CAST(sum(ck) AS BIGINT) AS nk, CAST(sum(cr) AS BIGINT) AS nr,
         CAST(count(*) AS BIGINT) AS v_all
  FROM cv_tok_tot
),
cv_excl AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS n_exclusive
  FROM cv_tok_fold f JOIN cv_tok_tot t USING (t)
  WHERE f.ckf + f.crf = t.ck + t.cr
  GROUP BY 1
),
cv_dpriors AS (
  SELECT fold,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS dkf,
         CAST(count(*) AS BIGINT) AS df
  FROM cv_lab GROUP BY 1
),
cv_dtot AS (
  SELECT CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS dk,
         CAST(count(*) AS BIGINT) AS d
  FROM cv_lab
),
cv_fold_stats AS (
  SELECT f.fold,
         t.nk - f.nkf AS nk_train,
         t.nr - f.nrf AS nr_train,
         t.v_all - coalesce(e.n_exclusive, 0) AS v_train,
         dt.dk - p.dkf AS dk_train,
         (dt.d - p.df) - (dt.dk - p.dkf) AS dr_train
  FROM cv_folds f
  LEFT JOIN cv_excl e USING (fold)
  JOIN cv_dpriors p USING (fold), cv_tot t, cv_dtot dt
),
cv_per_doc AS (
  SELECT x.doc_id, x.fold, x.keep,
         sum(ln((tt.ck - coalesce(tf.ckf, 0) + 1.0)
                / (fs.nk_train + fs.v_train))
             - ln((tt.cr - coalesce(tf.crf, 0) + 1.0)
                  / (fs.nr_train + fs.v_train))) AS s
  FROM cv_toks x
  JOIN cv_tok_tot tt USING (t)
  LEFT JOIN cv_tok_fold tf ON tf.t = x.t AND tf.fold = x.fold
  JOIN cv_fold_stats fs ON fs.fold = x.fold
  GROUP BY 1, 2, 3
),
nb_quality_cv AS (
  SELECT d.fold,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN
             (round(d.s + ln(CAST(fs.dk_train AS DOUBLE) / fs.dr_train),
                    6) > 0) = d.keep
           THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         round(CAST(sum(CASE WHEN
             (round(d.s + ln(CAST(fs.dk_train AS DOUBLE) / fs.dr_train),
                    6) > 0) = d.keep
           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS accuracy
  FROM cv_per_doc d JOIN cv_fold_stats fs ON fs.fold = d.fold
  GROUP BY 1
)
"""


def nb_quality_auc(docs: DataFrame) -> DataFrame:
    """Exact ROC-AUC of the NB quality classifier against its weak
    labels — AUC computed as the Mann-Whitney statistic (AUC = P(score
    of a random positive > random negative), ties at half), using the
    doubled-midrank identity so every intermediate is an integer:
    with a tie group of c scores at cumulative position p, its
    doubled rank is 2p + c + 1, the positives' doubled rank sum is
    integral, and AUC = (2R+ − n+(n+1)) / (2·n+·n−) divides once at
    the output edge.

    The model evaluation loop (train -> score -> rank -> AUC) is
    thereby verifiable end-to-end by the SQL oracle — no sampling, no
    trapezoid approximation. One extra agg over the scores table; the
    score grain is bounded by distinct log-odds values.

    Output (1 row): n_pos, n_neg, auc (rounded 6).
    """
    scored = nb_quality_scores(docs).select("log_odds", "keep")
    per_value = scored.groupBy("log_odds").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("cp"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("cn"),
    ).withColumn("c", F.col("cp") + F.col("cn")).withColumn(
        "bucket", F.floor("log_odds")
    )
    # bucketed prefix-sum (the KS/Mann-Whitney rank machinery) — a
    # bare ORDER BY window here would be a data-sized single-partition
    # exchange, the exact anti-pattern plan_lint flags
    btot = per_value.groupBy("bucket").agg(F.sum("c").alias("bc"))
    woff = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = btot.select(
        "bucket",
        F.coalesce(F.sum("bc").over(woff), F.lit(0)).alias("off"),
    )
    win = Window.partitionBy("bucket").orderBy("log_odds").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = per_value.join(F.broadcast(offsets), "bucket").withColumn(
        "p",
        F.col("off") + F.coalesce(F.sum("c").over(win), F.lit(0)),
    )
    agg = ranked.agg(
        F.sum("cp").alias("n_pos"),
        F.sum("cn").alias("n_neg"),
        F.sum(
            F.col("cp") * (F.lit(2) * F.col("p") + F.col("c") + 1)
        ).alias("rp_x2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            (
                F.col("rp_x2") - F.col("n_pos") * (F.col("n_pos") + 1)
            ).cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


ORACLE_NB_AUC = """
auc_v AS (
  SELECT log_odds,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS cn,
         CAST(count(*) AS BIGINT) AS c
  FROM nb_quality GROUP BY 1
),
auc_r AS (
  SELECT cp, cn, c,
         CAST(coalesce(sum(c) OVER (ORDER BY log_odds
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS p
  FROM auc_v
),
nb_quality_auc AS (
  SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
         CAST(sum(cn) AS BIGINT) AS n_neg,
         round(CAST(sum(cp * (2 * p + c + 1))
                    - sum(cp) * (sum(cp) + 1) AS DOUBLE)
               / (2.0 * sum(cp) * sum(cn)), 6) AS auc
  FROM auc_r
)
"""


def readability_scores(docs: DataFrame) -> DataFrame:
    """Flesch Reading Ease per document, with the standard
    vowel-group syllable heuristic (a syllable ≈ a maximal [aeiouy]+
    run) — the classic readability signal corpora are filtered and
    stratified on (too-low: legalese/garble; too-high: fragment
    lists).

    Map-only: three regexp counts per row, zero shuffle — runs at
    scan speed like the rest of the quality family. Sentences are
    [.!?] runs floored at 1 so headline-like docs don't divide by
    zero.
    """
    words = F.size(_tokens_col())
    sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    )
    syllables = F.greatest(
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")),
        F.lit(1),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words / sentences)
        - F.lit(84.6) * (syllables / words)
    )
    return docs.select(
        "doc_id",
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        F.round(flesch, 4).alias("flesch"),
    )


ORACLE_READABILITY = """
readability AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS INT)
           AS n_words,
         greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS INT),
                  1) AS n_sentences,
         greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                       AS INT), 1) AS n_syllables,
         round(206.835
               - 1.015 * (CAST(len(regexp_split_to_array(lower(text),
                   '\\s+')) AS DOUBLE)
                 / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
               - 84.6 * (CAST(greatest(len(regexp_extract_all(
                   lower(text), '[aeiouy]+')), 1) AS DOUBLE)
                 / len(regexp_split_to_array(lower(text), '\\s+'))),
               4) AS flesch
  FROM documents
)
"""


#: RAKE: top-k keyword phrases globally.
RAKE_TOP_K = 25
RAKE_MAX_PHRASE_WORDS = 4


def rake_keywords(docs: DataFrame, k: int = RAKE_TOP_K) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal runs of non-stopwords; each word scores degree/freq
    (degree = total words co-occurring in its phrases), a phrase
    scores the sum of its words — the unsupervised keyword extractor
    corpora are tagged with before indexing.

    Phrase segmentation is gaps-and-islands: tokens get positions
    (posexplode), stopwords close an island, phrase_id = running
    stopword count (per-doc window — doc_id is the partition key, so
    no global ordering exists anywhere). Word stats aggregate on the
    word grain, phrase scores on the phrase grain, and the global
    top-k is a TakeOrdered. Phrases capped at RAKE_MAX_PHRASE_WORDS
    (standard RAKE practice; uncapped runs in stopword-free junk
    would otherwise dominate degree mass).

    Output: top-k (phrase, n_occurrences, score) by score desc with
    deterministic tiebreaks.
    """
    stop_arr = "array({})".format(
        ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(_tokens_col()).alias("pos", "w"),
    ).withColumn(
        "is_stop",
        F.expr(f"array_contains({stop_arr}, w)") | (F.col("w") == ""),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    phrased = toks.withColumn(
        "phrase_id",
        F.sum(F.col("is_stop").cast("int")).over(wdoc),
    ).filter(~F.col("is_stop"))
    phrases = (
        phrased.groupBy("doc_id", "phrase_id")
        .agg(
            F.concat_ws(
                " ",
                F.expr("transform(array_sort(collect_list("
                       "struct(pos, w))), s -> s.w)"),
            ).alias("phrase"),
            F.count("*").alias("plen"),
        )
        .filter(F.col("plen") <= RAKE_MAX_PHRASE_WORDS)
    )
    words = phrased.join(
        phrases.select("doc_id", "phrase_id", "plen"),
        ["doc_id", "phrase_id"],
    )
    wstats = words.groupBy("w").agg(
        F.count("*").alias("freq"),
        F.sum("plen").alias("degree"),
    )
    pscore = (
        words.join(wstats, "w")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.sum(
                F.col("degree").cast("double") / F.col("freq")
            ).alias("score")
        )
    )
    return (
        phrases.join(pscore, ["doc_id", "phrase_id"])
        .groupBy("phrase")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.round(F.max("score"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("phrase"))
        .limit(k)
    )


def oracle_rake_keywords(k: int = RAKE_TOP_K) -> str:
    stops = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
rk_toks AS (
  SELECT doc_id, CAST(generate_subscripts(t, 1) - 1 AS INT) AS pos,
         unnest(t) AS w
  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
        FROM documents)
),
rk_flag AS (
  SELECT doc_id, pos, w,
         (w IN ({stops}) OR w = '') AS is_stop
  FROM rk_toks
),
rk_phrased AS (
  SELECT doc_id, pos, w,
         sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
  FROM rk_flag
  QUALIFY NOT is_stop
),
rk_phrases AS (
  SELECT doc_id, phrase_id,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM rk_phrased GROUP BY 1, 2
  HAVING count(*) <= {RAKE_MAX_PHRASE_WORDS}
),
rk_words AS (
  SELECT p.doc_id, p.phrase_id, f.w, p.plen
  FROM rk_phrased f JOIN rk_phrases p USING (doc_id, phrase_id)
),
rk_wstats AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(plen) AS BIGINT) AS degree
  FROM rk_words GROUP BY 1
),
rk_pscore AS (
  SELECT doc_id, phrase_id,
         sum(CAST(degree AS DOUBLE) / freq) AS score
  FROM rk_words JOIN rk_wstats USING (w)
  GROUP BY 1, 2
),
rake_keywords AS (
  SELECT phrase,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         round(max(score), 6) AS score
  FROM rk_phrases JOIN rk_pscore USING (doc_id, phrase_id)
  GROUP BY phrase
  ORDER BY score DESC, phrase
  LIMIT {k}
)
"""


# ---------------------------------------------------------------------------
# multi-round BPE tokenizer training
# ---------------------------------------------------------------------------

BPE_MERGES = 6


def _bpe_learn_staged(docs: DataFrame, n_merges: int) -> list:
    """Learned merge list per (docs, n_merges): the trained tokenizer
    is session state shared by the train query and the
    encode/fertility query (r8)."""
    return _stage(
        "bpe_merges", docs, lambda: _bpe_learn(docs, n_merges), n_merges,
        checkpoint=False,
    )


def _bpe_learn(docs: DataFrame, n_merges: int) -> list:
    """The training loop body of ``bpe_train_merges`` (see its
    docstring for the protocol): returns the merge list
    [(step, lhs, rhs, merged, pair_count), ...]."""
    vocab = (
        docs.select(F.explode(_tokens_col()).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    state = vocab.select(
        F.regexp_replace("w", "(.)", r"|$1|").alias("s"), "freq"
    ).localCheckpoint(eager=True)
    merges = []
    for step in range(1, n_merges + 1):
        syms = F.split(
            F.expr("substring(s, 2, length(s) - 2)"), r"\|\|"
        )
        pairs = (
            state.select(F.col("freq"), syms.alias("syms"))
            .filter(F.size("syms") >= 2)  # sequence(1,0) counts DOWN
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(syms[i-1] AS a, syms[i] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("c"))
        )
        best = pairs.orderBy(F.desc("c"), "a", "b").limit(1).collect()
        if not best:
            break
        a, b, c = best[0]["a"], best[0]["b"], best[0]["c"]
        merges.append((step, a, b, a + b, c))
        state = state.withColumn(
            "s",
            F.replace(
                F.col("s"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")
            ),
        ).localCheckpoint(eager=True)
    return merges


def bpe_train_merges(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """Full BPE tokenizer training loop (Sennrich et al. 2016): learn
    the first ``n_merges`` merge rules over the corpus — each round
    counts adjacent symbol pairs on the frequency-weighted vocabulary,
    merges the most frequent pair (ties -> lexicographic), and
    re-segments. This is the iterative closure of
    ``bpe_first_merges`` (which surfaces only round one's statistics);
    the output merge table IS the tokenizer artifact.

    Engine-portable segmentation state: every symbol is wrapped in its
    own ``|`` sentinels (``hello`` -> ``|h||e||l||l||o|``), so a merge
    is ONE plain left-to-right string replace of ``|a||b|`` with
    ``|ab|`` — boundaries are never shared between adjacent matches,
    which makes Spark's and DuckDB's replace semantics (and classic
    BPE's leftmost-non-overlapping merge order) coincide exactly.
    Tokens are guarded to ``[a-z0-9]+`` so the sentinel never
    collides.

    Scale: identical to ``bpe_first_merges`` — all per-round work runs
    on the DISTINCT-WORD vocabulary weighted by frequency (the corpus
    is touched once, by the word-count agg); each round is a
    vocabulary-sized pair explode + one hash-agg + a 1-row TakeOrdered,
    and the chosen rule broadcasts into the next round's map-only
    re-segmentation. Driver traffic: one (pair, count) row per round.
    """
    spark = docs.sparkSession
    merges = _bpe_learn_staged(docs, n_merges)
    return spark.createDataFrame(
        merges,
        "step int, lhs string, rhs string, merged string,"
        " pair_count bigint",
    )


def oracle_bpe_train(n_merges: int = BPE_MERGES) -> str:
    """Unrolled replay: one (pairs -> best -> re-segment) CTE triple
    per merge round."""
    ctes = [
        r"""
bt_v0 AS (
  SELECT regexp_replace(w, '(.)', '|\1|', 'g') AS s,
         CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        FROM documents)
  WHERE regexp_matches(w, '^[a-z0-9]+$')
  GROUP BY 1
)"""
    ]
    prev = "bt_v0"
    for i in range(1, n_merges + 1):
        ctes.append(
            """
bt_p{i} AS (
  SELECT a, b, CAST(sum(freq) AS BIGINT) AS c FROM (
    SELECT syms[i] AS a, syms[i + 1] AS b, freq FROM (
      SELECT string_split(substr(s, 2, length(s) - 2), '||') AS syms,
             freq
      FROM {prev} WHERE length(s) > 3
    ), LATERAL unnest(range(1, len(syms))) AS g(i)
  ) GROUP BY 1, 2
),
bt_b{i} AS (
  SELECT a, b, c FROM bt_p{i} ORDER BY c DESC, a, b LIMIT 1
),
bt_v{i} AS (
  SELECT replace(v.s, '|' || m.a || '||' || m.b || '|',
                 '|' || m.a || m.b || '|') AS s, v.freq
  FROM {prev} v CROSS JOIN bt_b{i} m
)""".format(i=i, prev=prev)
        )
        prev = f"bt_v{i}"
    finals = "\n  UNION ALL\n  ".join(
        f"SELECT {i} AS step, a AS lhs, b AS rhs, a || b AS merged,"
        f" c AS pair_count FROM bt_b{i}"
        for i in range(1, n_merges + 1)
    )
    ctes.append(
        f"""
bpe_train_merges AS (
  {finals}
)"""
    )
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# Zipf's-law fit over the term frequency distribution
# ---------------------------------------------------------------------------

ZIPF_TOP_N = 100


def zipf_fit(docs: DataFrame, n: int = ZIPF_TOP_N) -> DataFrame:
    """OLS fit of ln(freq) ~ ln(rank) over the top-``n`` terms — the
    Zipf's-law diagnostic (natural corpora slope ~ -1; synthetic or
    template-heavy corpora deviate, making this a cheap corpus-health
    check next to the entropy/repetition scores).

    Scale: the corpus-sized stage is the term-count agg (shared shape
    with `bpe_first_merges`); the top-n is a distributed TakeOrdered
    and the regression runs on n rows. Sums of ln values fold in
    engine-specific order, so the derived statistics land under
    round(6) (the repo float rule). Output (1 row): n_terms, slope,
    intercept, r2.
    """
    tf = (
        docs.select(F.explode(_tokens_col()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    top = tf.orderBy(F.desc("freq"), "w").limit(n)
    w_rank = Window.orderBy(F.desc("freq"), "w")
    xy = top.withColumn("rank", F.row_number().over(w_rank)).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(num / dxx, 6).alias("slope"),
        F.round(
            (F.col("sy") - (num / dxx) * F.col("sx")) / F.col("n"), 6
        ).alias("intercept"),
        F.round(num * num / (dxx * dyy), 6).alias("r2"),
    )


def oracle_zipf_fit(n: int = ZIPF_TOP_N) -> str:
    return f"""
zf_tf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM documents)
  WHERE w <> '' GROUP BY 1
),
zf_top AS (
  SELECT w, freq FROM zf_tf ORDER BY freq DESC, w LIMIT {n}
),
zf_xy AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, w) AS DOUBLE))
           AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM zf_top
),
zf_s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM zf_xy
),
zipf_fit AS (
  SELECT n AS n_terms,
         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
         round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
               / n, 6) AS intercept,
         round((n * sxy - sx * sy) * (n * sxy - sx * sy)
               / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
  FROM zf_s
)
"""


# ---------------------------------------------------------------------------
# feature hashing (the hashing trick) vectorizer
# ---------------------------------------------------------------------------

FH_DIMS = 64
FH_DOC_LIMIT = 40


def hashed_features(
    docs: DataFrame, dims: int = FH_DIMS, limit: int = FH_DOC_LIMIT
) -> DataFrame:
    """Feature hashing (Weinberger et al. 2009): map each token to one
    of ``dims`` buckets with a signed md5 hash and sum — the
    vocabulary-free vectorizer every large-scale text-ML pipeline uses
    when a fitted vocabulary (CountVectorizer) would itself be a
    multi-TB artifact. No vocabulary state, no fit pass, fixed output
    width; collisions cancel in expectation thanks to the sign hash.

    Map-only until one (doc, dim) hash-agg; output confined to the
    first ``limit`` docs for the differential (the operator itself is
    corpus-wide). Output: doc_id, dim, weight (signed BIGINT).
    """
    toks = docs.filter(F.col("doc_id") < limit).select(
        "doc_id", F.explode(_tokens_col()).alias("w")
    ).filter(F.col("w") != "")
    dim = F.conv(
        F.substring(F.md5(F.concat(F.lit("fh:"), F.col("w"))), 1, 13),
        16,
        10,
    ).cast("bigint") % dims
    sign = F.when(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("fs:"), F.col("w"))), 1, 13),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0,
        1,
    ).otherwise(-1)
    return (
        toks.select("doc_id", dim.alias("dim"), sign.alias("s"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").alias("weight"))
    )


def oracle_hashed_features(
    dims: int = FH_DIMS, limit: int = FH_DOC_LIMIT
) -> str:
    return f"""
fh_toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
    FROM documents WHERE doc_id < {limit})
  WHERE w <> ''
),
hashed_features AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('fh:' || w), 1, 13)) AS BIGINT)
           % {dims} AS dim,
         CAST(sum(CASE WHEN CAST(('0x' || substr(md5('fs:' || w), 1, 13))
                            AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END) AS BIGINT) AS weight
  FROM fh_toks
  GROUP BY 1, 2
)
"""


# ---------------------------------------------------------------------------
# TextRank keywords (PageRank on the word co-occurrence graph)
# ---------------------------------------------------------------------------

TR_ITERATIONS = 3
TR_TOP_K = 20
TR_SCALE = 1_000_000
TR_DAMP_PCT = 85


def textrank_keywords(
    docs: DataFrame, k: int = TR_TOP_K, iterations: int = TR_ITERATIONS
) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004): PageRank over the word
    co-occurrence graph — the graph-centrality complement to RAKE's
    frequency scoring (RAKE rewards words in long phrases; TextRank
    rewards words that CONNECT many contexts).

    Graph: adjacent non-stopword token pairs, undirected (both edge
    directions). Ranking reuses the engine's integer-PageRank recipe
    (`graph.pagerank_products`): scaled-millionth ranks with floor
    division, fixed unrolled supersteps, no driver collect — the
    word-string keys just replace integer node ids. Vocabulary-sized
    state throughout; the corpus is touched once by the pair explode.
    Output: top-k (word, rank_millionths).
    """
    stops = [s.lower() for s in EN_STOPWORDS]
    toks = docs.select(
        "doc_id",
        F.posexplode(_tokens_col()).alias("pos", "w"),
    ).filter(F.col("w") != "")
    nxt = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.withColumn("w2", F.lead("w").over(nxt))
        .filter(
            F.col("w2").isNotNull()
            & ~F.col("w").isin(stops)
            & ~F.col("w2").isin(stops)
            & (F.col("w") != F.col("w2"))
        )
        .select(F.col("w").alias("a"), F.col("w2").alias("b"))
    )
    edges = (
        pairs.unionByName(
            pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
    )
    deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    ranks = deg.select(
        F.col("a").alias("node"), F.lit(TR_SCALE).alias("rank")
    )
    base = (100 - TR_DAMP_PCT) * TR_SCALE // 100
    for _ in range(iterations):
        ranks = (
            edges.join(
                ranks.join(deg, ranks.node == deg.a).select(
                    F.col("node").alias("src"),
                    F.expr("rank DIV deg").alias("give"),
                ),
                edges.a == F.col("src"),
            )
            .groupBy("b")
            .agg(F.sum("give").alias("incoming"))
            .select(
                F.col("b").alias("node"),
                (
                    F.lit(base)
                    + F.expr(f"incoming * {TR_DAMP_PCT} DIV 100")
                ).alias("rank"),
            )
        )
    return (
        ranks.orderBy(F.col("rank").desc(), "node")
        .limit(k)
        .select(F.col("node").alias("word"),
                F.col("rank").alias("rank_millionths"))
    )


def oracle_textrank(
    k: int = TR_TOP_K, iterations: int = TR_ITERATIONS
) -> str:
    stops = ", ".join(f"'{w.lower()}'" for w in EN_STOPWORDS)
    base = (100 - TR_DAMP_PCT) * TR_SCALE // 100
    ctes = [
        f"""
tr_toks AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS w,
         toks[i + 1] AS w2
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(text), '\\s+') AS toks
        FROM documents),
       LATERAL unnest(range(1, len(toks))) AS g(i)
),
tr_edges AS (
  SELECT DISTINCT a, b FROM (
    SELECT w AS a, w2 AS b FROM tr_toks
    UNION ALL SELECT w2, w FROM tr_toks)
  WHERE a <> '' AND b <> '' AND a <> b
    AND a NOT IN ({stops}) AND b NOT IN ({stops})
),
tr_deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM tr_edges GROUP BY 1
),
tr_r0 AS (
  SELECT a AS node, CAST({TR_SCALE} AS BIGINT) AS rank FROM tr_deg
)"""
    ]
    prev = "tr_r0"
    for i in range(1, iterations + 1):
        ctes.append(
            f"""
tr_r{i} AS (
  SELECT e.b AS node,
         CAST({base} + (sum(CAST(r.rank // d.deg AS BIGINT))
           * {TR_DAMP_PCT}) // 100 AS BIGINT) AS rank
  FROM tr_edges e
  JOIN {prev} r ON e.a = r.node
  JOIN tr_deg d ON e.a = d.a
  GROUP BY 1
)"""
        )
        prev = f"tr_r{i}"
    ctes.append(
        f"""
textrank_keywords AS (
  SELECT node AS word, rank AS rank_millionths FROM {prev}
  ORDER BY rank DESC, node LIMIT {k}
)"""
    )
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth curve
# ---------------------------------------------------------------------------

HEAPS_BUCKET_DOCS = 50


def heaps_curve(
    docs: DataFrame, bucket_docs: int = HEAPS_BUCKET_DOCS
) -> DataFrame:
    """Heaps'-law curve: vocabulary size vs tokens seen, sampled every
    ``bucket_docs`` documents in doc_id order — the sub-linear vocab
    growth check that distinguishes natural corpora from template spam
    (whose vocab flatlines) and from random noise (whose vocab grows
    linearly). Companion diagnostic to `zipf_fit`.

    The trick that avoids any running-distinct state: a word first
    contributes to the vocabulary at its MINIMUM doc_id — so
    per-checkpoint vocabulary is the cumsum of a (first-bucket ->
    new-word count) table, and tokens_seen is the cumsum of per-bucket
    token counts. Two corpus-sized hash-aggs, then checkpoint-sized
    windows. Output: checkpoint_docs, tokens_seen, vocab_size,
    new_words.
    """
    toks = docs.select(
        (F.col("doc_id") / bucket_docs).cast("int").alias("bucket"),
        "doc_id",
        F.explode(_tokens_col()).alias("w"),
    ).filter(F.col("w") != "")
    first = (
        toks.groupBy("w")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("new_words"))
    )
    per_bucket = toks.groupBy("bucket").agg(
        F.count("*").alias("n_toks")
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_bucket.join(first, "bucket", "left")
        .select(
            "bucket",
            "n_toks",
            F.coalesce("new_words", F.lit(0)).alias("new_words"),
        )
        .select(
            ((F.col("bucket") + 1) * bucket_docs).alias("checkpoint_docs"),
            F.sum("n_toks").over(w).alias("tokens_seen"),
            F.sum("new_words").over(w).alias("vocab_size"),
            "new_words",
        )
    )


def oracle_heaps(bucket_docs: int = HEAPS_BUCKET_DOCS) -> str:
    return f"""
hp_toks AS (
  SELECT CAST(doc_id // {bucket_docs} AS INT) AS bucket, w
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM documents)
  WHERE w <> ''
),
hp_first AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS new_words
  FROM (SELECT w, min(bucket) AS bucket FROM hp_toks GROUP BY 1)
  GROUP BY 1
),
hp_per AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_toks
  FROM hp_toks GROUP BY 1
),
heaps_curve AS (
  SELECT (bucket + 1) * {bucket_docs} AS checkpoint_docs,
         CAST(sum(n_toks) OVER (ORDER BY bucket
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens_seen,
         CAST(sum(new_words) OVER (ORDER BY bucket
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size,
         new_words
  FROM (SELECT p.bucket, p.n_toks, COALESCE(f.new_words, 0) AS new_words
        FROM hp_per p LEFT JOIN hp_first f USING (bucket))
)
"""


# ---------------------------------------------------------------------------
# calibration curve (reliability diagram) for the NB quality classifier
# ---------------------------------------------------------------------------

CAL_BINS = 10


def nb_calibration(docs: DataFrame) -> DataFrame:
    """Reliability diagram for the verified NB classifier: sigmoid the
    log-odds into probabilities, bin into CAL_BINS fixed-width bins,
    and compare mean predicted probability to the observed keep rate
    per bin — the calibration check that decides whether classifier
    scores can gate data by threshold (an accurate-but-miscalibrated
    filter silently shifts the kept distribution). The |avg_pred -
    obs_rate| column is the per-bin calibration error (ECE's
    integrand).

    One pass over the scored table; bins are fixed-width integers, so
    the only float work is the sigmoid (identical expression both
    engines) and two rounded ratios. Output: bin, n_docs, avg_pred,
    obs_rate, abs_gap.
    """
    scored = nb_quality_scores(docs).select(
        "doc_id",
        (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("log_odds")))
        ).alias("p"),
        F.col("keep").cast("int").alias("y"),
    )
    binned = scored.select(
        F.least(
            F.floor(F.col("p") * CAL_BINS).cast("int"),
            F.lit(CAL_BINS - 1),
        ).alias("bin"),
        "p",
        "y",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("p") / F.count("*"), 6).alias("avg_pred"),
            F.round(F.sum("y") / F.count("*"), 6).alias("obs_rate"),
        )
        .withColumn(
            "abs_gap",
            F.round(F.abs(F.col("avg_pred") - F.col("obs_rate")), 6),
        )
    )


ORACLE_NB_CALIBRATION = f"""
cal_s AS (
  SELECT doc_id,
         CAST(1.0 AS DOUBLE) / (1.0 + exp(-log_odds)) AS p,
         CASE WHEN keep THEN 1 ELSE 0 END AS y
  FROM nb_quality
),
cal_b AS (
  SELECT LEAST(CAST(floor(p * {CAL_BINS}) AS INT), {CAL_BINS - 1})
           AS bin, p, y
  FROM cal_s
),
nb_calibration AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         round(sum(p) / count(*), 6) AS avg_pred,
         round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS obs_rate,
         round(abs(round(sum(p) / count(*), 6)
               - round(CAST(sum(y) AS DOUBLE) / count(*), 6)), 6)
           AS abs_gap
  FROM cal_b GROUP BY 1
)
"""


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Confusion matrix of the heuristic language detector against the
    corpus's ground-truth ``lang`` labels — the evaluation that
    separates "we run lang-ID" from "we know its error structure"
    (which wrong-language pairs leak into which buckets decides
    whether per-language sampling quotas hold downstream).

    One agg over the detector's output at the (label, prediction)
    grain plus per-label recall — pure count arithmetic. Output:
    labeled_lang, predicted_lang, n_docs, recall (of the diagonal
    within the labeled row, round 6).
    """
    pred = lang_id(docs).select("labeled_lang", "predicted_lang")
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )
    row_tot = cells.groupBy("labeled_lang").agg(
        F.sum("n_docs").alias("n_label")
    )
    return cells.join(F.broadcast(row_tot), "labeled_lang").select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.col("n_label"), 6).alias(
            "row_frac"
        ),
    )


def oracle_lang_confusion() -> str:
    return """
lc_cells AS (
  SELECT labeled_lang, predicted_lang,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM lang_scored GROUP BY 1, 2
),
lc_tot AS (
  SELECT labeled_lang, sum(n_docs) AS n_label FROM lc_cells GROUP BY 1
),
lang_confusion AS (
  SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
         round(c.n_docs / t.n_label, 6) AS row_frac
  FROM lc_cells c JOIN lc_tot t USING (labeled_lang)
)
"""


def nb_pr_curve(docs: DataFrame) -> DataFrame:
    """Precision/recall/F1 threshold sweep for the verified NB
    classifier: one row per distinct score threshold (classify-keep
    iff log_odds >= t), computed from cumulative integral counts over
    the descending distinct-score table — the operating-point menu a
    deployment picks from (the single 0-threshold the scorer ships is
    just one row of this).

    Counts are exact; precision/recall/F1 are ratios of integral
    cumulative sums rounded at the edge. Distinct scores are 6-dp
    NB log-odds — near-unique per document, so "distinct scores" is
    corpus-sized: the descending cumulative therefore uses the same
    floor(log_odds) bucketed prefix-sum as ``nb_quality_auc`` /
    ``nb_gains_table`` (bucket-grain offsets window over the handful
    of integer buckets + a PARTITIONED within-bucket window), never
    a corpus-sized single-partition sort.
    Output: threshold, n_pred_pos, tp, precision, recall, f1.
    """
    return _nb_pr_curve_full(docs).select(
        "threshold", "n_pred_pos", "tp", "precision", "recall", "f1"
    )


def _nb_pr_curve_full(docs: DataFrame) -> DataFrame:
    """PR sweep with the internal ``pos`` / ``n_pos`` columns kept —
    ``nb_scorecard`` derives the lagged recall arithmetically from
    them (previous row's tp == tp - pos, exactly, in integers)."""
    scored = nb_quality_scores(docs).select(
        F.col("log_odds").alias("t"),
        F.col("keep").cast("int").alias("y"),
    )
    per_t = scored.groupBy("t").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    ).withColumn("bucket", F.floor("t"))
    # bucketed prefix-sum, descending: bucket-grain offsets (bounded
    # by the integer log-odds range, prefix-summed via the packed-
    # array kernel — zero WindowExec) + within-bucket PARTITIONED
    # cumulative — a bare ORDER BY t DESC window here would be a
    # corpus-sized Exchange SinglePartition (plan_lint global-window)
    btot = per_t.groupBy("bucket").agg(
        F.sum("n").alias("bn"), F.sum("pos").alias("bpos")
    )
    offsets = bucket_prefix_offsets(
        btot, "bucket", ["bn", "bpos"], descending=True
    ).select(
        "bucket",
        F.col("_off_bn").alias("off_n"),
        F.col("_off_bpos").alias("off_pos"),
    )
    win = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = scored.agg(F.sum("y").alias("n_pos"))
    return (
        per_t.join(F.broadcast(offsets), "bucket")
        .withColumn("n_pred_pos", F.col("off_n") + F.sum("n").over(win))
        .withColumn("tp", F.col("off_pos") + F.sum("pos").over(win))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("t").alias("threshold"),
            "n_pred_pos",
            "tp",
            "pos",
            "n_pos",
            F.round(F.col("tp") / F.col("n_pred_pos"), 6).alias(
                "precision"
            ),
            F.round(F.col("tp") / F.col("n_pos"), 6).alias("recall"),
            F.round(
                2.0
                * F.col("tp")
                / (F.col("n_pred_pos") + F.col("n_pos")),
                6,
            ).alias("f1"),
        )
    )


ORACLE_NB_PR_CURVE = """
pr_s AS (
  SELECT log_odds AS t, CASE WHEN keep THEN 1 ELSE 0 END AS y
  FROM nb_quality
),
pr_t AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM pr_s GROUP BY 1
),
pr_c AS (
  SELECT t,
         CAST(sum(n) OVER (ORDER BY t DESC
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_pred_pos,
         CAST(sum(pos) OVER (ORDER BY t DESC
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp
  FROM pr_t
),
nb_pr_curve AS (
  SELECT t AS threshold, n_pred_pos, tp,
         round(CAST(tp AS DOUBLE) / n_pred_pos, 6) AS precision,
         round(CAST(tp AS DOUBLE)
               / (SELECT sum(y) FROM pr_s), 6) AS recall,
         round(CAST(2.0 AS DOUBLE) * tp
               / (n_pred_pos + (SELECT sum(y) FROM pr_s)), 6) AS f1
  FROM pr_c
)
"""


def nb_scorecard(docs: DataFrame) -> DataFrame:
    """One-row classifier scorecard for the verified NB model: Brier
    score (probability accuracy), expected calibration error (bin-
    weighted reliability gap), and average precision (area under the
    PR sweep) — the three numbers a model review actually reads,
    each derived from the already-verified score/calibration/PR
    building blocks. Output: n_docs, brier, ece, avg_precision.
    """
    scored = nb_quality_scores(docs).select(
        (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("log_odds")))
        ).alias("p"),
        F.col("keep").cast("int").alias("y"),
    )
    brier = scored.agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")))
            / F.count("*"),
            6,
        ).alias("brier"),
    )
    cal = nb_calibration(docs)
    ece = cal.agg(
        F.round(
            F.sum(F.col("n_docs") * F.col("abs_gap"))
            / F.sum("n_docs"),
            6,
        ).alias("ece")
    )
    # prev_r (the lagged recall in threshold-DESC order) needs no
    # window at all: the previous row's tp is exactly tp - pos (both
    # integers), so lag(round(tp/n_pos,6)) == round((tp-pos)/n_pos,6),
    # and the first row has tp == pos (prev_r = 0.0 = the coalesce
    # default). Replaces a corpus-sized unpartitioned lag window.
    pr = _nb_pr_curve_full(docs)
    ap = (
        pr.withColumn(
            "prev_r",
            F.round(
                (F.col("tp") - F.col("pos"))
                / F.col("n_pos").cast("double"),
                6,
            ),
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("recall") - F.col("prev_r"))
                    * F.col("precision")
                ),
                6,
            ).alias("avg_precision")
        )
    )
    return (
        brier.crossJoin(F.broadcast(ece)).crossJoin(F.broadcast(ap))
    )


ORACLE_NB_SCORECARD = """
sc_b AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         round(sum((p - y) * (p - y)) / count(*), 6) AS brier
  FROM cal_s
),
sc_e AS (
  SELECT round(sum(n_docs * abs_gap) / sum(n_docs), 6) AS ece
  FROM nb_calibration
),
sc_a AS (
  SELECT round(sum((recall - prev_r) * precision), 6)
           AS avg_precision
  FROM (SELECT precision, recall,
               COALESCE(lag(recall) OVER (ORDER BY threshold DESC),
                        CAST(0.0 AS DOUBLE)) AS prev_r
        FROM nb_pr_curve)
),
nb_scorecard AS (
  SELECT b.n_docs, b.brier, e.ece, a.avg_precision
  FROM sc_b b, sc_e e, sc_a a
)
"""


# ---------------------------------------------------------------------------
# hashing-trick collision report (companion to hashed_features above)
# ---------------------------------------------------------------------------


def hashing_collision_report(docs: DataFrame) -> DataFrame:
    """The trade the hashing trick makes, measured: distinct tokens
    per bucket (collision load) summarized as a histogram — how many
    buckets carry 1, 2, 3... distinct tokens, plus the global
    distinct-token count and load factor. One distinct-agg + one tiny
    rollup; the numbers that size FH_DIMS for a real corpus.

    Output: (n_tokens_in_bucket, n_buckets, frac_buckets round 4).
    """
    tok_buckets = (
        docs.select("doc_id", F.explode(_tokens_col()).alias("tok"))
        .filter(F.col("tok") != "")
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("fh:"), F.col("tok"))), 1, 13
                    ), 16, 10
                ).cast("bigint")
                % FH_DIMS
            ).alias("bucket"),
            "tok",
        )
        .distinct()
    )
    per_bucket = tok_buckets.groupBy("bucket").agg(
        F.countDistinct("tok").alias("n_tokens_in_bucket")
    )
    total = per_bucket.agg(F.count("*").alias("n_occupied"))
    return (
        per_bucket.groupBy("n_tokens_in_bucket")
        .agg(F.count("*").alias("n_buckets"))
        .crossJoin(F.broadcast(total))
        .select(
            "n_tokens_in_bucket",
            "n_buckets",
            F.round(F.col("n_buckets") / F.col("n_occupied"), 4).alias(
                "frac_buckets"
            ),
        )
    )


ORACLE_HASHING_COLLISIONS = f"""
fhc_tb AS (
  SELECT DISTINCT
         CAST(('0x' || substr(md5('fh:' || tok), 1, 13)) AS BIGINT)
           % {FH_DIMS} AS bucket,
         tok
  FROM documents,
       LATERAL unnest(string_split_regex(lower(text), '\\s+')) AS t(tok)
  WHERE tok <> ''
),
fhc_pb AS (
  SELECT bucket, CAST(count(DISTINCT tok) AS BIGINT)
           AS n_tokens_in_bucket
  FROM fhc_tb GROUP BY 1
),
hashing_collision_report AS (
  SELECT n_tokens_in_bucket,
         CAST(count(*) AS BIGINT) AS n_buckets,
         round(count(*) / CAST((SELECT count(*) FROM fhc_pb)
               AS DOUBLE), 4) AS frac_buckets
  FROM fhc_pb GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# decile gains / lift table for the NB quality classifier
# ---------------------------------------------------------------------------

def nb_gains_table(docs: DataFrame) -> DataFrame:
    """Cumulative-gains and lift table of the NB quality classifier:
    docs ranked by score (log_odds DESC, doc_id tiebreak — fully
    deterministic), cut into 10 equal-count deciles by integer rank
    arithmetic; per decile the positive rate, the lift over the base
    rate, and the cumulative share of all positives captured — the
    "how much of the good data do the top-k% scores buy" readout that
    sizes a quality-filter threshold before a 100 TB scoring run.

    Ranks come from the bucketed prefix-sum (floor(log_odds) buckets,
    descending offsets) — the same no-global-sort machinery as the
    AUC/KS rank computations; deciles, counts, and every numerator
    are integers, with division only at the rounded edge. The final
    cumulative window runs over exactly 10 aggregated rows.

    Output: decile (0 = best-scored), n, n_pos, pos_rate, lift,
    cum_gains.
    """
    scored = nb_quality_scores(docs).select("doc_id", "log_odds", "keep")
    per = scored.withColumn("bucket", F.floor("log_odds"))
    btot = per.groupBy("bucket").agg(F.count("*").alias("bc"))
    woff = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = btot.select(
        "bucket",
        F.coalesce(F.sum("bc").over(woff), F.lit(0)).alias("off"),
    )
    win = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("log_odds"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        per.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "r",
            F.col("off")
            + F.coalesce(F.count("*").over(win), F.lit(0))
            + 1,
        )
    )
    tot = scored.agg(
        F.count("*").alias("n_all"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("tp"),
    )
    dec = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("decile", F.expr("((r - 1) * 10) div n_all"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_pos"),
            F.first("n_all").alias("n_all"),
            F.first("tp").alias("tp"),
        )
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return dec.select(
        "decile",
        "n",
        "n_pos",
        F.round(F.col("n_pos") / F.col("n").cast("double"), 6).alias(
            "pos_rate"
        ),
        F.round(
            (F.col("n_pos") * F.col("n_all"))
            / (F.col("n") * F.col("tp")).cast("double"),
            6,
        ).alias("lift"),
        F.round(
            F.sum("n_pos").over(wcum) / F.col("tp").cast("double"), 6
        ).alias("cum_gains"),
    )


ORACLE_NB_GAINS = """
gt_r AS (
  SELECT doc_id, keep,
         row_number() OVER (ORDER BY log_odds DESC, doc_id) AS r
  FROM nb_quality
),
gt_n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM gt_r
),
gt_d AS (
  SELECT ((r.r - 1) * 10) // t.n_all AS decile,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(max(t.n_all) AS BIGINT) AS n_all, CAST(max(t.tp) AS BIGINT) AS tp
  FROM gt_r r CROSS JOIN gt_n t
  GROUP BY 1
),
nb_gains_table AS (
  SELECT decile, n, n_pos,
         round(n_pos / CAST(n AS DOUBLE), 6) AS pos_rate,
         round((n_pos * n_all) / CAST(n * tp AS DOUBLE), 6) AS lift,
         round(sum(n_pos) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / CAST(tp AS DOUBLE), 6) AS cum_gains
  FROM gt_d
)
"""


# ---------------------------------------------------------------------------
# NB learning curve (data-scaling readout)
# ---------------------------------------------------------------------------

#: doc_id mod 4 buckets: 0..2 are cumulative training steps, 3 is the
#: fixed held-out eval set every step is scored on.
LC_BUCKETS = 4


def nb_learning_curve(docs: DataFrame) -> DataFrame:
    """Learning curve of the NB quality classifier: models trained on
    1/3, 2/3, and 3/3 of the training buckets (doc_id mod 4 ∈
    {0},{0,1},{0,1,2}), all scored on the SAME held-out bucket (3) —
    the data-scaling readout that says whether more labeled data
    would still buy accuracy (the flat-curve signal that stops
    labeling spend). Like the k-fold CV, ALL models train in ONE
    corpus pass: per-(token, bucket, class) counts explode to the
    cumulative steps they belong to (sequence(b+1, 3) — each bucket
    row fans out to at most 3 step rows), so step j's model is one
    more tiny agg, never a rescan; scoring joins the held-out tokens
    against the per-step vocabulary once.

    Output per step: (step, n_train_docs, n_eval, n_correct,
    accuracy).
    """
    labels = (
        gopher_rules(docs)
        .select("doc_id", "keep")
        .withColumn("b", F.pmod("doc_id", F.lit(LC_BUCKETS)))
    )
    toks = (
        docs.select("doc_id", F.explode(_tokens_col()).alias("t"))
        .filter(F.col("t") != "")
        .join(labels, "doc_id")
    )
    train_tb = (
        toks.filter(F.col("b") < LC_BUCKETS - 1)
        .groupBy("t", "b")
        .agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("ckb"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("crb"),
        )
    )
    steps = train_tb.select(
        "t",
        "ckb",
        "crb",
        F.explode(
            F.sequence(F.col("b") + 1, F.lit(LC_BUCKETS - 1))
        ).alias("step"),
    )
    tok_step = steps.groupBy("t", "step").agg(
        F.sum("ckb").alias("ck"), F.sum("crb").alias("cr")
    )
    scal = tok_step.groupBy("step").agg(
        F.sum("ck").alias("nk"),
        F.sum("cr").alias("nr"),
        F.count("*").alias("v"),
    )
    dpri = (
        labels.filter(F.col("b") < LC_BUCKETS - 1)
        .select(
            "keep",
            F.explode(
                F.sequence(F.col("b") + 1, F.lit(LC_BUCKETS - 1))
            ).alias("step"),
        )
        .groupBy("step")
        .agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("dk"),
            F.count("*").alias("d"),
        )
    )
    ev = toks.filter(F.col("b") == LC_BUCKETS - 1).select(
        "doc_id",
        "t",
        "keep",
        F.explode(
            F.sequence(F.lit(1), F.lit(LC_BUCKETS - 1))
        ).alias("step"),
    )
    contrib = (
        ev.join(tok_step, ["t", "step"], "left")
        .join(F.broadcast(scal), "step")
        .select(
            "doc_id",
            "step",
            "keep",
            (
                F.log(
                    (F.coalesce(F.col("ck"), F.lit(0)) + 1)
                    / (F.col("nk") + F.col("v")).cast("double")
                )
                - F.log(
                    (F.coalesce(F.col("cr"), F.lit(0)) + 1)
                    / (F.col("nr") + F.col("v")).cast("double")
                )
            ).alias("lp"),
        )
    )
    per_doc = (
        contrib.groupBy("doc_id", "step", "keep")
        .agg(F.sum("lp").alias("s"))
        .join(F.broadcast(dpri), "step")
        .select(
            "step",
            "keep",
            F.round(
                F.col("s")
                + F.log(
                    F.col("dk") / (F.col("d") - F.col("dk")).cast("double")
                ),
                6,
            ).alias("log_odds"),
        )
    )
    return (
        per_doc.groupBy("step")
        .agg(
            F.count("*").alias("n_eval"),
            F.sum(
                F.when(
                    (F.col("log_odds") > 0) == F.col("keep"), 1
                ).otherwise(0)
            ).alias("n_correct"),
        )
        .join(F.broadcast(dpri.select("step", F.col("d").alias("n_train_docs"))), "step")
        .select(
            "step",
            "n_train_docs",
            "n_eval",
            "n_correct",
            F.round(
                F.col("n_correct") / F.col("n_eval").cast("double"), 4
            ).alias("accuracy"),
        )
    )


ORACLE_NB_LEARNING_CURVE = f"""
lc_labels AS (
  SELECT doc_id, keep, doc_id % {LC_BUCKETS} AS b FROM gopher_rules
),
lc_toks AS (
  SELECT k.doc_id, k.t, l.keep, l.b
  FROM (
    SELECT doc_id, t
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
          FROM documents)
    WHERE t <> ''
  ) k JOIN lc_labels l ON k.doc_id = l.doc_id
),
lc_train_tb AS (
  SELECT t, b,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS ckb,
         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS crb
  FROM lc_toks WHERE b < {LC_BUCKETS - 1}
  GROUP BY 1, 2
),
lc_tok_step AS MATERIALIZED (
  SELECT t, CAST(u.step AS BIGINT) AS step,
         CAST(sum(ckb) AS BIGINT) AS ck,
         CAST(sum(crb) AS BIGINT) AS cr
  FROM lc_train_tb,
       LATERAL unnest(range(b + 1, {LC_BUCKETS})) AS u(step)
  GROUP BY 1, 2
),
lc_scal AS (
  SELECT step, CAST(sum(ck) AS BIGINT) AS nk,
         CAST(sum(cr) AS BIGINT) AS nr,
         CAST(count(*) AS BIGINT) AS v
  FROM lc_tok_step GROUP BY 1
),
lc_dpri AS (
  SELECT CAST(u.step AS BIGINT) AS step,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS dk,
         CAST(count(*) AS BIGINT) AS d
  FROM lc_labels, LATERAL unnest(range(b + 1, {LC_BUCKETS})) AS u(step)
  WHERE b < {LC_BUCKETS - 1}
  GROUP BY 1
),
lc_ev AS (
  SELECT doc_id, t, keep, CAST(u.step AS BIGINT) AS step
  FROM lc_toks, LATERAL unnest(range(1, {LC_BUCKETS})) AS u(step)
  WHERE b = {LC_BUCKETS - 1}
),
lc_per_doc AS (
  SELECT e.doc_id, e.step, e.keep,
         round(sum(ln((coalesce(ts.ck, 0) + 1)
                      / CAST(s.nk + s.v AS DOUBLE))
                   - ln((coalesce(ts.cr, 0) + 1)
                        / CAST(s.nr + s.v AS DOUBLE)))
               + ln(p.dk / CAST(p.d - p.dk AS DOUBLE)), 6) AS log_odds
  FROM lc_ev e
  LEFT JOIN lc_tok_step ts ON e.t = ts.t AND e.step = ts.step
  JOIN lc_scal s ON e.step = s.step
  JOIN lc_dpri p ON e.step = p.step
  GROUP BY e.doc_id, e.step, e.keep, p.dk, p.d
),
nb_learning_curve AS (
  SELECT d.step, p.d AS n_train_docs,
         CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(CASE WHEN (d.log_odds > 0) = d.keep THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct,
         round(sum(CASE WHEN (d.log_odds > 0) = d.keep THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 4) AS accuracy
  FROM lc_per_doc d JOIN lc_dpri p ON d.step = p.step
  GROUP BY 1, 2
)
"""


# ---------------------------------------------------------------------------
# inter-rater agreement (Cohen's kappa between two quality filters)
# ---------------------------------------------------------------------------


def rater_kappa(docs: DataFrame) -> DataFrame:
    """Cohen's kappa between the engine's two independent quality
    raters — the Gopher rule verdict and the CCNet perplexity tercile
    (keep = not 'tail') — the chance-corrected agreement readout that
    raw accuracy overstates when the base rate is skewed. Labeling
    pipelines gate on exactly this number before trusting weak labels
    (kappa < 0.4 means the raters barely agree beyond chance and the
    ensemble label is noise).

    One doc-key join of the two per-doc verdict tables, then a single
    4-cell conditional agg; po/pe/kappa are one scalar expression on
    the exact BIGINT cells.

    Output (1 row): n, both_keep, gopher_only, ccnet_only, neither,
    po, pe, kappa.
    """
    g = gopher_rules(docs).select(
        "doc_id", F.col("keep").alias("r1")
    )
    c = ccnet_buckets(docs).select(
        "doc_id", (F.col("bucket") != "tail").alias("r2")
    )
    cells = g.join(c, "doc_id").agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("r1") & F.col("r2")).cast("int")
        ).alias("a"),
        F.sum(
            (F.col("r1") & ~F.col("r2")).cast("int")
        ).alias("b"),
        F.sum(
            (~F.col("r1") & F.col("r2")).cast("int")
        ).alias("c"),
        F.sum(
            (~F.col("r1") & ~F.col("r2")).cast("int")
        ).alias("d"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("a") + F.col("d")).cast("double") / nd
    pe = (
        (F.col("a") + F.col("b")).cast("double")
        * (F.col("a") + F.col("c")).cast("double")
        + (F.col("c") + F.col("d")).cast("double")
        * (F.col("b") + F.col("d")).cast("double")
    ) / (nd * nd)
    return cells.select(
        "n",
        F.col("a").alias("both_keep"),
        F.col("b").alias("gopher_only"),
        F.col("c").alias("ccnet_only"),
        F.col("d").alias("neither"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


ORACLE_KAPPA = """
kp_cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN g.keep AND c.bucket <> 'tail'
                       THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN g.keep AND c.bucket = 'tail'
                       THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN NOT g.keep AND c.bucket <> 'tail'
                       THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN NOT g.keep AND c.bucket = 'tail'
                       THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM gopher_rules g JOIN ccnet_buckets c USING (doc_id)
),
rater_kappa AS (
  SELECT n, a AS both_keep, b AS gopher_only, c AS ccnet_only,
         d AS neither,
         round(CAST(a + d AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
         round((CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
                + CAST(c + d AS DOUBLE) * CAST(b + d AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
         round((CAST(a + d AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
                   + CAST(c + d AS DOUBLE) * CAST(b + d AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               / (1.0 - (CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
                         + CAST(c + d AS DOUBLE) * CAST(b + d AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))),
               6) AS kappa
  FROM kp_cells
)
"""


#: length-heuristic third rater for the multi-rater agreement audit.
KRIPP_LEN_MIN = 400


def krippendorff_alpha(docs: DataFrame) -> DataFrame:
    """Krippendorff's alpha (nominal, 3 raters) over the engine's
    quality raters — Gopher rules, the CCNet tercile (keep = not
    'tail'), and the naive length heuristic (n_chars >=
    {L}) — the generalization of Cohen's kappa beyond two raters
    that labeling pipelines use to decide whether an ensemble weak
    label is trustworthy at all (alpha < 0.667 = unreliable by
    Krippendorff's own convention).

    EXACT integer form for binary categories with m = 3 raters on
    every unit: per doc the positive-vote count o in 0..3 gives
    observed disagreement mass sum o*(3-o); with N = 3n total votes
    split N1 ones / N0 zeros, alpha = 1 - [sum o*(3-o) * (3n-1)] /
    [2*N1*N0] — a single ratio of exact integers (DECIMAL(38,0) /
    HUGEINT), divided once and rounded 6 at the output edge. No
    float enters the tally.

    Scale: three already-bounded per-doc verdict tables joined on
    doc_id, one count agg — the same shape as `rater_kappa` plus one
    join. Output (1 row): n_docs, n_pos_votes, disagree_pairs,
    alpha.
    """
    g = gopher_rules(docs).select(
        "doc_id", F.col("keep").cast("int").alias("r1")
    )
    c = ccnet_buckets(docs).select(
        "doc_id", (F.col("bucket") != "tail").cast("int").alias("r2")
    )
    l = docs.select(
        "doc_id",
        (F.col("n_chars") >= KRIPP_LEN_MIN).cast("int").alias("r3"),
    )
    o = (F.col("r1") + F.col("r2") + F.col("r3")).alias("o")
    per = g.join(c, "doc_id").join(l, "doc_id").select(o)
    agg = per.agg(
        F.count("*").alias("n"),
        F.sum("o").alias("n1"),
        F.sum(F.col("o") * (F.lit(3) - F.col("o"))).alias("dis"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    num = dec(F.col("dis")) * dec(F.lit(3) * F.col("n") - 1)
    den = (
        F.lit(2).cast("decimal(38,0)")
        * dec(F.col("n1"))
        * dec(F.lit(3) * F.col("n") - F.col("n1"))
    )
    return agg.select(
        F.col("n").alias("n_docs"),
        F.col("n1").alias("n_pos_votes"),
        F.col("dis").alias("disagree_pairs"),
        F.round(
            F.lit(1.0) - num.cast("double") / den.cast("double"), 6
        ).alias("alpha"),
    )


krippendorff_alpha.__doc__ = krippendorff_alpha.__doc__.format(
    L=KRIPP_LEN_MIN
)


ORACLE_KRIPPENDORFF = f"""
ka_per AS (
  SELECT (CASE WHEN g.keep THEN 1 ELSE 0 END
          + CASE WHEN c.bucket <> 'tail' THEN 1 ELSE 0 END
          + CASE WHEN d.n_chars >= {KRIPP_LEN_MIN} THEN 1 ELSE 0 END)
           AS o
  FROM gopher_rules g
  JOIN ccnet_buckets c USING (doc_id)
  JOIN documents d USING (doc_id)
),
ka_agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(o) AS BIGINT) AS n1,
         CAST(sum(o * (3 - o)) AS BIGINT) AS dis
  FROM ka_per
),
krippendorff_alpha AS (
  SELECT n AS n_docs, n1 AS n_pos_votes, dis AS disagree_pairs,
         round(1.0 - CAST(CAST(dis AS HUGEINT) * (3 * n - 1)
                          AS DOUBLE)
                     / CAST(CAST(2 AS HUGEINT) * n1 * (3 * n - n1)
                            AS DOUBLE), 6) AS alpha
  FROM ka_agg
)
"""


# ---------------------------------------------------------------------------
# ROUGE-1/2 pair scoring (summarization/translation eval kernel)
# ---------------------------------------------------------------------------


def rouge_pairs(docs: DataFrame) -> DataFrame:
    """ROUGE-1 and ROUGE-2 F1 between (reference, candidate) document
    pairs — the n-gram-overlap eval kernel behind summarization /
    translation scoring, run at corpus scale. Overlap is the CLIPPED
    multiset intersection (Σ min(count_ref, count_cand) per n-gram —
    the official ROUGE definition), so every numerator/denominator is
    an exact BIGINT and only the final P/R/F divisions are doubles
    (round 6).

    The pair list here is the deterministic adjacent-id pairing
    (even doc_id -> doc_id+1) so the metric is oracle-checkable
    corpus-wide; in production the pair column plugs into any
    candidate generator (LSH buckets, retrieval top-k) unchanged —
    the kernel only sees (ref_id, cand_id).

    Scale: one tokenize pass to (doc, ngram, count) for n=1,2, then
    per-pair equi-joins on (doc_id, ngram) — work bounded by document
    length times pair count, never corpus^2; all joins key-partition
    on the pair/doc ids.

    Output per pair: ref_id, cand_id, n1_ref, n1_cand, overlap1,
    rouge1_f, n2_ref, n2_cand, overlap2, rouge2_f (F1 null when a
    side has no n-grams of that order).
    """
    base = _pair_ngram_base(docs)
    f1 = F.when(
        (F.col("nr") > 0) & (F.col("nc") > 0),
        F.round(
            F.lit(2.0) * F.col("ov")
            / (F.col("nr") + F.col("nc")).cast("double"),
            6,
        ),
    )
    wide = base.groupBy("ref_id", "cand_id").pivot("n", [1, 2]).agg(
        F.first("nr").alias("nref"),
        F.first("nc").alias("ncand"),
        F.first("ov").alias("overlap"),
        F.first(f1).alias("f"),
    )
    return wide.select(
        "ref_id",
        "cand_id",
        F.coalesce("1_nref", F.lit(0)).alias("n1_ref"),
        F.coalesce("1_ncand", F.lit(0)).alias("n1_cand"),
        F.coalesce("1_overlap", F.lit(0)).alias("overlap1"),
        F.col("1_f").alias("rouge1_f"),
        F.coalesce("2_nref", F.lit(0)).alias("n2_ref"),
        F.coalesce("2_ncand", F.lit(0)).alias("n2_cand"),
        F.coalesce("2_overlap", F.lit(0)).alias("overlap2"),
        F.col("2_f").alias("rouge2_f"),
    )


def _pair_ngram_base(docs: DataFrame) -> DataFrame:
    """Session-staged pair n-gram base (see ``_pair_ngram_build``):
    ROUGE and BLEU each rebuilt the identical tokenize/count/overlap
    pipeline (r10; carrier note in OPTIMIZATION_r10.md)."""
    return _stage("pair_ngram", docs, lambda: _pair_ngram_build(docs))


def _pair_ngram_build(docs: DataFrame) -> DataFrame:
    """Shared n-gram overlap base of the pairwise eval kernels
    (ROUGE, BLEU): per adjacent-id (ref, cand) pair and n in {1, 2},
    the exact BIGINT totals and clipped-multiset overlap
    (ref_id, cand_id, n, nr, nc, ov)."""
    # r10 (guide §2.5): tokenize at full width, not on the 1-task scan
    toks = _spread(docs, "doc_id").select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda t: F.length(t) > 0,
        ).alias("t"),
    )
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(slice(t, 1, size(t) - 1),"
            " (x, i) -> concat(x, ' ', t[i + 1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks.select(
        "doc_id", F.explode("t").alias("g"), F.lit(1).alias("n")
    ).unionByName(
        toks.select(
            "doc_id", F.explode(bigrams).alias("g"), F.lit(2).alias("n")
        )
    )
    counts = grams.groupBy("doc_id", "n", "g").agg(
        F.count("*").alias("c")
    )
    totals = counts.groupBy("doc_id", "n").agg(F.sum("c").alias("tot"))
    pairs = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").alias("ref_id"))
        .join(
            docs.select((F.col("doc_id") - 1).alias("ref_id"),
                        F.col("doc_id").alias("cand_id")),
            "ref_id",
        )
    )
    ov = (
        pairs.join(
            counts.select(
                F.col("doc_id").alias("ref_id"), "n", "g",
                F.col("c").alias("cr"),
            ),
            "ref_id",
        )
        .join(
            counts.select(
                F.col("doc_id").alias("cand_id"), "n", "g",
                F.col("c").alias("cc"),
            ),
            ["cand_id", "n", "g"],
        )
        .groupBy("ref_id", "cand_id", "n")
        .agg(F.sum(F.least("cr", "cc")).alias("ov"))
    )
    # The n in {1, 2} frame is driven from the PAIR crossed with a
    # literal frame, not from the reference's totals (r7 ADVICE): a
    # reference with <2 tokens still yields the n=2 row, so BLEU's
    # p2 denominator is the candidate's real bigram count (p2 = 0,
    # per the BLEU definition) instead of a spuriously-NULL row.
    nframe = pairs.select(
        "ref_id",
        "cand_id",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("n"),
    )
    base = (
        nframe.join(
            totals.select(
                F.col("doc_id").alias("ref_id"), "n",
                F.col("tot").alias("nr"),
            ),
            ["ref_id", "n"],
            "left",
        )
        .join(
            totals.select(
                F.col("doc_id").alias("cand_id"), "n",
                F.col("tot").alias("nc"),
            ),
            ["cand_id", "n"],
            "left",
        )
        .join(ov, ["ref_id", "cand_id", "n"], "left")
        .select(
            "ref_id", "cand_id", "n",
            F.coalesce("nr", F.lit(0)).alias("nr"),
            F.coalesce("nc", F.lit(0)).alias("nc"),
            F.coalesce("ov", F.lit(0)).alias("ov"),
        )
    )
    return base


ORACLE_ROUGE_PAIRS = r"""
rg_toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> length(t) > 0) AS t
  FROM documents
),
rg_grams AS (
  SELECT doc_id, 1 AS n, u.g AS g
  FROM rg_toks, unnest(t) AS u(g)
  UNION ALL
  SELECT doc_id, 2 AS n,
         t[i] || ' ' || t[i + 1] AS g
  FROM rg_toks,
       LATERAL unnest(range(1, greatest(len(t), 1))) AS r(i)
),
rg_counts AS (
  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c
  FROM rg_grams GROUP BY 1, 2, 3
),
rg_totals AS (
  SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot
  FROM rg_counts GROUP BY 1, 2
),
rg_pairs AS (
  SELECT a.doc_id AS ref_id, b.doc_id AS cand_id
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 2 = 0
),
rg_ov AS (
  SELECT p.ref_id, p.cand_id, r.n,
         CAST(sum(least(r.c, c2.c)) AS BIGINT) AS ov
  FROM rg_pairs p
  JOIN rg_counts r ON r.doc_id = p.ref_id
  JOIN rg_counts c2 ON c2.doc_id = p.cand_id
                   AND c2.n = r.n AND c2.g = r.g
  GROUP BY 1, 2, 3
),
rg_base AS (
  SELECT p.ref_id, p.cand_id, nf.n,
         CAST(coalesce(tr.tot, 0) AS BIGINT) AS nr,
         CAST(coalesce(tc.tot, 0) AS BIGINT) AS nc,
         CAST(coalesce(o.ov, 0) AS BIGINT) AS ov
  FROM rg_pairs p
  CROSS JOIN (SELECT 1 AS n UNION ALL SELECT 2 AS n) nf
  LEFT JOIN rg_totals tr ON tr.doc_id = p.ref_id AND tr.n = nf.n
  LEFT JOIN rg_totals tc ON tc.doc_id = p.cand_id AND tc.n = nf.n
  LEFT JOIN rg_ov o ON o.ref_id = p.ref_id
                   AND o.cand_id = p.cand_id AND o.n = nf.n
),
rouge_pairs AS (
  SELECT ref_id, cand_id,
         CAST(coalesce(max(CASE WHEN n = 1 THEN nr END), 0) AS BIGINT)
           AS n1_ref,
         CAST(coalesce(max(CASE WHEN n = 1 THEN nc END), 0) AS BIGINT)
           AS n1_cand,
         CAST(coalesce(max(CASE WHEN n = 1 THEN ov END), 0) AS BIGINT)
           AS overlap1,
         max(CASE WHEN n = 1 AND nr > 0 AND nc > 0 THEN
             round(2.0 * ov / CAST(nr + nc AS DOUBLE), 6) END)
           AS rouge1_f,
         CAST(coalesce(max(CASE WHEN n = 2 THEN nr END), 0) AS BIGINT)
           AS n2_ref,
         CAST(coalesce(max(CASE WHEN n = 2 THEN nc END), 0) AS BIGINT)
           AS n2_cand,
         CAST(coalesce(max(CASE WHEN n = 2 THEN ov END), 0) AS BIGINT)
           AS overlap2,
         max(CASE WHEN n = 2 AND nr > 0 AND nc > 0 THEN
             round(2.0 * ov / CAST(nr + nc AS DOUBLE), 6) END)
           AS rouge2_f
  FROM rg_base
  GROUP BY 1, 2
)
"""


def source_jsd_report(docs: DataFrame) -> DataFrame:
    """Jensen-Shannon divergence of the corpus SOURCE mix between the
    two doc_id-parity halves — the symmetric, always-finite sibling
    of the PSI value-drift report, and the standard "did my crawl mix
    shift" monitor for a pretraining corpus (JSD is bounded by ln 2
    and defined even when a source exists on only one side — exactly
    where PSI blows up and alerts with a null).

    Per source s: half shares p_ref/p_cur (rounded 6 so ln sees
    identical inputs cross-engine), midpoint m = (p_ref+p_cur)/2, and
    the contribution 0.5*(p_ref*ln(p_ref/m) + p_cur*ln(p_cur/m)) with
    the 0*ln(0) = 0 convention — guarded on the ROUNDED share
    (p > 0), not the raw count (r5 advice): a source with share
    below 5e-7 rounds to p = 0.0 while n > 0, and ln(0) would be
    null in Spark vs -inf in DuckDB; guarding on what ln actually
    sees keeps the term finite and cross-engine identical. One
    conditional hash-agg (source x side in a single pass) — the only
    corpus-sized stage is that count.

    Output per source: source, n_ref, n_cur, p_ref, p_cur, jsd_term.
    """
    side = (F.col("doc_id") % 2 == 1).cast("bigint")
    binned = docs.groupBy("source").agg(
        F.sum(1 - side).alias("n_ref"),
        F.sum(side).alias("n_cur"),
    )
    totals = binned.agg(
        F.sum("n_ref").alias("tot_ref"),
        F.sum("n_cur").alias("tot_cur"),
    )
    shared = binned.join(F.broadcast(totals))
    p_ref = F.round(F.col("n_ref") / F.col("tot_ref"), 6)
    p_cur = F.round(F.col("n_cur") / F.col("tot_cur"), 6)
    m = (p_ref + p_cur) / 2
    t_ref = F.when(p_ref > 0, p_ref * F.log(p_ref / m)).otherwise(
        F.lit(0.0)
    )
    t_cur = F.when(p_cur > 0, p_cur * F.log(p_cur / m)).otherwise(
        F.lit(0.0)
    )
    return shared.select(
        "source",
        "n_ref",
        "n_cur",
        p_ref.alias("p_ref"),
        p_cur.alias("p_cur"),
        F.round(F.lit(0.5) * (t_ref + t_cur), 6).alias("jsd_term"),
    )


ORACLE_SOURCE_JSD = """
jsd_b AS (
  SELECT source,
         CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 0 ELSE 1 END)
              AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_cur
  FROM documents GROUP BY 1
),
jsd_t AS (
  SELECT sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur FROM jsd_b
),
jsd_s AS (
  SELECT source, n_ref, n_cur,
         round(CAST(n_ref AS DOUBLE) / tot_ref, 6) AS p_ref,
         round(CAST(n_cur AS DOUBLE) / tot_cur, 6) AS p_cur
  FROM jsd_b, jsd_t
),
docs_source_jsd AS (
  SELECT source, n_ref, n_cur, p_ref, p_cur,
         round(CAST(0.5 AS DOUBLE) * (
           (CASE WHEN p_ref > 0
                 THEN p_ref * ln(p_ref / ((p_ref + p_cur) / 2))
                 ELSE CAST(0.0 AS DOUBLE) END)
           + (CASE WHEN p_cur > 0
                   THEN p_cur * ln(p_cur / ((p_ref + p_cur) / 2))
                   ELSE CAST(0.0 AS DOUBLE) END)), 6) AS jsd_term
  FROM jsd_s
)
"""


#: Jelinek-Mercer interpolation weights (tri, bi, uni) — exact binary
#: dyadics, so the mixture arithmetic is identical cross-engine.
JM_L3, JM_L2, JM_L1 = 0.5, 0.25, 0.25


def trigram_jm_scores(docs: DataFrame) -> DataFrame:
    """Interpolated trigram LM scoring (Jelinek-Mercer): per-doc mean
    ln(l3*P3 + l2*P2 + l1*P1) with MLE component models — the top
    rung of the n-gram ladder (unigram -> bigram add-k -> bigram KN
    -> interpolated trigram). Mixing with lower orders is what keeps
    a trigram model usable at all (pure trigram MLE is hopelessly
    sparse); the exact-binary weights (1/2, 1/4, 1/4) make the
    mixture bit-reproducible.

    One explode builds the trigram table; every lower-order count is
    a second-level agg of it plus the shared token explode for
    unigrams — the corpus shuffles once per n-gram order, never per
    doc. Self-scoring keeps every component positive (each scored
    trigram occurs at least once). Output: doc_id, n_trigrams,
    jm_logprob (round 6).
    """
    toksarr = docs.select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), '\\\\s+'), x -> x != '')"
        ).alias("t"),
    )
    tri = (
        toksarr.filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 3),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2,"
                    " t[i + 2] AS w3))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.w1", "g.w2", "g.w3")
    )
    c3 = tri.groupBy("w1", "w2", "w3").agg(F.count("*").alias("n3"))
    c2ctx = c3.groupBy("w1", "w2").agg(F.sum("n3").alias("n2ctx"))
    # bigram/unigram stats from the full token stream (not just
    # trigram-interior positions) — the standard component models
    uni = toksarr.select(F.explode("t").alias("w"))
    cu = uni.groupBy("w").agg(F.count("*").alias("nu"))
    utot = uni.agg(F.count("*").alias("nt"))
    bi = (
        toksarr.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w2, t[i + 1] AS w3))"
                )
            ).alias("b")
        )
        .select("b.w2", "b.w3")
    )
    cb = bi.groupBy("w2", "w3").agg(F.count("*").alias("nb"))
    cbctx = cb.groupBy("w2").agg(F.sum("nb").alias("nbctx"))
    p = (
        F.lit(JM_L3) * F.col("n3") / F.col("n2ctx")
        + F.lit(JM_L2) * F.col("nb") / F.col("nbctx")
        + F.lit(JM_L1) * F.col("nu") / F.col("nt")
    )
    return (
        tri.join(c3, ["w1", "w2", "w3"])
        .join(c2ctx, ["w1", "w2"])
        .join(cb, ["w2", "w3"])
        .join(cbctx, "w2")
        .join(cu.withColumnRenamed("w", "w3"), "w3")
        .crossJoin(F.broadcast(utot))
        .select("doc_id", F.log(p).alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.round(F.avg("lp"), 6).alias("jm_logprob"),
        )
    )


ORACLE_TRIGRAM_JM = f"""
jm_t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
jm_tri AS MATERIALIZED (
  SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2, t[i + 3] AS w3
  FROM jm_t, LATERAL unnest(range(0, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
jm_c3 AS MATERIALIZED (
  SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n3
  FROM jm_tri GROUP BY 1, 2, 3
),
jm_c2ctx AS (
  SELECT w1, w2, CAST(sum(n3) AS BIGINT) AS n2ctx
  FROM jm_c3 GROUP BY 1, 2
),
jm_uni AS MATERIALIZED (
  SELECT doc_id, x.w FROM jm_t, LATERAL unnest(t) AS x(w)
),
jm_cu AS (
  SELECT w, CAST(count(*) AS BIGINT) AS nu FROM jm_uni GROUP BY 1
),
jm_ut AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM jm_uni),
jm_bi AS MATERIALIZED (
  SELECT t[i + 1] AS w2, t[i + 2] AS w3
  FROM jm_t, LATERAL unnest(range(0, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
jm_cb AS MATERIALIZED (
  SELECT w2, w3, CAST(count(*) AS BIGINT) AS nb
  FROM jm_bi GROUP BY 1, 2
),
jm_cbctx AS (
  SELECT w2, CAST(sum(nb) AS BIGINT) AS nbctx FROM jm_cb GROUP BY 1
),
text_trigram_jm AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_trigrams,
         round(avg(ln(
           CAST({JM_L3} AS DOUBLE) * c.n3 / x.n2ctx
           + CAST({JM_L2} AS DOUBLE) * b.nb / bx.nbctx
           + CAST({JM_L1} AS DOUBLE) * u.nu / t.nt)), 6) AS jm_logprob
  FROM jm_tri g
  JOIN jm_c3 c USING (w1, w2, w3)
  JOIN jm_c2ctx x USING (w1, w2)
  JOIN jm_cb b USING (w2, w3)
  JOIN jm_cbctx bx USING (w2)
  JOIN jm_cu u ON u.w = g.w3
  CROSS JOIN jm_ut t
  GROUP BY 1
)
"""


def oov_rate_report(docs: DataFrame) -> DataFrame:
    """Held-out vocabulary coverage: build the token vocabulary on
    the even-doc_id half, score the odd half, and report per-language
    token and type OOV rates — the number that decides whether a
    tokenizer/vocab generalizes to incoming data or was overfit to
    the training crawl (Heaps' curve shows growth WITHIN a corpus;
    this measures transfer ACROSS corpora halves).

    Plan: one explode each side; the vocabulary is token-TYPE grain
    (Zipf-bounded, far smaller than the stream), joined on the token
    key; everything after is one per-language hash-agg. Counts are
    integers, rates divide at the rounded edge. Output per lang:
    lang, n_tokens, n_oov_tokens, n_types, n_oov_types,
    token_oov_rate, type_oov_rate (round 6).
    """
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")
        ).alias("tok"),
    )
    ref_vocab = (
        toks.filter(F.col("doc_id") % 2 == 0).select("tok").distinct()
    )
    cur = toks.filter(F.col("doc_id") % 2 == 1)
    flagged = cur.join(
        ref_vocab.withColumn("_seen", F.lit(1)), "tok", "left"
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("_seen").isNull(), 1).otherwise(0)
            ).alias("n_oov_tokens"),
            F.countDistinct("tok").alias("n_types"),
            F.countDistinct(
                F.when(F.col("_seen").isNull(), F.col("tok"))
            ).alias("n_oov_types"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov_tokens",
            "n_types",
            "n_oov_types",
            F.round(
                F.col("n_oov_tokens") / F.col("n_tokens").cast("double"),
                6,
            ).alias("token_oov_rate"),
            F.round(
                F.col("n_oov_types") / F.col("n_types").cast("double"),
                6,
            ).alias("type_oov_rate"),
        )
    )


ORACLE_OOV_RATE = """
oov_tok AS MATERIALIZED (
  SELECT doc_id, lang, x.tok
  FROM (
    SELECT doc_id, lang,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       t -> t <> '') AS ts
    FROM documents
  ), LATERAL unnest(ts) AS x(tok)
),
oov_ref AS (
  SELECT DISTINCT tok FROM oov_tok WHERE doc_id % 2 = 0
),
oov_flag AS (
  SELECT c.lang, c.tok, r.tok IS NULL AS is_oov
  FROM oov_tok c LEFT JOIN oov_ref r ON c.tok = r.tok
  WHERE c.doc_id % 2 = 1
),
text_oov_rate AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN is_oov THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov_tokens,
         CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
         CAST(count(DISTINCT CASE WHEN is_oov THEN tok END) AS BIGINT)
           AS n_oov_types,
         round(sum(CASE WHEN is_oov THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 6) AS token_oov_rate,
         round(count(DISTINCT CASE WHEN is_oov THEN tok END)
               / CAST(count(DISTINCT tok) AS DOUBLE), 6)
           AS type_oov_rate
  FROM oov_flag GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# Chao1 unseen-vocabulary estimate (species richness)
# ---------------------------------------------------------------------------


def vocab_chao1(docs: DataFrame) -> DataFrame:
    """Chao1 species-richness estimate of the TRUE vocabulary size
    from the hapax/dis-legomena counts — "how many word types exist
    that this corpus sample has not seen yet", the coverage question
    Heaps' curve extrapolates heuristically and Chao1 bounds
    nonparametrically: V_hat = V + f1*(f1-1)/(2*(f2+1)) (the
    bias-corrected form, defined even when f2 = 0), where f1/f2 are
    the singleton/doubleton type counts. Good-Turing sample coverage
    rides along: C_hat = 1 - f1/n_tokens.

    Two stacked hash-aggs (token -> freq, freq -> type count) reduce
    the corpus to a frequency-of-frequencies table bounded by the max
    token count; every output is exact integers plus two single
    rounded divisions.

    Output (1 row): n_tokens, vocab, f1, f2, chao1_est, coverage.
    """
    tf = (
        docs.select(F.explode(_tokens_col()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    agg = tf.agg(
        F.sum("freq").alias("n_tokens"),
        F.count("*").alias("vocab"),
        F.sum((F.col("freq") == 1).cast("int")).alias("f1"),
        F.sum((F.col("freq") == 2).cast("int")).alias("f2"),
    )
    chao = F.col("vocab").cast("double") + (
        F.col("f1") * (F.col("f1") - 1)
    ).cast("double") / (2 * (F.col("f2") + 1)).cast("double")
    return agg.select(
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        F.round(chao, 6).alias("chao1_est"),
        F.round(
            F.lit(1.0)
            - F.col("f1").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("coverage"),
    )


ORACLE_CHAO1 = r"""
ch_tf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        FROM documents)
  WHERE w <> '' GROUP BY 1
),
ch_a AS (
  SELECT CAST(sum(freq) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS f1,
         CAST(sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS f2
  FROM ch_tf
),
vocab_chao1 AS (
  SELECT n_tokens, vocab, f1, f2,
         round(CAST(vocab AS DOUBLE)
               + CAST(f1 * (f1 - 1) AS DOUBLE)
                 / CAST(2 * (f2 + 1) AS DOUBLE), 6) AS chao1_est,
         round(1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
           AS coverage
  FROM ch_a
)
"""


# ---------------------------------------------------------------------------
# source vocabulary-overlap matrix (which crawls duplicate each other)
# ---------------------------------------------------------------------------


def source_vocab_overlap(docs: DataFrame) -> DataFrame:
    """Vocabulary Jaccard between every pair of corpus sources — the
    lexical companion to the doc-level near-dup detectors: two crawls
    can share few exact documents yet nearly coincide in vocabulary
    (mirror sites, syndication), which reweights how much NEW
    language a source actually contributes to a pretraining mix
    (`docs_source_jsd` watches the mix shares shift; this watches
    whether the sources are even distinct material).

    Distinct (source, token) pairs, one token-grain self-join (each
    token fans out at most |sources|^2 — the source domain is tiny by
    construction), per-source vocab sizes joined back. All counts
    exact BIGINT; Jaccard is the single rounded division.

    Output per source pair (s1 < s2): source_1, source_2, vocab_1,
    vocab_2, n_shared, jaccard.
    """
    sv = (
        docs.select(
            "source", F.explode(_tokens_col()).alias("w")
        )
        .filter(F.col("w") != "")
        .distinct()
        .localCheckpoint(eager=True)  # (source, token) grain
    )
    vocab = sv.groupBy("source").agg(F.count("*").alias("v"))
    pairs = (
        sv.alias("x")
        .join(
            sv.alias("y"),
            (F.col("x.w") == F.col("y.w"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("source_1"),
            F.col("y.source").alias("source_2"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pairs.join(
            F.broadcast(
                vocab.select(
                    F.col("source").alias("source_1"),
                    F.col("v").alias("vocab_1"),
                )
            ),
            "source_1",
        )
        .join(
            F.broadcast(
                vocab.select(
                    F.col("source").alias("source_2"),
                    F.col("v").alias("vocab_2"),
                )
            ),
            "source_2",
        )
        .select(
            "source_1",
            "source_2",
            "vocab_1",
            "vocab_2",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (
                    F.col("vocab_1")
                    + F.col("vocab_2")
                    - F.col("n_shared")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


ORACLE_SOURCE_OVERLAP = r"""
so_sv AS (
  SELECT DISTINCT source, w
  FROM (SELECT source,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
),
so_v AS (
  SELECT source, CAST(count(*) AS BIGINT) AS v
  FROM so_sv GROUP BY 1
),
so_p AS (
  SELECT x.source AS source_1, y.source AS source_2,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM so_sv x JOIN so_sv y
    ON x.w = y.w AND x.source < y.source
  GROUP BY 1, 2
),
source_vocab_overlap AS (
  SELECT p.source_1, p.source_2,
         v1.v AS vocab_1, v2.v AS vocab_2, p.n_shared,
         round(CAST(p.n_shared AS DOUBLE)
               / CAST(v1.v + v2.v - p.n_shared AS DOUBLE), 6)
           AS jaccard
  FROM so_p p
  JOIN so_v v1 ON v1.source = p.source_1
  JOIN so_v v2 ON v2.source = p.source_2
)
"""


# ---------------------------------------------------------------------------
# n-gram novelty attribution (which docs introduce new trigrams)
# ---------------------------------------------------------------------------


def novelty_attribution(docs: DataFrame) -> DataFrame:
    """Per-document n-gram NOVELTY attribution: credit every distinct
    word trigram to its corpus-first owner (lowest doc_id containing
    it) and score each document by the share of its trigram
    vocabulary it introduces — the doc-grain complement of the
    corpus-level Heaps curve (``text_heaps_curve``): Heaps says how
    fast the corpus stops being new; this says WHICH documents the
    remaining newness comes from, the ranking a curation pass uses
    to keep tail documents that still teach the model something.

    Exact integers end to end: trigram sets per doc via the same
    higher-order array expressions as ``repetition_scores`` (map-side,
    scan speed), ONE combinable min-agg over the trigram key for
    ownership, one doc-grain count-agg, and a left join back (docs
    introducing nothing get 0). novelty_pct is the single rounded
    division. Docs with fewer than 3 tokens have no trigrams and are
    excluded by construction (documented grain).

    Scale: the trigram explode is the corpus-sized stage (linear in
    tokens); both aggs are map-side combinable; no windows, no
    driver state. Output: doc_id, n_distinct_trigrams, n_introduced,
    novelty_pct.
    """
    tg = (
        "transform(sequence(0, size(w) - 3),"
        " i -> concat_ws(' ', element_at(w, i + 1),"
        " element_at(w, i + 2), element_at(w, i + 3)))"
    )
    tri = (
        docs.select("doc_id", _tokens_col().alias("w"))
        .filter(F.expr("size(w) >= 3"))
        .select(
            "doc_id",
            F.explode(F.expr(f"array_distinct({tg})")).alias("g"),
        )
    )
    owners = (
        tri.groupBy("g")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_introduced"))
    )
    per_doc = tri.groupBy("doc_id").agg(
        F.count("*").alias("n_distinct_trigrams")
    )
    return (
        per_doc.join(owners, "doc_id", "left")
        .select(
            "doc_id",
            "n_distinct_trigrams",
            F.coalesce(F.col("n_introduced"), F.lit(0)).alias(
                "n_introduced"
            ),
        )
        .withColumn(
            "novelty_pct",
            F.round(
                100
                * F.col("n_introduced").cast("double")
                / F.col("n_distinct_trigrams").cast("double"),
                6,
            ),
        )
    )


ORACLE_NOVELTY = """
nv_tri AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 1),
           i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g
  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
        FROM documents)
  WHERE len(w) >= 3
),
nv_own AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_introduced
  FROM (SELECT g, min(doc_id) AS doc_id FROM nv_tri GROUP BY 1)
  GROUP BY 1
),
nv_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_trigrams
  FROM nv_tri GROUP BY 1
),
novelty_attribution AS (
  SELECT d.doc_id, d.n_distinct_trigrams,
         coalesce(o.n_introduced, 0) AS n_introduced,
         round(100 * CAST(coalesce(o.n_introduced, 0) AS DOUBLE)
               / CAST(d.n_distinct_trigrams AS DOUBLE), 6)
           AS novelty_pct
  FROM nv_doc d LEFT JOIN nv_own o ON d.doc_id = o.doc_id
)
"""


# ---------------------------------------------------------------------------
# Needleman-Wunsch global alignment (token-level, two anchor docs)
# ---------------------------------------------------------------------------

#: alignment scoring and the per-side token cap (the DP is
#: CAP^2-bounded regardless of corpus size).
NW_MATCH = 2
NW_MISMATCH = -1
NW_GAP = 1
NW_MAX_TOKENS = 64


def nw_alignment(docs: DataFrame) -> DataFrame:
    """Needleman-Wunsch GLOBAL token alignment between the corpus's
    two lowest-doc_id documents (first {CAP} tokens each) — the
    edit-path scoring (+{M} match / {X} mismatch / -{G} gap) that
    tells HOW two near-duplicate texts differ, where the dedup
    family only scores THAT they do. Previously on the deferred
    ledger as "cross-dependent DP state"; resolved with the same
    pair of schedules as ``events_dtw``:

    ENGINE: packed-array DP kernel — both token prefixes ride one
    row, S(i,j) = max(S(i-1,j-1)+s(a_i,b_j), S(i-1,j)-g,
    S(i,j-1)-g) builds through nested higher-order aggregates,
    O(CAP^2) exact BIGINT ops in one job. ORACLE: antidiagonal
    WAVEFRONT recursive CTE (no intra-diagonal dependency; each
    parent row carries its own candidate contribution — gap from
    lateral parents, match/mismatch from the diagonal one — and a
    per-cell group-max combines them). Exact integers throughout,
    so the hash gate proves the two schedules equal.

    The corpus-sized work is the deterministic TakeOrdered(2) doc
    pick. Output (1 row): doc_a, doc_b, n_a, n_b, align_score.
    """
    two = docs.orderBy("doc_id").limit(2).select(
        "doc_id", _tokens_col().alias("w")
    )
    packed = two.agg(
        F.min("doc_id").alias("doc_a"),
        F.max("doc_id").alias("doc_b"),
        F.slice(F.min_by("w", "doc_id"), 1, NW_MAX_TOKENS).alias("av"),
        F.slice(F.max_by("w", "doc_id"), 1, NW_MAX_TOKENS).alias("bv"),
    )
    dp = packed.select(
        "doc_a",
        "doc_b",
        F.expr("size(av)").alias("n_a"),
        F.expr("size(bv)").alias("n_b"),
        F.expr(
            "aggregate(sequence(1, size(av)),"
            " transform(sequence(0, size(bv)),"
            f"  j -> cast(-j * {NW_GAP} as bigint)),"
            " (prev, i) -> aggregate(sequence(1, size(bv)),"
            f"  array(cast(-i * {NW_GAP} as bigint)),"
            "  (r, j) -> array_append(r, greatest("
            f"   element_at(prev, j) + (case when element_at(av, i)"
            f"    = element_at(bv, j) then {NW_MATCH}"
            f"    else {NW_MISMATCH} end),"
            f"   element_at(prev, j + 1) - {NW_GAP},"
            f"   element_at(r, -1) - {NW_GAP}))))"
        ).alias("row"),
    )
    return dp.select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_b",
        F.expr("element_at(row, n_b + 1)").alias("align_score"),
    )


nw_alignment.__doc__ = nw_alignment.__doc__.format(
    CAP=NW_MAX_TOKENS, M=NW_MATCH, X=NW_MISMATCH, G=NW_GAP
)


ORACLE_NW = f"""
nw_two AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
  FROM documents ORDER BY doc_id LIMIT 2
),
nw_ab AS (
  SELECT min(doc_id) AS doc_a, max(doc_id) AS doc_b,
         list_slice(arg_min(w, doc_id), 1, {NW_MAX_TOKENS}) AS av,
         list_slice(arg_max(w, doc_id), 1, {NW_MAX_TOKENS}) AS bv,
         len(list_slice(arg_min(w, doc_id), 1, {NW_MAX_TOKENS}))
           AS n,
         len(list_slice(arg_max(w, doc_id), 1, {NW_MAX_TOKENS}))
           AS m
  FROM nw_two
),
nw_rec AS (
  SELECT * FROM (VALUES
    (1, 0, 0, CAST(0 AS BIGINT)),
    (0, 1, 0, CAST(-{NW_GAP} AS BIGINT)),
    (0, 0, 1, CAST(-{NW_GAP} AS BIGINT))) AS t(age, i, j, d)
  UNION ALL
  SELECT u.age, u.ci AS i, u.cj AS j,
         CASE WHEN u.age = 1 THEN min(u.cand)
              WHEN u.ci = 0 THEN CAST(-{NW_GAP} * u.cj AS BIGINT)
              WHEN u.cj = 0 THEN CAST(-{NW_GAP} * u.ci AS BIGINT)
              ELSE max(u.cand) END AS d
  FROM nw_rec w
  CROSS JOIN nw_ab ab
  CROSS JOIN UNNEST(
    CASE WHEN w.age = 0 THEN [
      {{'age': 0, 'ci': w.i + 1, 'cj': w.j,
        'cand': w.d - {NW_GAP}}},
      {{'age': 0, 'ci': w.i, 'cj': w.j + 1,
        'cand': w.d - {NW_GAP}}},
      {{'age': 1, 'ci': w.i, 'cj': w.j, 'cand': w.d}}]
    ELSE [{{'age': 0, 'ci': w.i + 1, 'cj': w.j + 1,
           'cand': w.d + CASE WHEN ab.av[w.i + 1] = ab.bv[w.j + 1]
                              THEN {NW_MATCH}
                              ELSE {NW_MISMATCH} END}}] END) AS t(u)
  WHERE u.ci <= ab.n AND u.cj <= ab.m
        AND NOT (u.age = 1 AND w.i + w.j >= ab.n + ab.m)
  GROUP BY u.age, u.ci, u.cj, ab.n, ab.m
),
nw_alignment AS (
  SELECT ab.doc_a, ab.doc_b, ab.n AS n_a, ab.m AS n_b,
         w.d AS align_score
  FROM nw_rec w, nw_ab ab
  WHERE w.age = 0 AND w.i = ab.n AND w.j = ab.m
)
"""


# ---------------------------------------------------------------------------
# perplexity-bucket retention report (the KenLM-filter planning table)
# ---------------------------------------------------------------------------


def ppl_bucket_report(docs: DataFrame) -> DataFrame:
    """Perplexity-bucket retention report: documents bucketed by
    integer floor of their unigram cross-entropy (nats/token, from
    the verified ``unigram_logprob_scores``), with cumulative doc
    and token counts in most-predictable-first order — the planning
    table behind every KenLM-style perplexity filter ("cutting at
    bucket b keeps X% of docs / Y tokens"); pairs with
    ``text_quality`` (heuristics) and ``text_nb_quality`` (trained)
    as the LM leg of the quality-filter family.

    The bucket key floor(-avg_logprob) is bounded by ln(vocab) —
    ~40 buckets at ANY corpus scale — so the cumulative sums run
    through the packed-array offset kernel (zero global windows,
    zero WindowExec). Counts are exact BIGINTs; the share is the
    single rounded division.

    Output per occupied bucket: ppl_bucket, n_docs, n_tokens,
    cum_docs, cum_tokens, doc_share_pct.
    """
    scores = unigram_logprob_scores(docs)
    b = scores.select(
        F.floor(-F.col("avg_logprob")).cast("bigint").alias("b"),
        "n_tokens",
    )
    bt = b.groupBy("b").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    offs = bucket_prefix_offsets(
        bt, "b", ["n_docs", "n_tokens"]
    )
    tot = bt.agg(F.sum("n_docs").alias("td"))
    return (
        bt.join(F.broadcast(offs), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("b").alias("ppl_bucket"),
            "n_docs",
            "n_tokens",
            (F.col("_off_n_docs") + F.col("n_docs")).alias(
                "cum_docs"
            ),
            (F.col("_off_n_tokens") + F.col("n_tokens")).alias(
                "cum_tokens"
            ),
            F.round(
                100
                * (F.col("_off_n_docs") + F.col("n_docs")).cast(
                    "double"
                )
                / F.col("td").cast("double"),
                6,
            ).alias("doc_share_pct"),
        )
    )


ORACLE_PPL_BUCKETS = """
ppb_s AS (
  SELECT doc_id, n_tokens, avg_logprob FROM unigram_logprob
),
ppb_b AS (
  SELECT CAST(floor(-avg_logprob) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM ppb_s GROUP BY 1
),
ppl_bucket_report AS (
  SELECT b AS ppl_bucket, n_docs, n_tokens,
         CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
         CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
         round(100 * CAST(sum(n_docs) OVER w AS DOUBLE)
               / (SELECT CAST(sum(n_docs) AS DOUBLE) FROM ppb_b),
               6) AS doc_share_pct
  FROM ppb_b
  WINDOW w AS (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
"""


# ---------------------------------------------------------------------------
# term burstiness (Church-Gale variance-to-mean over documents)
# ---------------------------------------------------------------------------

#: minimum corpus frequency for a term to be scored, and the report
#: size (deterministic: rounded-score order, term tie-break).
BURST_MIN_TF = 30
BURST_TOP_K = 20


def term_burstiness(docs: DataFrame) -> DataFrame:
    """Church-Gale term BURSTINESS: the variance-to-mean ratio of a
    term's per-document count (zeros included). Function words
    sprinkle evenly (VMR ~ 1, Poisson); content words clump — a few
    docs use them heavily — so VMR >> 1. The classic signal for
    separating topical vocabulary from glue, complementing plain
    frequency (``text_top_terms``) and contrastive tf-idf
    (``text_tfidf_top_terms``).

    One (term, doc) hash-agg then one term-grain agg: with D docs
    and exact BIGINTs s1 = sum c, s2 = sum c^2, the zero-inclusive
    moments are mean = s1/D and var = s2/D - mean^2, so
    VMR = (s2/D - (s1/D)^2) / (s1/D) — one mirrored double chain,
    rounded BEFORE the ordering so the top-{K} cut is
    engine-deterministic (term tie-break). Terms below {MIN} corpus
    occurrences are dropped (VMR of rare terms is noise).

    Output ({K} rows): term, df_docs, tf_total, vmr.
    """
    td = (
        docs.select("doc_id", F.explode(_tokens_col()).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t", "doc_id")
        .agg(F.count("*").alias("c"))
    )
    d_tot = docs.agg(F.count("*").alias("dd"))
    per_term = (
        td.groupBy("t")
        .agg(
            F.count("*").alias("df_docs"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
        )
        .filter(F.col("s1") >= BURST_MIN_TF)
        .crossJoin(F.broadcast(d_tot))
    )
    dd = F.col("dd").cast("double")
    mean = F.col("s1").cast("double") / dd
    vmr = (F.col("s2").cast("double") / dd - mean * mean) / mean
    return (
        per_term.select(
            F.col("t").alias("term"),
            "df_docs",
            F.col("s1").alias("tf_total"),
            F.round(vmr, 6).alias("vmr"),
        )
        .orderBy(F.desc("vmr"), "term")
        .limit(BURST_TOP_K)
    )


term_burstiness.__doc__ = term_burstiness.__doc__.format(
    K=BURST_TOP_K, MIN=BURST_MIN_TF
)


ORACLE_BURSTINESS = f"""
bu_td AS (
  SELECT t, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
        FROM documents)
  WHERE t <> '' GROUP BY 1, 2
),
bu_d AS (SELECT CAST(count(*) AS BIGINT) AS dd FROM documents),
bu_t AS (
  SELECT t, CAST(count(*) AS BIGINT) AS df_docs,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM bu_td GROUP BY 1 HAVING sum(c) >= {BURST_MIN_TF}
),
term_burstiness AS (
  SELECT t AS term, df_docs, s1 AS tf_total,
         round((CAST(s2 AS DOUBLE) / CAST(dd AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / CAST(dd AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(dd AS DOUBLE)))
               / (CAST(s1 AS DOUBLE) / CAST(dd AS DOUBLE)), 6)
           AS vmr
  FROM bu_t, bu_d
  ORDER BY vmr DESC, term LIMIT {BURST_TOP_K}
)
"""


# ---------------------------------------------------------------------------
# collocations by Dunning log-likelihood ratio (G^2)
# ---------------------------------------------------------------------------

#: minimum bigram count scored and report size.
LLR_MIN_PAIR = 5
LLR_TOP_K = 20


def collocations_llr(docs: DataFrame) -> DataFrame:
    """Collocation mining by Dunning's log-likelihood ratio — the G^2
    statistic over each bigram's 2x2 contingency table (Dunning
    1993), THE standard collocation test: unlike raw PMI
    (``text_skipgram_pmi``) it does not explode on rare pairs,
    because every cell's evidence is weighted by its count.

    Exact integer tables: bigram count k11, first-word margin c1,
    second-word margin c2, corpus bigram total N from three
    map-combinable hash-aggs; the derived cells k12 = c1-k11,
    k21 = c2-k11, k22 = N-c1-c2+k11 stay integers. G^2 =
    2 * sum k*ln(k*N/(row*col)) over the four cells (zero cells
    contribute 0 by the xlogx convention) — a fixed 4-term double
    chain mirrored in both engines, rounded BEFORE the deterministic
    (g2 desc, w1, w2) top-{K} cut. Pairs under {MIN} occurrences are
    not scored.

    Output ({K} rows): w1, w2, k11, g2.
    """
    bg = (
        docs.select(_tokens_col().alias("w"))
        .filter(F.expr("size(w) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> struct(element_at(w, i + 1) as w1,"
                    " element_at(w, i + 2) as w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    pairs = bg.groupBy("w1", "w2").agg(F.count("*").alias("k11"))
    first = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    second = bg.groupBy("w2").agg(F.count("*").alias("c2"))
    tot = bg.agg(F.count("*").alias("nn"))
    j = (
        pairs.filter(F.col("k11") >= LLR_MIN_PAIR)
        .join(first, "w1")
        .join(second, "w2")
        .crossJoin(F.broadcast(tot))
    )

    def _cell(k: F.Column, row: F.Column, col: F.Column) -> F.Column:
        arg = (
            k.cast("double")
            * F.col("nn").cast("double")
            / (row.cast("double") * col.cast("double"))
        )
        return F.when(k > 0, k.cast("double") * F.log(arg)).otherwise(
            F.lit(0.0)
        )

    k11 = F.col("k11")
    c1, c2, nn = F.col("c1"), F.col("c2"), F.col("nn")
    g2 = 2 * (
        _cell(k11, c1, c2)
        + _cell(c1 - k11, c1, nn - c2)
        + _cell(c2 - k11, nn - c1, c2)
        + _cell(nn - c1 - c2 + k11, nn - c1, nn - c2)
    )
    return (
        j.select(
            "w1", "w2", "k11", F.round(g2, 6).alias("g2")
        )
        .orderBy(F.desc("g2"), "w1", "w2")
        .limit(LLR_TOP_K)
    )


collocations_llr.__doc__ = collocations_llr.__doc__.format(
    K=LLR_TOP_K, MIN=LLR_MIN_PAIR
)


ORACLE_COLLOCATIONS = f"""
co_bg AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM (SELECT regexp_split_to_array(lower(text), '\\s+') AS w
        FROM documents),
       unnest(range(1, len(w))) AS t(i)
  WHERE w[i] <> '' AND w[i + 1] <> ''
),
co_p AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS k11
  FROM co_bg GROUP BY 1, 2 HAVING count(*) >= {LLR_MIN_PAIR}
),
co_1 AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM co_bg GROUP BY 1
),
co_2 AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM co_bg GROUP BY 1
),
co_n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM co_bg),
collocations_llr AS (
  SELECT p.w1, p.w2, p.k11,
         round(2 * (
           (CASE WHEN p.k11 > 0 THEN CAST(p.k11 AS DOUBLE)
             * ln(CAST(p.k11 AS DOUBLE) * CAST(nn AS DOUBLE)
                  / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)))
             ELSE 0.0 END)
           + (CASE WHEN c1 - p.k11 > 0
               THEN CAST(c1 - p.k11 AS DOUBLE)
               * ln(CAST(c1 - p.k11 AS DOUBLE) * CAST(nn AS DOUBLE)
                    / (CAST(c1 AS DOUBLE)
                       * CAST(nn - c2 AS DOUBLE)))
               ELSE 0.0 END)
           + (CASE WHEN c2 - p.k11 > 0
               THEN CAST(c2 - p.k11 AS DOUBLE)
               * ln(CAST(c2 - p.k11 AS DOUBLE) * CAST(nn AS DOUBLE)
                    / (CAST(nn - c1 AS DOUBLE)
                       * CAST(c2 AS DOUBLE)))
               ELSE 0.0 END)
           + (CASE WHEN nn - c1 - c2 + p.k11 > 0
               THEN CAST(nn - c1 - c2 + p.k11 AS DOUBLE)
               * ln(CAST(nn - c1 - c2 + p.k11 AS DOUBLE)
                    * CAST(nn AS DOUBLE)
                    / (CAST(nn - c1 AS DOUBLE)
                       * CAST(nn - c2 AS DOUBLE)))
               ELSE 0.0 END)), 6) AS g2
  FROM co_p p JOIN co_1 USING (w1) JOIN co_2 USING (w2), co_n
  ORDER BY g2 DESC, w1, w2 LIMIT {LLR_TOP_K}
)
"""


# ---------------------------------------------------------------------------
# BLEU-2 pairwise eval (round 7)
# ---------------------------------------------------------------------------


def bleu_pairs(docs: DataFrame) -> DataFrame:
    """Sentence-level BLEU-2 between the same adjacent-id
    (reference, candidate) pairs as ``rouge_pairs``, from the same
    shared exact-integer n-gram base (``_pair_ngram_base``): modified
    (clipped) n-gram precisions p_n = overlap_n / cand_n for n=1,2,
    brevity penalty BP = min(1, exp(1 - ref_len/cand_len)), and
    BLEU2 = BP * sqrt(p1*p2). ROUGE answers recall ("how much of the
    reference survived"), BLEU precision ("how much of the candidate
    is licensed") — a generation-eval suite needs both.

    Determinism: every count is BIGINT; p1/p2/BP/BLEU are one
    mirrored double chain per pair row, rounded 6 dp. BLEU2 is NULL
    when either precision is zero (the unsmoothed convention,
    documented — smoothing variants change only this CASE).

    Scale: identical to ROUGE — tokenize pass + per-pair equi-joins
    keyed on pair/doc ids, never corpus^2. Output per pair: ref_id,
    cand_id, ref_len, cand_len, p1, p2, bp, bleu2.
    """
    base = _pair_ngram_base(docs)
    wide = base.groupBy("ref_id", "cand_id").pivot("n", [1, 2]).agg(
        F.first("nr").alias("nr"),
        F.first("nc").alias("nc"),
        F.first("ov").alias("ov"),
    )
    nr1 = F.coalesce("1_nr", F.lit(0))
    nc1 = F.coalesce("1_nc", F.lit(0))
    nc2 = F.coalesce("2_nc", F.lit(0))
    ov1 = F.coalesce("1_ov", F.lit(0))
    ov2 = F.coalesce("2_ov", F.lit(0))
    p1 = F.when(nc1 > 0, ov1.cast("double") / nc1.cast("double"))
    p2 = F.when(nc2 > 0, ov2.cast("double") / nc2.cast("double"))
    bp = F.when(
        nc1 > 0,
        F.least(
            F.lit(1.0),
            F.exp(1 - nr1.cast("double") / nc1.cast("double")),
        ),
    )
    bleu = F.when(
        (p1 > 0) & (p2 > 0), F.round(bp * F.sqrt(p1 * p2), 6)
    )
    return wide.select(
        "ref_id",
        "cand_id",
        nr1.alias("ref_len"),
        nc1.alias("cand_len"),
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(bp, 6).alias("bp"),
        bleu.alias("bleu2"),
    )


ORACLE_BLEU_PAIRS = r"""
bl_toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> length(t) > 0) AS t
  FROM documents
),
bl_grams AS (
  SELECT doc_id, 1 AS n, u.g AS g
  FROM bl_toks, unnest(t) AS u(g)
  UNION ALL
  SELECT doc_id, 2 AS n,
         t[i] || ' ' || t[i + 1] AS g
  FROM bl_toks,
       LATERAL unnest(range(1, greatest(len(t), 1))) AS r(i)
),
bl_counts AS (
  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c
  FROM bl_grams GROUP BY 1, 2, 3
),
bl_totals AS (
  SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot
  FROM bl_counts GROUP BY 1, 2
),
bl_pairs AS (
  SELECT a.doc_id AS ref_id, b.doc_id AS cand_id
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 2 = 0
),
bl_ov AS (
  SELECT p.ref_id, p.cand_id, r.n,
         CAST(sum(least(r.c, c2.c)) AS BIGINT) AS ov
  FROM bl_pairs p
  JOIN bl_counts r ON r.doc_id = p.ref_id
  JOIN bl_counts c2 ON c2.doc_id = p.cand_id
                   AND c2.n = r.n AND c2.g = r.g
  GROUP BY 1, 2, 3
),
bl_w AS (
  SELECT p.ref_id, p.cand_id,
         CAST(coalesce(max(CASE WHEN nf.n = 1 THEN tr.tot END), 0)
              AS BIGINT) AS nr1,
         CAST(coalesce(max(CASE WHEN nf.n = 1 THEN tc.tot END), 0)
              AS BIGINT) AS nc1,
         CAST(coalesce(max(CASE WHEN nf.n = 2 THEN tc.tot END), 0)
              AS BIGINT) AS nc2,
         CAST(coalesce(max(CASE WHEN nf.n = 1 THEN o.ov END), 0)
              AS BIGINT) AS ov1,
         CAST(coalesce(max(CASE WHEN nf.n = 2 THEN o.ov END), 0)
              AS BIGINT) AS ov2
  FROM bl_pairs p
  CROSS JOIN (SELECT 1 AS n UNION ALL SELECT 2 AS n) nf
  LEFT JOIN bl_totals tr ON tr.doc_id = p.ref_id AND tr.n = nf.n
  LEFT JOIN bl_totals tc ON tc.doc_id = p.cand_id AND tc.n = nf.n
  LEFT JOIN bl_ov o ON o.ref_id = p.ref_id
                   AND o.cand_id = p.cand_id AND o.n = nf.n
  GROUP BY 1, 2
),
bleu_pairs AS (
  SELECT ref_id, cand_id,
         nr1 AS ref_len, nc1 AS cand_len,
         CASE WHEN nc1 > 0
              THEN round(CAST(ov1 AS DOUBLE) / nc1, 6) END AS p1,
         CASE WHEN nc2 > 0
              THEN round(CAST(ov2 AS DOUBLE) / nc2, 6) END AS p2,
         CASE WHEN nc1 > 0
              THEN round(least(1.0,
                   exp(1 - CAST(nr1 AS DOUBLE) / nc1)), 6) END AS bp,
         CASE WHEN nc1 > 0 AND nc2 > 0
                   AND ov1 > 0 AND ov2 > 0
              THEN round(least(1.0,
                     exp(1 - CAST(nr1 AS DOUBLE) / nc1))
                   * sqrt((CAST(ov1 AS DOUBLE) / nc1)
                          * (CAST(ov2 AS DOUBLE) / nc2)), 6)
         END AS bleu2
  FROM bl_w
)
"""


# ---------------------------------------------------------------------------
# lexical diversity per document (round 7)
# ---------------------------------------------------------------------------


def lexical_diversity(docs: DataFrame) -> DataFrame:
    """Per-document lexical diversity: type-token ratio (TTR), root
    TTR (Guiraud's RTTR = V/sqrt(N) — the length-corrected form), and
    Maas's a^2 = (ln N - ln V)/ln(N)^2 (lower = richer, the most
    length-stable of the classic indices). Complements the corpus
    Heaps/Zipf fits (``text_heaps_curve``, ``text_zipf_fit``) with a
    per-doc quality feature a filtering pipeline thresholds on
    (template/boilerplate docs sit at pathologically low diversity).

    N and V are exact BIGINTs from one tokenize + distinct pass; the
    three indices are one mirrored double chain, rounded 6 dp (Maas
    NULL at N = 1 — ln(1) = 0 denominator — and for empty docs).

    Scale: one (doc, token) hash-agg; doc-grain output. Output per
    doc: doc_id, n_tokens, n_types, ttr, rttr, maas.
    """
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("tok"),
    )
    m = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_types"),
    )
    nd = F.col("n_tokens").cast("double")
    vd = F.col("n_types").cast("double")
    ttr = F.round(vd / nd, 6)
    rttr = F.round(vd / F.sqrt(nd), 6)
    maas = F.when(
        F.col("n_tokens") > 1,
        F.round(
            (F.log(nd) - F.log(vd)) / (F.log(nd) * F.log(nd)), 6
        ),
    )
    return m.select(
        "doc_id", "n_tokens", "n_types",
        ttr.alias("ttr"), rttr.alias("rttr"), maas.alias("maas"),
    )


ORACLE_LEXICAL_DIVERSITY = r"""
ld_m AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT tok) AS BIGINT) AS n_types
  FROM (
    SELECT doc_id, u.tok
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             t -> length(t) > 0) AS t
          FROM documents),
         unnest(t) AS u(tok)
  )
  GROUP BY 1
),
lexical_diversity AS (
  SELECT doc_id, n_tokens, n_types,
         round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
         round(CAST(n_types AS DOUBLE)
               / sqrt(CAST(n_tokens AS DOUBLE)), 6) AS rttr,
         CASE WHEN n_tokens > 1 THEN
           round((ln(CAST(n_tokens AS DOUBLE))
                  - ln(CAST(n_types AS DOUBLE)))
                 / (ln(CAST(n_tokens AS DOUBLE))
                    * ln(CAST(n_tokens AS DOUBLE))), 6)
         END AS maas
  FROM ld_m
)
"""


# ---------------------------------------------------------------------------
# Brier-score Murphy decomposition (round 8)
# ---------------------------------------------------------------------------


def brier_decomposition(docs: DataFrame) -> DataFrame:
    """Murphy (1973) decomposition of the verified NB quality
    classifier's Brier score over the CAL_BINS reliability bins:
    BS measures overall probabilistic accuracy, reliability the
    calibration error (what ``text_nb_calibration`` plots per bin,
    here collapsed to the scalar a model card reports), resolution the
    classifier's ability to separate keep rates between bins, and
    uncertainty = ybar(1-ybar) the irreducible base-rate floor. The
    identity BS = REL - RES + UNC holds only when each bin's forecast
    is its mean prediction — the reported ``residual`` (within-bin
    prediction variance minus twice the within-bin covariance) is the
    exact gap, so the row is self-auditing.

    Same float protocol as the calibration query it extends: the only
    doubles are the sigmoid p per doc and per-bin sums of p, p^2, py
    (integer y), everything rounded 6 dp at the edge. One pass over
    the scored table into <= CAL_BINS rows, then scalar assembly.
    Output (1 row): n_docs, brier, reliability, resolution,
    uncertainty, residual.
    """
    scored = nb_quality_scores(docs).select(
        (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("log_odds")))
        ).alias("p"),
        F.col("keep").cast("int").alias("y"),
    )
    binned = scored.select(
        F.least(
            F.floor(F.col("p") * CAL_BINS).cast("int"),
            F.lit(CAL_BINS - 1),
        ).alias("bin"),
        "p",
        "y",
    )
    per = binned.groupBy("bin").agg(
        F.count("*").alias("nk"),
        F.sum("p").alias("sp"),
        F.sum(F.col("y").cast("bigint")).alias("sy"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("p") * F.col("y")).alias("spy"),
    )
    tot = per.agg(
        F.sum("nk").alias("n"),
        F.sum("sp").alias("tsp"),
        F.sum("sy").alias("tsy"),
        F.sum("spp").alias("tspp"),
        F.sum("spy").alias("tspy"),
    )
    j = per.crossJoin(F.broadcast(tot))
    nk = F.col("nk").cast("double")
    nD = F.col("n").cast("double")
    ybar = F.col("tsy").cast("double") / nD
    pk = F.col("sp") / nk
    yk = F.col("sy").cast("double") / nk
    out = j.agg(
        F.first("n").alias("n_docs"),
        F.first(
            (
                F.col("tspp")
                - 2 * F.col("tspy")
                + F.col("tsy").cast("double")
            )
            / nD
        ).alias("brier"),
        F.sum(nk * (pk - yk) * (pk - yk)).alias("rel_num"),
        F.sum(nk * (yk - ybar) * (yk - ybar)).alias("res_num"),
        F.first(ybar * (1 - ybar)).alias("unc"),
        F.first(nD).alias("nd"),
    )
    rel = F.col("rel_num") / F.col("nd")
    res = F.col("res_num") / F.col("nd")
    return out.select(
        "n_docs",
        F.round("brier", 6).alias("brier"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round("unc", 6).alias("uncertainty"),
        F.round(
            F.col("brier") - (rel - res + F.col("unc")), 6
        ).alias("residual"),
    )


ORACLE_BRIER = f"""
br_s AS (
  SELECT CAST(1.0 AS DOUBLE) / (1.0 + exp(-log_odds)) AS p,
         CASE WHEN keep THEN 1 ELSE 0 END AS y
  FROM nb_quality
),
br_b AS (
  SELECT LEAST(CAST(floor(p * {CAL_BINS}) AS INT), {CAL_BINS - 1})
           AS bin, p, y
  FROM br_s
),
br_per AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS nk,
         sum(p) AS sp, CAST(sum(y) AS BIGINT) AS sy,
         sum(p * p) AS spp, sum(p * y) AS spy
  FROM br_b GROUP BY 1
),
br_tot AS (
  SELECT CAST(sum(nk) AS BIGINT) AS n, sum(sp) AS tsp,
         CAST(sum(sy) AS BIGINT) AS tsy,
         sum(spp) AS tspp, sum(spy) AS tspy
  FROM br_per
),
br_agg AS (
  SELECT t.n AS n_docs,
         (t.tspp - 2 * t.tspy + CAST(t.tsy AS DOUBLE))
           / CAST(t.n AS DOUBLE) AS brier,
         sum(CAST(p.nk AS DOUBLE)
             * (p.sp / CAST(p.nk AS DOUBLE)
                - CAST(p.sy AS DOUBLE) / CAST(p.nk AS DOUBLE))
             * (p.sp / CAST(p.nk AS DOUBLE)
                - CAST(p.sy AS DOUBLE) / CAST(p.nk AS DOUBLE)))
           / CAST(t.n AS DOUBLE) AS rel,
         sum(CAST(p.nk AS DOUBLE)
             * (CAST(p.sy AS DOUBLE) / CAST(p.nk AS DOUBLE)
                - CAST(t.tsy AS DOUBLE) / CAST(t.n AS DOUBLE))
             * (CAST(p.sy AS DOUBLE) / CAST(p.nk AS DOUBLE)
                - CAST(t.tsy AS DOUBLE) / CAST(t.n AS DOUBLE)))
           / CAST(t.n AS DOUBLE) AS res,
         (CAST(t.tsy AS DOUBLE) / CAST(t.n AS DOUBLE))
           * (1 - CAST(t.tsy AS DOUBLE) / CAST(t.n AS DOUBLE)) AS unc
  FROM br_per p CROSS JOIN br_tot t
  GROUP BY t.n, t.tspp, t.tspy, t.tsy
),
text_brier_decomposition AS (
  SELECT n_docs, round(brier, 6) AS brier,
         round(rel, 6) AS reliability,
         round(res, 6) AS resolution,
         round(unc, 6) AS uncertainty,
         round(brier - (rel - res + unc), 6) AS residual
  FROM br_agg
)
"""


# ---------------------------------------------------------------------------
# packing-efficiency capacity sweep (round 8)
# ---------------------------------------------------------------------------

#: token budgets swept by the packing-efficiency curve.
PACK_SWEEP_BUDGETS = (512, 1024, 2048, 4096)


def pack_sweep(docs: DataFrame) -> DataFrame:
    """Packing-efficiency curve across token budgets — the capacity
    counterpart of ``pack_batches``: for each budget in {budgets},
    apply the same streaming-pack rule (batch boundary where the
    running per-(lang, shard) token count crosses a budget multiple)
    and report batches, mean fill fraction, and overflow batches
    (a single doc longer than the budget). Sequence-length choice is a
    real training-cost decision: short budgets waste step overhead on
    many small batches, long ones pad — this row IS that trade-off,
    computed before any tokens are materialized.

    One token-count pass and ONE per-shard cumulative window shared by
    every sweep point (the budget only re-buckets the same running
    sum); all counts exact BIGINTs, fill/overflow divide once per
    capacity row. Output per budget: budget, n_batches, total_tokens,
    mean_fill, overflow_batches.
    """
    toks = token_counts(docs).select("doc_id", "n_tokens")
    sharded = (
        docs.select("doc_id", "lang")
        .join(toks, "doc_id")
        .withColumn(
            "shard", F.floor(F.col("doc_id") / PACK_SHARD_DOCS)
        )
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = sharded.withColumn(
        "cum_before",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)),
    )
    swept = cum.select(
        "lang",
        "shard",
        "n_tokens",
        "cum_before",
        F.explode(
            F.array(*[F.lit(b) for b in PACK_SWEEP_BUDGETS])
        ).alias("budget"),
    ).withColumn(
        "batch_id",
        F.floor(F.col("cum_before") / F.col("budget")),
    )
    per_batch = swept.groupBy(
        "budget", "lang", "shard", "batch_id"
    ).agg(F.sum("n_tokens").alias("batch_tokens"))
    return (
        per_batch.groupBy("budget")
        .agg(
            F.count("*").alias("n_batches"),
            F.sum("batch_tokens").alias("total_tokens"),
            F.sum(
                (F.col("batch_tokens") > F.col("budget")).cast(
                    "bigint"
                )
            ).alias("overflow_batches"),
        )
        .select(
            "budget",
            "n_batches",
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double")
                / (F.col("n_batches") * F.col("budget")).cast(
                    "double"
                ),
                6,
            ).alias("mean_fill"),
            "overflow_batches",
        )
    )


pack_sweep.__doc__ = pack_sweep.__doc__.format(
    budgets=PACK_SWEEP_BUDGETS
)

ORACLE_PACK_SWEEP = f"""
psw_cum AS (
  SELECT d.doc_id, d.lang, t.n_tokens,
         CAST(floor(d.doc_id / {PACK_SHARD_DOCS}) AS BIGINT) AS shard,
         coalesce(CAST(sum(t.n_tokens) OVER (
           PARTITION BY d.lang, floor(d.doc_id / {PACK_SHARD_DOCS})
           ORDER BY d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT), 0) AS cum_before
  FROM documents d JOIN token_counts t USING (doc_id)
),
psw_b AS (
  SELECT b.budget, c.lang, c.shard,
         CAST(floor(c.cum_before / b.budget) AS BIGINT) AS batch_id,
         CAST(sum(c.n_tokens) AS BIGINT) AS batch_tokens
  FROM psw_cum c,
       (SELECT unnest([{", ".join(str(b) for b in PACK_SWEEP_BUDGETS)}])
          AS budget) b
  GROUP BY 1, 2, 3, 4
),
docs_pack_sweep AS (
  SELECT budget,
         CAST(count(*) AS BIGINT) AS n_batches,
         CAST(sum(batch_tokens) AS BIGINT) AS total_tokens,
         round(CAST(sum(batch_tokens) AS DOUBLE)
               / (count(*) * budget), 6) AS mean_fill,
         CAST(sum(CASE WHEN batch_tokens > budget THEN 1 ELSE 0 END)
              AS BIGINT) AS overflow_batches
  FROM psw_b GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# BPE encode + per-language fertility (round 8)
# ---------------------------------------------------------------------------


def bpe_fertility(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """Distributed BPE ENCODE of the corpus with the trained merge
    table, rolled up to the tokenizer-eval metrics a model team reads
    per language: fertility (BPE tokens per word — the standard
    "how well does the tokenizer fit this language" number; high
    fertility languages pay more sequence length per content) and
    chars-per-token (compression). Training (``bpe_train_merges``)
    learns the artifact; this query USES it — the apply half of the
    tokenizer lifecycle, which is the half that actually runs at
    100 TB.

    Encoding replays the training protocol exactly: each word's
    sentinel form ``|h||e||l||l||o|`` passes through the n merge
    replaces IN RANK ORDER (one plain left-to-right replace per rule —
    the sentinel trick that makes Spark/DuckDB replace semantics and
    classic BPE leftmost merging coincide), so a word's segment count
    is engine-exact. The merge list is the session-staged trained
    artifact (one training run serves the train query and this one);
    each merge value is embedded as a broadcast 1-row join in the
    ORACLE and as a literal in the Spark plan — both derived from the
    same oracle-green training loop.

    Scale: encode runs on the DISTINCT (lang, word) vocabulary
    weighted by frequency — the corpus is touched once by the
    word-count agg; the merge chain is n map-only replaces; the rollup
    is one lang-grain hash-agg. Output per lang: lang, n_word_types,
    total_words, total_tokens, total_chars, fertility,
    chars_per_token.
    """
    merges = _bpe_learn_staged(docs, n_merges)
    vocab = (
        docs.select("lang", F.explode(_tokens_col()).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("freq"))
    )
    s = F.regexp_replace("w", "(.)", r"|$1|")
    for _, a, b, _, _ in merges:
        s = F.replace(s, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
    enc = vocab.select(
        "lang",
        "w",
        "freq",
        (
            (F.length(s) - F.length(F.replace(s, F.lit("|"), F.lit(""))))
            / 2
        )
        .cast("bigint")
        .alias("segs"),
    )
    agg = enc.groupBy("lang").agg(
        F.count("*").alias("n_word_types"),
        F.sum("freq").alias("total_words"),
        F.sum(F.col("freq") * F.col("segs")).alias("total_tokens"),
        F.sum(F.col("freq") * F.length("w")).alias("total_chars"),
    )
    return agg.select(
        "lang",
        "n_word_types",
        "total_words",
        "total_tokens",
        "total_chars",
        F.round(
            F.col("total_tokens").cast("double")
            / F.col("total_words").cast("double"),
            6,
        ).alias("fertility"),
        F.round(
            F.col("total_chars").cast("double")
            / F.col("total_tokens").cast("double"),
            6,
        ).alias("chars_per_token"),
    )


def oracle_bpe_fertility(n_merges: int = BPE_MERGES) -> str:
    """Composes AFTER ``oracle_bpe_train`` (reuses its bt_b{i} merge
    rows): the same sentinel encode as nested replaces in rank order,
    then the lang-grain rollup."""
    repl = r"regexp_replace(v.w, '(.)', '|\1|', 'g')"
    for i in range(1, n_merges + 1):
        repl = (
            f"replace({repl}, '|' || m{i}.a || '||' || m{i}.b || '|',"
            f" '|' || m{i}.a || m{i}.b || '|')"
        )
    crosses = " ".join(
        f"CROSS JOIN bt_b{i} m{i}" for i in range(1, n_merges + 1)
    )
    return f"""
bf_v AS (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT d.lang,
           unnest(regexp_split_to_array(lower(d.text), '\\s+')) AS w
    FROM documents d
  )
  WHERE regexp_matches(w, '^[a-z0-9]+$')
  GROUP BY 1, 2
),
bf_s AS (
  SELECT v.lang, v.w, v.freq, {repl} AS s
  FROM bf_v v {crosses}
),
bf_e AS (
  SELECT lang, w, freq,
         CAST((length(s) - length(replace(s, '|', ''))) / 2 AS BIGINT)
           AS segs
  FROM bf_s
),
text_bpe_fertility AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_word_types,
         CAST(sum(freq) AS BIGINT) AS total_words,
         CAST(sum(freq * segs) AS BIGINT) AS total_tokens,
         CAST(sum(freq * length(w)) AS BIGINT) AS total_chars,
         round(CAST(sum(freq * segs) AS DOUBLE) / sum(freq), 6)
           AS fertility,
         round(CAST(sum(freq * length(w)) AS DOUBLE)
               / sum(freq * segs), 6) AS chars_per_token
  FROM bf_e GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# unigram-LM (SentencePiece-style) tokenizer training — the other
# tokenizer family an LLM data team compares against BPE (r8 verdict
# task 7). Kudo 2018 with hard-EM (Viterbi) E-steps: seed a candidate
# piece inventory from substring counts, alternate Viterbi
# segmentation of the vocabulary under current piece probabilities
# with recount-and-prune M-steps, and emit the surviving inventory.
# ---------------------------------------------------------------------------

#: max candidate piece length (chars).
UNIGRAM_PIECE_MAX = 4
#: max word length considered (words longer than this are out of
#: scope for both engines — bounds the unrolled oracle DP).
UNIGRAM_WORD_MAX = 12
#: multi-char seed inventory size (single chars always included —
#: the character-coverage guarantee, as in sentencepiece).
UNIGRAM_SEED_MULTI = 64
#: multi-char pieces kept by each EM prune.
UNIGRAM_KEEP_MULTI = 32
#: hard-EM rounds (each = Viterbi segment + recount + prune).
UNIGRAM_ROUNDS = 2

_UNIGRAM_WORD_RE = f"^[a-z0-9]{{1,{UNIGRAM_WORD_MAX}}}$"

def _unigram_words(docs: DataFrame) -> DataFrame:
    """Distinct-word vocabulary with frequency (the only corpus-sized
    stage of the whole trainer — everything after runs on word types)."""
    return (
        docs.select(F.explode(_tokens_col()).alias("w"))
        .filter(F.col("w").rlike(_UNIGRAM_WORD_RE))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def _unigram_viterbi_segs(
    words: DataFrame, vocab: list[tuple[str, float]]
) -> DataFrame:
    """Viterbi-segment each word under the given (piece, prob)
    inventory; returns words + ``segs array<string>``.

    The DP runs entirely in catalyst higher-order functions (no
    Python on the data path): candidate pieces per word come from a
    substring explode joined (broadcast — the inventory is <~100
    rows) against the vocabulary, and ``aggregate`` folds positions
    1..len(w), where dp[i] maximizes segmentation probability with a
    TOTAL deterministic order — probability DESC (IEEE multiplication
    is correctly rounded, so identically-derived doubles compare
    identically across engines), then piece count ASC, then the
    space-joined segmentation ASC. Single-char coverage guarantees
    every position is reachable, so the fold never dead-ends.
    """
    spark = words.sparkSession
    vdf = spark.createDataFrame(
        [(p, float(pr)) for p, pr in vocab], "piece string, prob double"
    )
    occ = words.select(
        "w",
        "freq",
        F.explode(
            F.expr(
                f"""
                flatten(transform(sequence(1, length(w)), s ->
                  transform(
                    sequence(1, least({UNIGRAM_PIECE_MAX},
                                      length(w) - s + 1)),
                    l -> struct(s AS s, s + l - 1 AS e,
                                substring(w, s, l) AS piece))))
                """
            )
        ).alias("c"),
    )
    cands = (
        occ.join(F.broadcast(vdf), occ["c.piece"] == vdf["piece"])
        .groupBy("w", "freq")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("c.s").alias("s"),
                        F.col("c.e").alias("e"),
                        F.col("c.piece").alias("piece"),
                        F.col("prob").alias("prob"),
                    )
                )
            ).alias("cands")
        )
    )
    dp = F.expr(
        """
        aggregate(
          sequence(1, length(w)),
          array(named_struct(
            'p', cast(1.0 as double), 'k', 0,
            'segs', cast(array() as array<string>))),
          (acc, i) -> concat(acc, array(
            reduce(
              transform(
                filter(cands, c -> c.e = i),
                c -> named_struct(
                  'p', element_at(acc, c.s).p * c.prob,
                  'k', element_at(acc, c.s).k + 1,
                  'segs', concat(element_at(acc, c.s).segs,
                                 array(c.piece)))),
              cast(null as
                   struct<p: double, k: int, segs: array<string>>),
              (b, o) -> CASE
                WHEN b IS NULL THEN o
                WHEN o.p > b.p THEN o
                WHEN o.p = b.p AND o.k < b.k THEN o
                WHEN o.p = b.p AND o.k = b.k
                     AND array_join(o.segs, ' ')
                         < array_join(b.segs, ' ') THEN o
                ELSE b END))),
          acc -> element_at(acc, length(w) + 1).segs)
        """
    )
    return cands.select("w", "freq", dp.alias("segs"))


def _unigram_learn(docs: DataFrame) -> tuple:
    """The training loop body (see ``unigram_train`` for the
    protocol). Returns (final [(piece, cnt)], total). Driver traffic
    per round: the pruned inventory (<= UNIGRAM_KEEP_MULTI + charset
    rows of (piece, cnt)) — bounded by constants, never by data."""
    # the word-type table is tiny relative to the corpus; one
    # partition keeps every downstream vocabulary-grain job at one
    # task instead of paying shuffle-width task overhead per round.
    words = _unigram_words(docs).localCheckpoint(eager=True).coalesce(1)
    seed = (
        words.select(
            F.explode(
                F.expr(
                    f"""
                    flatten(transform(sequence(1, length(w)), s ->
                      transform(
                        sequence(1, least({UNIGRAM_PIECE_MAX},
                                          length(w) - s + 1)),
                        l -> substring(w, s, l))))
                    """
                )
            ).alias("piece"),
            "freq",
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    # one job: every single char (coverage set) plus the top multi-char
    # seeds — both bounded (charset / UNIGRAM_SEED_MULTI rows).
    sel = seed.filter(F.length("piece") == 1).unionByName(
        seed.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), "piece")
        .limit(UNIGRAM_SEED_MULTI)
    ).collect()
    chars = {r["piece"]: r["cnt"] for r in sel if len(r["piece"]) == 1}
    inv = [
        (r["piece"], r["cnt"]) for r in sel if len(r["piece"]) > 1
    ] + sorted(chars.items())
    for _ in range(UNIGRAM_ROUNDS):
        total = sum(c for _, c in inv)
        probs = [(p, c / float(total)) for p, c in inv]
        segs = _unigram_viterbi_segs(words, probs)
        counts = {
            r["piece"]: r["cnt"]
            for r in segs.select(
                F.explode("segs").alias("piece"), "freq"
            )
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
            .collect()
        }
        kept = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda t: (-t[1], t[0]),
        )[:UNIGRAM_KEEP_MULTI]
        inv = kept + sorted((p, counts.get(p, 0)) for p in chars)
    return (tuple(inv), sum(c for _, c in inv))


def _unigram_learn_staged(docs: DataFrame) -> tuple:
    """Trained inventory per (docs, params): (piece, cnt) for the FINAL
    round plus the final total — the artifact shared by the train
    query and the fertility query."""
    return _stage(
        "unigram", docs, lambda: _unigram_learn(docs),
        UNIGRAM_SEED_MULTI, UNIGRAM_KEEP_MULTI, UNIGRAM_ROUNDS,
        checkpoint=False,
    )


def unigram_train(docs: DataFrame) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018, hard-EM variant):
    seed candidate pieces from substring occurrence counts (top
    ``UNIGRAM_SEED_MULTI`` multi-char pieces by weighted count, plus
    EVERY single character — the coverage guarantee), then run
    ``UNIGRAM_ROUNDS`` rounds of: Viterbi-segment the distinct-word
    vocabulary under current piece probabilities, recount pieces from
    the chosen segmentations, and prune to the top
    ``UNIGRAM_KEEP_MULTI`` multi-char pieces (chars always survive).
    Output: the final inventory with rank, counts, and probabilities
    — the tokenizer artifact, directly comparable to
    ``bpe_train_merges``'s merge table.

    Engine portability: probabilities are plain count/total divisions
    and the DP folds them with IEEE multiplications only (division
    and multiplication are correctly rounded, so Spark and DuckDB
    produce bit-identical doubles; ln/exp/pow stay banned per the
    repo float rule), and every argmax carries the total
    (prob DESC, piece-count ASC, segmentation-string ASC) tie order.
    The oracle replays the identical automaton with the DP unrolled
    over word positions 1..UNIGRAM_WORD_MAX per round.

    Scale: the corpus is touched ONCE (the word-count agg); seeding,
    segmentation, and recounting all run at distinct-word grain with
    a broadcast inventory; rank assignment happens on the
    driver-side artifact (bounded by constants), so no global window
    ever touches data. At 100 TB the vocabulary is the only wide
    state and it is millions of rows, not corpus-sized.
    """
    spark = docs.sparkSession
    inv, total = _unigram_learn_staged(docs)
    ranked = sorted(inv, key=lambda t: (-t[1], t[0]))
    rows = [
        (i + 1, p, len(p), int(c))
        for i, (p, c) in enumerate(ranked)
    ]
    return spark.createDataFrame(
        rows, "rank int, piece string, piece_len int, cnt bigint"
    ).select(
        "rank",
        "piece",
        "piece_len",
        "cnt",
        F.round(
            F.col("cnt").cast("double") / F.lit(float(total)), 6
        ).alias("prob"),
    )


def unigram_fertility(docs: DataFrame) -> DataFrame:
    """Distributed unigram-LM ENCODE with the trained inventory,
    rolled up to per-language fertility / compression — the
    SentencePiece twin of ``bpe_fertility``, sharing its output shape
    so the two tokenizer families are directly comparable row for
    row. One staged training run serves the train query and this one.

    Scale: same story as ``bpe_fertility`` — encode runs on the
    DISTINCT word vocabulary (segmentations computed once per word
    type, joined back to the (lang, word) frequency table), the
    inventory broadcasts, and the rollup is one lang-grain hash-agg.
    """
    inv, total = _unigram_learn_staged(docs)
    probs = [(p, c / float(total)) for p, c in inv]
    lang_words = (
        docs.select("lang", F.explode(_tokens_col()).alias("w"))
        .filter(F.col("w").rlike(_UNIGRAM_WORD_RE))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("freq"))
    )
    words = lang_words.groupBy("w").agg(
        F.sum("freq").alias("freq")
    )
    segs = _unigram_viterbi_segs(words, probs).select(
        "w", F.size("segs").alias("n_segs")
    )
    enc = lang_words.join(segs, "w")
    agg = enc.groupBy("lang").agg(
        F.count("*").alias("n_word_types"),
        F.sum("freq").alias("total_words"),
        F.sum(F.col("freq") * F.col("n_segs")).alias("total_tokens"),
        F.sum(F.col("freq") * F.length("w")).alias("total_chars"),
    )
    return agg.select(
        "lang",
        "n_word_types",
        "total_words",
        "total_tokens",
        "total_chars",
        F.round(
            F.col("total_tokens").cast("double")
            / F.col("total_words").cast("double"),
            6,
        ).alias("fertility"),
        F.round(
            F.col("total_chars").cast("double")
            / F.col("total_tokens").cast("double"),
            6,
        ).alias("chars_per_token"),
    )


def _unigram_dp_sql(tag: str, vocab: str, words: str) -> list[str]:
    """Unrolled Viterbi DP CTE fragments for one segmentation pass:
    ``u{tag}dp0..UNIGRAM_WORD_MAX`` plus ``u{tag}best`` (word, freq,
    segs) — the oracle replay of ``_unigram_viterbi_segs`` with the
    identical (prob DESC, k ASC, segmentation ASC) argmax order."""
    frags = [
        f"""
u{tag}dp0 AS (
  SELECT word, freq, len, CAST(1.0 AS DOUBLE) AS p, 0 AS k,
         []::VARCHAR[] AS segs
  FROM {words}
)"""
    ]
    for i in range(1, UNIGRAM_WORD_MAX + 1):
        branches = []
        for j in range(max(0, i - UNIGRAM_PIECE_MAX), i):
            branches.append(
                f"SELECT word, freq, len, p, k, segs, {j} AS pos "
                f"FROM u{tag}dp{j}"
            )
        un = "\n        UNION ALL\n        ".join(branches)
        frags.append(
            f"""
u{tag}dp{i} AS MATERIALIZED (
  SELECT word, freq, len, p, k, segs FROM (
    SELECT word, freq, len, p, k, segs,
           row_number() OVER (
             PARTITION BY word
             ORDER BY p DESC, k ASC, segs_s ASC) AS rn
    FROM (
      SELECT d.word, d.freq, d.len,
             d.p * v.prob AS p, d.k + 1 AS k,
             list_append(d.segs, v.piece) AS segs,
             array_to_string(list_append(d.segs, v.piece), ' ')
               AS segs_s
      FROM (
        {un}
      ) d
      JOIN {vocab} v
        ON d.len >= {i}
       AND v.piece = substr(d.word, d.pos + 1, {i} - d.pos)
    )
  ) WHERE rn = 1
)"""
        )
    best = "\n  UNION ALL\n  ".join(
        f"SELECT word, freq, segs FROM u{tag}dp{i} WHERE len = {i}"
        for i in range(1, UNIGRAM_WORD_MAX + 1)
    )
    frags.append(f"""
u{tag}best AS MATERIALIZED (
  {best}
)""")
    return frags


def _unigram_cte_chain() -> list[str]:
    """Shared oracle prefix: seed inventory + the EM rounds, ending at
    the final inventory CTE ``uv{UNIGRAM_ROUNDS}`` (piece, cnt, prob)."""
    frags = [
        r"""
uw AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq,
         CAST(length(w) AS INT) AS len
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        FROM documents)
  WHERE regexp_matches(w, '^[a-z0-9]{1,%d}$')
  GROUP BY 1
)""" % UNIGRAM_WORD_MAX,
        f"""
useed AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT substr(word, s, l) AS piece, freq
    FROM uw,
         LATERAL unnest(range(1, len + 1)) AS g1(s),
         LATERAL unnest(range(1, {UNIGRAM_PIECE_MAX + 1})) AS g2(l)
    WHERE s + l - 1 <= len
  ) GROUP BY 1
)""",
        """
uchars AS MATERIALIZED (
  SELECT piece, cnt FROM useed WHERE length(piece) = 1
)""",
        f"""
uv0_sel AS MATERIALIZED (
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM useed WHERE length(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {UNIGRAM_SEED_MULTI}
  )
  UNION ALL
  SELECT piece, cnt FROM uchars
)""",
        """
uv0 AS MATERIALIZED (
  SELECT piece, cnt,
         CAST(cnt AS DOUBLE)
           / CAST((SELECT CAST(sum(cnt) AS BIGINT) FROM uv0_sel)
                  AS DOUBLE) AS prob
  FROM uv0_sel
)""",
    ]
    for r in range(1, UNIGRAM_ROUNDS + 1):
        frags.extend(_unigram_dp_sql(f"r{r}", f"uv{r - 1}", "uw"))
        frags.append(
            f"""
ur{r}cnt AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT unnest(segs) AS piece, freq FROM ur{r}best)
  GROUP BY 1
)"""
        )
        frags.append(
            f"""
uv{r}_sel AS MATERIALIZED (
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM ur{r}cnt WHERE length(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {UNIGRAM_KEEP_MULTI}
  )
  UNION ALL
  SELECT c.piece, COALESCE(n.cnt, 0) AS cnt
  FROM uchars c LEFT JOIN ur{r}cnt n USING (piece)
)"""
        )
        frags.append(
            f"""
uv{r} AS MATERIALIZED (
  SELECT piece, cnt,
         CAST(cnt AS DOUBLE)
           / CAST((SELECT CAST(sum(cnt) AS BIGINT) FROM uv{r}_sel)
                  AS DOUBLE) AS prob
  FROM uv{r}_sel
)"""
        )
    return frags


def oracle_unigram_train() -> list[str]:
    """Fragments for ``text_unigram_lm`` (pass to the entry module's
    ``_ext_oracle``)."""
    r = UNIGRAM_ROUNDS
    return _unigram_cte_chain() + [
        f"""
text_unigram_lm AS (
  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INT)
           AS rank,
         piece, CAST(length(piece) AS INT) AS piece_len, cnt,
         round(prob, 6) AS prob
  FROM uv{r}
)"""
    ]


def oracle_unigram_fertility() -> list[str]:
    """Fragments for ``text_unigram_fertility``: re-derive the final
    inventory, encode the word vocabulary under it (one more DP
    pass), and roll up per language."""
    r = UNIGRAM_ROUNDS
    frags = _unigram_cte_chain()
    frags.extend(_unigram_dp_sql("f", f"uv{r}", "uw"))
    frags.append(
        r"""
uwl AS MATERIALIZED (
  SELECT lang, w AS word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT lang,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        FROM documents)
  WHERE regexp_matches(w, '^[a-z0-9]{1,%d}$')
  GROUP BY 1, 2
)""" % UNIGRAM_WORD_MAX
    )
    frags.append(
        """
ufenc AS (
  SELECT l.lang, l.word, l.freq, b.n_segs
  FROM uwl l
  JOIN (SELECT word, CAST(len(segs) AS BIGINT) AS n_segs
        FROM ufbest) b USING (word)
)"""
    )
    frags.append(
        """
text_unigram_fertility AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_word_types,
         CAST(sum(freq) AS BIGINT) AS total_words,
         CAST(sum(freq * n_segs) AS BIGINT) AS total_tokens,
         CAST(sum(freq * length(word)) AS BIGINT) AS total_chars,
         round(CAST(sum(freq * n_segs) AS DOUBLE) / sum(freq), 6)
           AS fertility,
         round(CAST(sum(freq * length(word)) AS DOUBLE)
               / sum(freq * n_segs), 6) AS chars_per_token
  FROM ufenc GROUP BY 1
)"""
    )
    return frags
