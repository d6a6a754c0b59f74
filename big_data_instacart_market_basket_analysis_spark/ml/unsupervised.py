"""[EXT] Unsupervised text models over the documents corpus.

Completes the ``pyspark.ml`` surface beyond the reference's supervised
trees (F.py:219-225): distributed topic modeling (LDA) and embedding
training (Word2Vec) — the two classic corpus-understanding models a
training-data pipeline runs to audit composition (what topics dominate,
which terms cluster) before mixing.

Both are Spark-only iterative algorithms (no SQL-expressible oracle) ->
rows-only driver checks plus structural invariants in
``tests/test_ml.py``. Everything upstream of the model (tokenize,
vocabulary build) is native Catalyst; the models themselves train
distributed (LDA: mini-batch online variational Bayes with per-partition
sufficient statistics; Word2Vec: per-partition skip-gram SGD with
periodic weight averaging).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.loaders import local_rows

SEED = 42

#: LDA knobs: small k on a small fixture; at corpus scale k grows and
#: maxIter stays — online LDA passes are corpus-scans, not k-scans.
LDA_K = 5
LDA_MAX_ITER = 10
LDA_VOCAB = 500
LDA_TOP_TERMS = 5

#: Word2Vec knobs.
W2V_DIM = 16
W2V_MIN_COUNT = 5
W2V_TOP_SYNONYMS = 3


def _tokenized(documents: DataFrame) -> DataFrame:
    """Lowercased word tokens per doc — native split, no UDF."""
    return documents.select(
        "doc_id",
        F.split(
            F.lower(F.regexp_replace(F.col("text"), r"[^A-Za-z ]", " ")),
            r"\s+",
        ).alias("tokens"),
    ).select(
        "doc_id",
        F.filter(F.col("tokens"), lambda t: F.length(t) > 0).alias(
            "tokens"
        ),
    )


def lda_topics(documents: DataFrame) -> DataFrame:
    """Distributed LDA topic model: one row per (topic, rank) with the
    top vocabulary terms and their weights (weights rounded; term
    identity is the stable part). CountVectorizer builds the
    vocabulary distributed; LDA's online optimizer aggregates
    per-partition sufficient statistics — no driver-side corpus pull
    at any scale."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import CountVectorizer

    toks = _tokenized(documents)
    cv = CountVectorizer(
        inputCol="tokens", outputCol="features", vocabSize=LDA_VOCAB
    ).fit(toks)
    corpus = cv.transform(toks).select("doc_id", "features")
    lda = LDA(
        k=LDA_K, maxIter=LDA_MAX_ITER, seed=SEED, featuresCol="features"
    )
    model = lda.fit(corpus)
    vocab = cv.vocabulary
    spark = documents.sparkSession
    topics = model.describeTopics(LDA_TOP_TERMS).collect()
    rows = [
        (
            int(t["topic"]),
            rank,
            vocab[idx],
            round(float(w), 6),
        )
        for t in topics
        for rank, (idx, w) in enumerate(
            zip(t["termIndices"], t["termWeights"])
        )
    ]
    return local_rows(
        spark, rows, "topic int, rank int, term string, weight double"
    )


def word2vec_synonyms(documents: DataFrame) -> DataFrame:
    """Distributed Word2Vec: train skip-gram embeddings over the
    corpus, then report the top synonyms of the most frequent terms —
    the smoke-readable audit artifact of an embedding-training run.
    Synonym search is a brute-force cosine over the vocabulary-sized
    vector table (dim table — trivially broadcastable)."""
    from pyspark.ml.feature import Word2Vec

    toks = _tokenized(documents)
    w2v = Word2Vec(
        vectorSize=W2V_DIM,
        minCount=W2V_MIN_COUNT,
        seed=SEED,
        inputCol="tokens",
        outputCol="vec",
    )
    model = w2v.fit(toks)
    # only terms at/above the trained minCount are in the model's
    # vocabulary — filtering here (instead of a try/except around
    # findSynonyms) keeps real pipeline failures loud
    top_terms = [
        r["word"]
        for r in (
            toks.select(F.explode("tokens").alias("word"))
            .groupBy("word")
            .count()
            .filter(F.col("count") >= W2V_MIN_COUNT)
            .orderBy(F.desc("count"), "word")
            .limit(5)
            .collect()
        )
    ]
    spark = documents.sparkSession
    rows = []
    for term in top_terms:
        syns = model.findSynonyms(term, W2V_TOP_SYNONYMS).collect()
        for rank, s in enumerate(syns):
            rows.append(
                (term, rank, s["word"], round(float(s["similarity"]), 6))
            )
    return local_rows(
        spark, rows, "term string, rank int, synonym string, similarity double"
    )
