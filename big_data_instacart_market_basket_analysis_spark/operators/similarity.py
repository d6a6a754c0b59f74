"""[EXT] Similarity search over the ``embeddings`` table
(array<float> 64-dim vectors; SURVEY.md §7 phase 6).

Two paths:

- brute-force cosine top-k: the exactness baseline. Query vectors are a
  small set broadcast against the corpus; cosine is computed in double
  precision with sequential fold (zip_with + aggregate) so the DuckDB
  oracle can reproduce the float ops. Per-query top-k via ranking
  window. Scale: corpus-side scan is embarrassingly parallel; the only
  shuffle is the final per-query top-k (k rows per partition per query
  survive the partial TakeOrdered).
- LSH-bucketed ANN: deterministic random-projection hyperplanes built
  from integer arithmetic (exactly representable in doubles, so Spark
  and DuckDB agree bit-for-bit on signs). Vectors sharing a bucket are
  the candidate set; exact cosine re-ranks within the bucket. At 100 TB
  the bucket id becomes the shuffle/partition key and each query probes
  one bucket instead of the corpus.

Oracle-checked outputs expose (query, neighbor, rank) — ranks are
stable across engines because the ordering key (cosine, id tiebreak) is
computed with identical double-precision op order; raw scores are
exposed by the rows-only variants.

No Python UDFs: higher-order array expressions only. (A Pandas-UDF
matmul path would batch 10k vectors per Arrow chunk and beat this on a
dense-BLAS box, but keeps data out of codegen; measured at fixture
scale the expression path wins on startup cost. Revisit if dims >> 64.)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._staging import spread as _spread
from ._staging import stage as _stage

N_QUERIES = 5
TOP_K = 10
N_PLANES = 8
NEAR_DUP_COSINE = 0.45


def _as_double(col: str) -> F.Column:
    return F.col(col).cast("array<double>")


_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _cosine(a: str, b: str) -> F.Column:
    """Sequential-fold cosine in double precision (oracle-replayable)."""
    dot = F.expr(_DOT.format(a=a, b=b))
    na = F.sqrt(F.expr(_DOT.format(a=a, b=a)))
    nb = F.sqrt(F.expr(_DOT.format(a=b, b=b)))
    return dot / (na * nb)


def _norm(vcol: str) -> F.Column:
    """sqrt(sequential-fold dot(v, v)) — the exact norm subexpression
    `_cosine` evaluates, exposed so pairwise scorers can compute it
    once per VECTOR before a join instead of once per PAIR (r9, guide
    §1.2: the norm folds are interpreted higher-order functions and
    were 2/3 of every pairwise scoring stage; precomputing the same
    expression per side leaves every cosine double bit-equal)."""
    return F.sqrt(F.expr(_DOT.format(a=vcol, b=vcol)))


def _cosine_pre(a: str, b: str, na: str, nb: str) -> F.Column:
    """Cosine from a per-pair dot and two PRECOMPUTED `_norm` columns
    — dot/(na*nb), the identical float expression `_cosine` builds."""
    return F.expr(_DOT.format(a=a, b=b)) / (F.col(na) * F.col(nb))


#: exact top-k ground truth per (embedding, n_queries, k), staged:
#: EIGHT recall/eval queries re-derive the same brute-force baseline.
def _brute_topk_staged(
    emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    return _stage(
        "brute_topk", emb, lambda: brute_force_topk(emb, n_queries, k),
        n_queries, k,
    )


def brute_force_topk(
    emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Exact cosine top-k: first ``n_queries`` vec_ids vs the corpus.

    Output: query_id, neighbor_id, rank, cosine. Self-matches excluded;
    ties broken by neighbor_id.
    """
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv")
    ).withColumn("qn", _norm("qv"))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double("embedding").alias("cv"),
    ).withColumn("cn", _norm("cv"))
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cosine_pre("qv", "cv", "qn", "cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


ORACLE_BRUTE_FORCE_TOPK = f"""
equeries AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
ecorpus AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
),
escored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM equeries, ecorpus
  WHERE query_id <> neighbor_id
),
brute_force_topk AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM escored
  ) WHERE rank <= {TOP_K}
)
"""


#: scored variant: the cosine itself is emitted, rounded to 6 decimals
#: — both engines fold the dot product left-to-right over the array, so
#: the raw doubles agree to ~1 ulp and the rounding absorbs it (same
#: rule as the repo's round(sum, 4) aggregates).
ORACLE_BRUTE_FORCE_SCORED = f"""
equeries AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
ecorpus AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
),
escored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM equeries, ecorpus
  WHERE query_id <> neighbor_id
),
brute_force_scored AS (
  SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM escored
  ) WHERE rank <= {TOP_K}
)
"""


def _plane_weight(p: int, i: int) -> int:
    """Deterministic pseudo-random integer weight in [-1024, 1023].

    LCG on the flat index — pure integer arithmetic, bit-identical in
    any engine, no RNG state to ship.
    """
    return ((1103515245 * (p * 64 + i) + 12345) % 2048) - 1024


def _planes(n_planes: int = N_PLANES, dims: int = 64) -> list[list[int]]:
    return [
        [_plane_weight(p, i) for i in range(dims)] for p in range(n_planes)
    ]


def lsh_bucket_col(vec_col: str, n_planes: int = N_PLANES) -> F.Column:
    """Random-projection bucket id: sign bits of <v, plane_p> packed
    into an int. Integer plane weights -> exact double sums -> signs
    agree across engines."""
    planes = _planes(n_planes)
    bucket = F.lit(0)
    for p, w in enumerate(planes):
        arr = f"array({', '.join(f'CAST({x} AS DOUBLE)' for x in w)})"
        dot = F.expr(_DOT.format(a=vec_col, b=arr))
        bucket = bucket + F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _with_bucket_and_norm(emb: DataFrame) -> DataFrame:
    """vec_id, v (double), vnorm (precomputed — one fold per vector
    instead of two per candidate pair), LSH bucket."""
    return (
        emb.select("vec_id", _as_double("embedding").alias("v"))
        .withColumn("vnorm", F.sqrt(F.expr(_DOT.format(a="v", b="v"))))
        .withColumn("bucket", lsh_bucket_col("v"))
    )


def lsh_ann_topk(emb: DataFrame, n_queries: int = N_QUERIES,
                 k: int = TOP_K) -> DataFrame:
    """ANN top-k: exact cosine re-rank restricted to the query's LSH
    bucket. Output: query_id, neighbor_id, rank (approximate recall vs
    brute force; same-bucket candidates only)."""
    with_bucket = _with_bucket_and_norm(emb)
    queries = with_bucket.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vnorm").alias("qnorm"),
        "bucket",
    )
    scored = (
        F.broadcast(queries)
        .join(
            with_bucket.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("cv"),
                F.col("vnorm").alias("cnorm"),
                "bucket",
            ),
            "bucket",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.expr(_DOT.format(a="qv", b="cv"))
            / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _oracle_bucket_sql(vec: str) -> str:
    terms = []
    for p, w in enumerate(_planes()):
        arr = f"[{', '.join(f'CAST({x} AS DOUBLE)' for x in w)}]"
        terms.append(
            f"CASE WHEN list_dot_product({vec}, {arr}) >= 0"
            f" THEN {1 << p} ELSE 0 END"
        )
    return " + ".join(terms)


def oracle_lsh_ann_topk() -> str:
    return f"""
ebuck AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS vnorm,
         {_oracle_bucket_sql("embedding::DOUBLE[]")} AS bucket
  FROM embeddings
),
escored2 AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) / (q.vnorm * c.vnorm) AS cosine
  FROM ebuck q JOIN ebuck c
    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
lsh_ann_topk AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM escored2
  ) WHERE rank <= {TOP_K}
)
"""


IVF_STRIDE = 31
IVF_NPROBE = 2


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """Deterministic coarse quantizer: every ``IVF_STRIDE``-th vector is
    a centroid (~sqrt(N) cells at fixture scale). A trained KMeans
    codebook drops in here unchanged — sampling keeps the quantizer
    oracle-replayable, which seeded KMeans is not across engines.

    ``centnorm`` is precomputed once so cell ranking needs one fold per
    (vector, centroid) pair instead of three."""
    return (
        emb.filter(F.col("vec_id") % IVF_STRIDE == 0)
        .select(
            F.col("vec_id").alias("centroid_id"),
            _as_double("embedding").alias("centv"),
        )
        .withColumn(
            "centnorm", F.sqrt(F.expr(_DOT.format(a="centv", b="centv")))
        )
    )


def _nearest_centroids(vecs: DataFrame, cents: DataFrame,
                       n: int) -> DataFrame:
    """Rank centroids per vector by ``dot(v, c) / |c|`` — argmax-
    equivalent to cosine because |v| is constant within a vector's
    ranking (the oracle replays the identical formula, so float
    rounding agrees). Centroids are tiny -> broadcast. The rank-1 case
    (cell assignment, the corpus-sized side) is a ``max_by`` hash-agg —
    no window sort; the nprobe>1 case (queries only) uses the window."""
    scored = vecs.join(F.broadcast(cents)).withColumn(
        "cscore",
        F.expr(_DOT.format(a="v", b="centv")) / F.col("centnorm"),
    )
    if n == 1:
        return (
            scored.groupBy("vec_id")
            .agg(
                F.expr(
                    "max_by(struct(centroid_id, v, cscore),"
                    " struct(cscore, -centroid_id))"
                ).alias("m")
            )
            .select(
                "vec_id",
                F.col("m.v").alias("v"),
                F.col("m.centroid_id").alias("centroid_id"),
                F.col("m.cscore").alias("cscore"),
            )
        )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cscore").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n)
        .select("vec_id", "v", "centroid_id")
    )


#: rank-1 cell assignment per corpus DataFrame, session-staged — shared
#: by IVF search, the diversity sampler, and SemDeDup.
def _assignment_staged(emb: DataFrame) -> DataFrame:
    def build() -> DataFrame:
        vecs = emb.select("vec_id", _as_double("embedding").alias("v"))
        return _nearest_centroids(vecs, _ivf_centroids(emb), 1)

    return _stage("ivf_assignment", emb, build)


def ivf_ann_topk(emb: DataFrame, n_queries: int = N_QUERIES,
                 k: int = TOP_K, nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF-Flat ANN: corpus vectors live in their nearest centroid's
    inverted list; a query probes its ``nprobe`` nearest cells and
    exact-cosine re-ranks only those lists.

    At 100 TB the inverted lists are the physical partitioning
    (repartition by centroid_id, one write); queries touch nprobe
    partitions instead of the corpus — the classic IVF trade of recall
    for a 1/cells scan fraction. Output: query_id, neighbor_id, rank.
    """
    vecs = emb.select("vec_id", _as_double("embedding").alias("v"))
    cents = _ivf_centroids(emb)
    lists = _assignment_staged(emb)  # cell assignment, session-staged
    probes = _nearest_centroids(
        vecs.filter(F.col("vec_id") < n_queries), cents, nprobe
    ).select(F.col("vec_id").alias("query_id"),
             F.col("v").alias("qv"), "centroid_id")
    probes = probes.withColumn("qn", _norm("qv"))
    scored = (
        F.broadcast(probes)
        .join(
            lists.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("v").alias("cv"), "centroid_id")
            .withColumn("cn", _norm("cv")),
            "centroid_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cosine_pre("qv", "cv", "qn", "cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


_ORACLE_COS = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})))"
)


def oracle_ivf_ann_topk() -> str:
    cos_qn = _ORACLE_COS.format(a="p.qv", b="l.cv")
    return f"""
ivecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
icents AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS centnorm
  FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0
),
iranked AS (
  SELECT x.vec_id, x.v, c.centroid_id,
         CAST(row_number() OVER (
           PARTITION BY x.vec_id
           ORDER BY list_dot_product(x.v, c.centv) / c.centnorm DESC,
                    c.centroid_id) AS INT) AS crank
  FROM ivecs x, icents c
),
ilists AS (
  SELECT vec_id AS neighbor_id, v AS cv, centroid_id
  FROM iranked WHERE crank = 1
),
iprobes AS (
  SELECT vec_id AS query_id, v AS qv, centroid_id
  FROM iranked WHERE crank <= {IVF_NPROBE} AND vec_id < {N_QUERIES}
),
ivf_ann_topk AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT p.query_id, l.neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY {cos_qn} DESC, l.neighbor_id) AS INT) AS rank
    FROM iprobes p JOIN ilists l ON p.centroid_id = l.centroid_id
    WHERE p.query_id <> l.neighbor_id
  ) WHERE rank <= {TOP_K}
)
"""


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = NEAR_DUP_COSINE
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH blocking: pairs in
    the same bucket with cosine >= threshold. Output (d1 < d2, rank-free).

    At corpus scale the bucket join replaces the O(n^2) cross join; the
    oracle replays the identical blocking, so both engines see the same
    (deterministic) candidate set.
    """
    with_bucket = _with_bucket_and_norm(emb)
    a = with_bucket.alias("a")
    b = with_bucket.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "cosine",
            F.expr(_DOT.format(a="a.v", b="b.v"))
            / (F.col("a.vnorm") * F.col("b.vnorm")),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vec_id").alias("d1"),
            F.col("b.vec_id").alias("d2"),
        )
    )


def oracle_embedding_near_dup() -> str:
    return f"""
ebuck AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS vnorm,
         {_oracle_bucket_sql("embedding::DOUBLE[]")} AS bucket
  FROM embeddings
),
embedding_near_dup AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2
  FROM ebuck a JOIN ebuck b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.vnorm * b.vnorm)
        >= {NEAR_DUP_COSINE}
)
"""


KMEANS_K = 8
KMEANS_SEED = 42
SAMPLE_PER_CELL = 5


def kmeans_clusters(
    emb: DataFrame, k: int = KMEANS_K, seed: int = KMEANS_SEED
) -> DataFrame:
    """Embedding k-means (pyspark.ml KMeans, k-means|| init, seeded):
    the trained-codebook path for semantic clustering / IVF training.
    Iterative Lloyd steps are Spark jobs over cached features — the
    distributed path a 100 TB codebook training takes (sampled down in
    practice). Cross-engine replay of the trained codebook is not
    possible (init + float reduction order are engine-specific), so the
    declared query is rows-only; the invariant test pins cluster count
    and assignment totality. Output: (vec_id, cluster_id).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(
        "vec_id", array_to_vector(_as_double("embedding")).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=5).fit(feats)
    return model.transform(feats).select(
        "vec_id", F.col("prediction").cast("int").alias("cluster_id")
    )


def ivf_diverse_sample(
    emb: DataFrame, per_cell: int = SAMPLE_PER_CELL
) -> DataFrame:
    """Cluster-stratified diversity sampling: keep the ``per_cell``
    most-central vectors of every IVF cell — the curation primitive
    that caps any one semantic region's share of a training set.

    Reuses the deterministic IVF quantizer (so the full pipeline is
    oracle-replayable, unlike a KMeans codebook): assignment is the
    same max_by hash-agg as the IVF index build (no corpus-wide window
    sort), and the per-cell top-N window ranks only within cells.
    Output: (centroid_id, vec_id, rnk).
    """
    assigned = _assignment_staged(emb)
    w = Window.partitionBy("centroid_id").orderBy(
        F.col("cscore").desc(), "vec_id"
    )
    return (
        assigned.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= per_cell)
        .select("centroid_id", "vec_id", "rnk")
    )


def oracle_ivf_diverse_sample() -> str:
    return f"""
dsvecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
dscents AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS centnorm
  FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0
),
dsassign AS (
  SELECT vec_id, centroid_id, cscore FROM (
    SELECT x.vec_id, c.centroid_id,
           list_dot_product(x.v, c.centv) / c.centnorm AS cscore,
           row_number() OVER (
             PARTITION BY x.vec_id
             ORDER BY list_dot_product(x.v, c.centv) / c.centnorm DESC,
                      c.centroid_id) AS crank
    FROM dsvecs x, dscents c
  ) WHERE crank = 1
),
ivf_diverse_sample AS (
  SELECT centroid_id, vec_id, rnk FROM (
    SELECT centroid_id, vec_id,
           CAST(row_number() OVER (
             PARTITION BY centroid_id
             ORDER BY cscore DESC, vec_id) AS INT) AS rnk
    FROM dsassign
  ) WHERE rnk <= {SAMPLE_PER_CELL}
)
"""


def cosine_pandas_udf():
    """Arrow-batched cosine scorer — the Pandas-UDF escape hatch for
    when a scoring function outgrows Catalyst expressions (learned
    metrics, quantized dots). Returned as a factory so importing this
    module never pays the pandas/numpy import. The native `_cosine`
    expression is preferred in the declared queries (JVM codegen, no
    Python); the property test pins both paths to identical results,
    which is exactly the guarantee you need before swapping a custom
    scorer into the ANN operators.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos(qv, cv):
        q = np.stack(qv.values)
        c = np.stack(cv.values)
        num = (q * c).sum(axis=1)
        den = np.linalg.norm(q, axis=1) * np.linalg.norm(c, axis=1)
        return pd.Series(num / den)

    # set hints as live objects: the module's `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf's
    # signature inference cannot resolve.
    _cos.__annotations__ = {
        "qv": pd.Series, "cv": pd.Series, "return": pd.Series
    }
    return pandas_udf("double")(_cos)


def grouped_centroids(
    assigned: DataFrame, key_col: str = "cell",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group centroid via ``applyInPandas`` (grouped-map): each
    group's vectors arrive as ONE Arrow batch and numpy reduces them —
    the escape hatch for per-group numerics that outgrow expressions
    (covariances, per-cell PCA, quantized codebooks). For the plain
    mean the native equivalent is posexplode + avg per position; the
    property test pins both paths together, which is the safety rail
    for swapping richer per-group math in later.

    Scale: one shuffle on the group key; each task holds one group's
    vectors ([group size x dim] floats) — sized for IVF cells, not for
    unbounded groups.
    """
    import pandas as pd  # noqa: F401 — Arrow path

    def _mean(pdf):
        import numpy as np
        import pandas as pd

        m = np.stack(pdf[vec_col].values).astype("float64").mean(axis=0)
        return pd.DataFrame(
            {key_col: [pdf[key_col].iloc[0]], "centroid": [m.tolist()]}
        )

    return assigned.groupBy(key_col).applyInPandas(
        _mean, f"{key_col} bigint, centroid array<double>"
    )


#: int8 scalar quantization: max quantized magnitude per element.
QUANT_LEVELS = 127


def quantized_topk(
    emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """int8 scalar-quantized cosine top-k — the memory-compression
    scale path (4x smaller vectors than float32, 8x smaller than the
    double math, with ~1% recall loss at 64 dims).

    Each vector is quantized independently: scale = 127 / max|x|,
    q_i = floor(x_i * scale). Dot products and norms over the
    quantized ints are exact integer sums (every term < 2^31), so the
    approximate cosine — int dot over int norm product — is
    bit-identical in any engine and the ranking is deterministic
    without rounding tricks. At 100 TB the quantized corpus fits
    ~4x more vectors per executor page, and the scan stays in codegen.
    Assumes no all-zero vectors (scale would divide by zero) — true of
    any normalized embedding column.
    """
    qexpr = (
        "transform(v, x -> CAST(floor(x * ({L}.0D /"
        " aggregate(v, CAST(0 AS DOUBLE), (acc, e) ->"
        " greatest(acc, abs(e))))) AS BIGINT))"
    ).format(L=QUANT_LEVELS)
    idot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " 0L, (acc, v) -> acc + v)"
    )
    quant = emb.select(
        "vec_id", _as_double("embedding").alias("v")
    ).select("vec_id", F.expr(qexpr).alias("q"))
    queries = quant.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa")
    )
    corpus = quant.select(
        F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb")
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_cosine",
            F.expr(idot.format(a="qa", b="qb"))
            / (
                F.sqrt(F.expr(idot.format(a="qa", b="qa")))
                * F.sqrt(F.expr(idot.format(a="qb", b="qb")))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


ORACLE_QUANTIZED_TOPK = f"""
qz AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(floor(x * ({QUANT_LEVELS}.0 /
           list_max(list_transform(v, e -> abs(e))))) AS BIGINT)) AS q
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
),
qz_scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[])
           / (sqrt(list_dot_product(a.q::DOUBLE[], a.q::DOUBLE[]))
              * sqrt(list_dot_product(b.q::DOUBLE[], b.q::DOUBLE[])))
           AS approx_cosine
  FROM qz a, qz b
  WHERE a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
),
quantized_topk AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY approx_cosine DESC, neighbor_id) AS INT) AS rank
    FROM qz_scored
  ) WHERE rank <= {TOP_K}
)
"""


def hard_negatives(
    emb: DataFrame, n_queries: int = N_QUERIES
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the
    single most-similar corpus vector with a DIFFERENT label — the
    pair-construction step of contrastive embedding training (the
    negatives that are hard are the ones that teach).

    Same broadcast-queries x corpus scored join as the brute-force
    baseline, with the label-mismatch filter pushed BELOW the top-1
    window so the rank is computed only over valid negatives. At scale
    the corpus side swaps to the IVF/LSH bucketed path unchanged —
    the filter and window compose identically. Cosine rounded to 6
    (the repo's cross-engine float rule).
    """
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        _as_double("embedding").alias("qv"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("n_label"),
        _as_double("embedding").alias("cv"),
    ).withColumn("cn", _norm("cv"))
    scored = (
        F.broadcast(queries.withColumn("qn", _norm("qv")))
        .join(corpus, F.col("query_id") != F.col("neg_id"))
        .filter(F.col("q_label") != F.col("n_label"))
        .withColumn("cosine", _cosine_pre("qv", "cv", "qn", "cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neg_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "q_label",
            "neg_id",
            "n_label",
            F.round("cosine", 6).alias("cosine"),
        )
    )


ORACLE_HARD_NEGATIVES = f"""
hnq AS (
  SELECT vec_id AS query_id, label AS q_label,
         embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
hnc AS (
  SELECT vec_id AS neg_id, label AS n_label,
         embedding::DOUBLE[] AS cv
  FROM embeddings
),
hns AS (
  SELECT query_id, q_label, neg_id, n_label,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM hnq, hnc
  WHERE query_id <> neg_id AND q_label <> n_label
),
hard_negatives AS (
  SELECT query_id, q_label, neg_id, n_label, round(cosine, 6) AS cosine
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neg_id) AS rn
        FROM hns)
  WHERE rn = 1
)
"""


SEMDEDUP_COSINE = 0.40


def semdedup_survivors(
    emb: DataFrame, threshold: float = SEMDEDUP_COSINE
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus with
    the deterministic IVF quantizer, then within each cell drop every
    vector that is cosine-similar (>= ``threshold``) to a lower-id
    vector — the "keep the first representative" rule of the SemDeDup
    paper (Abbas et al., 2023), which removes semantically redundant
    training examples that no lexical dedup (exact / MinHash / SimHash
    over text) can see.

    Scale shape: pair generation is confined to cells, so the cost is
    sum(|cell|^2) instead of |corpus|^2 — the codebook granularity is
    the knob that bounds it (at 100 TB: a finer trained codebook, cells
    as the shuffle/partition key, per-cell pairwise local to each
    partition). The prune set (distinct higher-ids of similar pairs) is
    a fraction of the corpus and anti-joins back against the assignment
    — both sides shuffle on vec_id once. Reuses the oracle-replayable
    quantizer (deterministic stride centroids + max_by assignment)
    rather than the KMeans codebook so the full pipeline hash-matches
    DuckDB; swapping in the trained codebook changes no operator shape.

    Output: (vec_id, centroid_id) of surviving vectors.
    """
    assigned = _assignment_staged(emb)
    normed = assigned.withColumn("vn", _norm("v"))
    a = normed.alias("a")
    b = normed.alias("b")
    pruned = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "cosine",
            F.expr(_DOT.format(a="a.v", b="b.v"))
            / (F.col("a.vn") * F.col("b.vn")),
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return assigned.join(pruned, "vec_id", "left_anti").select(
        "vec_id", "centroid_id"
    )


def oracle_semdedup() -> str:
    cos = _ORACLE_COS.format(a="x.v", b="y.v")
    return f"""
sdvecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
sdcents AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS centnorm
  FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0
),
sdassign AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT x.vec_id, x.v, c.centroid_id,
           row_number() OVER (
             PARTITION BY x.vec_id
             ORDER BY list_dot_product(x.v, c.centv) / c.centnorm DESC,
                      c.centroid_id) AS crank
    FROM sdvecs x, sdcents c
  ) WHERE crank = 1
),
sdpruned AS (
  SELECT DISTINCT y.vec_id
  FROM sdassign x JOIN sdassign y
    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
  WHERE {cos} >= {SEMDEDUP_COSINE}
),
semantic_dedup AS (
  SELECT a.vec_id, a.centroid_id
  FROM sdassign a LEFT JOIN sdpruned p ON a.vec_id = p.vec_id
  WHERE p.vec_id IS NULL
)
"""


# ---------------------------------------------------------------------------
# semantic benchmark decontamination (embedding-space eval-leak screen)
# ---------------------------------------------------------------------------

#: benchmark embedding set: the first N vec_ids stand in for a held-out
#: eval suite (same convention as the lexical screens' first
#: N_BENCHMARK_DOCS doc_ids in dedup.py). Threshold matches SemDeDup's
#: paraphrase-grade cosine on the synthetic embedding space.
N_BENCHMARK_VECS = 20
DECON_SEM_COSINE = 0.40


def semantic_decontaminate(
    emb: DataFrame,
    n_bench: int = N_BENCHMARK_VECS,
    threshold: float = DECON_SEM_COSINE,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag training
    vectors whose cosine to ANY benchmark vector reaches
    ``threshold`` — the PARAPHRASED-contamination case the 3/5-gram
    lexical screens (``dedup_decontaminate``, ``text_decontaminate``)
    cannot see, because a reworded eval question shares no shingles
    with its source. Composes the two verified pieces the r6 verdict
    named: the IVF cell confinement of ``semdedup_survivors`` and the
    benchmark-vs-training split of the lexical screens.

    Scale shape: identical to SemDeDup — the pair join is confined to
    IVF cells (cost sum over cells of |cell_train| x |cell_bench|,
    never |corpus| x |bench|), and the benchmark side is a fixed
    small suite -> broadcast. Cell confinement trades recall for the
    1/cells scan fraction exactly as the SemDeDup kernel does; the
    recall knob is the codebook granularity (or nprobe>1 assignment
    of the BENCHMARK side only, which multiplies the tiny side, not
    the corpus). At 100 TB the corpus-side cost is the cell
    assignment it already pays for IVF search (shared via the staged
    assignment).

    Output: (vec_id, n_benchmark_hits, max_cosine) — training
    vectors with >= 1 benchmark hit in their cell.
    """
    assigned = _assignment_staged(emb)
    bench = assigned.filter(F.col("vec_id") < n_bench).select(
        F.col("centroid_id").alias("b_cell"),
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
    ).withColumn("bn", _norm("bv"))
    train = assigned.filter(F.col("vec_id") >= n_bench).withColumn(
        "vn", _norm("v")
    )
    return (
        train.join(
            F.broadcast(bench),
            F.col("centroid_id") == F.col("b_cell"),
        )
        .withColumn("cosine", _cosine_pre("v", "bv", "vn", "bn"))
        .filter(F.col("cosine") >= threshold)
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_benchmark_hits"),
            F.round(F.max("cosine"), 6).alias("max_cosine"),
        )
    )


def oracle_semantic_decontaminate() -> str:
    cos = _ORACLE_COS.format(a="t.v", b="b.v")
    return f"""
dcs_vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
dcs_cents AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS centnorm
  FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0
),
dcs_assign AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT x.vec_id, x.v, c.centroid_id,
           row_number() OVER (
             PARTITION BY x.vec_id
             ORDER BY list_dot_product(x.v, c.centv) / c.centnorm DESC,
                      c.centroid_id) AS crank
    FROM dcs_vecs x, dcs_cents c
  ) WHERE crank = 1
),
semantic_decontaminate AS (
  SELECT t.vec_id, count(*) AS n_benchmark_hits,
         round(max({cos}), 6) AS max_cosine
  FROM dcs_assign t
  JOIN dcs_assign b
    ON t.centroid_id = b.centroid_id
   AND b.vec_id < {N_BENCHMARK_VECS}
   AND t.vec_id >= {N_BENCHMARK_VECS}
  WHERE {cos} >= {DECON_SEM_COSINE}
  GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# RAG retrieval composition: chunk -> embed -> top-k -> context pack
# ---------------------------------------------------------------------------

#: context-pack knobs: embedding dim of the shared query/chunk space,
#: chunks retrieved per query, and the word budget of the final pack.
RAG_DIM = 8
RAG_TOP_K = 6
RAG_WORD_BUDGET = 150


def _rag_chunk_component(j: int) -> F.Column:
    """Deterministic pseudo-embedding component j in [-1, 1), derived
    from the chunk content hash — the same 52-bit md5->dyadic-rational
    trick the samplers use (exact in doubles, oracle-replayable; a real
    pipeline swaps this single projection for a model encoder UDF)."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("chunk_md5"), F.lit(f":{j}"))), 1, 13
            ),
            16,
            10,
        ).cast("bigint")
        + F.lit(1)
    ).cast("double") / F.lit(float(1 << 52))
    return u * 2.0 - 1.0


def rag_context_pack(
    docs: DataFrame,
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = RAG_TOP_K,
    budget: int = RAG_WORD_BUDGET,
) -> DataFrame:
    """End-to-end RAG retrieval as ONE logical plan: chunk the corpus,
    embed chunks (deterministic hash projection standing in for the
    encoder), retrieve top-k chunks per query embedding by exact
    cosine, and greedily pack each query's context under a word
    budget.

    Scale shape: the chunk explode is map-only and never carries full
    text; the |Q| query vectors broadcast against the chunk table (the
    only data-sized relation — no shuffle of the corpus at all until
    the per-query top-k, which TakeOrdered-s inside a window over
    |Q| * k rows); the greedy budget pack is a running sum over each
    query's k retrieved rows. Swap the brute-force scoring stage for
    the IVF/LSH bucket join when |Q| grows — the pack stage is
    unchanged.

    Output per query: chunks kept, words used, and the ordered
    ``doc:chunk`` id list of the packed context.
    """
    from .textstats import chunk_documents

    chunks = chunk_documents(docs)
    cvec = F.array(*[_rag_chunk_component(j) for j in range(RAG_DIM)])
    corpus = chunks.select(
        "doc_id", "chunk_id", "n_words", cvec.alias("cv")
    ).withColumn("cnorm", F.sqrt(F.expr(_DOT.format(a="cv", b="cv"))))

    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.expr(
            f"transform(slice(embedding, 1, {RAG_DIM}),"
            " x -> CAST(x AS DOUBLE))"
        ).alias("qv"),
    ).withColumn("qnorm", F.sqrt(F.expr(_DOT.format(a="qv", b="qv"))))

    scored = (
        F.broadcast(queries)
        .join(corpus)
        .withColumn(
            "cosine",
            F.round(
                F.expr(_DOT.format(a="qv", b="cv"))
                / (F.col("qnorm") * F.col("cnorm")),
                4,
            ),
        )
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "doc_id", "chunk_id"
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "chunk_id", "n_words", "rank")
    )
    pack_w = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = topk.withColumn(
        "cum_words", F.sum("n_words").over(pack_w)
    ).filter(F.col("cum_words") <= budget)
    key = F.concat_ws(":", "doc_id", "chunk_id")
    return packed.groupBy("query_id").agg(
        F.count("*").alias("n_chunks"),
        F.max("cum_words").alias("words_used"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", key.alias("k")))),
                lambda s: s["k"],
            ),
            " ",
        ).alias("context_ids"),
    )


def oracle_rag_context_pack(
    n_queries: int = N_QUERIES,
    k: int = RAG_TOP_K,
    budget: int = RAG_WORD_BUDGET,
) -> str:
    comp = ", ".join(
        f"((CAST(('0x' || substr(md5(chunk_md5 || ':{j}'), 1, 13))"
        f" AS BIGINT) + 1) / {float(1 << 52)!r}) * 2.0 - 1.0"
        for j in range(RAG_DIM)
    )
    return f"""
rag_corpus AS (
  SELECT doc_id, chunk_id, n_words, [{comp}] AS cv
  FROM chunk_documents
),
rag_queries AS (
  SELECT vec_id AS query_id,
         list_transform(list_slice(embedding::DOUBLE[], 1, {RAG_DIM}),
                        x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < {n_queries}
),
rag_scored AS (
  SELECT q.query_id, c.doc_id, c.chunk_id, c.n_words,
         round(list_dot_product(q.qv, c.cv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.cv, c.cv))), 4) AS cosine
  FROM rag_queries q CROSS JOIN rag_corpus c
),
rag_topk AS (
  SELECT query_id, doc_id, chunk_id, n_words, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY cosine DESC, doc_id, chunk_id) AS rank
    FROM rag_scored)
  WHERE rank <= {k}
),
rag_packed AS (
  SELECT *, sum(n_words) OVER (
      PARTITION BY query_id ORDER BY rank
      ROWS UNBOUNDED PRECEDING) AS cum_words
  FROM rag_topk
),
rag_context_pack AS (
  SELECT query_id,
         CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(max(cum_words) AS BIGINT) AS words_used,
         string_agg(doc_id || ':' || chunk_id, ' ' ORDER BY rank)
           AS context_ids
  FROM rag_packed
  WHERE cum_words <= {budget}
  GROUP BY query_id
)
"""


def ann_recall_eval(emb: DataFrame) -> DataFrame:
    """ANN quality harness: recall@k of the IVF index against the
    exact brute-force top-k ground truth, per query — the evaluation
    every approximate index ships with (the ANN-benchmarks
    methodology; same role minhash_recall_eval plays for lexical
    dedup). A left-semi intersection on (query_id, neighbor_id)
    counts hits; recall divides by the integer k. Both sides are
    independently oracle-checked queries, so this composition is
    fully replayable in SQL.
    """
    truth = _brute_topk_staged(emb).select("query_id", "neighbor_id")
    approx = ivf_ann_topk(emb).select("query_id", "neighbor_id")
    hits = approx.join(truth, ["query_id", "neighbor_id"], "leftsemi")
    per_query = hits.groupBy("query_id").agg(
        F.count("*").alias("n_hits")
    )
    # queries with zero hits keep a row (left join vs the query set)
    all_queries = truth.select("query_id").distinct()
    return (
        all_queries.join(per_query, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.lit(TOP_K), 4
            ).alias("recall_at_k"),
        )
    )


ORACLE_ANN_RECALL = f"""
arq AS (SELECT DISTINCT query_id FROM brute_force_topk),
arh AS (
  SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM ivf_ann_topk i
  WHERE EXISTS (SELECT 1 FROM brute_force_topk b
                WHERE b.query_id = i.query_id
                  AND b.neighbor_id = i.neighbor_id)
  GROUP BY i.query_id
),
ann_recall AS (
  SELECT q.query_id,
         COALESCE(h.n_hits, 0) AS n_hits,
         round(COALESCE(h.n_hits, 0) / CAST({TOP_K} AS DOUBLE), 4)
           AS recall_at_k
  FROM arq q LEFT JOIN arh h ON q.query_id = h.query_id
)
"""


#: Johnson-Lindenstrauss output dimensionality (64 -> 16).
RP_OUT_DIM = 16


def _rp_sign(k: int, j: int) -> int:
    """Deterministic ±1 projection entry from an md5 bit — well-mixed
    (an LCG's low bits are too structured here: adjacent flat indices
    step by a constant mod 2^11, which correlates rows and wrecks the
    JL distance bound — measured r=0.17 vs 0.9+ with md5 signs). The
    matrix is materialized driver-side and embedded as a literal in
    BOTH the Spark plan and the DuckDB oracle, so any deterministic
    generator is engine-portable by construction."""
    import hashlib

    return 1 if hashlib.md5(f"rp:{k}:{j}".encode()).digest()[0] < 128 else -1


def _rp_rows(out_dim: int = RP_OUT_DIM) -> list[list[int]]:
    return [[_rp_sign(k, j) for j in range(64)] for k in range(out_dim)]


def random_projection(
    emb: DataFrame, out_dim: int = RP_OUT_DIM
) -> DataFrame:
    """Sparse random projection (Achlioptas / Johnson-Lindenstrauss):
    project 64-dim float vectors to ``out_dim`` dims with a
    deterministic ±1 sign matrix — the cheap, data-independent
    dimensionality reduction that preserves pairwise distances within
    (1 ± eps) and cuts every downstream ANN / clustering / dedup pass's
    memory and shuffle width by 4x.

    The matrix entries are md5-bit signs materialized driver-side and
    embedded as INTEGER literals in both the Spark plan and the DuckDB
    oracle — the two engines see the identical matrix, and the
    sequential-fold dot products agree bit-for-bit; outputs are
    rounded to 5 decimals only to make the hash canon independent of
    display formatting.

    Scale shape: map-only — each vector's projection reads only that
    vector; zero shuffles, runs at scan speed. In production the sign
    matrix is a broadcast literal exactly as here (out_dim x 64 ints),
    never a join.
    """
    rows = _rp_rows(out_dim)
    v = _as_double("embedding")
    comps = []
    for row in rows:
        arr = f"array({', '.join(f'CAST({x} AS DOUBLE)' for x in row)})"
        comps.append(F.round(F.expr(_DOT.format(a="v", b=arr)), 5))
    return emb.select("vec_id", v.alias("v")).select(
        "vec_id", F.array(*comps).alias("proj")
    )


def oracle_random_projection(out_dim: int = RP_OUT_DIM) -> str:
    comps = []
    for row in _rp_rows(out_dim):
        arr = f"[{', '.join(f'CAST({x} AS DOUBLE)' for x in row)}]"
        comps.append(f"round(list_dot_product(v, {arr}), 5)")
    comps_sql = ",\n           ".join(comps)
    return f"""
random_projection AS (
  SELECT vec_id,
         [{comps_sql}] AS proj
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
)
"""


def rp_topk(
    emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Cosine top-k computed in the 16-dim PROJECTED space — the cheap
    candidate pass a JL-compressed index answers. Same plan shape as
    ``brute_force_topk`` (broadcast queries, per-query rank window),
    but every dot product folds 16 elements instead of 64."""
    proj = random_projection(emb)
    queries = proj.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("proj").alias("qv")
    ).withColumn("qn", _norm("qv"))
    corpus = proj.select(
        F.col("vec_id").alias("neighbor_id"), F.col("proj").alias("cv")
    ).withColumn("cn", _norm("cv"))
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cosine_pre("qv", "cv", "qn", "cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def rp_ann_recall(emb: DataFrame) -> DataFrame:
    """Recall@k of projected-space top-k vs the exact 64-dim truth —
    the measurement that decides whether JL compression is usable as a
    candidate generator for a given corpus. On THIS fixture (isotropic
    synthetic vectors, pairwise cosines concentrated near 0) 4x
    compression destroys ranking — measured recall ~0.1 — which is the
    honest negative result: JL preserves distances to (1±eps) with
    eps ~ sqrt(8 ln n / 16) ≈ 1, far larger than the fixture's true
    top-k margins. Real clustered embeddings have margins >> eps and
    score far higher; shipping the eval INSIDE the engine is what lets
    a pipeline gate the optimization on its own data instead of
    assuming. Composition is the same replayable left-semi hit count
    as ``ann_recall_eval``."""
    truth = _brute_topk_staged(emb).select("query_id", "neighbor_id")
    approx = rp_topk(emb).select("query_id", "neighbor_id")
    hits = approx.join(truth, ["query_id", "neighbor_id"], "leftsemi")
    per_query = hits.groupBy("query_id").agg(
        F.count("*").alias("n_hits")
    )
    all_queries = truth.select("query_id").distinct()
    return (
        all_queries.join(per_query, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.lit(TOP_K), 4
            ).alias("recall_at_k"),
        )
    )


ORACLE_RP_RECALL = f"""
rpq AS (
  SELECT vec_id AS query_id, proj AS qv FROM random_projection
  WHERE vec_id < {N_QUERIES}
),
rpc AS (
  SELECT vec_id AS neighbor_id, proj AS cv FROM random_projection
),
rpscored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM rpq, rpc
  WHERE query_id <> neighbor_id
),
rp_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank
    FROM rpscored
  ) WHERE rank <= {TOP_K}
),
rrh AS (
  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM rp_topk a
  WHERE EXISTS (SELECT 1 FROM brute_force_topk b
                WHERE b.query_id = a.query_id
                  AND b.neighbor_id = a.neighbor_id)
  GROUP BY a.query_id
),
rp_ann_recall AS (
  SELECT q.query_id,
         COALESCE(h.n_hits, 0) AS n_hits,
         round(COALESCE(h.n_hits, 0) / CAST({TOP_K} AS DOUBLE), 4)
           AS recall_at_k
  FROM (SELECT DISTINCT query_id FROM brute_force_topk) q
  LEFT JOIN rrh h ON q.query_id = h.query_id
)
"""


#: kNN outlier detection: neighbors per vector and report size.
OUTLIER_KNN = 5
OUTLIER_TOP = 25


def knn_outlier_scores(
    emb: DataFrame, k: int = OUTLIER_KNN, top: int = OUTLIER_TOP
) -> DataFrame:
    """Embedding outlier detection by k-nearest-neighbor density: a
    vector whose k nearest same-cell neighbors are all FAR is an
    outlier — corrupted inputs, mis-encoded rows, and wrong-modality
    payloads all land here, so curation pipelines screen embeddings
    this way before training on them.

    Pair generation is confined to IVF cells (the SemDeDup cost
    shape: sum of |cell|^2, bounded by codebook granularity — never
    |corpus|^2), reusing the session-staged cell assignment. Score =
    mean of the top-k same-cell cosines, so sparse cells degrade
    gracefully (fewer neighbors, still comparable). Output: the
    ``top`` lowest-density vectors (score asc, vec_id tiebreak).
    """
    lists = _assignment_staged(emb)
    a = lists.select(
        F.col("vec_id").alias("va"),
        F.col("v").alias("xa"),
        "centroid_id",
    ).withColumn("na", _norm("xa"))
    b = lists.select(
        F.col("vec_id").alias("vb"),
        F.col("v").alias("xb"),
        "centroid_id",
    ).withColumn("nb", _norm("xb"))
    pairs = (
        a.join(b, "centroid_id")
        .filter(F.col("va") != F.col("vb"))
        .withColumn("cosine", _cosine_pre("xa", "xb", "na", "nb"))
    )
    w = Window.partitionBy("va").orderBy(
        F.col("cosine").desc(), F.col("vb")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .groupBy("va")
        .agg(
            F.count("*").alias("n_neighbors"),
            F.round(F.avg("cosine"), 6).alias("knn_mean_cos"),
        )
        .select(
            F.col("va").alias("vec_id"), "n_neighbors", "knn_mean_cos"
        )
        .orderBy(F.col("knn_mean_cos"), F.col("vec_id"))
        .limit(top)
    )


def oracle_knn_outliers(
    k: int = OUTLIER_KNN, top: int = OUTLIER_TOP
) -> str:
    cos = _ORACLE_COS.format(a="a.v", b="b.v")
    return f"""
ko_vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
ko_cents AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS centnorm
  FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0
),
ko_assign AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT x.vec_id, x.v, c.centroid_id,
           row_number() OVER (
             PARTITION BY x.vec_id
             ORDER BY list_dot_product(x.v, c.centv) / c.centnorm DESC,
                      c.centroid_id) AS crank
    FROM ko_vecs x, ko_cents c
  ) WHERE crank = 1
),
ko_pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, {cos} AS cosine
  FROM ko_assign a JOIN ko_assign b USING (centroid_id)
  WHERE a.vec_id <> b.vec_id
),
ko_topk AS (
  SELECT va, cosine FROM (
    SELECT va, cosine,
           row_number() OVER (PARTITION BY va
                              ORDER BY cosine DESC, vb) AS rank
    FROM ko_pairs
  ) WHERE rank <= {k}
),
embedding_knn_outliers AS (
  SELECT va AS vec_id,
         CAST(count(*) AS BIGINT) AS n_neighbors,
         round(avg(cosine), 6) AS knn_mean_cos
  FROM ko_topk
  GROUP BY va
  ORDER BY knn_mean_cos, vec_id
  LIMIT {top}
)
"""


def standardize_embeddings(emb: DataFrame) -> DataFrame:
    """Per-dimension standardization (z-score) of the embedding
    column — the cheap half of whitening: centering kills the common
    bias direction that inflates all cosines (the anisotropy problem
    in learned embeddings), and unit-variance dims stop high-variance
    coordinates from dominating dot products.

    Dimension stats come from ONE explode + (dim)-grain agg — 64 rows
    — broadcast back into a map-only transform; population variance
    is computed from integral-order sums (sum, sum of squares) in the
    exact formula both engines replay. Output: vec_id, z (array,
    rounded 6).
    """
    dims = emb.select(
        "vec_id",
        F.posexplode(_as_double("embedding")).alias("i", "x"),
    )
    stats = (
        dims.groupBy("i")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("s2"),
        )
        .select(
            "i",
            # stats rounded to 9dp BEFORE use: the dim sums fold in
            # engine-specific order (ulp differences), so z must
            # derive from identically-rounded mu/sigma or 32k rounded
            # outputs each carry a boundary-flip risk
            F.round(F.col("s") / F.col("n"), 9).alias("mu"),
            F.round(
                F.sqrt(
                    F.col("s2") / F.col("n")
                    - (F.col("s") / F.col("n"))
                    * (F.col("s") / F.col("n"))
                ),
                9,
            ).alias("sigma"),
        )
    )
    return (
        dims.join(F.broadcast(stats), "i")
        .select(
            "vec_id",
            "i",
            F.round(
                (F.col("x") - F.col("mu")) / F.col("sigma"), 6
            ).alias("z"),
        )
        .groupBy("vec_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, z))),"
                " s -> s.z)"
            ).alias("z")
        )
    )


ORACLE_STANDARDIZE = """
sz_d AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS i, v[i] AS x
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       LATERAL unnest(range(1, 65)) AS g(i)
),
sz_s AS (
  SELECT i, count(*) AS n, sum(x) AS s, sum(x * x) AS s2
  FROM sz_d GROUP BY 1
),
sz_m AS (
  SELECT i, round(s / n, 9) AS mu,
         round(sqrt(s2 / n - (s / n) * (s / n)), 9) AS sigma
  FROM sz_s
),
standardize_embeddings AS (
  SELECT vec_id,
         list_transform(
           list(struct_pack(i := d.i, z := round((d.x - m.mu) / m.sigma, 6))
                ORDER BY d.i),
           s -> s.z) AS z
  FROM sz_d d JOIN sz_m m USING (i)
  GROUP BY vec_id
)
"""


# ---------------------------------------------------------------------------
# deterministic Lloyd's k-means (hash-verified clustering)
# ---------------------------------------------------------------------------

KM_K = 8
KM_ITERS = 3
KM_SCALE = 10000
KM_DIMS = 64

#: squared L2 distance over quantized integer vectors — exact BIGINT
#: arithmetic, no float fold-order anywhere.
_IDIST2 = (
    "aggregate(zip_with({q}, {c}, (x, y) -> (x - y) * (x - y)),"
    " 0L, (acc, e) -> acc + e)"
)


def _km_quantized(emb: DataFrame) -> DataFrame:
    """Vectors quantized to BIGINT (floor(x * KM_SCALE)) so every
    distance and centroid update below is exact integer arithmetic —
    the whole iteration is bit-identical across engines with no
    rounding tricks (same convention as ``quantized_topk``)."""
    return emb.select(
        "vec_id",
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>),"
            f" x -> CAST(floor(x * {KM_SCALE}.0D) AS BIGINT))"
        ).alias("q"),
    )


def _arr_lit(vals) -> str:
    """SQL literal for a BIGINT array — inlines a collected centroid
    into an expression (r10: literal-centroid assignment)."""
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def _km_key_lit(cent_rows, q: str = "q"):
    """The packed argmin key (min over centroids of dist2*256 + cid)
    as ONE narrow expression over literal centroids — r10 optimization
    (guide §2.4): `_km_assign`'s broadcast join + min hash-agg shuffles
    the ENTIRE corpus (group key vec_id is unique, so map-side combine
    reduces nothing and `first(q)` ships every quantized vector through
    the exchange). After any Lloyd round the centroids are driver-local
    rows anyway (k x dims, bounded), so the same min folds per row in a
    projection: identical exact-integer dist2 per (vec, cid), identical
    min/tie-break (least() and MIN agree; dist2 is never null for the
    non-null quantized vectors the fixture guarantees), zero joins,
    zero shuffles."""
    keys = [
        F.expr(_IDIST2.format(q=q, c=_arr_lit(c))) * 256 + F.lit(cid)
        for cid, c in cent_rows
    ]
    return F.least(*keys) if len(keys) > 1 else keys[0]


def kmeans_lloyd(
    emb: DataFrame, k: int = KM_K, iters: int = KM_ITERS
) -> DataFrame:
    """Deterministic Lloyd's k-means, hash-verified cross-engine (the
    MLlib ``kmeans_clusters`` codebook is seeded but not replayable in
    another engine; this variant is, and is the same algorithm).

    Determinism contract: (1) vectors quantized to ints — distances
    are exact BIGINT sums in any fold order; (2) init = the k vectors
    with smallest md5(vec_id) (a deterministic pseudo-random draw both
    engines replay); (3) centroid update = element-wise floor-mean
    (integer sums, one exact double division, floor) — byte-identical
    in Spark and DuckDB; (4) assignment ties break on lower cid, and a
    cluster that captures no points drops out in both engines.

    Scale: per iteration ONE broadcast join + min-agg over the corpus
    (map-side combined, no window) and ONE (cid, dim)-grain sum-agg
    whose post-combine shuffle is k*dims rows per partition; the k*dims
    centroid matrix (tiny) is collected and re-broadcast each round —
    the textbook distributed Lloyd's. Driver traffic is O(k*dims) per
    iteration, independent of corpus size. Output: vec_id, cluster,
    dist2 (all integers).
    """
    qv = _km_quantized(emb)
    w = Window.orderBy("h", "vec_id")
    # r10 (guide §2.4): the k x dims centroid matrix was ALREADY
    # driver-local every round (newc.collect() re-broadcast); collect
    # the init draw too and inline every round's centroids as literal
    # arrays (`_km_key_lit`). Each of the iters+1 assignment passes was
    # a broadcast join + full-corpus min-agg SHUFFLE (unique group key
    # — no combine reduction, `first(q)` shipping the vectors); now
    # each is a narrow projection, so the only remaining exchanges are
    # the k*dims-row centroid-update aggs. Same exact-integer dist2,
    # same min/tie-break, same floor-mean update => identical output.
    cent_rows = [
        (r["cid"], r["c"])
        for r in (
            qv.withColumn("h", F.md5(F.col("vec_id").cast("string")))
            .orderBy("h", "vec_id")
            .limit(k)  # distributed TakeOrdered — no full sort
            .select(
                (F.row_number().over(w) - F.lit(1))
                .cast("long")
                .alias("cid"),
                F.col("q").alias("c"),
            )
            .collect()
        )
    ]
    for _ in range(iters):
        assigned = qv.select(
            (_km_key_lit(cent_rows) % 256).alias("cid"), "q"
        )
        newc = (
            assigned.select("cid", F.posexplode("q").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .select(
                "cid",
                "i",
                F.floor(F.col("s") / F.col("n")).cast("long").alias("m"),
            )
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(i, m))),"
                    " s -> s.m)"
                ).alias("c")
            )
        )
        # k*dims ints to the driver, re-inlined next round: bounds
        # lineage depth at one job per iteration (no nested recompute)
        cent_rows = [(r["cid"], r["c"]) for r in newc.collect()]
    return qv.withColumn("key", _km_key_lit(cent_rows)).select(
        "vec_id",
        (F.col("key") % 256).cast("int").alias("cluster"),
        F.expr("CAST(key DIV 256 AS BIGINT)").alias("dist2"),
    )


def oracle_kmeans_lloyd(k: int = KM_K, iters: int = KM_ITERS) -> str:
    """Recursive-CTE replay of the exact integer Lloyd's iteration
    (requires WITH RECURSIVE; list_sum yields HUGEINT — cast before %).
    """
    d2 = (
        f"list_sum(list_transform(range(1, {KM_DIMS + 1}),"
        " j -> (p.q[j] - k.c[j]) * (p.q[j] - k.c[j])))"
    )
    return f"""
km_q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> CAST(floor(x * {KM_SCALE}.0) AS BIGINT)) AS q
  FROM embeddings
),
km_init AS (
  SELECT CAST(row_number() OVER
           (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
         AS BIGINT) AS cid, q AS c
  FROM km_q
  QUALIFY row_number() OVER
    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {k}
),
km_iter(iter, cid, c) AS (
  SELECT 0, cid, c FROM km_init
  UNION ALL
  SELECT iter + 1, best_cid, list(m ORDER BY i) FROM (
    SELECT iter, best_cid, i,
           CAST(floor(sum(q[i]) / count(*)) AS BIGINT) AS m
    FROM (
      SELECT p.vec_id, p.q, k.iter,
             CAST(min({d2} * 256 + k.cid) AS BIGINT) % 256 AS best_cid
      FROM km_q p, km_iter k
      WHERE k.iter < {iters}
      GROUP BY p.vec_id, p.q, k.iter
    ), LATERAL unnest(range(1, {KM_DIMS + 1})) AS g(i)
    GROUP BY iter, best_cid, i
  ) GROUP BY iter, best_cid
),
kmeans_lloyd AS (
  SELECT p.vec_id,
         CAST(CAST(min({d2} * 256 + k.cid) AS BIGINT) % 256 AS INT)
           AS cluster,
         CAST(CAST(min({d2} * 256 + k.cid) AS BIGINT) // 256 AS BIGINT)
           AS dist2
  FROM km_q p, km_iter k
  WHERE k.iter = {iters}
  GROUP BY p.vec_id
)
"""


# ---------------------------------------------------------------------------
# product quantization ANN (trained codebooks, hash-verified)
# ---------------------------------------------------------------------------

PQ_M = 4          # subspaces
PQ_SUB_DIMS = 16  # dims per subspace (PQ_M * PQ_SUB_DIMS = 64)
PQ_K = 16         # centroids per subspace codebook
PQ_ITERS = 2      # Lloyd's rounds per codebook


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, sub, sq): each vector split into ``PQ_M`` quantized
    integer subvectors — one posexplode, no joins."""
    qv = _km_quantized(emb)
    subs = F.array(
        *[
            F.slice("q", 1 + PQ_SUB_DIMS * m, PQ_SUB_DIMS)
            for m in range(PQ_M)
        ]
    )
    return qv.select("vec_id", F.posexplode(subs).alias("sub", "sq"))


def _pq_key_lit(cents_by_sub: dict, q: str = "sq"):
    """Per-(vector, subspace) packed argmin key over LITERAL
    per-subspace codebooks — the PQ twin of ``_km_key_lit`` (r10,
    guide §2.4). The old `_pq_assign` broadcast-join + (vec_id, sub)
    min-agg shuffled the whole exploded corpus per pass (unique group
    key, `first(sq)` shipping every subvector); the codebook is
    driver-local rows after every training round, so the argmin is a
    CASE over sub with a least() of exact-integer dist2 keys per
    branch — only the matched branch evaluates, zero joins, zero
    shuffles. Identical packing/tie-break as the min-agg."""
    expr = None
    for sub, rows in sorted(cents_by_sub.items()):
        branch = _km_key_lit(rows, q=q)
        expr = (
            F.when(F.col("sub") == sub, branch)
            if expr is None
            else expr.when(F.col("sub") == sub, branch)
        )
    return expr


def _pq_codebook_rows(emb: DataFrame) -> dict:
    """PQ_M independent integer-Lloyd's codebooks trained in ONE set of
    jobs per iteration (subspace is just another grouping key — the
    M trainings share every shuffle). Deterministic md5 init per
    subspace; same exactness contract as ``kmeans_lloyd``. Driver
    traffic per round is the M*K*sub_dims codebook (tiny, bounded by
    the PQ constants — never by corpus size); returned as
    {sub: [(cid, c), ...]} for literal-expression assignment."""
    sv = _pq_subvectors(emb)
    w = Window.partitionBy("sub").orderBy("h", "vec_id")
    init = (
        sv.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_K)
        .select(
            "sub",
            (F.col("rn") - 1).cast("long").alias("cid"),
            F.col("sq").alias("c"),
        )
    )

    def _by_sub(rows):
        out: dict = {}
        for r in rows:
            out.setdefault(r["sub"], []).append((r["cid"], r["c"]))
        return out

    cents_by_sub = _by_sub(init.collect())
    for _ in range(PQ_ITERS):
        assigned = sv.select(
            "sub", (_pq_key_lit(cents_by_sub) % 256).alias("cid"), "sq"
        )
        newc = (
            assigned.select(
                "sub", "cid", F.posexplode("sq").alias("i", "x")
            )
            .groupBy("sub", "cid", "i")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .select(
                "sub",
                "cid",
                "i",
                F.floor(F.col("s") / F.col("n")).cast("long").alias("m"),
            )
            .groupBy("sub", "cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(i, m))),"
                    " s -> s.m)"
                ).alias("c")
            )
        )
        cents_by_sub = _by_sub(newc.collect())
    return cents_by_sub


def _pq_index_staged(emb: DataFrame) -> tuple:
    """(cents_by_sub, codes): codes = (neighbor_id, sub, cid), eagerly
    checkpointed (vec x M grain, three small ints per row). Staged:
    `ann_pq` and `ann_pq_recall` each trained the identical
    deterministic codebook and re-encoded the corpus per call (r10; at
    100 TB the codes table IS the persisted index, built once beside
    the raw vectors)."""

    def build() -> tuple:
        cents_by_sub = _pq_codebook_rows(emb)
        codes = (
            _pq_subvectors(emb)
            .select(
                F.col("vec_id").alias("neighbor_id"),
                "sub",
                (_pq_key_lit(cents_by_sub) % 256).alias("cid"),
            )
            .localCheckpoint(eager=True)
        )
        return cents_by_sub, codes

    return _stage("pq_index", emb, build, checkpoint=False)


def pq_ann_topk(
    emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Product-quantization ANN (Jegou et al., PAMI 2011) with
    asymmetric distance computation — the memory-compression scale
    path beyond int8: each 64-dim vector is stored as PQ_M=4 one-byte
    codes (64x smaller than float32), and query-to-corpus distance is
    a sum of M table lookups instead of a 64-element fold.

    Codebooks are trained by the deterministic integer Lloyd's above,
    so the whole index — training, encoding, LUT, ranking — is exact
    BIGINT arithmetic and hash-matches the DuckDB replay.

    Scale: encoding is a NARROW projection over the corpus (literal
    codebook argmin, zero joins/shuffles — r10); the session-staged
    codes table (M small ints per vector) is what persists, shared
    with `pq_ann_recall`. A query ships only its M*K-entry LUT. The
    scored join partitions on (sub, cid) — bounded fan-out Q rows per
    code — and the final top-k is the standard per-query rank window.
    At 100 TB the codes table replaces the raw vectors for the
    candidate pass and the exact re-rank touches only the survivors.
    Output: query_id, neighbor_id, rank, adist.
    """
    cents_by_sub, codes = _pq_index_staged(emb)
    # LUT: per (query, sub) row, the distance to EVERY centroid of
    # that sub — an exploded literal array of (cid, d) structs (the
    # same exact-integer dist2 the broadcast-join build computed),
    # n_queries * M rows in, * K out. The asymmetric-distance table
    # each query ships at scale.
    lut_arr = None
    for sub, rows in sorted(cents_by_sub.items()):
        arr = F.array(
            *[
                F.struct(
                    F.lit(cid).cast("long").alias("cid"),
                    F.expr(_IDIST2.format(q="sq", c=_arr_lit(c))).alias(
                        "d"
                    ),
                )
                for cid, c in rows
            ]
        )
        lut_arr = (
            F.when(F.col("sub") == sub, arr)
            if lut_arr is None
            else lut_arr.when(F.col("sub") == sub, arr)
        )
    lut = (
        _pq_subvectors(emb)
        .filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            "sub",
            F.explode(lut_arr).alias("e"),
        )
        .select(
            "query_id",
            "sub",
            F.col("e.cid").alias("cid"),
            F.col("e.d").alias("d"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "cid"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").cast("long").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adist")
    )


def pq_ann_recall(emb: DataFrame) -> DataFrame:
    """Recall@k of the PQ index vs exact brute-force truth — same
    harness as ``ann_recall_eval`` (both sides oracle-checked)."""
    truth = _brute_topk_staged(emb).select("query_id", "neighbor_id")
    approx = pq_ann_topk(emb).select("query_id", "neighbor_id")
    hits = approx.join(truth, ["query_id", "neighbor_id"], "leftsemi")
    per_query = hits.groupBy("query_id").agg(F.count("*").alias("n_hits"))
    all_queries = truth.select("query_id").distinct()
    return all_queries.join(per_query, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.round(
            F.coalesce("n_hits", F.lit(0)) / F.lit(TOP_K), 4
        ).alias("recall_at_k"),
    )


def oracle_pq_ann_topk(
    n_queries: int = N_QUERIES, k: int = TOP_K
) -> str:
    """Recursive-CTE replay of the per-subspace codebook training plus
    the ADC scoring pipeline (requires WITH RECURSIVE)."""
    d2 = (
        f"list_sum(list_transform(range(1, {PQ_SUB_DIMS + 1}),"
        " j -> (p.sq[j] - t.c[j]) * (p.sq[j] - t.c[j])))"
    )
    return f"""
pq_q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> CAST(floor(x * {KM_SCALE}.0) AS BIGINT)) AS q
  FROM embeddings
),
pq_sv AS (
  SELECT vec_id, CAST(s AS INT) AS sub,
         list_slice(q, {PQ_SUB_DIMS} * s + 1,
                    {PQ_SUB_DIMS} * s + {PQ_SUB_DIMS}) AS sq
  FROM pq_q, LATERAL unnest(range(0, {PQ_M})) AS g(s)
),
pq_iter(iter, sub, cid, c) AS (
  SELECT 0, sub, cid, sq FROM (
    SELECT sub,
           CAST(row_number() OVER (PARTITION BY sub
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS BIGINT) AS cid, sq
    FROM pq_sv
    QUALIFY row_number() OVER (PARTITION BY sub
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {PQ_K})
  UNION ALL
  SELECT iter + 1, sub, best_cid, list(m ORDER BY i) FROM (
    SELECT iter, sub, best_cid, i,
           CAST(floor(sum(sq[i]) / count(*)) AS BIGINT) AS m
    FROM (
      SELECT p.vec_id, p.sub, p.sq, t.iter,
             CAST(min({d2} * 256 + t.cid) AS BIGINT) % 256 AS best_cid
      FROM pq_sv p JOIN pq_iter t
        ON t.sub = p.sub AND t.iter < {PQ_ITERS}
      GROUP BY p.vec_id, p.sub, p.sq, t.iter
    ), LATERAL unnest(range(1, {PQ_SUB_DIMS + 1})) AS g(i)
    GROUP BY iter, sub, best_cid, i
  ) GROUP BY iter, sub, best_cid
),
pq_codes AS (
  SELECT p.vec_id AS neighbor_id, p.sub,
         CAST(min({d2} * 256 + t.cid) AS BIGINT) % 256 AS cid
  FROM pq_sv p JOIN pq_iter t
    ON t.sub = p.sub AND t.iter = {PQ_ITERS}
  GROUP BY p.vec_id, p.sub
),
pq_lut AS (
  SELECT p.vec_id AS query_id, p.sub, t.cid,
         CAST({d2} AS BIGINT) AS d
  FROM pq_sv p JOIN pq_iter t
    ON t.sub = p.sub AND t.iter = {PQ_ITERS}
  WHERE p.vec_id < {n_queries}
),
pq_scored AS (
  SELECT l.query_id, c.neighbor_id, CAST(sum(l.d) AS BIGINT) AS adist
  FROM pq_codes c JOIN pq_lut l ON l.sub = c.sub AND l.cid = c.cid
  WHERE l.query_id <> c.neighbor_id
  GROUP BY l.query_id, c.neighbor_id
),
pq_ann_topk AS (
  SELECT query_id, neighbor_id, rank, adist FROM (
    SELECT query_id, neighbor_id, adist,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY adist, neighbor_id) AS INT) AS rank
    FROM pq_scored
  ) WHERE rank <= {k}
)
"""


ORACLE_PQ_RECALL = f"""
pqr_q AS (SELECT DISTINCT query_id FROM brute_force_topk),
pqr_h AS (
  SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM pq_ann_topk i
  WHERE EXISTS (SELECT 1 FROM brute_force_topk b
                WHERE b.query_id = i.query_id
                  AND b.neighbor_id = i.neighbor_id)
  GROUP BY i.query_id
),
pq_ann_recall AS (
  SELECT q.query_id,
         COALESCE(h.n_hits, 0) AS n_hits,
         round(COALESCE(h.n_hits, 0) / CAST({TOP_K} AS DOUBLE), 4)
           AS recall_at_k
  FROM pqr_q q LEFT JOIN pqr_h h ON q.query_id = h.query_id
)
"""


# ---------------------------------------------------------------------------
# cross-encoder rerank stage (two-stage RAG retrieval)
# ---------------------------------------------------------------------------

RAG_RETR_K = 12   # stage-1 (bi-encoder) candidates per query
RAG_RERANK_K = 6  # stage-2 (cross-encoder) survivors per query


def rag_rerank(
    docs: DataFrame,
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    k1: int = RAG_RETR_K,
    k: int = RAG_RERANK_K,
) -> DataFrame:
    """Two-stage retrieval: cheap bi-encoder cosine retrieves ``k1``
    candidate chunks per query, then a cross-encoder scores each
    (query, chunk) PAIR jointly and reranks to the final ``k`` — the
    standard precision-recovery stage every production RAG stack runs.

    The cross-encoder stand-in is a deterministic md5-dyadic score of
    the (query_id, chunk_md5) pair — the single expression a real
    pipeline swaps for an Arrow-batched ``predict_batch_udf`` model
    call; everything around it (candidate confinement, pair schema,
    rerank window) is the production plumbing and is oracle-checked.

    Scale: the expensive stage runs on |Q| * k1 rows ONLY — the
    corpus-sized relation never reaches the cross scorer. That
    confinement (score pairs after the top-k1 window, never before)
    is the entire point of the two-stage shape; with a real model the
    pairs table repartitions to the GPU executor count and batches
    through Arrow. Output: query_id, doc_id, chunk_id, retr_rank,
    rerank, xscore.
    """
    from .textstats import chunk_documents

    chunks = chunk_documents(docs)
    cvec = F.array(*[_rag_chunk_component(j) for j in range(RAG_DIM)])
    corpus = chunks.select(
        "doc_id", "chunk_id", "chunk_md5", cvec.alias("cv")
    ).withColumn("cnorm", F.sqrt(F.expr(_DOT.format(a="cv", b="cv"))))
    queries = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr(
                f"transform(slice(embedding, 1, {RAG_DIM}),"
                " x -> CAST(x AS DOUBLE))"
            ).alias("qv"),
        )
        .withColumn("qnorm", F.sqrt(F.expr(_DOT.format(a="qv", b="qv"))))
    )
    scored = (
        F.broadcast(queries)
        .join(corpus)
        .withColumn(
            "cosine",
            F.round(
                F.expr(_DOT.format(a="qv", b="cv"))
                / (F.col("qnorm") * F.col("cnorm")),
                4,
            ),
        )
    )
    retr_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "doc_id", "chunk_id"
    )
    cand = (
        scored.withColumn("retr_rank", F.row_number().over(retr_w))
        .filter(F.col("retr_rank") <= k1)
    )
    # cross-encoder swap point: joint hash of the PAIR, not a dot of
    # two independent encodings
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("query_id").cast("string"),
                        F.col("chunk_md5"),
                        F.lit("xenc"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("bigint")
        + F.lit(1)
    ).cast("double") / F.lit(float(1 << 52))
    cand = cand.withColumn("xscore", F.round(u, 6))
    rr_w = Window.partitionBy("query_id").orderBy(
        F.col("xscore").desc(), "doc_id", "chunk_id"
    )
    return (
        cand.withColumn("rerank", F.row_number().over(rr_w))
        .filter(F.col("rerank") <= k)
        .select(
            "query_id", "doc_id", "chunk_id",
            "retr_rank", "rerank", "xscore",
        )
    )


def oracle_rag_rerank(
    n_queries: int = N_QUERIES,
    k1: int = RAG_RETR_K,
    k: int = RAG_RERANK_K,
) -> str:
    comp = ", ".join(
        f"((CAST(('0x' || substr(md5(chunk_md5 || ':{j}'), 1, 13))"
        f" AS BIGINT) + 1) / {float(1 << 52)!r}) * 2.0 - 1.0"
        for j in range(RAG_DIM)
    )
    return f"""
rr_corpus AS (
  SELECT doc_id, chunk_id, chunk_md5, [{comp}] AS cv
  FROM chunk_documents
),
rr_queries AS (
  SELECT vec_id AS query_id,
         list_transform(list_slice(embedding::DOUBLE[], 1, {RAG_DIM}),
                        x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < {n_queries}
),
rr_scored AS (
  SELECT q.query_id, c.doc_id, c.chunk_id, c.chunk_md5,
         round(list_dot_product(q.qv, c.cv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.cv, c.cv))), 4) AS cosine
  FROM rr_queries q CROSS JOIN rr_corpus c
),
rr_cand AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY cosine DESC, doc_id, chunk_id) AS retr_rank
    FROM rr_scored)
  WHERE retr_rank <= {k1}
),
rr_x AS (
  SELECT *,
         round((CAST(('0x' || substr(md5(query_id || ':' || chunk_md5
                || ':xenc'), 1, 13)) AS BIGINT) + 1)
               / {float(1 << 52)!r}, 6) AS xscore
  FROM rr_cand
),
rag_rerank AS (
  SELECT query_id, doc_id, chunk_id,
         CAST(retr_rank AS INT) AS retr_rank,
         CAST(rerank AS INT) AS rerank, xscore
  FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY xscore DESC, doc_id, chunk_id) AS rerank
    FROM rr_x)
  WHERE rerank <= {k}
)
"""


# ---------------------------------------------------------------------------
# MMR diverse retrieval (greedy maximal marginal relevance)
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.7
MMR_CAND_K = 12
MMR_PICKS = 5


def mmr_select(
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    k1: int = MMR_CAND_K,
    k: int = MMR_PICKS,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Maximal marginal relevance (Carbonell & Goldstein 1998): from
    each query's top-``k1`` relevance candidates, greedily pick ``k``
    results maximizing ``lam*rel - (1-lam)*max_sim_to_selected`` —
    the diversity-aware retrieval a plain top-k cannot express (it
    returns near-duplicate neighbors; MMR forces coverage).

    Greedy selection is inherently sequential, so the k rounds are
    UNROLLED into the plan (like PageRank's supersteps): each round
    is an anti-join (drop selected), a candidate x selected join
    bounded by |Q|*k1*round rows, a max-agg penalty, and a 1-row-per-
    query argmax window. The corpus appears only in the stage-1
    candidate retrieval; every MMR round touches candidate rows only
    — at 100 TB rounds are driver-free constant-size work, the same
    confinement argument as ``rag_rerank``. Cosines round(4) and
    scores round(6) before every comparison, so the greedy picks are
    engine-exact. Output: query_id, pick, neighbor_id, score.
    """
    vecs = emb.select(
        "vec_id", _as_double("embedding").alias("v")
    ).withColumn("norm", F.sqrt(F.expr(_DOT.format(a="v", b="v"))))
    queries = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    corpus = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("norm").alias("nnorm"),
    )
    w_rel = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), "neighbor_id"
    )
    cand = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "rel",
            F.round(
                F.expr(_DOT.format(a="qv", b="nv"))
                / (F.col("qnorm") * F.col("nnorm")),
                4,
            ),
        )
        .withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= k1)
        .select("query_id", "neighbor_id", "rel", "nv", "nnorm")
        # |Q|*k1 rows: stage once so the k unrolled rounds (whose
        # lineage would otherwise nest k deep) each read memory, not
        # the corpus
        .localCheckpoint(eager=True)
    )
    sel = (
        cand.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.lit(1).alias("pick"),
            "neighbor_id",
            F.round(F.lit(lam) * F.col("rel"), 6).alias("score"),
        )
    )
    w_score = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "neighbor_id"
    )
    for r in range(2, k + 1):
        remaining = cand.join(
            sel.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        sel_vecs = sel.select("query_id", "neighbor_id").join(
            cand.select(
                "query_id",
                "neighbor_id",
                F.col("nv").alias("sv"),
                F.col("nnorm").alias("snorm"),
            ),
            ["query_id", "neighbor_id"],
        ).select("query_id", "sv", "snorm")
        pen = (
            remaining.join(sel_vecs, "query_id")
            .withColumn(
                "sim",
                F.round(
                    F.expr(_DOT.format(a="nv", b="sv"))
                    / (F.col("nnorm") * F.col("snorm")),
                    4,
                ),
            )
            .groupBy("query_id", "neighbor_id")
            .agg(F.first("rel").alias("rel"), F.max("sim").alias("pen"))
        )
        pick = (
            pen.withColumn(
                "score",
                F.round(
                    F.lit(lam) * F.col("rel")
                    - F.lit(1.0 - lam) * F.col("pen"),
                    6,
                ),
            )
            .withColumn("rn", F.row_number().over(w_score))
            .filter(F.col("rn") == 1)
            .select(
                "query_id", F.lit(r).alias("pick"), "neighbor_id", "score"
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel


def oracle_mmr_select(
    n_queries: int = N_QUERIES,
    k1: int = MMR_CAND_K,
    k: int = MMR_PICKS,
    lam: float = MMR_LAMBDA,
) -> str:
    cos = (
        "round(list_dot_product({a}.v, {b}.v)"
        " / ({a}.norm * {b}.norm), 4)"
    )
    ctes = [
        f"""
mmr_vecs AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
),
mmr_cand AS (
  SELECT * FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {cos.format(a="q", b="c")} AS rel,
           c.v, c.norm,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {cos.format(a="q", b="c")} DESC, c.vec_id) AS rn
    FROM mmr_vecs q JOIN mmr_vecs c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {n_queries}
  ) WHERE rn <= {k1}
),
mmr_sel1 AS (
  SELECT query_id, 1 AS pick, neighbor_id,
         round({lam!r} * rel, 6) AS score
  FROM mmr_cand WHERE rn = 1
)"""
    ]
    prev_sel = "mmr_sel1"
    for r in range(2, k + 1):
        ctes.append(
            f"""
mmr_p{r} AS (
  SELECT c.query_id, c.neighbor_id, c.rel,
         max(round(list_dot_product(c.v, sc.v)
             / (c.norm * sc.norm), 4)) AS pen
  FROM mmr_cand c
  JOIN {prev_sel} s ON s.query_id = c.query_id
  JOIN mmr_cand sc ON sc.query_id = s.query_id
                  AND sc.neighbor_id = s.neighbor_id
  WHERE NOT EXISTS (SELECT 1 FROM {prev_sel} x
                    WHERE x.query_id = c.query_id
                      AND x.neighbor_id = c.neighbor_id)
  GROUP BY 1, 2, 3
),
mmr_pick{r} AS (
  SELECT query_id, {r} AS pick, neighbor_id, score FROM (
    SELECT query_id, neighbor_id,
           round({lam!r} * rel - {1.0 - lam!r} * pen, 6) AS score,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY round({lam!r} * rel - {1.0 - lam!r} * pen, 6)
                      DESC, neighbor_id) AS rn
    FROM mmr_p{r}
  ) WHERE rn = 1
),
mmr_sel{r} AS (
  SELECT * FROM {prev_sel} UNION ALL SELECT * FROM mmr_pick{r}
)"""
        )
        prev_sel = f"mmr_sel{r}"
    ctes.append(
        f"""
mmr_select AS (
  SELECT query_id, pick, neighbor_id, score FROM {prev_sel}
)"""
    )
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of lexical + semantic lists
# ---------------------------------------------------------------------------

RRF_K = 60
RRF_TOP = 10
LEX_DF_CAP = 150


def hybrid_search_rrf(
    docs: DataFrame, emb: DataFrame, n_queries: int = N_QUERIES
) -> DataFrame:
    """Hybrid search (the modern RAG retrieval default): run a LEXICAL
    ranking (distinct shared-token overlap through a df-capped
    inverted index) and a SEMANTIC ranking (exact cosine top-k) for
    the same queries, then merge with reciprocal-rank fusion
    (Cormack et al. 2009): score = sum over lists of 1/(RRF_K + rank).
    RRF needs no score calibration between the two systems — exactly
    why it is the production fusion — and its arithmetic here is
    deterministic (ranks are integers; the reciprocal sums are
    identical double expressions).

    The documents and embeddings tables are 1:1 by id, so each query
    doc contributes its text to one list and its vector to the other.
    Scale: the lexical side is posting-list confinement (only the
    query terms' postings move, hot terms df-capped); the semantic
    side is the established broadcast top-k; fusion touches two
    |Q|*k rank lists. Output: query_id, doc_id, lex_rank, sem_rank,
    rrf (round 6), rank.
    """
    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), r"\s+")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .distinct()
    )
    keep = toks.groupBy("w").agg(F.count("*").alias("df")).filter(
        F.col("df") <= LEX_DF_CAP
    )
    toks = toks.join(keep.select("w"), "w", "leftsemi")
    qt = toks.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"), "w"
    )
    overlap = (
        qt.join(toks, "w")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    w_lex = Window.partitionBy("query_id").orderBy(
        F.col("n_shared").desc(), "doc_id"
    )
    lex = (
        overlap.withColumn("lex_rank", F.row_number().over(w_lex))
        .filter(F.col("lex_rank") <= TOP_K)
        .select("query_id", "doc_id", "lex_rank")
    )
    sem = _brute_topk_staged(emb).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    fused = (
        lex.join(sem, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("sem_rank")),
                    F.lit(0.0),
                ),
                6,
            ),
        )
    )
    w_rrf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), "doc_id"
    )
    return (
        fused.withColumn("rank", F.row_number().over(w_rrf))
        .filter(F.col("rank") <= RRF_TOP)
        .select(
            "query_id", "doc_id", "lex_rank", "sem_rank", "rrf", "rank"
        )
    )


def oracle_hybrid_rrf(n_queries: int = N_QUERIES) -> str:
    return f"""
hr_toks0 AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
    FROM documents)
  WHERE w <> ''
),
hr_toks AS (
  SELECT * FROM hr_toks0
  WHERE w IN (SELECT w FROM hr_toks0 GROUP BY w
              HAVING count(*) <= {LEX_DF_CAP})
),
hr_overlap AS (
  SELECT q.doc_id AS query_id, d.doc_id,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM hr_toks q JOIN hr_toks d USING (w)
  WHERE q.doc_id < {n_queries} AND d.doc_id <> q.doc_id
  GROUP BY 1, 2
),
hr_lex AS (
  SELECT query_id, doc_id,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY n_shared DESC, doc_id) AS INT) AS lex_rank
  FROM hr_overlap
  QUALIFY row_number() OVER (PARTITION BY query_id
    ORDER BY n_shared DESC, doc_id) <= {TOP_K}
),
hr_sem AS (
  SELECT query_id, neighbor_id AS doc_id, rank AS sem_rank
  FROM brute_force_topk
),
hr_fused AS (
  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         COALESCE(l.doc_id, s.doc_id) AS doc_id,
         l.lex_rank, s.sem_rank,
         round(COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + l.lex_rank), 0.0)
               + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + s.sem_rank),
                          0.0), 6)
           AS rrf
  FROM hr_lex l FULL OUTER JOIN hr_sem s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
),
hybrid_search_rrf AS (
  SELECT query_id, doc_id, lex_rank, sem_rank, rrf,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY rrf DESC, doc_id) AS INT) AS rank
  FROM hr_fused
  QUALIFY row_number() OVER (PARTITION BY query_id
    ORDER BY rrf DESC, doc_id) <= {RRF_TOP}
)
"""


# ---------------------------------------------------------------------------
# Matryoshka-style dimension-truncation recall sweep
# ---------------------------------------------------------------------------

MRL_DIMS = (8, 16, 32, 64)


def matryoshka_recall(emb: DataFrame) -> DataFrame:
    """Dimension-truncation sweep (the Matryoshka-representation
    question): recall@k of PREFIX-dim cosine top-k against the full
    64-dim exact truth, for each dims in MRL_DIMS — the measurement
    that decides how hard an index can truncate stored vectors before
    retrieval quality pays. Plain embeddings are not MRL-trained, so
    low dims SHOULD score poorly here; the harness is the point (a
    production MRL model plugs into the same sweep unchanged).

    One plan: per dims, the established broadcast top-k on the sliced
    vector; all sweeps share the corpus scan via the unioned slice
    column. Output: dims, query_id, n_hits, recall_at_k.
    """
    truth = _brute_topk_staged(emb).select("query_id", "neighbor_id")
    out = None
    for d in MRL_DIMS:
        sliced = emb.select(
            "vec_id",
            F.expr(
                f"transform(slice(embedding, 1, {d}),"
                " x -> CAST(x AS DOUBLE))"
            ).alias("v"),
        )
        queries = sliced.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        ).withColumn("qn", _norm("qv"))
        corpus = sliced.select(
            F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")
        ).withColumn("cn", _norm("cv"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), "neighbor_id"
        )
        approx = (
            F.broadcast(queries)
            .join(corpus, F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cosine", _cosine_pre("qv", "cv", "qn", "cn"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id")
        )
        hits = approx.join(
            truth, ["query_id", "neighbor_id"], "leftsemi"
        ).groupBy("query_id").agg(F.count("*").alias("n_hits"))
        rows = (
            truth.select("query_id")
            .distinct()
            .join(hits, "query_id", "left")
            .select(
                F.lit(d).alias("dims"),
                "query_id",
                F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                F.round(
                    F.coalesce("n_hits", F.lit(0)) / F.lit(TOP_K), 4
                ).alias("recall_at_k"),
            )
        )
        out = rows if out is None else out.unionByName(rows)
    return out


def oracle_matryoshka() -> str:
    parts = []
    for d in MRL_DIMS:
        parts.append(f"""
mrl{d}_s AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(b.v, b.v))) AS cosine
  FROM (SELECT vec_id,
               list_transform(list_slice(embedding::DOUBLE[], 1, {d}),
                              x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings) a
  JOIN (SELECT vec_id,
               list_transform(list_slice(embedding::DOUBLE[], 1, {d}),
                              x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings) b
    ON a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
),
mrl{d}_t AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank
    FROM mrl{d}_s) WHERE rank <= {TOP_K}
),
mrl{d}_h AS (
  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM mrl{d}_t a
  WHERE EXISTS (SELECT 1 FROM brute_force_topk b
                WHERE b.query_id = a.query_id
                  AND b.neighbor_id = a.neighbor_id)
  GROUP BY 1
)""")
    finals = "\n  UNION ALL\n  ".join(
        f"""SELECT {d} AS dims, q.query_id,
         COALESCE(h.n_hits, 0) AS n_hits,
         round(COALESCE(h.n_hits, 0) / CAST({TOP_K} AS DOUBLE), 4)
           AS recall_at_k
  FROM (SELECT DISTINCT query_id FROM brute_force_topk) q
  LEFT JOIN mrl{d}_h h ON h.query_id = q.query_id"""
        for d in MRL_DIMS
    )
    return ",".join(parts) + f""",
matryoshka_recall AS (
  {finals}
)"""


# ---------------------------------------------------------------------------
# verified PCA: dominant principal component by power iteration
# ---------------------------------------------------------------------------

PCA_ROUNDS = 8
_PCA_DIMS = 64


def pca_gram(emb: DataFrame) -> DataFrame:
    """The EXACT-integer iteration matrix A = n*S - m m^T as a lazy
    dims^2-row frame — the one corpus-size-dependent stage of the
    verified PCA. Exposed separately so plan tests can pin the Gram
    hash-aggregation (map-side partials -> dims^2 shuffle) on the frame
    that actually scans the corpus; `pca_power_iteration` collects this
    (dims^2-bounded) and folds the power rounds on the driver."""
    qv = _km_quantized(emb)
    melted = qv.select(
        "vec_id", F.posexplode("q").alias("i", "x")
    )
    m = melted.groupBy("i").agg(F.sum("x").alias("m"))
    cnt = qv.agg(F.count("*").alias("n"))
    gram = (
        melted.alias("a")
        .join(melted.alias("b"), "vec_id")
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.x") * F.col("b.x")).alias("s"))
    )
    return (
        gram.crossJoin(F.broadcast(cnt))
        .join(F.broadcast(m.select(F.col("i"), F.col("m").alias("mi"))), "i")
        .join(
            F.broadcast(
                m.select(F.col("i").alias("j"), F.col("m").alias("mj"))
            ),
            "j",
        )
        .select(
            "i",
            "j",
            (F.col("n") * F.col("s") - F.col("mi") * F.col("mj")).alias(
                "aij"
            ),
        )
    )


def pca_power_iteration(
    emb: DataFrame, rounds: int = PCA_ROUNDS
) -> DataFrame:
    """Verified PCA: the dominant principal component of the embedding
    corpus by power iteration, with the whole trajectory — explained
    -variance ratio per round, argmax loading — engine-exact under the
    hash gate. Dimensionality reduction is how a training-data
    pipeline audits embedding collapse (one direction swallowing the
    variance) and picks truncation dims; MLlib's PCA is SVD-based and
    not replayable cross-engine, so this is the verified sibling.

    Exactness scheme: vectors quantize to BIGINT (``KM_SCALE``, shared
    with k-means); the iteration matrix A = n*S - m m^T (S = raw
    second-moment matrix, m = column sums) is EXACT integer — same
    eigenvectors as the covariance (positive scale n^2). Float enters
    only in the matvec; the iterate re-rounds to 12 dp after each
    normalization, absorbing fold-order ulps (values O(0.1), noise
    O(1e-16)). Init = uniform 1/sqrt(64) (exact double 0.125).

    Scale: ONE Gram-matrix aggregation reduces the corpus to the
    dims^2 = 4096-row A (the classic outer-product hash-agg — map-side
    combine makes the shuffle dims^2 per partition, corpus-size
    independent); every power round then runs on 4096 x 64 rows,
    costing nothing at any corpus size. This is exactly how
    distributed PCA computes the covariance at 100 TB; only the
    eigen-solve differs (more components = deflation or block
    iteration, same plan shape).

    Output per round: round, evr (Rayleigh quotient / trace — the
    explained-variance ratio of the current iterate), top_dim,
    top_loading.
    """
    # Known rounding-boundary risk (r9 ADVICE, documented): evr/nrm are
    # unrounded double folds, now in fixed sorted-dim order where Spark's
    # partial aggregation order was nondeterministic. A value landing
    # within ~1e-16 of a 6-dp rounding boundary could flip the last
    # digit vs the oracle at some other scale factor; the 12-dp iterate
    # re-round per round is what bounds the drift (same argument that
    # made the nondeterministic Spark fold match DuckDB at every SF).
    a = pca_gram(emb).localCheckpoint(eager=True)
    # r9 optimization (guide §1.2): the 8 power rounds iterate a
    # dims-grain state (64 doubles) against the EXACT-integer 4096-row
    # A — bounded by the embedding dimensionality, never by corpus
    # size (the same bounded-driver-collect class as Lloyd's k x dims
    # centroids). Run as unrolled Spark rounds they cost ~90 AQE
    # stage-jobs + a per-round eager checkpoint (~3.5 s at sf0.1) to
    # fold a 64x64 matvec. The Python fold below replays the identical
    # recurrence: aij are exact BIGINTs, the iterate re-rounds to
    # 12 dp after each normalization exactly as before — the rounding
    # that, by design, absorbs fold-order ulps (values O(0.1), noise
    # O(1e-16)), which is also why the Spark agg matched the
    # DuckDB-ordered oracle in the first place. Every OUTPUT rounding
    # (6 dp) stays in Spark expressions on the emitted literals.
    a_rows = a.collect()
    dims = sorted({r["i"] for r in a_rows})
    amat = {(r["i"], r["j"]): r["aij"] for r in a_rows}
    tr_int = sum(amat.get((i, i), 0) for i in dims)
    vvec = {i: 0.125 for i in dims}
    spark = emb.sparkSession
    out_rows = []
    for rnd in range(1, rounds + 1):
        av = {
            i: sum(
                amat.get((i, j), 0) * vvec[j] for j in dims
            )
            for i in dims
        }
        evr = sum(av[i] * vvec[i] for i in dims) / float(tr_int)
        nrm = math.sqrt(sum(av[i] * av[i] for i in dims))
        vvec = {i: round(av[i] / nrm, 12) for i in dims}
        top_dim = max(dims, key=lambda i: (abs(vvec[i]), -i))
        out_rows.append((rnd, evr, top_dim, vvec[top_dim]))
    return spark.createDataFrame(
        out_rows,
        "round int, evr double, top_dim int, top_loading double",
    ).select(
        "round",
        F.round("evr", 6).alias("evr"),
        "top_dim",
        F.round("top_loading", 6).alias("top_loading"),
    )


def oracle_pca_power(rounds: int = PCA_ROUNDS) -> str:
    """Unrolled power-iteration oracle. CTEs are MATERIALIZED: each
    round references the previous iterate twice (matvec + Rayleigh),
    so default inlining would expand the plan 2^rounds-fold — the
    DuckDB twin of the Spark side's per-round localCheckpoint."""
    parts = [
        f"""
pca_m AS MATERIALIZED (
  SELECT vec_id, i,
         CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * {KM_SCALE}.0)
              AS BIGINT) AS x
  FROM embeddings, LATERAL unnest(range(0, {_PCA_DIMS})) AS t(i)
),
pca_cnt AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM pca_m),
pca_mm AS (SELECT i, sum(x) AS m FROM pca_m GROUP BY 1),
pca_a AS MATERIALIZED (
  SELECT s.i, s.j,
         (SELECT n FROM pca_cnt) * s.s - ma.m * mb.m AS aij
  FROM (
    SELECT a.i, b.i AS j, sum(a.x * b.x) AS s
    FROM pca_m a JOIN pca_m b USING (vec_id) GROUP BY 1, 2
  ) s
  JOIN pca_mm ma ON ma.i = s.i
  JOIN pca_mm mb ON mb.i = s.j
),
pca_tr AS MATERIALIZED (SELECT sum(aij) AS tr FROM pca_a WHERE i = j),
pca_v0 AS MATERIALIZED (SELECT i, CAST(0.125 AS DOUBLE) AS v FROM pca_mm)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
pca_av{r} AS MATERIALIZED (
  SELECT a.i, sum(a.aij * v.v) AS av
  FROM pca_a a JOIN pca_v{r - 1} v ON a.j = v.i GROUP BY 1
),
pca_ray{r} AS (
  SELECT round(sum(av.av * v.v) / (SELECT tr FROM pca_tr), 6) AS evr
  FROM pca_av{r} av JOIN pca_v{r - 1} v USING (i)
),
pca_n{r} AS MATERIALIZED (SELECT sqrt(sum(av * av)) AS nrm FROM pca_av{r}),
pca_v{r} AS MATERIALIZED (
  SELECT i, round(av / (SELECT nrm FROM pca_n{r}), 12) AS v
  FROM pca_av{r}
),
pca_top{r} AS (
  SELECT i AS top_dim, round(v, 6) AS top_loading FROM pca_v{r}
  QUALIFY row_number() OVER (ORDER BY abs(v) DESC, i) = 1
)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT {r} AS round, (SELECT evr FROM pca_ray{r}) AS evr,"
        f" top_dim, top_loading FROM pca_top{r}"
        for r in range(1, rounds + 1)
    )
    return ",".join(parts) + f""",
pca_power_iteration AS (
  {union}
)"""


# ---------------------------------------------------------------------------
# [EXT] graph-based ANN: bounded beam search over a navigable
# two-layer neighbor graph (the HNSW idea, re-expressed as fixed
# unrolled rounds of joins so it is distributed AND oracle-replayable)
# ---------------------------------------------------------------------------

#: navigation (centroid) layer: out-degree and beam schedule.
GANN_NAV_DEGREE = 4
GANN_NAV_ROUNDS = 3
GANN_NAV_BEAM = 4
#: base (node) layer: within-cell kNN out-degree and beam schedule.
GANN_NODE_DEGREE = 6
GANN_NODE_ROUNDS = 3
GANN_BEAM = 12


def _gann_index(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Session-staged (edges, cents) of `_gann_index_build`."""
    return _stage(
        "gann_index", emb, lambda: _gann_index_build(emb), checkpoint=False
    )


def _gann_index_build(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Build (edges, cents) for the two-layer navigable graph.

    Node layer: each vector points at its ``GANN_NODE_DEGREE`` nearest
    IVF-cell-mates (exact cosine INSIDE the cell only — the SemDeDup
    bound: work is sum of cell_size^2, never corpus^2). Centroid
    layer: each centroid points at its ``GANN_NAV_DEGREE`` nearest
    centroids; centroids are ~sqrt(N) so the all-pairs step costs one
    corpus-scan equivalent (at larger N, apply the same IVF trick
    recursively — noted, not needed at fixture scale). Both layers
    are session-staged: the beam rounds below re-read them R times.

    HNSW itself is a sequential insert loop (each insert searches the
    graph built so far) — inherently driver-coordinated, the shape
    this engine rejects. The two-layer navigable graph + beam search
    keeps HNSW's query-time character (greedy coarse descent, then
    local expansion) with a fully declarative, bounded-round build.
    """
    asn = _assignment_staged(emb)  # vec_id, v, centroid_id
    a = asn.select(
        "centroid_id", F.col("vec_id").alias("src"), F.col("v").alias("av")
    ).withColumn("an", _norm("av"))
    b = asn.select(
        "centroid_id", F.col("vec_id").alias("dst"), F.col("v").alias("bv")
    ).withColumn("bn", _norm("bv"))
    cell_pairs = (
        a.join(b, "centroid_id")
        .filter(F.col("src") != F.col("dst"))
        .withColumn("s", _cosine_pre("av", "bv", "an", "bn"))
    )
    wn = Window.partitionBy("src").orderBy(F.col("s").desc(), F.col("dst"))
    cell_edges = (
        cell_pairs.withColumn("r", F.row_number().over(wn))
        .filter(F.col("r") <= GANN_NODE_DEGREE)
        .select("src", "dst")
    )
    cents = _ivf_centroids(emb)
    ca = cents.select(
        F.col("centroid_id").alias("src"),
        F.col("centv").alias("av"),
        F.col("centnorm").alias("an"),
    )
    cb = cents.select(
        F.col("centroid_id").alias("dst"),
        F.col("centv").alias("bv"),
        F.col("centnorm").alias("bn"),
    )
    cg_pairs = (
        ca.join(F.broadcast(cb), F.col("src") != F.col("dst"))
        .withColumn(
            "s",
            F.expr(_DOT.format(a="av", b="bv"))
            / (F.col("an") * F.col("bn")),
        )
    )
    cg_edges = (
        cg_pairs.withColumn("r", F.row_number().over(wn))
        .filter(F.col("r") <= GANN_NAV_DEGREE)
        .select("src", "dst")
    )
    edges = (
        cell_edges.unionByName(cg_edges)
        .distinct()
        .localCheckpoint(eager=True)
    )
    return edges, cents.localCheckpoint(eager=True)


def graph_ann_topk(
    emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Session-staged `graph_ann_topk_plan` result (see that docstring
    for the search itself); the per-round checkpointed supersteps run
    once per (embedding, n_queries, k) and every consumer reads the
    materialized n_queries x k table. FOUR consumers share it:
    `ann_graph_beam`, `graph_ann_recall`, `retrieval_eval_report`, and
    the lint's plan build (r9, guide §1.2)."""
    return _stage(
        "gann_topk", emb, lambda: graph_ann_topk_plan(emb, n_queries, k),
        n_queries, k,
    )


def graph_ann_topk_plan(
    emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Graph-ANN query: greedy coarse descent on the centroid layer
    (fixed entry = lowest centroid_id, ``GANN_NAV_ROUNDS`` rounds of
    expand-score-prune at beam ``GANN_NAV_BEAM``), then a node-layer
    beam (``GANN_NODE_ROUNDS`` rounds at beam ``GANN_BEAM``) seeded at
    the surviving centroids — which are corpus nodes themselves
    (vec_id % IVF_STRIDE == 0). Output: query_id, neighbor_id, rank,
    cosine (rounded 6, repo float rule).

    Scale: per-round work is n_queries x beam x degree rows — the
    frontier is broadcast-sized by construction; the corpus is touched
    only through the staged edge/vector joins (hash joins on vec_id).
    Every round is one join + one window over a frontier partitioned
    by query_id; rounds are fixed, so the whole search is ONE logical
    plan — no driver loop over data-dependent state.
    """
    edges, cents = _gann_index(emb)
    vecs = emb.select("vec_id", _as_double("embedding").alias("v"))
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        _as_double("embedding").alias("qv"),
    )
    # norms once per side for the node-layer scoring (see _norm)
    vecs_n = vecs.withColumn("vn", _norm("v"))
    queries_n = queries.withColumn("qn", _norm("qv"))
    entry = cents.agg(F.min("centroid_id").alias("cid"))
    nav = F.broadcast(queries.select("query_id")).crossJoin(
        F.broadcast(entry)
    )
    wq_c = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("cid")
    )
    for _ in range(GANN_NAV_ROUNDS):
        expanded = nav.join(
            edges, nav.cid == edges.src
        ).select("query_id", F.col("dst").alias("cid"))
        cand = nav.select("query_id", "cid").unionByName(expanded).distinct()
        scored = (
            cand.join(
                F.broadcast(cents), cand.cid == cents.centroid_id
            )
            .join(F.broadcast(queries), "query_id")
            .withColumn(
                "s",
                F.expr(_DOT.format(a="qv", b="centv")) / F.col("centnorm"),
            )
        )
        # each round references the previous frontier TWICE (carry +
        # expand) — unchecked, the logical plan doubles per round
        # (2^rounds subplan copies; the plan linter measured 64 BNL
        # nodes at 3+3 rounds). The frontier is n_queries x beam rows
        # (tiny), so an eager checkpoint per round keeps the plan
        # linear for the price of a millisecond job.
        nav = (
            scored.withColumn("r", F.row_number().over(wq_c))
            .filter(F.col("r") <= GANN_NAV_BEAM)
            .select("query_id", "cid")
            .localCheckpoint(eager=True)
        )
    frontier = nav.select("query_id", F.col("cid").alias("node"))
    wq_n = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("node")
    )
    for _ in range(GANN_NODE_ROUNDS):
        expanded = frontier.join(
            edges, frontier.node == edges.src
        ).select("query_id", F.col("dst").alias("node"))
        cand = (
            frontier.select("query_id", "node")
            .unionByName(expanded)
            .distinct()
        )
        scored = (
            cand.join(vecs_n, cand.node == vecs_n.vec_id)
            .join(F.broadcast(queries_n), "query_id")
            .withColumn("s", _cosine_pre("qv", "v", "qn", "vn"))
        )
        frontier = (
            scored.withColumn("r", F.row_number().over(wq_n))
            .filter(F.col("r") <= GANN_BEAM)
            .select("query_id", "node", "s")
            .localCheckpoint(eager=True)
        )
    out = frontier.filter(F.col("node") != F.col("query_id"))
    wk = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("node")
    )
    return (
        out.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("node").alias("neighbor_id"),
            "rank",
            F.round("s", 6).alias("cosine"),
        )
    )


def graph_ann_recall(emb: DataFrame) -> DataFrame:
    """Recall@k of the graph-ANN beam against exact brute force — the
    same harness every other index here ships (ann_recall_eval /
    rp_ann_recall / matryoshka): approximate indexes are graded, not
    trusted."""
    truth = _brute_topk_staged(emb).select("query_id", "neighbor_id")
    approx = graph_ann_topk(emb).select("query_id", "neighbor_id")
    hits = approx.join(truth, ["query_id", "neighbor_id"], "leftsemi")
    per_query = hits.groupBy("query_id").agg(F.count("*").alias("n_hits"))
    all_queries = truth.select("query_id").distinct()
    return all_queries.join(per_query, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.round(F.coalesce("n_hits", F.lit(0)) / F.lit(TOP_K), 4).alias(
            "recall_at_k"
        ),
    )


def oracle_graph_ann_topk() -> str:
    """Full construction + search replay: cell kNN edges, centroid
    graph, greedy nav rounds, node beam rounds — each round CTE is
    MATERIALIZED (referenced twice: carried into the union AND
    expanded; default inlining would go 2^rounds)."""
    cos_qn = _ORACLE_COS.format(a="q.qv", b="x.v")
    parts = [
        f"""
gav AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
gacent AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS centnorm
  FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0
),
gaasn AS MATERIALIZED (
  SELECT vec_id, v, centroid_id FROM (
    SELECT x.vec_id, x.v, c.centroid_id,
           row_number() OVER (
             PARTITION BY x.vec_id
             ORDER BY list_dot_product(x.v, c.centv) / c.centnorm DESC,
                      c.centroid_id) AS crank
    FROM gav x, gacent c
  ) WHERE crank = 1
),
gace AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_ORACLE_COS.format(a="a.v", b="b.v")} DESC,
                      b.vec_id) AS r
    FROM gaasn a JOIN gaasn b ON a.centroid_id = b.centroid_id
    WHERE a.vec_id <> b.vec_id
  ) WHERE r <= {GANN_NODE_DEGREE}
),
gacg AS (
  SELECT src, dst FROM (
    SELECT a.centroid_id AS src, b.centroid_id AS dst,
           row_number() OVER (
             PARTITION BY a.centroid_id
             ORDER BY list_dot_product(a.centv, b.centv)
                      / (a.centnorm * b.centnorm) DESC,
                      b.centroid_id) AS r
    FROM gacent a, gacent b
    WHERE a.centroid_id <> b.centroid_id
  ) WHERE r <= {GANN_NAV_DEGREE}
),
gaedges AS MATERIALIZED (
  SELECT src, dst FROM gace UNION SELECT src, dst FROM gacg
),
gaq AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
ganav0 AS MATERIALIZED (
  SELECT query_id, (SELECT min(centroid_id) FROM gacent) AS cid
  FROM gaq
)"""
    ]
    for r in range(1, GANN_NAV_ROUNDS + 1):
        parts.append(
            f"""
ganav{r} AS MATERIALIZED (
  SELECT query_id, cid FROM (
    SELECT cand.query_id, cand.cid,
           row_number() OVER (
             PARTITION BY cand.query_id
             ORDER BY list_dot_product(q.qv, c.centv) / c.centnorm DESC,
                      cand.cid) AS r
    FROM (
      SELECT DISTINCT query_id, cid FROM (
        SELECT query_id, cid FROM ganav{r - 1}
        UNION ALL
        SELECT n.query_id, e.dst AS cid
        FROM ganav{r - 1} n JOIN gaedges e ON n.cid = e.src
      )
    ) cand
    JOIN gacent c ON cand.cid = c.centroid_id
    JOIN gaq q ON cand.query_id = q.query_id
  ) WHERE r <= {GANN_NAV_BEAM}
)"""
        )
    parts.append(
        f"""
gab0 AS MATERIALIZED (
  SELECT query_id, cid AS node FROM ganav{GANN_NAV_ROUNDS}
)"""
    )
    for r in range(1, GANN_NODE_ROUNDS + 1):
        parts.append(
            f"""
gab{r} AS MATERIALIZED (
  SELECT query_id, node, s FROM (
    SELECT cand.query_id, cand.node, {cos_qn} AS s,
           row_number() OVER (
             PARTITION BY cand.query_id
             ORDER BY {cos_qn} DESC, cand.node) AS r
    FROM (
      SELECT DISTINCT query_id, node FROM (
        SELECT query_id, node FROM gab{r - 1}
        UNION ALL
        SELECT f.query_id, e.dst AS node
        FROM gab{r - 1} f JOIN gaedges e ON f.node = e.src
      )
    ) cand
    JOIN gav x ON cand.node = x.vec_id
    JOIN gaq q ON cand.query_id = q.query_id
  ) WHERE r <= {GANN_BEAM}
)"""
    )
    parts.append(
        f"""
graph_ann_topk AS (
  SELECT query_id, node AS neighbor_id, CAST(rank AS INT) AS rank,
         round(s, 6) AS cosine
  FROM (
    SELECT query_id, node, s,
           row_number() OVER (
             PARTITION BY query_id ORDER BY s DESC, node) AS rank
    FROM gab{GANN_NODE_ROUNDS}
    WHERE node <> query_id
  ) WHERE rank <= {TOP_K}
)"""
    )
    return ",".join(parts)


def oracle_graph_ann_recall() -> str:
    return (
        oracle_graph_ann_topk()
        + ","
        + ORACLE_BRUTE_FORCE_TOPK
        + f""",
garq AS (SELECT DISTINCT query_id FROM brute_force_topk),
garh AS (
  SELECT g.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM graph_ann_topk g
  WHERE EXISTS (SELECT 1 FROM brute_force_topk b
                WHERE b.query_id = g.query_id
                  AND b.neighbor_id = g.neighbor_id)
  GROUP BY g.query_id
),
graph_ann_recall AS (
  SELECT q.query_id,
         COALESCE(h.n_hits, 0) AS n_hits,
         round(COALESCE(h.n_hits, 0) / CAST({TOP_K} AS DOUBLE), 4)
           AS recall_at_k
  FROM garq q LEFT JOIN garh h ON q.query_id = h.query_id
)"""
    )


# ---------------------------------------------------------------------------
# simplified (centroid-based) silhouette for the IVF cells
# ---------------------------------------------------------------------------


def cell_silhouette(emb: DataFrame) -> DataFrame:
    """Simplified silhouette (the centroid-based variant every
    large-scale clustering eval uses — exact silhouette is all-pairs):
    per vector a = cosine distance to its own centroid, b = distance
    to the runner-up centroid, s = (b - a) / max(a, b); rolled up per
    cell plus an overall row (cell = -1). The quality score that
    decides whether an IVF/k-means partitioning is worth its salt.

    Scale: score vs the broadcast centroid table (~sqrt(N) rows), one
    rank-2 window per vector (C candidates per partition), one
    cell-grain agg — the same N*C shape as IVF assignment itself.
    Output: cell, n_vectors, avg_sil (round 6).
    """
    # r10 (guide §4, the r9 cosine-family hoist): sqrt(dot(v,v)) was
    # re-folded per (vector, centroid) PAIR inside the broadcast cross
    # — C interpreted higher-order folds per vector instead of one.
    # Hoisted to once per vector before the join; cos keeps the exact
    # expression tree dot / (vnorm * centnorm), so every float is
    # bit-identical.
    vecs = emb.select(
        "vec_id", _as_double("embedding").alias("v")
    ).withColumn("vnorm", F.sqrt(F.expr(_DOT.format(a="v", b="v"))))
    cents = _ivf_centroids(emb)
    scored = (
        vecs.join(F.broadcast(cents))
        .withColumn(
            "cos",
            F.expr(_DOT.format(a="v", b="centv"))
            / (F.col("vnorm") * F.col("centnorm")),
        )
        .select("vec_id", "centroid_id", "cos")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("centroid_id")
    )
    top2 = scored.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= 2
    )
    per_vec = top2.groupBy("vec_id").agg(
        F.max(F.when(F.col("r") == 1, F.col("centroid_id"))).alias(
            "cell"
        ),
        F.max(F.when(F.col("r") == 1, F.lit(1.0) - F.col("cos"))).alias(
            "a"
        ),
        F.max(F.when(F.col("r") == 2, F.lit(1.0) - F.col("cos"))).alias(
            "b"
        ),
    )
    sil = per_vec.select(
        "cell",
        (
            (F.col("b") - F.col("a"))
            / F.greatest(F.col("a"), F.col("b"))
        ).alias("s"),
    )
    per_cell = sil.groupBy("cell").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.avg("s"), 6).alias("avg_sil"),
    )
    overall = sil.agg(
        F.lit(-1).cast("bigint").alias("cell"),
        F.count("*").alias("n_vectors"),
        F.round(F.avg("s"), 6).alias("avg_sil"),
    )
    return per_cell.unionByName(overall)


ORACLE_CELL_SILHOUETTE = f"""
cs_v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cs_c AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS centnorm
  FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0
),
cs_top2 AS (
  SELECT vec_id, centroid_id, cos, r FROM (
    SELECT x.vec_id, c.centroid_id,
           list_dot_product(x.v, c.centv)
             / (sqrt(list_dot_product(x.v, x.v)) * c.centnorm) AS cos,
           row_number() OVER (
             PARTITION BY x.vec_id
             ORDER BY list_dot_product(x.v, c.centv)
                      / (sqrt(list_dot_product(x.v, x.v)) * c.centnorm)
                      DESC, c.centroid_id) AS r
    FROM cs_v x, cs_c c
  ) WHERE r <= 2
),
cs_pv AS (
  SELECT vec_id,
         max(CASE WHEN r = 1 THEN centroid_id END) AS cell,
         max(CASE WHEN r = 1 THEN 1.0 - cos END) AS a,
         max(CASE WHEN r = 2 THEN 1.0 - cos END) AS b
  FROM cs_top2 GROUP BY 1
),
cs_s AS (
  SELECT cell, (b - a) / greatest(a, b) AS s FROM cs_pv
),
cell_silhouette AS (
  SELECT CAST(cell AS BIGINT) AS cell,
         CAST(count(*) AS BIGINT) AS n_vectors,
         round(avg(s), 6) AS avg_sil
  FROM cs_s GROUP BY 1
  UNION ALL
  SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
         round(avg(s), 6)
  FROM cs_s
)
"""


# ---------------------------------------------------------------------------
# embedding distribution drift (deploy-monitoring for the vector space)
# ---------------------------------------------------------------------------

EMB_DIMS = 64


def embedding_drift_report(emb: DataFrame) -> DataFrame:
    """Embedding-space drift between two corpus halves (vec_id parity
    stands in for old-batch/new-batch) — the vector-space companion
    of the scalar PSI/KS drift reports: when the embedding model or
    upstream content shifts, the per-dimension mean vector moves, and
    this report quantifies it — cosine between the two mean vectors,
    L2 shift, and the worst-shifted dimension.

    Exactness protocol: per-(half, dim) component sums are rounded at
    6dp (fold-order noise ~1e-13 at these magnitudes), means at 9dp;
    the 64-term cosine/L2 folds run over the tiny mean table. Scale:
    one (half, dim) hash-agg over the exploded corpus — 128 output
    rows regardless of corpus size. Output (stat, value): n_a, n_b,
    mean_cosine, l2_shift, max_dim_shift, max_dim.
    """
    ex = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(_as_double("embedding")).alias("dim", "v"),
    )
    means = (
        ex.groupBy("half", "dim")
        .agg(F.round(F.sum("v"), 6).alias("s"), F.count("*").alias("n"))
        .select(
            "half",
            "dim",
            F.round(F.col("s") / F.col("n"), 9).alias("m"),
        )
    )
    piv = means.groupBy("dim").agg(
        F.max(F.when(F.col("half") == 0, F.col("m"))).alias("ma"),
        F.max(F.when(F.col("half") == 1, F.col("m"))).alias("mb"),
    )
    stats = piv.agg(
        F.sum(F.col("ma") * F.col("mb")).alias("dot"),
        F.sum(F.col("ma") * F.col("ma")).alias("na2"),
        F.sum(F.col("mb") * F.col("mb")).alias("nb2"),
        F.sum(
            (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))
        ).alias("l2sq"),
        F.max(F.abs(F.col("ma") - F.col("mb"))).alias("max_shift"),
        # tie-break packed into one double key (means are 9dp-
        # quantized, so distinct shifts differ by >= ~1e-9; the 1e12
        # scale dwarfs the dim penalty) — DuckDB arg_max rejects
        # struct keys, so both engines use the identical scalar key
        F.expr("max_by(dim, abs(ma - mb) * 1e12 - dim)").alias(
            "max_dim"
        ),
    )
    counts = emb.groupBy((F.col("vec_id") % 2).alias("half")).count()
    n_a = counts.filter(F.col("half") == 0).select(
        F.col("count").alias("n_a")
    )
    n_b = counts.filter(F.col("half") == 1).select(
        F.col("count").alias("n_b")
    )
    return (
        stats.crossJoin(F.broadcast(n_a))
        .crossJoin(F.broadcast(n_b))
        .selectExpr(
            "stack(6,"
            " 'n_a', CAST(n_a AS DOUBLE),"
            " 'n_b', CAST(n_b AS DOUBLE),"
            " 'mean_cosine', round(dot / (sqrt(na2) * sqrt(nb2)), 6),"
            " 'l2_shift', round(sqrt(l2sq), 6),"
            " 'max_dim_shift', round(max_shift, 6),"
            " 'max_dim', CAST(max_dim AS DOUBLE)) AS (stat, value)"
        )
    )


ORACLE_EMBEDDING_DRIFT = f"""
ed_ex AS (
  SELECT vec_id % 2 AS half, i AS dim,
         CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, LATERAL unnest(range(0, {EMB_DIMS})) AS t(i)
),
ed_means AS (
  SELECT half, dim, round(round(sum(v), 6) / count(*), 9) AS m
  FROM ed_ex GROUP BY 1, 2
),
ed_piv AS (
  SELECT dim,
         max(CASE WHEN half = 0 THEN m END) AS ma,
         max(CASE WHEN half = 1 THEN m END) AS mb
  FROM ed_means GROUP BY 1
),
ed_stats AS (
  SELECT sum(ma * mb) AS dot, sum(ma * ma) AS na2,
         sum(mb * mb) AS nb2,
         sum((ma - mb) * (ma - mb)) AS l2sq,
         max(abs(ma - mb)) AS max_shift,
         arg_max(dim, abs(ma - mb) * 1e12 - dim) AS max_dim
  FROM ed_piv
),
ed_counts AS (
  SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b
  FROM embeddings
),
embedding_drift_report AS (
  SELECT 'n_a' AS stat, CAST(n_a AS DOUBLE) AS value
  FROM ed_counts
  UNION ALL SELECT 'n_b', CAST(n_b AS DOUBLE) FROM ed_counts
  UNION ALL SELECT 'mean_cosine',
    round(dot / (sqrt(na2) * sqrt(nb2)), 6) FROM ed_stats
  UNION ALL SELECT 'l2_shift', round(sqrt(l2sq), 6) FROM ed_stats
  UNION ALL SELECT 'max_dim_shift', round(max_shift, 6) FROM ed_stats
  UNION ALL SELECT 'max_dim', CAST(max_dim AS DOUBLE) FROM ed_stats
)
"""


# ---------------------------------------------------------------------------
# retrieval evaluation: NDCG@k + MRR vs exact ground truth
# ---------------------------------------------------------------------------


def retrieval_eval_report(emb: DataFrame) -> DataFrame:
    """Graded ranking evaluation of the approximate indexes against
    exact cosine truth — recall@k (already shipped per index) says
    WHETHER the right documents surface; NDCG@k and MRR say WHERE.
    Relevance grades derive from the exact ranking (rel = k+1-rank
    for the true top-k, 0 otherwise); per query
    DCG = sum rel_i / log2(i+1) over the APPROX ranking, IDCG over
    the ideal (= exact) ranking, and MRR uses the first relevant hit.

    Everything is joins/aggs on the k-row-per-query result tables —
    evaluation cost is independent of corpus size. log2 terms are
    libm-deterministic constants; per-query ratios round at 9dp,
    system means at 6dp. Output per system: system, n_queries,
    mean_ndcg, mrr.
    """
    truth = _brute_topk_staged(emb).select(
        "query_id",
        "neighbor_id",
        (F.lit(TOP_K + 1) - F.col("rank")).alias("rel"),
        F.col("rank").alias("ideal_rank"),
    )
    idcg = truth.groupBy("query_id").agg(
        F.sum(
            F.col("rel") / F.log2(F.col("ideal_rank") + 1)
        ).alias("idcg")
    )
    systems = {
        "ivf": ivf_ann_topk(emb),
        "graph_beam": graph_ann_topk(emb),
    }
    out = None
    for name, approx in systems.items():
        scored = (
            approx.select("query_id", "neighbor_id", "rank")
            .join(
                truth.select("query_id", "neighbor_id", "rel"),
                ["query_id", "neighbor_id"],
                "left",
            )
            .select(
                "query_id",
                "rank",
                F.coalesce("rel", F.lit(0)).alias("rel"),
            )
        )
        per_q = (
            scored.groupBy("query_id")
            .agg(
                F.sum(
                    F.col("rel") / F.log2(F.col("rank") + 1)
                ).alias("dcg"),
                F.min(
                    F.when(F.col("rel") > 0, F.col("rank"))
                ).alias("first_hit"),
            )
            .join(idcg, "query_id")
            .select(
                "query_id",
                F.round(F.col("dcg") / F.col("idcg"), 9).alias("ndcg"),
                F.coalesce(
                    F.lit(1.0) / F.col("first_hit"), F.lit(0.0)
                ).alias("rr"),
            )
        )
        row = per_q.agg(
            F.lit(name).alias("system"),
            F.count("*").alias("n_queries"),
            F.round(F.avg("ndcg"), 6).alias("mean_ndcg"),
            F.round(F.avg("rr"), 6).alias("mrr"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def oracle_retrieval_eval() -> str:
    return (
        ORACLE_BRUTE_FORCE_TOPK
        + ","
        + oracle_ivf_ann_topk().strip().lstrip(",")
        + ","
        + oracle_graph_ann_topk()
        + f""",
re_truth AS (
  SELECT query_id, neighbor_id, {TOP_K + 1} - rank AS rel,
         rank AS ideal_rank
  FROM brute_force_topk
),
re_idcg AS (
  SELECT query_id, sum(rel / log2(ideal_rank + 1)) AS idcg
  FROM re_truth GROUP BY 1
),
re_sys AS (
  SELECT 'ivf' AS system, query_id, neighbor_id, rank
  FROM ivf_ann_topk
  UNION ALL
  SELECT 'graph_beam', query_id, neighbor_id, rank
  FROM graph_ann_topk
),
re_scored AS (
  SELECT s.system, s.query_id, s.rank, COALESCE(t.rel, 0) AS rel
  FROM re_sys s
  LEFT JOIN re_truth t
    ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id
),
re_perq AS (
  SELECT s.system, s.query_id,
         round(sum(s.rel / log2(s.rank + 1)) / max(i.idcg), 9)
           AS ndcg,
         COALESCE(CAST(1 AS DOUBLE)
                  / min(CASE WHEN s.rel > 0 THEN s.rank END), 0.0)
           AS rr
  FROM re_scored s JOIN re_idcg i ON s.query_id = i.query_id
  GROUP BY 1, 2
),
retrieval_eval AS (
  SELECT system, CAST(count(*) AS BIGINT) AS n_queries,
         round(avg(ndcg), 6) AS mean_ndcg,
         round(avg(rr), 6) AS mrr
  FROM re_perq GROUP BY 1
)
"""
    )


# ---------------------------------------------------------------------------
# verified kNN classifier (majority-vote over exact cosine neighbors)
# ---------------------------------------------------------------------------

#: neighbors per vote and held-out query stride.
KNN_CLS_K = 5
KNN_CLS_STRIDE = 20


def knn_classifier_eval(emb: DataFrame) -> DataFrame:
    """Verified k-nearest-neighbor classification over the embedding
    space: every STRIDE-th vector is held out, its label predicted by
    majority vote over its K exact-cosine neighbors among the REST,
    and per-class accuracy reported — the model-free classifier
    baseline every learned classifier must beat, fully hash-checkable
    because the vote is count arithmetic on a deterministic neighbor
    set.

    The vote argmax packs (count, label) into one BIGINT key
    (cnt·M + (M−1−label), the LPA trick) so ties break to the
    smaller label without a window sort. The brute-force scoring join
    is the recall-harness shape: queries broadcast, corpus scanned
    once; swap in the IVF/LSH candidate generators for the 100 TB
    path — the vote and eval stages are index-agnostic.

    Output per class: label, n_queries, n_correct, accuracy.
    """
    # norms precomputed per SIDE (r9, guide §1.2 per-task work): the
    # cosine's norm folds are per-vector constants, but evaluated
    # inside the crossJoin they re-run per PAIR as interpreted
    # higher-order functions — 2/3 of the scoring work. sqrt(fold(v,v))
    # is the identical expression either way, so the cosine doubles —
    # and the neighbor ranking — are bit-equal.
    queries = emb.filter(
        F.col("vec_id") % KNN_CLS_STRIDE == 0
    ).select(
        F.col("vec_id").alias("query_id"),
        _as_double("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    ).withColumn("qn", F.sqrt(F.expr(_DOT.format(a="qv", b="qv"))))
    # r10 (guide §2.5): the corpus is the streamed side of the
    # broadcast crossJoin, so every per-pair dot product runs in ITS
    # tasks — and the single-row-group scan is one task. Spread it to
    # full width before the norms/scoring; the vote and per-class aggs
    # downstream are partition-invariant.
    corpus = _spread(
        emb.filter(F.col("vec_id") % KNN_CLS_STRIDE != 0), "vec_id"
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double("embedding").alias("cv"),
        F.col("label").alias("nl"),
    ).withColumn("cn", F.sqrt(F.expr(_DOT.format(a="cv", b="cv"))))
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .withColumn(
            "cosine",
            F.expr(_DOT.format(a="qv", b="cv"))
            / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_CLS_K)
        .select("query_id", "true_label", "nl")
    )
    m = 1 << 20
    votes = (
        topk.groupBy("query_id", "true_label", "nl")
        .agg(F.count("*").alias("cnt"))
        .groupBy("query_id", "true_label")
        .agg(
            F.max(
                F.col("cnt") * m + (F.lit(m - 1) - F.col("nl"))
            ).alias("key")
        )
        .select(
            "query_id",
            "true_label",
            (F.lit(m - 1) - F.col("key") % m).alias("pred"),
        )
    )
    return (
        votes.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(
                (F.col("pred") == F.col("true_label")).cast("int")
            ).alias("n_correct"),
        )
        .select(
            "label",
            "n_queries",
            "n_correct",
            F.round(
                F.col("n_correct") / F.col("n_queries").cast("double"),
                6,
            ).alias("accuracy"),
        )
    )


ORACLE_KNN_CLS = f"""
kc_q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         label AS true_label
  FROM embeddings WHERE vec_id % {KNN_CLS_STRIDE} = 0
),
kc_c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
         label AS nl
  FROM embeddings WHERE vec_id % {KNN_CLS_STRIDE} <> 0
),
kc_top AS (
  SELECT query_id, true_label, nl FROM (
    SELECT q.query_id, q.true_label, c.nl,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, c.cv)
                      / (sqrt(list_dot_product(q.qv, q.qv))
                         * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.neighbor_id) AS rank
    FROM kc_q q, kc_c c
  ) WHERE rank <= {KNN_CLS_K}
),
kc_pred AS (
  SELECT query_id, true_label,
         {(1 << 20) - 1} - max(CAST(cnt AS BIGINT) * {1 << 20}
             + ({(1 << 20) - 1} - nl)) % {1 << 20} AS pred
  FROM (
    SELECT query_id, true_label, nl,
           CAST(count(*) AS BIGINT) AS cnt
    FROM kc_top GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
),
knn_classifier_eval AS (
  SELECT true_label AS label,
         CAST(count(*) AS BIGINT) AS n_queries,
         CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct,
         round(CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
                    AS BIGINT)
               / CAST(count(*) AS DOUBLE), 6) AS accuracy
  FROM kc_pred GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# binary (sign) embedding quantization + Hamming top-k + recall
# ---------------------------------------------------------------------------


def binary_signatures(emb: DataFrame) -> DataFrame:
    """1-bit (sign) quantization of the 64-dim embeddings into two
    32-bit words — the most aggressive point on the engine's
    quantization ladder (float32 → int8 → PQ → 1 bit; 32× smaller
    than float32): bit i of word w = [dim (32w+i) > 0]. Packing runs
    as a posexplode + one hash-agg of shiftleft terms (exact BIGINT
    sums, bit 31 max — no sign-bit overflow), so both engines build
    identical words.

    Output: vec_id, w1, w2.
    """
    pos = emb.select(
        "vec_id", F.posexplode(_as_double("embedding"))
    ).select(
        "vec_id",
        F.col("pos"),
        (F.col("col") > 0).cast("int").alias("b"),
    )
    return pos.groupBy("vec_id").agg(
        F.sum(
            F.when(
                (F.col("pos") < 32) & (F.col("b") == 1),
                F.expr("shiftleft(1L, pos)"),
            ).otherwise(F.lit(0))
        ).alias("w1"),
        F.sum(
            F.when(
                (F.col("pos") >= 32) & (F.col("b") == 1),
                F.expr("shiftleft(1L, pos - 32)"),
            ).otherwise(F.lit(0))
        ).alias("w2"),
    )


def binary_ann_topk(
    emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Hamming top-k over the binary signatures: distance =
    bit_count(w1a XOR w1b) + bit_count(w2a XOR w2b), ties by
    neighbor_id — 2 XORs + 2 popcounts per candidate, the reason
    binary quantization wins the memory-bandwidth race at corpus
    scale. Same query/corpus split as the exact brute force so the
    recall harness composes.

    Output: query_id, neighbor_id, rank, hamming.
    """
    sigs = binary_signatures(emb)
    queries = sigs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("w1").alias("q1"),
        F.col("w2").alias("q2"),
    )
    corpus = sigs.select(
        F.col("vec_id").alias("neighbor_id"), "w1", "w2"
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "hamming",
            F.expr("bit_count(q1 ^ w1) + bit_count(q2 ^ w2)"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "hamming")
    )


def binary_ann_recall(emb: DataFrame) -> DataFrame:
    """Recall@k of the 1-bit index against the exact cosine truth —
    quantifies what the 32× compression costs, beside the int8 / PQ /
    matryoshka / RP recall harnesses.

    Output: query_id, n_hits, recall_at_k.
    """
    truth = _brute_topk_staged(emb).select("query_id", "neighbor_id")
    approx = binary_ann_topk(emb).select("query_id", "neighbor_id")
    hits = approx.join(truth, ["query_id", "neighbor_id"], "leftsemi")
    per_query = hits.groupBy("query_id").agg(
        F.count("*").alias("n_hits")
    )
    all_queries = truth.select("query_id").distinct()
    return all_queries.join(per_query, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.round(
            F.coalesce("n_hits", F.lit(0)) / F.lit(TOP_K), 4
        ).alias("recall_at_k"),
    )


_BIN_SIGS_SQL = """
bq_pos AS (
  SELECT e.vec_id, t.i AS pos,
         CASE WHEN e.embedding[t.i + 1] > 0 THEN 1 ELSE 0 END AS b
  FROM embeddings e, range(64) t(i)
),
bq_sigs AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN pos < 32 AND b = 1
                       THEN (CAST(1 AS BIGINT) << pos)
                       ELSE 0 END) AS BIGINT) AS w1,
         CAST(sum(CASE WHEN pos >= 32 AND b = 1
                       THEN (CAST(1 AS BIGINT) << (pos - 32))
                       ELSE 0 END) AS BIGINT) AS w2
  FROM bq_pos GROUP BY 1
)"""


ORACLE_BINARY_TOPK = f"""{_BIN_SIGS_SQL},
bq_q AS (
  SELECT vec_id AS query_id, w1 AS q1, w2 AS q2 FROM bq_sigs
  WHERE vec_id < {N_QUERIES}
),
bq_sc AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         bit_count(xor(q.q1, c.w1)) + bit_count(xor(q.q2, c.w2))
           AS hamming
  FROM bq_q q, bq_sigs c
  WHERE q.query_id <> c.vec_id
),
binary_ann_topk AS (
  SELECT query_id, neighbor_id, rank, hamming FROM (
    SELECT query_id, neighbor_id, hamming,
           CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY hamming, neighbor_id) AS INT) AS rank
    FROM bq_sc
  ) WHERE rank <= {TOP_K}
)
"""


ORACLE_BINARY_RECALL = f"""
brq AS (SELECT DISTINCT query_id FROM brute_force_topk),
brh AS (
  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM binary_ann_topk a
  WHERE EXISTS (SELECT 1 FROM brute_force_topk b
                WHERE b.query_id = a.query_id
                  AND b.neighbor_id = a.neighbor_id)
  GROUP BY a.query_id
),
binary_ann_recall AS (
  SELECT q.query_id,
         COALESCE(h.n_hits, 0) AS n_hits,
         round(COALESCE(h.n_hits, 0) / CAST({TOP_K} AS DOUBLE), 4)
           AS recall_at_k
  FROM brq q LEFT JOIN brh h ON q.query_id = h.query_id
)
"""


# ---------------------------------------------------------------------------
# Rocchio nearest-centroid classifier (the linear baseline beside kNN)
# ---------------------------------------------------------------------------


def rocchio_classifier_eval(emb: DataFrame) -> DataFrame:
    """Nearest-centroid (Rocchio) classification over the embedding
    space: per-label mean vectors trained on the index split, each
    held-out query assigned to the centroid with the highest cosine —
    the LINEAR baseline beside the kNN vote (`knn_classifier_eval`);
    when Rocchio matches kNN the classes are unimodal and a 5-vector
    model replaces the whole index.

    Centroids and scores run entirely on the exploded (vector, dim)
    grain: one (label, pos) mean agg, one (query, label) dot-product
    agg, norms alongside — every stage is a hash-agg keyed by small
    grains. Cosines round to 9 dp BEFORE the argmax ordering, so the
    winner is engine-exact; ties break to the smaller label.

    Output per class: label, n_queries, n_correct, accuracy.
    """
    pos = emb.select(
        "vec_id",
        "label",
        F.posexplode(_as_double("embedding")),
    ).select(
        "vec_id",
        "label",
        F.col("pos"),
        F.col("col").alias("v"),
    )
    cents = (
        pos.filter(F.col("vec_id") % KNN_CLS_STRIDE != 0)
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("cv"))
    )
    cnorm = cents.groupBy("label").agg(
        F.sqrt(F.sum(F.col("cv") * F.col("cv"))).alias("cn")
    )
    q = pos.filter(F.col("vec_id") % KNN_CLS_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        "pos",
        F.col("v").alias("qv"),
    )
    qnorm = q.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("qv") * F.col("qv"))).alias("qn")
    )
    dots = (
        q.join(cents.withColumnRenamed("label", "clabel"), "pos")
        .groupBy("query_id", "true_label", "clabel")
        .agg(F.sum(F.col("qv") * F.col("cv")).alias("dot"))
    )
    scored = (
        dots.join(F.broadcast(cnorm.withColumnRenamed("label", "clabel")), "clabel")
        .join(qnorm, "query_id")
        .select(
            "query_id",
            "true_label",
            "clabel",
            F.round(
                F.col("dot") / (F.col("qn") * F.col("cn")), 9
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("clabel")
    )
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", "true_label", F.col("clabel").alias("pred"))
    )
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(
                (F.col("pred") == F.col("true_label")).cast("int")
            ).alias("n_correct"),
        )
        .select(
            "label",
            "n_queries",
            "n_correct",
            F.round(
                F.col("n_correct") / F.col("n_queries").cast("double"),
                6,
            ).alias("accuracy"),
        )
    )


ORACLE_ROCCHIO = f"""
rc_pos AS (
  SELECT e.vec_id, e.label, t.i AS pos,
         CAST(e.embedding[t.i + 1] AS DOUBLE) AS v
  FROM embeddings e, range(64) t(i)
),
rc_cents AS MATERIALIZED (
  SELECT label, pos, avg(v) AS cv
  FROM rc_pos WHERE vec_id % {KNN_CLS_STRIDE} <> 0
  GROUP BY 1, 2
),
rc_cnorm AS (
  SELECT label, sqrt(sum(cv * cv)) AS cn FROM rc_cents GROUP BY 1
),
rc_q AS MATERIALIZED (
  SELECT vec_id AS query_id, label AS true_label, pos, v AS qv
  FROM rc_pos WHERE vec_id % {KNN_CLS_STRIDE} = 0
),
rc_qnorm AS (
  SELECT query_id, sqrt(sum(qv * qv)) AS qn FROM rc_q GROUP BY 1
),
rc_dots AS (
  SELECT q.query_id, q.true_label, c.label AS clabel,
         sum(q.qv * c.cv) AS dot
  FROM rc_q q JOIN rc_cents c USING (pos)
  GROUP BY 1, 2, 3
),
rc_scored AS (
  SELECT d.query_id, d.true_label, d.clabel,
         round(d.dot / (n.qn * m.cn), 9) AS cos
  FROM rc_dots d
  JOIN rc_cnorm m ON d.clabel = m.label
  JOIN rc_qnorm n ON d.query_id = n.query_id
),
rc_pred AS (
  SELECT query_id, true_label, clabel AS pred FROM (
    SELECT query_id, true_label, clabel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, clabel) AS rk
    FROM rc_scored
  ) WHERE rk = 1
),
rocchio_classifier_eval AS (
  SELECT true_label AS label,
         CAST(count(*) AS BIGINT) AS n_queries,
         CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct,
         round(CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
                    AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
           AS accuracy
  FROM rc_pred GROUP BY 1
)
"""


def embedding_isotropy(emb: DataFrame) -> DataFrame:
    """Isotropy audit of the embedding space: mean pairwise cosine of
    the NORMALIZED vectors via the sum-vector identity
    (sum_{i!=j} u_i.u_j = ||sum u||^2 - n), plus the mean raw norm —
    the two numbers that flag anisotropic collapse (a "cone-shaped"
    embedding space inflates every cosine similarity and quietly
    breaks semantic dedup / ANN thresholds downstream; well-spread
    spaces sit near 0).

    Exactness protocol (the drift-report convention): per-vector
    norms are 64-term in-order folds (bit-equal across engines);
    per-dim normalized component sums round at 6dp to absorb
    corpus-fold order; the final identity runs on the 64-row rounded
    sum table. Scale: ONE explode + hash-agg pass — 64 rows out
    regardless of corpus size; no pair ever materializes (the naive
    mean-cosine is an n^2 cross join).

    Output (stat, value): n_vecs, mean_norm, mean_pairwise_cos.
    """
    per = emb.select(
        F.expr(
            "sqrt(aggregate(CAST(embedding AS ARRAY<DOUBLE>),"
            " CAST(0 AS DOUBLE), (a, x) -> a + x * x))"
        ).alias("nrm"),
        _as_double("embedding").alias("e"),
    )
    ex = per.select(
        "nrm", F.posexplode("e").alias("dim", "v")
    )
    sums = ex.groupBy("dim").agg(
        F.round(F.sum(F.col("v") / F.col("nrm")), 6).alias("s")
    )
    tot = per.agg(
        F.count("*").alias("n"),
        F.round(F.avg("nrm"), 6).alias("mean_norm"),
    )
    ssum = sums.agg(F.sum(F.col("s") * F.col("s")).alias("ss"))
    return tot.crossJoin(F.broadcast(ssum)).selectExpr(
        "stack(3,"
        " 'n_vecs', CAST(n AS DOUBLE),"
        " 'mean_norm', mean_norm,"
        " 'mean_pairwise_cos',"
        " round((ss - n) / (CAST(n AS DOUBLE) * (n - 1)), 6))"
        " AS (stat, value)"
    )


ORACLE_EMBEDDING_ISOTROPY = f"""
iso_nrm AS (
  SELECT vec_id,
         sqrt((SELECT sum(CAST(embedding[i + 1] AS DOUBLE)
                          * CAST(embedding[i + 1] AS DOUBLE))
               FROM unnest(range(0, {EMB_DIMS})) AS t(i))) AS nrm,
         embedding
  FROM embeddings
),
iso_ex AS (
  SELECT nrm, i AS dim, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM iso_nrm, LATERAL unnest(range(0, {EMB_DIMS})) AS t(i)
),
iso_s AS (
  SELECT dim, round(sum(v / nrm), 6) AS s FROM iso_ex GROUP BY 1
),
iso_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, round(avg(nrm), 6) AS mean_norm
  FROM iso_nrm
),
iso_ss AS (SELECT sum(s * s) AS ss FROM iso_s),
embedding_isotropy AS (
  SELECT 'n_vecs' AS stat, CAST(n AS DOUBLE) AS value FROM iso_tot
  UNION ALL
  SELECT 'mean_norm', mean_norm FROM iso_tot
  UNION ALL
  SELECT 'mean_pairwise_cos',
         round((ss - n) / (CAST(n AS DOUBLE) * (n - 1)), 6)
  FROM iso_ss, iso_tot
)
"""


# ---------------------------------------------------------------------------
# IVF probe-sweep recall curve (round 8)
# ---------------------------------------------------------------------------

#: nprobe settings swept by the tuning curve.
IVF_SWEEP_PROBES = (1, 2, 4)


def ivf_probe_sweep(emb: DataFrame) -> DataFrame:
    """Recall@k vs nprobe tuning curve for the IVF index — the
    ANN-benchmarks readout that decides the recall/scan-fraction
    operating point BEFORE deploying an index at corpus scale
    (``ann_ivf_recall`` reports one point; capacity planning needs the
    curve). For each nprobe in {probes}, the IVF top-k is intersected
    with the session-staged brute-force truth (the same shared table
    all eight ANN evals read), with the probed-cell fraction alongside
    — recall buys scan fraction, and the knee of this curve is the
    production setting.

    Scale: the inverted lists and the centroid ranking are built once
    (session-staged assignment); each sweep point adds only a
    query-side probe set ({nq} queries x nprobe cells) and a k-row
    intersection — the corpus is never rescanned. Output per nprobe:
    nprobe, n_cells, scan_frac, hits, recall_at_k.
    """
    truth = _brute_topk_staged(emb).select("query_id", "neighbor_id")
    ncells = _ivf_centroids(emb).agg(
        F.count("*").alias("n_cells")
    )
    out = None
    for p in IVF_SWEEP_PROBES:
        approx = ivf_ann_topk(emb, nprobe=p).select(
            "query_id", "neighbor_id"
        )
        hits = approx.join(
            truth, ["query_id", "neighbor_id"], "leftsemi"
        ).agg(F.count("*").cast("bigint").alias("hits"))
        row = hits.crossJoin(F.broadcast(ncells)).select(
            F.lit(p).alias("nprobe"),
            "n_cells",
            F.round(
                F.lit(p) / F.col("n_cells").cast("double"), 4
            ).alias("scan_frac"),
            "hits",
            F.round(
                F.col("hits") / F.lit(N_QUERIES * TOP_K), 4
            ).alias("recall_at_k"),
        )
        out = row if out is None else out.unionByName(row)
    return out


ivf_probe_sweep.__doc__ = ivf_probe_sweep.__doc__.format(
    probes=IVF_SWEEP_PROBES, nq=N_QUERIES
)


def oracle_ivf_probe_sweep() -> str:
    cos_qn = _ORACLE_COS.format(a="p.qv", b="l.cv")
    probes = ", ".join(str(p) for p in IVF_SWEEP_PROBES)
    return f"""
swv AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
swc AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS centnorm
  FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0
),
swr AS (
  SELECT x.vec_id, x.v, c.centroid_id,
         CAST(row_number() OVER (
           PARTITION BY x.vec_id
           ORDER BY list_dot_product(x.v, c.centv) / c.centnorm DESC,
                    c.centroid_id) AS INT) AS crank
  FROM swv x, swc c
),
swl AS (
  SELECT vec_id AS neighbor_id, v AS cv, centroid_id
  FROM swr WHERE crank = 1
),
swnp AS (SELECT unnest([{probes}]) AS nprobe),
swp AS (
  SELECT n.nprobe, r.vec_id AS query_id, r.v AS qv, r.centroid_id
  FROM swr r, swnp n
  WHERE r.crank <= n.nprobe AND r.vec_id < {N_QUERIES}
),
swt AS (
  SELECT nprobe, query_id, neighbor_id FROM (
    SELECT p.nprobe, p.query_id, l.neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY p.nprobe, p.query_id
             ORDER BY {cos_qn} DESC, l.neighbor_id) AS INT) AS rank
    FROM swp p JOIN swl l ON p.centroid_id = l.centroid_id
    WHERE p.query_id <> l.neighbor_id
  ) WHERE rank <= {TOP_K}
),
swh AS (
  SELECT nprobe, CAST(count(*) AS BIGINT) AS hits
  FROM swt t
  WHERE EXISTS (SELECT 1 FROM brute_force_topk b
                WHERE b.query_id = t.query_id
                  AND b.neighbor_id = t.neighbor_id)
  GROUP BY 1
),
swcells AS (SELECT CAST(count(*) AS BIGINT) AS n_cells FROM swc),
ann_ivf_probe_sweep AS (
  SELECT n.nprobe, s.n_cells,
         round(n.nprobe / CAST(s.n_cells AS DOUBLE), 4) AS scan_frac,
         CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         round(COALESCE(h.hits, 0)
               / CAST({N_QUERIES * TOP_K} AS DOUBLE), 4)
           AS recall_at_k
  FROM swnp n LEFT JOIN swh h ON h.nprobe = n.nprobe
  CROSS JOIN swcells s
)
"""


# ---------------------------------------------------------------------------
# embedding-space diagnostics (r9): intrinsic dimensionality and
# hubness — the two geometry health checks an embedding team runs
# before trusting an ANN index or a dedup threshold. Both derive
# entirely from the session-staged brute-force truth table.
# ---------------------------------------------------------------------------

#: query-sample size for the geometry diagnostics (larger than the
#: recall harness's N_QUERIES — these estimate population statistics,
#: not per-query hit lists).
ID_QUERIES = 64
#: duplicate guard: nearest-neighbor distances at/below this are
#: treated as coincident points and excluded from the TwoNN ratio.
ID_EPS = 1e-9


def intrinsic_dim_twonn(emb: DataFrame) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017): for
    each query the ratio mu = d2/d1 of its two nearest-neighbor
    cosine DISTANCES follows a Pareto with shape = the manifold's
    intrinsic dimension, so id = n / Σ ln mu — no density modeling,
    just the first two neighbors. Low id vs ambient dims says the
    embedding lives on a thin manifold (ANN indexes and dedup
    thresholds transfer well); id near ambient says the space is
    unstructured.

    Determinism: d1/d2 come from the staged truth table (sequential-
    fold cosine, engine-identical); the ln fold rides the fold-order
    round(6) rule (ln precedent: HBOS/collocations). Coincident
    points (d1 <= ID_EPS) are excluded in both engines.

    Scale: the staged truth is the only corpus-sized work (one
    broadcast-queries pass, shared by every recall/eval consumer);
    this query touches ID_QUERIES × 2 rows after that.
    """
    spark = emb.sparkSession
    truth = _brute_topk_staged(emb, ID_QUERIES, 2)
    d1 = truth.filter(F.col("rank") == 1).select(
        "query_id", (1.0 - F.col("cosine")).alias("d1")
    )
    d2 = truth.filter(F.col("rank") == 2).select(
        "query_id", (1.0 - F.col("cosine")).alias("d2")
    )
    mu = (
        d1.join(d2, "query_id")
        .filter(F.col("d1") > ID_EPS)
        .select(F.log(F.col("d2") / F.col("d1")).alias("lmu"))
    )
    agg = mu.agg(
        F.count("*").alias("n_used"),
        F.round(F.sum("lmu"), 6).alias("sum_log_mu"),
    )
    return agg.select(
        "n_used",
        "sum_log_mu",
        F.round(
            F.col("n_used").cast("double") / F.col("sum_log_mu"), 6
        ).alias("intrinsic_dim"),
    )


def oracle_intrinsic_dim() -> str:
    """CTE chain replaying the staged (ID_QUERIES, k=2) truth + the
    TwoNN fold."""
    return f"""
idq AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {ID_QUERIES}
),
idc AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
  FROM embeddings
),
idsc AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM idq, idc WHERE query_id <> neighbor_id
),
idr AS (
  SELECT query_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM idsc
),
idmu AS (
  SELECT ln((1.0 - b.cosine) / (1.0 - a.cosine)) AS lmu
  FROM (SELECT query_id, cosine FROM idr WHERE rank = 1) a
  JOIN (SELECT query_id, cosine FROM idr WHERE rank = 2) b
    USING (query_id)
  WHERE 1.0 - a.cosine > {ID_EPS}
),
idagg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_used,
         round(sum(lmu), 6) AS sum_log_mu
  FROM idmu
),
embedding_intrinsic_dim AS (
  SELECT n_used, sum_log_mu,
         round(CAST(n_used AS DOUBLE) / sum_log_mu, 6)
           AS intrinsic_dim
  FROM idagg
)
"""


def hubness_skew(emb: DataFrame) -> DataFrame:
    """Hubness diagnostic (Radovanović et al. 2010): the k-occurrence
    distribution — how many query top-k lists each corpus point
    appears in. High positive skewness means a few "hub" points
    dominate every neighbor list (a curse-of-dimensionality symptom
    that silently degrades kNN dedup/rerank quality); antihubs
    (zero occurrences) measure dead regions.

    Determinism: k-occurrences are exact integers from the staged
    truth; skewness derives from the exact BIGINT moment sums
    (Σc, Σc², Σc³) in one mirrored double chain. Output (1 row):
    n_points, n_queries, k, mean_occ, skewness, max_occ, n_antihubs.

    Scale: staged truth + one corpus-grain count join; the moment agg
    is a single combinable pass.
    """
    truth = _brute_topk_staged(emb, ID_QUERIES, TOP_K)
    occ = truth.groupBy("neighbor_id").agg(F.count("*").alias("c"))
    pts = (
        emb.select(F.col("vec_id").alias("neighbor_id"))
        .join(occ, "neighbor_id", "left")
        .select(F.coalesce("c", F.lit(0)).alias("c"))
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).alias("s3"),
        F.max("c").alias("max_occ"),
        F.sum((F.col("c") == 0).cast("bigint")).alias("n_antihubs"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = F.col("s2").cast("double") / nd - mean * mean
    skew = (
        F.col("s3").cast("double") / nd
        - 3.0 * mean * (F.col("s2").cast("double") / nd)
        + 2.0 * mean * mean * mean
    ) / (var * F.sqrt(var))
    return m.select(
        F.col("n").alias("n_points"),
        F.lit(ID_QUERIES).cast("int").alias("n_queries"),
        F.lit(TOP_K).cast("int").alias("k"),
        F.round(mean, 6).alias("mean_occ"),
        F.round(skew, 6).alias("skewness"),
        "max_occ",
        "n_antihubs",
    )


def oracle_hubness() -> str:
    return f"""
hbq AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {ID_QUERIES}
),
hbc AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
  FROM embeddings
),
hbs AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM hbq, hbc WHERE query_id <> neighbor_id
),
hbt AS (
  SELECT neighbor_id FROM (
    SELECT neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id)
             AS rank
    FROM hbs
  ) WHERE rank <= {TOP_K}
),
hbo AS (
  SELECT e.vec_id,
         COALESCE(o.c, 0) AS c
  FROM embeddings e
  LEFT JOIN (SELECT neighbor_id, CAST(count(*) AS BIGINT) AS c
             FROM hbt GROUP BY 1) o
    ON e.vec_id = o.neighbor_id
),
hbm AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2,
         CAST(sum(c * c * c) AS BIGINT) AS s3,
         CAST(max(c) AS BIGINT) AS max_occ,
         CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_antihubs
  FROM hbo
),
embedding_hubness AS (
  SELECT n AS n_points,
         CAST({ID_QUERIES} AS INT) AS n_queries,
         CAST({TOP_K} AS INT) AS k,
         round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_occ,
         round((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
               / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                         - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))),
               6) AS skewness,
         max_occ, n_antihubs
  FROM hbm
)
"""


# ---------------------------------------------------------------------------
# MMD two-sample test for embedding drift (r9): "did the embedding
# distribution move" — the kernel two-sample statistic (Gretton et al.
# 2012) between two deterministic panels, with a POLYNOMIAL kernel so
# every term is dot-product arithmetic (exp/rbf stays banned by the
# float rule). The drift monitor an embedding pipeline runs between
# snapshots / sources.
# ---------------------------------------------------------------------------

#: per-side panel size (first 2*MMD_PANEL vec_ids, split by parity).
MMD_PANEL = 128
#: embedding width used to scale the dot product inside the kernel.
MMD_DIMS = 64


def embedding_mmd(emb: DataFrame) -> DataFrame:
    """Unbiased MMD² between the even-id and odd-id embedding panels
    under the quadratic kernel k(x,y) = (1 + <x,y>/dims)².

    MMD² = Σk(x,x')/(m(m−1)) + Σk(y,y')/(n(n−1)) − 2Σk(x,y)/(mn)
    (diagonals excluded on the within terms). Dot products use the
    shared sequential fold; kernel sums ride the fold-order round(6)
    rule. Output (1 row): m, n, mmd2, drifted (mmd2 > 0.01 after
    rounding).

    Scale: the panels are FIXED-SIZE samples (2·MMD_PANEL rows), so
    the pair grids are constant ~3·MMD_PANEL² kernel evaluations no
    matter the corpus — the corpus-sized stage is the panel filter,
    which fuses into the scan.
    """
    panel = emb.filter(F.col("vec_id") < 2 * MMD_PANEL).select(
        "vec_id",
        (F.col("vec_id") % 2 == 0).alias("is_x"),
        _as_double("embedding").alias("v"),
    )
    a = panel.alias("a")
    b = panel.alias("b")
    dot = F.expr(_DOT.format(a="a.v", b="b.v"))
    kern = (1 + dot / F.lit(float(MMD_DIMS))) * (
        1 + dot / F.lit(float(MMD_DIMS))
    )
    pairs = a.join(
        F.broadcast(b), F.col("a.vec_id") != F.col("b.vec_id")
    ).select(
        F.col("a.is_x").alias("ax"),
        F.col("b.is_x").alias("bx"),
        kern.alias("k"),
    )
    agg = pairs.agg(
        F.round(
            F.sum(F.when(F.col("ax") & F.col("bx"), F.col("k"))), 6
        ).alias("sxx"),
        F.round(
            F.sum(F.when(~F.col("ax") & ~F.col("bx"), F.col("k"))), 6
        ).alias("syy"),
        F.round(
            F.sum(F.when(F.col("ax") & ~F.col("bx"), F.col("k"))), 6
        ).alias("sxy"),
    ).crossJoin(
        panel.agg(
            F.sum(F.col("is_x").cast("bigint")).alias("m"),
            F.sum((~F.col("is_x")).cast("bigint")).alias("n"),
        )
    )
    md, nd = F.col("m").cast("double"), F.col("n").cast("double")
    mmd2 = F.round(
        F.col("sxx") / (md * (md - 1))
        + F.col("syy") / (nd * (nd - 1))
        - 2 * F.col("sxy") / (md * nd),
        6,
    )
    return agg.select(
        "m",
        "n",
        mmd2.alias("mmd2"),
        (mmd2 > 0.01).alias("drifted"),
    )


def oracle_embedding_mmd() -> str:
    return f"""
mmdp AS (
  SELECT vec_id, vec_id % 2 = 0 AS is_x, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < {2 * MMD_PANEL}
),
mmdk AS (
  SELECT a.is_x AS ax, b.is_x AS bx,
         (1 + list_dot_product(a.v, b.v) / CAST({MMD_DIMS} AS DOUBLE))
         * (1 + list_dot_product(a.v, b.v)
                / CAST({MMD_DIMS} AS DOUBLE)) AS k
  FROM mmdp a JOIN mmdp b ON a.vec_id <> b.vec_id
),
mmda AS (
  SELECT round(sum(CASE WHEN ax AND bx THEN k END), 6) AS sxx,
         round(sum(CASE WHEN NOT ax AND NOT bx THEN k END), 6) AS syy,
         round(sum(CASE WHEN ax AND NOT bx THEN k END), 6) AS sxy
  FROM mmdk
),
mmdn AS (
  SELECT CAST(sum(CASE WHEN is_x THEN 1 ELSE 0 END) AS BIGINT) AS m,
         CAST(sum(CASE WHEN NOT is_x THEN 1 ELSE 0 END) AS BIGINT)
           AS n
  FROM mmdp
),
embedding_mmd AS (
  SELECT m, n,
         round(sxx / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1))
               + syy / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
               - 2 * sxy / (CAST(m AS DOUBLE) * CAST(n AS DOUBLE)), 6)
           AS mmd2,
         round(sxx / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1))
               + syy / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
               - 2 * sxy / (CAST(m AS DOUBLE) * CAST(n AS DOUBLE)), 6)
           > 0.01 AS drifted
  FROM mmda CROSS JOIN mmdn
)
"""
