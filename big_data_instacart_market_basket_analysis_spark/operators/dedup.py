"""[EXT] Deduplication operators over the ``documents`` table
(SURVEY.md §7 phase 6; project north-star LLM-data-pipeline ops).

Five dedup families, batch-first, each designed so the shuffle keys and
row amplification stay bounded at 100 TB:

- exact: hash-groupBy on a content digest — one shuffle on the digest.
- n-gram Jaccard: shingle inverted-index self-join — the classic
  candidate-generation pattern; shuffle keyed on shingle, candidate
  pairs re-shuffle on (d1, d2). Hot "stop-shingles" are the scale
  hazard: a shingle in k docs emits k^2/2 candidate pairs, which AQE
  can split across tasks but cannot shrink. The inverted index is
  therefore document-frequency-capped (``MAX_SHINGLE_DF``): shingles
  above the cap generate no candidates, and the exact-Jaccard verify
  still runs on the FULL shingle sets, so every emitted pair's value
  is identical to the uncapped computation — only pairs whose entire
  overlap is stop-shingles (no discriminative signal) are pruned.
- MinHash + LSH banding: per-doc signatures (no explode — higher-order
  array functions), band keys, bucket self-join, exact-Jaccard verify of
  candidates only. md5-based hashes so DuckDB can replay the identical
  algorithm (an xxhash64 variant would be ~4x faster but engine-specific;
  correctness first, the hash fn is pluggable).
- SimHash: 60-bit signature via md5-derived token hashes (both engines
  parse the same 15 md5 hex chars to the same positive BIGINT, so the
  vote/band/Hamming pipeline is fully oracle-checked), near-dup =
  Hamming distance <= 3 over 15-bit band buckets.
- embedding cosine near-dup: see similarity.py (shares the pair join).

All shingling/normalization is pure Catalyst expressions (split /
transform / aggregate) — no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._staging import spread as _spread
from ._staging import stage as _stage

SHINGLE_WIDTH = 3
JACCARD_THRESHOLD = 0.3
#: inverted-index document-frequency cap: shingles appearing in more
#: documents than this are stop-shingles — dropped from candidate
#: generation (never from the Jaccard verify). Sized well above any
#: discriminative shingle's df; a corpus-specific deploy tunes it to
#: roughly 1e-5 of |docs|.
MAX_SHINGLE_DF = 1000
N_MINHASHES = 8
N_BANDS = 4  # band size 2
SIMHASH_HAMMING_MAX = 3


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("w")
    )


def _shingles(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, 3-word shingle) pairs — pure expressions."""
    expr = (
        f"transform(sequence(0, size(w) - {SHINGLE_WIDTH}),"
        f" i -> concat_ws(' ', slice(w, i + 1, {SHINGLE_WIDTH})))"
    )
    return (
        _tokens(docs)
        .filter(F.size("w") >= SHINGLE_WIDTH)
        .select("doc_id", F.explode(F.expr(expr)).alias("sh"))
        .distinct()
    )


def _spread_blk(df: DataFrame) -> DataFrame:
    """Explicit-width hash repartition on the (lang, blk) block key —
    the blocked self-join kernels' shared required distribution (r10,
    guide §2.5)."""
    return _spread(df, "lang", "blk")


def _shingles_staged(docs: DataFrame) -> DataFrame:
    """The staged shingle set per input DataFrame — the table every
    shingle-based dedup family starts from: ngram pairs, minhash
    signatures, and the minhash verify all reuse one checkpoint
    instead of re-running the explode+distinct shuffle per consumer.

    r10 (guide §2.5): spread the one-row-group corpus scan so the
    tokenize+explode runs on every core, and spread the staged
    postings themselves so every downstream consumer's per-row work
    (minhash md5 folds, prefix windows, jaccard verifies) inherits
    full-width parallelism instead of the AQE-coalesced 4 partitions
    the distinct left behind."""
    return _stage(
        "shingles", docs, lambda: _spread(_shingles(_spread(docs)), "doc_id")
    )


# shared DuckDB fragments -----------------------------------------------------
ORACLE_SHINGLES = f"""
dtoks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
  FROM documents
),
dshingles AS (
  SELECT DISTINCT doc_id, sh
  FROM dtoks, LATERAL (
    SELECT unnest(list_transform(range(0, len(w) - {SHINGLE_WIDTH - 1}),
                  i -> array_to_string(w[i + 1 : i + {SHINGLE_WIDTH}], ' ')))
      AS sh) t
  WHERE len(w) >= {SHINGLE_WIDTH}
)
"""


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup: md5 digest of normalized text -> survivor + copies.

    One hash-agg; at scale the digest is the shuffle key (uniform by
    construction, no skew). Survivor = min doc_id, the deterministic
    keep-first rule.
    """
    return (
        docs.select(
            F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"),
            "doc_id",
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


ORACLE_EXACT_DEDUP = """
exact_dedup AS (
  SELECT md5(lower(trim(text))) AS content_hash,
         min(doc_id) AS keeper_doc_id,
         count(*) AS n_copies
  FROM documents
  GROUP BY 1
)
"""


def _pair_shared_counts(
    docs: DataFrame, max_shingle_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Exact shared-shingle counts per candidate pair: (d1 < d2,
    shared, n1, n2) — the common kernel under Jaccard and containment.

    Inverted-index self-join with a document-frequency cap: shingles in
    more than ``max_shingle_df`` docs are excluded from candidate
    generation (a hot shingle in k docs would emit k^2/2 pairs — the
    one quadratic blow-up in this family). Pair shared-counts come from
    ONE self-join + hash-agg over the capped index; the hot overlap the
    cap pruned is then re-added exactly via small per-doc hot-shingle
    arrays (#hot shingles <= shingle_rows / cap globally, and a doc's
    own hot set is bounded by its length). Surviving pairs therefore
    carry the exact uncapped intersection size; only pairs whose ENTIRE
    overlap is hot shingles (no discriminative signal) are absent.

    A previous shape ran a separate candidate pass + full-shingle-set
    re-verify — that re-exploded every candidate pair by its ~50
    shingles (measured 5x slower at sf0.1). The shingle set still feeds
    five scans (sizes, df, join sides, hot sets) — it comes from the
    shared staged checkpoint; at cluster scale this becomes a reliable
    checkpoint / staged table.
    """
    sh = _shingles_staged(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    rare = sh.join(
        dfreq.filter(F.col("df") <= max_shingle_df).select("sh"), "sh"
    )
    a = rare.alias("a")
    b = rare.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count("*").alias("shared_rare"))
    )
    hot_sets = (
        sh.join(dfreq.filter(F.col("df") > max_shingle_df)
                .select("sh"), "sh")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("sh")).alias("hot"))
    )
    empty = F.array().cast("array<string>")
    return (
        shared.join(sizes.select(F.col("doc_id").alias("d1"),
                                 F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"),
                           F.col("n").alias("n2")), "d2")
        .join(hot_sets.select(F.col("doc_id").alias("d1"),
                              F.col("hot").alias("h1")), "d1", "left")
        .join(hot_sets.select(F.col("doc_id").alias("d2"),
                              F.col("hot").alias("h2")), "d2", "left")
        .withColumn(
            "shared",
            F.col("shared_rare")
            + F.size(F.array_intersect(
                F.coalesce("h1", empty), F.coalesce("h2", empty)
            )),
        )
        .select("d1", "d2", "shared", "n1", "n2")
    )


#: staged shared-count table per input DataFrame — the shingle
#: self-join is the heaviest stage of the pair family; Jaccard and
#: containment both derive from one materialization.
def _shared_counts_staged(
    docs: DataFrame, max_shingle_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    if max_shingle_df != MAX_SHINGLE_DF:
        return _pair_shared_counts(docs, max_shingle_df)
    return _stage(
        "shared_counts", docs,
        lambda: _pair_shared_counts(docs, max_shingle_df),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over 3-word shingle sets.

    ``_pair_shared_counts`` does the heavy lifting (df-capped inverted
    index, exact hot-overlap correction — see its docstring); this is
    the |A∩B| / |A∪B| ratio + threshold on top. Output (d1 < d2,
    jaccard).
    """
    p = _shared_counts_staged(docs, max_shingle_df)
    return (
        p.withColumn(
            "jaccard",
            F.col("shared")
            / (F.col("n1") + F.col("n2") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


#: Broder containment threshold: fraction of the SMALLER document's
#: shingles that must appear in the larger one.
CONTAINMENT_THRESHOLD = 0.6


def containment_pairs(
    docs: DataFrame,
    threshold: float = CONTAINMENT_THRESHOLD,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Asymmetric near-dup by Broder containment: |A∩B| / min(|A|,|B|).

    Catches the pair Jaccard structurally misses — a short document
    wholly quoted inside a much longer one (union is dominated by the
    long doc, so Jaccard stays low no matter how complete the overlap).
    This is the test-set-contamination shape: a benchmark prompt pasted
    into a web page has containment ~1.0 and Jaccard ~|A|/|B|.

    Same kernel as Jaccard (``_pair_shared_counts``: df-capped inverted
    index, one self-join, exact hot-overlap re-add), so the quadratic
    guardrails are shared; only the denominator differs. Output
    (d1 < d2, containment, n_small) — n_small disambiguates which side
    is the contained one by size.
    """
    p = _shared_counts_staged(docs, max_shingle_df)
    return (
        p.withColumn(
            "containment", F.col("shared") / F.least("n1", "n2")
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "d1",
            "d2",
            "containment",
            F.least("n1", "n2").alias("n_small"),
        )
    )


ORACLE_CONTAINMENT = f"""
containment_pairs AS (
  SELECT d1, d2,
         CAST(shared AS DOUBLE) / least(s1.n, s2.n) AS containment,
         least(s1.n, s2.n) AS n_small
  FROM dcorrected s
  JOIN dsizes s1 ON s1.doc_id = s.d1
  JOIN dsizes s2 ON s2.doc_id = s.d2
  WHERE CAST(shared AS DOUBLE) / least(s1.n, s2.n) >= {CONTAINMENT_THRESHOLD}
)
"""


ORACLE_NGRAM_JACCARD = f"""
dsizes AS (SELECT doc_id, count(*) AS n FROM dshingles GROUP BY doc_id),
ddf AS (SELECT sh, count(*) AS df FROM dshingles GROUP BY sh),
drare AS (
  SELECT s.doc_id, s.sh FROM dshingles s
  JOIN ddf USING (sh) WHERE ddf.df <= {MAX_SHINGLE_DF}
),
dhot AS (
  SELECT s.doc_id, list_sort(list(s.sh)) AS hot FROM dshingles s
  JOIN ddf USING (sh) WHERE ddf.df > {MAX_SHINGLE_DF}
  GROUP BY 1
),
dshared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared_rare
  FROM drare a
  JOIN drare b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dcorrected AS (
  SELECT s.d1, s.d2,
         s.shared_rare + len(list_intersect(
           coalesce(h1.hot, []), coalesce(h2.hot, []))) AS shared
  FROM dshared s
  LEFT JOIN dhot h1 ON h1.doc_id = s.d1
  LEFT JOIN dhot h2 ON h2.doc_id = s.d2
),
ngram_jaccard AS (
  SELECT d1, d2,
         CAST(shared AS DOUBLE) / (s1.n + s2.n - shared) AS jaccard
  FROM dcorrected s
  JOIN dsizes s1 ON s1.doc_id = s.d1
  JOIN dsizes s2 ON s2.doc_id = s.d2
  WHERE CAST(shared AS DOUBLE) / (s1.n + s2.n - shared)
        >= {JACCARD_THRESHOLD}
)
"""


def minhash_signatures(
    docs: DataFrame, shingles: DataFrame | None = None
) -> DataFrame:
    """Per-doc MinHash signature: h_j = min over shingles of
    md5(j || ':' || shingle) — one hash-agg, no per-hash explode."""
    sh = shingles if shingles is not None else _shingles_staged(docs)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("sh")))).alias(f"h{j}")
        for j in range(N_MINHASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


#: The verified minhash/simhash pair sets are session-staged per
#: (docs, parameter) — the r10 extension of the shingle staging one
#: level up the pipeline: five queries consume
#: `minhash_lsh_pairs(docs)` (the LSH query itself, the
#: precision/recall evals, the detector matrix, the capture-recapture
#: estimate) and four consume `simhash_pairs(docs)`, and each
#: previously re-ran the full band join + verify. The pair tables are
#: doc-pair grain (bounded by the detectors' blocking), so one eager
#: checkpoint each is cheap.
def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH banded dedup: signature -> band keys -> bucket
    self-join -> exact-Jaccard verification of candidates only.

    The expensive exact-Jaccard join runs on LSH candidates, not all
    pairs — this is the 100 TB-scale path (signatures are ~constant
    bytes/doc; band buckets are the only shuffle wider than a doc).
    ``shingles`` lets a caller substitute an already-staged (possibly
    filtered) shingle table so composed pipelines never re-tokenize
    the corpus. The default-shingles pair set is session-staged per
    (docs, threshold).
    """
    if shingles is None:
        return _stage(
            "minhash_pairs", docs,
            lambda: _minhash_lsh_pairs_build(
                docs, threshold, _shingles_staged(docs)
            ),
            threshold,
        )
    return _minhash_lsh_pairs_build(docs, threshold, shingles)


def _minhash_lsh_pairs_build(
    docs: DataFrame, threshold: float, sh_staged: DataFrame
) -> DataFrame:
    sigs = minhash_signatures(docs, shingles=sh_staged)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))).alias(
                "key"
            ),
        )
        for b in range(N_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .distinct()
    )
    # exact-Jaccard verify restricted to candidates: attach d1's shingles,
    # then probe d2's shingle set — never materializes non-candidate pairs.
    sh = sh_staged
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    shared = (
        cand.join(sh.select(F.col("doc_id").alias("d1"), "sh"), "d1")
        .join(sh.select(F.col("doc_id").alias("d2"), "sh"), ["d2", "sh"])
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.select(F.col("doc_id").alias("d1"),
                                 F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"),
                           F.col("n").alias("n2")), "d2")
        .withColumn(
            "jaccard",
            F.col("shared")
            / (F.col("n1") + F.col("n2") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def minhash_exact_first(docs: DataFrame) -> DataFrame:
    """Exact-collapse -> MinHash+LSH over representatives only.

    The production ordering for corpus-scale near-dup. Identical texts
    are the dominant duplicate mode at 100 TB (boilerplate replicated
    millions of times), and every copy of a text lands in the SAME key
    for every band — a text duplicated k times makes each of its band
    buckets hold k rows, i.e. k^2/2 candidate pairs per band, a
    quadratic hot key that no cap may drop (unlike stop-shingles,
    those pairs are true duplicates). Collapsing exact copies first is
    one uniform-digest hash-agg, after which each LSH bucket is bounded
    by the number of *distinct* near-dup texts, never by copy
    multiplicity. Emits near-dup pairs between representatives with
    each side's collapsed copy count, so downstream corpus accounting
    keeps the true duplicate mass.
    """
    reps = exact_dedup(docs).select(
        F.col("keeper_doc_id").alias("doc_id"), "n_copies"
    )
    # representatives' shingles = the already-staged corpus shingles
    # semi-joined to the keeper set — the corpus is never re-tokenized
    # and the base staging is shared with every other dedup consumer.
    rep_shingles = _shingles_staged(docs).join(
        reps.select("doc_id"), "doc_id", "leftsemi"
    )
    pairs = minhash_lsh_pairs(docs, shingles=rep_shingles)
    return (
        pairs.join(
            reps.select(
                F.col("doc_id").alias("d1"), F.col("n_copies").alias("copies_1")
            ),
            "d1",
        )
        .join(
            reps.select(
                F.col("doc_id").alias("d2"), F.col("n_copies").alias("copies_2")
            ),
            "d2",
        )
        .select("d1", "d2", "jaccard", "copies_1", "copies_2")
    )


ORACLE_MINHASH_EXACT_FIRST = f"""
rdocs AS (
  SELECT d.doc_id, d.text, r.n_copies
  FROM documents d
  JOIN (SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        FROM documents GROUP BY md5(lower(trim(text)))) r USING (doc_id)
),
rtoks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
  FROM rdocs
),
rshingles AS (
  SELECT DISTINCT doc_id, sh
  FROM rtoks, LATERAL (
    SELECT unnest(list_transform(range(0, len(w) - {SHINGLE_WIDTH - 1}),
                  i -> array_to_string(w[i + 1 : i + {SHINGLE_WIDTH}], ' ')))
      AS sh) t
  WHERE len(w) >= {SHINGLE_WIDTH}
),
rsizes AS (SELECT doc_id, count(*) AS n FROM rshingles GROUP BY doc_id),
rsigs AS (
  SELECT doc_id,
         {", ".join(f"min(md5('{j}:' || sh)) AS h{j}" for j in range(N_MINHASHES))}
  FROM rshingles
  GROUP BY doc_id
),
rbands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, md5(h{2 * b} || h{2 * b + 1}) AS key FROM rsigs" for b in range(N_BANDS))}
),
rcand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM rbands a
  JOIN rbands b ON a.band = b.band AND a.key = b.key
                AND a.doc_id < b.doc_id
),
minhash_exact_first AS (
  SELECT c.d1, c.d2,
         CAST(shared AS DOUBLE) / (s1.n + s2.n - shared) AS jaccard,
         r1.n_copies AS copies_1, r2.n_copies AS copies_2
  FROM rcand c
  JOIN (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
    FROM rshingles a
    JOIN rshingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) s ON s.d1 = c.d1 AND s.d2 = c.d2
  JOIN rsizes s1 ON s1.doc_id = c.d1
  JOIN rsizes s2 ON s2.doc_id = c.d2
  JOIN rdocs r1 ON r1.doc_id = c.d1
  JOIN rdocs r2 ON r2.doc_id = c.d2
  WHERE CAST(shared AS DOUBLE) / (s1.n + s2.n - shared)
        >= {JACCARD_THRESHOLD}
)
"""


ORACLE_MINHASH_LSH = f"""
dsigs AS (
  SELECT doc_id,
         {", ".join(f"min(md5('{j}:' || sh)) AS h{j}" for j in range(N_MINHASHES))}
  FROM dshingles
  GROUP BY doc_id
),
dbands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, md5(h{2 * b} || h{2 * b + 1}) AS key FROM dsigs" for b in range(N_BANDS))}
),
dcand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM dbands a
  JOIN dbands b ON a.band = b.band AND a.key = b.key
                AND a.doc_id < b.doc_id
),
minhash_lsh AS (
  SELECT c.d1, c.d2,
         CAST(shared AS DOUBLE) / (s1.n + s2.n - shared) AS jaccard
  FROM dcand c
  JOIN (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
    FROM dshingles a
    JOIN dshingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) s ON s.d1 = c.d1 AND s.d2 = c.d2
  JOIN dsizes s1 ON s1.doc_id = c.d1
  JOIN dsizes s2 ON s2.doc_id = c.d2
  WHERE CAST(shared AS DOUBLE) / (s1.n + s2.n - shared)
        >= {JACCARD_THRESHOLD}
)
"""


MAX_CC_ROUNDS = 20


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every neighbor of u larger than u re-attaches to the
    minimum of u's closed neighborhood. One groupBy + one join, both
    keyed on the node id."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.col("src")).alias("m")
    )
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient edges large->small; u and its smaller
    neighbors all re-attach to the neighborhood minimum."""
    orient = edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    )
    mins = orient.groupBy("src").agg(F.min("dst").alias("m"))
    return (
        orient.join(mins, "src")
        .select(F.col("dst").alias("v"), "m")
        .union(mins.select(F.col("src").alias("v"), "m"))
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def connected_clusters(
    docs: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Near-dup *clustering*: connected components over the pair graph,
    labeling every doc with min(doc_id) of its component — the step
    that turns pairwise near-dup hits into "keep one per group".

    Alternating large-star / small-star rounds (the MapReduce CC
    algorithm of Kiveris et al., 2014): converges in O(log^2 n) rounds
    regardless of component diameter — a length-d chain needs ~log d
    rounds, where plain min-label propagation needs d supersteps. Each
    round is two groupBy+join pairs keyed on the node id. Each round's
    edge set is ``localCheckpoint``-ed: every star operator references
    its input several times, so an untruncated lineage would multiply
    the logical plan each round (measured: exponential analysis time by
    round ~8). References to superseded checkpoints are dropped
    immediately so the context cleaner reclaims their blocks — at most
    two edge-set generations are live. At 100 TB the same loop would
    use reliable checkpoints to the cluster store. Raises if the round
    cap is hit before the fixpoint — never emits unconverged labels.
    The oracle replays the same fixpoint as a DuckDB recursive CTE
    (min reachable id == component min).

    Output: (doc_id, cluster_id) for every doc; singletons label
    themselves. Survivors = rows where doc_id == cluster_id.

    The default-pairs labeling (the expensive loop) is staged per
    input DataFrame — ``corpus_prep`` and ``dedup_clusters`` both
    consume the same fixpoint, which is a driver-coordinated multi-job
    computation, not a re-optimizable plan, so recomputing it per
    consumer doubles real cluster work.
    """
    if pairs is None:
        return _stage(
            "cc_labels", docs,
            lambda: connected_clusters(
                docs, ngram_jaccard_pairs(docs).select("d1", "d2")
            ),
            checkpoint=False,
        )
    # materialize the edge list ONCE — the loop derives each round from
    # the previous round's edges, and an unmaterialized pair plan would
    # recompute the candidate-pair join per round.
    edges = (
        pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # graph nodes, fixed for the whole run: label lookups at the end
    # must cover nodes that converged edges no longer mention.
    nodes = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    converged = False
    for _ in range(MAX_CC_ROUNDS):
        new_edges = _small_star(_large_star(edges)).localCheckpoint(
            eager=True
        )
        # both sides are distinct sets, so set equality reduces to
        # |new| == |old| AND new \ old == {} — one anti-join, not two
        # exceptAll passes (counts on checkpointed data are near-free).
        changed = (
            1
            if new_edges.count() != edges.count()
            else new_edges.join(edges, ["src", "dst"], "leftanti").count()
        )
        # drop the superseded generation's reference -> context cleaner
        # frees its checkpoint blocks.
        edges = new_edges
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_clusters did not converge in {MAX_CC_ROUNDS} "
            "rounds — component structure exceeds the bound; raise "
            "MAX_CC_ROUNDS"
        )
    # fixpoint edges form min-rooted stars: (v, root). groupBy-min is a
    # no-op safeguard for the (impossible at fixpoint) duplicate child.
    child_labels = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.min("dst").alias("cluster_id")
    )
    labels = (
        nodes.join(child_labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )
    # singletons label themselves; anti-join keeps the big side map-only.
    singletons = docs.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).join(nodes, "doc_id", "leftanti")
    return labels.unionByName(singletons)


#: Recursive min-reachable-id closure; grouped min == component label.
ORACLE_CONNECTED_CLUSTERS = """
dedges AS (
  SELECT d1, d2 FROM ngram_jaccard
  UNION ALL
  SELECT d2 AS d1, d1 AS d2 FROM ngram_jaccard
),
dreach AS (
  SELECT doc_id AS node, doc_id AS root FROM documents
  UNION
  SELECT e.d2 AS node, r.root
  FROM dreach r JOIN dedges e ON e.d1 = r.node
),
connected_clusters AS (
  SELECT node AS doc_id, min(root) AS cluster_id
  FROM dreach GROUP BY node
)
"""


#: SimHash geometry: 60 signature bits (15 md5 hex chars — fits a
#: signed BIGINT positively in BOTH engines, so shifts/xor/bit_count
#: agree with no sign-extension edge), 4 bands of 15 bits.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
_BAND_WIDTH = SIMHASH_BITS // SIMHASH_BANDS
_BAND_MASK = (1 << _BAND_WIDTH) - 1


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per doc from md5-derived token hashes.

    Explode tokens, then ONE hash-aggregation with 60 +/-1 vote sums
    (bit i of the token hash votes +1/-1; sign of the sum is bit i of
    the signature). The flat sum-columns stay inside whole-stage
    codegen with map-side partial aggregation — measured ~40x faster
    than the equivalent per-token array fold (nested higher-order
    expressions evaluate interpreted, per token, per bit). The token
    hash is the first 15 hex chars of md5 parsed as an integer —
    deliberately NOT xxhash64: md5 exists in both engines, which makes
    the whole operator DuckDB-oracle-checkable (xxhash64 had no
    cross-engine replay and left this rows-only).
    """
    toks = _tokens(docs).filter(F.size("w") > 0)
    tok = toks.select("doc_id", F.explode("w").alias("t")).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"shiftright(h, {i}) & 1 = 1"), F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sig = " | ".join(
        f"(CASE WHEN v{i} > 0 THEN shiftleft(1L, {i}) ELSE 0L END)"
        for i in range(SIMHASH_BITS)
    )
    return votes.select("doc_id", F.expr(sig).alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = SIMHASH_HAMMING_MAX
) -> DataFrame:
    """SimHash near-dup pairs: 15-bit band buckets (a pair within
    Hamming<=3 of 60 bits must agree on at least one of 4 bands), then
    exact Hamming verify via bit_count(xor). The pair set is
    session-staged per (docs, max_hamming)."""
    return _stage(
        "simhash_pairs", docs, lambda: _simhash_pairs_build(docs, max_hamming),
        max_hamming,
    )


def _simhash_pairs_build(docs: DataFrame, max_hamming: int) -> DataFrame:
    sigs = simhash_signatures(docs)
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BANDS - 1}),"
                " b -> struct(b AS band,"
                f"   shiftright(simhash, b * {_BAND_WIDTH})"
                f" & {_BAND_MASK} AS key))"
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


#: decontamination: training docs sharing any 3-gram shingle with the
#: benchmark set (here: the first N_BENCHMARK_DOCS doc_ids, standing in
#: for a held-out eval suite) are flagged.
N_BENCHMARK_DOCS = 10


def decontaminate(
    docs: DataFrame, n_benchmark: int = N_BENCHMARK_DOCS
) -> DataFrame:
    """Benchmark decontamination: flag training docs whose shingle sets
    overlap the benchmark docs' — the standard guard against eval-set
    leakage into a training corpus.

    The benchmark shingle set is tiny (its docs are a fixed, small
    suite) -> broadcast to the training-side shingle scan; the flagged
    counts come from one hash-agg. At 100 TB the corpus-side cost is
    the shingle scan it already pays for dedup (shared via the staged
    checkpoint). Output: flagged (doc_id, n_benchmark_shingles) —
    training docs only, overlap >= 1.
    """
    sh = _shingles_staged(docs)
    bench_sh = (
        sh.filter(F.col("doc_id") < n_benchmark)
        .select("sh")
        .distinct()
    )
    return (
        sh.filter(F.col("doc_id") >= n_benchmark)
        .join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_benchmark_shingles"))
    )


ORACLE_DECONTAMINATE = f"""
dbench_sh AS (
  SELECT DISTINCT sh FROM dshingles WHERE doc_id < {N_BENCHMARK_DOCS}
),
decontaminate AS (
  SELECT s.doc_id, count(*) AS n_benchmark_shingles
  FROM dshingles s
  JOIN dbench_sh b USING (sh)
  WHERE s.doc_id >= {N_BENCHMARK_DOCS}
  GROUP BY 1
)
"""


def _oracle_simhash() -> str:
    """DuckDB replay of the 60-bit SimHash: identical md5-prefix hash
    ('0x'||hex cast — bit-equal to Spark's conv), identical vote /
    sign / band arithmetic on positive BIGINTs."""
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    sig = "\n           + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT)"
        " ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
sh_tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
  FROM documents
),
sh_h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
  FROM sh_tok
),
sh_votes AS (
  SELECT doc_id,
         {votes}
  FROM sh_h GROUP BY 1
),
sh_sigs AS (
  SELECT doc_id,
         {sig} AS simhash
  FROM sh_votes
),
sh_bands AS (
  SELECT doc_id, simhash, u.b AS band,
         (simhash >> (u.b * {_BAND_WIDTH})) & {_BAND_MASK} AS key
  FROM sh_sigs CROSS JOIN unnest([0, 1, 2, 3]) AS u(b)
),
simhash_pairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM sh_bands a
  JOIN sh_bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
)
"""


#: blocked fuzzy matching: prefix length compared, max edit distance.
FUZZY_PREFIX_CHARS = 40
FUZZY_MAX_DIST = 10
#: block document-frequency cap: a (lang, first-word) block larger than
#: this is a stop-word block ("the", "a", ...) whose self-join is
#: quadratic in block size at corpus scale — drop it entirely, exactly
#: like ``MAX_SHINGLE_DF`` does for hot shingles. Pairs inside a hot
#: block share only a stop word, i.e. carry no match signal anyway.
FUZZY_MAX_BLOCK = 200


def _block_capped(keyed: DataFrame, max_block: int) -> DataFrame:
    """Shared (lang, blk) blocking cap: drop stop-word blocks larger
    than ``max_block`` BEFORE any self-join. One definition for every
    blocked pairwise operator (fuzzy_prefix_pairs, er_matches) so the
    candidate-generation rule can never silently diverge between
    them; each operator's oracle CTE mirrors this textually."""
    block_df = (
        keyed.groupBy("lang", "blk")
        .agg(F.count("*").alias("blk_n"))
        .filter(F.col("blk_n") <= max_block)
        .select("lang", "blk")
    )
    return keyed.join(block_df, ["lang", "blk"])


def fuzzy_prefix_pairs(
    docs: DataFrame, max_block: int = FUZZY_MAX_BLOCK
) -> DataFrame:
    """Blocked Levenshtein near-match: candidate pairs share a
    (lang, first-word) block, then exact edit distance over the first
    ``FUZZY_PREFIX_CHARS`` chars keeps pairs within ``FUZZY_MAX_DIST``.

    The block key bounds the quadratic step the same way LSH bands do
    for MinHash — the self-join is an equi-join on the block, never
    all-pairs, and edit distance (O(len^2) per pair) only runs inside
    blocks. Blocks larger than ``FUZZY_MAX_BLOCK`` docs are stop-word
    blocks and are dropped before the join (hot-key cap — without it
    one "The ..." block is quadratic at corpus scale; AQE can split the
    skewed partition but cannot shrink the pair count). Levenshtein is
    an integer metric with one standard definition, so the oracle
    matches exactly with no float rule.
    """
    keyed = _block_capped(
        docs.select(
            "doc_id",
            "lang",
            F.substring_index(F.col("text"), " ", 1).alias("blk"),
            F.substring("text", 1, FUZZY_PREFIX_CHARS).alias("prefix"),
        ),
        max_block,
    )
    # r10 (guide §2.5): materialize the capped blocks hash-partitioned
    # on the JOIN key at explicit width — both self-join sides read it
    # exchange-free, AQE cannot coalesce it, and the per-pair
    # levenshtein runs at full width instead of on the 1-2 AQE
    # partitions the block window left behind.
    keyed = _spread_blk(keyed).localCheckpoint(eager=False)
    a = keyed.select(
        F.col("doc_id").alias("id_a"),
        "lang",
        "blk",
        F.col("prefix").alias("pa"),
    )
    b = keyed.select(
        F.col("doc_id").alias("id_b"),
        "lang",
        "blk",
        F.col("prefix").alias("pb"),
    )
    return (
        a.join(b, ["lang", "blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("pa", "pb"))
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
        .select("id_a", "id_b", "edit_dist")
    )


ORACLE_FUZZY_PREFIX_PAIRS = f"""
fz_keyed_all AS (
  SELECT doc_id, lang,
         split_part(text, ' ', 1) AS blk,
         substr(text, 1, {FUZZY_PREFIX_CHARS}) AS prefix
  FROM documents
),
fz_blocks AS (
  SELECT lang, blk FROM fz_keyed_all
  GROUP BY lang, blk HAVING count(*) <= {FUZZY_MAX_BLOCK}
),
fz_keyed AS (
  SELECT k.* FROM fz_keyed_all k JOIN fz_blocks USING (lang, blk)
),
fuzzy_prefix_pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_dist
  FROM fz_keyed a
  JOIN fz_keyed b ON a.lang = b.lang AND a.blk = b.blk
                  AND a.doc_id < b.doc_id
  WHERE levenshtein(a.prefix, b.prefix) <= {FUZZY_MAX_DIST}
)
"""


#: phonetic blocking: Soundex consonant classes. ``from`` lists the
#: kept consonants first, then the dropped letters (vowels + h w y)
#: with no targets — Postgres translate() semantics (identical in
#: Spark and DuckDB) delete the tail extras.
_PHON_FROM = "bfpvcgjkqsxzdtlmnraeiouhwy"
_PHON_TO = "111122222222334556"
PHONETIC_CODE_LEN = 4


def _phonetic_code(word_col: F.Column) -> F.Column:
    """Simplified Soundex: first letter + consonant-class digits of
    the rest, zero-padded to 4. The classic adjacent-duplicate
    collapse is deliberately omitted — RE2 (DuckDB's regex engine)
    has no backreferences, and the collapse needs one; without it the
    code is still a valid phonetic block key (strictly finer than
    true Soundex, so it only ever SPLITS a true-Soundex block, never
    pollutes one) and is bit-identical across engines."""
    w = F.regexp_replace(F.lower(word_col), "[^a-z]", "")
    head = F.upper(F.substring(w, 1, 1))
    digits = F.translate(F.substring(w, 2, 64), _PHON_FROM, _PHON_TO)
    return F.rpad(
        F.concat(head, F.substring(digits, 1, PHONETIC_CODE_LEN - 1)),
        PHONETIC_CODE_LEN,
        "0",
    )


def phonetic_er_pairs(
    docs: DataFrame, max_block: int = FUZZY_MAX_BLOCK
) -> DataFrame:
    """Phonetic-blocked entity resolution: candidates share
    (lang, simplified-Soundex code of the first word) — robust to the
    spelling variation that breaks ``fuzzy_prefix_pairs``' exact
    first-word block ("Jon" vs "John" land in one J500 block) — then
    exact Levenshtein over the prefix keeps pairs within
    ``FUZZY_MAX_DIST``. Same ``_block_capped`` stop-block cap and the
    same scale argument: the quadratic step never leaves a bounded
    block, hot blocks are dropped before the self-join.
    """
    keyed = _block_capped(
        docs.select(
            "doc_id",
            "lang",
            _phonetic_code(
                F.substring_index(F.col("text"), " ", 1)
            ).alias("blk"),
            F.substring("text", 1, FUZZY_PREFIX_CHARS).alias("prefix"),
        ),
        max_block,
    )
    # r10 (guide §2.5): same join-key spread + checkpoint as the
    # fuzzy-prefix kernel above.
    keyed = _spread_blk(keyed).localCheckpoint(eager=False)
    a = keyed.select(
        F.col("doc_id").alias("id_a"), "lang", "blk",
        F.col("prefix").alias("pa"),
    )
    b = keyed.select(
        F.col("doc_id").alias("id_b"), "lang", "blk",
        F.col("prefix").alias("pb"),
    )
    return (
        a.join(b, ["lang", "blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("pa", "pb"))
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
        .select("id_a", "id_b", F.col("blk").alias("code"), "edit_dist")
    )


_ORACLE_PHON_CODE = (
    "rpad(upper(substr({w}, 1, 1)) || "
    f"substr(translate(substr({{w}}, 2, 64), '{_PHON_FROM}',"
    f" '{_PHON_TO}'), 1, {PHONETIC_CODE_LEN - 1}),"
    f" {PHONETIC_CODE_LEN}, '0')"
)

ORACLE_PHONETIC_ER = f"""
ph_keyed_all AS (
  SELECT doc_id, lang,
         {_ORACLE_PHON_CODE.format(
             w="regexp_replace(lower(split_part(text, ' ', 1)),"
               " '[^a-z]', '', 'g')")} AS blk,
         substr(text, 1, {FUZZY_PREFIX_CHARS}) AS prefix
  FROM documents
),
ph_blocks AS (
  SELECT lang, blk FROM ph_keyed_all
  GROUP BY lang, blk HAVING count(*) <= {FUZZY_MAX_BLOCK}
),
ph_keyed AS (
  SELECT k.* FROM ph_keyed_all k JOIN ph_blocks USING (lang, blk)
),
phonetic_er_pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.blk AS code,
         CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_dist
  FROM ph_keyed a
  JOIN ph_keyed b ON a.lang = b.lang AND a.blk = b.blk
                  AND a.doc_id < b.doc_id
  WHERE levenshtein(a.prefix, b.prefix) <= {FUZZY_MAX_DIST}
)
"""


#: incremental ingestion: doc_ids below the split are the standing
#: corpus; at/above are the incoming batch.
INCR_SPLIT_ID = 400


def incremental_dedup(
    docs: DataFrame, split_id: int = INCR_SPLIT_ID
) -> DataFrame:
    """Incremental-ingestion dedup: keep only incoming docs whose
    order-normalized fingerprint is unseen in the standing corpus
    (left anti join on the fingerprint), plus batch-internal dedup
    (first doc_id per fingerprint wins).

    The production shape: the corpus side is a *fingerprint table*
    (16-byte hash per doc), not the corpus itself — at 100 TB the
    anti-join touches hashes only, the batch side is day-sized, and
    the standing text is never rescanned. Both sides hash-partition on
    the fingerprint; a day-batch fingerprint set usually broadcasts.
    """
    from .textstats import fingerprints as doc_fingerprints

    fp = doc_fingerprints(docs)
    corpus = fp.filter(F.col("doc_id") < split_id).select("fingerprint")
    batch = fp.filter(F.col("doc_id") >= split_id)
    novel = batch.join(corpus, "fingerprint", "left_anti")
    first = novel.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id")
    )
    return first.select("doc_id", "fingerprint")


ORACLE_INCREMENTAL_DEDUP = f"""
incr_fp AS (
  SELECT doc_id,
         md5(array_to_string(
             list_sort(list_distinct(
               regexp_split_to_array(lower(text), '\\s+'))), ' '))
           AS fingerprint
  FROM documents
),
incremental_dedup AS (
  SELECT min(doc_id) AS doc_id, fingerprint
  FROM incr_fp b
  WHERE b.doc_id >= {INCR_SPLIT_ID}
    AND NOT EXISTS (SELECT 1 FROM incr_fp c
                    WHERE c.doc_id < {INCR_SPLIT_ID}
                      AND c.fingerprint = b.fingerprint)
  GROUP BY fingerprint
)
"""


def hybrid_near_dup(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """Hybrid near-dup detection: union of text-level (MinHash+LSH
    exact-Jaccard-verified) and semantic (embedding-cosine LSH) pair
    sources, labeled by which detector(s) fired.

    The production corpus pass runs both — lexical dedup misses
    paraphrases, embedding dedup misses verbatim chunks inside longer
    docs — and this is the merge step: a unionByName of two bounded
    pair streams plus one (d1, d2) hash-agg, nothing quadratic added
    on top of the detectors' own blocking.
    """
    mh = minhash_lsh_pairs(docs).select(
        "d1", "d2", F.lit("minhash").alias("method")
    )
    from .similarity import embedding_near_dup_pairs

    em = embedding_near_dup_pairs(emb).select(
        "d1", "d2", F.lit("embedding").alias("method")
    )
    return (
        mh.unionByName(em)
        .groupBy("d1", "d2")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("method")), ","
            ).alias("methods"),
            F.countDistinct("method").alias("n_methods"),
        )
    )


ORACLE_HYBRID_NEAR_DUP = """
hybrid_union AS (
  SELECT d1, d2, 'minhash' AS method FROM minhash_lsh
  UNION ALL
  SELECT d1, d2, 'embedding' AS method FROM embedding_near_dup
),
hybrid_near_dup AS (
  SELECT d1, d2,
         array_to_string(list_sort(list_distinct(
           array_agg(method))), ',') AS methods,
         CAST(count(DISTINCT method) AS BIGINT) AS n_methods
  FROM hybrid_union
  GROUP BY 1, 2
)
"""


def cluster_representatives(docs: DataFrame) -> DataFrame:
    """Quality-aware dedup survivor selection: per near-dup cluster,
    keep the highest-quality member (ties broken by doc_id) instead of
    the arbitrary min-id — what a production corpus pass actually
    ships.

    One max_by hash-agg over cluster_id on top of the existing
    connected-components labels and the map-only quality scores — no
    rank window, so the only cost added to the CC pipeline is a
    partial-aggregated shuffle on cluster_id.
    """
    from .textstats import quality_scores

    labeled = connected_clusters(docs).join(
        quality_scores(docs).select("doc_id", "quality_score"), "doc_id"
    )
    return (
        labeled.groupBy("cluster_id")
        .agg(
            F.max_by("doc_id", F.struct(F.col("quality_score"),
                                        -F.col("doc_id"))).alias(
                "keeper_doc_id"
            ),
            F.count("*").alias("n_members"),
        )
    )


def retention_report(docs: DataFrame) -> DataFrame:
    """Dedup retention report (r5 verdict #4): after quality-aware
    survivor selection, what did the corpus lose — docs and bytes
    kept/dropped PER SOURCE, the accounting table every LLM pipeline
    ships between dedup and export (a source whose keep-rate cratered
    is a crawl bug, not a dedup win).

    Composition of verified pieces: connected-components labels ->
    `cluster_representatives` keepers (max_by quality) -> one LEFT
    join of the corpus against the keeper ids -> one source-grain
    hash-agg. The keeper set is cluster-grain (corpus-sized in the
    worst all-singletons case) so it joins hash-to-hash on doc_id —
    never broadcast; the report itself is |sources| rows. "bytes" is
    the fixtures' n_chars column (1 char = 1 byte in the synthetic
    ASCII corpus; at 100 TB you'd sum the real byte length the same
    way).

    Output per source: source, n_docs, n_kept, n_dropped,
    bytes_total, bytes_kept, bytes_dropped, keep_rate (round 6).
    """
    keepers = cluster_representatives(docs).select(
        F.col("keeper_doc_id").alias("doc_id"), F.lit(1).alias("kept")
    )
    flagged = docs.select("doc_id", "source", "n_chars").join(
        keepers, "doc_id", "left"
    )
    kept = F.coalesce(F.col("kept"), F.lit(0))
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        F.sum(1 - kept).cast("bigint").alias("n_dropped"),
        F.sum("n_chars").alias("bytes_total"),
        F.sum(F.col("n_chars") * kept).alias("bytes_kept"),
        F.sum(F.col("n_chars") * (1 - kept)).alias("bytes_dropped"),
        F.round(
            F.sum(kept).cast("double") / F.count("*"), 6
        ).alias("keep_rate"),
    )


ORACLE_RETENTION_REPORT = """
drr_flagged AS (
  SELECT d.source, d.n_chars,
         CASE WHEN k.keeper_doc_id IS NOT NULL THEN 1 ELSE 0 END
           AS kept
  FROM documents d
  LEFT JOIN cluster_representatives k ON d.doc_id = k.keeper_doc_id
),
retention_report AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(kept) AS BIGINT) AS n_kept,
         CAST(sum(1 - kept) AS BIGINT) AS n_dropped,
         CAST(sum(n_chars) AS BIGINT) AS bytes_total,
         CAST(sum(n_chars * kept) AS BIGINT) AS bytes_kept,
         CAST(sum(n_chars * (1 - kept)) AS BIGINT) AS bytes_dropped,
         round(CAST(sum(kept) AS DOUBLE) / count(*), 6) AS keep_rate
  FROM drr_flagged
  GROUP BY 1
)
"""


ORACLE_CLUSTER_REPRESENTATIVES = """
cr_labeled AS (
  SELECT c.doc_id, c.cluster_id, q.quality_score
  FROM connected_clusters c JOIN quality_scores q USING (doc_id)
),
cluster_representatives AS (
  SELECT cluster_id, doc_id AS keeper_doc_id, n_members FROM (
    SELECT cluster_id, doc_id,
           row_number() OVER (
             PARTITION BY cluster_id
             ORDER BY quality_score DESC, doc_id) AS rn,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS n_members
    FROM cr_labeled
  ) WHERE rn = 1
)
"""


SEGMENT_WORDS = 10
#: segments present in more than this many distinct documents are
#: boilerplate — removed from every document that carries them.
SEGMENT_MAX_DF = 1


def segment_dedup(
    docs: DataFrame,
    width: int = SEGMENT_WORDS,
    max_df: int = SEGMENT_MAX_DF,
) -> DataFrame:
    """Duplicated-segment removal (CCNet / RefinedWeb-style line
    dedup, re-expressed over whitespace corpora): split each document
    into fixed ``width``-word segments, drop every segment whose exact
    text occurs in more than ``max_df`` distinct documents, and
    reassemble the survivors in original order. Documents whose every
    segment is boilerplate are dropped outright.

    The reference has no corpus operators at all (SURVEY.md §2 —
    whole surface is F.py:16-396 relational/ML); this is [EXT]
    north-star surface. Two-pass shape, both passes bounded at
    100 TB: pass 1 is a hash-agg on the segment text (near-unique
    key, uniform shuffle); the resulting "hot segment" set is tiny by
    construction (df-capped world: boilerplate is rare relative to
    corpus bytes), so pass 2 marks segments via a BROADCAST join —
    the full corpus never reshuffles. Reassembly is a per-doc
    hash-agg with ``array_sort`` on (seg_idx, seg) structs; no window
    sort over the corpus.
    """
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    seg_expr = (
        f"transform(sequence(0, cast(ceil(size(w) / {width}.0d) as int) - 1),"
        f" i -> struct(i as seg_idx,"
        f" concat_ws(' ', slice(w, i * {width} + 1, {width})) as seg))"
    )
    segs = toks.select(
        "doc_id", F.explode(F.expr(seg_expr)).alias("s")
    ).select("doc_id", "s.seg_idx", "s.seg")
    hot = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > max_df)
        .select("seg", F.lit(1).alias("hot"))
    )
    marked = segs.join(F.broadcast(hot), "seg", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list("
                    "  CASE WHEN hot IS NULL"
                    "       THEN struct(seg_idx, seg) END)),"
                    " x -> x.seg)"
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_segments"),
            F.coalesce(F.sum("hot"), F.lit(0))
            .cast("long")
            .alias("n_dropped"),
        )
        .filter(F.col("n_dropped") < F.col("n_segments"))
    )


ORACLE_SEGMENT_DEDUP = f"""
segd_seg AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(
           w[i * {SEGMENT_WORDS} + 1:(i + 1) * {SEGMENT_WORDS}], ' ')
           AS seg
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       LATERAL unnest(generate_series(
         0, CAST(ceil(len(w) / {SEGMENT_WORDS}.0) AS BIGINT) - 1))
         AS u(i)
),
segd_hot AS (
  SELECT seg FROM segd_seg
  GROUP BY seg HAVING count(DISTINCT doc_id) > {SEGMENT_MAX_DF}
),
segment_dedup AS (
  SELECT doc_id,
         coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
           FILTER (WHERE seg NOT IN (SELECT seg FROM segd_hot)), '')
           AS clean_text,
         CAST(count(*) AS BIGINT) AS n_segments,
         CAST(count(*) FILTER (
           WHERE seg IN (SELECT seg FROM segd_hot)) AS BIGINT)
           AS n_dropped
  FROM segd_seg
  GROUP BY doc_id
  HAVING n_dropped < n_segments
)
"""


def minhash_recall_eval(docs: DataFrame) -> DataFrame:
    """Dedup QA harness: measure MinHash+LSH banding recall against the
    exact n-gram Jaccard ground truth on the same corpus — the
    self-evaluation every probabilistic dedup deployment needs before
    its parameters (bands x rows) are trusted at 100 TB, where the
    exact pass is unaffordable and recall must be extrapolated from a
    sample exactly like this.

    Output: one row per status ('recalled' = truth pair surfaced by
    LSH, 'missed' = truth pair whose docs never shared a band bucket)
    with the pair count and the jaccard range of that status — missed
    pairs concentrated just above the threshold is the healthy
    pattern (banding's S-curve); missed HIGH-jaccard pairs would mean
    too few bands. Both sides reuse the session-staged shingles, so
    the eval costs the band join + one broadcast-sized hash join over
    pair keys.
    """
    truth = ngram_jaccard_pairs(docs)
    found = minhash_lsh_pairs(docs).select(
        "d1", "d2", F.lit(1).alias("hit")
    )
    return (
        truth.join(found, ["d1", "d2"], "left")
        .select(
            F.when(F.col("hit").isNotNull(), "recalled")
            .otherwise("missed")
            .alias("status"),
            "jaccard",
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )


ORACLE_MINHASH_RECALL_EVAL = """
minhash_recall_eval AS (
  SELECT status, CAST(count(*) AS BIGINT) AS n_pairs,
         round(min(jaccard), 6) AS min_jaccard,
         round(max(jaccard), 6) AS max_jaccard
  FROM (
    SELECT CASE WHEN f.d1 IS NOT NULL THEN 'recalled' ELSE 'missed' END
             AS status,
           t.jaccard
    FROM ngram_jaccard t
    LEFT JOIN minhash_lsh f ON f.d1 = t.d1 AND f.d2 = t.d2
  )
  GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# entity resolution: blocked multi-signal match scoring
# ---------------------------------------------------------------------------

#: ER weights (jaccard, edit) and match threshold — the predicate is
#: evaluated in cross-multiplied INTEGER form (see er_matches), these
#: constants only document the intended 0.5/0.5 @ 0.6 semantics.
ER_THRESH_NUM = 6  # score >= 0.6  <=>  5*(i*m + (m-d)*u) >= 6*u*m
ER_PREFIX_CHARS = 40


def er_matches(docs: DataFrame) -> DataFrame:
    """Entity resolution over the corpus: candidate pairs from the
    same (lang, first-word) block scored by TWO independent signals —
    distinct-token Jaccard and prefix edit similarity — combined
    50/50 and thresholded at 0.6.

    The match predicate runs entirely in integers: with i = |tokens_a
    ∩ tokens_b|, u = |union|, d = levenshtein(prefixes), m =
    max(prefix lengths),

        0.5*(i/u) + 0.5*(1 - d/m) >= 0.6
        <=>  5*(i*m + (m - d)*u) >= 6*u*m

    so no float division ever reaches a comparison (the repo's
    knife-edge rule); the double scores in the output are display-only
    and rounded. Blocking bounds the quadratic step exactly as in
    ``fuzzy_prefix_pairs`` (hot blocks dropped pre-join); signals are
    row-local codegen inside the blocked join. At 100 TB the block
    histogram is the knob: tighter blocks trade recall for bounded
    work, and the downstream clustering (``connected_clusters``)
    consumes these pairs unchanged.
    """
    # r10 restructure (guide §8: decide with small rows): the blocked
    # self-join evaluated array_intersect FOUR times + levenshtein once
    # per candidate pair INSIDE the join condition (Catalyst inlines the
    # match predicate; the r9 prefilter attempt regressed for the same
    # reason). Instead the intersection size i comes from the classic
    # token-inverted self-join + hash-agg (map-side partials, no
    # per-pair array scans), and levenshtein runs only for pairs passing
    # 5*i >= u — a provably NECESSARY condition: score >= 0.6 <=>
    # 5*(i*m + (m-d)*u) >= 6*u*m  ==>  5*i*m >= u*(m + 5*d) >= u*m for
    # m > 0, d >= 0. Pairs with i = 0 can only match when u = 0 (both
    # token sets empty: LHS = RHS = 0), which the token join cannot
    # emit — the degenerate branch below reproduces them exactly.
    keyed = _block_capped(
        docs.select(
            "doc_id",
            "lang",
            F.substring_index(F.col("text"), " ", 1).alias("blk"),
            F.substring("text", 1, ER_PREFIX_CHARS).alias("prefix"),
            F.array_distinct(
                F.filter(
                    F.split(F.col("text"), " "),
                    lambda t: F.length(t) > 0,
                )
            ).alias("toks"),
        ),
        FUZZY_MAX_BLOCK,
    ).select(
        "doc_id", "lang", "blk", "prefix", "toks",
        F.size("toks").alias("sz"),
    )
    # doc-grain; 4 consumers below. Spread before the checkpoint so
    # the token-explode join and the levenshtein verify downstream run
    # at full width (r10, guide §2.5).
    keyed = _spread(keyed, "doc_id").localCheckpoint(eager=True)
    tok = keyed.select(
        "doc_id", "lang", "blk", F.explode("toks").alias("tk")
    )
    pair_i = (
        tok.select("lang", "blk", "tk", F.col("doc_id").alias("id_a"))
        .join(
            tok.select(
                "lang", "blk", "tk", F.col("doc_id").alias("id_b")
            ),
            ["lang", "blk", "tk"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("int").alias("i"))
    )
    meta_a = keyed.select(
        F.col("doc_id").alias("id_a"),
        F.col("prefix").alias("pa"),
        F.col("sz").alias("sa"),
    )
    meta_b = keyed.select(
        F.col("doc_id").alias("id_b"),
        F.col("prefix").alias("pb"),
        F.col("sz").alias("sb"),
    )
    cand = (
        pair_i.join(meta_a, "id_a")
        .join(meta_b, "id_b")
        .withColumn("u", F.col("sa") + F.col("sb") - F.col("i"))
        .filter(F.lit(5) * F.col("i") >= F.col("u"))
    )
    degen = (
        keyed.filter(F.col("sz") == 0)
        .select(
            F.col("doc_id").alias("id_a"), "lang", "blk",
            F.col("prefix").alias("pa"),
        )
        .join(
            keyed.filter(F.col("sz") == 0).select(
                F.col("doc_id").alias("id_b"), "lang", "blk",
                F.col("prefix").alias("pb"),
            ),
            ["lang", "blk"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", "pa", "pb",
            F.lit(0).alias("i"), F.lit(0).alias("u"),
        )
    )
    scored = (
        cand.select("id_a", "id_b", "pa", "pb", "i", "u")
        .unionByName(degen)
        .withColumn("d", F.levenshtein("pa", "pb"))
        .withColumn(
            "m", F.greatest(F.length("pa"), F.length("pb"))
        )
        .filter(
            F.lit(5) * (F.col("i") * F.col("m")
                        + (F.col("m") - F.col("d")) * F.col("u"))
            >= F.lit(ER_THRESH_NUM) * F.col("u") * F.col("m")
        )
    )
    return scored.select(
        "id_a",
        "id_b",
        F.round(F.col("i") / F.col("u"), 6).alias("jaccard"),
        F.round(
            F.lit(1.0) - F.col("d") / F.col("m"), 6
        ).alias("edit_sim"),
        F.round(
            F.lit(0.5) * (F.col("i") / F.col("u"))
            + F.lit(0.5) * (F.lit(1.0) - F.col("d") / F.col("m")),
            6,
        ).alias("score"),
    )


ORACLE_ER_MATCHES = f"""
er_keyed_all AS (
  SELECT doc_id, lang,
         split_part(text, ' ', 1) AS blk,
         substr(text, 1, {ER_PREFIX_CHARS}) AS prefix,
         list_distinct(list_filter(string_split(text, ' '),
                                   t -> length(t) > 0)) AS toks
  FROM documents
),
er_blocks AS (
  SELECT lang, blk FROM er_keyed_all
  GROUP BY lang, blk HAVING count(*) <= {FUZZY_MAX_BLOCK}
),
er_keyed AS (
  SELECT k.* FROM er_keyed_all k JOIN er_blocks USING (lang, blk)
),
er_scored AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.toks, b.toks)) AS INT) AS i,
         CAST(len(a.toks) + len(b.toks)
              - len(list_intersect(a.toks, b.toks)) AS INT) AS u,
         CAST(levenshtein(a.prefix, b.prefix) AS INT) AS d,
         CAST(greatest(length(a.prefix), length(b.prefix)) AS INT) AS m
  FROM er_keyed a
  JOIN er_keyed b ON a.lang = b.lang AND a.blk = b.blk
                  AND a.doc_id < b.doc_id
),
er_matches AS (
  SELECT id_a, id_b,
         round(CAST(i AS DOUBLE) / NULLIF(u, 0), 6) AS jaccard,
         round(1.0 - CAST(d AS DOUBLE) / NULLIF(m, 0), 6) AS edit_sim,
         round(0.5 * (CAST(i AS DOUBLE) / NULLIF(u, 0))
               + 0.5 * (1.0 - CAST(d AS DOUBLE) / NULLIF(m, 0)), 6)
           AS score
  FROM er_scored
  WHERE 5 * (i * m + (m - d) * u) >= {ER_THRESH_NUM} * u * m
)
"""


#: sorted-neighborhood method: sort-key prefix length and window size.
SNM_KEY_CHARS = 30
SNM_WINDOW = 4


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = SNM_WINDOW,
) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernandez-Stolfo): sort the
    corpus by a normalized key (first SNM_KEY_CHARS of the lowercased
    text) and emit every pair within a sliding window of ``window``
    positions — the third candidate-generation mechanism in the family
    (inverted index, LSH buckets, and now sorted neighborhoods), best
    when near-dups share PREFIXES rather than arbitrary shingles.

    The global rank is assigned without a global sort (the
    ``global_shuffle`` trick): prefix buckets keep key order, per-
    bucket counts prefix-sum into offsets over a tiny table, and a
    per-bucket row_number adds the offset — the corpus shuffles once
    on the bucket key. Window pairs come from a (W-1)-way position
    explode + ONE equi-join on partner position (never a range join);
    exact Jaccard attaches from the shared staged pair-count kernel,
    pairs outside it scoring 0. Skewed key prefixes (every doc
    starting "the ") fatten one bucket — the prefix length is the
    balance knob, and the window bound caps pair count at W·N
    regardless.

    Output: (d1 < d2, pos_gap, jaccard) — all window candidates with
    their scores; consumers threshold.
    """
    keyed = docs.select(
        "doc_id",
        F.substring(F.lower(F.col("text")), 1, SNM_KEY_CHARS).alias(
            "skey"
        ),
    ).withColumn("bucket", F.substring("skey", 1, 2))
    counts = keyed.groupBy("bucket").agg(F.count("*").alias("n"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("offset"),
    )
    wb = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    ranked = (
        keyed.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            (F.col("offset") + F.row_number().over(wb))
            .cast("long")
            .alias("pos"),
        )
    )
    a = ranked.select(
        F.col("doc_id").alias("da"),
        "pos",
        F.explode(
            F.array(*[F.lit(j) for j in range(1, window)])
        ).alias("pos_gap"),
    ).withColumn("ppos", F.col("pos") + F.col("pos_gap"))
    pairs = a.join(
        ranked.select(
            F.col("doc_id").alias("db"), F.col("pos").alias("ppos")
        ),
        "ppos",
    )
    norm = pairs.select(
        F.least("da", "db").alias("d1"),
        F.greatest("da", "db").alias("d2"),
        "pos_gap",
    )
    sc = _shared_counts_staged(docs)
    return norm.join(sc, ["d1", "d2"], "left").select(
        "d1",
        "d2",
        "pos_gap",
        F.round(
            F.coalesce(
                F.col("shared")
                / (F.col("n1") + F.col("n2") - F.col("shared")),
                F.lit(0.0),
            ),
            6,
        ).alias("jaccard"),
    )


ORACLE_SORTED_NEIGHBORHOOD = f"""
snm_ranked AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY substr(lower(text), 1, {SNM_KEY_CHARS}), doc_id
         ) AS pos
  FROM documents
),
snm_pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         CAST(b.pos - a.pos AS INT) AS pos_gap
  FROM snm_ranked a
  JOIN snm_ranked b
    ON b.pos > a.pos AND b.pos <= a.pos + {SNM_WINDOW - 1}
),
sorted_neighborhood AS (
  SELECT least(da, db) AS d1, greatest(da, db) AS d2, pos_gap,
         round(coalesce(
           CAST(c.shared AS DOUBLE) / (s1.n + s2.n - c.shared),
           0.0), 6) AS jaccard
  FROM snm_pairs p
  LEFT JOIN dcorrected c
    ON c.d1 = least(p.da, p.db) AND c.d2 = greatest(p.da, p.db)
  LEFT JOIN dsizes s1 ON s1.doc_id = least(p.da, p.db)
  LEFT JOIN dsizes s2 ON s2.doc_id = greatest(p.da, p.db)
)
"""


def simhash_recall_eval(docs: DataFrame) -> DataFrame:
    """Dedup QA: SimHash recall against the exact n-gram Jaccard
    truth — the same harness ``minhash_recall_eval`` provides for
    banding, here measuring how much of the lexical truth a
    Hamming-ball detector surfaces (SimHash sees weighted token
    overlap, so its misses concentrate where shingle ORDER carries
    the similarity). Both sides reuse the staged shingle kernel and
    the shared pair table; the eval itself is one broadcast-sized
    pair join."""
    truth = ngram_jaccard_pairs(docs)
    found = simhash_pairs(docs).select(
        "d1", "d2", F.lit(1).alias("hit")
    )
    return (
        truth.join(found, ["d1", "d2"], "left")
        .select(
            F.when(F.col("hit").isNotNull(), "recalled")
            .otherwise("missed")
            .alias("status"),
            "jaccard",
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )


ORACLE_SIMHASH_RECALL = """
simhash_recall_eval AS (
  SELECT CASE WHEN s.d1 IS NOT NULL THEN 'recalled' ELSE 'missed' END
           AS status,
         CAST(count(*) AS BIGINT) AS n_pairs,
         round(min(t.jaccard), 6) AS min_jaccard,
         round(max(t.jaccard), 6) AS max_jaccard
  FROM ngram_jaccard t
  LEFT JOIN simhash_pairs s ON s.d1 = t.d1 AND s.d2 = t.d2
  GROUP BY 1
)
"""


def detector_matrix(docs: DataFrame) -> DataFrame:
    """Dedup governance report: every near-dup detector's pair count
    and its agreement with the exact-Jaccard truth, in one table —
    the decision input for "which detectors do we pay for at 100 TB"
    (a detector adding no pairs beyond cheaper ones is dead weight;
    one with low truth-agreement needs its threshold audited).

    Each detector's pair set is the already-verified operator output;
    the matrix is four broadcast-sized joins over pair keys — the
    corpus is touched exactly as many times as the detectors
    themselves require (all staged/shared)."""
    truth = ngram_jaccard_pairs(docs).select("d1", "d2")
    dets = [
        ("containment", containment_pairs(docs).select("d1", "d2")),
        ("minhash_lsh", minhash_lsh_pairs(docs).select("d1", "d2")),
        ("simhash", simhash_pairs(docs).select("d1", "d2")),
        (
            "sorted_neighborhood",
            sorted_neighborhood_pairs(docs)
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("d1", "d2"),
        ),
    ]
    parts = []
    for name, df in dets:
        labeled = df.withColumn("detector", F.lit(name))
        hit = labeled.join(truth, ["d1", "d2"], "leftsemi").groupBy(
            "detector"
        ).agg(F.count("*").alias("n_in_truth"))
        tot = labeled.groupBy("detector").agg(
            F.count("*").alias("n_pairs")
        )
        parts.append(tot.join(hit, "detector", "left"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "detector",
        "n_pairs",
        F.coalesce("n_in_truth", F.lit(0)).alias("n_in_truth"),
    )


ORACLE_DETECTOR_MATRIX = f"""
dm_snm AS (
  SELECT d1, d2 FROM sorted_neighborhood
  WHERE jaccard >= {JACCARD_THRESHOLD}
),
dm_all AS (
  SELECT 'containment' AS detector, d1, d2 FROM containment_pairs
  UNION ALL
  SELECT 'minhash_lsh', d1, d2 FROM minhash_lsh
  UNION ALL
  SELECT 'simhash', d1, d2 FROM simhash_pairs
  UNION ALL
  SELECT 'sorted_neighborhood', d1, d2 FROM dm_snm
),
detector_matrix AS (
  SELECT detector,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN EXISTS (
             SELECT 1 FROM ngram_jaccard t
             WHERE t.d1 = a.d1 AND t.d2 = a.d2)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_in_truth
  FROM dm_all a
  GROUP BY detector
)
"""


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap vs a held-out set)
# ---------------------------------------------------------------------------

DECON_NGRAM = 5
DECON_BENCH_MOD = 29
DECON_MIN_SHARED = 1


def decontaminate_ngram(docs: DataFrame) -> DataFrame:
    """Training-set decontamination: flag corpus documents that share
    any ``DECON_NGRAM``-gram with the benchmark set (here the pseudo
    held-out docs ``doc_id % DECON_BENCH_MOD == 0``) — the overlap
    check every serious LLM data pipeline runs so eval questions do
    not leak into training data (GPT-3 appendix C methodology).

    Shape: both sides reduce to (span-hash, doc) postings; benchmark
    postings are the small side BROADCAST into a semi-join against
    corpus postings — the corpus shuffles zero times beyond its
    map-side hash projection; matched spans then count per corpus doc
    in one agg. Hashes are md5 of the joined token window (the
    `duplicate_spans` convention). Output per flagged doc: doc_id,
    n_shared_spans, n_bench_docs (distinct benchmark docs hit).
    """
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias(
            "pos", "w"
        ),
    )
    grams = (
        toks.withColumn(
            "gram",
            F.array_join(
                F.collect_list("w").over(
                    Window.partitionBy("doc_id")
                    .orderBy("pos")
                    .rowsBetween(0, DECON_NGRAM - 1)
                ),
                " ",
            ),
        )
        .withColumn("n_w", F.size(F.split(F.col("gram"), " ")))
        .filter(F.col("n_w") == DECON_NGRAM)
        .select("doc_id", F.md5("gram").alias("h"))
        .distinct()
    )
    bench = grams.filter(
        F.col("doc_id") % DECON_BENCH_MOD == 0
    ).select(F.col("doc_id").alias("bench_id"), "h")
    corpus = grams.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    hits = corpus.join(F.broadcast(bench), "h")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared_spans"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .filter(F.col("n_shared_spans") >= DECON_MIN_SHARED)
    )


ORACLE_DECONTAMINATE_NGRAM = f"""
dc_toks AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS w,
         len(toks) AS n_toks
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(text), '\\s+') AS toks
        FROM documents),
       LATERAL unnest(range(1, len(toks) + 1)) AS g(i)
),
dc_grams AS (
  SELECT DISTINCT doc_id,
         md5(list_aggregate(list(w ORDER BY pos), 'string_agg', ' '))
           AS h
  FROM (SELECT a.doc_id, a.pos AS start, b.pos, b.w
        FROM dc_toks a JOIN dc_toks b
          ON b.doc_id = a.doc_id
         AND b.pos BETWEEN a.pos AND a.pos + {DECON_NGRAM - 1}
        WHERE a.pos + {DECON_NGRAM - 1} < a.n_toks)
  GROUP BY doc_id, start
),
dc_bench AS (
  SELECT doc_id AS bench_id, h FROM dc_grams
  WHERE doc_id % {DECON_BENCH_MOD} = 0
),
dc_hits AS (
  SELECT c.doc_id, c.h, b.bench_id
  FROM dc_grams c JOIN dc_bench b USING (h)
  WHERE c.doc_id % {DECON_BENCH_MOD} <> 0
),
decontaminate_ngram AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_spans,
         CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
  FROM dc_hits GROUP BY 1
  HAVING count(*) >= {DECON_MIN_SHARED}
)
"""


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS local document fingerprinting)
# ---------------------------------------------------------------------------

WIN_K = 3     # words per gram
WIN_W = 4     # grams per winnowing window
WIN_DF_CAP = 30
WIN_MIN_SHARED = 2


def winnowing_pairs(docs: DataFrame) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS
    algorithm): per document, hash every WIN_K-gram, then keep only
    the MINIMUM hash of each WIN_W-gram sliding window — a local
    fingerprint sample with the guarantee MinHash cannot give: any
    shared run of at least W+K-1 tokens is ALWAYS detected (some
    window inside the run must agree on its minimum). Pairs sharing
    >= WIN_MIN_SHARED fingerprints are reported.

    Shape: gram hashing and window minima are per-doc (posexplode +
    a bounded FOLLOWING-frame window); the fingerprint table is the
    winnowed sample (~1/W of grams), the pair join is the standard
    inverted index with the document-frequency cap guarding hot
    fingerprints (same quadratic guardrail as `ngram_jaccard_pairs`).
    Output: doc_a, doc_b, n_shared.
    """
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias(
            "pos", "w"
        ),
    )
    wg = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WIN_K - 1)
    )
    grams = (
        toks.withColumn(
            "gram", F.array_join(F.collect_list("w").over(wg), " ")
        )
        .withColumn("ng", F.size(F.split(F.col("gram"), " ")))
        .filter(F.col("ng") == WIN_K)
        .select(
            "doc_id",
            "pos",
            F.conv(
                F.substring(F.md5("gram"), 1, 13), 16, 10
            ).cast("bigint").alias("h"),
        )
    )
    ww = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WIN_W - 1)
    )
    stats = grams.groupBy("doc_id").agg(F.max("pos").alias("max_pos"))
    # the winnowed fingerprint table feeds the df-cap agg AND the
    # kept table, and kept self-joins — unstaged, Catalyst duplicates
    # the whole token->gram->window chain up to 4x in the physical
    # plan (129 operators, zero ReusedExchange at r9 measurement).
    # Both tables are the ~1/W winnowed sample (doc-grain bounded), so
    # two eager checkpoints buy back three recomputations (guide §2.4).
    fps = (
        grams.withColumn("fp", F.min("h").over(ww))
        .join(F.broadcast(stats), "doc_id")
        .filter(F.col("pos") <= F.col("max_pos") - (WIN_W - 1))
        .select("doc_id", F.col("fp").alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hot = fps.groupBy("h").agg(F.count("*").alias("df")).filter(
        F.col("df") <= WIN_DF_CAP
    )
    kept = fps.join(hot.select("h"), "h", "leftsemi").localCheckpoint(
        eager=True
    )
    pairs = (
        kept.select(F.col("doc_id").alias("doc_a"), "h")
        .join(kept.select(F.col("doc_id").alias("doc_b"), "h"), "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WIN_MIN_SHARED)
    )
    return pairs


ORACLE_WINNOWING = f"""
wn_toks AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS w,
         len(toks) AS n_toks
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(text), '\\s+') AS toks
        FROM documents),
       LATERAL unnest(range(1, len(toks) + 1)) AS g(i)
),
wn_grams AS (
  SELECT doc_id, start AS pos,
         CAST(('0x' || substr(md5(
           list_aggregate(list(w ORDER BY pos), 'string_agg', ' ')
         ), 1, 13)) AS BIGINT) AS h
  FROM (SELECT a.doc_id, a.pos AS start, b.pos, b.w
        FROM wn_toks a JOIN wn_toks b
          ON b.doc_id = a.doc_id
         AND b.pos BETWEEN a.pos AND a.pos + {WIN_K - 1}
        WHERE a.pos + {WIN_K - 1} < a.n_toks)
  GROUP BY doc_id, start
),
wn_fps AS (
  SELECT DISTINCT doc_id, fp AS h FROM (
    SELECT doc_id, pos,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {WIN_W - 1} FOLLOWING) AS fp,
           max(pos) OVER (PARTITION BY doc_id) AS max_pos
    FROM wn_grams)
  WHERE pos <= max_pos - {WIN_W - 1}
),
wn_kept AS (
  SELECT doc_id, h FROM wn_fps
  WHERE h IN (SELECT h FROM wn_fps GROUP BY h
              HAVING count(*) <= {WIN_DF_CAP})
),
winnowing_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM wn_kept a JOIN wn_kept b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {WIN_MIN_SHARED}
)
"""


# ---------------------------------------------------------------------------
# template-normalized dedup (boilerplate detection)
# ---------------------------------------------------------------------------


def template_dedup(docs: DataFrame) -> DataFrame:
    """Template-normalized duplicate groups: lowercase, map every
    digit run to '0', collapse whitespace runs, THEN group by the
    md5 of the normalized text. Catches the boilerplate exact dedup
    misses — "Order #1234 shipped" / "Order #98765 shipped" collapse
    to one template — which is the dominant duplication mode in
    scraped logs/receipts/forms. Normalization uses only portable
    regex classes ([0-9], whitespace) so Java regex and RE2 agree.

    Map-only normalize + one hash-agg on the 16-byte fingerprint
    (identical cost profile to ``exact_dedup``). Output: one row per
    template with >1 member — template_hash, n_docs, keep_doc_id
    (lowest id), example of the scale of each boilerplate family.
    """
    norm = F.md5(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "0"),
            r"\s+",
            " ",
        )
    )
    return (
        docs.select("doc_id", norm.alias("template_hash"))
        .groupBy("template_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


ORACLE_TEMPLATE_DEDUP = """
td_norm AS (
  SELECT doc_id,
         md5(regexp_replace(regexp_replace(lower(text),
             '[0-9]+', '0', 'g'), '\\s+', ' ', 'g')) AS template_hash
  FROM documents
),
template_dedup AS (
  SELECT template_hash, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(min(doc_id) AS BIGINT) AS keep_doc_id
  FROM td_norm
  GROUP BY 1
  HAVING count(*) > 1
)
"""


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (unrolled EM)
# ---------------------------------------------------------------------------

#: EM iterations over the 8-row agreement-pattern table; parameters are
#: rounded to 9 dp after every M-step (the AR2 "pre-rounded operands"
#: stance) so both engines iterate on identical doubles.
FS_EM_ITERATIONS = 2
FS_INIT_P = 0.1
FS_INIT_M = 0.9


def fellegi_sunter_weights(docs: DataFrame) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage over the blocked candidate
    pairs (same (lang, first-word) block as ``er_matches`` — ONE
    candidate-generation rule for every pairwise matcher): each pair's
    comparison vector has three binary agreement fields

      g1 = token-Jaccard >= 0.5 (integer form 2*i >= u),
      g2 = same source, g3 = same n_chars-div-100 length band,

    and the classic latent-class EM estimates (p, m_k, u_k) on the
    8-row pattern contingency — E-step posteriors from the current
    parameters, M-step moment ratios, ``FS_EM_ITERATIONS`` unrolled
    rounds with parameters rounded to 9 dp each round so the
    iteration is engine-exact. Output per observed pattern: counts,
    match posterior, and the log-odds FS match weight
    sum_k ln(m_k/u_k | agree; (1-m_k)/(1-u_k) | disagree).

    Scale shape: the quadratic step is block-bounded (hot blocks
    dropped pre-join, same cap as er_matches); EVERYTHING after the
    one hash-agg to the 8-row pattern grain is constant-size algebra
    (1-row parameter broadcasts), so EM cost is independent of corpus
    size — the right shape for linkage at 100 TB where EM on raw
    pairs would be a multi-TB shuffle per iteration.
    """
    keyed = _block_capped(
        docs.select(
            "doc_id",
            "lang",
            F.substring_index(F.col("text"), " ", 1).alias("blk"),
            F.array_distinct(
                F.filter(
                    F.split(F.col("text"), " "),
                    lambda t: F.length(t) > 0,
                )
            ).alias("toks"),
            "source",
            (F.col("n_chars") / 100).cast("bigint").alias("band"),
        ),
        FUZZY_MAX_BLOCK,
    )
    # r10 (guide §2.5): same fix as fuzzy_prefix_pairs/phonetic —
    # materialize the capped blocks hash-partitioned on the JOIN key
    # at explicit width so both self-join sides read it exchange-free
    # and the per-pair agreement vector runs at full width.
    keyed = _spread_blk(keyed).localCheckpoint(eager=False)
    a = keyed.select(
        F.col("doc_id").alias("id_a"), "lang", "blk",
        F.col("toks").alias("ta"), F.col("source").alias("sa"),
        F.col("band").alias("ba"),
    )
    b = keyed.select(
        F.col("doc_id").alias("id_b"), "lang", "blk",
        F.col("toks").alias("tb"), F.col("source").alias("sb"),
        F.col("band").alias("bb"),
    )
    i = F.size(F.array_intersect("ta", "tb"))
    u = F.size("ta") + F.size("tb") - i
    pat = (
        a.join(b, ["lang", "blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            (F.lit(2) * i >= u).cast("int").alias("g1"),
            (F.col("sa") == F.col("sb")).cast("int").alias("g2"),
            (F.col("ba") == F.col("bb")).cast("int").alias("g3"),
        )
        .groupBy("g1", "g2", "g3")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    params = pat.agg(
        F.lit(float(FS_INIT_P)).alias("p"),
        F.lit(float(FS_INIT_M)).alias("m1"),
        F.lit(float(FS_INIT_M)).alias("m2"),
        F.lit(float(FS_INIT_M)).alias("m3"),
        F.round(
            F.sum(F.col("n") * F.col("g1")) / F.sum("n").cast("double"), 9
        ).alias("u1"),
        F.round(
            F.sum(F.col("n") * F.col("g2")) / F.sum("n").cast("double"), 9
        ).alias("u2"),
        F.round(
            F.sum(F.col("n") * F.col("g3")) / F.sum("n").cast("double"), 9
        ).alias("u3"),
    )

    def _lik(side: str):
        # product over the 3 fields of (g ? theta : 1-theta), written in
        # one fixed multiplication order for bit parity.
        t1, t2, t3 = (F.col(f"{side}1"), F.col(f"{side}2"), F.col(f"{side}3"))
        return (
            F.when(F.col("g1") == 1, t1).otherwise(1.0 - t1)
            * F.when(F.col("g2") == 1, t2).otherwise(1.0 - t2)
            * F.when(F.col("g3") == 1, t3).otherwise(1.0 - t3)
        )

    for _ in range(FS_EM_ITERATIONS):
        est = pat.crossJoin(F.broadcast(params)).select(
            "g1", "g2", "g3", "n",
            (
                (F.col("p") * _lik("m"))
                / (
                    F.col("p") * _lik("m")
                    + (1.0 - F.col("p")) * _lik("u")
                )
            ).alias("w"),
        )
        params = est.agg(
            F.round(
                F.sum(F.col("w") * F.col("n")) / F.sum("n").cast("double"),
                9,
            ).alias("p"),
            *[
                F.round(
                    F.sum(F.col("w") * F.col("n") * F.col(f"g{k}"))
                    / F.sum(F.col("w") * F.col("n")),
                    9,
                ).alias(f"m{k}")
                for k in (1, 2, 3)
            ],
            *[
                F.round(
                    F.sum((1.0 - F.col("w")) * F.col("n") * F.col(f"g{k}"))
                    / F.sum((1.0 - F.col("w")) * F.col("n")),
                    9,
                ).alias(f"u{k}")
                for k in (1, 2, 3)
            ],
        )
    w_term = lambda k: F.when(
        F.col(f"g{k}") == 1, F.log(F.col(f"m{k}") / F.col(f"u{k}"))
    ).otherwise(
        F.log((1.0 - F.col(f"m{k}")) / (1.0 - F.col(f"u{k}")))
    )
    return pat.crossJoin(F.broadcast(params)).select(
        "g1", "g2", "g3",
        F.col("n").alias("n_pairs"),
        F.round(
            (F.col("p") * _lik("m"))
            / (F.col("p") * _lik("m") + (1.0 - F.col("p")) * _lik("u")),
            6,
        ).alias("posterior"),
        F.round(w_term(1) + w_term(2) + w_term(3), 6).alias("fs_weight"),
    )


def _fs_oracle_lik(side: str) -> str:
    return (
        f"(CASE WHEN g1 = 1 THEN {side}1 ELSE 1.0 - {side}1 END"
        f" * CASE WHEN g2 = 1 THEN {side}2 ELSE 1.0 - {side}2 END"
        f" * CASE WHEN g3 = 1 THEN {side}3 ELSE 1.0 - {side}3 END)"
    )


def oracle_fellegi_sunter() -> str:
    lm, lu = _fs_oracle_lik("m"), _fs_oracle_lik("u")
    ctes = [
        f"""
fs_keyed_all AS (
  SELECT doc_id, lang, string_split(text, ' ')[1] AS blk,
         list_distinct(list_filter(string_split(text, ' '),
                                   t -> len(t) > 0)) AS toks,
         source, n_chars // 100 AS band
  FROM documents
),
fs_blocks AS (
  SELECT lang, blk FROM fs_keyed_all
  GROUP BY 1, 2 HAVING count(*) <= {FUZZY_MAX_BLOCK}
),
fs_keyed AS (
  SELECT k.* FROM fs_keyed_all k JOIN fs_blocks b USING (lang, blk)
),
fs_pat AS MATERIALIZED (
  SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT CAST(2 * len(list_intersect(a.toks, b.toks))
                >= len(a.toks) + len(b.toks)
                   - len(list_intersect(a.toks, b.toks)) AS INT) AS g1,
           CAST(a.source = b.source AS INT) AS g2,
           CAST(a.band = b.band AS INT) AS g3
    FROM fs_keyed a JOIN fs_keyed b
      ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
  )
  GROUP BY 1, 2, 3
),
fs_params0 AS MATERIALIZED (
  SELECT CAST({FS_INIT_P} AS DOUBLE) AS p,
         CAST({FS_INIT_M} AS DOUBLE) AS m1,
         CAST({FS_INIT_M} AS DOUBLE) AS m2,
         CAST({FS_INIT_M} AS DOUBLE) AS m3,
         round(sum(n * g1) / CAST(sum(n) AS DOUBLE), 9) AS u1,
         round(sum(n * g2) / CAST(sum(n) AS DOUBLE), 9) AS u2,
         round(sum(n * g3) / CAST(sum(n) AS DOUBLE), 9) AS u3
  FROM fs_pat
)"""
    ]
    prev = "fs_params0"
    for it in range(1, FS_EM_ITERATIONS + 1):
        ctes.append(
            f"""
fs_est{it} AS MATERIALIZED (
  SELECT g1, g2, g3, n,
         (p * {lm}) / (p * {lm} + (1.0 - p) * {lu}) AS w
  FROM fs_pat CROSS JOIN {prev}
),
fs_params{it} AS MATERIALIZED (
  SELECT round(sum(w * n) / CAST(sum(n) AS DOUBLE), 9) AS p,
         round(sum(w * n * g1) / sum(w * n), 9) AS m1,
         round(sum(w * n * g2) / sum(w * n), 9) AS m2,
         round(sum(w * n * g3) / sum(w * n), 9) AS m3,
         round(sum((1.0 - w) * n * g1) / sum((1.0 - w) * n), 9) AS u1,
         round(sum((1.0 - w) * n * g2) / sum((1.0 - w) * n), 9) AS u2,
         round(sum((1.0 - w) * n * g3) / sum((1.0 - w) * n), 9) AS u3
  FROM fs_est{it}
)"""
        )
        prev = f"fs_params{it}"
    ctes.append(
        f"""
fellegi_sunter AS (
  SELECT g1, g2, g3, n AS n_pairs,
         round((p * {lm}) / (p * {lm} + (1.0 - p) * {lu}), 6)
           AS posterior,
         round(CASE WHEN g1 = 1 THEN ln(m1 / u1)
                    ELSE ln((1.0 - m1) / (1.0 - u1)) END
               + CASE WHEN g2 = 1 THEN ln(m2 / u2)
                      ELSE ln((1.0 - m2) / (1.0 - u2)) END
               + CASE WHEN g3 = 1 THEN ln(m3 / u3)
                      ELSE ln((1.0 - m3) / (1.0 - u3)) END, 6)
           AS fs_weight
  FROM fs_pat CROSS JOIN {prev}
)"""
    )
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# PPJoin-style prefix-filtered similarity join (lossless)
# ---------------------------------------------------------------------------

#: Jaccard threshold as an exact rational (1/2): the comparison runs
#: cross-multiplied in integers, and the prefix length n - ceil(t*n) + 1
#: is integer ceiling division — no float ever decides membership.
PPJOIN_T_NUM, PPJOIN_T_DEN = 1, 2


def ppjoin_pairs(docs: DataFrame) -> DataFrame:
    """Prefix-filtered shingle-Jaccard join (Chaudhuri/Xiao-Wang
    PPJoin family, prefix filter only): for threshold t, a doc's
    *prefix* is its n - ceil(t·n) + 1 globally RAREST shingles
    (ascending document frequency, shingle text tiebreak); any pair
    with Jaccard >= t must share a prefix shingle — so candidates come
    from an inverted index over prefixes only, then exact
    set-intersection verification runs per candidate. LOSSLESS by the
    prefix-filter theorem: the DuckDB oracle computes the UNCAPPED
    exact all-pairs Jaccard, so the hash match proves no pair was
    pruned — the completeness guarantee the df-capped
    ``ngram_jaccard_pairs`` trades away.

    Scale shape: rare shingles have short posting lists by
    definition — the candidate join's bucket sizes are df-bounded
    where df is SMALL for every prefix member (hot shingles sort out
    of prefixes); verification is candidate-bounded, joining two
    doc-length-bounded shingle arrays per pair. The full PPJoin
    positional/suffix filters are further constant-factor prunes on
    the same plan shape (documented, not needed at fixture scale).
    """
    sh = _shingles_staged(docs)
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    n = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    pref_len = F.expr(
        f"n - ((n * {PPJOIN_T_NUM} + {PPJOIN_T_DEN - 1})"
        f" div {PPJOIN_T_DEN}) + 1"
    )
    # prefix self-joins and arrs feeds both verification sides —
    # unstaged, the df agg + window chain and the per-doc sorted-array
    # agg each run twice (zero ReusedExchange at r9 measurement); both
    # are doc-grain bounded, so one eager checkpoint each halves the
    # heavy work (guide §2.4).
    prefix = (
        sh.join(dfreq, "sh")
        .join(n, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= pref_len)
        .select("doc_id", "sh")
    )
    cand = (
        prefix.select(F.col("doc_id").alias("d1"), "sh")
        .join(prefix.select(F.col("doc_id").alias("d2"), "sh"), "sh")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("sh")).alias("arr")
    ).localCheckpoint(eager=True)
    verified = (
        cand.join(
            arrs.select(F.col("doc_id").alias("d1"), F.col("arr").alias("a1")),
            "d1",
        )
        .join(
            arrs.select(F.col("doc_id").alias("d2"), F.col("arr").alias("a2")),
            "d2",
        )
        .withColumn("i", F.size(F.array_intersect("a1", "a2")))
        .withColumn("u", F.size("a1") + F.size("a2") - F.col("i"))
        .filter(
            F.lit(PPJOIN_T_DEN) * F.col("i")
            >= F.lit(PPJOIN_T_NUM) * F.col("u")
        )
    )
    return verified.select(
        "d1",
        "d2",
        F.col("i").cast("bigint").alias("shared"),
        F.round(F.col("i") / F.col("u"), 6).alias("jaccard"),
    )


#: oracle = UNCAPPED exact all-pairs Jaccard (appended after
#: ORACLE_SHINGLES); hash equality proves the prefix filter lossless.
ORACLE_PPJOIN = f"""
ppj_n AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n
  FROM dshingles GROUP BY 1
),
ppj_shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS i
  FROM dshingles a JOIN dshingles b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
ppjoin_pairs AS (
  SELECT s.d1, s.d2, s.i AS shared,
         round(s.i / CAST(na.n + nb.n - s.i AS DOUBLE), 6) AS jaccard
  FROM ppj_shared s
  JOIN ppj_n na ON s.d1 = na.doc_id
  JOIN ppj_n nb ON s.d2 = nb.doc_id
  WHERE {PPJOIN_T_DEN} * s.i >= {PPJOIN_T_NUM} * (na.n + nb.n - s.i)
)
"""


def lsh_precision_eval(docs: DataFrame) -> DataFrame:
    """Dedup QA, the other half of ``minhash_recall_eval``: PRECISION
    of the LSH band candidates — what fraction of bucket-collision
    pairs survive exact-Jaccard verification. Recall says what the
    bands MISS; precision prices what they WASTE (every false
    candidate is an exact-verify you paid for), and bands×rows tuning
    at 100 TB is exactly this two-number trade.

    Reuses the session-staged shingles and the same band expressions
    as the production pipeline, so the candidate set here IS the
    pipeline's candidate set.

    Output (1 row): n_candidates, n_verified, precision.
    """
    sh_staged = _shingles_staged(docs)
    sigs = minhash_signatures(docs, shingles=sh_staged)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))
            ).alias("key"),
        )
        for b in range(N_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
        )
        .distinct()
    )
    nc = cand.agg(F.count("*").alias("n_candidates"))
    # default-arg call = the session-staged pair set (r10): the
    # explicit `shingles=sh_staged` it replaced was the SAME staged
    # table the default resolves to, so the verified set is identical.
    nv = minhash_lsh_pairs(docs).agg(F.count("*").alias("n_verified"))
    return nc.crossJoin(F.broadcast(nv)).select(
        "n_candidates",
        "n_verified",
        F.round(
            F.col("n_verified").cast("double")
            / F.col("n_candidates").cast("double"),
            6,
        ).alias("precision"),
    )


ORACLE_LSH_PRECISION = """
lsh_precision_eval AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM dcand)
           AS n_candidates,
         (SELECT CAST(count(*) AS BIGINT) FROM minhash_lsh)
           AS n_verified,
         round((SELECT CAST(count(*) AS DOUBLE) FROM minhash_lsh)
               / (SELECT CAST(count(*) AS DOUBLE) FROM dcand), 6)
           AS precision
)
"""


# ---------------------------------------------------------------------------
# capture-recapture estimate of undetected near-dup pairs (Chapman)
# ---------------------------------------------------------------------------


def capture_recapture_estimate(docs: DataFrame) -> DataFrame:
    """Chapman capture-recapture estimate of the TRUE number of
    near-dup pairs from two independent detectors — the "how much did
    dedup miss" number a 100-TB pipeline needs when exact all-pairs
    truth is unaffordable: treat the MinHash-LSH pair set and the
    SimHash pair set as two captures of the same population; the
    overlap rate estimates total abundance
    N_hat = (n1+1)*(n2+1)/(m+1) - 1 (Chapman's bias-corrected form),
    and coverage = |A union B| / N_hat is the fraction of duplicate
    mass the detector ensemble actually caught. Assumes detector
    independence — documented; correlated detectors bias N_hat low,
    so the number reads as an optimistic floor on what was missed.

    One union of the two already-verified pair sets, one pair-grain
    dedup agg, one 1-row reduction — the detectors themselves
    dominate the cost and are session-staged. All counts exact
    BIGINT; the two output estimates are single rounded divisions.

    Output (1 row): n_minhash, n_simhash, n_overlap, n_union,
    n_est_total, coverage_est.
    """
    a = minhash_lsh_pairs(docs).select(
        "d1", "d2", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    b = simhash_pairs(docs).select(
        "d1", "d2", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    pairs = (
        a.unionByName(b)
        .groupBy("d1", "d2")
        .agg(
            F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
        )
    )
    agg = pairs.agg(
        F.sum("in_a").alias("n1"),
        F.sum("in_b").alias("n2"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("m"),
        F.count("*").alias("u"),
    )
    n_est = (
        (F.col("n1") + 1) * (F.col("n2") + 1)
    ).cast("double") / (F.col("m") + 1).cast("double") - F.lit(1.0)
    return agg.select(
        F.col("n1").alias("n_minhash"),
        F.col("n2").alias("n_simhash"),
        F.col("m").alias("n_overlap"),
        F.col("u").alias("n_union"),
        F.round(n_est, 6).alias("n_est_total"),
        F.round(F.col("u").cast("double") / n_est, 6).alias(
            "coverage_est"
        ),
    )


ORACLE_CAPTURE_RECAPTURE = """
crc_pairs AS (
  SELECT d1, d2, max(in_a) AS in_a, max(in_b) AS in_b
  FROM (
    SELECT d1, d2, 1 AS in_a, 0 AS in_b FROM minhash_lsh
    UNION ALL
    SELECT d1, d2, 0 AS in_a, 1 AS in_b FROM simhash_pairs
  ) GROUP BY 1, 2
),
crc_agg AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS n1,
         CAST(sum(in_b) AS BIGINT) AS n2,
         CAST(sum(in_a * in_b) AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS u
  FROM crc_pairs
),
capture_recapture_estimate AS (
  SELECT n1 AS n_minhash, n2 AS n_simhash, m AS n_overlap,
         u AS n_union,
         round(CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
               / CAST(m + 1 AS DOUBLE) - 1.0, 6) AS n_est_total,
         round(CAST(u AS DOUBLE)
               / (CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
                  / CAST(m + 1 AS DOUBLE) - 1.0), 6) AS coverage_est
  FROM crc_agg
)
"""


# ---------------------------------------------------------------------------
# Jaro-Winkler similarity (expression-only, no UDF)
# ---------------------------------------------------------------------------

#: deterministic pair budget for the blocked name-pair demo.
JW_PAIR_LIMIT = 20

#: Winkler boost threshold: the prefix boost only applies when the
#: base Jaro similarity exceeds this (the textbook / Apache Commons
#: convention — an unconditional boost overstates dissimilar pairs).
JW_BOOST_THRESHOLD = 0.7


def jaro_winkler_pairs(part: DataFrame) -> DataFrame:
    """Jaro-Winkler similarity over blocked part-name pairs —
    previously on the deferred ledger as "UDF-only": the greedy
    windowed character matching IS an order-dependent fold, but like
    the DTW/NW/Wagner-Whitin family it runs as a PACKED-ARRAY KERNEL:
    chars ride arrays, and one ``aggregate`` over the s1 positions
    carries (used-mask, matched-chars, matched-positions) state —
    exact textbook Jaro (mid-window greedy match, transpositions =
    half the out-of-order matches) with the Winkler prefix boost
    applied ONLY when base Jaro > {THR} (the textbook / Apache
    Commons gating convention), zero Python rows. The oracle replays the SAME fold one character
    per recursive-CTE step (the state rides LIST columns), so the
    hash gate proves the two schedules equal.

    Matching/transposition counts are exact integers; jaro/jw are
    one mirrored double chain rounded at 6 dp. Pairs: distinct names
    sharing the leading word (the block key), lexicographic a < b,
    deterministic TakeOrdered({LIM}) — at scale the block join is the
    same bounded-block shape as the Levenshtein ER pass
    (``docs_er_matches``), and the per-pair kernel is O(len^2/ w)
    chars. Output: name_a, name_b, n_matches, transpositions,
    jw_sim.
    """
    names = part.select(F.col("p_name").alias("nm")).distinct()
    blk = names.select(
        "nm", F.split(F.col("nm"), " ").getItem(0).alias("blk")
    )
    a = blk.select(
        F.col("nm").alias("name_a"), F.col("blk").alias("blk_a")
    )
    b = blk.select(
        F.col("nm").alias("name_b"), F.col("blk").alias("blk_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .select("name_a", "name_b")
        .orderBy("name_a", "name_b")
        .limit(JW_PAIR_LIMIT)
    )
    prep = pairs.select(
        "name_a",
        "name_b",
        F.expr("split(name_a, '')").alias("s1"),
        F.expr("split(name_b, '')").alias("s2"),
        F.length("name_a").alias("l1"),
        F.length("name_b").alias("l2"),
        F.expr(
            "cast(greatest(greatest(length(name_a), length(name_b))"
            " div 2 - 1, 0) as int)"
        ).alias("w"),
    )
    # The in-lambda window-bounds predicate guards the EMPTY-window
    # case (i - w > l2): Spark's sequence(start, stop) descends when
    # start > stop, which would otherwise scan positions LEFT of the
    # legal window; DuckDB's range() yields [] there, so without the
    # guard the two engines could match different characters (review
    # finding). Legal windows are unaffected.
    jj = (
        "element_at(filter(sequence(greatest(1, i - w),"
        " least(l2, i + w)),"
        " j -> j >= greatest(1, i - w) AND j <= least(l2, i + w)"
        " AND element_at(s2, j) = element_at(s1, i)"
        " AND NOT element_at(acc.used, j)), 1)"
    )
    fold = prep.select(
        "name_a",
        "name_b",
        "s2",
        "l1",
        "l2",
        F.expr(
            "aggregate(sequence(1, l1),"
            " named_struct("
            "  'used', transform(sequence(1, l2), x -> false),"
            "  'mc', cast(array() as array<string>),"
            "  'mj', cast(array() as array<int>)),"
            " (acc, i) -> named_struct("
            f"  'used', if({jj} is null, acc.used,"
            f"   transform(acc.used, (u, idx) ->"
            f"    if(idx + 1 = {jj}, true, u))),"
            f"  'mc', if({jj} is null, acc.mc,"
            f"   array_append(acc.mc, element_at(s1, i))),"
            f"  'mj', if({jj} is null, acc.mj,"
            f"   array_append(acc.mj, {jj}))))"
        ).alias("st"),
    )
    done = fold.select(
        "name_a",
        "name_b",
        "l1",
        "l2",
        F.expr("size(st.mc)").alias("m"),
        F.expr(
            "size(filter(sequence(1, size(st.mc)),"
            " k -> element_at(st.mc, k) <> element_at(s2,"
            "  element_at(array_sort(st.mj), k))))"
        ).alias("mismatches"),
        F.expr(
            "size(filter(sequence(1, least(l1, l2)),"
            " k -> substring(name_a, 1, k)"
            " = substring(name_b, 1, k)))"
        ).alias("pfx"),
    )
    jaro = F.expr(
        "CASE WHEN m = 0 THEN 0.0 ELSE"
        " (CAST(m AS DOUBLE) / l1 + CAST(m AS DOUBLE) / l2"
        "  + CAST(m - mismatches div 2 AS DOUBLE) / m) / 3 END"
    )
    return done.select(
        "name_a",
        "name_b",
        F.col("m").cast("bigint").alias("n_matches"),
        F.expr("cast(mismatches div 2 as bigint)").alias(
            "transpositions"
        ),
        F.round(
            F.when(
                jaro > JW_BOOST_THRESHOLD,
                jaro + F.expr("least(pfx, 4)") * 0.1 * (1 - jaro),
            ).otherwise(jaro),
            6,
        ).alias("jw_sim"),
    )


jaro_winkler_pairs.__doc__ = jaro_winkler_pairs.__doc__.format(
    LIM=JW_PAIR_LIMIT, THR=JW_BOOST_THRESHOLD
)


ORACLE_JARO_WINKLER = f"""
jw_names AS (SELECT DISTINCT p_name AS nm FROM part),
jw_pairs AS (
  SELECT a.nm AS name_a, b.nm AS name_b,
         row_number() OVER (ORDER BY a.nm, b.nm) AS pid
  FROM (SELECT nm, split_part(nm, ' ', 1) AS blk FROM jw_names) a
  JOIN (SELECT nm, split_part(nm, ' ', 1) AS blk FROM jw_names) b
    ON a.blk = b.blk AND a.nm < b.nm
  ORDER BY a.nm, b.nm LIMIT {JW_PAIR_LIMIT}
),
jw_prep AS (
  SELECT pid, name_a, name_b,
         string_split(name_a, '') AS s1,
         string_split(name_b, '') AS s2,
         len(name_a) AS l1, len(name_b) AS l2,
         greatest(greatest(len(name_a), len(name_b)) // 2 - 1, 0)
           AS w
  FROM jw_pairs
),
jw_rec AS (
  SELECT pid, 1 AS i,
         list_transform(range(1, l2 + 1), x -> false) AS used,
         CAST([] AS VARCHAR[]) AS mc,
         CAST([] AS BIGINT[]) AS mj
  FROM jw_prep
  UNION ALL
  SELECT r.pid, r.i + 1,
         CASE WHEN f.jj IS NULL THEN r.used
              ELSE list_transform(range(1, p.l2 + 1),
                     x -> CASE WHEN x = f.jj THEN true
                               ELSE r.used[x] END) END,
         CASE WHEN f.jj IS NULL THEN r.mc
              ELSE list_append(r.mc, p.s1[r.i]) END,
         CASE WHEN f.jj IS NULL THEN r.mj
              ELSE list_append(r.mj, f.jj) END
  FROM jw_rec r
  JOIN jw_prep p ON p.pid = r.pid
  CROSS JOIN LATERAL (
    SELECT list_filter(range(greatest(1, r.i - p.w),
                             least(p.l2, r.i + p.w) + 1),
             j -> p.s2[j] = p.s1[r.i] AND NOT r.used[j])[1] AS jj
  ) f
  WHERE r.i <= p.l1
),
jw_done AS (
  SELECT r.pid, len(r.mc) AS m,
         CAST(len(list_filter(range(1, len(r.mc) + 1),
           k -> r.mc[k] <> p.s2[list_sort(r.mj)[k]])) AS BIGINT)
           AS mismatches
  FROM jw_rec r JOIN jw_prep p ON p.pid = r.pid
  WHERE r.i = p.l1 + 1
),
jaro_winkler AS (
  SELECT p.name_a, p.name_b, CAST(d.m AS BIGINT) AS n_matches,
         d.mismatches // 2 AS transpositions,
         round(CASE WHEN j.jaro > {JW_BOOST_THRESHOLD}
                    THEN j.jaro + least(v.pfx, 4) * 0.1
                         * (1 - j.jaro)
                    ELSE j.jaro END, 6) AS jw_sim
  FROM jw_done d JOIN jw_prep p ON p.pid = d.pid
  CROSS JOIN LATERAL (
    SELECT CAST(len(list_filter(range(1, least(p.l1, p.l2) + 1),
          k -> substr(p.name_a, 1, k) = substr(p.name_b, 1, k)))
          AS BIGINT) AS pfx
  ) v
  CROSS JOIN LATERAL (
    SELECT CASE WHEN d.m = 0 THEN 0.0 ELSE
             (CAST(d.m AS DOUBLE) / p.l1
              + CAST(d.m AS DOUBLE) / p.l2
              + CAST(d.m - d.mismatches // 2 AS DOUBLE) / d.m) / 3
           END AS jaro
  ) j
)
"""


# ---------------------------------------------------------------------------
# content-defined chunking (CDC) dedup report (round 7)
# ---------------------------------------------------------------------------

#: rolling-window width (chars) and boundary modulus: a position cuts
#: when hash(text[i : i+K]) % MOD == 0, giving ~MOD-char expected
#: chunks. This is the baseline modulus CDC (no FastCDC min/max
#: normalization — that refinement is a sequential accept/skip fold
#: over candidate cuts, documented as the production knob).
CDC_K = 8
CDC_MOD = 64


def cdc_chunk_report(docs: DataFrame) -> DataFrame:
    """Content-defined chunking dedup report: cut every document at
    CONTENT-derived boundaries (hash of the 8-char window divides
    CDC_MOD), hash each chunk, and report the cross-corpus
    chunk-level dedup — the storage/transfer dedup complement to the
    span/segment text screens: because boundaries depend only on
    LOCAL content, an insertion early in a file shifts every byte
    offset yet leaves all later chunk hashes IDENTICAL (the
    shift-resistance fixed-size blocking fundamentally lacks, and
    the reason every backup/dataset-transfer system chunks this
    way).

    Boundary detection is a per-doc higher-order filter over
    character positions (zero explodes until the bounded chunk list;
    md5-prefix window hashes — the SimHash '0x'||hex trick keeps the
    integer bit-equal cross-engine); chunk hashes are md5 of the
    substring spans. Exact integer counts/lengths end to end; the
    savings ratio divides once.

    Scale: per-doc O(len) window hashes fused in the scan projection,
    one (chunk-hash) hash-agg — the same shape as the shingle
    kernels. Output (1 row): n_docs, n_chunks, n_unique_chunks,
    total_chars, unique_chars, savings_ratio, avg_chunk_chars.
    """
    k, mod = CDC_K, CDC_MOD
    # r10 (guide §2.5 stragglers): the fixture corpus is ONE parquet
    # row group, so this O(total_chars) window-md5 projection ran on a
    # single core regardless of local[N]. Spreading doc rows across
    # the configured shuffle width first costs one narrow exchange and
    # parallelizes the per-char hashing; every output here is a
    # chunk-hash aggregation, so the result is partition-invariant.
    # At cluster scale the scan arrives already split and this
    # repartition is a no-op-sized shuffle relative to the CPU work.
    prepped = (
        docs.filter(F.length("text") >= 1)
        .select(
            "doc_id",
            "text",
            F.length("text").alias("ln"),
        )
        .repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
    )
    cuts = F.expr(
        f"if(ln >= {k} + 1,"
        f" filter(sequence(2, ln - {k} + 1),"
        f"  i -> cast(conv(substring(md5(substring(text, i, {k})), 1, 8),"
        f"   16, 10) as bigint) % {mod} = 0),"
        " cast(array() as array<int>))"
    )
    spans = prepped.select(
        "doc_id",
        "text",
        F.concat(F.array(F.lit(1)), cuts).alias("starts"),
        F.concat(cuts, F.array(F.col("ln") + 1)).alias("ends"),
    )
    chunks = spans.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(starts)),"
                " j -> named_struct("
                "  'ch', md5(substring(text, element_at(starts, j),"
                "   element_at(ends, j) - element_at(starts, j))),"
                "  'clen', cast(element_at(ends, j)"
                "   - element_at(starts, j) as bigint)))"
            )
        ).alias("c"),
    ).select("doc_id", F.col("c.ch").alias("ch"), F.col("c.clen").alias("clen"))
    per_hash = chunks.groupBy("ch").agg(
        F.count("*").alias("copies"),
        F.max("clen").alias("clen"),
    )
    nd = prepped.agg(F.count("*").alias("n_docs"))
    m = per_hash.agg(
        F.sum("copies").alias("n_chunks"),
        F.count("*").alias("n_unique_chunks"),
        F.sum(F.col("copies") * F.col("clen")).alias("total_chars"),
        F.sum("clen").alias("unique_chars"),
    ).crossJoin(F.broadcast(nd))
    return m.select(
        "n_docs",
        "n_chunks",
        "n_unique_chunks",
        "total_chars",
        "unique_chars",
        F.round(
            1
            - F.col("unique_chars").cast("double")
            / F.col("total_chars").cast("double"),
            6,
        ).alias("savings_ratio"),
        F.round(
            F.col("total_chars").cast("double")
            / F.col("n_chunks").cast("double"),
            2,
        ).alias("avg_chunk_chars"),
    )


ORACLE_CDC = f"""
cdc_p AS (
  SELECT doc_id, text, length(text) AS ln
  FROM documents WHERE length(text) >= 1
),
cdc_s AS (
  SELECT doc_id, text, ln,
         list_prepend(1,
           CASE WHEN ln >= {CDC_K} + 1 THEN
             list_filter(range(2, ln - {CDC_K} + 2),
               i -> CAST(('0x' || substr(md5(substr(text, i, {CDC_K})),
                          1, 8)) AS BIGINT) % {CDC_MOD} = 0)
           ELSE [] END) AS starts,
         list_append(
           CASE WHEN ln >= {CDC_K} + 1 THEN
             list_filter(range(2, ln - {CDC_K} + 2),
               i -> CAST(('0x' || substr(md5(substr(text, i, {CDC_K})),
                          1, 8)) AS BIGINT) % {CDC_MOD} = 0)
           ELSE [] END, ln + 1) AS ends
  FROM cdc_p
),
cdc_c AS (
  SELECT doc_id,
         md5(substr(text, starts[j], ends[j] - starts[j])) AS ch,
         CAST(ends[j] - starts[j] AS BIGINT) AS clen
  FROM cdc_s, LATERAL unnest(range(1, len(starts) + 1)) AS t(j)
),
cdc_h AS (
  SELECT ch, CAST(count(*) AS BIGINT) AS copies,
         CAST(max(clen) AS BIGINT) AS clen
  FROM cdc_c GROUP BY 1
),
cdc_nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM cdc_p),
cdc_chunk_report AS (
  SELECT d.n_docs,
         CAST(sum(copies) AS BIGINT) AS n_chunks,
         CAST(count(*) AS BIGINT) AS n_unique_chunks,
         CAST(sum(copies * clen) AS BIGINT) AS total_chars,
         CAST(sum(clen) AS BIGINT) AS unique_chars,
         round(1 - CAST(sum(clen) AS DOUBLE)
                   / sum(copies * clen), 6) AS savings_ratio,
         round(CAST(sum(copies * clen) AS DOUBLE)
               / sum(copies), 2) AS avg_chunk_chars
  FROM cdc_h, cdc_nd d
  GROUP BY d.n_docs
)
"""
