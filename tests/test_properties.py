"""Property-based tests (hypothesis) — invariants that must hold on
arbitrary data, not just the fixtures.

Each example builds a tiny local DataFrame; examples are capped so the
suite stays fast (Spark job per example).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE

from big_data_instacart_market_basket_analysis_spark.functions.skew import (
    salted_sum_count,
)
from big_data_instacart_market_basket_analysis_spark.operators import dedup

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# small word pool -> high collision/overlap probability
_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
_texts = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=3, max_size=8).map(" ".join),
    min_size=2,
    max_size=12,
)


@settings(**_SETTINGS)
@given(texts=_texts)
def test_minhash_candidates_subset_of_exact_jaccard(spark, texts):
    """MinHash+LSH output verifies exact Jaccard on candidates, so its
    pair set must be a subset of the exhaustive exact-Jaccard pairs at
    the same threshold (LSH can miss candidates, never add false
    positives past verification)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    exact = {
        (r["d1"], r["d2"])
        for r in dedup.ngram_jaccard_pairs(docs).collect()
    }
    lsh = {
        (r["d1"], r["d2"])
        for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    assert lsh <= exact


@settings(**_SETTINGS)
@given(texts=_texts)
def test_exact_dedup_partitions_the_corpus(spark, texts):
    """Groups partition the corpus: copies sum to n_docs, keepers are
    distinct group minima."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    rows = dedup.exact_dedup(docs).collect()
    assert sum(r["n_copies"] for r in rows) == len(texts)
    keepers = [r["keeper_doc_id"] for r in rows]
    assert len(keepers) == len(set(keepers))


@settings(**_SETTINGS)
@given(texts=_texts)
def test_connected_clusters_respect_pairs(spark, texts):
    """Every near-dup pair's endpoints share a cluster label; every doc
    is labeled exactly once; labels are component minima (<= doc_id)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    label = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_clusters(docs).collect()
    }
    assert sorted(label) == list(range(len(texts)))
    assert all(c <= d for d, c in label.items())
    for r in dedup.ngram_jaccard_pairs(docs).collect():
        assert label[r["d1"]] == label[r["d2"]]


def test_connected_clusters_converge_on_long_chain(spark):
    """A length-200 path graph has diameter 199 — plain min-label
    propagation needs 199 supersteps, far past any sane cap. The
    alternating large-star/small-star rounds must converge within the
    O(log^2 n) round cap and label the whole chain with its minimum."""
    n = 200
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(n)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["d1", "d2"]
    )
    label = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_clusters(docs, pairs=pairs).collect()
    }
    assert label == {i: 0 for i in range(n)}


def test_hot_shingle_dropped_from_candidate_generation(spark):
    """The document-frequency cap prunes pairs whose entire overlap is
    stop-shingles, and leaves every surviving pair's jaccard identical
    to the uncapped computation (cap applies to candidate generation
    only, never to the verify)."""
    hot = "the quick fox"  # appears in every doc -> df = 6
    rows = [
        # 0/1: true near-dups (share rare shingles beyond the hot one)
        (0, hot + " jumps over lazy dogs daily"),
        (1, hot + " jumps over lazy dogs nightly"),
        # 2/3: overlap ONLY via the hot shingle
        (2, hot + " aaa bbb ccc"),
        (3, hot + " ddd eee fff"),
        (4, hot + " ggg hhh iii"),
        (5, hot + " jjj kkk lll"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.01, max_shingle_df=10**9
        ).collect()
    }
    capped = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.01, max_shingle_df=3
        ).collect()
    }
    # hot-shingle-only pairs exist uncapped, vanish capped
    assert (2, 3) in uncapped and (2, 3) not in capped
    # the true near-dup pair survives with the identical jaccard value
    assert (0, 1) in capped
    assert capped[(0, 1)] == uncapped[(0, 1)]
    assert set(capped) <= set(uncapped)


def test_minhash_exact_first_collapses_copy_multiplicity(spark):
    """Exact copies never reach the LSH band buckets: a text duplicated
    k times contributes ONE representative (no pairs among copies), and
    surviving near-dup pairs carry the collapsed copy counts."""
    boiler = "the same boilerplate page text repeated verbatim everywhere"
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [(i, boiler) for i in range(5)]  # 5 exact copies -> keeper 0
    rows += [(10, near_a), (11, near_b)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["d1"], r["d2"]): (r["copies_1"], r["copies_2"])
        for r in dedup.minhash_exact_first(docs).collect()
    }
    # no pair between copies of the boilerplate (they collapsed)
    assert not any(d1 < 5 and d2 < 5 for d1, d2 in out)
    # the true near-dup pair survives with copy counts attached
    assert out.get((10, 11)) == (1, 1)


def test_hot_block_dropped_from_fuzzy_matching(spark):
    """The (lang, first-word) block cap drops stop-word blocks (the
    quadratic hot key at corpus scale) while small blocks' pairs are
    bit-identical to the uncapped computation."""
    rows = [
        # a hot "the" block: 4 docs, pairwise-near under the prefix
        # metric but sharing only the stop word
        (0, "en", "the aaaa 0"),
        (1, "en", "the bbbb 1"),
        (2, "en", "the cccc 2"),
        (3, "en", "the dddd 3"),
        # a small block with one true near-match
        (4, "en", "zebra stripe pattern alpha"),
        (5, "en", "zebra stripe pattern omega"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    uncapped = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in dedup.fuzzy_prefix_pairs(docs, max_block=10**9).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in dedup.fuzzy_prefix_pairs(docs, max_block=3).collect()
    }
    assert (0, 1) in uncapped and (0, 1) not in capped
    assert (4, 5) in capped
    assert capped[(4, 5)] == uncapped[(4, 5)]
    assert set(capped) <= set(uncapped)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # skewed key space
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_salted_agg_equals_direct_groupby(spark, rows):
    """The salted two-stage aggregation is exactly the direct groupBy
    for associative aggregates, for any data and any skew."""
    df = spark.createDataFrame(
        [(k, i, float(v)) for i, (k, v) in enumerate(rows)],
        ["k", "row_id", "value"],
    )
    salted = {
        (r["k"], r["n_events"], r["sum_value"])
        for r in salted_sum_count(
            df, key="k", row_id="row_id", value="value"
        ).collect()
    }
    direct = {
        (r["k"], r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert salted == direct


# ---------------------------------------------------------------------------
# temporal operators (as-of / range join) vs brute-force reference
# ---------------------------------------------------------------------------

_event_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),          # user_id
        st.integers(min_value=0, max_value=10_000),     # ts seconds
        st.sampled_from(["click", "purchase", "error"]),
        st.integers(min_value=0, max_value=100),        # value*1 int
    ),
    min_size=1,
    max_size=30,
)


def _events_df(spark, rows):
    from pyspark.sql import types as T

    data = [
        (i, user, sec * 1000, typ, float(val))
        for i, (user, sec, typ, val) in enumerate(rows)
    ]
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(data, schema)
    return df.withColumn(
        "ts", F.expr("timestamp_millis(ts_ms)")
    ).drop("ts_ms")


@settings(**_SETTINGS)
@given(rows=_event_rows)
def test_asof_join_matches_bruteforce(spark, rows):
    """For every purchase, the carried click is exactly the max
    (ts, event_id) click of the same user at-or-before the purchase."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )

    df = _events_df(spark, rows)
    got = {
        r["event_id"]: r["last_click_id"]
        for r in temporal.asof_last_click(df).collect()
    }
    events = [
        (i, user, sec * 1000, typ)
        for i, (user, sec, typ, _val) in enumerate(rows)
    ]
    purchases = [e for e in events if e[3] == "purchase"]
    clicks = [e for e in events if e[3] == "click"]
    assert set(got) == {p[0] for p in purchases}
    for pid, puser, pts, _ in purchases:
        eligible = [
            (ts, cid) for cid, cuser, ts, _ in clicks
            if cuser == puser and ts <= pts
        ]
        want = max(eligible)[1] if eligible else None
        assert got[pid] == want, (pid, got[pid], want)


@settings(**_SETTINGS)
@given(rows=_event_rows)
def test_range_join_matches_bruteforce(spark, rows):
    """Bucketed range join == brute-force count of same-user clicks
    within the window, including zero-match probes."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )

    df = _events_df(spark, rows)
    got = {
        r["event_id"]: r["n_clicks_nearby"]
        for r in temporal.range_join_nearby_clicks(df).collect()
    }
    events = [
        (i, user, sec * 1000, typ)
        for i, (user, sec, typ, _val) in enumerate(rows)
    ]
    errors = [e for e in events if e[3] == "error"]
    clicks = [e for e in events if e[3] == "click"]
    assert set(got) == {e[0] for e in errors}
    for eid, euser, ets, _ in errors:
        want = sum(
            1 for _cid, cuser, cts, _ in clicks
            if cuser == euser and abs(cts - ets) <= temporal.RANGE_MS
        )
        assert got[eid] == want, (eid, got[eid], want)


def test_approx_distinct_within_rsd(spark):
    """HLL estimate stays within 5x the configured 2% rsd of the exact
    count on the fixture (generous bound: rsd is a standard deviation,
    not a hard limit)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    df = temporal.approx_distinct_users(
        load_table(spark, "/root/testdata/sf0.001", "events")
    )
    for r in df.collect():
        exact, approx = r["n_users_exact"], r["n_users_approx"]
        assert abs(approx - exact) <= max(2, 0.10 * exact), r


def test_pack_batches_invariants(spark):
    """Every batch lands within one doc of the token budget, batches
    partition the corpus exactly, and doc ranges never overlap within
    a (lang, shard)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        textstats,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    n_docs = docs.count()
    batches = textstats.pack_batches(docs).collect()
    assert sum(r["n_docs"] for r in batches) == n_docs
    budget = textstats.PACK_BUDGET_TOKENS
    by_group: dict[tuple, list] = {}
    for r in batches:
        by_group.setdefault((r["lang"], r["shard"]), []).append(r)
    for rows in by_group.values():
        rows.sort(key=lambda r: r["batch_id"])
        # non-final batches must have crossed the budget boundary;
        # ranges must be disjoint and ordered.
        for prev, cur in zip(rows, rows[1:]):
            assert prev["last_doc"] < cur["first_doc"]
        total = sum(r["batch_tokens"] for r in rows)
        n_batches = rows[-1]["batch_id"] + 1
        assert len(rows) <= n_batches or total >= budget * (len(rows) - 1)


def test_kmeans_and_diverse_sample_invariants(spark):
    """KMeans assigns every vector to one of k clusters (deterministic
    under the fixed seed); the IVF diversity sample keeps at most
    per_cell vectors per cell and every sampled vector exists."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        similarity,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    km1 = similarity.kmeans_clusters(emb).collect()
    assert len(km1) == n
    assert {r["cluster_id"] for r in km1} <= set(range(similarity.KMEANS_K))
    km2 = {
        r["vec_id"]: r["cluster_id"]
        for r in similarity.kmeans_clusters(emb).collect()
    }
    assert {r["vec_id"]: r["cluster_id"] for r in km1} == km2

    sample = similarity.ivf_diverse_sample(emb).collect()
    per_cell: dict[int, int] = {}
    ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    for r in sample:
        per_cell[r["centroid_id"]] = per_cell.get(r["centroid_id"], 0) + 1
        assert r["vec_id"] in ids
    assert per_cell
    assert max(per_cell.values()) <= similarity.SAMPLE_PER_CELL


def test_redact_pii_patterns(spark):
    """Emails, long digit runs, and stop-listed entities are all
    redacted; clean text keeps everything else."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        textstats,
    )

    docs = spark.createDataFrame(
        [
            (0, "contact alice@example.com or call 5551234567 now"),
            (1, "the customer met the supplier yesterday"),
            (2, "no sensitive content here"),
            (3, "customers are unredacted (substring, not word)"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["n_redactions"]
        for r in textstats.redact_pii(docs).collect()
    }
    assert out == {0: 2, 1: 2, 2: 0, 3: 0}
    cleaned = docs.select(
        "doc_id",
        F.regexp_replace(
            "text", textstats.PII_PATTERN, textstats.REDACTION_TOKEN
        ).alias("clean"),
    ).collect()
    by_id = {r["doc_id"]: r["clean"] for r in cleaned}
    assert by_id[0] == (
        "contact [REDACTED] or call [REDACTED] now"
    )
    assert by_id[1] == "the [REDACTED] met the [REDACTED] yesterday"
    assert by_id[3].startswith("customers are unredacted")


def test_decontaminate_flags_overlap_only(spark):
    """Docs sharing a 3-gram with the benchmark set are flagged; docs
    with no overlap are not; benchmark docs themselves never appear."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        dedup,
    )

    docs = spark.createDataFrame(
        [
            (0, "secret eval question about spark joins"),
            (10, "an answer citing the secret eval question verbatim"),
            (11, "completely unrelated text with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    flagged = {
        r["doc_id"]: r["n_benchmark_shingles"]
        for r in dedup.decontaminate(docs, n_benchmark=10).collect()
    }
    # the one shared 3-gram is "secret eval question"
    assert flagged.get(10) == 1
    assert 11 not in flagged and 0 not in flagged


def test_stratified_sample_equals_full_rank(spark):
    """The two-phase (prefilter + fallback) plan returns exactly the
    same rows as a brute-force full ranking — including for a stratum
    smaller than k, which must be re-ranked in full."""
    from pyspark.sql import Window

    from big_data_instacart_market_basket_analysis_spark.operators import (
        sampling,
    )

    rows = [(i, f"doc number {i} with filler {i * 7 % 13}", "en")
            for i in range(200)]
    rows += [(1000 + i, f"tiny stratum doc {i}", "xx") for i in range(3)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    k = 5
    got = {
        (r["doc_id"], r["lang"], r["rn"])
        for r in sampling.stratified_sample(docs, k=k).collect()
    }
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    want = {
        (r["doc_id"], r["lang"], r["rn"])
        for r in docs.select(
            "doc_id", "lang", F.row_number().over(w).alias("rn")
        ).filter(F.col("rn") <= k).collect()
    }
    assert got == want
    assert len([t for t in got if t[1] == "xx"]) == 3  # whole tiny stratum


def test_split_by_hash_is_content_deterministic(spark):
    """Byte-identical texts land in the same split regardless of
    doc_id, and every doc gets exactly one split label."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        sampling,
    )

    rows = [(i, f"unique text {i}") for i in range(50)]
    rows += [(100, "duplicated body"), (101, "duplicated body")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["split"]
           for r in sampling.split_by_hash(docs).collect()}
    assert len(out) == 52
    assert out[100] == out[101]
    assert set(out.values()) <= {"train", "val", "test"}


def test_interarrival_single_event_user_nulls(spark):
    """A one-event user has zero gaps: null sum/max/avg, n_events=1."""
    import datetime

    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, 7, "click", 1.0, "{}"),
        (2, base + datetime.timedelta(seconds=10), 7, "click", 1.0, "{}"),
        (3, base, 8, "click", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r["user_id"]: r.asDict()
           for r in temporal.user_interarrival_stats(ev).collect()}
    assert out[7]["n_events"] == 2 and out[7]["sum_gap_ms"] == 10000
    assert out[7]["avg_gap_ms"] == 10000.0
    assert out[8]["n_events"] == 1 and out[8]["n_gaps"] == 0
    assert out[8]["sum_gap_ms"] is None and out[8]["avg_gap_ms"] is None


def test_salted_join_equals_plain_join(spark):
    """The salted fact-dim join returns row-for-row the plain join —
    including under forced sort-merge (no broadcast), where the salt
    actually lands in the shuffle keys."""
    from big_data_instacart_market_basket_analysis_spark.functions import (
        skew,
    )

    fact = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(100)],
        ["row_id", "k", "v"],
    )
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (9, "never-matched")],
        ["dk", "attr"],
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        salted = skew.salted_skew_join(
            fact, dim, big_key="k", dim_key="dk", row_id="row_id"
        )
        got = {(r["row_id"], r["attr"]) for r in salted.collect()}
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "_salt" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    want = {
        (r["row_id"], r["attr"])
        for r in fact.join(dim, fact["k"] == dim["dk"]).collect()
    }
    assert got == want and len(got) == 100


def test_fk_orphan_stats_counts_orphans_and_nulls(spark):
    """Synthetic orphans and null FKs are counted exactly."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        profiling,
    )

    fact = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None), (5, 11)],
        "row_id int, fk int",
    )
    pk = spark.createDataFrame([(10,), (11,)], "pk int")
    row = profiling.fk_orphan_stats(fact, "fk", pk, "pk", "t.fk->pk") \
        .collect()[0]
    assert row["n_rows"] == 5
    assert row["n_null_fk"] == 1
    assert row["n_orphans"] == 1  # fk=99 only; null is not an orphan


def test_session_funnel_requires_order(spark):
    """Conversion demands a purchase at-or-after the session's first
    click — a purchase-then-click session does NOT convert."""
    import datetime

    from big_data_instacart_market_basket_analysis_spark.streaming import (
        events as ev,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def at(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        # user 1: click then purchase -> converted
        (1, at(0), 1, "click", 1.0, "{}"),
        (2, at(60), 1, "purchase", 9.0, "{}"),
        # user 2: purchase then click (same session) -> NOT converted
        (3, at(0), 2, "purchase", 9.0, "{}"),
        (4, at(60), 2, "click", 1.0, "{}"),
        # user 3: clicks only -> not converted
        (5, at(0), 3, "click", 1.0, "{}"),
    ]
    evdf = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r["user_id"]: r for r in ev.session_funnel(evdf).collect()}
    assert out[1]["converted"] == 1
    assert out[2]["converted"] == 0
    assert out[3]["converted"] == 0 and out[3]["n_purchases"] == 0


def test_quantized_ann_recall_vs_exact(spark):
    """int8 quantization must preserve most of the exact top-k: recall@10
    >= 0.8 on the fixture corpus (64-dim, ~1% typical loss)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        similarity as sim,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.quantized_topk(emb).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_zorder_key_is_bijective_and_local(spark, tmp_path):
    """Morton keys: one zkey per (zx, zy) pair (invertible interleave),
    and the z-ordered write round-trips all rows."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        layout,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    events = load_table(spark, SF_ORACLE, "events")
    keys = layout.zorder_keys(events)
    n_pairs = keys.select("zx", "zy").distinct().count()
    n_zkeys = keys.select("zkey").distinct().count()
    assert n_pairs == n_zkeys

    out = str(tmp_path / "zordered")
    layout.write_zordered(events, out)
    assert spark.read.parquet(out).count() == events.count()


def test_sketch_rollup_within_hll_error(spark):
    """Merged daily HLL sketches must estimate within ~5% of the exact
    per-type distinct user count (lossless mergeability is the point)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    events = load_table(spark, SF_ORACLE, "events")
    approx = {
        r.event_type: r.approx_users
        for r in temporal.daily_sketch_rollup(events).collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(3, 0.05 * n), (t, approx[t], n)


def test_global_shuffle_is_dense_permutation(spark):
    """global_shuffle must assign each doc a unique position forming
    exactly 1..N, identical across physical layouts (repartition must
    not change the permutation), and ordered by the md5 key."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        sampling,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(97)], ["doc_id", "text"]
    )
    out = sampling.global_shuffle(docs).collect()
    pos = sorted(r["global_pos"] for r in out)
    assert pos == list(range(1, 98))
    by_key = sorted(out, key=lambda r: (r["shuffle_key"], r["doc_id"]))
    assert [r["global_pos"] for r in by_key] == list(range(1, 98))
    # layout independence
    out2 = sampling.global_shuffle(docs.repartition(7)).collect()
    assert {(r["doc_id"], r["global_pos"]) for r in out2} == {
        (r["doc_id"], r["global_pos"]) for r in out
    }


def test_segment_dedup_removes_only_shared_segments(spark):
    """A segment duplicated across docs is dropped from every carrier;
    unique segments survive verbatim; an all-boilerplate doc is dropped
    from the output entirely."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        dedup as dd,
    )

    w = dd.SEGMENT_WORDS
    boiler = " ".join(["spam"] * w)
    uniq_a = " ".join(f"a{i}" for i in range(w))
    uniq_b = " ".join(f"b{i}" for i in range(w))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {uniq_a}"),
            (2, f"{boiler} {uniq_b}"),
            (3, boiler),  # nothing but boilerplate
            (4, uniq_b.replace("b", "c")),  # untouched
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dd.segment_dedup(docs).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1]["clean_text"] == uniq_a
    assert out[2]["clean_text"] == uniq_b
    assert out[1]["n_dropped"] == 1 and out[4]["n_dropped"] == 0
    assert out[4]["clean_text"] == uniq_b.replace("b", "c")


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=0,
        max_size=30,
    )
)
def test_triangle_counts_match_bruteforce(spark, edges):
    """Per-node triangle counts from the oriented two-join plan must
    equal the O(n^3) brute-force enumeration, for any small graph."""
    from itertools import combinations

    from big_data_instacart_market_basket_analysis_spark.operators import (
        graph as G,
    )

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    # feed the operator through its lineitem-shaped input: one fake
    # order per edge containing both endpoints as parts.
    rows = []
    for i, (a, b) in enumerate(sorted(und)):
        rows.append((i, a))
        rows.append((i, b))
    if not rows:
        rows = [(0, 0)]  # degenerate single-part order: no edges
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    got = {
        r["node"]: r["n_triangles"]
        for r in G.triangle_counts(li).collect()
    }
    nodes = {n for e in und for n in e}
    expect: dict[int, int] = {}
    for a, b, c in combinations(sorted(nodes), 3):
        if {(a, b), (b, c), (a, c)} <= und:
            for n in (a, b, c):
                expect[n] = expect.get(n, 0) + 1
    assert got == expect


def test_template_dedup_collapses_boilerplate(spark):
    """Docs differing only in digit runs / whitespace collapse to one
    template group; genuinely different text does not."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        dedup as D,
    )

    docs = spark.createDataFrame(
        [
            (1, "Order #1234  shipped to zone 9"),
            (2, "order #98765 shipped  to zone 12"),
            (3, "ORDER #5 shipped to zone 0"),
            (4, "payment 77 failed"),
            (5, "payment 9000 failed"),
            (6, "a completely different document"),
        ],
        "doc_id long, text string",
    )
    rows = {r["keep_doc_id"]: r["n_docs"] for r in D.template_dedup(docs).collect()}
    assert rows == {1: 3, 4: 2}


def test_hilbert_key_matches_reference_and_injective(spark):
    """The unrolled Hilbert walk must equal the canonical xy2d loop
    (pure-Python reference) on corners + LCG-scattered points, and be
    injective (a space-filling curve is a bijection)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        layout as L,
    )

    def xy2d(n: int, x: int, y: int) -> int:
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    side = L.H_SIDE
    pts = [(0, 0), (0, side - 1), (side - 1, 0), (side - 1, side - 1)]
    seed = 12345
    for _ in range(60):
        seed = (1103515245 * seed + 12345) % (1 << 31)
        x = seed % side
        seed = (1103515245 * seed + 12345) % (1 << 31)
        pts.append((x, seed % side))
    df = spark.createDataFrame(
        [(i, x, y, x, y) for i, (x, y) in enumerate(pts)],
        "pid long, x long, y long, px long, py long",
    )
    got = {
        (r["px"], r["py"]): r["hkey"]
        for r in L.hilbert_d_frame(df, ["px", "py"]).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == xy2d(side, x, y), (x, y)
    assert len(set(got.values())) == len(got)  # injective on the sample
    assert all(0 <= d < side * side for d in got.values())


def test_phonetic_blocking_joins_spelling_variants(spark):
    """Jon/John/Jhon share the J500 phonetic block (so the pair IS a
    candidate despite different first words — the case the exact
    first-word block misses), while Smith lands elsewhere; the
    Levenshtein verify still gates the final pair set."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        dedup as D,
    )

    docs = spark.createDataFrame(
        [
            (1, "jon baker street", "en"),
            (2, "john baker street", "en"),
            (3, "jhon baker street", "en"),
            (4, "smith baker street", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    codes = {
        r["doc_id"]: r["blk"]
        for r in docs.select(
            "doc_id",
            D._phonetic_code(
                F.substring_index("text", " ", 1)
            ).alias("blk"),
        ).collect()
    }
    assert codes[1] == codes[2] == codes[3] == "J500"
    assert codes[4] == "S530"
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.phonetic_er_pairs(docs).collect()
    }
    assert pairs == {(1, 2), (1, 3), (2, 3)}


def test_graph_ann_beam_on_clustered_corpus(spark):
    """Navigable-graph ANN invariants on a corpus with real cluster
    structure (graph ANN's home turf): 3 well-separated clusters of
    31 vectors each, aligned with the IVF_STRIDE centroid sampling so
    each cluster owns one centroid. The beam must (a) produce
    contiguous ranks with distinct neighbors, (b) stay
    cluster-faithful for in-cluster queries, and (c) reach recall
    >= 0.5 vs exact brute force (beam 12 over 31-member cells)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        similarity as S,
    )

    def vec(cluster: int, i: int) -> list[float]:
        # orthogonal cluster centers + tiny deterministic perturbation
        v = [0.0] * 64
        v[cluster] = 100.0
        v[8 + (i * 7) % 40] += 1.0 + (i % 5) * 0.1
        v[50 + (i * 3) % 14] += 0.5
        return v

    rows = [
        (c * 31 + i, vec(c, c * 31 + i)) for c in range(3) for i in range(31)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    got = S.graph_ann_topk(emb).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(emb).collect()
    }
    assert set(by_q) == set(range(S.N_QUERIES))
    hits = 0
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        neighbors = [r["neighbor_id"] for r in rs]
        assert len(set(neighbors)) == len(neighbors)
        assert q not in neighbors
        # queries 0..4 live in cluster 0 (ids 0..30): every returned
        # neighbor must be a cluster mate (cross-cluster cosine ~0)
        assert all(n < 31 for n in neighbors)
        hits += sum(1 for n in neighbors if (q, n) in truth)
    recall = hits / (S.N_QUERIES * S.TOP_K)
    assert recall >= 0.5, recall


def test_triangle_hub_graph_wedge_bucket_bounded(spark):
    """Skew guard (round-2 verdict #3): on a synthetic hub graph the
    hybrid orientation must (a) still count triangles exactly and
    (b) bound every wedge bucket — the hub's out-degree under the
    orientation — by max(skew_threshold, #hubs), NOT by the hub's
    raw degree as pure id-orientation would (hub id 0 ⇒ out-degree =
    degree ⇒ a degree² bucket)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        graph as G,
    )

    n_spokes, thresh = 400, 16
    # hub node 0 (lowest id — worst case for id-orientation) connected
    # to every spoke; spokes chained pairwise so triangles exist:
    # (0, s, s+1) for consecutive spokes -> n_spokes-1 triangles.
    und_pairs = [(0, s) for s in range(1, n_spokes + 1)]
    und_pairs += [(s, s + 1) for s in range(1, n_spokes)]
    und = spark.createDataFrame(und_pairs, ["a", "b"])

    got = {
        r["node"]: (r["n_triangles"], r["degree"])
        for r in G.triangle_counts_from_edges(
            und, skew_threshold=thresh
        ).collect()
    }
    assert got[0] == (n_spokes - 1, n_spokes)  # hub: every triangle
    assert got[1] == (1, 2)
    assert got[2] == (2, 3)

    # the bound itself: max out-degree of the oriented edge list
    out = G._oriented_edges(und, skew_threshold=thresh)
    max_bucket = (
        out.groupBy("src")
        .count()
        .agg(F.max("count").alias("m"))
        .first()["m"]
    )
    n_hubs = 1
    assert max_bucket <= max(thresh, n_hubs)
    # and the hub emits no wedges at all (it sorts last)
    assert out.filter(F.col("src") == 0).count() == 0

    # _edge_support (k-truss) must ride the same oriented enumeration:
    # every hub-spoke edge (0, s) with s in a chained pair sits in
    # exactly 1 triangle except interior spokes' edges which sit in 2;
    # each chain edge (s, s+1) closes exactly one triangle with the hub.
    sup = {
        (r["a"], r["b"]): r["support"]
        for r in G._edge_support(und, skew_threshold=thresh).collect()
    }
    assert sup[(1, 2)] == 1 and sup[(n_spokes - 1, n_spokes)] == 1
    assert sup[(0, 1)] == 1 and sup[(0, n_spokes)] == 1
    assert sup[(0, 2)] == 2  # interior spoke: two chain neighbors
    assert sum(sup.values()) == 3 * (n_spokes - 1)  # 3 credits/triangle


def test_sssp_consistent_with_bfs(spark):
    """Weighted SSSP and BFS run the same seeds, edges, and round
    count, so they must reach EXACTLY the same node set; and since
    every edge weight is >= 1 cent-unit, the weighted distance is a
    pointwise upper bound... of the hop count: dist_cents >= hops
    (equality only if every edge on the path costs 1)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        graph as G,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    li = load_table(spark, SF_ORACLE, "lineitem")
    part = load_table(spark, SF_ORACLE, "part")
    assert G.SSSP_ROUNDS == G.BFS_HOPS  # the contract the test rides on
    hops = {
        r["node"]: r["dist"] for r in G.bfs_distances(li).collect()
    }
    wdist = {
        r["node"]: r["dist_cents"]
        for r in G.sssp_weighted(li, part).collect()
    }
    assert set(hops) == set(wdist)
    for node, d in wdist.items():
        assert d >= hops[node]
        assert (d == 0) == (hops[node] == 0)  # seeds and only seeds


@settings(**_SETTINGS)
@given(cut_day=st.integers(min_value=1, max_value=30))
def test_incremental_rollup_lossless_for_any_cutoff(spark, cut_day):
    """The base+delta merge must equal the one-pass rollup regardless
    of where the ingestion boundary falls."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal as T,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    events = load_table(spark, SF_ORACLE, "events")
    cutoff = f"2024-01-{cut_day:02d}"
    merged = {
        tuple(r)
        for r in T.incremental_rollup(events, cutoff_day=cutoff).collect()
    }
    onepass = {
        tuple(r)
        for r in T.incremental_rollup(
            events, cutoff_day="1900-01-01"  # everything lands in delta
        ).collect()
    }
    assert merged == onepass


def test_semdedup_invariants(spark):
    """SemDeDup survivors: subset of the corpus, plus the defining
    invariant — no surviving pair within a cell is >= the threshold
    with BOTH ids kept unless the lower id is the survivor (i.e. every
    pruned id has a lower-id similar neighbor in its cell); and the
    prune rule is deterministic (two runs agree)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        similarity,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n = emb.count()
    surv = similarity.semdedup_survivors(emb)
    rows = surv.collect()
    ids = {r["vec_id"] for r in rows}
    assert 0 < len(rows) <= n
    assert len(ids) == len(rows)  # no duplicate survivors

    # determinism
    again = {r["vec_id"] for r in similarity.semdedup_survivors(emb).collect()}
    assert ids == again

    # every pruned id has a lower-id >=threshold neighbor in its cell
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = similarity._ivf_centroids(emb)
    assigned = similarity._nearest_centroids(vecs, cents, 1)
    a, b = assigned.alias("a"), assigned.alias("b")
    sim_pairs = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cosine", similarity._cosine("a.v", "b.v"))
        .filter(F.col("cosine") >= similarity.SEMDEDUP_COSINE)
        .select(F.col("a.vec_id").alias("lo"), F.col("b.vec_id").alias("hi"))
        .collect()
    )
    pruned = {r["vec_id"] for r in emb.select("vec_id").collect()} - ids
    lower_similar = {r["hi"] for r in sim_pairs}
    assert pruned == lower_similar


def test_dsir_importance_target_bias(spark):
    """DSIR selection is target-biased: the target language is
    overrepresented among selected docs vs the corpus; and a corpus
    where every doc is target-language selects nothing (the LM ratio
    degenerates to exactly zero everywhere)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        textstats,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sel = textstats.dsir_importance(docs).collect()
    assert sel
    n_docs = docs.count()
    n_tgt = docs.filter("lang = 'en'").count()
    sel_tgt = sum(1 for r in sel if r["lang"] == "en")
    assert sel_tgt / len(sel) > n_tgt / n_docs
    assert all(r["weight"] > 0 for r in sel)

    only_en = docs.filter("lang = 'en'")
    assert textstats.dsir_importance(only_en).count() == 0


def test_gopher_rules_conjunction_and_audit(spark):
    """keep == AND of the six rule flags, and both verdicts occur on
    the fixture corpus (the filter is neither all-pass nor all-drop)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        textstats,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rows = textstats.gopher_rules(docs).collect()
    flags = [
        "ok_word_count", "ok_word_len", "ok_stopwords",
        "ok_alpha", "ok_dup_words", "ok_dup_trigrams",
    ]
    for r in rows:
        assert r["keep"] == all(r[f] for f in flags)
    verdicts = {r["keep"] for r in rows}
    assert verdicts == {True, False}


def test_ccnet_buckets_are_balanced_terciles(spark):
    """Within every language the head/middle/tail buckets differ in
    size by at most one (ntile property), and every doc is bucketed."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        textstats,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rows = textstats.ccnet_buckets(docs).collect()
    assert len(rows) == docs.count()
    per: dict[tuple, int] = {}
    for r in rows:
        per[(r["lang"], r["bucket"])] = per.get((r["lang"], r["bucket"]), 0) + 1
    langs = {k[0] for k in per}
    for lang in langs:
        sizes = [per.get((lang, b), 0) for b in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)


def test_scd2_intervals_tile_each_user_timeline(spark):
    """SCD2 invariants: per user, versions are 1..n contiguous, exactly
    one open (current) interval, each closed interval ends where the
    next begins, and adjacent intervals never share a state (runs are
    maximal)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    events = load_table(spark, SF_ORACLE, "events")
    rows = temporal.user_state_scd2(events).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in ivs] == list(range(1, len(ivs) + 1))
        assert sum(r["is_current"] for r in ivs) == 1
        assert ivs[-1]["is_current"] and ivs[-1]["valid_to_ms"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to_ms"] == b["valid_from_ms"], user
            assert a["state"] != b["state"], user


def test_suppliers_waiting_matches_bruteforce_correlated(spark):
    """Decorrelated Q21 plan == brute-force correlated evaluation."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        relational,
    )

    sf = SF_ORACLE
    supplier = spark.read.parquet(f"{sf}/supplier.parquet")
    lineitem = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    got = {
        (r["s_suppkey"], r["numwait"])
        for r in relational.suppliers_waiting(
            supplier, lineitem, orders, k=10_000
        ).collect()
    }

    lines = [
        (r["l_orderkey"], r["l_suppkey"], r["l_returnflag"])
        for r in lineitem.collect()
    ]
    final = {
        r["o_orderkey"]
        for r in orders.collect()
        if r["o_orderstatus"] == "F"
    }
    by_order: dict[int, list] = {}
    for ok, sk, fl in lines:
        by_order.setdefault(ok, []).append((sk, fl))
    waits: dict[int, set] = {}
    for ok, ls in by_order.items():
        if ok not in final:
            continue
        supps = {sk for sk, _ in ls}
        r_supps = {sk for sk, fl in ls if fl == "R"}
        if len(supps) > 1 and len(r_supps) == 1:
            waits.setdefault(next(iter(r_supps)), set()).add(ok)
    want = {(sk, len(oks)) for sk, oks in waits.items()}
    assert got == want


def test_suppliers_waiting_null_suppkey_is_not_a_second_supplier(spark):
    """A NULL-supplier line must not make an order multi-supplier: the
    oracle's correlated `l2.l_suppkey <> l1.l_suppkey` never matches
    NULL. Order 1 has an R line from supplier 1 plus a NULL-suppkey
    line, so nobody waited on it; order 2 is a real two-supplier wait
    (supplier 2 returned, supplier 3 did not)."""
    import duckdb

    from big_data_instacart_market_basket_analysis_spark.operators import (
        relational,
    )

    supplier_rows = [(1, "s1"), (2, "s2"), (3, "s3")]
    lineitem_rows = [
        (1, 1, "R"), (1, None, "N"),
        (2, 2, "R"), (2, 3, "N"),
    ]
    orders_rows = [(1, "F"), (2, "F")]
    supplier = spark.createDataFrame(
        supplier_rows, "s_suppkey BIGINT, s_name STRING"
    )
    lineitem = spark.createDataFrame(
        lineitem_rows,
        "l_orderkey BIGINT, l_suppkey BIGINT, l_returnflag STRING",
    )
    orders = spark.createDataFrame(
        orders_rows, "o_orderkey BIGINT, o_orderstatus STRING"
    )
    got = sorted(
        (r["s_suppkey"], r["numwait"])
        for r in relational.suppliers_waiting(
            supplier, lineitem, orders
        ).collect()
    )

    con = duckdb.connect()
    for name, cols, rows in [
        ("supplier", "s_suppkey BIGINT, s_name VARCHAR", supplier_rows),
        ("lineitem",
         "l_orderkey BIGINT, l_suppkey BIGINT, l_returnflag VARCHAR",
         lineitem_rows),
        ("orders", "o_orderkey BIGINT, o_orderstatus VARCHAR", orders_rows),
    ]:
        con.execute(f"CREATE TABLE {name} ({cols})")
        con.executemany(
            f"INSERT INTO {name} VALUES ({', '.join('?' * len(rows[0]))})",
            rows,
        )
    want = sorted(
        (sk, n)
        for sk, _, n in con.execute(
            "WITH " + relational.ORACLE_SUPPLIERS_WAITING.strip()
            + " SELECT * FROM suppliers_waiting"
        ).fetchall()
    )
    assert want == [(2, 1)]
    assert got == want


def test_grouped_map_slope_single_purchase_user(spark):
    """A user with one purchase reaches the grouped-map UDF, where the
    slope's denominator n*sxx - sx^2 is 0; the UDF must return no row
    for any user with fewer than 3 purchases rather than raise. User 1
    buys once, user 2 twice, users 3 and 4 three and four times (user
    4 also clicks); the result hash-matches the DuckDB oracle."""
    import datetime as dt

    import duckdb

    from big_data_instacart_market_basket_analysis_spark.functions import (
        udafs,
    )
    from tests.oracle_harness import canon_rows

    t0 = dt.datetime(2024, 1, 1)
    buys = {1: [5.0], 2: [3.0, 4.5], 3: [1.0, 2.5, 2.0],
            4: [9.99, 7.5, 8.25, 6.0]}
    rows = [
        (100 * u + i, t0 + dt.timedelta(hours=i), u, "purchase", v)
        for u, vs in buys.items() for i, v in enumerate(vs)
    ] + [(999, t0, 4, "click", None)]
    schema = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
              "event_type STRING, value DOUBLE")
    df = udafs.grouped_map_slope(spark.createDataFrame(rows, schema))
    got = canon_rows(df.columns, [tuple(r) for r in df.collect()])

    con = duckdb.connect()
    con.execute(f"CREATE TABLE events ({schema.replace('STRING', 'VARCHAR')})")
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?)", rows)
    cur = con.execute(
        "WITH " + udafs.ORACLE_GROUPED_MAP_SLOPE.strip()
        + " SELECT * FROM grouped_map_slope"
    )
    want_rows = cur.fetchall()
    want = canon_rows([d[0] for d in cur.description], want_rows)
    assert sorted(r[0] for r in want_rows) == [3, 4]
    assert got == want


def test_approx_quantiles_within_rank_error(spark):
    """The approx_percentile sketch must land within the guaranteed
    rank error (n / accuracy) of the exact percentile — checked by
    rank distance, not value distance, since value error is unbounded
    for spread-out data."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    approx = {
        r["event_type"]: r
        for r in temporal.approx_type_quantiles(events).collect()
    }
    values = {}
    for r in events.select("event_type", "value").collect():
        values.setdefault(r["event_type"], []).append(r["value"])
    for etype, vals in values.items():
        vals.sort()
        n = len(vals)
        row = approx[etype]
        assert row["n"] == n
        for q, col in ((0.5, "ap50"), (0.9, "ap90"), (0.99, "ap99")):
            got = row[col]
            # rank of the returned value in the exact sorted list
            import bisect

            lo = bisect.bisect_left(vals, got)
            hi = bisect.bisect_right(vals, got)
            target = q * (n - 1)
            tol = max(1.0, n / temporal.APPROX_Q_ACCURACY)
            assert lo - tol <= target <= hi + tol, (
                etype, col, got, lo, hi, target, n,
            )


def test_pit_enrich_preserves_purchases_and_matches_bruteforce(spark):
    """Every purchase appears exactly once in the PIT output (interval
    tiling -> at most one dim match; LEFT join -> at least one row),
    and the joined state equals a per-user brute-force replay of the
    observation stream."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    out = temporal.pit_enrich_purchases(events).collect()
    purchases = events.filter("event_type = 'purchase'").count()
    assert len(out) == purchases
    assert len({r["event_id"] for r in out}) == purchases

    obs = sorted(
        events.filter("event_type <> 'purchase'")
        .selectExpr("user_id", "unix_millis(ts) AS ts_ms", "event_type",
                    "event_id")
        .collect(),
        key=lambda r: (r["user_id"], r["ts_ms"], r["event_id"]),
    )
    by_user: dict = {}
    for r in obs:
        by_user.setdefault(r["user_id"], []).append(
            (r["ts_ms"], r["event_type"])
        )
    for r in out:
        history = by_user.get(r["user_id"], [])
        state = None
        for ts_ms, etype in history:
            if ts_ms <= r["ts_ms"]:
                state = etype
            else:
                break
        assert r["state_at_purchase"] == state, r


def test_er_matches_scores_bounded_and_thresholded(spark):
    from big_data_instacart_market_basket_analysis_spark.operators import (
        dedup,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = dedup.er_matches(
        load_table(spark, "/root/testdata/sf0.001", "documents")
    ).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["jaccard"] <= 1.0
        assert 0.0 <= r["edit_sim"] <= 1.0
        assert r["score"] >= 0.6 - 1e-9, r
        assert r["id_a"] < r["id_b"]


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc fully quoted inside a much longer one: containment
    ~1.0 (caught) while Jaccard stays below its threshold (missed) —
    the asymmetric case the containment operator exists for."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        dedup as dd,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} next{i} more{i}" for i in range(40))
    rows = [(1, short), (2, short + " " + filler)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    cont = dd.containment_pairs(docs, threshold=0.9).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r.d1, r.d2) == (1, 2)
    assert r.containment == 1.0  # every shingle of doc 1 is in doc 2
    # n_small = the contained (smaller) side's shingle count
    assert r.n_small == 4  # 6 tokens -> 4 three-word shingles

    jac = dd.ngram_jaccard_pairs(docs).collect()
    assert jac == []  # union dominated by the long doc


def test_duplicate_spans_island_merge_exact(spark):
    """Two docs share one contiguous 10-token run: each gets a single
    island whose covered-token count is exactly the run length."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        textstats as ts,
    )

    run = " ".join(f"shared{i}" for i in range(10))
    rows = [
        (1, "unique1a unique1b " + run + " tail1x tail1y"),
        (2, "other2a " + run + " other2b other2c other2d"),
        (3, "nothing here matches anything else at all today ok"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in ts.duplicate_spans(docs, w=8).collect()}

    assert set(out) == {1, 2}  # doc 3 has no duplicated span
    for d in (1, 2):
        r = out[d]
        # 10-token run, w=8 -> 3 start positions, one merged island
        assert r.n_dup_positions == 3
        assert r.n_islands == 1
        assert r.dup_tokens == 10  # exact union, not 3*8


def test_random_projection_preserves_norms(spark):
    """JL invariant: for a ±1 sign matrix, E[||Pv||^2] = out_dim *
    ||v||^2. The fixture's pairwise distances concentrate (CV ~12%, no
    label structure), so distance correlation is vacuous there — the
    norm ratio is the invariant that actually discriminates a broken
    matrix (the structured-LCG version measured mean ~8 with 10x the
    spread; md5 signs give mean 15.96 on this fixture)."""
    from tests.conftest import SF_ORACLE
    from big_data_instacart_market_basket_analysis_spark.operators import (
        similarity as sim,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(40)
    proj = {r.vec_id: r.proj for r in sim.random_projection(emb).collect()}
    orig = {r.vec_id: r.embedding for r in emb.collect()}

    ratios = []
    for vid, v in orig.items():
        p = proj[vid]
        ratios.append(sum(x * x for x in p) / sum(x * x for x in v))
    mean = sum(ratios) / len(ratios)
    assert 13.0 < mean < 19.0, mean  # expectation is out_dim = 16
    assert all(3.0 < r < 40.0 for r in ratios), (min(ratios), max(ratios))


def test_nb_quality_recovers_weak_labels(spark):
    """The NB classifier must be non-degenerate on the fixture: both
    classes predicted, and agreement with its own weak labels well
    above the majority-class rate would be too strict (the rules use
    non-lexical signals NB cannot see) — pin a floor instead."""
    from tests.conftest import SF_ORACLE
    from big_data_instacart_market_basket_analysis_spark.operators import (
        textstats as ts,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    out = ts.nb_quality_scores(docs)
    n = out.count()
    preds = {r.pred_keep for r in out.select("pred_keep").distinct().collect()}
    assert preds == {True, False}
    agree = out.filter("pred_keep = keep").count()
    assert agree / n > 0.6, (agree, n)


def test_kmv_estimate_error_bound(spark):
    """KMV estimate within 3/sqrt(k) relative error of exact truth on
    every saturated scope (n_kept == k); exact passthrough below k."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal as tmp,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = tmp.kmv_distinct_sketch(
        load_table(spark, SF_ORACLE, "events")
    ).collect()
    assert any(r["scope"] == "ALL" for r in rows)
    tol = 3.0 / (tmp.KMV_K ** 0.5)
    for r in rows:
        if r["n_kept"] < tmp.KMV_K:
            assert r["est_users"] == r["exact_users"]
        else:
            rel = abs(r["est_users"] - r["exact_users"]) / r["exact_users"]
            assert rel <= tol, (r["scope"], rel)


def test_cms_estimate_upper_bounds_truth(spark):
    """CMS estimates can only over-count; they must be >= exact and
    coincide when no collision occurred in the min cell."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal as tmp,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = tmp.cms_heavy_hitters(
        load_table(spark, SF_ORACLE, "events")
    ).collect()
    assert rows
    for r in rows:
        assert r["cms_est"] >= r["exact_cnt"], r


def test_hll_estimate_error_bound(spark):
    """HLL with m=64 registers: relative error within ~4/sqrt(m) of
    exact truth on every scope (generous 3x the 1.04/sqrt(m) bound)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal as tmp,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = tmp.hll_distinct(load_table(spark, SF_ORACLE, "events")).collect()
    assert any(r["scope"] == "ALL" for r in rows)
    tol = 4.0 / (tmp.HLL_M ** 0.5)
    for r in rows:
        rel = abs(r["est_users"] - r["exact_users"]) / r["exact_users"]
        assert rel <= tol, (r["scope"], rel)


def test_winnowing_guaranteed_detection(spark):
    """Winnowing's defining guarantee: two docs sharing a token run of
    length >= W + K - 1 MUST share at least one fingerprint (some
    window inside the run selects the same minimum)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        dedup,
    )

    shared = (
        "quick brown foxes jump over seven lazy dogs tonight while "
        "bright silver moons rise above quiet hills"
    )
    # long enough that the guarantee fires >= WIN_MIN_SHARED times
    assert (
        len(shared.split())
        >= (dedup.WIN_W + dedup.WIN_K - 1) * dedup.WIN_MIN_SHARED
    )
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma"),
            (2, "delta " + shared + " epsilon zeta"),
            (3, "unrelated words only here nothing matches at all"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.winnowing_pairs(docs).collect()
    }
    assert any(p == (1, 2) for p in pairs), pairs
    assert not any(3 in p for p in pairs), pairs


@given(
    keys=st.lists(
        st.integers(min_value=1, max_value=10_000),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@settings(**_SETTINGS)
def test_bloom_filter_no_false_negatives(spark, keys):
    """Bloom guarantee: when every probe key IS a build key, all probe
    keys must pass the filter — a false negative is impossible by
    construction (all K bits of a build key are set)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        relational as rel,
    )

    customer = spark.createDataFrame(
        [(k, "BUILDING") for k in keys], "c_custkey long, c_mktsegment string"
    )
    orders = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "o_orderkey long, o_custkey long"
    )
    row = rel.bloom_join_prune(customer, orders).collect()[0]
    assert row["n_pass_keys"] == row["n_probe_keys"] == len(keys)
    assert row["n_false_pos"] == 0


def test_bloom_filter_fp_rate_bounded(spark):
    """Disjoint probe keys: observed fp rate should be near the
    analytic estimate (well under 5% at n=200, m=8192, k=3)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        relational as rel,
    )

    customer = spark.createDataFrame(
        [(k, "BUILDING") for k in range(200)],
        "c_custkey long, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(i, 1_000_000 + i) for i in range(2_000)],
        "o_orderkey long, o_custkey long",
    )
    row = rel.bloom_join_prune(customer, orders).collect()[0]
    assert row["n_true_keys"] == 0
    assert row["fp_rate"] < 0.05
    assert row["fp_expected"] < 0.05


def test_negative_samples_never_positive(spark):
    """No sampled negative may collide with a positive, and per-user
    negatives are capped at NEG_K."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        factorization,
        sampling,
    )
    from big_data_instacart_market_basket_analysis_spark.plans.instacart import (
        instacart_tables,
    )

    t = instacart_tables(spark, SF_ORACLE)
    neg = sampling.negative_samples(t)
    pos = factorization._ratings(t).select("userID", "productID")
    assert neg.join(pos, ["userID", "productID"], "inner").count() == 0
    per_user = neg.groupBy("userID").count().agg(F.max("count")).collect()
    assert per_user[0][0] <= sampling.NEG_K


def test_ppjoin_equals_bruteforce_and_prunes(spark):
    """Prefix-filter completeness on a corpus designed so most pairs
    are NOT candidates: PPJoin output must equal brute-force shingle
    Jaccard >= 1/2 exactly (the losslessness theorem), including a
    near-dup pair and excluding a sub-threshold one."""
    from itertools import combinations

    from big_data_instacart_market_basket_analysis_spark.operators import (
        dedup as dd,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " extra"),                      # near-dup of 1
        (3, "one two three four five six seven"),  # unrelated
        (4, "one two three nine ten eleven twelve"),  # weak overlap w/ 3
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        (r.d1, r.d2): r.jaccard
        for r in dd.ppjoin_pairs(docs).collect()
    }

    def shingles(text):
        w = text.lower().split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    want = {}
    sets = {i: shingles(t) for i, t in rows}
    for a, b in combinations(sorted(sets), 2):
        i = len(sets[a] & sets[b])
        u = len(sets[a] | sets[b])
        if 2 * i >= u:
            want[(a, b)] = round(i / u, 6)
    assert want  # the near-dup pair exists
    assert got == want


# ---------------------------------------------------------------------------
# invariants of the round-3 session-2 operators (fixture-driven)
# ---------------------------------------------------------------------------


def test_rmst_bounded_by_tau(spark):
    """RMST is an area under a [0,1]-valued curve over [0, tau] — it
    must land in (0, tau]."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    row = temporal.rmst_report(
        load_table(spark, SF_ORACLE, "events")
    ).collect()[0]
    if row["n_churn_times"] == 0:
        # degenerate fixture (no churn events): engine-consistent NULL
        assert row["rmst_days"] is None
    else:
        assert 0 < row["rmst_days"] <= row["tau"]


def test_modularity_terms_bounded(spark):
    """Each community's modularity term is within [-1, 1] and the
    total is < 1 (Newman's bound)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        graph,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = graph.community_modularity(
        load_table(spark, SF_ORACLE, "lineitem")
    ).collect()
    assert rows
    total = sum(r["q_term"] for r in rows)
    assert all(-1.0 <= r["q_term"] <= 1.0 for r in rows)
    assert total < 1.0


def test_qini_final_matches_totals(spark):
    """The last cumulative Qini value must equal the closed-form
    CONV_T − CONV_C·N_T/N_C on the grand totals."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = temporal.qini_uplift(
        load_table(spark, SF_ORACLE, "events")
    ).collect()
    rows.sort(key=lambda r: r["decile"])
    ct = sum(r["conv_t"] for r in rows)
    cc = sum(r["conv_c"] for r in rows)
    nt = sum(r["n_t"] for r in rows)
    nc = sum(r["n_c"] for r in rows)
    expected = ct - cc * nt / nc
    assert abs(rows[-1]["qini_cum"] - expected) < 1e-4


def test_ipf_margins_move_toward_targets(spark):
    """After the IPF rounds the weighted variant margins must be
    closer to 50/50 than the raw counts were (monotone improvement is
    the whole point of raking)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = temporal.ipf_raking(
        load_table(spark, SF_ORACLE, "events")
    ).collect()
    n = sum(r["n_obs"] for r in rows)
    raw0 = sum(r["n_obs"] for r in rows if r["variant"] == 0)
    w0 = sum(r["n_obs"] * r["w_mill"] for r in rows if r["variant"] == 0)
    wt = sum(r["n_obs"] * r["w_mill"] for r in rows)
    raw_gap = abs(raw0 / n - 0.5)
    ipf_gap = abs(w0 / wt - 0.5)
    assert ipf_gap <= raw_gap + 1e-9


def test_binary_ann_self_distance_zero(spark):
    """A vector's binary signature has Hamming distance 0 to itself,
    so every rank-1 neighbor's distance lower-bounds the list and
    distances are within [0, 64]."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        similarity,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = similarity.binary_ann_topk(
        load_table(spark, SF_ORACLE, "embeddings")
    ).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, lst in by_q.items():
        lst.sort(key=lambda r: r["rank"])
        hams = [r["hamming"] for r in lst]
        assert hams == sorted(hams)
        assert all(0 <= h <= 64 for h in hams)


def test_logrank_arms_partition_users(spark):
    """Log-rank's observed arm-1 churners can never exceed the total
    churn events, and e1 must sit strictly between 0 and the total."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    row = temporal.logrank_test(
        load_table(spark, SF_ORACLE, "events")
    ).collect()[0]
    if row["n_times"] == 0:
        assert row["e1"] is None  # no churn events in the fixture
    else:
        assert 0 < row["e1"] and row["o1"] >= 0


def test_abc_classes_cover_all_parts(spark):
    """The three ABC classes partition the parts and their shares sum
    to 1."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        analytics,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = analytics.abc_classes(
        load_table(spark, SF_ORACLE, "lineitem")
    ).collect()
    classes = {r["abc_class"] for r in rows}
    assert classes <= {"A", "B", "C"}
    assert abs(sum(r["rev_share"] for r in rows) - 1.0) < 1e-4


def test_price_index_base_month_is_unity(spark):
    """The base month's Laspeyres/Paasche/Fisher must all equal 1."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        analytics,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = analytics.price_index_report(
        load_table(spark, SF_ORACLE, "lineitem")
    ).collect()
    base = min(rows, key=lambda r: r["month"])
    assert base["laspeyres"] == 1.0
    assert base["paasche"] == 1.0
    assert base["fisher"] == 1.0


def test_hhi_bounds_and_cr4(spark):
    """HHI lies in (0, 10000]; CR4 in (0, 1]; with >4 brands CR4 < 1."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        analytics,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    r = analytics.market_hhi(
        load_table(spark, SF_ORACLE, "lineitem"),
        load_table(spark, SF_ORACLE, "part"),
    ).collect()[0]
    assert 0 < r["hhi"] <= 10000
    assert 0 < r["cr4"] <= 1
    if r["n_brands"] > 4:
        assert r["cr4"] < 1


def test_newsvendor_service_level_meets_fractile(spark):
    """Every chosen stock level must achieve at least the 3/4
    critical ratio (that is its definition)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = temporal.newsvendor_stock(
        load_table(spark, SF_ORACLE, "lineitem")
    ).collect()
    assert rows
    assert all(r["service_level"] >= 0.75 for r in rows)


def test_ef1_submission_selects_nonempty_or_none(spark):
    """EF1 stars are in (0, 1]; k_star >= 1 whenever products is not
    'None'; ef1 at k=1 lower-bounds nothing above 1."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["ef1_submission"](
        spark, SF_ORACLE
    ).collect()
    assert rows
    for r in rows:
        if r["products"] != "None":
            assert r["k_star"] >= 1
            assert 0 < r["ef1_star"] <= 1


def test_wht_parseval_holds(spark):
    """The Walsh-Hadamard Parseval identity must flag true on every
    row and coefficient 0 must equal the block sum."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = temporal.wht_spectrum(
        load_table(spark, SF_ORACLE, "events")
    ).collect()
    assert len(rows) == temporal.WHT_N
    assert all(r["parseval_ok"] == 1 for r in rows)


def test_acf_pacf_lag1_agree(spark):
    """PACF at lag 1 IS the lag-1 autocorrelation; all |rho| <= 1."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    ev = load_table(spark, SF_ORACLE, "events")
    acf = {r["lag"]: r["rho"] for r in temporal.acf_report(ev).collect()}
    pacf = {
        r["lag"]: r["pacf"] for r in temporal.pacf_report(ev).collect()
    }
    assert abs(pacf[1] - acf[1]) < 1e-9
    assert all(abs(v) <= 1.0 + 1e-9 for v in acf.values())


def test_ccf_bounded(spark):
    """Cross-correlations are bounded by 1 in absolute value."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = temporal.ccf_report(
        load_table(spark, SF_ORACLE, "events")
    ).collect()
    assert len(rows) == 2 * temporal.CCF_MAX_LAG + 1
    assert all(abs(r["rho"]) <= 1.0 + 1e-9 for r in rows)


def test_matrix_profile_motif_lower_bounds_discord(spark):
    """The global motif distance (min over all pairs) can never
    exceed the discord's nearest-neighbor distance (a max of mins)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    r = temporal.matrix_profile_report(
        load_table(spark, SF_ORACLE, "events")
    ).collect()[0]
    assert r["motif_dist"] <= r["discord_nn_dist"]
    assert r["motif_j"] - r["motif_i"] >= temporal.MP_WINDOW


def test_haar_energies_nonnegative(spark):
    """Haar detail energies are sums of squares: >= 0, one row per
    level."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = temporal.haar_energy(
        load_table(spark, SF_ORACLE, "events")
    ).collect()
    assert len(rows) == temporal.HAAR_LEVELS
    assert all(r["detail_energy"] >= 0 for r in rows)


def test_lsh_precision_bounded_by_candidates(spark):
    """Verified pairs are a subset of band candidates, so precision
    lies in [0, 1] and counts are ordered."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        dedup,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    r = dedup.lsh_precision_eval(
        load_table(spark, SF_ORACLE, "documents")
    ).collect()[0]
    assert 0 <= r["n_verified"] <= r["n_candidates"]
    assert 0.0 <= r["precision"] <= 1.0


def test_betweenness_path_graph_hand_worked(spark):
    """Path graph 101-102-103 (two 2-item orders): only the middle
    node carries betweenness. Hand-worked Brandes: pivots = all 3
    nodes (sample > |V|); from each leaf pivot delta(102) = 1, from
    pivot 102 only endpoint deltas (excluded), so betweenness(102) =
    2.0 over n_pivots=2 and the leaves get no dependency row at all."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        graph,
    )

    li = spark.createDataFrame(
        [(1, 101), (1, 102), (2, 102), (2, 103)],
        "l_orderkey long, l_partkey long",
    )
    out = {
        r["node"]: (r["n_pivots"], r["betweenness"])
        for r in graph.betweenness_approx(li).collect()
    }
    assert out == {102: (2, 2.0)}
