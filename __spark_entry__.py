"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship candidate-expansion pipeline at
sf0.001; ``queries()`` exposes every implemented operator from
SURVEY.md §2 (+ [EXT]); ``oracle_sql()`` gives the DuckDB-equivalent SQL
for each SQL-expressible query.

All three derive from one table, ``_QUERIES``, with one row per query:
``name -> (build, oracle)``. Row order is the driver order: events and
streaming early, slow ML and media last.

- ``build`` is a ``(spark, sf_dir) -> DataFrame`` callable written in
  the row (a lambda), or a ``q_*`` def above the table when it needs
  more than one statement.
- ``oracle`` is the DuckDB SQL, composed from the CTE fragments
  (``_oracle``, ``_ext_oracle``) or the base CTEs alone
  (``_BASE_ONLY``); ``None`` marks a rows-only query.

Rows bind late: a builder looks up ``load_table``, ``instacart_tables``
and every ``_mod.fn`` when it is called, never holding a function
object captured at import. The layer tracer (``perfbench/layers.py``)
times those functions by swapping the module attributes; a captured
reference would skip the swap and silently lose its spans.

Adding a query = adding one row.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_instacart_market_basket_analysis_spark.operators import (
    candidates as _cand,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    features as _feat,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    relational as _rel,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    submission as _sub,
)
from big_data_instacart_market_basket_analysis_spark.ml import models as _ml
from big_data_instacart_market_basket_analysis_spark.operators import (
    analytics as _ana,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    basket as _bask,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    dedup as _dedup,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    multimodal as _mm,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    privacy as _privacy,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    profiling as _prof,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    sampling as _samp,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    similarity as _sim,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    temporal as _tmp,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    trees as _trees,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    textstats as _text,
)
from big_data_instacart_market_basket_analysis_spark.plans import (
    sqlapi as _sqlapi,
)
from big_data_instacart_market_basket_analysis_spark.plans.instacart import (
    ORACLE_BASE_CTES,
    instacart_tables,
)
from big_data_instacart_market_basket_analysis_spark.functions.skew import (
    salted_skew_join,
    salted_sum_count,
)
from big_data_instacart_market_basket_analysis_spark.functions import (
    udafs as _udafs,
)
from big_data_instacart_market_basket_analysis_spark.sources.json_ingest import (
    ORACLE_EVENTS_JSON_ROUNDTRIP,
    ORACLE_VARIANT_ROLLUP,
)
from big_data_instacart_market_basket_analysis_spark.sources.text_ingest import (
    ORACLE_DOCS_TEXT_ROUNDTRIP,
)
from big_data_instacart_market_basket_analysis_spark.sources.orc_ingest import (
    ORACLE_EVENTS_ORC_ROUNDTRIP,
    events_orc_roundtrip,
)
from big_data_instacart_market_basket_analysis_spark.sources.xml_ingest import (
    ORACLE_EVENTS_XML_ROUNDTRIP,
    events_xml_roundtrip,
)
from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
    ensure_session_defaults,
    load_table,
)
from big_data_instacart_market_basket_analysis_spark.sources import (
    pydatasource as _pds,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    layout as _layout,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    graph as _graph,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    clustering as _clu,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    glm as _glm,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    factorization as _mf,
)
from big_data_instacart_market_basket_analysis_spark.streaming import (
    events as _ev,
)
from big_data_instacart_market_basket_analysis_spark.streaming import (
    stateful as _st,
)

# ---------------------------------------------------------------------------
# oracle composition: each fragment is "name AS (...)"; a query's oracle is
# WITH <base>, <fragments...> SELECT ... FROM <final>.
# ---------------------------------------------------------------------------

_FRAGMENTS: dict[str, str] = {
    "product_features": _feat.ORACLE_PRODUCT_FEATURES,
    "prior_enriched": _feat.ORACLE_PRIOR_ENRICHED,
    "user_order_features": _feat.ORACLE_USER_ORDER_FEATURES,
    "user_prior_features": _feat.ORACLE_USER_PRIOR_FEATURES,
    "users_final": _feat.ORACLE_USERS_FINAL,
    "user_product_features": _feat.ORACLE_USER_PRODUCT_FEATURES,
    "candidates": _cand.ORACLE_CANDIDATES,
    "feature_lift": _cand.ORACLE_FEATURE_LIFT,
    "proxy_submission": _sub.ORACLE_PROXY_SUBMISSION,
    "ef1_submission": _sub.ORACLE_EF1_SUBMISSION,
    "orders_limited": _rel.ORACLE_ORDERS_LIMITED,
    "dept_aisle_rollup": _rel.ORACLE_DEPT_AISLE_ROLLUP,
    "user_segment_stats": _rel.ORACLE_USER_SEGMENT_STATS,
    "products_only_prior": _rel.ORACLE_PRODUCTS_ONLY_PRIOR,
    "eval_split_counts": _rel.ORACLE_EVAL_SPLIT_COUNTS,
    "threshold_binarize": _rel.ORACLE_THRESHOLD_BINARIZE,
    "top_products_per_user": _rel.ORACLE_TOP_PRODUCTS_PER_USER,
    "loo_target_encoding": _feat.ORACLE_LOO_TARGET_ENCODING,
    "woe_iv_encoding": _feat.ORACLE_WOE_IV,
    "info_gain_ranking": _feat.ORACLE_INFO_GAIN,
    "feature_correlations": _prof.oracle_feature_correlations(),
    "baskets_base": _bask.ORACLE_BASKETS,
    "seq_spans": _bask.ORACLE_SEQ_SPANS,
    "sequential_pairs": _bask.ORACLE_SEQUENTIAL_PAIRS,
    "frequent_pairs": _bask.ORACLE_FREQUENT_PAIRS,
    "apriori_triples": _bask.ORACLE_APRIORI_TRIPLES,
    "closed_maximal_pairs": _bask.ORACLE_CLOSED_MAXIMAL_PAIRS,
    "als_rank1": _mf.oracle_als_rank1(),
    "negative_samples": _samp.oracle_negative_samples(),
    "als_bpr_auc": _mf.oracle_als_bpr_auc(),
    "pair_rules": _bask.ORACLE_PAIR_RULES,
    "basket_sizes": _bask.ORACLE_BASKET_SIZES,
    "pair_substitutes": _bask.ORACLE_PAIR_SUBSTITUTES,
    "sql_dept_stats": _sqlapi.ORACLE_SQL_DEPT_STATS,
    "sql_dept_top_reordered": _sqlapi.ORACLE_SQL_DEPT_TOP_REORDERED,
}

# fragment dependency edges (fragment -> prerequisite fragments, in order)
_DEPS: dict[str, list[str]] = {
    "product_features": [],
    "prior_enriched": [],
    "user_order_features": [],
    "user_prior_features": ["prior_enriched"],
    "users_final": ["prior_enriched", "user_prior_features", "user_order_features"],
    "user_product_features": ["prior_enriched"],
    "candidates": [
        "prior_enriched",
        "user_prior_features",
        "user_order_features",
        "users_final",
        "product_features",
        "user_product_features",
    ],
    "proxy_submission": [
        "prior_enriched",
        "user_prior_features",
        "user_order_features",
        "users_final",
        "product_features",
        "user_product_features",
        "candidates",
    ],
    "ef1_submission": [
        "prior_enriched",
        "user_prior_features",
        "user_order_features",
        "users_final",
        "product_features",
        "user_product_features",
        "candidates",
    ],
    "feature_lift": [
        "prior_enriched",
        "user_prior_features",
        "user_order_features",
        "users_final",
        "product_features",
        "user_product_features",
        "candidates",
    ],
    "orders_limited": [],
    "dept_aisle_rollup": ["product_features"],
    "user_segment_stats": [],
    "products_only_prior": [],
    "eval_split_counts": [],
    "threshold_binarize": ["product_features"],
    "top_products_per_user": ["prior_enriched", "user_product_features"],
    "loo_target_encoding": [],
    "woe_iv_encoding": [],
    "info_gain_ranking": [],
    "feature_correlations": [
        "prior_enriched",
        "user_prior_features",
        "user_order_features",
        "users_final",
        "product_features",
        "user_product_features",
        "candidates",
    ],
    "baskets_base": [],
    "seq_spans": [],
    "sequential_pairs": ["seq_spans"],
    "frequent_pairs": ["baskets_base"],
    "apriori_triples": ["baskets_base"],
    "closed_maximal_pairs": ["frequent_pairs", "apriori_triples"],
    "als_rank1": [],
    "negative_samples": [],
    "als_bpr_auc": ["als_rank1", "negative_samples"],
    "pair_rules": ["baskets_base"],
    "basket_sizes": ["baskets_base"],
    "pair_substitutes": ["baskets_base"],
    "sql_dept_stats": ["product_features"],
    "sql_dept_top_reordered": ["product_features"],
}


def _oracle(final: str, select: str | None = None) -> str:
    """Compose WITH base-CTEs + fragments for ``final`` + terminal SELECT."""
    seen: list[str] = []

    def add(name: str) -> None:
        for dep in _DEPS[name]:
            add(dep)
        if name not in seen:
            seen.append(name)

    add(final)
    ctes = ",\n".join(_FRAGMENTS[n].strip() for n in seen)
    body = select or f"SELECT * FROM {final}"
    return f"WITH {ORACLE_BASE_CTES.strip()},\n{ctes}\n{body}"


def _ext_oracle(
    fragments: list[str], final: str, recursive: bool = False
) -> str:
    """Compose an [EXT] oracle from standalone CTE fragments (these read
    documents/embeddings directly — no Instacart base CTEs needed).
    ``recursive`` prefixes WITH RECURSIVE (connected-components)."""
    ctes = ",\n".join(f.strip() for f in fragments)
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"{kw} {ctes}\nSELECT * FROM {final}"


#: the base CTEs alone, for rows that select straight from them
_BASE_ONLY = f"WITH {ORACLE_BASE_CTES.strip()}\n"


# ---------------------------------------------------------------------------
# declared queries
# ---------------------------------------------------------------------------


def _stringify_items(df: DataFrame) -> DataFrame:
    """Render the set-valued all_items column hash-stably (sorted,
    space-joined string) for oracle comparison."""
    cols = [
        F.array_join(F.col(c).cast("array<string>"), " ").alias(c)
        if c == "all_items"
        else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)


# perfbench/run.py calls entry._docs; the rows call load_table.
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def q_csv_ingest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S6 on the reference's real input format (F.py:16-30): orders
    round-tripped through Instacart-style CSV and re-ingested with the
    header/typed-read/enum/""->0 parse rules; must equal the
    parquet-derived view, so the same iorders oracle applies."""
    from big_data_instacart_market_basket_analysis_spark.sources import (
        csv_ingest as _csv,
    )

    return _csv.orders_csv_roundtrip(spark, sf_dir)


def q_prior_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = instacart_tables(spark, sf_dir)
    return _feat.prior_enriched(t).select(
        "orderID", "productID", "cart_order", "reordered", "userID",
        "eval_set", "order_number", "order_dow", "order_hod", "days_since",
    )


def q_plan_lint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight physical-plan lint over a representative set of the
    engine's own plans: flags cartesian/nested-loop joins, Python
    row-UDFs, and single-partition exchanges, plus a shuffle count per
    plan — the QA gate a pipeline runs before submitting a DAG to a
    1000-executor cluster. Plan metadata, not data: rows-only by
    nature (no SQL oracle exists for an execution plan).

    The report deliberately includes a true positive: brute-force ANN
    IS a broadcast nested-loop (5 query vectors against the corpus —
    the exactness baseline, acceptable because the build side is
    tiny), and the linter surfaces it instead of special-casing it —
    a reviewer decides, the tool reports."""
    from concurrent.futures import ThreadPoolExecutor

    t = instacart_tables(spark, sf_dir)
    # the feature rows lint the unstaged builders: the public
    # product_features/users_final return the session's persisted
    # tables, whose executed plan is one in-memory scan that no rule
    # can fire on (shuffle-count would read 0)
    builders = {
        "product_features": lambda: _feat._product_features(t),
        "users_final": lambda: _feat._users_final(t),
        "events_sessionize": lambda: _ev.sessionize(
            load_table(spark, sf_dir, "events")
        ),
        "ann_brute_force": lambda: _sim.brute_force_topk(
            load_table(spark, sf_dir, "embeddings")
        ),
        "text_quality": lambda: _text.quality_scores(
            load_table(spark, sf_dir, "documents")
        ),
        # round-3 heavies: the navigable-graph beam (staged-index
        # joins + per-round windows) and the bootstrap forest (per-
        # tree weighted hist aggs) — the two most join-dense new
        # plans. The lint deliberately builds the RAW search plan
        # (graph_ann_topk_plan), not the session-staged result, so the
        # linted text is the same in every session regardless of what
        # ran before.
        "ann_graph_beam": lambda: _sim.graph_ann_topk_plan(
            load_table(spark, sf_dir, "embeddings")
        ),
        # round-4: the distributed-rank conversions — these plans must
        # show ZERO user-grain global windows (the `global-window`
        # rule catches only the bounded #partitions-row offsets table,
        # if anything)
        "events_spend_deciles": lambda: _tmp.user_spend_deciles(
            load_table(spark, sf_dir, "events")
        ),
        "events_rfm_segments": lambda: _tmp.rfm_segments(
            load_table(spark, sf_dir, "events")
        ),
        "ml_rf_verified": lambda: _trees.rf_train(
            load_table(spark, sf_dir, "events")
        ),
    }
    # the nine builders are independent construction work — mostly
    # py4j round-trips plus a few staged-frontier checkpoint jobs —
    # so they run from a thread pool (guide §2.6); dict order is
    # preserved, so the report rows are byte-identical to the serial
    # build. Staged inputs are materialized up front (single-threaded)
    # so concurrent builders never race a staging cache miss.
    load_table(spark, sf_dir, "events")
    load_table(spark, sf_dir, "embeddings")
    load_table(spark, sf_dir, "documents")
    names = list(builders)
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        built = list(pool.map(lambda n: builders[n](), names))
    plans = dict(zip(names, built))
    return _prof.lint_report(spark, plans)


def q_json_ingest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-family on JSON lines: events round-tripped through a
    distributed JSON write + pinned-schema read must equal the parquet
    table."""
    from big_data_instacart_market_basket_analysis_spark.sources import (
        json_ingest as _json,
    )

    return _json.events_json_roundtrip(spark, sf_dir)


def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT: JSON payload -> parse_json -> typed
    try_variant_get extractions (top-level, nested path, array index)
    -> daily rollup; oracle aggregates raw columns, proving the
    semi-structured round-trip lossless."""
    from big_data_instacart_market_basket_analysis_spark.sources import (
        json_ingest as _json,
    )

    return _json.variant_daily_rollup(load_table(spark, sf_dir, "events"))


def q_text_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-family on raw text lines: documents round-tripped through a
    distributed text write + limit-split parse must equal the parquet
    table."""
    from big_data_instacart_market_basket_analysis_spark.sources import (
        text_ingest as _ti,
    )

    return _ti.docs_text_roundtrip(spark, sf_dir)


def q_docs_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement:
    exactly k docs per language with odds proportional to quality
    (exponential-race keys, deterministic md5 uniforms)."""
    d = load_table(spark, sf_dir, "documents")
    return _samp.weighted_sample_aes(d, _text.quality_scores(d))


#: the salted join is row-identical to the plain join, so the oracle
#: runs the unsalted form.
ORACLE_EVENTS_SALTED_JOIN = """
events_salted_join AS (
  SELECT c.c_mktsegment, e.event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         round(sum(e.value), 4) AS sum_value
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY 1, 2
)
"""


def q_events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-dim join: events salted on a per-row key, the
    customer dim replicated per salt — row-identical to the plain join
    (which is what the oracle runs), with the hot-key task bounded at
    1/n_salts. Output compacted to per-(segment, type) stats."""
    joined = salted_skew_join(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
        big_key="user_id",
        dim_key="c_custkey",
        row_id="event_id",
    )
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def q_ref_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the star schema's FK edges:
    per-relation row/null/orphan counts via distinct-key anti-joins."""
    tables = {
        n: load_table(spark, sf_dir, n)
        for n in ("lineitem", "orders", "customer", "nation", "events")
    }
    return _prof.ref_integrity_audit(tables)


def q_events_user_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation pattern: per-user count+sum via salted two-stage
    aggregation — result provably equals the direct groupBy (the oracle
    runs the direct form)."""
    out = salted_sum_count(
        load_table(spark, sf_dir, "events"),
        key="user_id", row_id="event_id", value="value",
    )
    return out.select(
        "user_id", "n_events", F.round("sum_value", 4).alias("sum_value")
    )


def q_docs_lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LDA topic model over the documents corpus: top
    terms per topic (rows-only — iterative variational Bayes)."""
    from big_data_instacart_market_basket_analysis_spark.ml import (
        unsupervised as _unsup,
    )

    return _unsup.lda_topics(load_table(spark, sf_dir, "documents"))


def q_docs_word2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Word2Vec over the corpus: top synonyms of the most
    frequent terms (rows-only — SGD embedding training)."""
    from big_data_instacart_market_basket_analysis_spark.ml import (
        unsupervised as _unsup,
    )

    return _unsup.word2vec_synonyms(load_table(spark, sf_dir, "documents"))


Builder = Callable[[SparkSession, str], DataFrame]


#: name -> (build, oracle), one row per query, in driver order
_QUERIES: dict[str, tuple[Builder, str | None]] = {
    "ingest_orders": (
        lambda spark, sf_dir: instacart_tables(spark, sf_dir).orders,
        _BASE_ONLY + "SELECT * FROM iorders"),
    "csv_ingest_orders": (
        q_csv_ingest_orders,
        _BASE_ONLY + "SELECT * FROM iorders"),
    "order_products": (
        lambda spark, sf_dir: instacart_tables(spark, sf_dir).order_products,
        _BASE_ONLY + "SELECT * FROM iorder_products"),
    "prior_products": (
        lambda spark, sf_dir: instacart_tables(spark, sf_dir).prior_products,
        _BASE_ONLY + "SELECT * FROM iprior_products"),
    "product_features": (
        lambda spark, sf_dir: _feat.product_features(
            instacart_tables(spark, sf_dir)),
        _oracle("product_features")),
    "prior_enriched": (q_prior_enriched, _oracle("prior_enriched")),
    "user_order_features": (
        lambda spark, sf_dir: _feat.user_order_features(
            instacart_tables(spark, sf_dir)),
        _oracle("user_order_features")),
    "user_prior_features": (
        lambda spark, sf_dir: _stringify_items(
            _feat.user_prior_features(instacart_tables(spark, sf_dir))),
        _oracle(
            "user_prior_features",
            "SELECT userID, items_purchased_total, "
            "array_to_string(all_items, ' ') AS all_items, distinct_items "
            "FROM user_prior_features")),
    "users_final": (
        lambda spark, sf_dir: _stringify_items(
            _feat.users_final(instacart_tables(spark, sf_dir))),
        _oracle(
            "users_final",
            "SELECT userID, items_purchased_total, "
            "array_to_string(all_items, ' ') AS all_items, distinct_items, "
            "avg_orderingGap, total_orders, average_items FROM users_final")),
    "user_product_features": (
        lambda spark, sf_dir: _feat.user_product_features(
            instacart_tables(spark, sf_dir)),
        _oracle("user_product_features")),
    "candidates": (
        lambda spark, sf_dir: _cand.candidates_staged(
            instacart_tables(spark, sf_dir)),
        _oracle("candidates")),
    "feature_lift": (
        lambda spark, sf_dir: _cand.feature_lift(
            instacart_tables(spark, sf_dir)),
        _oracle("feature_lift")),
    "proxy_submission": (
        lambda spark, sf_dir: _sub.proxy_submission(
            instacart_tables(spark, sf_dir)),
        _oracle("proxy_submission")),
    "pair_substitutes": (
        lambda spark, sf_dir: _bask.pair_substitutes(
            instacart_tables(spark, sf_dir)),
        _oracle("pair_substitutes")),
    "ef1_submission": (
        lambda spark, sf_dir: _sub.ef1_submission(
            instacart_tables(spark, sf_dir)),
        _oracle("ef1_submission")),
    "orders_limited": (
        lambda spark, sf_dir: _rel.orders_limited(
            instacart_tables(spark, sf_dir)),
        _oracle("orders_limited")),
    "eval_split_counts": (
        lambda spark, sf_dir: _rel.eval_split_counts(
            instacart_tables(spark, sf_dir)),
        _oracle("eval_split_counts")),
    "dept_aisle_rollup": (
        lambda spark, sf_dir: _rel.dept_aisle_rollup(
            instacart_tables(spark, sf_dir)),
        _oracle("dept_aisle_rollup")),
    "products_only_prior": (
        lambda spark, sf_dir: _rel.products_only_prior(
            instacart_tables(spark, sf_dir)),
        _oracle("products_only_prior")),
    "user_segment_stats": (
        lambda spark, sf_dir: _rel.user_segment_stats(
            instacart_tables(spark, sf_dir),
            load_table(spark, sf_dir, "customer")),
        _oracle("user_segment_stats")),
    "threshold_binarize": (
        lambda spark, sf_dir: _rel.threshold_binarize(
            instacart_tables(spark, sf_dir)),
        _oracle("threshold_binarize")),
    "top_products_per_user": (
        lambda spark, sf_dir: _rel.top_products_per_user(
            instacart_tables(spark, sf_dir)),
        _oracle("top_products_per_user")),
    "sql_dept_stats": (
        lambda spark, sf_dir: _sqlapi.sql_dept_stats(spark, sf_dir),
        _oracle("sql_dept_stats")),
    "sql_dept_top_reordered": (
        lambda spark, sf_dir: _sqlapi.sql_dept_top_reordered(spark, sf_dir),
        _oracle("sql_dept_top_reordered")),
    "sql_corpus_lang_stats": (
        lambda spark, sf_dir: _sqlapi.sql_corpus_lang_stats(spark, sf_dir),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONNECTED_CLUSTERS,
             _text.oracle_quality_scores(), _text.ORACLE_TOKEN_COUNTS,
             _text.ORACLE_CORPUS_PREP,
             _sqlapi.ORACLE_SQL_CORPUS_LANG_STATS],
            "sql_corpus_lang_stats",
            recursive=True)),
    "geo_customer_rollup": (
        lambda spark, sf_dir: _rel.geo_customer_rollup(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "region")),
        _ext_oracle([_rel.ORACLE_GEO_CUSTOMER_ROLLUP], "geo_customer_rollup")),
    "frequent_pairs": (
        lambda spark, sf_dir: _bask.frequent_pairs(
            instacart_tables(spark, sf_dir)),
        _oracle("frequent_pairs")),
    # the oracle counts the unpruned candidates, so the hash match proves the
    # downward-closure pruning lossless
    "apriori_triples": (
        lambda spark, sf_dir: _bask.apriori_triples(
            instacart_tables(spark, sf_dir)),
        _oracle("apriori_triples")),
    "closed_maximal_pairs": (
        lambda spark, sf_dir: _bask.closed_maximal_pairs(
            instacart_tables(spark, sf_dir)),
        _oracle("closed_maximal_pairs")),
    "pair_rules": (
        lambda spark, sf_dir: _bask.pair_rules(
            instacart_tables(spark, sf_dir)),
        _oracle("pair_rules")),
    "basket_sizes": (
        lambda spark, sf_dir: _bask.basket_sizes(
            instacart_tables(spark, sf_dir)),
        _oracle("basket_sizes")),
    # the SQL-expressible anchor of prefixspan_patterns
    "sequential_pairs": (
        lambda spark, sf_dir: _bask.sequential_pairs(
            instacart_tables(spark, sf_dir)),
        _oracle("sequential_pairs")),
    # events + streaming early: these were the never-driver-checked
    # block in round 1 (the driver stopped recording after the three
    # consecutive events read errors); keep them well clear of any
    # per-run budget tail.
    "events_tumbling_hourly": (
        lambda spark, sf_dir: _ev.tumbling_hourly(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_ev.ORACLE_TUMBLING_HOURLY], "tumbling_hourly")),
    "events_sliding_hourly": (
        lambda spark, sf_dir: _ev.sliding_hourly(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_ev.ORACLE_SLIDING_HOURLY], "sliding_hourly")),
    "events_sessionize": (
        lambda spark, sf_dir: _ev.sessionize(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_ev.ORACLE_SESSIONIZE], "sessionize")),
    "events_json_stats": (
        lambda spark, sf_dir: _ev.json_props_stats(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_ev.ORACLE_JSON_PROPS_STATS], "json_props_stats")),
    "events_user_stats_salted": (
        q_events_user_stats_salted,
        _ext_oracle(
            [
                "user_stats_salted AS (\n"
                "  SELECT user_id, count(*) AS n_events,\n"
                "         round(sum(value), 4) AS sum_value\n"
                "  FROM events GROUP BY 1\n"
                ")"
            ],
            "user_stats_salted")),
    "json_ingest_events": (
        q_json_ingest_events,
        _ext_oracle([ORACLE_EVENTS_JSON_ROUNDTRIP], "events_json_roundtrip")),
    "events_variant": (
        q_events_variant,
        _ext_oracle([ORACLE_VARIANT_ROLLUP], "variant_daily_rollup")),
    "text_ingest_docs": (
        q_text_ingest_docs,
        _ext_oracle([ORACLE_DOCS_TEXT_ROUNDTRIP], "docs_text_roundtrip")),
    "events_asof_join": (
        lambda spark, sf_dir: _tmp.asof_last_click(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_ASOF_LAST_CLICK], "asof_last_click")),
    "events_range_join": (
        lambda spark, sf_dir: _tmp.range_join_nearby_clicks(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.ORACLE_RANGE_JOIN_NEARBY_CLICKS],
            "range_join_nearby_clicks")),
    "events_type_quantiles": (
        lambda spark, sf_dir: _tmp.type_value_quantiles(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.ORACLE_TYPE_VALUE_QUANTILES], "type_value_quantiles")),
    "events_user_trend": (
        lambda spark, sf_dir: _tmp.user_value_trend(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_USER_VALUE_TREND], "user_value_trend")),
    "events_spend_deciles": (
        lambda spark, sf_dir: _tmp.user_spend_deciles(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_USER_SPEND_DECILES], "user_spend_deciles")),
    "events_cube_stats": (
        lambda spark, sf_dir: _tmp.cube_type_dow(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_CUBE_TYPE_DOW], "cube_type_dow")),
    # the raw HLL value is engine-register-specific, so the row carries the
    # exact count, the declared 3*rsd budget and a within_bound flag the oracle
    # asserts TRUE
    "events_approx_distinct": (
        lambda spark, sf_dir: _tmp.approx_distinct_users_checked(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.ORACLE_APPROX_DISTINCT_CHECKED], "events_approx_distinct")),
    "events_kmv_sketch": (
        lambda spark, sf_dir: _tmp.kmv_distinct_sketch(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_KMV_SKETCH], "kmv_distinct_sketch")),
    "events_kmv_algebra": (
        lambda spark, sf_dir: _tmp.kmv_set_algebra(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_KMV_SET_ALGEBRA], "kmv_set_algebra")),
    "events_hist_quantiles": (
        lambda spark, sf_dir: _tmp.histogram_quantiles(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_HISTOGRAM_QUANTILES], "histogram_quantiles")),
    "events_bootstrap_ci": (
        lambda spark, sf_dir: _tmp.bootstrap_mean_ci(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_bootstrap_ci()], "bootstrap_mean_ci")),
    # the oracle replays the textbook quadratic eps-join + recursive closure,
    # so the hash match proves grid blocking lossless
    "events_dbscan": (
        lambda spark, sf_dir: _clu.dbscan_clusters(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_clu.ORACLE_DBSCAN], "dbscan_clusters", recursive=True)),
    "events_density_outliers": (
        lambda spark, sf_dir: _clu.relative_density_outliers(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_clu.ORACLE_RDF_OUTLIERS], "relative_density_outliers")),
    "ml_logreg_verified": (
        lambda spark, sf_dir: _glm.logreg_train(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_glm.oracle_logreg()], "logreg_train")),
    "ml_ols_verified": (
        lambda spark, sf_dir: _glm.ols_train(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_glm.ORACLE_OLS], "ols_train")),
    "ml_ols_cv": (
        lambda spark, sf_dir: _glm.ols_cv(load_table(spark, sf_dir, "events")),
        _ext_oracle([_glm.oracle_ols_cv()], "ols_cv")),
    "ml_conformal_ols": (
        lambda spark, sf_dir: _glm.conformal_ols(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_glm.ORACLE_CONFORMAL], "conformal_ols")),
    "ml_als_verified": (
        lambda spark, sf_dir: _mf.als_rank1(instacart_tables(spark, sf_dir)),
        _oracle("als_rank1")),
    "negative_samples": (
        lambda spark, sf_dir: _samp.negative_samples(
            instacart_tables(spark, sf_dir)),
        _oracle("negative_samples")),
    "ml_als_bpr_auc": (
        lambda spark, sf_dir: _mf.als_bpr_auc(instacart_tables(spark, sf_dir)),
        _oracle("als_bpr_auc")),
    "events_gapfill": (
        lambda spark, sf_dir: _tmp.gapfill_daily_counts(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_GAPFILL], "gapfill_daily")),
    "events_hll_sketch": (
        lambda spark, sf_dir: _tmp.hll_distinct(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_HLL], "hll_distinct")),
    "events_lttb": (
        lambda spark, sf_dir: _tmp.lttb_downsample(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_LTTB], "lttb_downsample")),
    "events_markov_predict": (
        lambda spark, sf_dir: _tmp.markov_predict_eval(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_MARKOV_PREDICT], "markov_predict")),
    "events_type_corr": (
        lambda spark, sf_dir: _tmp.type_correlations(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_TYPE_CORR], "type_correlations")),
    "events_km_survival": (
        lambda spark, sf_dir: _tmp.km_survival(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_KM_SURVIVAL], "km_survival")),
    "events_cox_ph": (
        lambda spark, sf_dir: _tmp.cox_ph_train(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_cox_ph()], "cox_ph_train")),
    "events_nelson_aalen": (
        lambda spark, sf_dir: _tmp.nelson_aalen(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_NELSON_AALEN], "nelson_aalen")),
    "events_qini": (
        lambda spark, sf_dir: _tmp.qini_uplift(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_QINI], "qini_uplift")),
    "ml_isotonic_verified": (
        lambda spark, sf_dir: _glm.isotonic_calibration(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_glm.ORACLE_ISOTONIC], "isotonic_calibration")),
    "ml_platt_verified": (
        lambda spark, sf_dir: _glm.platt_calibration(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_glm.oracle_platt()], "platt_calibration")),
    "events_logrank": (
        lambda spark, sf_dir: _tmp.logrank_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_LOGRANK], "logrank_test")),
    "orders_backlog": (
        lambda spark, sf_dir: _tmp.orders_backlog_curve(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_tmp.ORACLE_BACKLOG], "orders_backlog_curve")),
    "price_index": (
        lambda spark, sf_dir: _ana.price_index_report(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_ana.ORACLE_PRICE_INDEX], "price_index_report")),
    "market_hhi": (
        lambda spark, sf_dir: _ana.market_hhi(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "part")),
        _ext_oracle([_ana.ORACLE_HHI], "market_hhi")),
    "parts_abc": (
        lambda spark, sf_dir: _ana.abc_classes(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_ana.ORACLE_ABC], "abc_classes")),
    "parts_abc_xyz": (
        lambda spark, sf_dir: _ana.abc_xyz_matrix(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_ana.ORACLE_ABC_XYZ], "abc_xyz_matrix")),
    "events_ipf": (
        lambda spark, sf_dir: _tmp.ipf_raking(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_ipf_raking()], "ipf_raking")),
    "orders_atkinson": (
        lambda spark, sf_dir: _tmp.atkinson_index(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_tmp.ORACLE_ATKINSON], "orders_atkinson")),
    "orders_reorder_policy": (
        lambda spark, sf_dir: _tmp.reorder_policy_sim(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.oracle_reorder_policy()], "orders_reorder_policy",
            recursive=True)),
    "events_adstock": (
        lambda spark, sf_dir: _tmp.adstock_daily(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_ADSTOCK], "events_adstock")),
    "events_changepoint": (
        lambda spark, sf_dir: _tmp.changepoint_split(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_CHANGEPOINT], "events_changepoint")),
    "events_stratified_ate": (
        lambda spark, sf_dir: _tmp.stratified_ate(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_STRAT_ATE], "stratified_ate")),
    "delta_advisor": (
        lambda spark, sf_dir: _prof.delta_encoding_advisor(
            {
                "orders": load_table(spark, sf_dir, "orders"),
                "lineitem": load_table(spark, sf_dir, "lineitem"),
                "events": load_table(spark, sf_dir, "events"),
                "customer": load_table(spark, sf_dir, "customer")}),
        _ext_oracle([_prof.oracle_delta_advisor()], "delta_encoding_advisor")),
    "events_effect_size": (
        lambda spark, sf_dir: _tmp.effect_size_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_EFFECT_SIZE], "effect_size_report")),
    "events_hill_tail": (
        lambda spark, sf_dir: _tmp.hill_tail_index(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_HILL], "hill_tail_index")),
    "docs_rater_kappa": (
        lambda spark, sf_dir: _text.rater_kappa(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [
                _text.oracle_gopher_rules(),
                _text.ORACLE_UNIGRAM_LOGPROB,
                _text.ORACLE_CCNET_BUCKETS,
                _text.ORACLE_KAPPA],
            "rater_kappa")),
    "docs_krippendorff": (
        lambda spark, sf_dir: _text.krippendorff_alpha(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [
                _text.oracle_gopher_rules(),
                _text.ORACLE_UNIGRAM_LOGPROB,
                _text.ORACLE_CCNET_BUCKETS,
                _text.ORACLE_KRIPPENDORFF],
            "krippendorff_alpha")),
    "docs_vocab_chao1": (
        lambda spark, sf_dir: _text.vocab_chao1(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_CHAO1], "vocab_chao1")),
    "docs_source_overlap": (
        lambda spark, sf_dir: _text.source_vocab_overlap(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_SOURCE_OVERLAP], "source_vocab_overlap")),
    "events_granger": (
        lambda spark, sf_dir: _glm.granger_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_glm.ORACLE_GRANGER], "granger_test")),
    "graph_rich_club": (
        lambda spark, sf_dir: _graph.rich_club(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_rich_club()], "rich_club")),
    "ann_knn_classifier": (
        lambda spark, sf_dir: _sim.knn_classifier_eval(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.ORACLE_KNN_CLS], "knn_classifier_eval")),
    "events_top_paths": (
        lambda spark, sf_dir: _tmp.top_paths(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_TOP_PATHS], "top_paths")),
    "ann_binary_topk": (
        lambda spark, sf_dir: _sim.binary_ann_topk(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.ORACLE_BINARY_TOPK], "binary_ann_topk")),
    "ann_binary_recall": (
        lambda spark, sf_dir: _sim.binary_ann_recall(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [
                _sim.ORACLE_BRUTE_FORCE_TOPK,
                _sim.ORACLE_BINARY_TOPK,
                _sim.ORACLE_BINARY_RECALL],
            "binary_ann_recall")),
    "events_rmst": (
        lambda spark, sf_dir: _tmp.rmst_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_RMST], "rmst_report")),
    "events_wilcoxon": (
        lambda spark, sf_dir: _tmp.wilcoxon_signed_rank(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_WILCOXON], "wilcoxon_signed_rank")),
    "events_mcnemar": (
        lambda spark, sf_dir: _tmp.mcnemar_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_MCNEMAR], "mcnemar_test")),
    "events_runs_test": (
        lambda spark, sf_dir: _tmp.runs_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_RUNS], "runs_test")),
    "events_variance_ratio": (
        lambda spark, sf_dir: _tmp.variance_ratio_screen(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_VARRATIO], "variance_ratio_screen")),
    "parts_newsvendor": (
        lambda spark, sf_dir: _tmp.newsvendor_stock(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_tmp.ORACLE_NEWSVENDOR], "newsvendor_stock")),
    "parts_eoq": (
        lambda spark, sf_dir: _tmp.eoq_report(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_tmp.ORACLE_EOQ], "eoq_report")),
    "orders_service_level": (
        lambda spark, sf_dir: _tmp.service_level_report(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_tmp.ORACLE_SERVICE_LEVEL], "service_level_report")),
    "orders_erlang_blocking": (
        lambda spark, sf_dir: _tmp.erlang_blocking_curve(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_tmp.oracle_erlang_blocking()], "erlang_blocking")),
    "orders_erlang_wait": (
        lambda spark, sf_dir: _tmp.erlang_wait_curve(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_tmp.oracle_erlang_wait()], "erlang_wait")),
    "events_kendall_tau": (
        lambda spark, sf_dir: _tmp.kendall_tau_daily(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_KENDALL], "kendall_tau_daily")),
    "events_kruskal_wallis": (
        lambda spark, sf_dir: _tmp.kruskal_wallis(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_KRUSKAL], "kruskal_wallis")),
    "events_levene": (
        lambda spark, sf_dir: _tmp.levene_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_LEVENE], "levene_test")),
    "events_durbin_watson": (
        lambda spark, sf_dir: _tmp.durbin_watson(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_DURBIN_WATSON], "durbin_watson")),
    "events_grubbs": (
        lambda spark, sf_dir: _tmp.grubbs_extreme(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_GRUBBS], "grubbs_extreme")),
    "events_brown_forsythe": (
        lambda spark, sf_dir: _tmp.brown_forsythe(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_BROWN_FORSYTHE], "brown_forsythe")),
    "events_cliffs_delta": (
        lambda spark, sf_dir: _tmp.cliffs_delta(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_CLIFFS_DELTA], "cliffs_delta")),
    "events_cochran_q": (
        lambda spark, sf_dir: _tmp.cochran_q(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_COCHRAN_Q], "cochran_q")),
    "events_page_trend": (
        lambda spark, sf_dir: _tmp.page_trend(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_PAGE_TREND], "page_trend")),
    "events_hurst": (
        lambda spark, sf_dir: _tmp.hurst_exponent(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_HURST], "hurst_exponent")),
    "events_weibull": (
        lambda spark, sf_dir: _tmp.weibull_fit(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_WEIBULL], "weibull_fit")),
    "events_bartlett": (
        lambda spark, sf_dir: _tmp.bartlett_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_BARTLETT], "bartlett_test")),
    "events_rayleigh": (
        lambda spark, sf_dir: _tmp.rayleigh_hour(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_RAYLEIGH], "rayleigh_hour")),
    "events_vonmises": (
        lambda spark, sf_dir: _tmp.vonmises_fit(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_VONMISES], "events_vonmises")),
    "events_perm_entropy": (
        lambda spark, sf_dir: _tmp.permutation_entropy(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_PERM_ENTROPY], "events_perm_entropy")),
    "events_bursts": (
        lambda spark, sf_dir: _tmp.burst_detection(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_BURSTS], "events_bursts", recursive=True)),
    "events_sample_entropy": (
        lambda spark, sf_dir: _tmp.sample_entropy(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_SAMPEN], "events_sample_entropy")),
    "embedding_mmd": (
        lambda spark, sf_dir: _sim.embedding_mmd(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_embedding_mmd()], "embedding_mmd")),
    "embedding_intrinsic_dim": (
        lambda spark, sf_dir: _sim.intrinsic_dim_twonn(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_intrinsic_dim()], "embedding_intrinsic_dim")),
    "embedding_hubness": (
        lambda spark, sf_dir: _sim.hubness_skew(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_hubness()], "embedding_hubness")),
    "events_periodogram": (
        lambda spark, sf_dir: _tmp.periodogram_daily(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_PERIODOGRAM], "events_periodogram")),
    "events_hbos_outliers": (
        lambda spark, sf_dir: _tmp.hbos_outliers(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_HBOS], "events_hbos_outliers")),
    "events_yuen": (
        lambda spark, sf_dir: _tmp.yuen_trimmed_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_YUEN], "events_yuen")),
    "events_cramers_v": (
        lambda spark, sf_dir: _tmp.cramers_v(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_CRAMERS_V], "events_cramers_v")),
    "events_tost": (
        lambda spark, sf_dir: _tmp.tost_equivalence(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_TOST], "events_tost")),
    "events_mh_odds": (
        lambda spark, sf_dir: _tmp.mantel_haenszel(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_MANTEL_HAENSZEL], "events_mh_odds")),
    "orders_bass_model": (
        lambda spark, sf_dir: _tmp.bass_model(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_tmp.ORACLE_BASS], "orders_bass_model")),
    "orders_gamma_fit": (
        lambda spark, sf_dir: _tmp.gamma_fit(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_tmp.ORACLE_GAMMA_FIT], "orders_gamma_fit")),
    "events_nb_fit": (
        lambda spark, sf_dir: _tmp.nb_fit(load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_NB_FIT], "events_nb_fit")),
    "events_ewma_chart": (
        lambda spark, sf_dir: _tmp.ewma_chart(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.ORACLE_EWMA_CHART], "events_ewma_chart", recursive=True)),
    "events_mk_seasonal": (
        lambda spark, sf_dir: _tmp.seasonal_mann_kendall(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_SEASONAL_MK], "events_mk_seasonal")),
    "events_wilson_ci": (
        lambda spark, sf_dir: _tmp.wilson_ci(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_WILSON], "events_wilson_ci")),
    "events_lru_hitrate": (
        lambda spark, sf_dir: _tmp.lru_hitrate(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.ORACLE_LRU_HITRATE], "events_lru_hitrate", recursive=True)),
    "events_cvm": (
        lambda spark, sf_dir: _tmp.cramer_von_mises(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_CVM], "cramer_von_mises")),
    "events_anderson_darling": (
        lambda spark, sf_dir: _tmp.anderson_darling_2s(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_AD_2S], "anderson_darling_2s")),
    "join_order_advisor": (
        lambda spark, sf_dir: _prof.join_order_advisor(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_prof.ORACLE_JOIN_ORDER], "join_order_advisor")),
    "events_aqp_revenue": (
        lambda spark, sf_dir: _prof.aqp_revenue(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_prof.oracle_aqp_revenue()], "aqp_revenue")),
    "events_welch_anova": (
        lambda spark, sf_dir: _tmp.welch_anova(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_WELCH_ANOVA], "welch_anova")),
    "events_friedman": (
        lambda spark, sf_dir: _tmp.friedman_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_FRIEDMAN], "friedman_test")),
    "events_tukey_hsd": (
        lambda spark, sf_dir: _tmp.tukey_hsd(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_TUKEY], "tukey_hsd")),
    "orders_lot_sizing": (
        lambda spark, sf_dir: _tmp.lot_sizing_frontier(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_tmp.oracle_lot_sizing()], "lot_sizing")),
    "text_novelty": (
        lambda spark, sf_dir: _text.novelty_attribution(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_NOVELTY], "novelty_attribution")),
    "events_gumbel": (
        lambda spark, sf_dir: _tmp.gumbel_maxima(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_GUMBEL], "gumbel_maxima")),
    "events_dtw": (
        lambda spark, sf_dir: _tmp.dtw_alignment(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_DTW], "dtw_alignment", recursive=True)),
    "docs_nw_align": (
        lambda spark, sf_dir: _text.nw_alignment(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_NW], "nw_alignment", recursive=True)),
    "events_cohort_ltv": (
        lambda spark, sf_dir: _tmp.cohort_ltv(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_COHORT_LTV], "cohort_ltv")),
    "events_stickiness": (
        lambda spark, sf_dir: _tmp.stickiness_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_STICKINESS], "stickiness_report")),
    "events_matrix_profile": (
        lambda spark, sf_dir: _tmp.matrix_profile_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_matrix_profile()], "matrix_profile_report")),
    "events_acf": (
        lambda spark, sf_dir: _tmp.acf_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_acf()], "acf_report")),
    "events_pacf": (
        lambda spark, sf_dir: _tmp.pacf_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_pacf()], "pacf_report")),
    "events_ccf": (
        lambda spark, sf_dir: _tmp.ccf_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_ccf()], "ccf_report")),
    "events_wht": (
        lambda spark, sf_dir: _tmp.wht_spectrum(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_wht()], "wht_spectrum")),
    "events_haar": (
        lambda spark, sf_dir: _tmp.haar_energy(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_haar()], "haar_energy")),
    "events_approx_quantile": (
        lambda spark, sf_dir: _tmp.approx_quantile_check(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_APPROX_PCTL], "events_approx_quantile")),
    "ml_poisson_verified": (
        lambda spark, sf_dir: _glm.poisson_train(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_glm.oracle_poisson()], "poisson_train")),
    "events_peaks": (
        lambda spark, sf_dir: _tmp.revenue_peaks(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_PEAKS], "revenue_peaks")),
    "ann_rocchio": (
        lambda spark, sf_dir: _sim.rocchio_classifier_eval(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.ORACLE_ROCCHIO], "rocchio_classifier_eval")),
    "events_offpolicy": (
        lambda spark, sf_dir: _tmp.offpolicy_ips(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_IPS], "offpolicy_ips")),
    "graph_modularity": (
        lambda spark, sf_dir: _graph.community_modularity(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_modularity()], "community_modularity")),
    "events_group_sequential": (
        lambda spark, sf_dir: _tmp.group_sequential_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.oracle_group_sequential()], "group_sequential_test")),
    "dq_constraints": (
        lambda spark, sf_dir: _prof.dq_constraint_report(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_prof.ORACLE_DQ], "dq_constraint_report")),
    "mv_rollup_rewrite": (
        lambda spark, sf_dir: _rel.mv_rollup_rewrite(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "part")),
        _ext_oracle([_rel.ORACLE_MV_REWRITE], "mv_rollup_rewrite")),
    "events_concurrency": (
        lambda spark, sf_dir: _tmp.concurrency_curve(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_CONCURRENCY], "concurrency_curve")),
    "events_stl_decompose": (
        lambda spark, sf_dir: _tmp.stl_decompose(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_STL], "stl_decompose")),
    "events_twap": (
        lambda spark, sf_dir: _tmp.twap_by_type(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_TWAP], "twap_by_type")),
    "udf_grouped_agg": (
        lambda spark, sf_dir: _udafs.grouped_agg_spend(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_udafs.ORACLE_GROUPED_AGG], "grouped_agg_spend")),
    # exact integer inputs, so the oracle proves the Arrow boundary lossless
    "udf_grouped_map": (
        lambda spark, sf_dir: _udafs.grouped_map_slope(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_udafs.ORACLE_GROUPED_MAP_SLOPE], "grouped_map_slope")),
    "events_bitmap_retention": (
        lambda spark, sf_dir: _tmp.bitmap_retention(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_BITMAP_RETENTION], "bitmap_retention")),
    "text_decontaminate": (
        lambda spark, sf_dir: _dedup.decontaminate_ngram(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_DECONTAMINATE_NGRAM], "decontaminate_ngram")),
    "text_decontaminate_semantic": (
        lambda spark, sf_dir: _sim.semantic_decontaminate(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [_sim.oracle_semantic_decontaminate()], "semantic_decontaminate")),
    "dedup_winnowing": (
        lambda spark, sf_dir: _dedup.winnowing_pairs(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_dedup.ORACLE_WINNOWING], "winnowing_pairs")),
    "events_cms_hitters": (
        lambda spark, sf_dir: _tmp.cms_heavy_hitters(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_CMS], "cms_heavy_hitters")),
    # rows-only: sketch estimates are error-bound-tested against the exact
    # anchor
    "events_approx_quantiles": (
        lambda spark, sf_dir: _tmp.approx_type_quantiles(
            load_table(spark, sf_dir, "events")),
        None),
    "events_pit_enrich": (
        lambda spark, sf_dir: _tmp.pit_enrich_purchases(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_PIT_ENRICH], "pit_enrich")),
    "events_wow_growth": (
        lambda spark, sf_dir: _tmp.weekly_growth(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_WEEKLY_GROWTH], "weekly_growth")),
    # the streamed result equals the batch form, so the batch oracle applies
    "stream_tumbling_hourly": (
        lambda spark, sf_dir: _ev.run_stream_tumbling(spark, sf_dir),
        _ext_oracle([_ev.ORACLE_TUMBLING_HOURLY], "tumbling_hourly")),
    "stream_sliding_watermark": (
        lambda spark, sf_dir: _ev.run_stream_windowed_watermark(spark, sf_dir),
        _ext_oracle(
            [_ev.ORACLE_STREAM_SLIDING_WATERMARK],
            "stream_sliding_watermark")),
    "stream_session_window": (
        lambda spark, sf_dir: _ev.run_stream_session_window(spark, sf_dir),
        _ext_oracle(
            [_ev.ORACLE_STREAM_SESSION_WINDOW], "stream_session_window")),
    "stream_stateful_counts": (
        lambda spark, sf_dir: _st.run_stream_stateful_counts(spark, sf_dir),
        _ext_oracle([_st.ORACLE_STATEFUL_COUNTS], "stateful_counts")),
    # an inner join over bounded input equals the batch inequality join, so it
    # is oracle-checked
    "stream_interval_join": (
        lambda spark, sf_dir: _ev.run_stream_interval_join(spark, sf_dir),
        _ext_oracle(
            [_ev.ORACLE_STREAM_INTERVAL_JOIN], "stream_interval_join")),
    # the oracle replays the final-watermark cutoff on the unmatched side
    "stream_interval_join_outer": (
        lambda spark, sf_dir: _ev.run_stream_interval_join_outer(
            spark, sf_dir),
        _ext_oracle(
            [_ev.ORACLE_STREAM_INTERVAL_JOIN_OUTER],
            "stream_interval_join_outer")),
    # a duplicate written across the restart into the shared file sink would
    # fail the oracle hash
    "stream_checkpoint_restart": (
        lambda spark, sf_dir: _ev.run_stream_checkpoint_restart(spark, sf_dir),
        _ext_oracle([_ev.ORACLE_STREAM_CKPT_RESTART], "stream_ckpt_restart")),
    "stream_state_inspect": (
        lambda spark, sf_dir: _ev.run_stream_state_inspect(spark, sf_dir),
        _ext_oracle(
            [_ev.ORACLE_STREAM_STATE_INSPECT], "stream_state_inspect")),
    "stream_dedup": (
        lambda spark, sf_dir: _ev.run_stream_dedup(spark, sf_dir),
        _ext_oracle([_ev.ORACLE_STREAM_DEDUP], "stream_dedup")),
    "stream_dedup_wwm": (
        lambda spark, sf_dir: _ev.run_stream_dedup_within_watermark(
            spark, sf_dir),
        _ext_oracle([_ev.ORACLE_STREAM_DEDUP_WWM], "stream_dedup_wwm")),
    "stream_static_enrich": (
        lambda spark, sf_dir: _ev.run_stream_static_enrich(spark, sf_dir),
        _ext_oracle(
            [_ev.ORACLE_STREAM_STATIC_ENRICH], "stream_static_enrich")),
    "stream_hbos_alerts": (
        lambda spark, sf_dir: _ev.run_stream_hbos_alerts(spark, sf_dir),
        _ext_oracle([_ev.ORACLE_STREAM_HBOS], "stream_hbos_alerts")),
    "stream_partitioned_sink": (
        lambda spark, sf_dir: _ev.run_stream_partitioned_sink(spark, sf_dir),
        _ext_oracle(
            [_ev.ORACLE_STREAM_PARTITIONED_SINK], "stream_partitioned_sink")),
    "stream_merge_state": (
        lambda spark, sf_dir: _ev.run_stream_merge_state(spark, sf_dir),
        _ext_oracle([_ev.ORACLE_STREAM_MERGE_STATE], "stream_merge_state")),
    "stream_kmv": (
        lambda spark, sf_dir: _ev.run_stream_kmv(spark, sf_dir),
        _ext_oracle([_ev.ORACLE_STREAM_KMV], "stream_kmv")),
    "stream_ab_monitor": (
        lambda spark, sf_dir: _ev.run_stream_ab_monitor(spark, sf_dir),
        _ext_oracle([_ev.ORACLE_STREAM_AB], "stream_ab_monitor")),
    "stream_sprt": (
        lambda spark, sf_dir: _ev.run_stream_sprt(spark, sf_dir),
        _ext_oracle([_ev.ORACLE_STREAM_SPRT], "stream_sprt")),
    "stream_extremes": (
        lambda spark, sf_dir: _ev.run_stream_extremes(spark, sf_dir),
        _ext_oracle([_tmp.ORACLE_GUMBEL], "gumbel_maxima")),
    "stream_pchart": (
        lambda spark, sf_dir: _ev.run_stream_pchart(spark, sf_dir),
        _ext_oracle([_tmp.ORACLE_PCHART], "error_pchart")),
    "docs_cluster_sample": (
        lambda spark, sf_dir: _samp.cluster_sample(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_samp.ORACLE_CLUSTER_SAMPLE], "cluster_sample")),
    "events_ks_exponential": (
        lambda spark, sf_dir: _tmp.ks_exponential(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_KS_EXPONENTIAL], "ks_exponential")),
    "events_energy_distance": (
        lambda spark, sf_dir: _tmp.energy_distance(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_ENERGY], "energy_distance")),
    "events_seasonality": (
        lambda spark, sf_dir: _tmp.seasonality_strength(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.ORACLE_STL, _tmp.ORACLE_SEASONALITY],
            "seasonality_strength")),
    "text_ppl_buckets": (
        lambda spark, sf_dir: _text.ppl_bucket_report(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.ORACLE_UNIGRAM_LOGPROB, _text.ORACLE_PPL_BUCKETS],
            "ppl_bucket_report")),
    "text_burstiness": (
        lambda spark, sf_dir: _text.term_burstiness(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_BURSTINESS], "term_burstiness")),
    "text_collocations": (
        lambda spark, sf_dir: _text.collocations_llr(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_COLLOCATIONS], "collocations_llr")),
    "events_mood_median": (
        lambda spark, sf_dir: _tmp.mood_median_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_MOOD], "mood_median_test")),
    "events_record_days": (
        lambda spark, sf_dir: _tmp.record_days_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_RECORDS], "record_days_test")),
    "events_turning_points": (
        lambda spark, sf_dir: _tmp.turning_points_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_TURNING], "turning_points_test")),
    "orders_potwo_policy": (
        lambda spark, sf_dir: _tmp.potwo_policy_eval(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle(
            [_tmp.oracle_lot_sizing(), _tmp.oracle_potwo()], "potwo_policy")),
    "events_jarque_bera": (
        lambda spark, sf_dir: _tmp.jarque_bera_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_JARQUE_BERA], "jarque_bera")),
    "events_quartile_skew": (
        lambda spark, sf_dir: _tmp.quartile_skew(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_QUARTILE_SKEW], "quartile_skew")),
    "events_ansari_bradley": (
        lambda spark, sf_dir: _tmp.ansari_bradley(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_ANSARI], "ansari_bradley")),
    "events_partial_corr": (
        lambda spark, sf_dir: _tmp.partial_correlation(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_PARTIAL_CORR], "partial_correlation")),
    "stream_hist_quantiles": (
        lambda spark, sf_dir: _ev.run_stream_histq(spark, sf_dir),
        _ext_oracle([_ev.ORACLE_STREAM_HISTQ], "stream_hist_quantiles")),
    "stream_cms": (
        lambda spark, sf_dir: _ev.run_stream_cms(spark, sf_dir),
        _ext_oracle([_ev.ORACLE_STREAM_CMS], "stream_cms")),
    "stream_hll": (
        lambda spark, sf_dir: _ev.run_stream_hll(spark, sf_dir),
        _ext_oracle([_ev.ORACLE_STREAM_HLL], "stream_hll")),
    "stream_embedding_dedup": (
        lambda spark, sf_dir: _ev.run_stream_embedding_dedup(spark, sf_dir),
        _ext_oracle(
            [_ev.oracle_stream_embedding_dedup()], "stream_embedding_dedup")),
    "dedup_exact": (
        lambda spark, sf_dir: _dedup.exact_dedup(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_dedup.ORACLE_EXACT_DEDUP], "exact_dedup")),
    "dedup_cdc": (
        lambda spark, sf_dir: _dedup.cdc_chunk_report(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_dedup.ORACLE_CDC], "cdc_chunk_report")),
    "dedup_ngram_jaccard": (
        lambda spark, sf_dir: _dedup.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD],
            "ngram_jaccard")),
    # the oracle is the uncapped exact all-pairs Jaccard, so the hash match
    # proves the prefix filter complete
    "dedup_ppjoin": (
        lambda spark, sf_dir: _dedup.ppjoin_pairs(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_PPJOIN], "ppjoin_pairs")),
    "dedup_containment": (
        lambda spark, sf_dir: _dedup.containment_pairs(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONTAINMENT],
            "containment_pairs")),
    "dedup_sorted_neighborhood": (
        lambda spark, sf_dir: _dedup.sorted_neighborhood_pairs(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_SORTED_NEIGHBORHOOD],
            "sorted_neighborhood")),
    "dedup_simhash_eval": (
        lambda spark, sf_dir: _dedup.simhash_recall_eval(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup._oracle_simhash(), _dedup.ORACLE_SIMHASH_RECALL],
            "simhash_recall_eval")),
    "dedup_detector_matrix": (
        lambda spark, sf_dir: _dedup.detector_matrix(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONTAINMENT, _dedup.ORACLE_MINHASH_LSH,
             _dedup._oracle_simhash(),
             _dedup.ORACLE_SORTED_NEIGHBORHOOD,
             _dedup.ORACLE_DETECTOR_MATRIX],
            "detector_matrix")),
    "dedup_capture_recapture": (
        lambda spark, sf_dir: _dedup.capture_recapture_estimate(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [
                _dedup.ORACLE_SHINGLES,
                "dsizes AS (SELECT doc_id, count(*) AS n FROM dshingles"
                " GROUP BY doc_id)",
                _dedup.ORACLE_MINHASH_LSH,
                _dedup._oracle_simhash(),
                _dedup.ORACLE_CAPTURE_RECAPTURE,
            ],
            "capture_recapture_estimate")),
    "events_entropy_rate": (
        lambda spark, sf_dir: _tmp.markov_entropy_rate(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_MARKOV_ENTROPY], "markov_entropy_rate")),
    "text_dup_spans": (
        lambda spark, sf_dir: _text.duplicate_spans(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_DUP_SPANS], "duplicate_spans")),
    "embedding_random_projection": (
        lambda spark, sf_dir: _sim.random_projection(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_random_projection()], "random_projection")),
    "ann_rp_recall": (
        lambda spark, sf_dir: _sim.rp_ann_recall(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [_sim.oracle_random_projection(),
             _sim.ORACLE_BRUTE_FORCE_TOPK,
             _sim.ORACLE_RP_RECALL],
            "rp_ann_recall")),
    "dedup_minhash_lsh": (
        lambda spark, sf_dir: _dedup.minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES,
             "dsizes AS (SELECT doc_id, count(*) AS n FROM dshingles GROUP BY doc_id)",
             _dedup.ORACLE_MINHASH_LSH],
            "minhash_lsh")),
    "dedup_lsh_precision": (
        lambda spark, sf_dir: _dedup.lsh_precision_eval(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES,
             "dsizes AS (SELECT doc_id, count(*) AS n FROM dshingles GROUP BY doc_id)",
             _dedup.ORACLE_MINHASH_LSH,
             _dedup.ORACLE_LSH_PRECISION],
            "lsh_precision_eval")),
    "dedup_minhash_exact_first": (
        lambda spark, sf_dir: _dedup.minhash_exact_first(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_MINHASH_EXACT_FIRST], "minhash_exact_first")),
    # the md5-derived hash makes the whole vote/band/Hamming pipeline
    # replayable in DuckDB
    "dedup_simhash": (
        lambda spark, sf_dir: _dedup.simhash_pairs(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_dedup._oracle_simhash()], "simhash_pairs")),
    "dedup_clusters": (
        lambda spark, sf_dir: _dedup.connected_clusters(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONNECTED_CLUSTERS],
            "connected_clusters",
            recursive=True)),
    "corpus_prep": (
        lambda spark, sf_dir: _text.corpus_prep(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONNECTED_CLUSTERS,
             _text.oracle_quality_scores(), _text.ORACLE_TOKEN_COUNTS,
             _text.ORACLE_CORPUS_PREP],
            "corpus_prep",
            recursive=True)),
    "docs_training_export": (
        lambda spark, sf_dir: _text.training_export(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONNECTED_CLUSTERS,
             _text.oracle_quality_scores(), _text.ORACLE_TOKEN_COUNTS,
             _text.ORACLE_CORPUS_PREP, _text.oracle_training_export()],
            "training_export",
            recursive=True)),
    "text_unigram_logprob": (
        lambda spark, sf_dir: _text.unigram_logprob_scores(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_UNIGRAM_LOGPROB], "unigram_logprob")),
    "text_bigram_logprob": (
        lambda spark, sf_dir: _text.bigram_logprob_scores(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_BIGRAM_LOGPROB], "bigram_logprob")),
    "text_kneser_ney": (
        lambda spark, sf_dir: _text.kneser_ney_scores(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_KNESER_NEY], "text_kneser_ney")),
    "text_ql_search": (
        lambda spark, sf_dir: _text.ql_search(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.oracle_ql_search()], "ql_search")),
    "docs_source_jsd": (
        lambda spark, sf_dir: _text.source_jsd_report(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_SOURCE_JSD], "docs_source_jsd")),
    "text_trigram_jm": (
        lambda spark, sf_dir: _text.trigram_jm_scores(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_TRIGRAM_JM], "text_trigram_jm")),
    # rows-only: the hash rides the stub codec; the banding is unit-pinned to a
    # Python reference
    "media_phash_dedup": (
        lambda spark, sf_dir: _mm.media_phash_dedup_query(
            load_table(spark, sf_dir, "documents")),
        None),
    "media_sniff_dims": (
        lambda spark, sf_dir: _mm.media_sniff_dims(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_mm.ORACLE_SNIFF_DIMS], "media_sniff_dims")),
    "media_wav_meta": (
        lambda spark, sf_dir: _mm.media_wav_meta(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_mm.ORACLE_WAV_META], "media_wav_meta")),
    "media_scene_changes": (
        lambda spark, sf_dir: _mm.media_scene_changes_query(
            load_table(spark, sf_dir, "documents")),
        None),
    # counts + add-1 smoothing are pure aggregation, so train AND score replay
    # exactly in SQL
    "text_nb_quality": (
        lambda spark, sf_dir: _text.nb_quality_scores(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.oracle_gopher_rules(), _text.ORACLE_NB_QUALITY],
            "nb_quality")),
    "text_nb_quality_cv": (
        lambda spark, sf_dir: _text.nb_quality_cv(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.oracle_gopher_rules(), _text.ORACLE_NB_CV],
            "nb_quality_cv")),
    "text_nb_auc": (
        lambda spark, sf_dir: _text.nb_quality_auc(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.oracle_gopher_rules(), _text.ORACLE_NB_QUALITY,
             _text.ORACLE_NB_AUC],
            "nb_quality_auc")),
    "text_nb_gains": (
        lambda spark, sf_dir: _text.nb_gains_table(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.oracle_gopher_rules(), _text.ORACLE_NB_QUALITY,
             _text.ORACLE_NB_GAINS],
            "nb_gains_table")),
    "text_nb_learning_curve": (
        lambda spark, sf_dir: _text.nb_learning_curve(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.oracle_gopher_rules(), _text.ORACLE_NB_LEARNING_CURVE],
            "nb_learning_curve")),
    "text_readability": (
        lambda spark, sf_dir: _text.readability_scores(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_READABILITY], "readability")),
    "text_rake_keywords": (
        lambda spark, sf_dir: _text.rake_keywords(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.oracle_rake_keywords()], "rake_keywords")),
    "embedding_knn_outliers": (
        lambda spark, sf_dir: _sim.knn_outlier_scores(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_knn_outliers()], "embedding_knn_outliers")),
    "embedding_standardize": (
        lambda spark, sf_dir: _sim.standardize_embeddings(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.ORACLE_STANDARDIZE], "standardize_embeddings")),
    "events_pseudonymized": (
        lambda spark, sf_dir: _privacy.pseudonymize_events(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_privacy.ORACLE_PSEUDONYMIZE], "pseudonymize_events")),
    # deterministic inverse-CDF noise: the insecure flag marks this as the
    # oracle-replayable demo release
    "events_dp_counts": (
        lambda spark, sf_dir: _privacy.dp_noisy_counts(
            load_table(spark, sf_dir, "events"),
            insecure_deterministic_noise=True),
        _ext_oracle([_privacy.oracle_dp_noisy_counts()], "dp_noisy_counts")),
    "ml_cart_verified": (
        lambda spark, sf_dir: _trees.cart_train_staged(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_trees.ORACLE_CART], "cart_train")),
    "ml_rf_verified": (
        lambda spark, sf_dir: _trees.rf_train(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_trees.oracle_rf_train()], "rf_train")),
    "ml_gbm_verified": (
        lambda spark, sf_dir: _trees.gbm_train_staged(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_trees.ORACLE_GBM], "gbm_train")),
    "ml_cart_importance": (
        lambda spark, sf_dir: _trees.cart_feature_importance(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_trees.ORACLE_CART, _trees.ORACLE_CART_IMPORTANCE],
            "cart_feature_importance")),
    "ml_gbm_perm_importance": (
        lambda spark, sf_dir: _trees.gbm_permutation_importance(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_trees.ORACLE_GBM, _trees.oracle_gbm_permutation()],
            "gbm_permutation_importance")),
    "events_erasure_audit": (
        lambda spark, sf_dir: _privacy.erasure_audit(
            load_table(spark, sf_dir, "events"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "customer")),
        _ext_oracle([_privacy.ORACLE_ERASURE_AUDIT], "erasure_audit")),
    "parts_trending": (
        lambda spark, sf_dir: _ana.trending_parts(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_ana.ORACLE_TRENDING], "trending_parts")),
    "events_kanonymity": (
        lambda spark, sf_dir: _privacy.k_anonymity_audit(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_privacy.ORACLE_K_ANONYMITY], "k_anonymity_audit")),
    "events_holt_forecast": (
        lambda spark, sf_dir: _tmp.user_holt_forecast(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.ORACLE_USER_HOLT], "user_holt_forecast", recursive=True)),
    "events_holt_winters": (
        lambda spark, sf_dir: _tmp.user_holt_winters(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.ORACLE_USER_HOLT_WINTERS], "user_holt_winters",
            recursive=True)),
    "events_ar2_forecast": (
        lambda spark, sf_dir: _tmp.ar2_forecast(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_ar2_forecast()], "ar2_forecast")),
    "events_mta_models": (
        lambda spark, sf_dir: _tmp.attribution_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_ATTRIBUTION], "attribution_report")),
    "events_revenue_gini": (
        lambda spark, sf_dir: _tmp.revenue_concentration(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.ORACLE_REVENUE_CONCENTRATION], "revenue_concentration")),
    "events_cuped": (
        lambda spark, sf_dir: _tmp.cuped_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_CUPED], "cuped_report")),
    "events_hampel": (
        lambda spark, sf_dir: _tmp.hampel_outliers(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_HAMPEL], "hampel_outliers")),
    "events_multi_test_bh": (
        lambda spark, sf_dir: _tmp.multi_test_bh(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_multi_test_bh()], "multi_test_bh")),
    "events_robust_trend": (
        lambda spark, sf_dir: _tmp.robust_trend(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_ROBUST_TREND], "robust_trend")),
    "events_ks_drift": (
        lambda spark, sf_dir: _tmp.ks_drift_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_KS_DRIFT], "ks_drift_test")),
    "events_wasserstein": (
        lambda spark, sf_dir: _tmp.wasserstein_drift(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_WASSERSTEIN], "wasserstein_drift")),
    "events_mannwhitney": (
        lambda spark, sf_dir: _tmp.mannwhitney_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_MANNWHITNEY], "mannwhitney_test")),
    "events_chi2": (
        lambda spark, sf_dir: _tmp.chi2_independence_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_chi2_independence()], "chi2_independence")),
    "events_sprt": (
        lambda spark, sf_dir: _tmp.sprt_monitor(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_SPRT], "sprt_monitor")),
    "events_median_ci": (
        lambda spark, sf_dir: _tmp.median_ci(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_MEDIAN_CI], "median_ci")),
    "events_trend_test": (
        lambda spark, sf_dir: _tmp.trend_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_TREND_TEST], "trend_test")),
    "events_overdispersion": (
        lambda spark, sf_dir: _tmp.overdispersion_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_OVERDISPERSION], "overdispersion_test")),
    "events_spearman": (
        lambda spark, sf_dir: _tmp.spearman_corr(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_SPEARMAN], "spearman_corr")),
    "events_anova": (
        lambda spark, sf_dir: _tmp.anova_f_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_ANOVA], "anova_f_test")),
    "events_permutation_test": (
        lambda spark, sf_dir: _tmp.permutation_test(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_PERMTEST], "permutation_test")),
    "orders_theil": (
        lambda spark, sf_dir: _tmp.theil_decomposition(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "nation")),
        _ext_oracle([_tmp.ORACLE_THEIL], "theil_decomposition")),
    "graph_ppr": (
        lambda spark, sf_dir: _graph.personalized_pagerank(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_ppr()], "personalized_pagerank")),
    "events_markov": (
        lambda spark, sf_dir: _tmp.markov_transitions(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_MARKOV], "markov_transitions")),
    "events_markov_stationary": (
        lambda spark, sf_dir: _tmp.markov_stationary(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_markov_stationary()], "markov_stationary")),
    "events_shapley": (
        lambda spark, sf_dir: _tmp.shapley_attribution(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_SHAPLEY], "shapley_attribution")),
    "events_did": (
        lambda spark, sf_dir: _tmp.did_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_DID], "did_report")),
    "events_markov_attribution": (
        lambda spark, sf_dir: _tmp.markov_removal_attribution(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.oracle_markov_removal()], "markov_removal_attribution")),
    "events_quantile_norm": (
        lambda spark, sf_dir: _tmp.quantile_normalize(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_QUANTILE_NORM], "quantile_normalize")),
    "events_forecast_backtest": (
        lambda spark, sf_dir: _tmp.forecast_backtest(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_FORECAST_BACKTEST], "forecast_backtest")),
    "events_power_mde": (
        lambda spark, sf_dir: _tmp.ab_power_mde(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_AB_POWER], "ab_power_mde")),
    "croston_forecast": (
        lambda spark, sf_dir: _tmp.croston_forecast(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_tmp.ORACLE_CROSTON], "croston_forecast")),
    "price_elasticity": (
        lambda spark, sf_dir: _tmp.price_elasticity(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "part")),
        _ext_oracle([_tmp.ORACLE_ELASTICITY], "price_elasticity")),
    "ml_ridge_verified": (
        lambda spark, sf_dir: _glm.ridge_train(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_glm.oracle_ridge()], "ridge_train")),
    "events_conversion_ztest": (
        lambda spark, sf_dir: _tmp.conversion_ztest(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_CONVERSION_ZTEST], "conversion_ztest")),
    "events_neyman": (
        lambda spark, sf_dir: _samp.neyman_allocation(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_samp.ORACLE_NEYMAN], "neyman_allocation")),
    "parts_pps_sample": (
        lambda spark, sf_dir: _samp.pps_systematic_sample(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_samp.oracle_pps_systematic()], "pps_systematic_sample")),
    "graph_rec_coverage": (
        lambda spark, sf_dir: _graph.rec_coverage_diversity(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle(
            [_graph.oracle_rec_coverage_diversity()],
            "rec_coverage_diversity")),
    "events_cusum": (
        lambda spark, sf_dir: _tmp.cusum_changepoints(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.ORACLE_CUSUM], "cusum_changepoints", recursive=True)),
    "events_bot_flags": (
        lambda spark, sf_dir: _tmp.bot_flags(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_BOT_FLAGS], "bot_flags")),
    "events_gini": (
        lambda spark, sf_dir: _tmp.spend_gini(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_SPEND_GINI], "spend_gini")),
    "events_benford": (
        lambda spark, sf_dir: _tmp.benford_audit(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.oracle_benford_audit()], "benford_audit")),
    "dedup_minhash_eval": (
        lambda spark, sf_dir: _dedup.minhash_recall_eval(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES,
             _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_MINHASH_LSH,
             _dedup.ORACLE_MINHASH_RECALL_EVAL],
            "minhash_recall_eval")),
    "text_dsir_importance": (
        lambda spark, sf_dir: _text.dsir_importance(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_DSIR_IMPORTANCE], "dsir_importance")),
    "corpus_prep_semantic": (
        lambda spark, sf_dir: _text.corpus_prep_semantic(
            load_table(spark, sf_dir, "documents"),
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONNECTED_CLUSTERS,
             _text.oracle_quality_scores(), _text.ORACLE_TOKEN_COUNTS,
             _text.ORACLE_CORPUS_PREP, _sim.oracle_semdedup(),
             _text.ORACLE_CORPUS_PREP_SEMANTIC],
            "corpus_prep_semantic",
            recursive=True)),
    "text_gopher_rules": (
        lambda spark, sf_dir: _text.gopher_rules(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.oracle_gopher_rules()], "gopher_rules")),
    "text_char_entropy": (
        lambda spark, sf_dir: _text.char_entropy_scores(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_CHAR_ENTROPY], "char_entropy_scores")),
    "text_ccnet_buckets": (
        lambda spark, sf_dir: _text.ccnet_buckets(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.ORACLE_UNIGRAM_LOGPROB, _text.ORACLE_CCNET_BUCKETS],
            "ccnet_buckets")),
    "ann_brute_force": (
        lambda spark, sf_dir: _sim._brute_topk_staged(
            load_table(spark, sf_dir, "embeddings")).select(
            "query_id", "neighbor_id", "rank"),
        _ext_oracle([_sim.ORACLE_BRUTE_FORCE_TOPK], "brute_force_topk")),
    "embedding_hard_negatives": (
        lambda spark, sf_dir: _sim.hard_negatives(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.ORACLE_HARD_NEGATIVES], "hard_negatives")),
    # the score is rounded to 6 decimals so the float agrees across engines:
    # both fold the dot product left to right and the rounding absorbs <=1-ulp
    # libm drift
    "ann_brute_force_scored": (
        lambda spark, sf_dir: _sim._brute_topk_staged(
            load_table(spark, sf_dir, "embeddings")).withColumn(
            "cosine", F.round("cosine", 6)),
        _ext_oracle([_sim.ORACLE_BRUTE_FORCE_SCORED], "brute_force_scored")),
    "ann_lsh": (
        lambda spark, sf_dir: _sim.lsh_ann_topk(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_lsh_ann_topk()], "lsh_ann_topk")),
    "ann_ivf": (
        lambda spark, sf_dir: _sim.ivf_ann_topk(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_ivf_ann_topk()], "ivf_ann_topk")),
    "ann_ivf_recall": (
        lambda spark, sf_dir: _sim.ann_recall_eval(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [
                _sim.ORACLE_BRUTE_FORCE_TOPK,
                _sim.oracle_ivf_ann_topk(),
                _sim.ORACLE_ANN_RECALL],
            "ann_recall")),
    "ann_ivf_probe_sweep": (
        lambda spark, sf_dir: _sim.ivf_probe_sweep(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [_sim.ORACLE_BRUTE_FORCE_TOPK, _sim.oracle_ivf_probe_sweep()],
            "ann_ivf_probe_sweep")),
    "ann_quantized": (
        lambda spark, sf_dir: _sim.quantized_topk(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.ORACLE_QUANTIZED_TOPK], "quantized_topk")),
    "events_zorder": (
        lambda spark, sf_dir: _layout.zorder_keys(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_layout.ORACLE_ZORDER_KEYS], "zorder_keys")),
    "events_hilbert": (
        lambda spark, sf_dir: _layout.hilbert_keys(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_layout.oracle_hilbert_keys()], "hilbert_keys")),
    "events_curve_locality": (
        lambda spark, sf_dir: _layout.curve_locality_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_layout.oracle_curve_locality()], "curve_locality_report")),
    "docs_consistent_shards": (
        lambda spark, sf_dir: _layout.consistent_shards(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_layout.ORACLE_CONSISTENT_SHARDS], "consistent_shards")),
    "embedding_near_dup": (
        lambda spark, sf_dir: _sim.embedding_near_dup_pairs(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_embedding_near_dup()], "embedding_near_dup")),
    # rows-only: trained codebooks are not cross-engine replayable
    # (embedding_kmeans_lloyd is the replayable sibling)
    "embedding_kmeans": (
        lambda spark, sf_dir: _sim.kmeans_clusters(
            load_table(spark, sf_dir, "embeddings")),
        None),
    "embedding_kmeans_lloyd": (
        lambda spark, sf_dir: _sim.kmeans_lloyd(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [_sim.oracle_kmeans_lloyd()], "kmeans_lloyd", recursive=True)),
    "embedding_pca": (
        lambda spark, sf_dir: _sim.pca_power_iteration(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_pca_power()], "pca_power_iteration")),
    "ann_pq": (
        lambda spark, sf_dir: _sim.pq_ann_topk(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [_sim.oracle_pq_ann_topk()], "pq_ann_topk", recursive=True)),
    "ann_pq_recall": (
        lambda spark, sf_dir: _sim.pq_ann_recall(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [
                _sim.ORACLE_BRUTE_FORCE_TOPK,
                _sim.oracle_pq_ann_topk(),
                _sim.ORACLE_PQ_RECALL],
            "pq_ann_recall",
            recursive=True)),
    "embedding_diverse_sample": (
        lambda spark, sf_dir: _sim.ivf_diverse_sample(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_ivf_diverse_sample()], "ivf_diverse_sample")),
    "embedding_semdedup": (
        lambda spark, sf_dir: _sim.semdedup_survivors(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_semdedup()], "semantic_dedup")),
    "text_token_counts": (
        lambda spark, sf_dir: _text.token_counts(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_TOKEN_COUNTS], "token_counts")),
    "text_hashing_collisions": (
        lambda spark, sf_dir: _text.hashing_collision_report(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.ORACLE_HASHING_COLLISIONS], "hashing_collision_report")),
    "text_quality": (
        lambda spark, sf_dir: _text.quality_scores(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.oracle_quality_scores()], "quality_scores")),
    "text_lang_id": (
        lambda spark, sf_dir: _text.lang_id(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.oracle_lang_id()], "lang_scored")),
    "text_fingerprints": (
        lambda spark, sf_dir: _text.fingerprints(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_FINGERPRINTS], "fingerprints")),
    "text_top_terms": (
        lambda spark, sf_dir: _text.top_terms_per_lang(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_TOP_TERMS_PER_LANG], "top_terms_per_lang")),
    # RE2-compatible alternation, so both engines match
    "text_redact_pii": (
        lambda spark, sf_dir: _text.redact_pii(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_REDACT_PII], "redact_pii")),
    "text_repetition": (
        lambda spark, sf_dir: _text.repetition_scores(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_REPETITION], "repetition_scores")),
    "docs_chunks": (
        lambda spark, sf_dir: _text.chunk_documents(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_CHUNKS], "chunk_documents")),
    # same rule and oracle as docs_chunks: native expressions, the Python UDTF
    # and DuckDB must all hash-agree
    "docs_chunks_udtf": (
        lambda spark, sf_dir: _text.chunk_documents_udtf(
            spark, load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_CHUNKS], "chunk_documents")),
    "docs_source_mix": (
        lambda spark, sf_dir: _text.source_mix(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [
                _text.ORACLE_TOKEN_COUNTS,
                _text.oracle_quality_scores(),
                _text.ORACLE_SOURCE_MIX],
            "source_mix")),
    "docs_quality_topfrac": (
        lambda spark, sf_dir: _text.quality_top_fraction(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [
                _text.oracle_quality_scores(),
                _text.oracle_quality_top_fraction()],
            "quality_top_fraction")),
    "text_skipgram_pmi": (
        lambda spark, sf_dir: _text.skipgram_pmi(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_SKIPGRAM_PMI], "skipgram_pmi")),
    "events_retention": (
        lambda spark, sf_dir: _tmp.retention_cohorts(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_RETENTION_COHORTS], "retention_cohorts")),
    # the oracle's one-pass recompute proves the partial aggregates merge
    # losslessly
    "events_incremental_rollup": (
        lambda spark, sf_dir: _tmp.incremental_rollup(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_INCREMENTAL_ROLLUP], "incremental_rollup")),
    "events_ohlc": (
        lambda spark, sf_dir: _tmp.hourly_ohlc(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_HOURLY_OHLC], "hourly_ohlc")),
    "events_session_paths": (
        lambda spark, sf_dir: _ev.session_paths(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_ev.ORACLE_SESSION_PATHS], "session_paths")),
    "docs_grouping_sets": (
        lambda spark, sf_dir: _prof.docs_grouping_sets(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_prof.ORACLE_GROUPING_SETS], "docs_grouping_sets")),
    "events_winsorized": (
        lambda spark, sf_dir: _tmp.winsorized_stats(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_WINSORIZED_STATS], "winsorized_stats")),
    "orders_merge_upsert": (
        lambda spark, sf_dir: _rel.merge_upsert_orders(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_rel.ORACLE_MERGE_UPSERT], "merge_upsert_orders")),
    "sql_daily_gapfill": (
        lambda spark, sf_dir: _sqlapi.sql_daily_gapfill(spark, sf_dir),
        _ext_oracle(
            [_sqlapi.ORACLE_DAILY_GAPFILL],
            "sql_daily_gapfill",
            recursive=True)),
    "sql_urgent_only": (
        lambda spark, sf_dir: _sqlapi.sql_urgent_only_customers(spark, sf_dir),
        _ext_oracle([_sqlapi.ORACLE_SQL_URGENT_ONLY], "sql_urgent_only")),
    "sql_setops": (
        lambda spark, sf_dir: _sqlapi.sql_setops_halves(spark, sf_dir),
        _ext_oracle([_sqlapi.ORACLE_SQL_SETOPS], "sql_setops_halves")),
    "sql_named_window": (
        lambda spark, sf_dir: _sqlapi.sql_named_window(spark, sf_dir),
        _ext_oracle([_sqlapi.ORACLE_SQL_NAMED_WINDOW], "sql_named_window")),
    "sql_nullsafe": (
        lambda spark, sf_dir: _sqlapi.sql_nullsafe_join(spark, sf_dir),
        _ext_oracle([_sqlapi.ORACLE_SQL_NULLSAFE], "sql_nullsafe_join")),
    "sql_scripting": (
        lambda spark, sf_dir: _sqlapi.sql_scripting_peel(spark, sf_dir),
        _ext_oracle(
            [_sqlapi.oracle_sql_scripting_peel()], "sql_scripting_peel")),
    "sql_part_supplier_stats": (
        lambda spark, sf_dir: _sqlapi.sql_part_supplier_stats(spark, sf_dir),
        _ext_oracle(
            [_sqlapi.ORACLE_SQL_PART_SUPPLIER_STATS],
            "sql_part_supplier_stats")),
    "sql_small_qty_revenue": (
        lambda spark, sf_dir: _sqlapi.sql_small_qty_revenue(spark, sf_dir),
        _ext_oracle(
            [_sqlapi.ORACLE_SQL_SMALL_QTY_REVENUE], "sql_small_qty_revenue")),
    "sql_pipe_priority_stats": (
        lambda spark, sf_dir: _sqlapi.sql_pipe_priority_stats(spark, sf_dir),
        _ext_oracle(
            [_sqlapi.ORACLE_SQL_PIPE_PRIORITY_STATS],
            "sql_pipe_priority_stats")),
    "sql_lateral_top_orders": (
        lambda spark, sf_dir: _sqlapi.sql_lateral_top_orders(spark, sf_dir),
        _ext_oracle(
            [_sqlapi.ORACLE_SQL_LATERAL_TOP_ORDERS],
            "sql_lateral_top_orders")),
    "sql_customer_chain": (
        lambda spark, sf_dir: _sqlapi.sql_customer_chain(spark, sf_dir),
        _ext_oracle(
            [_sqlapi.ORACLE_SQL_CUSTOMER_CHAIN],
            "sql_customer_chain",
            recursive=True)),
    "sql_var_param_revenue": (
        lambda spark, sf_dir: _sqlapi.sql_var_param_revenue(spark, sf_dir),
        _ext_oracle([_sqlapi.ORACLE_SQL_VAR_PARAM], "sql_var_param_revenue")),
    "sql_dynamic_identifier": (
        lambda spark, sf_dir: _sqlapi.sql_dynamic_identifier(spark, sf_dir),
        _ext_oracle(
            [_sqlapi.ORACLE_SQL_DYNAMIC_IDENTIFIER],
            "sql_dynamic_identifier")),
    "sql_pivot_returnflag": (
        lambda spark, sf_dir: _sqlapi.sql_pivot_returnflag(spark, sf_dir),
        _ext_oracle([_sqlapi.ORACLE_SQL_PIVOT], "sql_pivot_returnflag")),
    "plan_lint_report": (q_plan_lint_report, None),
    "text_bpe_pairs": (
        lambda spark, sf_dir: _text.bpe_first_merges(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.oracle_bpe_first_merges()], "bpe_first_merges")),
    "text_rouge": (
        lambda spark, sf_dir: _text.rouge_pairs(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_ROUGE_PAIRS], "rouge_pairs")),
    "text_bleu": (
        lambda spark, sf_dir: _text.bleu_pairs(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_BLEU_PAIRS], "bleu_pairs")),
    "text_lexical_diversity": (
        lambda spark, sf_dir: _text.lexical_diversity(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_LEXICAL_DIVERSITY], "lexical_diversity")),
    "events_pchart": (
        lambda spark, sf_dir: _tmp.error_pchart(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_PCHART], "error_pchart")),
    "text_bpe_train": (
        lambda spark, sf_dir: _text.bpe_train_merges(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.oracle_bpe_train()], "bpe_train_merges")),
    "text_bpe_fertility": (
        lambda spark, sf_dir: _text.bpe_fertility(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.oracle_bpe_train(), _text.oracle_bpe_fertility()],
            "text_bpe_fertility")),
    "text_unigram_lm": (
        lambda spark, sf_dir: _text.unigram_train(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(_text.oracle_unigram_train(), "text_unigram_lm")),
    "text_unigram_fertility": (
        lambda spark, sf_dir: _text.unigram_fertility(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            _text.oracle_unigram_fertility(), "text_unigram_fertility")),
    "events_skew_report": (
        lambda spark, sf_dir: _prof.key_skew_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_prof.oracle_key_skew_report()], "key_skew_report")),
    "xml_ingest_events": (
        lambda spark, sf_dir: events_xml_roundtrip(spark, sf_dir),
        _ext_oracle([ORACLE_EVENTS_XML_ROUNDTRIP], "events_xml_roundtrip")),
    "orc_ingest_events": (
        lambda spark, sf_dir: events_orc_roundtrip(spark, sf_dir),
        _ext_oracle([ORACLE_EVENTS_ORC_ROUNDTRIP], "events_orc_roundtrip")),
    "events_ewma": (
        lambda spark, sf_dir: _tmp.user_value_ewma(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_USER_VALUE_EWMA], "user_value_ewma")),
    "events_value_bins": (
        lambda spark, sf_dir: _tmp.value_quartile_bins(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_VALUE_QUARTILE_BINS], "value_quartile_bins")),
    "events_anomalies": (
        lambda spark, sf_dir: _tmp.rolling_zscore_anomalies(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_ROLLING_ZSCORE], "rolling_zscore_anomalies")),
    "events_type_unpivot": (
        lambda spark, sf_dir: _tmp.user_type_unpivot(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_USER_TYPE_UNPIVOT], "user_type_unpivot")),
    "dedup_fuzzy_prefix": (
        lambda spark, sf_dir: _dedup.fuzzy_prefix_pairs(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_dedup.ORACLE_FUZZY_PREFIX_PAIRS], "fuzzy_prefix_pairs")),
    "docs_er_matches": (
        lambda spark, sf_dir: _dedup.er_matches(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_dedup.ORACLE_ER_MATCHES], "er_matches")),
    "docs_fellegi_sunter": (
        lambda spark, sf_dir: _dedup.fellegi_sunter_weights(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_dedup.oracle_fellegi_sunter()], "fellegi_sunter")),
    "docs_phonetic_er": (
        lambda spark, sf_dir: _dedup.phonetic_er_pairs(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_dedup.ORACLE_PHONETIC_ER], "phonetic_er_pairs")),
    "parts_jaro_winkler": (
        lambda spark, sf_dir: _dedup.jaro_winkler_pairs(
            load_table(spark, sf_dir, "part")),
        _ext_oracle(
            [_dedup.ORACLE_JARO_WINKLER], "jaro_winkler", recursive=True)),
    "docs_template_dedup": (
        lambda spark, sf_dir: _dedup.template_dedup(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_dedup.ORACLE_TEMPLATE_DEDUP], "template_dedup")),
    "text_phrase_search": (
        lambda spark, sf_dir: _text.phrase_search(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_PHRASE_SEARCH], "phrase_search")),
    "events_ab_test": (
        lambda spark, sf_dir: _tmp.ab_test_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_AB_TEST], "ab_test")),
    # rows-only: HLL estimates are engine-specific; their error bounds are
    # pinned in tests
    "events_sketch_rollup": (
        lambda spark, sf_dir: _tmp.daily_sketch_rollup(
            load_table(spark, sf_dir, "events")),
        None),
    "dedup_incremental": (
        lambda spark, sf_dir: _dedup.incremental_dedup(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_dedup.ORACLE_INCREMENTAL_DEDUP], "incremental_dedup")),
    "dedup_hybrid": (
        lambda spark, sf_dir: _dedup.hybrid_near_dup(
            load_table(spark, sf_dir, "documents"),
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [
                _dedup.ORACLE_SHINGLES,
                "dsizes AS (SELECT doc_id, count(*) AS n FROM dshingles"
                " GROUP BY doc_id)",
                _dedup.ORACLE_MINHASH_LSH,
                _sim.oracle_embedding_near_dup(),
                _dedup.ORACLE_HYBRID_NEAR_DUP,
            ],
            "hybrid_near_dup")),
    "docs_segment_dedup": (
        lambda spark, sf_dir: _dedup.segment_dedup(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_dedup.ORACLE_SEGMENT_DEDUP], "segment_dedup")),
    "docs_pack_payloads": (
        lambda spark, sf_dir: _text.pack_payloads(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.ORACLE_TOKEN_COUNTS, _text.ORACLE_PACK_PAYLOADS],
            "pack_payloads")),
    "dedup_cluster_reps": (
        lambda spark, sf_dir: _dedup.cluster_representatives(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [
                _dedup.ORACLE_SHINGLES,
                _dedup.ORACLE_NGRAM_JACCARD,
                _dedup.ORACLE_CONNECTED_CLUSTERS,
                _text.oracle_quality_scores(),
                _dedup.ORACLE_CLUSTER_REPRESENTATIVES],
            "cluster_representatives",
            recursive=True)),
    "dedup_retention": (
        lambda spark, sf_dir: _dedup.retention_report(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [
                _dedup.ORACLE_SHINGLES,
                _dedup.ORACLE_NGRAM_JACCARD,
                _dedup.ORACLE_CONNECTED_CLUSTERS,
                _text.oracle_quality_scores(),
                _dedup.ORACLE_CLUSTER_REPRESENTATIVES,
                _dedup.ORACLE_RETENTION_REPORT],
            "retention_report",
            recursive=True)),
    "pagerank_products": (
        lambda spark, sf_dir: _graph.pagerank_products(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_pagerank()], "pagerank_products")),
    "graph_triangles": (
        lambda spark, sf_dir: _graph.triangle_counts(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.ORACLE_TRIANGLE_COUNTS], "triangle_counts")),
    "graph_clustering_coef": (
        lambda spark, sf_dir: _graph.clustering_coefficient(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle(
            [_graph.ORACLE_CLUSTERING_COEF], "clustering_coefficient")),
    "graph_degree_stats": (
        lambda spark, sf_dir: _graph.degree_stats(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.ORACLE_DEGREE_STATS], "degree_stats")),
    "graph_kcore": (
        lambda spark, sf_dir: _graph.k_core_membership(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_k_core()], "k_core_membership")),
    "graph_ktruss": (
        lambda spark, sf_dir: _graph.ktruss_edges(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_ktruss()], "ktruss_edges")),
    "graph_link_prediction": (
        lambda spark, sf_dir: _graph.link_prediction_ra(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle(
            [_graph.oracle_link_prediction_ra()], "link_prediction_ra")),
    "graph_adamic_adar": (
        lambda spark, sf_dir: _graph.adamic_adar_prediction(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_adamic_adar()], "adamic_adar")),
    "graph_assortativity": (
        lambda spark, sf_dir: _graph.degree_assortativity(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.ORACLE_ASSORTATIVITY], "degree_assortativity")),
    "nation_rca": (
        lambda spark, sf_dir: _ana.nation_rca(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "part")),
        _ext_oracle([_ana.ORACLE_NATION_RCA], "nation_rca")),
    "docs_systematic_sample": (
        lambda spark, sf_dir: _samp.systematic_sample(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_samp.ORACLE_SYSTEMATIC], "systematic_sample")),
    "graph_bfs": (
        lambda spark, sf_dir: _graph.bfs_distances(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_bfs_distances()], "bfs_distances")),
    "graph_sssp": (
        lambda spark, sf_dir: _graph.sssp_weighted(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "part")),
        _ext_oracle([_graph.oracle_sssp_weighted()], "sssp_weighted")),
    "graph_betweenness": (
        lambda spark, sf_dir: _graph.betweenness_approx(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_betweenness()], "graph_betweenness")),
    "graph_closeness": (
        lambda spark, sf_dir: _graph.closeness_centrality(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_closeness()], "graph_closeness")),
    "graph_betweenness_stability": (
        lambda spark, sf_dir: _graph.betweenness_stability_eval(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle(
            [_graph.oracle_betweenness_stability()],
            "graph_betweenness_stability")),
    "graph_hits": (
        lambda spark, sf_dir: _graph.hits_scores(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_hits()], "graph_hits")),
    "graph_diameter_est": (
        lambda spark, sf_dir: _graph.diameter_estimate(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_diameter()], "graph_diameter_est")),
    "graph_lpa": (
        lambda spark, sf_dir: _graph.lpa_communities(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_lpa_communities()], "lpa_communities")),
    "graph_item_similarity": (
        lambda spark, sf_dir: _graph.item_similarity(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_item_similarity()], "item_similarity")),
    "graph_item_sim_hitrate": (
        lambda spark, sf_dir: _graph.item_sim_holdout_eval(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_graph.oracle_item_sim_holdout()], "item_sim_holdout")),
    "pysource_docs": (
        lambda spark, sf_dir: _pds.synthetic_docs(spark),
        _ext_oracle([_pds.ORACLE_SYNTHETIC_DOCS], "synthetic_docs")),
    "pysink_docs": (
        lambda spark, sf_dir: _pds.docs_pysink_roundtrip(spark, sf_dir),
        _ext_oracle(
            [_pds.ORACLE_DOCS_PYSINK_ROUNDTRIP], "docs_pysink_roundtrip")),
    "dedup_decontaminate": (
        lambda spark, sf_dir: _dedup.decontaminate(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_DECONTAMINATE],
            "decontaminate")),
    "text_tfidf_top_terms": (
        lambda spark, sf_dir: _text.tfidf_top_terms(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_TFIDF_TOP_TERMS], "tfidf_top_terms")),
    "docs_pack_batches": (
        lambda spark, sf_dir: _text.pack_batches(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.ORACLE_TOKEN_COUNTS, _text.ORACLE_PACK_BATCHES],
            "pack_batches")),
    "docs_pack_sweep": (
        lambda spark, sf_dir: _text.pack_sweep(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.ORACLE_TOKEN_COUNTS, _text.ORACLE_PACK_SWEEP],
            "docs_pack_sweep")),
    "docs_split_by_hash": (
        lambda spark, sf_dir: _samp.split_by_hash(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_samp.ORACLE_SPLIT_BY_HASH], "split_by_hash")),
    "events_tablesample": (
        lambda spark, sf_dir: _samp.tablesample_events(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_samp.ORACLE_TABLESAMPLE], "tablesample_events")),
    "docs_global_shuffle": (
        lambda spark, sf_dir: _samp.global_shuffle(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_samp.ORACLE_GLOBAL_SHUFFLE], "global_shuffle")),
    "docs_stratified_sample": (
        lambda spark, sf_dir: _samp.stratified_sample(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_samp.oracle_stratified_sample()], "stratified_sample")),
    "docs_setcover": (
        lambda spark, sf_dir: _samp.setcover_selection(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _samp.oracle_setcover()],
            "setcover_selection")),
    "fd_discovery": (
        lambda spark, sf_dir: _prof.fd_discovery({
            t: load_table(spark, sf_dir, t)
            for t in ("part", "customer", "orders")}),
        _ext_oracle([_prof.oracle_fd_discovery()], "fd_discovery")),
    "ind_discovery": (
        lambda spark, sf_dir: _prof.ind_discovery({
            t: load_table(spark, sf_dir, t)
            for t in ("lineitem", "orders", "part", "customer",
                      "supplier", "nation", "region")}),
        _ext_oracle([_prof.oracle_ind_discovery()], "ind_discovery")),
    "dict_advisor": (
        lambda spark, sf_dir: _prof.dict_encoding_advisor({
            t: load_table(spark, sf_dir, t)
            for t in ("part", "orders", "lineitem", "customer",
                      "nation", "events")}),
        _ext_oracle([_prof.oracle_dict_advisor()], "dict_encoding_advisor")),
    "join_cardinality_estimate": (
        lambda spark, sf_dir: _prof.join_cardinality_estimate(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle(
            [_prof.oracle_join_cardinality()], "join_cardinality_estimate")),
    "sql_udf_tiers": (
        lambda spark, sf_dir: _sqlapi.sql_udf_discount_tiers(spark, sf_dir),
        _ext_oracle([_sqlapi.ORACLE_SQL_UDF_TIERS], "sql_udf_discount_tiers")),
    # four-way hash agreement with the native chunker, the Python UDTF and the
    # DuckDB oracle
    "sql_udtf_chunks": (
        lambda spark, sf_dir: _sqlapi.sql_table_udtf_chunks(spark, sf_dir),
        _ext_oracle([_text.ORACLE_CHUNKS], "chunk_documents")),
    "sql_clustered_orders": (
        lambda spark, sf_dir: _sqlapi.sql_clustered_orders(spark, sf_dir),
        _ext_oracle(
            [_sqlapi.ORACLE_SQL_CLUSTERED_ORDERS], "sql_clustered_orders")),
    "sql_filter_clause_stats": (
        lambda spark, sf_dir: _sqlapi.sql_filter_clause_stats(spark, sf_dir),
        _ext_oracle(
            [_sqlapi.ORACLE_SQL_FILTER_CLAUSE], "sql_filter_clause_stats")),
    "rle_layout_report": (
        lambda spark, sf_dir: _layout.rle_layout_report(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_layout.oracle_rle_layout()], "rle_layout_report")),
    "zonemap_skipping_report": (
        lambda spark, sf_dir: _layout.zonemap_skipping_report(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle(
            [_layout.oracle_zonemap_skipping()], "zonemap_skipping_report")),
    "events_l_diversity": (
        lambda spark, sf_dir: _privacy.l_diversity_audit(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_privacy.ORACLE_L_DIVERSITY], "l_diversity_audit")),
    "events_t_closeness": (
        lambda spark, sf_dir: _privacy.t_closeness_audit(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_privacy.ORACLE_T_CLOSENESS], "t_closeness_audit")),
    "privacy_randomized_response": (
        lambda spark, sf_dir: _privacy.randomized_response(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_privacy.ORACLE_RANDOMIZED_RESPONSE],
            "privacy_randomized_response")),
    "docs_quality_sample": (
        lambda spark, sf_dir: _samp.quality_weighted_sample(
            _text.quality_scores(load_table(spark, sf_dir, "documents"))),
        _ext_oracle(
            [_text.oracle_quality_scores(),
             _samp.oracle_quality_weighted_sample()],
            "quality_weighted_sample")),
    "docs_weighted_sample_aes": (
        q_docs_weighted_sample_aes,
        _ext_oracle(
            [_text.oracle_quality_scores(),
             _samp.oracle_weighted_sample_aes()],
            "weighted_sample_aes")),
    "docs_lang_temperature": (
        lambda spark, sf_dir: _samp.lang_temperature_sample(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_samp.oracle_lang_temperature_sample()],
            "lang_temperature_sample")),
    "fast_stats_profile": (
        lambda spark, sf_dir: _prof.fast_stats_profile(spark, sf_dir),
        _ext_oracle([_prof.ORACLE_FAST_STATS_PROFILE], "fast_stats_profile")),
    "docs_profile": (
        lambda spark, sf_dir: _prof.profile_documents(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_prof.oracle_profile_documents()], "profile_documents")),
    "events_interarrival": (
        lambda spark, sf_dir: _tmp.user_interarrival_stats(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_tmp.ORACLE_USER_INTERARRIVAL], "user_interarrival_stats")),
    "events_salted_join": (
        q_events_salted_join,
        _ext_oracle([ORACLE_EVENTS_SALTED_JOIN], "events_salted_join")),
    "ref_integrity_audit": (
        q_ref_integrity_audit,
        _ext_oracle([_prof.ORACLE_REF_INTEGRITY], "ref_integrity_audit")),
    "orders_expectations": (
        lambda spark, sf_dir: _prof.orders_expectations(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle(
            [_prof.oracle_orders_expectations()], "orders_expectations")),
    "lineitem_quarantine": (
        lambda spark, sf_dir: _prof.lineitem_quarantine(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle(
            [_prof.oracle_lineitem_quarantine()], "lineitem_quarantine")),
    "pricing_summary": (
        lambda spark, sf_dir: _rel.pricing_summary(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_rel.ORACLE_PRICING_SUMMARY], "pricing_summary")),
    "parts_pareto_skyline": (
        lambda spark, sf_dir: _ana.pareto_skyline(
            load_table(spark, sf_dir, "part")),
        _ext_oracle([_ana.ORACLE_PARETO_SKYLINE], "pareto_skyline")),
    "text_zipf_fit": (
        lambda spark, sf_dir: _text.zipf_fit(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.oracle_zipf_fit()], "zipf_fit")),
    "text_hashed_features": (
        lambda spark, sf_dir: _text.hashed_features(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.oracle_hashed_features()], "hashed_features")),
    "text_textrank": (
        lambda spark, sf_dir: _text.textrank_keywords(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.oracle_textrank()], "textrank_keywords")),
    "text_heaps_curve": (
        lambda spark, sf_dir: _text.heaps_curve(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.oracle_heaps()], "heaps_curve")),
    "text_oov_rate": (
        lambda spark, sf_dir: _text.oov_rate_report(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.ORACLE_OOV_RATE], "text_oov_rate")),
    "text_nb_calibration": (
        lambda spark, sf_dir: _text.nb_calibration(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [
                _text.oracle_gopher_rules(),
                _text.ORACLE_NB_QUALITY,
                _text.ORACLE_NB_CALIBRATION],
            "nb_calibration")),
    "text_brier": (
        lambda spark, sf_dir: _text.brier_decomposition(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [
                _text.oracle_gopher_rules(),
                _text.ORACLE_NB_QUALITY,
                _text.ORACLE_BRIER],
            "text_brier_decomposition")),
    "text_lang_confusion": (
        lambda spark, sf_dir: _text.lang_confusion(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [_text.oracle_lang_id(), _text.oracle_lang_confusion()],
            "lang_confusion")),
    "text_nb_pr_curve": (
        lambda spark, sf_dir: _text.nb_pr_curve(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [
                _text.oracle_gopher_rules(),
                _text.ORACLE_NB_QUALITY,
                _text.ORACLE_NB_PR_CURVE],
            "nb_pr_curve")),
    "text_nb_scorecard": (
        lambda spark, sf_dir: _text.nb_scorecard(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle(
            [
                _text.oracle_gopher_rules(),
                _text.ORACLE_NB_QUALITY,
                _text.ORACLE_NB_CALIBRATION,
                _text.ORACLE_NB_PR_CURVE,
                _text.ORACLE_NB_SCORECARD],
            "nb_scorecard")),
    "shipping_priority": (
        lambda spark, sf_dir: _rel.shipping_priority(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_rel.oracle_shipping_priority()], "shipping_priority")),
    "customer_returns": (
        lambda spark, sf_dir: _rel.customer_returns(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "nation")),
        _ext_oracle([_rel.oracle_customer_returns()], "customer_returns")),
    "large_orders": (
        lambda spark, sf_dir: _rel.large_orders(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_rel.oracle_large_orders()], "large_orders")),
    "parts_intersect_all": (
        lambda spark, sf_dir: _rel.parts_intersect_all(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_rel.ORACLE_PARTS_INTERSECT_ALL], "parts_intersect_all")),
    "parts_except_all": (
        lambda spark, sf_dir: _rel.parts_except_all(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_rel.ORACLE_PARTS_EXCEPT_ALL], "parts_except_all")),
    "orders_cdc_apply": (
        lambda spark, sf_dir: _rel.cdc_apply_orders(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_rel.ORACLE_CDC_APPLY], "cdc_apply")),
    # the oracle recomputes the final state from scratch, so the hash match
    # proves the maintenance lossless
    "orders_ivm_retract": (
        lambda spark, sf_dir: _rel.agg_view_maintain(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_rel.ORACLE_AGG_VIEW_MAINTAIN], "agg_view_maintain")),
    "events_rolling_dau": (
        lambda spark, sf_dir: _tmp.rolling_active_users(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_ROLLING_DAU], "rolling_dau")),
    "events_user_funnel": (
        lambda spark, sf_dir: _tmp.user_funnel(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_USER_FUNNEL], "user_funnel")),
    "events_attribution": (
        lambda spark, sf_dir: _tmp.linear_attribution(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_LINEAR_ATTRIBUTION], "linear_attribution")),
    "events_psi_drift": (
        lambda spark, sf_dir: _tmp.psi_drift_report(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_PSI_DRIFT], "psi_drift")),
    "events_rfm_segments": (
        lambda spark, sf_dir: _tmp.rfm_segments(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_RFM_SEGMENTS], "rfm_segments")),
    "nation_revenue_share": (
        lambda spark, sf_dir: _rel.nation_revenue_share(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "nation")),
        _ext_oracle(
            [_rel.ORACLE_NATION_REVENUE_SHARE], "nation_revenue_share")),
    "bloom_join_prune": (
        lambda spark, sf_dir: _rel.bloom_join_prune(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_rel.ORACLE_BLOOM_JOIN_PRUNE], "bloom_join_prune")),
    "table_diff_report": (
        lambda spark, sf_dir: _rel.table_diff_report(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_rel.ORACLE_TABLE_DIFF], "table_diff_report")),
    "lineitem_weighted_median": (
        lambda spark, sf_dir: _rel.weighted_median_price(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_rel.ORACLE_WEIGHTED_MEDIAN], "weighted_median_price")),
    "events_interpolate": (
        lambda spark, sf_dir: _tmp.interpolate_missing_values(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_INTERPOLATE_MISSING], "interpolate_missing")),
    "loo_target_encoding": (
        lambda spark, sf_dir: _feat.loo_target_encoding(
            instacart_tables(spark, sf_dir)),
        _oracle("loo_target_encoding")),
    "woe_iv_encoding": (
        lambda spark, sf_dir: _feat.woe_iv_encoding(
            instacart_tables(spark, sf_dir)),
        _oracle("woe_iv_encoding")),
    "info_gain_ranking": (
        lambda spark, sf_dir: _feat.info_gain_ranking(
            instacart_tables(spark, sf_dir)),
        _oracle("info_gain_ranking")),
    "feature_correlations": (
        lambda spark, sf_dir: _prof.feature_correlations(
            _cand.candidates_staged(instacart_tables(spark, sf_dir))),
        _oracle("feature_correlations")),
    "orders_snapshot_diff": (
        lambda spark, sf_dir: _rel.orders_snapshot_diff(
            load_table(spark, sf_dir, "orders")),
        _ext_oracle(
            [_rel.ORACLE_ORDERS_SNAPSHOT_DIFF], "orders_snapshot_diff")),
    "regional_revenue": (
        lambda spark, sf_dir: _rel.regional_revenue(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "region")),
        _ext_oracle([_rel.oracle_regional_revenue()], "regional_revenue")),
    "events_session_funnel": (
        lambda spark, sf_dir: _ev.session_funnel(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_ev.ORACLE_SESSION_FUNNEL], "session_funnel")),
    "sql_segment_conversion": (
        lambda spark, sf_dir: _sqlapi.sql_segment_conversion(spark, sf_dir),
        _ext_oracle(
            [_ev.ORACLE_SESSION_FUNNEL, _sqlapi.ORACLE_SQL_SEGMENT_CONVERSION],
            "sql_segment_conversion")),
    "events_type_pivot": (
        lambda spark, sf_dir: _tmp.user_type_pivot(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_USER_TYPE_PIVOT], "user_type_pivot")),
    "events_value_histogram": (
        lambda spark, sf_dir: _tmp.value_histogram(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_VALUE_HISTOGRAM], "value_histogram")),
    "events_variant_rollup": (
        lambda spark, sf_dir: _ev.variant_props_rollup(
            load_table(spark, sf_dir, "events")),
        _ext_oracle(
            [_ev.ORACLE_VARIANT_PROPS_ROLLUP], "variant_props_rollup")),
    "events_rolling_hour": (
        lambda spark, sf_dir: _tmp.rolling_hour_stats(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_ROLLING_HOUR], "rolling_hour_stats")),
    "events_user_scd2": (
        lambda spark, sf_dir: _tmp.user_state_scd2(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_USER_STATE_SCD2], "user_state_scd2")),
    "events_mad_outliers": (
        lambda spark, sf_dir: _tmp.mad_outlier_stats(
            load_table(spark, sf_dir, "events")),
        _ext_oracle([_tmp.ORACLE_MAD_OUTLIERS], "mad_outlier_stats")),
    # the oracle keeps the correlated EXISTS/NOT EXISTS form, so the hash match
    # proves the decorrelation
    "suppliers_waiting": (
        lambda spark, sf_dir: _rel.suppliers_waiting(
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_rel.ORACLE_SUPPLIERS_WAITING], "suppliers_waiting")),
    "top_supplier_revenue": (
        lambda spark, sf_dir: _rel.top_supplier_revenue(
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle(
            [_rel.ORACLE_TOP_SUPPLIER_REVENUE], "top_supplier_revenue")),
    "text_bm25": (
        lambda spark, sf_dir: _text.bm25_search(
            load_table(spark, sf_dir, "documents")),
        _ext_oracle([_text.oracle_bm25_search()], "bm25_search")),
    "rag_context_pack": (
        lambda spark, sf_dir: _sim.rag_context_pack(
            load_table(spark, sf_dir, "documents"),
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [_text.ORACLE_CHUNKS, _sim.oracle_rag_context_pack()],
            "rag_context_pack")),
    "rag_rerank": (
        lambda spark, sf_dir: _sim.rag_rerank(
            load_table(spark, sf_dir, "documents"),
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [_text.ORACLE_CHUNKS, _sim.oracle_rag_rerank()], "rag_rerank")),
    "embedding_mmr": (
        lambda spark, sf_dir: _sim.mmr_select(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_mmr_select()], "mmr_select")),
    "rag_hybrid_rrf": (
        lambda spark, sf_dir: _sim.hybrid_search_rrf(
            load_table(spark, sf_dir, "documents"),
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [_sim.ORACLE_BRUTE_FORCE_TOPK, _sim.oracle_hybrid_rrf()],
            "hybrid_search_rrf")),
    "ann_matryoshka_recall": (
        lambda spark, sf_dir: _sim.matryoshka_recall(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle(
            [_sim.ORACLE_BRUTE_FORCE_TOPK, _sim.oracle_matryoshka()],
            "matryoshka_recall")),
    "ann_graph_beam": (
        lambda spark, sf_dir: _sim.graph_ann_topk(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_graph_ann_topk()], "graph_ann_topk")),
    "ann_graph_recall": (
        lambda spark, sf_dir: _sim.graph_ann_recall(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_graph_ann_recall()], "graph_ann_recall")),
    "embedding_silhouette": (
        lambda spark, sf_dir: _sim.cell_silhouette(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.ORACLE_CELL_SILHOUETTE], "cell_silhouette")),
    "embedding_drift": (
        lambda spark, sf_dir: _sim.embedding_drift_report(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.ORACLE_EMBEDDING_DRIFT], "embedding_drift_report")),
    "embedding_isotropy": (
        lambda spark, sf_dir: _sim.embedding_isotropy(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.ORACLE_EMBEDDING_ISOTROPY], "embedding_isotropy")),
    "ann_retrieval_eval": (
        lambda spark, sf_dir: _sim.retrieval_eval_report(
            load_table(spark, sf_dir, "embeddings")),
        _ext_oracle([_sim.oracle_retrieval_eval()], "retrieval_eval")),
    "idle_rich_customers": (
        lambda spark, sf_dir: _rel.idle_rich_customers(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders")),
        _ext_oracle(
            [_rel.oracle_idle_rich_customers()], "idle_rich_customers")),
    "incremental_join_view": (
        lambda spark, sf_dir: _rel.incremental_join_view(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle(
            [_rel.ORACLE_INCREMENTAL_JOIN_VIEW], "incremental_join_view")),
    "late_order_priorities": (
        lambda spark, sf_dir: _ana.late_order_priorities(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle(
            [_ana.ORACLE_LATE_ORDER_PRIORITIES], "late_order_priorities")),
    "forecast_revenue_change": (
        lambda spark, sf_dir: _ana.forecast_revenue_change(
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle(
            [_ana.ORACLE_FORECAST_REVENUE], "forecast_revenue_change")),
    "min_cost_supplier": (
        lambda spark, sf_dir: _ana.min_cost_supplier(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "part"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "region")),
        _ext_oracle([_ana.ORACLE_MIN_COST_SUPPLIER], "min_cost_supplier")),
    "nation_market_share": (
        lambda spark, sf_dir: _ana.nation_market_share(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "region")),
        _ext_oracle([_ana.ORACLE_NATION_MARKET_SHARE], "nation_market_share")),
    "priority_shipping_buckets": (
        lambda spark, sf_dir: _ana.priority_shipping_buckets(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders")),
        _ext_oracle(
            [_ana.ORACLE_PRIORITY_SHIPPING], "priority_shipping_buckets")),
    "bloc_trade_volume": (
        lambda spark, sf_dir: _ana.bloc_trade_volume(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation")),
        _ext_oracle([_ana.ORACLE_BLOC_TRADE_VOLUME], "bloc_trade_volume")),
    "nation_part_profit": (
        lambda spark, sf_dir: _ana.nation_part_profit(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "part"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "orders")),
        _ext_oracle([_ana.ORACLE_NATION_PART_PROFIT], "nation_part_profit")),
    "important_parts": (
        lambda spark, sf_dir: _ana.important_parts(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "supplier")),
        _ext_oracle([_ana.ORACLE_IMPORTANT_PARTS], "important_parts")),
    "customer_order_distribution": (
        lambda spark, sf_dir: _ana.customer_order_distribution(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders")),
        _ext_oracle(
            [_ana.ORACLE_CUSTOMER_ORDER_DISTRIBUTION],
            "customer_order_distribution")),
    "disjunctive_revenue": (
        lambda spark, sf_dir: _ana.disjunctive_revenue(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "part")),
        _ext_oracle([_ana.ORACLE_DISJUNCTIVE_REVENUE], "disjunctive_revenue")),
    "excess_part_suppliers": (
        lambda spark, sf_dir: _ana.excess_part_suppliers(
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "part")),
        _ext_oracle(
            [_ana.ORACLE_EXCESS_PART_SUPPLIERS], "excess_part_suppliers")),
    "promo_revenue_share": (
        lambda spark, sf_dir: _rel.promo_revenue_share(
            load_table(spark, sf_dir, "part"),
            load_table(spark, sf_dir, "lineitem")),
        _ext_oracle([_rel.ORACLE_PROMO_REVENUE_SHARE], "promo_revenue_share")),
    # slow rows-only queries last (ML trains models; media runs the
    # stub codec): if a driver budget truncates the run, hash-checked
    # rows are already on the board.
    # rows-only: unbounded arity is not SQL-expressible; the arity-2 slice is
    # hash-checked via frequent_pairs
    "fpgrowth_itemsets": (
        lambda spark, sf_dir: _bask.fpgrowth_itemsets(
            instacart_tables(spark, sf_dir)),
        None),
    # rows-only: arbitrary patterns are not SQL-expressible; the [[p],[q]]
    # slice is hash-checked via sequential_pairs
    "prefixspan_patterns": (
        lambda spark, sf_dir: _bask.prefixspan_patterns(
            instacart_tables(spark, sf_dir)),
        None),
    "fpgrowth_rules": (
        lambda spark, sf_dir: _bask.fpgrowth_rules(
            instacart_tables(spark, sf_dir)),
        None),
    # rows-only: tree models are not SQL-expressible
    "ml_train_metrics": (
        lambda spark, sf_dir: _ml.train_metrics(
            instacart_tables(spark, sf_dir)),
        None),
    "ml_cv_selection": (
        lambda spark, sf_dir: _ml.cv_model_selection(
            instacart_tables(spark, sf_dir)),
        None),
    "docs_lda_topics": (q_docs_lda_topics, None),
    "docs_word2vec": (q_docs_word2vec, None),
    "ml_submission_rf": (
        lambda spark, sf_dir: _ml.model_submission(
            instacart_tables(spark, sf_dir), "rf"),
        None),
    "ml_submission_gbt": (
        lambda spark, sf_dir: _ml.model_submission(
            instacart_tables(spark, sf_dir), "gbt"),
        None),
    "ml_submission_dt": (
        lambda spark, sf_dir: _ml.model_submission(
            instacart_tables(spark, sf_dir), "dt"),
        None),
    "media_features": (
        lambda spark, sf_dir: _mm.media_features_query(
            load_table(spark, sf_dir, "documents")),
        None),
    "media_frame_samples": (
        lambda spark, sf_dir: _mm.media_frame_samples_query(
            load_table(spark, sf_dir, "documents")),
        None),
    "media_resized": (
        lambda spark, sf_dir: _mm.media_resized_query(
            load_table(spark, sf_dir, "documents")),
        None),
    "media_audio_windows": (
        lambda spark, sf_dir: _mm.media_audio_windows_query(
            load_table(spark, sf_dir, "documents")),
        None),
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full candidate-expansion feature pipeline at sf0.001."""
    return _QUERIES["candidates"][0](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Builder]:
    return {name: build for name, (build, _) in _QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_, sql) in _QUERIES.items() if sql is not None
    }
