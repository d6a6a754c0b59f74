"""[EXT] Data-quality profiling: per-column stats in one pass.

The first thing a pipeline does to an unfamiliar 100 TB table is
profile it: row count, per-column null counts, distinct cardinality,
min/max. This operator computes all of it in ONE aggregation over the
table (the multi-distinct plan Spark lowers to a single Expand +
hash-agg — one scan, no per-column jobs) and returns a long-format
DataFrame: one row per column.

Determinism: min/max are computed in the column's native type and cast
to string afterwards (so numeric columns get numeric min/max, not
lexicographic); all counters are integral. At 100 TB swap
``countDistinct`` for ``approx_count_distinct`` — exact distincts are
kept here because the DuckDB differential needs exact equality; the
plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.loaders import local_rows

#: profiled columns of the documents fixture.
DOC_PROFILE_COLUMNS = ("doc_id", "lang", "n_chars", "source", "text")


def profile_documents(docs: DataFrame) -> DataFrame:
    """One row per column: nulls, distincts, min/max (stringified)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in DOC_PROFILE_COLUMNS:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = docs.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in DOC_PROFILE_COLUMNS
    )
    return wide.select(
        "n_rows",
        F.expr(
            f"stack({len(DOC_PROFILE_COLUMNS)}, {stack_args})"
            " AS (col_name, n_nulls, n_distinct, min_val, max_val)"
        ),
    )


def oracle_profile_documents() -> str:
    branches = "\n  UNION ALL\n".join(
        f"""  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         '{c}' AS col_name,
         CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
         CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
         CAST(min({c}) AS VARCHAR) AS min_val,
         CAST(max({c}) AS VARCHAR) AS max_val
  FROM documents"""
        for c in DOC_PROFILE_COLUMNS
    )
    return f"profile_documents AS (\n{branches}\n)"


def fk_orphan_stats(
    fact: DataFrame, fk: str, pk_side: DataFrame, pk: str, relation: str
) -> DataFrame:
    """Orphan stats for one FK relation: total rows, null FKs, and
    rows whose non-null FK has no match on the PK side.

    Shuffle-cheap shape: aggregate the fact to per-FK-value counts
    FIRST (the distinct key set is orders of magnitude smaller than
    the fact at 100 TB), anti-join the small per-key table against the
    PK side, and sum the counts back. The fact table itself is touched
    by exactly one hash-agg; the anti-join moves only distinct keys.
    """
    per_key = fact.groupBy(F.col(fk).alias("_fk")).agg(
        F.count("*").alias("_n")
    )
    totals = per_key.agg(
        F.sum("_n").alias("n_rows"),
        F.sum(F.when(F.col("_fk").isNull(), F.col("_n")).otherwise(0))
        .alias("n_null_fk"),
    )
    orphans = (
        per_key.filter(F.col("_fk").isNotNull())
        .join(
            pk_side.select(F.col(pk).alias("_fk")).distinct(),
            "_fk",
            "leftanti",
        )
        .agg(F.coalesce(F.sum("_n"), F.lit(0)).alias("n_orphans"))
    )
    return totals.crossJoin(orphans).select(
        F.lit(relation).alias("relation"),
        "n_rows",
        "n_null_fk",
        "n_orphans",
    )


def ref_integrity_audit(tables: dict[str, DataFrame]) -> DataFrame:
    """Referential-integrity audit across the star schema's FK edges:
    one row per relation with row/null/orphan counts. The per-relation
    pieces are independent single-agg plans unioned at the end."""
    specs = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey",
         "nation", "n_nationkey"),
        ("events.user_id->customer", "events", "user_id",
         "customer", "c_custkey"),
    ]
    parts = [
        fk_orphan_stats(tables[ft], fk, tables[pt], pk, rel)
        for rel, ft, fk, pt, pk in specs
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


ORACLE_REF_INTEGRITY = """
ref_integrity_audit AS (
  SELECT 'lineitem.l_orderkey->orders' AS relation,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_null_fk,
         CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND NOT EXISTS (
              SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
              THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
  FROM lineitem l
  UNION ALL
  SELECT 'orders.o_custkey->customer',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(sum(CASE WHEN o_custkey IS NOT NULL AND NOT EXISTS (
              SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
              THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders o
  UNION ALL
  SELECT 'customer.c_nationkey->nation',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(sum(CASE WHEN c_nationkey IS NOT NULL AND NOT EXISTS (
              SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
              THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer c
  UNION ALL
  SELECT 'events.user_id->customer',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(sum(CASE WHEN user_id IS NOT NULL AND NOT EXISTS (
              SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
              THEN 1 ELSE 0 END) AS BIGINT)
  FROM events e
)
"""


def docs_grouping_sets(docs: DataFrame) -> DataFrame:
    """GROUPING SETS aggregation: per-source and per-lang doc/char
    totals in ONE pass — the non-hierarchical union ROLLUP/CUBE can't
    express (it is neither a prefix chain nor a power set).

    Spark expands the sets inside a single Expand + hash-agg (one scan,
    one shuffle); ``grouping_id`` disambiguates which set each output
    row belongs to, exactly as in the SQL standard and DuckDB.
    """
    return (
        docs.groupingSets(
            [["source"], ["lang"]], F.col("source"), F.col("lang")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.grouping_id().alias("gid"),
        )
        .select("source", "lang", "n_docs", "total_chars", "gid")
    )


ORACLE_GROUPING_SETS = """
docs_grouping_sets AS (
  SELECT source, lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(grouping(source, lang) AS INT) AS gid
  FROM documents
  GROUP BY GROUPING SETS ((source), (lang))
)
"""


SKEW_TOP_K = 10


def key_skew_report(events: DataFrame, k: int = SKEW_TOP_K) -> DataFrame:
    """Join-key skew diagnostic: the k heaviest ``user_id`` keys with
    their share of all rows — the pre-flight check that decides whether
    a fact-fact join needs salting / AQE skew handling before it runs.

    One hash-agg on the key; the grand total is a window over the
    (already key-cardinality-sized) aggregate, so nothing wide touches
    the raw rows twice. Share is per mille as an integer (rows * 1000
    DIV total) — exact integer division, no float accumulation, and the
    top-k is a deterministic TakeOrdered.
    """
    per_key = events.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    from pyspark.sql import Window

    total = F.sum("n_rows").over(Window.partitionBy())
    return (
        per_key.withColumn(
            "share_per_mille",
            # floor explicitly: Spark's double->bigint cast truncates
            # while DuckDB's rounds — floor() agrees everywhere.
            F.floor(F.col("n_rows") * F.lit(1000) / total).cast("bigint"),
        )
        .orderBy(F.col("n_rows").desc(), "user_id")
        .limit(k)
    )


def oracle_key_skew_report(k: int = SKEW_TOP_K) -> str:
    return f"""
skr AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
),
key_skew_report AS (
  SELECT user_id, n_rows,
         CAST(floor(n_rows * 1000 / (SELECT sum(n_rows) FROM skr))
              AS BIGINT) AS share_per_mille
  FROM skr
  ORDER BY n_rows DESC, user_id
  LIMIT {k}
)
"""


def fast_stats_profile(spark, sf_dir: str) -> DataFrame:
    """Footer-stats table profile: MIN / MAX / COUNT answered from
    parquet row-group metadata via DataSource-V2 aggregate pushdown —
    profiling a 100 TB table costs IO proportional to the file count,
    not the byte size.

    Two confs cooperate, with different lifetimes (measured, Spark
    4.1): ``useV1SourceList=""`` is read at RELATION RESOLUTION time,
    so it is set only around the two ``spark.read`` calls below and
    restored — no other scan in the session is affected;
    ``parquet.aggregatePushdown`` is read by the V2 pushdown RULE at
    optimization time (a set/restore window around construction does
    not survive until planning), so it rides in
    ``ensure_session_defaults`` where it is inert for V1 scans.
    Pushdown limits: numeric COUNT/MIN/MAX push; timestamp_ntz
    aggregates do not (scan falls back to data pages) — the profile
    sticks to numeric columns and the plan test pins a non-empty
    ``PushedAggregation`` on every scan. Bare aggregates only: any
    filter or GROUP BY un-pushes the aggregate.
    """
    from ..sources.loaders import ensure_session_defaults

    ensure_session_defaults(spark)
    v1_key = "spark.sql.sources.useV1SourceList"
    try:
        saved_v1: str | None = spark.conf.get(v1_key)
    except Exception:
        saved_v1 = None
    try:
        spark.conf.set(v1_key, "")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
        )
        pt = spark.read.parquet(f"{sf_dir}/part.parquet").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("p_retailprice").alias("mn"),
            F.max("p_retailprice").alias("mx"),
        )
    finally:
        if saved_v1 is None:
            spark.conf.unset(v1_key)
        else:
            spark.conf.set(v1_key, saved_v1)
    li_row = li.select(
        F.lit("lineitem").alias("table_name"),
        F.lit("l_extendedprice").alias("col"),
        "n_rows",
        F.col("mn").cast("double").alias("min_val"),
        F.col("mx").cast("double").alias("max_val"),
    )
    pt_row = pt.select(
        F.lit("part").alias("table_name"),
        F.lit("p_retailprice").alias("col"),
        "n_rows",
        F.col("mn").cast("double").alias("min_val"),
        F.col("mx").cast("double").alias("max_val"),
    )
    return li_row.unionByName(pt_row)


ORACLE_FAST_STATS_PROFILE = """
fast_stats_profile AS (
  SELECT 'lineitem' AS table_name, 'l_extendedprice' AS col,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(min(l_extendedprice) AS DOUBLE) AS min_val,
         CAST(max(l_extendedprice) AS DOUBLE) AS max_val
  FROM lineitem
  UNION ALL
  SELECT 'part', 'p_retailprice',
         CAST(count(*) AS BIGINT),
         CAST(min(p_retailprice) AS DOUBLE),
         CAST(max(p_retailprice) AS DOUBLE)
  FROM part
)
"""


#: accepted-values domain for the priority expectation.
EXPECTED_PRIORITIES = (
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
)


def orders_expectations(orders: DataFrame) -> DataFrame:
    """Declarative data-quality expectations over ``orders`` (the
    dbt-test / Great-Expectations staple), evaluated in TWO passes
    total regardless of how many expectations are declared:

      - all row-local checks (non-null, range, accepted values) fold
        into ONE conditional-sum aggregation — a map-side pass that
        fuses into any scan at 100 TB;
      - the one non-local check (key uniqueness) is ONE hash-agg on
        the key (count>1 groups), the minimum any engine must pay.

    Output is the long-format report (expectation, n_violations,
    passed) a CI gate consumes. Composes with ``ref_integrity_audit``
    for cross-table FK expectations.
    """
    viol = orders.agg(
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias(
            "key_not_null"
        ),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias(
            "totalprice_positive"
        ),
        F.sum(
            (~F.col("o_orderpriority").isin(*EXPECTED_PRIORITIES)).cast(
                "long"
            )
        ).alias("priority_accepted"),
        F.sum(
            (
                (F.col("o_orderdate") < F.lit("1990-01-01"))
                | (F.col("o_orderdate") >= F.lit("2030-01-01"))
            ).cast("long")
        ).alias("orderdate_in_range"),
    )
    dup_keys = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count("*").cast("long").alias("key_unique"))
    )
    long = viol.crossJoin(dup_keys).unpivot(
        [], 
        [
            "key_not_null",
            "totalprice_positive",
            "priority_accepted",
            "orderdate_in_range",
            "key_unique",
        ],
        "expectation",
        "n_violations",
    )
    return long.select(
        "expectation",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def oracle_orders_expectations() -> str:
    accepted = ", ".join(f"'{p}'" for p in EXPECTED_PRIORITIES)
    return f"""
exp_viol AS (
  SELECT
    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS key_not_null,
    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS totalprice_positive,
    CAST(sum(CASE WHEN o_orderpriority NOT IN ({accepted})
             THEN 1 ELSE 0 END) AS BIGINT) AS priority_accepted,
    CAST(sum(CASE WHEN o_orderdate < '1990-01-01'
                    OR o_orderdate >= '2030-01-01'
             THEN 1 ELSE 0 END) AS BIGINT) AS orderdate_in_range
  FROM orders
),
exp_dups AS (
  SELECT CAST(count(*) AS BIGINT) AS key_unique
  FROM (SELECT o_orderkey FROM orders
        GROUP BY o_orderkey HAVING count(*) > 1)
),
orders_expectations AS (
  SELECT expectation, n_violations, n_violations = 0 AS passed
  FROM (
    SELECT unnest(['key_not_null', 'totalprice_positive',
                   'priority_accepted', 'orderdate_in_range',
                   'key_unique']) AS expectation,
           unnest([v.key_not_null, v.totalprice_positive,
                   v.priority_accepted, v.orderdate_in_range,
                   d.key_unique]) AS n_violations
    FROM exp_viol v CROSS JOIN exp_dups d)
)
"""


# ---------------------------------------------------------------------------
# row-level quarantine (dead-letter split)
# ---------------------------------------------------------------------------

#: (reason tag, SQL predicate) quarantine rules over lineitem — the
#: row-level complement to the aggregate ``orders_expectations``
#: report: expectations gate the batch, quarantine routes the
#: offending ROWS to a dead-letter table with machine-readable
#: reasons while the clean rows flow on.
QUARANTINE_RULES = (
    ("qty_gt_45", "l_quantity > 45"),
    ("disc_gt_8pct", "l_discount > 0.08"),
    ("tax_gt_7pct", "l_tax > 0.07"),
)


def lineitem_quarantine(lineitem: DataFrame) -> DataFrame:
    """Dead-letter rows of ``lineitem``: every row violating at least
    one quarantine rule, tagged with the comma-joined list of ALL
    rules it violates (rule order fixed, so the tag string is
    deterministic). Pure map-only plan — the predicates and the
    reason assembly are row-local codegen, no shuffle, and the
    disjunction pushes to the parquet scan; at 100 TB this fuses into
    whatever scan feeds the clean-path pipeline (write the complement
    with the same predicates negated)."""
    reason_cols = [
        F.when(F.expr(pred), F.lit(tag)) for tag, pred in QUARANTINE_RULES
    ]
    any_violation = None
    for _, pred in QUARANTINE_RULES:
        c = F.expr(pred)
        any_violation = c if any_violation is None else (any_violation | c)
    return (
        lineitem.filter(any_violation)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.concat_ws(",", *reason_cols).alias("reasons"),
        )
    )


def oracle_lineitem_quarantine() -> str:
    cases = ",\n           ".join(
        f"CASE WHEN {pred} THEN '{tag}' END"
        for tag, pred in QUARANTINE_RULES
    )
    disjunction = " OR ".join(pred for _, pred in QUARANTINE_RULES)
    return f"""
lineitem_quarantine AS (
  SELECT l_orderkey, l_linenumber,
         concat_ws(',',
           {cases}) AS reasons
  FROM lineitem
  WHERE {disjunction}
)
"""


# ---------------------------------------------------------------------------
# feature correlation matrix (ML pre-training audit)
# ---------------------------------------------------------------------------

#: pinned feature subset for the correlation audit (8 of the 17
#: candidate features -> 28 pairs in ONE aggregation pass; widen the
#: list and the plan shape is unchanged).
CORR_FEATURES = (
    "user_SumOrders",
    "user_items_purchased_total",
    "user_average_items",
    "days_since",
    "numorders",
    "prod_reorderProportion",
    "userProduct_orders",
    "userProduct_average_cartOrder",
)


def feature_correlations(cand) -> "DataFrame":
    """Pairwise Pearson correlations between candidate features — the
    standard pre-training audit for redundant/leaky features. ALL
    C(k,2) correlations compute in ONE aggregation pass (each corr is
    an algebraic aggregate: one scan, partial-merge-able moments), so
    the fact table is read once no matter how many pairs; the wide
    1-row result unpivots to long (pair, corr) rows driver-free.
    Null pairs are skipped by corr in both engines (the safe_div
    features carry nulls); rounded to 4 — cross-engine moment
    accumulation agrees well past that for unit-scale data.
    """
    pairs = [
        (a, b)
        for i, a in enumerate(CORR_FEATURES)
        for b in CORR_FEATURES[i + 1:]
    ]
    wide = cand.agg(
        *[
            F.round(F.corr(a, b), 4).alias(f"{a}|{b}")
            for a, b in pairs
        ]
    )
    long = wide.unpivot([], [f"{a}|{b}" for a, b in pairs], "pair", "corr")
    return long.select(
        F.split(F.col("pair"), r"\|").getItem(0).alias("f1"),
        F.split(F.col("pair"), r"\|").getItem(1).alias("f2"),
        "corr",
    )


def oracle_feature_correlations() -> str:
    pairs = [
        (a, b)
        for i, a in enumerate(CORR_FEATURES)
        for b in CORR_FEATURES[i + 1:]
    ]
    wide_cols = ",\n         ".join(
        f'round(corr({a}, {b}), 4) AS "{a}|{b}"' for a, b in pairs
    )
    unpivot_cols = ", ".join(f'"{a}|{b}"' for a, b in pairs)
    return f"""
fcorr_wide AS (
  SELECT {wide_cols}
  FROM candidates
),
feature_correlations AS (
  SELECT split_part(pair, '|', 1) AS f1,
         split_part(pair, '|', 2) AS f2,
         corr
  FROM (UNPIVOT fcorr_wide ON {unpivot_cols}
        INTO NAME pair VALUE corr)
)"""


# ---------------------------------------------------------------------------
# Physical-plan lint: pre-flight QA for a plan that is about to run
# against 100 TB — catch the scale-killers BEFORE the cluster does.
# ---------------------------------------------------------------------------

#: (rule, severity, plan-text marker, advice). Markers are stable
#: physical-operator names in Spark's executedPlan rendering.
PLAN_LINT_RULES: tuple[tuple[str, str, str, str], ...] = (
    (
        "cartesian-join",
        "error",
        "CartesianProduct",
        "O(n*m) pair blow-up; add an equi-join key or broadcast+filter",
    ),
    (
        "nested-loop-join",
        "warn",
        "BroadcastNestedLoopJoin",
        "per-row probe of the broadcast side; check for a missing "
        "join condition or an inequality-only predicate",
    ),
    (
        "python-row-udf",
        "warn",
        "BatchEvalPython",
        "row-at-a-time Python; rewrite as built-in expressions or an "
        "Arrow-batched pandas UDF",
    ),
    (
        "single-partition-exchange",
        "warn",
        "Exchange SinglePartition",
        "global sort/window/limit funnels all data through one task; "
        "shard the window key or use TakeOrdered-style top-k",
    ),
)


def _node_depth(line: str) -> int:
    """Tree depth of a plan line = length of its tree-drawing prefix
    (spaces and the ``:  +- | -`` connectors). Spark indents each
    child level by a fixed-width connector, so deeper == child."""
    i = 0
    for ch in line:
        if ch in " :+|-":
            i += 1
        else:
            break
    return i


def _count_global_windows(plan_text: str) -> int:
    """Count WindowExec nodes running on a single partition — the
    ``Window.orderBy(...)`` with no partitionBy pattern (the planner
    funnels all rows into ONE task to satisfy a global frame).

    For each Window/WindowGroupLimit node, walk its SUBTREE (lines
    strictly deeper in the tree rendering, however many Sort /
    Project / Filter / ShuffleQueryStage wrappers intervene — not a
    fixed 3-line peek) down to the FIRST Exchange-bearing line: a
    direct ``Exchange SinglePartition`` or a ``ReusedExchange ...,
    Exchange SinglePartition`` reference both carry the marker text,
    so exchange reuse cannot hide a hit. Post-AQE renderings repeat
    the plan under ``== Initial Plan ==``; only the final section is
    scanned (no double counting).

    Bounded inputs (day-grain, bucket-grain) also match — by design:
    the linter reports, the reviewer decides whether the input is
    bounded by construction; an UNBOUNDED input here (user grain,
    fact grain) is the canonical scale-killer."""
    plan_text = plan_text.split("== Initial Plan ==")[0]
    lines = plan_text.splitlines()
    hits = 0
    for i, line in enumerate(lines):
        if "Window [" in line or "WindowGroupLimit" in line:
            depth = _node_depth(line)
            for below in lines[i + 1 :]:
                if _node_depth(below) <= depth:
                    break  # left this Window's subtree
                if "Exchange" in below:
                    # first exchange feeding the window decides it
                    if "SinglePartition" in below:
                        hits += 1
                    break
    return hits


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _plan_nodes(plan, kind: str, into_cache: bool = False) -> list:
    """The ``kind`` nodes (JVM simple class name) of a DataFrame's
    executed plan (or of a JVM plan node), read through AQE's wrappers
    (the current plan of each). A cached table's scan is a leaf: the
    plan that built the table is only walked with ``into_cache``. Unlike
    the executed plan's text, which also renders every scanned cached
    table's plan (twice once it is materialized: AQE's final and initial
    plans), this sees only the operators the query itself runs."""
    if isinstance(plan, DataFrame):
        plan = plan._jdf.queryExecution().executedPlan()
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        inner = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        inner = [plan.plan()]
    elif name == "InMemoryTableScanExec":
        inner = (
            [plan.relation().cacheBuilder().cachedPlan()] if into_cache
            else []
        )
    else:
        inner = _seq(plan.children())
    return [plan] * (name == kind) + [
        n for k in inner for n in _plan_nodes(k, kind, into_cache)
    ]


def plan_lint(df: DataFrame, plan_name: str = "plan") -> list[dict]:
    """Lint one DataFrame's PHYSICAL plan for scale anti-patterns.

    Returns plain dicts (rule, severity, detail) — driver-side
    metadata, deliberately not a DataFrame: the input is a plan, not
    data, and linting must never launch a job. The inspected string is
    the executed plan (post-AQE-prepare, the operators that will
    actually run), so optimizer rescues (e.g. a filter that turns a
    cross join back into an equi-join) are correctly NOT flagged.
    """
    plan = df._jdf.queryExecution().executedPlan()
    text = plan.toString()
    findings = []
    for rule, severity, marker, advice in PLAN_LINT_RULES:
        n = text.count(marker)
        if n:
            findings.append(
                {
                    "plan": plan_name,
                    "rule": rule,
                    "severity": severity,
                    "n_hits": n,
                    "advice": advice,
                }
            )
    n_gw = _count_global_windows(text)
    if n_gw:
        findings.append(
            {
                "plan": plan_name,
                "rule": "global-window",
                "severity": "warn",
                "n_hits": n_gw,
                "advice": "WindowExec with no partition key sorts the"
                " whole input in ONE task; unless the input is bounded"
                " by construction (day/bucket/#partition grain), use"
                " ranking.global_ranked (range exchange + local"
                " row_number + broadcast prefix offsets)",
            }
        )
    # informational: shuffle count (not a defect, but the first number
    # asked of a plan; ReusedExchange is free and excluded). Counted on
    # the plan tree, not the text: the text also renders the plans that
    # built the cached tables the query scans.
    n_shuffles = sum(
        x.outputPartitioning().getClass().getSimpleName()
        in ("HashPartitioning", "RangePartitioning")
        for x in _plan_nodes(plan, "ShuffleExchangeExec")
    )
    findings.append(
        {
            "plan": plan_name,
            "rule": "shuffle-count",
            "severity": "info",
            "n_hits": n_shuffles,
            "advice": "exchanges in the executed plan (reuse excluded)",
        }
    )
    return findings


def lint_report(spark, plans: dict[str, DataFrame]) -> DataFrame:
    """Lint a batch of named plans into one findings DataFrame —
    the pre-flight gate a pipeline runs over its whole DAG before
    submitting to the cluster.

    The per-plan ``executedPlan()`` calls are independent driver-side
    planning work (Catalyst is thread-safe), so they run from a small
    thread pool (guide §2.6 — overlap independent work); findings keep
    the caller's dict order, so the report rows are unchanged."""
    from concurrent.futures import ThreadPoolExecutor

    names = list(plans)
    with ThreadPoolExecutor(max_workers=min(8, max(1, len(names)))) as pool:
        per_plan = list(
            pool.map(lambda n: plan_lint(plans[n], n), names)
        )
    rows = []
    for findings in per_plan:
        rows.extend(findings)
    return local_rows(
        spark,
        [
            (r["plan"], r["rule"], r["severity"], r["n_hits"], r["advice"])
            for r in rows
        ],
        "plan string, rule string, severity string, n_hits int,"
        " advice string",
    )


#: shuffle-count jumps strictly above this are named (not failed) in
#: the round-over-round planboard diff.
SHUFFLE_JUMP_FLAG = 2


def planboard_diff(old_plans: dict, new_plans: dict) -> dict:
    """Round-over-round plan-shape ratchet (r5 verdict #2): per-query
    deltas between two planboard ``plans`` maps. ``gate`` is FAIL iff
    any shared query's global_windows count INCREASED or a query
    newly errors — the two regressions the full-board sweep exists to
    prevent; shuffle jumps > SHUFFLE_JUMP_FLAG are named for review
    but do not fail (a deliberate rank-kernel or bucketing conversion
    legitimately adds an exchange). Decreases and brand-new queries'
    own counts are the sweep test's jurisdiction, not the ratchet's.

    Driver-side pure function on two dicts — kept in the package (not
    the script) so the gate itself is unit-testable."""
    added = sorted(set(new_plans) - set(old_plans))
    removed = sorted(set(old_plans) - set(new_plans))
    gw_up, shuffle_jumps, err_changes, notes = {}, {}, {}, {}
    for name in sorted(set(old_plans) & set(new_plans)):
        o, n = old_plans[name], new_plans[name]
        if "err" in o or "err" in n:
            if o.get("err") != n.get("err"):
                err_changes[name] = [o.get("err"), n.get("err")]
            continue
        og = o.get("global_windows", 0)
        ng = n.get("global_windows", 0)
        if ng > og:
            gw_up[name] = [og, ng]
        elif ng != og:
            notes.setdefault("global_windows_down", {})[name] = [og, ng]
        osh, nsh = o.get("shuffles", 0), n.get("shuffles", 0)
        if nsh - osh > SHUFFLE_JUMP_FLAG:
            shuffle_jumps[name] = [osh, nsh]
    new_errs = {
        k: v for k, v in err_changes.items() if v[1] is not None
    }
    return {
        "added": added,
        "removed": removed,
        "global_window_increases": gw_up,
        "shuffle_jumps_flagged": shuffle_jumps,
        "err_changes": err_changes,
        "notes": notes,
        "gate": "FAIL" if (gw_up or new_errs) else "PASS",
    }


# ---------------------------------------------------------------------------
# functional-dependency discovery
# ---------------------------------------------------------------------------

#: candidate FDs to test: (table, lhs column, rhs column). A real
#: profiler enumerates the lattice (Metanome/TANE); the engine's unit
#: of work is the per-candidate verification below, which is what the
#: lattice search calls in its inner loop.
FD_CANDIDATES = (
    ("part", "p_name", "p_brand"),
    ("part", "p_brand", "p_type"),
    ("part", "p_name", "p_type"),
    ("part", "p_type", "p_size"),
    ("customer", "c_name", "c_nationkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
)


def fd_discovery(tables: dict[str, DataFrame]) -> DataFrame:
    """Functional-dependency verification (the TANE/Metanome inner
    loop): for each candidate A -> B, one pass computes |distinct A|,
    |distinct (A,B)|, the number of violating A-groups (those mapping
    to >1 B), and the worst group's B-cardinality. A -> B holds iff
    the pair count equals the LHS count. Schema-inference and
    denormalization audits at 100 TB are exactly this query fanned
    over the candidate lattice; each candidate is one hash-agg on the
    (A, B) distinct grain — uniform keys, map-side combined, no
    skew (the agg key includes A, so a hot A value still spreads
    across its B values first).

    Output per candidate: tbl, lhs, rhs, n_lhs, n_pairs,
    n_violating_lhs, max_rhs_per_lhs, holds.
    """
    out = None
    for tbl, lhs, rhs in FD_CANDIDATES:
        per = (
            tables[tbl]
            .select(F.col(lhs).alias("a"), F.col(rhs).alias("b"))
            .distinct()
            .groupBy("a")
            .agg(F.count("*").alias("nb"))
        )
        row = per.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            F.count("*").alias("n_lhs"),
            F.sum("nb").alias("n_pairs"),
            F.sum((F.col("nb") > 1).cast("bigint")).alias(
                "n_violating_lhs"
            ),
            F.max("nb").alias("max_rhs_per_lhs"),
            (F.count("*") == F.sum("nb")).cast("int").alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def oracle_fd_discovery() -> str:
    selects = []
    for tbl, lhs, rhs in FD_CANDIDATES:
        selects.append(
            f"""SELECT '{tbl}' AS tbl, '{lhs}' AS lhs, '{rhs}' AS rhs,
         CAST(count(*) AS BIGINT) AS n_lhs,
         CAST(sum(nb) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating_lhs,
         CAST(max(nb) AS BIGINT) AS max_rhs_per_lhs,
         CAST(count(*) = sum(nb) AS INT) AS holds
  FROM (
    SELECT a, CAST(count(*) AS BIGINT) AS nb FROM (
      SELECT DISTINCT {lhs} AS a, {rhs} AS b FROM {tbl}
    ) GROUP BY 1
  )"""
        )
    union = "\n  UNION ALL\n  ".join(selects)
    return f"fd_discovery AS (\n  {union}\n)"


# ---------------------------------------------------------------------------
# join cardinality estimation from count-min sketches
# ---------------------------------------------------------------------------

JCE_WIDTH = 256
JCE_DEPTH = 3


def join_cardinality_estimate(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Planner-style join-size estimation WITHOUT touching the join:
    |A JOIN B on k| = sum_k fA(k)*fB(k), estimated as the CMS inner
    product — per depth row d, sum_w A_d[w]*B_d[w]; the estimate is
    min over depths (Cormode & Muthukrishnan's dot-product bound:
    always an overestimate, tight as width grows). Each side reduces
    to a depth x width count table in one hash-agg; the inner product
    is a (d, w) equi-join of two tiny tables. This is the shape a
    CBO uses to order 100 TB joins when scanning either side twice is
    unaffordable — sketches are built during ingest and the product
    costs nothing.

    Exact truth (one real join on the fixture) and the relative error
    ride along, so the hash gate pins estimator + audit. Output:
    est_rows (min over depths), exact_rows, rel_error, width, depth.
    """

    def sketch(df: DataFrame, key: str) -> DataFrame:
        # ONE scan with an exploded depth column instead of one
        # scan+agg per depth (r10, guide §2.3): the per-depth hash
        # string concat(key, '#', d) is byte-identical to the old
        # literal f"#{d}", map-side partial aggregation collapses the
        # exploded rows to the (d, w) sketch grain before the single
        # shuffle, and the union of JCE_DEPTH scan branches is gone.
        h = F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col(key).cast("string"),
                            F.lit("#"),
                            F.col("d").cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(JCE_WIDTH),
        )
        from ._staging import spread as _spread

        return (
            _spread(df.select(F.col(key)))
            .select(
                F.col(key),
                F.explode(
                    F.expr(f"sequence(0, {JCE_DEPTH - 1})")
                ).alias("d"),
            )
            .select("d", h.alias("w"))
            .groupBy("d", "w")
            .agg(F.count("*").alias("c"))
        )

    sa = sketch(orders, "o_orderkey")
    sb = sketch(lineitem, "l_orderkey")
    est = (
        sa.join(
            sb.select("d", "w", F.col("c").alias("c2")), ["d", "w"]
        )
        .groupBy("d")
        .agg(F.sum(F.col("c") * F.col("c2")).alias("ip"))
        .agg(F.min("ip").alias("est_rows"))
    )
    exact = orders.select("o_orderkey").join(
        lineitem.select(F.col("l_orderkey").alias("o_orderkey")),
        "o_orderkey",
    ).agg(F.count("*").alias("exact_rows"))
    return est.crossJoin(F.broadcast(exact)).select(
        "est_rows",
        "exact_rows",
        F.round(
            (F.col("est_rows") - F.col("exact_rows"))
            / F.col("exact_rows"),
            4,
        ).alias("rel_error"),
        F.lit(JCE_WIDTH).alias("width"),
        F.lit(JCE_DEPTH).alias("depth"),
    )


def oracle_join_cardinality() -> str:
    def sk(tbl: str, key: str) -> str:
        sels = "\n    UNION ALL\n    ".join(
            f"""SELECT {d} AS d,
           CAST(('0x' || substr(md5(CAST({key} AS VARCHAR) || '#{d}'),
                 1, 13)) AS BIGINT) % {JCE_WIDTH} AS w
    FROM {tbl}"""
            for d in range(JCE_DEPTH)
        )
        return f"SELECT d, w, CAST(count(*) AS BIGINT) AS c FROM (\n    {sels}\n  ) GROUP BY 1, 2"

    return f"""
jce_a AS ({sk("orders", "o_orderkey")}),
jce_b AS ({sk("lineitem", "l_orderkey")}),
jce_est AS (
  SELECT CAST(min(ip) AS BIGINT) AS est_rows FROM (
    SELECT a.d, sum(a.c * b.c) AS ip
    FROM jce_a a JOIN jce_b b ON a.d = b.d AND a.w = b.w
    GROUP BY 1
  )
),
jce_exact AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_rows
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
join_cardinality_estimate AS (
  SELECT e.est_rows, x.exact_rows,
         round(CAST(e.est_rows - x.exact_rows AS DOUBLE) / x.exact_rows, 4)
           AS rel_error,
         {JCE_WIDTH} AS width, {JCE_DEPTH} AS depth
  FROM jce_est e, jce_exact x
)
"""


# ---------------------------------------------------------------------------
# unary inclusion-dependency discovery
# ---------------------------------------------------------------------------

#: candidate unary INDs (dep_tbl.dep_col ⊆ ref_tbl.ref_col) — the
#: foreign-key lattice of the star schema plus the REVERSE directions,
#: whose truth is a data property (does every part/order actually get
#: referenced?) rather than a schema one. Fixed list, like
#: FD_CANDIDATES: discovery systems (Metanome/Sindy) prune the n^2
#: column lattice first; verification per surviving candidate is this
#: exact query.
IND_CANDIDATES: tuple[tuple[str, str, str, str], ...] = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
)


def ind_discovery(tables: dict[str, DataFrame]) -> DataFrame:
    """Unary inclusion-dependency verification (the SPIDER/Sindy
    check): for each candidate A ⊆ B, collapse both sides to their
    distinct value sets, left-join, and count unmatched A values —
    the IND holds iff n_missing = 0. The schema-discovery audit that
    finds joinable columns (and broken foreign keys) before anyone
    writes a join; at 100 TB each side is one distinct-collapse
    (map-side combined) and the probe shuffles only DISTINCT values,
    never raw rows.

    Output per candidate: dep, ref, n_distinct, n_missing, holds.
    """
    out = None
    for dt, dc, rt, rc in IND_CANDIDATES:
        da = tables[dt].select(F.col(dc).alias("v")).distinct()
        rb = (
            tables[rt]
            .select(F.col(rc).alias("v"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        row = (
            da.join(rb, "v", "left")
            .agg(
                F.lit(f"{dt}.{dc}").alias("dep"),
                F.lit(f"{rt}.{rc}").alias("ref"),
                F.count("*").alias("n_distinct"),
                F.sum(F.col("hit").isNull().cast("bigint")).alias(
                    "n_missing"
                ),
                (F.sum(F.col("hit").isNull().cast("bigint")) == 0)
                .cast("int")
                .alias("holds"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def oracle_ind_discovery() -> str:
    selects = []
    for dt, dc, rt, rc in IND_CANDIDATES:
        selects.append(
            f"""SELECT '{dt}.{dc}' AS dep, '{rt}.{rc}' AS ref,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(count(*) FILTER (WHERE rv IS NULL) AS BIGINT) AS n_missing,
         CAST(count(*) FILTER (WHERE rv IS NULL) = 0 AS INT) AS holds
  FROM (
    SELECT b.v AS rv
    FROM (SELECT DISTINCT {dc} AS v FROM {dt}) a
    LEFT JOIN (SELECT DISTINCT {rc} AS v FROM {rt}) b ON a.v = b.v
  )"""
        )
    union = "\n  UNION ALL\n  ".join(selects)
    return f"ind_discovery AS (\n  {union}\n)"


# ---------------------------------------------------------------------------
# dictionary-encoding advisor
# ---------------------------------------------------------------------------

#: columns audited for dictionary encodability (table, column) — the
#: categorical-ish string columns of the star schema + event stream.
DICT_CANDIDATES: tuple[tuple[str, str], ...] = (
    ("part", "p_brand"),
    ("part", "p_type"),
    ("part", "p_name"),
    ("orders", "o_orderpriority"),
    ("lineitem", "l_returnflag"),
    ("lineitem", "l_linestatus"),
    ("customer", "c_mktsegment"),
    ("nation", "n_name"),
    ("events", "event_type"),
)


def dict_encoding_advisor(tables: dict[str, DataFrame]) -> DataFrame:
    """Dictionary-encoding benefit estimate per candidate column — the
    storage-layout sibling of the RLE sort-order advisor: plain size
    is the exact sum of value byte lengths; dictionary size is the
    distinct values' bytes plus n_rows index entries of
    ceil(log2(n_distinct)) bits. Everything is INTEGER arithmetic —
    index bits come from length(bin(n_distinct - 1)), never a float
    log — so the recommendation flag is an exact BIGINT comparison.
    Two hash-aggs per column (value grain, then 1 row); at 100 TB
    this is the scan-time stats pass a layout optimizer runs before
    rewriting a table.

    Output per column: tbl_col, n_rows, n_distinct, plain_bytes,
    idx_bits, dict_bytes_est, recommend.
    """
    out = None
    for tbl, col in DICT_CANDIDATES:
        vals = (
            tables[tbl]
            .select(F.col(col).cast("string").alias("v"))
            .groupBy("v")
            .agg(F.count("*").alias("c"))
        )
        row = (
            vals.agg(
                F.lit(f"{tbl}.{col}").alias("tbl_col"),
                F.sum("c").alias("n_rows"),
                F.count("*").alias("n_distinct"),
                F.sum(F.length("v") * F.col("c")).alias("plain_bytes"),
                F.sum(F.length("v")).alias("distinct_bytes"),
            )
            .withColumn(
                "idx_bits",
                F.when(
                    F.col("n_distinct") > 1,
                    F.length(F.expr("bin(n_distinct - 1)")),
                )
                .otherwise(F.lit(1))
                .cast("bigint"),
            )
            .withColumn(
                "dict_bytes_est",
                F.col("distinct_bytes")
                + F.expr("(n_rows * idx_bits + 7) div 8"),
            )
            .select(
                "tbl_col",
                "n_rows",
                "n_distinct",
                "plain_bytes",
                "idx_bits",
                "dict_bytes_est",
                (F.col("dict_bytes_est") < F.col("plain_bytes"))
                .cast("int")
                .alias("recommend"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def oracle_dict_advisor() -> str:
    selects = []
    for tbl, col in DICT_CANDIDATES:
        selects.append(
            f"""SELECT '{tbl}.{col}' AS tbl_col, n_rows, n_distinct,
         plain_bytes, idx_bits,
         distinct_bytes + (n_rows * idx_bits + 7) // 8 AS dict_bytes_est,
         CAST(distinct_bytes + (n_rows * idx_bits + 7) // 8 < plain_bytes
              AS INT) AS recommend
  FROM (
    SELECT CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(length(v) * c) AS BIGINT) AS plain_bytes,
           CAST(sum(length(v)) AS BIGINT) AS distinct_bytes,
           CAST(CASE WHEN count(*) > 1
                     THEN length(bin(count(*) - 1)) ELSE 1 END AS BIGINT)
             AS idx_bits
    FROM (
      SELECT CAST({col} AS VARCHAR) AS v, CAST(count(*) AS BIGINT) AS c
      FROM {tbl} GROUP BY 1
    )
  )"""
        )
    union = "\n  UNION ALL\n  ".join(selects)
    return f"dict_encoding_advisor AS (\n  {union}\n)"


# ---------------------------------------------------------------------------
# declarative data-quality constraint suite (Deequ-style)
# ---------------------------------------------------------------------------

#: accepted order-status codes for the accepted-values constraint.
DQ_STATUS_VALUES = ("O", "F", "P")


def dq_constraint_report(
    lineitem: DataFrame, orders: DataFrame
) -> DataFrame:
    """Declarative data-quality verification suite (the Deequ /
    Great-Expectations shape): a fixed set of constraints evaluates
    to one row each — (constraint, observed, passed) — so a pipeline
    gates on ``min(passed)`` and a human reads WHICH check broke.

    Checks: completeness(l_shipdate), non_negative(l_quantity),
    range(l_discount ∈ [0, 0.1]), uniqueness(o_orderkey),
    accepted_values(o_orderstatus), referential(l_orderkey ⊆
    o_orderkey), row_count(lineitem ≥ 1).

    Cost model: ALL lineitem constraints fuse into ONE conditional
    hash-agg pass and all orders constraints into another (Deequ's
    scan-sharing, expressed as multi-agg); the referential check is
    one left-anti join that shuffles only DISTINCT keys. Observed
    metrics are exact integer counts cast to double at the edge.

    Output: (constraint, observed, passed) — 7 rows at any scale.
    """
    li = lineitem.agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_shipdate").isNull().cast("int")).alias(
            "null_ship"
        ),
        F.sum((F.col("l_quantity") < 0).cast("int")).alias("neg_qty"),
        F.sum(
            (
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
            ).cast("int")
        ).alias("disc_oob"),
    )
    od = orders.agg(
        F.count("*").alias("n"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.sum(
            (~F.col("o_orderstatus").isin(*DQ_STATUS_VALUES)).cast(
                "int"
            )
        ).alias("bad_status"),
    )
    orphans = (
        lineitem.select("l_orderkey")
        .distinct()
        .join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "leftanti",
        )
        .agg(F.count("*").alias("n_orphan"))
    )

    def row(name, observed, passed):
        return F.struct(
            F.lit(name).alias("constraint"),
            F.round(observed.cast("double"), 6).alias("observed"),
            passed.cast("int").alias("passed"),
        )

    li_rows = li.select(
        F.explode(
            F.array(
                row(
                    "completeness(l_shipdate)",
                    1 - F.col("null_ship") / F.col("n"),
                    F.col("null_ship") == 0,
                ),
                row(
                    "non_negative(l_quantity)",
                    F.col("neg_qty"),
                    F.col("neg_qty") == 0,
                ),
                row(
                    "range(l_discount,0,0.1)",
                    F.col("disc_oob"),
                    F.col("disc_oob") == 0,
                ),
                row("row_count(lineitem)", F.col("n"), F.col("n") >= 1),
            )
        ).alias("r")
    )
    od_rows = od.select(
        F.explode(
            F.array(
                row(
                    "uniqueness(o_orderkey)",
                    F.col("n_keys") / F.col("n"),
                    F.col("n_keys") == F.col("n"),
                ),
                row(
                    "accepted_values(o_orderstatus)",
                    F.col("bad_status"),
                    F.col("bad_status") == 0,
                ),
            )
        ).alias("r")
    )
    ref_rows = orphans.select(
        F.explode(
            F.array(
                row(
                    "referential(l_orderkey->o_orderkey)",
                    F.col("n_orphan"),
                    F.col("n_orphan") == 0,
                )
            )
        ).alias("r")
    )
    return (
        li_rows.unionByName(od_rows)
        .unionByName(ref_rows)
        .select("r.constraint", "r.observed", "r.passed")
    )


ORACLE_DQ = """
dq_li AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_ship,
         CAST(sum(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS neg_qty,
         CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                       THEN 1 ELSE 0 END) AS BIGINT) AS disc_oob
  FROM lineitem
),
dq_od AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
  FROM orders
),
dq_ref AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orphan
  FROM (SELECT DISTINCT l_orderkey FROM lineitem) l
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_orderkey = l.l_orderkey)
),
dq_constraint_report AS (
  SELECT 'completeness(l_shipdate)' AS constraint,
         round(CAST(1 AS DOUBLE) - null_ship / CAST(n AS DOUBLE), 6)
           AS observed,
         CAST(CASE WHEN null_ship = 0 THEN 1 ELSE 0 END AS INT)
           AS passed
  FROM dq_li
  UNION ALL
  SELECT 'non_negative(l_quantity)',
         round(CAST(neg_qty AS DOUBLE), 6),
         CAST(CASE WHEN neg_qty = 0 THEN 1 ELSE 0 END AS INT)
  FROM dq_li
  UNION ALL
  SELECT 'range(l_discount,0,0.1)',
         round(CAST(disc_oob AS DOUBLE), 6),
         CAST(CASE WHEN disc_oob = 0 THEN 1 ELSE 0 END AS INT)
  FROM dq_li
  UNION ALL
  SELECT 'row_count(lineitem)',
         round(CAST(n AS DOUBLE), 6),
         CAST(CASE WHEN n >= 1 THEN 1 ELSE 0 END AS INT)
  FROM dq_li
  UNION ALL
  SELECT 'uniqueness(o_orderkey)',
         round(n_keys / CAST(n AS DOUBLE), 6),
         CAST(CASE WHEN n_keys = n THEN 1 ELSE 0 END AS INT)
  FROM dq_od
  UNION ALL
  SELECT 'accepted_values(o_orderstatus)',
         round(CAST(bad_status AS DOUBLE), 6),
         CAST(CASE WHEN bad_status = 0 THEN 1 ELSE 0 END AS INT)
  FROM dq_od
  UNION ALL
  SELECT 'referential(l_orderkey->o_orderkey)',
         round(CAST(n_orphan AS DOUBLE), 6),
         CAST(CASE WHEN n_orphan = 0 THEN 1 ELSE 0 END AS INT)
  FROM dq_ref
)
"""


# ---------------------------------------------------------------------------
# delta-encoding advisor (sorted integer key columns)
# ---------------------------------------------------------------------------

#: integer key columns whose storage order is (or would be) the key
#: itself — the precondition for delta/delta-of-delta encoding.
DELTA_CANDIDATES: tuple[tuple[str, str], ...] = (
    ("orders", "o_orderkey"),
    ("lineitem", "l_orderkey"),
    ("events", "event_id"),
    ("customer", "c_custkey"),
)

#: bucket width for the distinct-key prefix machinery.
DELTA_BUCKET = 1_000_000


def delta_encoding_advisor(
    tables: dict[str, DataFrame]
) -> DataFrame:
    """Delta-encoding benefit estimate per sorted integer key column —
    the third leg of the layout-advisor family (RLE sort advisor,
    dictionary advisor): in key order, each value stores only its gap
    from the predecessor, so the bit width is ceil(log2(max_gap + 1))
    instead of 64. Duplicate rows are gap-0 and free.

    The max gap over the DISTINCT-key grain is computed WITHOUT a
    global sort: within-bucket gaps via a lag window partitioned by
    key DIV {B}, cross-bucket gaps via min/max per bucket and a lag
    over the bounded bucket grain; the true max is the max of both.
    Bits come from length(bin(max_gap)) — integer, never a float log
    — so the recommendation is an exact BIGINT comparison.

    Output per column: tbl_col, n_rows, n_distinct, max_gap,
    delta_bits, delta_bytes_est, plain_bytes, recommend.
    """
    out = None
    for tbl, col in DELTA_CANDIDATES:
        vals = (
            tables[tbl]
            .select(F.col(col).cast("bigint").alias("v"))
            .groupBy("v")
            .agg(F.count("*").alias("c"))
            .withColumn("bucket", F.expr(f"v DIV {DELTA_BUCKET}"))
        )
        win = Window.partitionBy("bucket").orderBy("v")
        within = vals.select(
            "v",
            "c",
            "bucket",
            (F.col("v") - F.lag("v").over(win)).alias("gap"),
        )
        bgrain = within.groupBy("bucket").agg(
            F.min("v").alias("bmin"),
            F.max("v").alias("bmax"),
            F.max("gap").alias("wmax"),
            F.sum("c").alias("bc"),
            F.count("*").alias("bd"),
        )
        wb = Window.orderBy("bucket")
        cross = bgrain.select(
            "wmax",
            "bc",
            "bd",
            (F.col("bmin") - F.lag("bmax").over(wb)).alias("xgap"),
        )
        row = (
            cross.agg(
                F.lit(f"{tbl}.{col}").alias("tbl_col"),
                F.sum("bc").alias("n_rows"),
                F.sum("bd").alias("n_distinct"),
                F.greatest(
                    F.coalesce(F.max("wmax"), F.lit(0)),
                    F.coalesce(F.max("xgap"), F.lit(0)),
                ).alias("max_gap"),
            )
            .withColumn(
                "delta_bits",
                F.when(
                    F.col("max_gap") > 0,
                    F.length(F.expr("bin(max_gap)")),
                )
                .otherwise(F.lit(1))
                .cast("bigint"),
            )
            .withColumn(
                "delta_bytes_est",
                F.lit(8)
                + F.expr("((n_rows - 1) * delta_bits + 7) div 8"),
            )
            .withColumn("plain_bytes", F.col("n_rows") * 8)
            .select(
                "tbl_col",
                "n_rows",
                "n_distinct",
                "max_gap",
                "delta_bits",
                "delta_bytes_est",
                "plain_bytes",
                (F.col("delta_bytes_est") < F.col("plain_bytes"))
                .cast("int")
                .alias("recommend"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


delta_encoding_advisor.__doc__ = delta_encoding_advisor.__doc__.format(
    B=DELTA_BUCKET
)


def oracle_delta_advisor() -> str:
    """Textbook single-order lag per column — semantically identical
    to the bucketed two-level max."""
    parts = []
    for tbl, col in DELTA_CANDIDATES:
        parts.append(
            f"""
  SELECT '{tbl}.{col}' AS tbl_col, n_rows, n_distinct, max_gap,
         CAST(CASE WHEN max_gap > 0
                   THEN length(bin(max_gap))
                   ELSE 1 END AS BIGINT) AS delta_bits,
         CAST(8 + ((n_rows - 1)
              * (CASE WHEN max_gap > 0
                      THEN length(bin(max_gap)) ELSE 1 END) + 7) // 8
              AS BIGINT) AS delta_bytes_est,
         CAST(n_rows * 8 AS BIGINT) AS plain_bytes,
         CAST(CASE WHEN 8 + ((n_rows - 1)
                   * (CASE WHEN max_gap > 0
                          THEN length(bin(max_gap)) ELSE 1 END) + 7)
                   // 8 < n_rows * 8
                   THEN 1 ELSE 0 END AS INT) AS recommend
  FROM (
    SELECT CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap
    FROM (
      SELECT c, v - lag(v) OVER (ORDER BY v) AS gap
      FROM (SELECT CAST({col} AS BIGINT) AS v,
                   CAST(count(*) AS BIGINT) AS c
            FROM {tbl} GROUP BY 1)
    )
  )"""
        )
        parts.append("  UNION ALL")
    body = "\n".join(parts[:-1])
    return f"delta_encoding_advisor AS (\n{body}\n)"


# ---------------------------------------------------------------------------
# cost-based join-order advisor (round 7)
# ---------------------------------------------------------------------------


def join_order_advisor(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """System-R-style join-order enumeration over the
    customer - orders - lineitem chain: for each of the 6 left-deep
    permutations, estimate both intermediate cardinalities with the
    textbook independence model |A JOIN B on k| = |A|*|B| /
    max(ndv_A(k), ndv_B(k)) (post-join ndv preserved as
    min(parent ndv, est rows); a pair with NO connecting predicate
    costs the full Cartesian — which is exactly why the advisor
    exists: the two permutations that lead with customer x lineitem
    must rank last), cost = sum of intermediate sizes, and rank the
    orders. This is the CBO decision the engine's sketches
    (``join_cardinality_estimate``) feed at 100 TB — here with exact
    ndv stats so the ranking itself is deterministic and
    oracle-checkable.

    One stats pass per table (count + exact ndv of its join keys);
    the 6-permutation frame is literal. Output per permutation:
    perm, est_rows_1, est_rows_2, est_cost, rank.
    """
    st = (
        customer.agg(
            F.count("*").alias("nc"),
            F.countDistinct("c_custkey").alias("dc_ck"),
        )
        .crossJoin(
            orders.agg(
                F.count("*").alias("no"),
                F.countDistinct("o_custkey").alias("do_ck"),
                F.countDistinct("o_orderkey").alias("do_ok"),
            )
        )
        .crossJoin(
            lineitem.agg(
                F.count("*").alias("nl"),
                F.countDistinct("l_orderkey").alias("dl_ok"),
            )
        )
    )
    perms = st.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.lit(p)
                    for p in (
                        "C*O*L",
                        "O*C*L",
                        "O*L*C",
                        "L*O*C",
                        "C*L*O",
                        "L*C*O",
                    )
                ]
            )
        ).alias("perm"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r1_co = d("nc") * d("no") / F.greatest(d("dc_ck"), d("do_ck"))
    r1_ol = d("no") * d("nl") / F.greatest(d("do_ok"), d("dl_ok"))
    r1_cl = d("nc") * d("nl")
    ndv_ok_after_co = F.least(d("do_ok"), r1_co)
    ndv_ck_after_ol = F.least(d("do_ck"), r1_ol)
    r2 = (
        F.when(
            F.col("perm").isin("C*O*L", "O*C*L"),
            r1_co * d("nl") / F.greatest(ndv_ok_after_co, d("dl_ok")),
        )
        .when(
            F.col("perm").isin("O*L*C", "L*O*C"),
            r1_ol * d("nc") / F.greatest(ndv_ck_after_ol, d("dc_ck")),
        )
        .otherwise(
            r1_cl
            * d("no")
            / (
                F.greatest(d("dc_ck"), d("do_ck"))
                * F.greatest(d("dl_ok"), d("do_ok"))
            )
        )
    )
    r1 = (
        F.when(F.col("perm").isin("C*O*L", "O*C*L"), r1_co)
        .when(F.col("perm").isin("O*L*C", "L*O*C"), r1_ol)
        .otherwise(r1_cl)
    )
    scored = perms.select(
        "perm",
        F.round(r1, 2).alias("est_rows_1"),
        F.round(r2, 2).alias("est_rows_2"),
        F.round(r1 + r2, 2).alias("est_cost"),
    )
    # rank via a self-join dominance count over the 6-row literal frame
    # (r7 ADVICE: no Window.orderBy without partitionBy anywhere on the
    # surface — a broadcast NLJ over 6x6 rows replaces the
    # single-partition exchange a global window would force).
    other = scored.select(
        F.col("perm").alias("o_perm"), F.col("est_cost").alias("o_cost")
    )
    dominated = (F.col("o_cost") < F.col("est_cost")) | (
        (F.col("o_cost") == F.col("est_cost"))
        & (F.col("o_perm") < F.col("perm"))
    )
    return (
        scored.join(F.broadcast(other), dominated, "left")
        .groupBy("perm", "est_rows_1", "est_rows_2", "est_cost")
        .agg((F.count("o_perm") + F.lit(1)).cast("int").alias("rank"))
    )


ORACLE_JOIN_ORDER = """
jo_st AS (
  SELECT c.nc, c.dc_ck, o.no, o.do_ck, o.do_ok, l.nl, l.dl_ok
  FROM (SELECT CAST(count(*) AS BIGINT) AS nc,
               CAST(count(DISTINCT c_custkey) AS BIGINT) AS dc_ck
        FROM customer) c,
       (SELECT CAST(count(*) AS BIGINT) AS no,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS do_ck,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS do_ok
        FROM orders) o,
       (SELECT CAST(count(*) AS BIGINT) AS nl,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS dl_ok
        FROM lineitem) l
),
jo_r AS (
  SELECT p.perm,
         CASE WHEN p.perm IN ('C*O*L', 'O*C*L')
              THEN CAST(nc AS DOUBLE) * no
                   / greatest(dc_ck, do_ck)
              WHEN p.perm IN ('O*L*C', 'L*O*C')
              THEN CAST(no AS DOUBLE) * nl
                   / greatest(do_ok, dl_ok)
              ELSE CAST(nc AS DOUBLE) * nl END AS r1,
         CASE WHEN p.perm IN ('C*O*L', 'O*C*L')
              THEN (CAST(nc AS DOUBLE) * no / greatest(dc_ck, do_ck))
                   * nl
                   / greatest(least(CAST(do_ok AS DOUBLE),
                       CAST(nc AS DOUBLE) * no
                       / greatest(dc_ck, do_ck)),
                     CAST(dl_ok AS DOUBLE))
              WHEN p.perm IN ('O*L*C', 'L*O*C')
              THEN (CAST(no AS DOUBLE) * nl / greatest(do_ok, dl_ok))
                   * nc
                   / greatest(least(CAST(do_ck AS DOUBLE),
                       CAST(no AS DOUBLE) * nl
                       / greatest(do_ok, dl_ok)),
                     CAST(dc_ck AS DOUBLE))
              ELSE CAST(nc AS DOUBLE) * nl * no
                   / (greatest(dc_ck, do_ck)
                      * greatest(dl_ok, do_ok)) END AS r2
  FROM jo_st,
       (SELECT unnest(['C*O*L', 'O*C*L', 'O*L*C',
                       'L*O*C', 'C*L*O', 'L*C*O']) AS perm) p
),
join_order_advisor AS (
  SELECT perm, round(r1, 2) AS est_rows_1, round(r2, 2) AS est_rows_2,
         round(r1 + r2, 2) AS est_cost,
         CAST(row_number() OVER (ORDER BY round(r1 + r2, 2), perm)
              AS INT) AS rank
  FROM jo_r
)
"""


# ---------------------------------------------------------------------------
# sample-based approximate aggregation with error bound (round 7)
# ---------------------------------------------------------------------------

AQP_FRAC = 0.1
AQP_SEED = 13


def aqp_revenue(events: DataFrame) -> DataFrame:
    """Approximate-query-processing SUM: estimate total purchase
    revenue from the deterministic 10% md5-Bernoulli row sample with
    a CLT error bound, next to the exact answer — the AQP engine
    feature (sample once at ingest, answer aggregates 10x cheaper
    with a quantified bound), made verifiable: the oracle replays
    sample, estimator, bound AND truth, so the hash gate pins the
    whole audit.

    Horvitz-Thompson under Bernoulli(f): T_hat = S_sample/f with
    Var(T_hat) = (1-f)/f^2 * sum v_i^2 estimated from the sample;
    the 99% halfwidth is 2.576*sqrt(Var_hat). Sample membership is
    the engine-independent md5 draw (plan-shape independent), sums
    are exact BIGINT cents; the estimate/bound/flag are one mirrored
    double chain.

    Output (1 row): n_rows, n_sample, exact_cents, est_cents,
    rel_error, ci99_halfwidth_cents, within_ci.
    """
    thr = format(int(AQP_FRAC * 16**32), "032x")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    base = events.filter(F.col("event_type") == "purchase").select(
        cents.alias("c"),
        (
            F.md5(
                F.concat(
                    F.lit(f"aqp:{AQP_SEED}:"),
                    F.col("event_id").cast("string"),
                )
            )
            < thr
        ).alias("in_s"),
    )
    m = base.agg(
        F.count("*").alias("n_rows"),
        F.sum("c").alias("exact_cents"),
        F.sum(F.when(F.col("in_s"), 1).otherwise(0)).alias("n_sample"),
        F.sum(F.when(F.col("in_s"), F.col("c")).otherwise(0)).alias(
            "ss"
        ),
        F.sum(
            F.when(
                F.col("in_s"),
                F.col("c").cast("decimal(38,0)")
                * F.col("c").cast("decimal(38,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("sq"),
    )
    f = AQP_FRAC
    est = F.col("ss").cast("double") / f
    var = (1 - f) / (f * f) * F.col("sq").cast("double")
    hw = 2.576 * F.sqrt(var)
    return m.select(
        "n_rows",
        "n_sample",
        "exact_cents",
        F.round(est, 2).alias("est_cents"),
        F.round(
            (est - F.col("exact_cents").cast("double"))
            / F.col("exact_cents").cast("double"),
            6,
        ).alias("rel_error"),
        F.round(hw, 2).alias("ci99_halfwidth_cents"),
        (
            F.abs(est - F.col("exact_cents").cast("double")) <= hw
        ).alias("within_ci"),
    )


def oracle_aqp_revenue() -> str:
    thr = format(int(AQP_FRAC * 16**32), "032x")
    return f"""
aqp_b AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
         md5('aqp:{AQP_SEED}:' || CAST(event_id AS VARCHAR))
           < '{thr}' AS in_s
  FROM events WHERE event_type = 'purchase'
),
aqp_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(c) AS BIGINT) AS exact_cents,
         CAST(sum(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sample,
         CAST(sum(CASE WHEN in_s THEN c ELSE 0 END) AS BIGINT) AS ss,
         CAST(sum(CASE WHEN in_s THEN CAST(c AS HUGEINT) * c
                       ELSE 0 END) AS HUGEINT) AS sq
  FROM aqp_b
),
aqp_revenue AS (
  SELECT n_rows, n_sample, exact_cents,
         round(CAST(ss AS DOUBLE) / {AQP_FRAC}, 2) AS est_cents,
         round((CAST(ss AS DOUBLE) / {AQP_FRAC} - exact_cents)
               / exact_cents, 6) AS rel_error,
         round(2.576 * sqrt((1 - {AQP_FRAC})
               / ({AQP_FRAC} * {AQP_FRAC})
               * CAST(sq AS DOUBLE)), 2) AS ci99_halfwidth_cents,
         abs(CAST(ss AS DOUBLE) / {AQP_FRAC} - exact_cents)
           <= 2.576 * sqrt((1 - {AQP_FRAC})
               / ({AQP_FRAC} * {AQP_FRAC}) * CAST(sq AS DOUBLE))
           AS within_ci
  FROM aqp_m
)
"""
