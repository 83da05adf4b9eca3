"""Query registry: every operator from SURVEY.md §2 as a (spark, sf_dir) →
DataFrame callable plus a DuckDB oracle SQL string over the same parquet.

Conventions that make the driver's order-insensitive value-hash comparison
deterministic across engines:
- every aggregate / computed column is explicitly aliased identically here
  and in the SQL;
- money sums go through DECIMAL(18,2/4) (exact, order-independent) and are
  cast to DOUBLE only at the end;
- ratios are ROUND(x, 6); ints are CAST to BIGINT;
- timestamps are formatted to strings before output.

The Spark implementations intentionally REUSE the engine's operator modules
(operators/mentions.py, dedup.py, textstats.py, graph.py) — these queries
are the driver-facing demonstration of the same code paths the KG pipeline
runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from thesaurus_based_ner_spark.functions import url as url_fns
from thesaurus_based_ner_spark.operators import (
    dedup,
    graph,
    simsearch,
    temporal,
    textstats,
)
from thesaurus_based_ner_spark.operators.canonicalize import (
    _surface_skew_stats,
    canonicalize_entities,
    choose_canonical_salt,
)
from thesaurus_based_ner_spark.operators.chunking import (
    CHUNK_STOP,
    np_chunks_df,
    type_chunks_suffix,
)
from thesaurus_based_ner_spark.operators.mentions import (
    detect_mentions_trie,
    detect_mentions_trie_dist,
    resolve_overlaps_df,
    thesaurus_with_case,
    tokenize_df,
)

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return reg


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame) -> DataFrame:
    """Raise scan parallelism for CPU-heavy downstream map work.

    A small single-file parquet scans as ONE task (maxPartitionBytes ≫
    file size), serializing expensive per-row expressions (n-gram
    explosion, 32-bit simhash votes). Repartition round-robin only when the
    source has fewer partitions than cores — at real scale (many files)
    this is a no-op, so no gratuitous shuffle is added.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # inputFiles() reads the file index only — no RDD conversion / job.
    # Small scans (fewer files than cores, each under one split) get
    # round-robined; many-file scans at real scale pass through untouched.
    if len(df.inputFiles()) < target:
        return df.repartition(target)
    return df


def _doc_tokens(spark, sf_dir) -> DataFrame:
    docs = spread(T(spark, sf_dir, "documents").select("doc_id", "text"))
    return tokenize_df(docs, "text").select("doc_id", "tokens")


def _en_doc_tokens(spark, sf_dir) -> DataFrame:
    """(doc_id, tokens) of the English documents; the lang filter sits
    below the spread so it reaches the scan."""
    docs = spread(T(spark, sf_dir, "documents").filter(F.col("lang") == "en"))
    return tokenize_df(docs.select("doc_id", "text"), "text").select(
        "doc_id", "tokens"
    )


# DECIMAL-exact money sum → DOUBLE (order-independent across engines)
def dsum(col, alias):
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# §2.4 Aggregations — TPC-H Q1 shape (A1-A5 family)
# ---------------------------------------------------------------------------

@q(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_qty"),
    )


# ---------------------------------------------------------------------------
# §2.3 Joins — multiway star join with broadcast dims (J1/J3)
# ---------------------------------------------------------------------------

@q(
    "region_revenue",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def region_revenue(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        # no broadcast HINT on customer: it is fact-sized (SF x 150k
        # rows); the cost model broadcasts it while small and AQE/SMJ
        # takes over at real SF, where a forced broadcast would OOM
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "revenue"))
    )


# ---------------------------------------------------------------------------
# §2.5 W2 — top-k per group via window (reference top-20 entities per label,
# db_pedia.py:200-224, done as ONE window pass instead of 23M point queries)
# ---------------------------------------------------------------------------

@q(
    "top_customers_per_nation",
    oracle="""
    WITH tot AS (
      SELECT c.c_nationkey, c.c_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, c.c_custkey
    )
    SELECT * FROM (
      SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
             CAST(c_custkey AS BIGINT) AS custkey, spend,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                  ORDER BY spend DESC, c_custkey ASC) AS BIGINT) AS rank
      FROM tot) WHERE rank <= 3
    """,
)
def top_customers_per_nation(spark, sf_dir):
    # (r9: a spread() here was measured 1.4s -> 1.9s at sf1.0 — the probe
    # is too cheap per row for the extra exchange to pay; left unspread)
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    tot = (
        # no broadcast HINT on customer: it is fact-sized (SF x 150k
        # rows); the cost model broadcasts it while small and AQE/SMJ
        # takes over at real SF, where a forced broadcast would OOM
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(dsum("o_totalprice", "spend"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("spend").desc(), F.col("c_custkey").asc()
    )
    return (
        tot.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            F.col("c_custkey").cast("bigint").alias("custkey"),
            "spend",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# §2.5 W4 — weighted argmax with tie-skip (term2cat.py:135-163 semantics)
# ---------------------------------------------------------------------------

@q(
    "argmax_part_per_order",
    oracle="""
    WITH ranked AS (
      SELECT l_orderkey, l_partkey, l_quantity,
             RANK() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC) AS rk,
             COUNT(*) OVER (PARTITION BY l_orderkey, l_quantity) AS ties
      FROM lineitem
    )
    SELECT CAST(l_orderkey AS BIGINT) AS orderkey,
           CAST(l_partkey AS BIGINT) AS partkey,
           ROUND(l_quantity, 6) AS qty
    FROM ranked WHERE rk = 1 AND ties = 1
    """,
)
def argmax_part_per_order(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(F.col("l_quantity").desc())
    # ties = peer count under the SAME window spec (RANGE CURRENT ROW =
    # rows with equal l_quantity): one Sort + one Window operator instead
    # of a second (l_orderkey, l_quantity) partitioning + sort pass (r9,
    # guide §2.4 — same-keyed windows share the exchange AND the sort).
    # Identical to COUNT(*) OVER (PARTITION BY l_orderkey, l_quantity).
    wt = w.rangeBetween(Window.currentRow, Window.currentRow)
    return (
        li.withColumn("rk", F.rank().over(w))
        .withColumn("ties", F.count("*").over(wt))
        .filter((F.col("rk") == 1) & (F.col("ties") == 1))
        .select(
            F.col("l_orderkey").cast("bigint").alias("orderkey"),
            F.col("l_partkey").cast("bigint").alias("partkey"),
            F.round("l_quantity", 6).alias("qty"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4 A6 — duplicated-lowercase detection (string_match.py:133-140)
# ---------------------------------------------------------------------------

@q(
    "dup_lowercase_names",
    oracle="""
    SELECT LOWER(p_name) AS name_lower,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands
    FROM part GROUP BY LOWER(p_name) HAVING COUNT(*) >= 2
    """,
)
def dup_lowercase_names(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    return (
        p.groupBy(F.lower("p_name").alias("name_lower"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("p_brand").alias("n_brands"),
        )
        .filter(F.col("n") >= 2)
    )


# ---------------------------------------------------------------------------
# §2.2 F4 — anomaly-suffix detection (term2cat.py:64-78: a term whose proper
# suffix is itself a term). Terms = part names ∪ their head nouns.
# ---------------------------------------------------------------------------

@q(
    "suffix_anomaly",
    oracle="""
    WITH terms AS (
      SELECT DISTINCT p_name AS term FROM part
      UNION
      SELECT DISTINCT split_part(p_name, ' ', 2) AS term FROM part
      WHERE split_part(p_name, ' ', 2) <> ''
    )
    SELECT a.term AS long_term, b.term AS suffix_term
    FROM terms a JOIN terms b
      ON a.term <> b.term AND suffix(a.term, ' ' || b.term)
    """,
)
def suffix_anomaly(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    names = p.select(F.col("p_name").alias("term")).distinct()
    heads = (
        # try_element_at: single-word names must skip, not abort (ANSI)
        p.select(F.expr("try_element_at(split(p_name, ' '), 2)").alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
        .distinct()
    )
    terms = names.union(heads).distinct()
    a = terms.alias("a")
    b = terms.alias("b")
    return a.join(
        F.broadcast(b),
        (F.col("a.term") != F.col("b.term"))
        & F.col("a.term").endswith(F.concat(F.lit(" "), F.col("b.term"))),
    ).select(F.col("a.term").alias("long_term"), F.col("b.term").alias("suffix_term"))


# ---------------------------------------------------------------------------
# §2.3 J6 — interval-overlap self-join (evaluator.py:656-712 lenient overlap)
# ---------------------------------------------------------------------------

@q(
    "order_window_overlaps",
    oracle="""
    SELECT CAST(a.o_custkey AS BIGINT) AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_overlapping_pairs
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
     AND a.o_orderdate <= b.o_orderdate + INTERVAL 30 DAY
     AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
    GROUP BY a.o_custkey
    """,
)
def order_window_overlaps(spark, sf_dir):
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    # orders⋈orders self-join: spread the probe side `a`. The unspread
    # `b` side is broadcast, so the whole pair expansion + count runs in
    # the `a` stage, which a 1-2 row-group orders scan would pin to 1-2
    # cores (r9). `b` stays unspread — it is hashed once either way.
    a = spread(o).alias("a")
    b = o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (
                F.col("a.o_orderdate")
                <= F.col("b.o_orderdate") + F.expr("INTERVAL 30 DAYS")
            )
            & (
                F.col("b.o_orderdate")
                <= F.col("a.o_orderdate") + F.expr("INTERVAL 30 DAYS")
            ),
        )
        .groupBy(F.col("a.o_custkey").cast("bigint").alias("custkey"))
        .agg(F.count("*").alias("n_overlapping_pairs"))
    )


# ---------------------------------------------------------------------------
# §2.7 G1/G3 — ancestor closure by iterative self-join vs recursive CTE
# ---------------------------------------------------------------------------

@q(
    "ancestor_closure",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT 'N:' || n_name AS child, 'R:' || r_name AS parent
      FROM nation JOIN region ON n_regionkey = r_regionkey
      UNION ALL
      SELECT 'S:' || s_name, 'N:' || n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
    ),
    closure(node, ancestor) AS (
      SELECT child, parent FROM edges
      UNION
      SELECT c.node, e.parent FROM closure c JOIN edges e ON c.ancestor = e.child
    ),
    selfrows AS (
      SELECT child AS node FROM edges UNION SELECT parent FROM edges
    )
    SELECT node, ancestor FROM closure
    UNION
    SELECT node, node FROM selfrows
    """,
)
def ancestor_closure_q(spark, sf_dir):
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    s = T(spark, sf_dir, "supplier")
    e1 = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.concat(F.lit("N:"), "n_name").alias("child"),
        F.concat(F.lit("R:"), "r_name").alias("parent"),
    )
    e2 = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        F.concat(F.lit("S:"), "s_name").alias("child"),
        F.concat(F.lit("N:"), "n_name").alias("parent"),
    )
    return graph.ancestor_closure(e1.unionByName(e2), include_self=True)


# ---------------------------------------------------------------------------
# §2.7 G5 — redirect-chain fixpoint (db_pedia.py:55-71)
# ---------------------------------------------------------------------------

@q(
    "redirect_fixpoint",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT 'P' || p_partkey AS src, 'P' || (p_partkey // 10) AS dst
      FROM part WHERE p_partkey >= 10
    ),
    chase(src, root) AS (
      SELECT src, dst FROM edges
      UNION ALL
      SELECT c.src, e.dst FROM chase c JOIN edges e ON c.root = e.src
    )
    SELECT src, root FROM chase
    WHERE root NOT IN (SELECT src FROM edges)
    """,
)
def redirect_fixpoint(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    edges = p.filter("p_partkey >= 10").select(
        F.concat(F.lit("P"), "p_partkey").alias("src"),
        F.concat(F.lit("P"), (F.col("p_partkey") / 10).cast("int")).alias("dst"),
    ).distinct()
    return graph.resolve_chains(edges)


# ---------------------------------------------------------------------------
# §2.9-analog sessionization (gap > 30 min) — lag + cumsum islands (W5 shape)
# ---------------------------------------------------------------------------

@q(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM sess GROUP BY user_id, session_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events
    FROM per_session GROUP BY user_id
    """,
)
def sessionize_events(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    flagged = ev.withColumn(
        "new_s",
        F.when(
            lag_ts.isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(lag_ts) > 1800),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    return per_session.groupBy(F.col("user_id").cast("bigint").alias("user_id")).agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# §2.5 W1 — overlap-group resolution, relational form, on synthetic spans
# (exercises operators/mentions.resolve_overlaps_df against SQL directly)
# ---------------------------------------------------------------------------

_SPANS_SQL = """
      SELECT CAST(l_orderkey AS BIGINT) AS doc,
             CAST(l_partkey % 40 AS BIGINT) AS m_start,
             CAST(l_partkey % 40 + 1 + l_suppkey % 5 AS BIGINT) AS m_end,
             CAST(MIN(l_linenumber) AS BIGINT) AS label
      FROM lineitem
      GROUP BY 1, 2, 3
"""


@q(
    "overlap_group_resolution",
    oracle=f"""
    WITH spans AS ({_SPANS_SQL}),
    w1a AS (
      SELECT *, MAX(m_end) OVER (PARTITION BY doc ORDER BY m_start, m_end
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM spans
    ),
    w1b AS (
      SELECT *, SUM(CASE WHEN m_start >= COALESCE(pme, -1) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc ORDER BY m_start, m_end
                     ROWS UNBOUNDED PRECEDING) AS grp
      FROM w1a
    ),
    kept AS (
      SELECT doc, m_start, m_end, label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc, grp
                    ORDER BY m_end DESC, m_start ASC) AS rn
        FROM w1b) WHERE rn = 1
    )
    SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(m_end - m_start) AS BIGINT) AS covered
    FROM kept GROUP BY doc
    """,
)
def overlap_group_resolution(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    spans = (
        li.groupBy(
            F.col("l_orderkey").cast("bigint").alias("doc"),
            (F.col("l_partkey") % 40).cast("bigint").alias("m_start"),
            (F.col("l_partkey") % 40 + 1 + F.col("l_suppkey") % 5)
            .cast("bigint")
            .alias("m_end"),
        )
        .agg(F.min("l_linenumber").cast("bigint").alias("label"))
    )
    kept = resolve_overlaps_df(spans, ["doc"])
    return kept.groupBy("doc").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("m_end") - F.col("m_start")).alias("covered"),
    )


# ---------------------------------------------------------------------------
# §2.4 A8 — set-PRF metrics (evaluator.py:78-88)
# ---------------------------------------------------------------------------

@q(
    "set_prf_click_purchase",
    oracle="""
    WITH pred AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    gold AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    i AS (SELECT COUNT(*) AS n FROM pred WHERE user_id IN (SELECT user_id FROM gold))
    SELECT CAST((SELECT COUNT(*) FROM pred) AS BIGINT) AS n_pred,
           CAST((SELECT COUNT(*) FROM gold) AS BIGINT) AS n_gold,
           CAST((SELECT n FROM i) AS BIGINT) AS n_inter,
           ROUND(COALESCE((SELECT n FROM i) * 1.0
                 / NULLIF((SELECT COUNT(*) FROM pred), 0), 0.0), 6) AS precision,
           ROUND(COALESCE((SELECT n FROM i) * 1.0
                 / NULLIF((SELECT COUNT(*) FROM gold), 0), 0.0), 6) AS recall
    """,
)
def set_prf_click_purchase(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    pred = ev.filter("event_type = 'click'").select("user_id").distinct()
    gold = ev.filter("event_type = 'purchase'").select("user_id").distinct()
    inter = pred.join(gold, "user_id", "left_semi")
    return (
        pred.agg(F.count("*").alias("n_pred"))
        .crossJoin(gold.agg(F.count("*").alias("n_gold")))
        .crossJoin(inter.agg(F.count("*").alias("n_inter")))
        .select(
            "n_pred",
            "n_gold",
            "n_inter",
            # zero guards: an empty side must read 0.0, not NaN (Spark)
            # or a division error (the oracle's DECIMAL path)
            F.round(
                F.when(F.col("n_pred") > 0,
                       F.col("n_inter") * 1.0 / F.col("n_pred")).otherwise(0.0),
                6,
            ).alias("precision"),
            F.round(
                F.when(F.col("n_gold") > 0,
                       F.col("n_inter") * 1.0 / F.col("n_gold")).otherwise(0.0),
                6,
            ).alias("recall"),
        )
    )


@q(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_n,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
)
def approx_distinct_users(spark, sf_dir):
    """HyperLogLog distinct-user counts per event type, gated against the
    exact count: the oracle asserts the 2%-rsd sketch lands within 5% of
    exact, so sketch drift fails the driver's value compare. At corpus
    scale only the sketch runs (one pass, constant memory); the exact
    count here is the verification harness."""
    ev = T(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_n"),
        F.approx_count_distinct("user_id", 0.02).alias("__approx"),
    )
    return agg.select(
        "event_type",
        "exact_n",
        (
            F.abs(F.col("__approx") - F.col("exact_n"))
            <= F.col("exact_n") * 0.05
        ).alias("approx_within_5pct"),
    )


@q(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per event type (Spark `percentile`
    ≡ DuckDB `quantile_cont`, both linear interpolation on sorted
    values). Exact percentile is a full sort per group — at corpus scale
    swap for percentile_approx (t-digest) and widen the oracle to a
    tolerance; here the exact form doubles as the oracle check."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@q(
    "revenue_rollup",
    oracle="""
    SELECT COALESCE(r_name, '__ALL__') AS region,
           COALESCE(n_name, '__ALL__') AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def revenue_rollup(spark, sf_dir):
    """ROLLUP subtotals (region, nation, grand total) in one pass —
    Spark's rollup() plans a single Expand + hash aggregate, not three
    scans. Broadcast dims keep the fact-table join shuffle-free."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    j = (
        # no broadcast HINT on customer: it is fact-sized (SF x 150k
        # rows); the cost model broadcasts it while small and AQE/SMJ
        # takes over at real SF, where a forced broadcast would OOM
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .select(
            F.coalesce("r_name", F.lit("__ALL__")).alias("region"),
            F.coalesce("n_name", F.lit("__ALL__")).alias("nation"),
            "n_orders",
            "revenue",
        )
    )


@q(
    "event_type_pivot",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
)
def event_type_pivot(spark, sf_dir):
    """Wide per-user event-type counts via pivot with an EXPLICIT value
    list — omitting it makes Spark run a blocking distinct scan to
    discover columns, a silent extra job at scale."""
    ev = T(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).cast("bigint").alias(k) for k in kinds]
    )


@q(
    "canonical_url_dedup",
    oracle="""
    SELECT 'cust' || o_custkey || '.example.com/order/' || o_orderkey
             || '?id=' || o_orderkey AS url,
           CAST(4 AS BIGINT) AS n_variants
    FROM orders
    """,
)
def canonical_url_dedup(spark, sf_dir):
    """canonical_url value check: four fetch-noise variants per order
    (tracking params, host case + www + default port, trailing slash,
    fragment) must all fold to one closed-form canonical url. The oracle
    states that expected form directly from the table columns, so any
    parse_url / normalization regression breaks the value compare."""
    # spread() BEFORE the 4-way explode + parse_url/regexp chain: the
    # single-file orders scan has 1-2 row groups, serializing ~6M urls of
    # per-row regex work onto 1-2 cores (39.8s at sf1.0). The repartition
    # ships only the two key columns (narrow shuffle), the url synthesis
    # and canonicalization then run on every core; no-op at real scale
    # (many files). Results unchanged — the groupBy re-shuffles anyway.
    o = spread(T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey"))
    ck = F.col("o_custkey").cast("string")
    ok = F.col("o_orderkey").cast("string")
    v = F.array(
        F.concat(F.lit("http://cust"), ck, F.lit(".example.com/order/"), ok,
                 F.lit("?id="), ok),
        F.concat(F.lit("https://CUST"), ck, F.lit(".Example.com/order/"), ok,
                 F.lit("/?id="), ok, F.lit("&utm_source=news")),
        F.concat(F.lit("http://www.cust"), ck, F.lit(".example.com:80/order/"),
                 ok, F.lit("?utm_campaign=x&id="), ok),
        F.concat(F.lit("http://cust"), ck, F.lit(".example.com/order/"), ok,
                 F.lit("?id="), ok, F.lit("#frag")),
    )
    raw = o.select(F.explode(v).alias("raw_url"))
    return (
        raw.select(url_fns.canonical_url("raw_url").alias("url"))
        .groupBy("url")
        .agg(F.count("*").alias("n_variants"))
    )


@q(
    "session_window_rollup",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN ts >= COALESCE(LAG(ts) OVER w, ts) + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    g AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM o
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
             AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM g GROUP BY user_id, sess
    """,
)
def session_window_rollup(spark, sf_dir):
    """Native session_window (gap-merged, 30 min) per user — batch twin
    of streaming.ingest.session_window_counts_stream; the oracle is the
    lag-island formulation with session_window's exact tie rule (an
    event AT prev_ts + gap starts a NEW session, window end =
    last_event + gap). First row: lag defaults to its own ts → brk=1,
    seeding each user's running session id at 1."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss")
            .alias("session_end"),
            "n",
        )
    )


@q(
    "asof_click_signup",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts
      FROM events WHERE event_type = 'click'
    ),
    s AS (
      SELECT user_id, ts, MAX(event_id) AS signup_id
      FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
    )
    SELECT c.user_id, c.click_id,
           COALESCE(s.signup_id, -1) AS signup_id,
           CAST(COALESCE(date_diff('second', s.ts, c.ts), -1) AS BIGINT)
             AS secs_since_signup
    FROM clicks c ASOF LEFT JOIN s
      ON c.user_id = s.user_id AND c.ts >= s.ts
    """,
)
def asof_click_signup(spark, sf_dir):
    """As-of join: each click enriched with the most recent signup at or
    before it (per user); DuckDB's native ASOF LEFT JOIN is the oracle."""
    ev = T(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    signups = (
        ev.filter("event_type = 'signup'")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_id"))
        .withColumn("signup_ts", F.col("ts"))
    )
    j = temporal.asof_join(
        clicks, signups, on=["user_id"], left_ts="ts", right_ts="ts"
    )
    # -1 sentinels for no-match rows: nullable numeric outputs round-trip
    # as NaN through the oracle's pandas frame and defeat value compare
    return j.select(
        "user_id",
        "click_id",
        F.coalesce("signup_id", F.lit(-1)).alias("signup_id"),
        F.coalesce(
            F.unix_timestamp("ts") - F.unix_timestamp("signup_ts"), F.lit(-1)
        )
        .cast("bigint")
        .alias("secs_since_signup"),
    )


@q(
    "click_purchase_attribution",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS secs_to_purchase
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def click_purchase_attribution(spark, sf_dir):
    """Time-bounded interval join: each click attributed to purchases by
    the same user within 1 hour. Batch twin of
    streaming.ingest.click_purchase_join_stream — the driver checks this
    one; the pytest asserts the watermarked stream-stream join emits the
    identical row set once drained."""
    ev = T(spark, sf_dir, "events")
    c = ev.filter("event_type = 'click'").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            (
                F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")
            ).cast("bigint").alias("secs_to_purchase"),
        )
    )


# ---------------------------------------------------------------------------
# §4 skew — salted repartition join must equal the plain join
# ---------------------------------------------------------------------------

@q(
    "salted_segment_revenue",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def salted_segment_revenue(spark, sf_dir):
    """Skew-handling pattern: salt the fact side, replicate the dim side ×8.

    Result is provably identical to the unsalted join (the oracle); at
    cluster scale this bounds any single reducer's share of a hot custkey.
    """
    n_salt = 8
    # spread the fact side (r9): 1-2 row-group scan pins the salted join
    # probe + partial agg to 1-2 cores otherwise
    o = spread(
        T(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
    ).withColumn(
        "__salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_salt))
    )
    c = (
        T(spark, sf_dir, "customer")
        .withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
        .withColumn("__salt", F.col("__salt").cast("bigint"))
    )
    return (
        o.join(c, (o.o_custkey == c.c_custkey) & (o["__salt"] == c["__salt"]))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "revenue"))
    )


# ---------------------------------------------------------------------------
# streaming-shape windowed aggregation (batch form; streaming variant in
# streaming/ingest.py runs the same plan via Trigger.AvailableNow)
# ---------------------------------------------------------------------------

@q(
    "hourly_event_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def hourly_event_rollup(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )


# ===========================================================================
# Document-table queries: the mention core + training-data-pipeline ops
# ===========================================================================

# terms drawn from the documents table's vocabulary; 1- and 2-token terms,
# nesting ("join" ⊂ "hash join") to exercise overlap resolution.
DOC_THESAURUS: list[tuple[str, str]] = [
    ("hash join", "Operation"),
    ("merge join", "Operation"),
    ("sort merge", "Operation"),
    ("table scan", "Operation"),
    ("column scan", "Operation"),
    ("row group", "Storage"),
    ("key value", "Storage"),
    ("data stream", "Storage"),
    ("spark", "System"),
    ("window", "Clause"),
    ("join", "Operation"),
    ("scan", "Operation"),
    ("group", "Clause"),
    ("vector", "Storage"),
    ("filter", "Operation"),
]

_TH_VALUES = ", ".join(
    f"('{t}', {len(t.split())}, '{lab}')" for t, lab in DOC_THESAURUS
)

# duckdb-side token regex: same pattern, \s is literal in standard SQL strings
_SQL_TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

_MENTION_CTE = f"""
    WITH th(term, n, label) AS (VALUES {_TH_VALUES}),
    docs AS (
      SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents WHERE lang = 'en'
    ),
    pos AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p FROM docs),
    matches AS (
      SELECT d.doc_id,
             CAST(d.p - 1 AS BIGINT) AS m_start,
             CAST(d.p - 1 + t.n AS BIGINT) AS m_end,
             array_to_string(d.toks[d.p : d.p + t.n - 1], ' ') AS surface,
             t.label
      FROM pos d JOIN th t
        ON d.p + t.n - 1 <= len(d.toks)
       AND lower(array_to_string(d.toks[d.p : d.p + t.n - 1], ' ')) = t.term
    ),
    w1a AS (
      SELECT *, MAX(m_end) OVER (PARTITION BY doc_id ORDER BY m_start, m_end
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM matches
    ),
    w1b AS (
      SELECT *, SUM(CASE WHEN m_start >= COALESCE(pme, -1) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY m_start, m_end
                     ROWS UNBOUNDED PRECEDING) AS grp
      FROM w1a
    ),
    w1 AS (
      SELECT doc_id, m_start, m_end, surface, label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, grp
                    ORDER BY m_end DESC, m_start ASC, label ASC) AS rn
        FROM w1b) WHERE rn = 1
    ),
    w5lag AS (
      SELECT *, LAG(m_end) OVER (PARTITION BY doc_id ORDER BY m_start) AS prev_end
      FROM w1
    ),
    w5a AS (
      SELECT *, SUM(CASE WHEN m_start > COALESCE(prev_end, -1) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY m_start
                     ROWS UNBOUNDED PRECEDING) AS isl
      FROM w5lag
    ),
    mentions AS (
      SELECT doc_id, MIN(m_start) AS m_start, MAX(m_end) AS m_end,
             arg_max(label, m_end) AS label,
             string_agg(surface, ' ' ORDER BY m_start) AS surface
      FROM w5a GROUP BY doc_id, isl
    )
"""


def _doc_mentions(spark, sf_dir):
    snts = _en_doc_tokens(spark, sf_dir)
    return detect_mentions_trie(snts, dict(DOC_THESAURUS), ["doc_id"])


@q(
    "mention_spans",
    oracle=_MENTION_CTE
    + "SELECT doc_id, m_start, m_end, surface, label FROM mentions",
)
def mention_spans(spark, sf_dir):
    return _doc_mentions(spark, sf_dir).select(
        "doc_id", "m_start", "m_end", "surface", "label"
    )


@q(
    "mention_label_counts",
    oracle=_MENTION_CTE
    + """
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_mentions,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM mentions GROUP BY label
    """,
)
def mention_label_counts(spark, sf_dir):
    return (
        _doc_mentions(spark, sf_dir)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# label-level ontology over the DOC_THESAURUS label space (child, parent)
LABEL_ONTOLOGY: list[tuple[str, str]] = [
    ("Operation", "Compute"),
    ("Clause", "Compute"),
    ("Storage", "Resource"),
    ("System", "Resource"),
    ("Compute", "Thing"),
    ("Resource", "Thing"),
]
_ONT_VALUES = ", ".join(f"('{c}', '{p}')" for c, p in LABEL_ONTOLOGY)


@q(
    "inferred_type_triples",
    # WITH RECURSIVE so the oracle's closure is depth-independent like
    # graph.ancestor_closure under test (a fixed unrolling would break on
    # a deeper LABEL_ONTOLOGY even though the engine is right)
    oracle=_MENTION_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
    ont(child, parent) AS (VALUES {_ONT_VALUES}),
    closure(node, anc) AS (
      SELECT child, parent FROM ont
      UNION
      SELECT c.node, o.parent FROM closure c JOIN ont o ON c.anc = o.child
    ),
    anc AS (
      SELECT node, anc FROM closure
      UNION SELECT child, child FROM ont
      UNION SELECT parent, parent FROM ont
    ),
    ents AS (SELECT DISTINCT lower(surface) AS subj, label FROM mentions)
    SELECT DISTINCT e.subj, 'rdf:type' AS pred, a.anc AS obj
    FROM ents e JOIN anc a ON e.label = a.node
    """,
)
def inferred_type_triples(spark, sf_dir):
    """KG type inference: entity rdf:type triples expanded through the
    label-ontology ancestor closure (rdf:type ∘ subClassOf* — the RDFS
    entailment rule rdfs9). Mentions come from the same detector as
    mention_spans; the closure is dim-sized and the expansion join
    broadcasts it, so the only corpus-sized work is the mention scan."""
    m = _doc_mentions(spark, sf_dir)
    ents = m.select(F.lower("surface").alias("subj"), "label").distinct()
    ont = spark.sql(
        f"SELECT * FROM VALUES {_ONT_VALUES} AS t(child, parent)"
    )
    closure = graph.ancestor_closure(ont, include_self=True)
    return (
        ents.join(F.broadcast(closure), ents.label == closure.node)
        .select(
            "subj",
            F.lit("rdf:type").alias("pred"),
            F.col("ancestor").alias("obj"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Dedup family (exact / n-gram Jaccard / MinHash-LSH / SimHash)
# ---------------------------------------------------------------------------

@q(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_md5, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id
    FROM documents GROUP BY md5(text) HAVING COUNT(*) >= 2
    """,
)
def dedup_exact(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return dedup.exact_duplicates(d, "doc_id", "text").select(
        "text_md5",
        "n_docs",
        F.col("keep_id").cast("bigint").alias("keep_id"),
    )


_JACCARD_SQL = f"""
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i : i + 2], ' ')
                   for i in range(1, len(toks) - 1)] END)) AS shingle
      FROM docs
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
           ROUND(i * 1.0 / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = a_id
    JOIN sz sb ON sb.doc_id = b_id
    WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= 0.5
"""


@q("dedup_ngram_jaccard", oracle=_JACCARD_SQL)
def dedup_ngram_jaccard(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5).select(
        F.col("a_id").cast("bigint").alias("a_id"),
        F.col("b_id").cast("bigint").alias("b_id"),
        "jaccard",
    )


@q("dedup_minhash_lsh", oracle=_JACCARD_SQL)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidates + exact verify. bands=16, rows=2 → recall at
    J≥0.8 (the observed pair range) is ≥ 1-8e-8, and deterministic hashing
    makes verified recall permanent per dataset, so the exact-Jaccard oracle IS the
    expected output. At petabyte scale tune bands/rows down for cost; here
    the contract is exactness."""
    d = spread(T(spark, sf_dir, "documents"))
    return dedup.minhash_lsh_pairs(
        d, "doc_id", "text", k=3, n_hashes=32, bands=16, threshold=0.5
    ).select(
        F.col("a_id").cast("bigint").alias("a_id"),
        F.col("b_id").cast("bigint").alias("b_id"),
        "jaccard",
    )


def _simhash_sql_bits() -> str:
    # bit j of simhash32 = majority vote of md5-hex-nibble-j high bit over
    # distinct 3-token shingles; mirrors operators/dedup.simhash_table exactly.
    votes = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(sh, t -> substr(md5(t), {j + 1}, 1) "
        f"IN ('8','9','a','b','c','d','e','f'))) >= len(sh) "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(32)
    )
    return votes


@q(
    "dedup_simhash",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents
    ),
    shingled AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i : i + 2], ' ')
                   for i in range(1, len(toks) - 1)] END) AS sh
      FROM docs
    ),
    h AS (SELECT doc_id, CAST({_simhash_sql_bits()} AS BIGINT) AS sh32 FROM shingled)
    SELECT CAST(a.doc_id AS BIGINT) AS a_id, CAST(b.doc_id AS BIGINT) AS b_id,
           CAST(bit_count(xor(a.sh32, b.sh32)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh32, b.sh32)) <= 3
    """,
)
def dedup_simhash(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    return dedup.simhash_pairs(d, "doc_id", "text", max_hamming=3, k=3).select(
        F.col("a_id").cast("bigint").alias("a_id"),
        F.col("b_id").cast("bigint").alias("b_id"),
        "hamming",
    )


# ---------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k over embeddings
# ---------------------------------------------------------------------------

@q(
    "cosine_topk",
    oracle="""
    WITH qv AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 8),
    cv AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.e, c.e), 6) AS cos
      FROM qv q JOIN cv c ON q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM sims) WHERE rank <= 5
    """,
)
def cosine_topk(spark, sf_dir):
    # delegate to the operator under test — it IS what this oracle
    # verifies, and its unrolled fixed-dim cosine stays in codegen where
    # an inline HOF re-implementation would run interpreted
    base = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # spread the corpus side: the single-row-group embeddings file scans
    # as ONE task, serializing N×Q unrolled cosines onto one core (r9,
    # guide §2.5 input skew); the query side stays an unspread 8-row scan
    e = spread(base)
    qv = base.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    return simsearch.brute_force_topk(e, qv, k=5, dim=64)


# ---------------------------------------------------------------------------
# Text analysis: language-ID, quality, token counts, fingerprint
# ---------------------------------------------------------------------------

_STOP_SQL = {
    lang: ", ".join(f"'{w}'" for w in words)
    for lang, words in textstats.STOPWORDS.items()
}

_LANG_HITS = ",\n      ".join(
    f"CAST(len(list_filter(list_distinct(list_transform(toks, t -> lower(t))), "
    f"t -> t IN ({_STOP_SQL[lang]}))) AS BIGINT) AS h_{lang}"
    for lang in textstats.STOPWORDS
)


@q(
    "lang_id",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents
    ),
    hits AS (SELECT doc_id, {_LANG_HITS} FROM docs)
    SELECT CAST(doc_id AS BIGINT) AS id,
           CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                ELSE 'es' END AS pred_lang,
           greatest(h_en, h_de, h_fr, h_es) AS stopword_hits
    FROM hits
    """,
)
def lang_id_q(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return textstats.lang_id(d, "doc_id", "text").select(
        F.col("id").cast("bigint").alias("id"), "pred_lang", "stopword_hits"
    )


@q(
    "quality_score",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents
    ),
    feat AS (
      SELECT CAST(doc_id AS BIGINT) AS id,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             len(list_filter(toks, t -> regexp_matches(t, '^[^A-Za-z0-9_]$')))
               * 1.0 / greatest(len(toks), 1) AS pr,
             len(list_filter(toks, t -> lower(t) IN ({_STOP_SQL['en']})))
               * 1.0 / greatest(len(toks), 1) AS sr
      FROM docs
    )
    SELECT id, n_chars, n_tokens,
           ROUND(pr, 6) AS punct_ratio, ROUND(sr, 6) AS stopword_ratio,
           ROUND(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - pr)
                 + 0.3 * least(sr * 5.0, 1.0), 6) AS quality
    FROM feat
    """,
)
def quality_score_q(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return textstats.quality_score(d, "doc_id", "text").select(
        F.col("id").cast("bigint").alias("id"),
        "n_chars",
        "n_tokens",
        "punct_ratio",
        "stopword_ratio",
        "quality",
    )


@q(
    "token_counts",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS id,
           CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{_SQL_TOKEN_RE}')) AS BIGINT) AS re_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '{_SQL_TOKEN_RE}'))) AS BIGINT)
             AS distinct_tokens
    FROM documents
    """,
)
def token_counts_q(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return textstats.token_counts(d, "doc_id", "text").select(
        F.col("id").cast("bigint").alias("id"),
        "ws_tokens",
        "re_tokens",
        "distinct_tokens",
    )


@q(
    "fingerprint",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text,
             list_distinct(list_transform(
               regexp_extract_all(text, '{_SQL_TOKEN_RE}'), t -> lower(t))) AS toks
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS id, md5(text) AS text_md5,
           list_aggregate(list_transform(toks, t -> md5(t)), 'min') AS min_tok_md5,
           list_aggregate(list_transform(toks, t -> md5(t)), 'max') AS max_tok_md5
    FROM docs
    """,
)
def fingerprint_q(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return textstats.fingerprint(d, "doc_id", "text").select(
        F.col("id").cast("bigint").alias("id"),
        "text_md5",
        "min_tok_md5",
        "max_tok_md5",
    )


# ---------------------------------------------------------------------------
# Entity-linking shape: candidate top-k per surface (A2+W2+J9 relational
# analog: per part-type, top-3 parts by shipped quantity)
# ---------------------------------------------------------------------------

@q(
    "link_candidates_topk",
    oracle="""
    WITH counts AS (
      SELECT p.p_type AS surface, l.l_partkey AS entity,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS anchor_count
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_type, l.l_partkey
    )
    SELECT surface, CAST(entity AS BIGINT) AS entity, anchor_count, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY surface
                 ORDER BY anchor_count DESC, entity ASC) AS BIGINT) AS rank
      FROM counts) WHERE rank <= 3
    """,
)
def link_candidates_topk(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    counts = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_type").alias("surface"), F.col("l_partkey").alias("entity"))
        .agg(dsum("l_quantity", "anchor_count"))
    )
    w = Window.partitionBy("surface").orderBy(
        F.col("anchor_count").desc(), F.col("entity").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("surface", F.col("entity").cast("bigint").alias("entity"),
                "anchor_count", "rank")
    )


# ---------------------------------------------------------------------------
# Canonicalization: connected components (G6) vs recursive-CTE oracle
# ---------------------------------------------------------------------------

@q(
    "canonical_components",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT 'P' || l_partkey AS a, 'S' || l_suppkey AS b
      FROM lineitem WHERE l_quantity > 49
    ),
    sym AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
    reach(u, lbl) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM sym)
      UNION
      SELECT s.v, r.lbl FROM reach r JOIN sym s ON r.u = s.u
    )
    SELECT u AS node, MIN(lbl) AS component FROM reach GROUP BY u
    """,
)
def canonical_components(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    edges = (
        li.filter("l_quantity > 49")
        .select(
            F.concat(F.lit("P"), "l_partkey").alias("a"),
            F.concat(F.lit("S"), "l_suppkey").alias("b"),
        )
        .distinct()
    )
    return graph.connected_components_twostar(edges)


@q(
    "canonical_components_star",
    oracle="""
    WITH RECURSIVE surf AS (
      SELECT DISTINCT 'E' || p_partkey AS entity,
             lower(string_split(p_name, ' ')[1]) AS nsurf FROM part
      UNION
      SELECT DISTINCT 'E' || p_partkey,
             lower(string_split(p_name, ' ')[-1]) FROM part
    ),
    edges AS (
      SELECT DISTINCT a.entity AS u, b.entity AS v
      FROM surf a JOIN surf b ON a.nsurf = b.nsurf AND a.entity <> b.entity
    ),
    reach(u, lbl) AS (
      SELECT entity, entity FROM (SELECT DISTINCT entity FROM surf)
      UNION
      SELECT e.v, r.lbl FROM reach r JOIN edges e ON r.u = e.u
    )
    SELECT u AS entity, MIN(lbl) AS canonical FROM reach GROUP BY u
    """,
)
def canonical_components_star(spark, sf_dir):
    """canonicalize_entities end-to-end: entities share surfaces (first and
    last p_name word), surface edges generated as a STAR to the
    per-surface hub (O(S), never the S²/2 pairwise self-join — invariant
    for connected components), then two-star CC. The oracle states clique
    semantics with a recursive CTE, so the star rewrite must be
    CC-equivalent to pass the value hash."""
    p = T(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    anchor = p.select(
        F.concat(F.lit("E"), "p_partkey").alias("entity"),
        F.explode(
            F.array(F.element_at(words, 1), F.element_at(words, -1))
        ).alias("surface"),
    )
    return canonicalize_entities(anchor).select("entity", "canonical")


@q(
    "auto_salt_decision",
    oracle="""
    WITH surf AS (
      SELECT DISTINCT 'E' || p_partkey AS entity,
             lower(string_split(p_name, ' ')[1]) AS nsurf FROM part
      UNION
      SELECT DISTINCT 'E' || p_partkey,
             lower(string_split(p_name, ' ')[-1]) FROM part
    ),
    g AS (SELECT nsurf, count(*) AS c FROM surf GROUP BY nsurf),
    s AS (
      SELECT CAST(sum(c) AS BIGINT) AS total_rows,
             CAST(max(c) AS BIGINT) AS max_surface_rows
      FROM g
    ),
    cand AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128, 256]) AS salt)
    SELECT s.total_rows, s.max_surface_rows,
           CAST(CASE
             WHEN s.max_surface_rows <= 4.0 * s.total_rows / 256
               THEN 1
             ELSE coalesce(
               (SELECT min(salt) FROM cand
                WHERE s.max_surface_rows / salt <= 4.0 * s.total_rows / 256),
               256)
           END AS BIGINT) AS chosen_salt
    FROM s
    """,
)
def auto_salt_decision(spark, sf_dir):
    """choose_canonical_salt's measured policy as a checkable query: the
    surface-skew stats (distinct (entity, nsurf) rows; hottest surface's
    count) and the salt the heuristic picks at a PINNED 256-partition /
    skew_factor=4 geometry (pinned so the oracle is session-independent).
    The stats pass is the skew-safe map-side-combined groupBy the
    heuristic itself runs; the salt formula (smallest power of two that
    bounds the hot key to 4 median partitions, clamped to 256) is stated
    twice — here and in SQL — so a drift in either fails the value hash."""
    p = T(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    anchor = p.select(
        F.concat(F.lit("E"), "p_partkey").alias("entity"),
        F.explode(
            F.array(F.element_at(words, 1), F.element_at(words, -1))
        ).alias("surface"),
    )
    total, hot = _surface_skew_stats(anchor)
    salt = choose_canonical_salt(anchor, shuffle_partitions=256)
    return spark.createDataFrame(
        [(total, hot, salt)],
        "total_rows long, max_surface_rows long, chosen_salt long",
    )


# ---------------------------------------------------------------------------
# Chunker + suffix-typer path (U2/U3: the reference's TwoStage default) and
# the LSH ANN scale path.
# ---------------------------------------------------------------------------

_STOP_LIST_SQL = ", ".join(f"'{w}'" for w in CHUNK_STOP)


@q(
    "chunked_mentions",
    oracle=f"""
    WITH th(term, n, label) AS (VALUES {_TH_VALUES}),
    docs AS (
      SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents WHERE lang = 'en'
    ),
    pos AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p FROM docs
    ),
    marked AS (
      SELECT doc_id, toks, p, toks[p] AS tok,
             regexp_matches(toks[p], '^[A-Za-z0-9_]+$')
               AND lower(toks[p]) NOT IN ({_STOP_LIST_SQL}) AS is_content
      FROM pos
    ),
    lagged AS (
      SELECT *, COALESCE(LAG(is_content) OVER (PARTITION BY doc_id ORDER BY p),
                          false) AS prev_content
      FROM marked
    ),
    grouped AS (
      SELECT *, SUM(CASE WHEN (NOT prev_content) OR (NOT is_content)
                         THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS grp
      FROM lagged
    ),
    runs AS (
      SELECT doc_id, grp, MIN(p) AS run_first, MAX(p) AS run_last,
             any_value(toks) AS toks
      FROM grouped WHERE is_content GROUP BY doc_id, grp
    ),
    chunks AS (
      SELECT doc_id,
             CAST(s - 1 AS BIGINT) AS m_start,
             CAST(least(s + 5, run_last) AS BIGINT) AS m_end,
             array_to_string(toks[s : least(s + 5, run_last)], ' ') AS surface
      FROM runs, unnest(range(run_first, run_last + 1, 6)) AS t(s)
    ),
    typed AS (
      SELECT c.doc_id, c.m_start, c.m_end, c.surface, t.label, t.n,
             ROW_NUMBER() OVER (PARTITION BY c.doc_id, c.m_start, c.m_end
                                ORDER BY t.n DESC, t.label) AS rk
      FROM chunks c JOIN th t
        ON lower(c.surface) = t.term
        OR suffix(lower(c.surface), ' ' || t.term)
    )
    SELECT doc_id, m_start, m_end, surface, label FROM typed WHERE rk = 1
    """,
)
def chunked_mentions(spark, sf_dir):
    snts = _en_doc_tokens(spark, sf_dir)
    chunks = np_chunks_df(snts, ["doc_id"], max_len=6)
    th = thesaurus_with_case(spark, dict(DOC_THESAURUS))
    return type_chunks_suffix(chunks, th).select(
        "doc_id", "m_start", "m_end", "surface", "label"
    )


@q(
    "np_chunks",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents WHERE lang = 'en'
    ),
    pos AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p FROM docs
    ),
    marked AS (
      SELECT doc_id, toks, p, toks[p] AS tok,
             regexp_matches(toks[p], '^[A-Za-z0-9_]+$')
               AND lower(toks[p]) NOT IN ({_STOP_LIST_SQL}) AS is_content
      FROM pos
    ),
    lagged AS (
      SELECT *, COALESCE(LAG(is_content) OVER (PARTITION BY doc_id ORDER BY p),
                          false) AS prev_content
      FROM marked
    ),
    grouped AS (
      SELECT *, SUM(CASE WHEN (NOT prev_content) OR (NOT is_content)
                         THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS grp
      FROM lagged
    ),
    runs AS (
      SELECT doc_id, grp, MIN(p) AS run_first, MAX(p) AS run_last,
             any_value(toks) AS toks
      FROM grouped WHERE is_content GROUP BY doc_id, grp
    )
    SELECT doc_id,
           CAST(s - 1 AS BIGINT) AS m_start,
           CAST(least(s + 5, run_last) AS BIGINT) AS m_end,
           array_to_string(toks[s : least(s + 5, run_last)], ' ') AS surface
    FROM runs, unnest(range(run_first, run_last + 1, 6)) AS t(s)
    """,
)
def np_chunks(spark, sf_dir):
    """U3 chunker (np_chunks_df) on its own: iterator-init mapInPandas
    running the pinned POS-lite noun-phrase model (spaCy slot-compatible),
    value-checked against the run-window SQL oracle; chunked_mentions and
    chunk_right_shift consume the same chunks."""
    snts = _en_doc_tokens(spark, sf_dir)
    return np_chunks_df(snts, ["doc_id"], max_len=6).select(
        "doc_id", "m_start", "m_end", "surface"
    )


def _lsh_planes_sql(n_bits: int, dim: int, seed: int, n_tables: int) -> str:
    """VALUES rows (tbl, j, w) with the SAME md5-derived hyperplanes the
    Spark operator uses — the LSH is deterministic, so the DuckDB oracle
    replicates buckets, multiprobe and re-rank value-exactly."""
    rows = []
    for t in range(n_tables):
        planes = simsearch._hyperplane_weights(dim, n_bits, seed + 1000 * t)
        for j, w in enumerate(planes):
            arr = "[" + ", ".join(repr(x) for x in w) + "]"
            rows.append(f"({t}, {j}, {arr}::DOUBLE[])")
    return ", ".join(rows)


_ANN_BITS, _ANN_DIM, _ANN_SEED, _ANN_TABLES = 8, 64, 42, 2


@q(
    "ann_lsh_topk",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    planes(tbl, j, w) AS (VALUES {{planes}}),
    bits AS (
      SELECT v.vec_id, p.tbl, p.j,
             CASE WHEN list_dot_product(v.e, p.w) >= 0 THEN 1 ELSE 0 END AS b
      FROM emb v CROSS JOIN planes p
    ),
    buckets AS (
      SELECT vec_id, tbl,
             CAST(SUM(b * (1 << ({_ANN_BITS} - 1 - j))) AS INT) AS bucket
      FROM bits GROUP BY vec_id, tbl
    ),
    qb AS (SELECT vec_id AS query_id, tbl, bucket FROM buckets WHERE vec_id < 8),
    qprobe AS (
      SELECT query_id, tbl, bucket FROM qb
      UNION
      SELECT query_id, tbl, CAST(xor(bucket, 1 << j) AS INT)
      FROM qb CROSS JOIN (SELECT unnest(range({_ANN_BITS})) AS j)
    ),
    cand AS (
      SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
      FROM qprobe q JOIN buckets b
        ON q.tbl = b.tbl AND q.bucket = b.bucket AND b.vec_id <> q.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             ROUND(list_cosine_similarity(qe.e, ne.e), 6) AS cos
      FROM cand c
      JOIN emb qe ON qe.vec_id = c.query_id
      JOIN emb ne ON ne.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM scored) WHERE rank <= 5
    """.replace(
        "{planes}", _lsh_planes_sql(_ANN_BITS, _ANN_DIM, _ANN_SEED, _ANN_TABLES)
    ),
)
def ann_lsh_topk(spark, sf_dir):
    base = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # spread: single-row-group scan = one task for the per-vector bucket
    # HOFs and candidate cosines (r9); query side stays tiny/unspread
    e = spread(base)
    qv = base.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    return simsearch.lsh_topk(
        e, qv, k=5, n_bits=_ANN_BITS, dim=_ANN_DIM,
        seed=_ANN_SEED, n_tables=_ANN_TABLES,
    )


@q(
    "dedup_embedding",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    planes(tbl, j, w) AS (VALUES {{planes}}),
    bits AS (
      SELECT v.vec_id, p.tbl, p.j,
             CASE WHEN list_dot_product(v.e, p.w) >= 0 THEN 1 ELSE 0 END AS b
      FROM emb v CROSS JOIN planes p
    ),
    buckets AS (
      SELECT vec_id, tbl, CAST(SUM(b * (1 << (4 - 1 - j))) AS INT) AS bucket
      FROM bits GROUP BY vec_id, tbl
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.a_id, c.b_id, ROUND(list_cosine_similarity(ea.e, eb.e), 6) AS cos
    FROM cand c
    JOIN emb ea ON ea.vec_id = c.a_id
    JOIN emb eb ON eb.vec_id = c.b_id
    WHERE ROUND(list_cosine_similarity(ea.e, eb.e), 6) >= 0.4
    """.replace("{planes}", _lsh_planes_sql(4, 64, 42, 2)),
)
def dedup_embedding(spark, sf_dir):
    # spread: the checkpointed bucket frame inherits the scan's 1-task
    # partitioning, so without this the whole candidate join + cosine
    # verify ran on one or two cores (r9)
    e = spread(T(spark, sf_dir, "embeddings"))
    return dedup.embedding_neardup_pairs(
        e, "vec_id", "embedding", threshold=0.4, n_bits=4, dim=64, seed=42, n_tables=2
    )


@q(
    "ann_ivf_topk",
    oracle="""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (
      SELECT vec_id AS cent_id, e AS ce
      FROM emb ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16
    ),
    assigned AS (
      SELECT vec_id, e, cell FROM (
        SELECT v.vec_id, v.e, c.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY ROUND(list_cosine_similarity(v.e, c.ce), 6) DESC,
                          c.cent_id DESC) AS rn
        FROM emb v CROSS JOIN cent c)
      WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qe, cell FROM (
        SELECT q.vec_id AS query_id, q.e AS qe, c.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(q.e, c.ce), 6) DESC,
                          c.cent_id DESC) AS rn
        FROM emb q CROSS JOIN cent c WHERE q.vec_id < 8)
      WHERE rn <= 4
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qe, a.e), 6) AS cos
      FROM probes p JOIN assigned a
        ON p.cell = a.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank FROM scored)
    WHERE rank <= 5
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN top-k (operators/simsearch.ivf_topk): deterministic
    md5-sampled coarse centroids, 4-of-16 cell probe, exact re-rank.
    Value-exact vs the DuckDB oracle replicating the same quantizer."""
    base = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # spread: see ann_lsh_topk — one-task scan serialized assignment + probe
    e = spread(base)
    qv = base.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    return simsearch.ivf_topk(e, qv, k=5, n_cells=16, n_probe=4)


@q(
    "mention_spans_trie",
    oracle=_MENTION_CTE
    + "SELECT doc_id, m_start, m_end, surface, label FROM mentions",
)
def mention_spans_trie(spark, sf_dir):
    """The Arrow-batched broadcast trie (the north star's named physical
    shape: per-batch pandas-on-Arrow, broadcast token trie). Since the
    trie became the only matcher this runs the same plan as
    `mention_spans`, under the same value-exact oracle; it stays
    registered so the query list keeps its names and order."""
    snts = _en_doc_tokens(spark, sf_dir)
    return detect_mentions_trie(snts, dict(DOC_THESAURUS), ["doc_id"]).select(
        "doc_id", "m_start", "m_end", "surface", "label"
    )


@q(
    "mention_spans_dist",
    oracle=_MENTION_CTE
    + "SELECT doc_id, m_start, m_end, surface, label FROM mentions",
)
def mention_spans_dist(spark, sf_dir):
    """The fully-distributed thesaurus shape: the dim enters ONLY as a
    DataFrame (no driver dict / VALUES), the executor trie is built from
    the parquet side file (detect_mentions_trie_dist, default driver-local
    side dir under a local master), and the result must hash-match the
    same oracle as the broadcast-dict feed."""
    snts = _en_doc_tokens(spark, sf_dir)
    terms = spark.createDataFrame(DOC_THESAURUS, "term string, label string")
    return detect_mentions_trie_dist(snts, terms, ["doc_id"]).select(
        "doc_id", "m_start", "m_end", "surface", "label"
    )


@q(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
    sym AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ),
    reach(u, lbl) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM sym)
      UNION
      SELECT s.v, r.lbl FROM reach r JOIN sym s ON r.u = s.u
    )
    SELECT CAST(u AS BIGINT) AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster
    FROM reach GROUP BY u
    """,
)
def dedup_clusters(spark, sf_dir):
    """End-to-end dedup: MinHash-LSH candidate pairs (verified exact, so
    the pair set equals the exact-Jaccard oracle's) → large-star/small-star
    connected components → (doc_id, cluster = min doc_id in component).
    The composition a 100 TB dedup actually ships: bucketed candidate
    generation, candidate-only verification, O(log n)-round clustering."""
    d = spread(T(spark, sf_dir, "documents"))
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", k=3, n_hashes=32, bands=16, threshold=0.5
    )
    edges = pairs.select(
        F.col("a_id").cast("bigint").alias("a"),
        F.col("b_id").cast("bigint").alias("b"),
    )
    cc = graph.connected_components_twostar(edges)
    return cc.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("cluster"),
    )


@q(
    "winnow_fingerprints",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{_SQL_TOKEN_RE}') AS toks
      FROM documents
    ),
    pos AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p FROM docs),
    g AS (
      SELECT doc_id, p - 1 AS p0,
             md5(array_to_string(toks[p : p + 2], ' ')) AS gh
      FROM pos WHERE p + 2 <= len(toks)
    ),
    sel AS (
      SELECT doc_id,
        MIN(struct_pack(gh := gh, np := -p0)) OVER (
          PARTITION BY doc_id ORDER BY p0
          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
        COUNT(*) OVER (
          PARTITION BY doc_id ORDER BY p0
          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS c
      FROM g
    )
    SELECT DISTINCT CAST(doc_id AS BIGINT) AS id,
           CAST(-(m).np AS BIGINT) AS pos, (m).gh AS fp
    FROM sel WHERE c = 4
    """,
)
def winnow_fingerprints(spark, sf_dir):
    """MOSS winnowing fingerprints (k=3 token grams, window=4): the
    rolling-hash document-fingerprint primitive; selection reproduced
    bit-exactly by the struct-argmin window oracle."""
    d = spread(T(spark, sf_dir, "documents"))
    return textstats.winnow_fingerprints(d, "doc_id", "text", k=3, window=4)


_SENT_CTE = """
    snts AS (
      SELECT doc_id AS id, sid, TRIM(snt) AS snt FROM (
        SELECT doc_id,
               unnest(str_split(regexp_replace(text, '([.!?])\\s+',
                      '\\1' || chr(30), 'g'), chr(30))) AS snt,
               generate_subscripts(str_split(regexp_replace(text,
                      '([.!?])\\s+', '\\1' || chr(30), 'g'), chr(30)), 1)
                 AS sid
        FROM documents)
      WHERE LENGTH(TRIM(snt)) > 0
    )
"""


@q(
    "boilerplate_sentences",
    oracle="WITH " + _SENT_CTE + """
    SELECT snt, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs
    FROM snts GROUP BY snt HAVING COUNT(DISTINCT id) >= 3
    """,
)
def boilerplate_sentences(spark, sf_dir):
    """C4-style boilerplate sentence detection over the documents table."""
    d = spread(T(spark, sf_dir, "documents"))
    return textstats.boilerplate_sentences(d, "doc_id", "text", min_docs=3)


@q(
    "clean_boilerplate",
    oracle="WITH " + _SENT_CTE + """,
    boiler AS (SELECT snt FROM snts GROUP BY snt
               HAVING COUNT(DISTINCT id) >= 3),
    kept AS (SELECT * FROM snts WHERE snt NOT IN (SELECT snt FROM boiler))
    SELECT CAST(id AS BIGINT) AS id,
           md5(string_agg(snt, ' ' ORDER BY sid)) AS clean_md5
    FROM kept GROUP BY id
    """,
)
def clean_boilerplate(spark, sf_dir):
    """Documents with boilerplate sentences removed, value-checked via the
    md5 of the reassembled clean text."""
    d = spread(T(spark, sf_dir, "documents"))
    out = textstats.remove_boilerplate(d, "doc_id", "text", min_docs=3)
    return out.select(
        F.col("id").cast("bigint").alias("id"),
        F.md5("clean_text").alias("clean_md5"),
    )


def _pagerank_oracle(iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled power-iteration CTE chain mirroring graph.pagerank's
    expression shape exactly (same literals, same op order) so doubles
    agree far below the 6-dp rounding."""
    base = repr(1.0 - damping)
    parts = ["""
    WITH pedges AS (
      SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst
      FROM lineitem
    ),
    pnodes AS (SELECT src AS node FROM pedges UNION SELECT dst FROM pedges),
    pdeg AS (SELECT src, COUNT(*) AS deg FROM pedges GROUP BY src),
    pn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pnodes),
    pr0 AS (SELECT node, 1.0 / (SELECT n FROM pn) AS rank FROM pnodes)"""]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f""",
    pc{i} AS (SELECT e.dst AS node, SUM(r.rank / d.deg) AS contrib
             FROM pr{p} r JOIN pedges e ON r.node = e.src
             JOIN pdeg d ON e.src = d.src GROUP BY e.dst),
    pd{i} AS (SELECT COALESCE(SUM(rank), 0.0) AS dmass FROM pr{p}
             WHERE node NOT IN (SELECT src FROM pedges)),
    pr{i} AS (SELECT nd.node,
               {base} / (SELECT n FROM pn)
               + {damping} * (COALESCE(c.contrib, 0.0)
                  + (SELECT dmass FROM pd{i}) / (SELECT n FROM pn)) AS rank
             FROM pnodes nd LEFT JOIN pc{i} c ON nd.node = c.node)""")
    parts.append(f"""
    SELECT node, ROUND(rank * (SELECT n FROM pn), 6) AS rank FROM pr{iters}
    """)
    return "".join(parts)


@q("entity_pagerank", oracle=_pagerank_oracle(5, 0.85))
def entity_pagerank(spark, sf_dir):
    """PageRank over the part→supplier KG edges (the entity-importance
    signal for choosing a canonical representative per dedup cluster)."""
    li = T(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("P"), "l_partkey").alias("src"),
        F.concat(F.lit("S"), "l_suppkey").alias("dst"),
    )
    # 6M edge rows dedupe to 5.99M — pagerank's internal distinct gets a
    # useless map-side partial aggregate (reduction 1.0x, multi-100k-entry
    # hash tables per task). Repartitioning on the keys first moves the
    # exchange below both aggregate passes: measured 2x on the distinct
    # (7.4→3.2s first / 3.1→1.7s steady at sf1.0). Same trick as
    # ngram_jaccard_pairs. Keys only, so AQE may coalesce it: a fixed
    # partition count is never coalesced, and every stage scanning the
    # loop's checkpointed frames then ran that many tasks (682 in all on
    # 60k edges with 64 shuffle partitions, against 52 key-only).
    edges = edges.repartition("src", "dst")
    return graph.pagerank(edges, iters=5, damping=0.85)


@q(
    "unigram_logprob",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id AS id,
             ln(COUNT(*) OVER (PARTITION BY term)) AS lnc
      FROM (
        SELECT doc_id,
               unnest(list_transform(regexp_extract_all(text,
                      '{_SQL_TOKEN_RE}'), x -> lower(x))) AS term
        FROM documents)
    ),
    per_doc AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(lnc) AS slc
      FROM occ GROUP BY id
    ),
    n AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS N FROM per_doc)
    SELECT id, n_tokens,
           ROUND((slc - n_tokens * ln((SELECT N FROM n))) / n_tokens, 6)
             AS avg_logprob
    FROM per_doc
    """,
)
def unigram_logprob(spark, sf_dir):
    """Corpus-unigram average log-probability per document."""
    d = spread(T(spark, sf_dir, "documents"))
    return textstats.unigram_logprob(d, "doc_id", "text")


@q(
    "tfidf_topk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id AS id,
             unnest(list_transform(regexp_extract_all(text, '{_SQL_TOKEN_RE}'),
                    x -> lower(x))) AS term
      FROM documents
    ),
    tf AS (SELECT id, term, COUNT(*) AS tf FROM t GROUP BY id, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
    scored AS (
      SELECT id, term, tf,
             ROUND(tf * ln((SELECT n FROM n) / df), 6) AS score
      FROM tf JOIN dfq USING (term)
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                 ORDER BY score DESC, term ASC) AS rk
      FROM scored
    )
    SELECT id, term, CAST(tf AS BIGINT) AS tf, score, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def tfidf_topk(spark, sf_dir):
    """Top-5 TF-IDF terms per document."""
    d = spread(T(spark, sf_dir, "documents"))
    return textstats.tfidf_topk(d, "doc_id", "text", k=5)


_REP_CTE = f"""
    rdocs AS (
      SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents
    ),
    rg AS (
      SELECT doc_id, array_to_string(toks[p : p + 1], ' ') AS gram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS p FROM rdocs)
    ),
    rpg AS (SELECT doc_id, gram, COUNT(*) AS c FROM rg GROUP BY doc_id, gram),
    rep AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
             ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_ngram_frac,
             ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / SUM(c), 6)
               AS dup_ngram_frac
      FROM rpg GROUP BY doc_id
    )
"""


@q(
    "repetition_stats",
    oracle="WITH " + _REP_CTE + """
    SELECT doc_id AS id, n_grams, top_ngram_frac, dup_ngram_frac FROM rep
    """,
)
def repetition_stats(spark, sf_dir):
    """Gopher-style bigram repetition fractions per document."""
    d = spread(T(spark, sf_dir, "documents"))
    return textstats.repetition_stats(d, "doc_id", "text", n=2)


@q(
    "quality_filter",
    oracle="WITH " + _REP_CTE + """,
    tok AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             len(list_distinct(toks)) * 1.0 / GREATEST(len(toks), 1)
               AS distinct_frac
      FROM rdocs
    )
    SELECT t.doc_id AS id, t.n_tokens,
           t.n_tokens >= 20 AS len_ok,
           COALESCE(r.top_ngram_frac <= 0.10, TRUE) AS top_bigram_ok,
           COALESCE(r.dup_ngram_frac <= 0.90, TRUE) AS dup_bigram_ok,
           t.distinct_frac >= 0.20 AS distinct_ok,
           (t.n_tokens >= 20 AND COALESCE(r.top_ngram_frac <= 0.10, TRUE)
            AND COALESCE(r.dup_ngram_frac <= 0.90, TRUE)
            AND t.distinct_frac >= 0.20) AS keep
    FROM tok t LEFT JOIN rep r USING (doc_id)
    """,
)
def quality_filter(spark, sf_dir):
    """Combined Gopher-rule keep/drop decision with per-rule bits."""
    d = spread(T(spark, sf_dir, "documents"))
    return textstats.quality_filter(d, "doc_id", "text")


@q(
    "boilerplate_phrases",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, array_to_string(toks[p : p + 4], ' ') AS phrase
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS p
            FROM docs)
    )
    SELECT phrase, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM g GROUP BY phrase HAVING COUNT(DISTINCT doc_id) >= 3
    """,
)
def boilerplate_phrases(spark, sf_dir):
    """Repeated 5-gram phrases across >= 3 docs (C4-style boilerplate at
    phrase granularity — non-trivial on this corpus, unlike full-sentence
    repeats)."""
    d = spread(T(spark, sf_dir, "documents"))
    return textstats.boilerplate_phrases(d, "doc_id", "text", n=5, min_docs=3)
