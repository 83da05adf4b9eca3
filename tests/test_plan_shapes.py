"""Physical-plan regression guards.

Correctness is gated by the DuckDB oracles; these tests gate the SCALE
properties — the plan shapes that keep queries viable at 100 TB. A
refactor that silently turns a broadcast join into a sort-merge join or
doubles the corpus scans still passes the oracles; it fails here.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod


def plan_of(spark, name, sf_dir):
    df = entrymod.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def op_counts(plan: str) -> dict[str, int]:
    ops: dict[str, int] = {}
    for line in plan.splitlines():
        m = re.match(r"^\s*\(\d+\) (\w+)", line)
        if m:
            ops[m.group(1)] = ops.get(m.group(1), 0) + 1
    return ops


def test_mention_spans_broadcasts_thesaurus(spark, sf_dir):
    # the thesaurus ships as a broadcast variable to one trie UDF; it is
    # never joined against the corpus, so the plan holds no join at all
    plan = plan_of(spark, "mention_spans", sf_dir)
    ops = op_counts(plan)
    assert ops.get("MapInPandas", 0) == 1, ops
    for join_op in ("BroadcastHashJoin", "SortMergeJoin", "CartesianProduct"):
        assert ops.get(join_op, 0) == 0, f"unexpected {join_op} in mention_spans"


def test_pricing_summary_prunes_columns_and_partial_aggs(spark, sf_dir):
    plan = plan_of(spark, "pricing_summary", sf_dir)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:400]
    read_cols = [c.split(":")[0] for c in m.group(1).split(",")]
    # 16-column lineitem: only the 5 referenced columns may be read
    assert set(read_cols) == {
        "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_linestatus",
    }, read_cols
    assert "partial_sum" in plan, "map-side combine must run before the shuffle"


def test_mention_spans_pushes_lang_filter_to_scan(spark, sf_dir):
    plan = plan_of(spark, "mention_spans", sf_dir)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), (m.group(0) if m else plan[:400])


def test_tfidf_single_corpus_explode(spark, sf_dir):
    plan = plan_of(spark, "tfidf_topk", sf_dir)
    ops = op_counts(plan)
    # one Generate = one posexplode of the corpus; the second scan is the
    # column-pruned doc-count aggregate, never a second explode
    assert ops.get("Generate", 0) == 1, ops
    assert ops.get("Scan", 0) <= 2


def test_dedup_minhash_has_no_product_join(spark, sf_dir):
    plan = plan_of(spark, "dedup_minhash_lsh", sf_dir)
    ops = op_counts(plan)
    assert ops.get("CartesianProduct", 0) == 0
    assert ops.get("BroadcastNestedLoopJoin", 0) == 0, (
        "candidate generation must stay band-bucketed (equi-join)"
    )


def test_asof_is_single_key_shuffle(spark, sf_dir):
    plan = plan_of(spark, "asof_click_signup", sf_dir)
    ops = op_counts(plan)
    # union-sort formulation: signup pre-agg exchange + ONE key exchange
    # for the window; a range-join rewrite would add joins
    assert ops.get("SortMergeJoin", 0) == 0
    assert ops.get("Exchange", 0) <= 2, ops
    assert ops.get("Window", 0) == 1


def test_revenue_rollup_broadcasts_all_dims(spark, sf_dir):
    plan = plan_of(spark, "revenue_rollup", sf_dir)
    ops = op_counts(plan)
    assert ops.get("BroadcastHashJoin", 0) == 3
    assert ops.get("SortMergeJoin", 0) == 0
    assert ops.get("Expand", 0) == 1, "rollup must be one Expand pass"


def test_boilerplate_phrases_one_unit_shuffle(spark, sf_dir):
    plan = plan_of(spark, "boilerplate_phrases", sf_dir)
    ops = op_counts(plan)
    # spread repartition + doc window + phrase agg — and nothing more
    assert ops.get("Exchange", 0) <= 3, ops
    assert ops.get("HashAggregate", 0) >= 2, "phrase agg must partial-agg"


def _raw_plan(df):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_star_edges_window_not_join(spark):
    """surface_star_edges must be one window pass on nsurf — a self-join
    here is the S^2 edge blow-up the operator exists to avoid."""
    from thesaurus_based_ner_spark.operators.canonicalize import (
        surface_star_edges,
    )

    anchor = spark.createDataFrame(
        [(f"E{i}", "usa") for i in range(50)], "entity string, surface string"
    )
    plan = _raw_plan(surface_star_edges(anchor))
    ops = op_counts(plan)
    assert ops.get("Window", 0) == 1
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert ops.get(join_op, 0) == 0, f"unexpected {join_op} in star edges"


def test_salted_star_runs_the_big_window_once(spark):
    """n_salt>1 must cost ONE full window pass + one map-side-combined
    groupBy, not two: deriving the bucket hubs from the window output
    (distinct under the union) re-executed the (nsurf, bucket) window in
    both union branches (round 8). Exactly two Window nodes — the
    per-bucket star and the tiny across-hubs window — and no joins."""
    from thesaurus_based_ner_spark.operators.canonicalize import (
        surface_star_edges,
    )

    anchor = spark.createDataFrame(
        [(f"E{i}", "usa") for i in range(50)], "entity string, surface string"
    )
    plan = _raw_plan(surface_star_edges(anchor, n_salt=8))
    ops = op_counts(plan)
    assert ops.get("Window", 0) == 2, ops
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert ops.get(join_op, 0) == 0, f"unexpected {join_op} in salted star"


def test_tui_prefix_terms_prunes_orders_scan(spark, sf_dir):
    # the MRCONSO-shaped projection must not drag unused orders columns
    # through the scan; no cartesian anywhere (the 1-row root join is a
    # broadcast nested loop, which is fine)
    plan = plan_of(spark, "tui_prefix_terms", sf_dir)
    assert op_counts(plan).get("CartesianProduct", 0) == 0
    m = re.search(r"ReadSchema: struct<(o_[^>]*)>", plan)
    assert m, plan[:600]
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {"o_orderkey", "o_orderpriority", "o_orderdate"}, (
        read_cols
    )


def test_twitter_dictionary_plan_depth_is_bounded(spark, sf_dir):
    # each subtraction step references the running dictionary 3x; without
    # the per-step localCheckpoint the lazy plan re-derives the base frame
    # 3^N times (81 part scans after the 4-step chain). Checkpointing
    # bounds the FINAL plan to the dedup aggregate over one materialized
    # frame — no parquet scan survives in it at all.
    plan = plan_of(spark, "twitter_term2cat", sf_dir)
    ops = op_counts(plan)
    assert ops.get("Scan", 0) + sum(
        v for k, v in ops.items() if k.startswith("FileScan")
    ) <= 1, ops
    assert "ExistingRDD" in plan or "LocalTableScan" in plan or ops.get(
        "Scan", 0
    ) <= 1


# ---------------------------------------------------------------------------
# r9 optimization guards: score-then-distinct dedup shapes + skip-partial-agg
# ---------------------------------------------------------------------------

def test_dedup_embedding_scores_before_distinct(spark, sf_dir):
    """The candidate dedup must run on scalar (a_id, b_id, cos) keys AFTER
    the cosine filter — never a first()-on-array SortAggregate over the
    full candidate multiset carrying both embedding arrays (the r8 shape
    cost 151.9s at sf1.0)."""
    plan = plan_of(spark, "dedup_embedding", sf_dir)
    ops = op_counts(plan)
    assert "first(" not in plan, "distinct must not carry the arrays"
    assert ops.get("SortAggregate", 0) == 0, ops
    assert ops.get("HashAggregate", 0) >= 2, "scalar-key distinct"


def test_dedup_simhash_filters_before_distinct(spark, sf_dir):
    """Hamming verify runs in the join stage; the distinct sees verified
    pairs only (no first()-carrying aggregate of raw candidates)."""
    plan = plan_of(spark, "dedup_simhash", sf_dir)
    assert "first(" not in plan
    assert op_counts(plan).get("SortAggregate", 0) == 0


def test_ngram_jaccard_no_postagg_size_joins(spark, sf_dir):
    """na/nb ride the pair rows as grouping keys: exactly ONE join (the
    shared-shingle self-join) and the pair-count exchange sits BELOW both
    aggregate passes (skip-useless-partial-agg shape)."""
    plan = plan_of(spark, "dedup_ngram_jaccard", sf_dir)
    ops = op_counts(plan)
    joins = sum(
        ops.get(j, 0)
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert joins == 1, f"size joins must be gone: {ops}"
    # key-only repartition: below both aggregates, and AQE may coalesce it
    assert "REPARTITION_BY_COL" in plan, "pair agg must shuffle raw rows"
    assert "REPARTITION_BY_NUM" not in plan, "a fixed count AQE never sizes"


def test_entity_pagerank_stages_follow_aqe(spark, sf_dir):
    """The pre-distinct edge repartition names keys only, so AQE coalesces
    it on small inputs: with 64 shuffle partitions no stage of the query
    runs 64 tasks. A fixed-count repartition ran 64 and 128 per stage, and
    every stage scanning pagerank's checkpointed frames inherited them."""
    sc = spark.sparkContext
    before = spark.conf.get("spark.sql.shuffle.partitions")
    group = "test-entity-pagerank-tasks"
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    sc.setJobGroup(group, group)
    try:
        entrymod.queries()["entity_pagerank"](spark, sf_dir).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.shuffle.partitions", before)
    tracker = sc.statusTracker()
    tasks = {
        sid: tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    }
    assert tasks and max(tasks.values()) < 64, tasks


@pytest.mark.parametrize(
    "t, na, nb",
    [
        (0.2, 1, 5),
        (0.4, 2, 5),
        (0.45, 9, 20),
        (0.5, 2, 4),
        (0.55, 11, 20),
        (0.65, 13, 20),
        (0.8, 4, 5),
        (0.9, 9, 10),
    ],
)
def test_ngram_jaccard_keeps_exact_threshold_boundary(spark, t, na, nb):
    """The size-ratio prune must keep J == threshold exactly: doc A's
    shingles ⊂ doc B's with |A|=na, |B|=nb → J = na/nb = t. A prune
    written as (1+t)·min ≥ t·(na+nb) in doubles drops the pair at
    t ∈ {0.2, 0.4, 0.45, 0.9}."""
    from thesaurus_based_ner_spark.operators import dedup

    k = 3
    words = [f"w{chr(ord('a') + i)}" for i in range(nb + k - 1)]
    df = spark.createDataFrame(
        [(1, " ".join(words[: na + k - 1])), (2, " ".join(words))],
        "id long, text string",
    )
    rows = dedup.ngram_jaccard_pairs(
        df, "id", "text", k=k, threshold=t
    ).collect()
    assert len(rows) == 1 and rows[0]["jaccard"] == t, rows


def test_minhash_single_corpus_pass(spark, sf_dir):
    """Signatures and verification sets share ONE checkpointed shingle
    frame — the corpus must not be tokenized twice (scan count over the
    documents file stays at the checkpoint's)."""
    plan = plan_of(spark, "dedup_minhash_lsh", sf_dir)
    assert plan.count("regexp_extract_all") == 0, (
        "tokenization must happen before the checkpoint, not in the "
        "final plan"
    )
