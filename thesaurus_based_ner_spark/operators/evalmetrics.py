"""Span-level evaluation metrics (SURVEY.md §2 A8/J6/U8).

Reference: NERTestor metric battery (/root/reference/src/ner_model/
evaluator.py): strict seqeval PRF (:597-626), lenient overlap PRF
(:656-712), per-label breakdown. Implemented as joins + aggregations over
exploded span tables — pure SQL, no Python.

Span tables: (doc-id cols..., m_start, m_end, label).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _prf(
    tp: Column, n_pred: Column, n_gold: Column, tp_gold: Column | None = None
) -> list[Column]:
    """precision / recall / f1 columns, each rounded to 6 places; a zero
    denominator scores 0.0. `tp_gold` is the recall numerator when it
    differs from the precision one (lenient matching counts matched pred
    and matched gold spans separately)."""
    if tp_gold is None:
        tp_gold = tp
    prec = F.when(n_pred > 0, tp / n_pred).otherwise(0.0)
    rec = F.when(n_gold > 0, tp_gold / n_gold).otherwise(0.0)
    f1 = F.when((prec + rec) > 0, F.lit(2) * prec * rec / (prec + rec)).otherwise(0.0)
    return [
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    ]


def strict_prf(pred: DataFrame, gold: DataFrame, id_cols: list[str]) -> DataFrame:
    """Exact (span ∧ label) match P/R/F1, one row overall.

    ONE action: full-outer join on the span key, then a single aggregate —
    the pred/gold plans are each scanned once (the earlier 3-action form
    recomputed uncached inputs per count).
    """
    keys = id_cols + ["m_start", "m_end", "label"]
    p = pred.groupBy(keys).agg(F.count("*").alias("__np"))
    g = gold.groupBy(keys).agg(F.count("*").alias("__ng"))
    joined = p.join(g, keys, "full")
    agg = joined.agg(
        F.sum(F.coalesce("__np", F.lit(0))).alias("n_pred"),
        F.sum(F.coalesce("__ng", F.lit(0))).alias("n_gold"),
        F.sum(
            F.when(
                F.col("__np").isNotNull() & F.col("__ng").isNotNull(),
                F.least("__np", "__ng"),
            ).otherwise(0)
        ).alias("tp"),
    )
    return agg.select(
        F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
        F.coalesce("n_gold", F.lit(0)).cast("bigint").alias("n_gold"),
        F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        *_prf(F.col("tp"), F.col("n_pred"), F.col("n_gold")),
    )


def strict_prf_by_label(
    pred: DataFrame, gold: DataFrame, id_cols: list[str]
) -> DataFrame:
    """Per-label strict P/R/F1 (reference per-label breakdown)."""
    keys = id_cols + ["m_start", "m_end", "label"]
    # multiset tp = Σ least(pred count, gold count) per span key — the
    # same semantics as strict_prf; a left-semi count would let duplicate
    # pred rows each score against one gold row (recall could exceed 1)
    pc = pred.groupBy(*keys).agg(F.count("*").alias("__np"))
    gc = gold.groupBy(*keys).agg(F.count("*").alias("__ng"))
    tp = (
        pc.join(gc, keys)
        .select("label", F.least("__np", "__ng").alias("__tp"))
        .groupBy("label")
        .agg(F.sum("__tp").alias("tp"))
    )
    np_ = pred.groupBy("label").agg(F.count("*").alias("n_pred"))
    ng = gold.groupBy("label").agg(F.count("*").alias("n_gold"))
    out = (
        np_.join(ng, "label", "full")
        .join(tp, "label", "left")
        .fillna(0, ["tp", "n_pred", "n_gold"])
    )
    return out.select(
        "label",
        "n_pred",
        "n_gold",
        "tp",
        *_prf(F.col("tp"), F.col("n_pred"), F.col("n_gold")),
    )


def lenient_prf(pred: DataFrame, gold: DataFrame, id_cols: list[str]) -> DataFrame:
    """Overlap-match PRF (evaluator.py:656-712): a predicted span counts as
    correct if it overlaps any gold span with the same label."""
    p = pred.alias("p")
    g = gold.alias("g")
    on = [F.col(f"p.{c}") == F.col(f"g.{c}") for c in id_cols]
    overlap = (
        (F.col("p.m_start") < F.col("g.m_end"))
        & (F.col("g.m_start") < F.col("p.m_end"))
        & (F.col("p.label") == F.col("g.label"))
    )
    cond = overlap
    for c in on:
        cond = cond & c
    # ONE action: full-outer join (equi keys: id_cols + label, plus the
    # range condition) then distinct counts of each side's span key —
    # each input plan is evaluated once.
    pkey = F.struct(
        *[F.col(f"p.{c}") for c in id_cols],
        F.col("p.m_start"), F.col("p.m_end"), F.col("p.label"),
    )
    gkey = F.struct(
        *[F.col(f"g.{c}") for c in id_cols],
        F.col("g.m_start"), F.col("g.m_end"), F.col("g.label"),
    )
    both = F.col("p.m_start").isNotNull() & F.col("g.m_start").isNotNull()
    # guard: an unmatched outer row yields struct(NULL,...) which is
    # itself NON-null, so bare countDistinct(pkey) would count a phantom
    # pred per unmatched gold (and vice versa), inflating n_pred/n_gold
    agg = p.join(g, cond, "full").agg(
        F.countDistinct(
            F.when(F.col("p.m_start").isNotNull(), pkey)
        ).alias("n_pred"),
        F.countDistinct(
            F.when(F.col("g.m_start").isNotNull(), gkey)
        ).alias("n_gold"),
        F.countDistinct(F.when(both, pkey)).alias("pred_overlapped"),
        F.countDistinct(F.when(both, gkey)).alias("gold_overlapped"),
    )
    return agg.select(
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_gold").cast("bigint").alias("n_gold"),
        F.col("pred_overlapped").cast("bigint").alias("pred_overlapped"),
        F.col("gold_overlapped").cast("bigint").alias("gold_overlapped"),
        *_prf(
            F.col("pred_overlapped"), F.col("n_pred"), F.col("n_gold"),
            tp_gold=F.col("gold_overlapped"),
        ),
    )


def on_head_prf(pred: DataFrame, gold: DataFrame, id_cols: list[str]) -> DataFrame:
    """On-head PRF (reference evaluate_on_head, evaluator.py:628-654):
    spans reduced to (sentence, END, label) sets — a prediction is correct
    if it ends where a gold span of the same label ends, regardless of
    start. One full-outer join + aggregate."""
    keys = id_cols + ["m_end", "label"]
    p = pred.select(*keys).distinct().withColumn("__p", F.lit(1))
    g = gold.select(*keys).distinct().withColumn("__g", F.lit(1))
    agg = p.join(g, keys, "full").agg(
        F.sum(F.coalesce("__p", F.lit(0))).alias("n_pred"),
        F.sum(F.coalesce("__g", F.lit(0))).alias("n_gold"),
        F.sum(
            F.when(F.col("__p").isNotNull() & F.col("__g").isNotNull(), 1).otherwise(0)
        ).alias("tp"),
    )
    return agg.select(
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_gold").cast("bigint").alias("n_gold"),
        F.col("tp").cast("bigint").alias("tp"),
        *_prf(F.col("tp"), F.col("n_pred"), F.col("n_gold")),
    )


def span_detection_prf(
    pred: DataFrame, gold: DataFrame, id_cols: list[str]
) -> DataFrame:
    """Span-detection-only PRF (reference evaluate_span_detection,
    evaluator.py:797-816): every label collapses to 'span', then strict
    matching — measures boundary quality independent of typing."""
    return strict_prf(
        pred.withColumn("label", F.lit("span")),
        gold.withColumn("label", F.lit("span")),
        id_cols,
    )


def _tokens_under(
    tokens: DataFrame, spans: DataFrame, id_cols: list[str]
) -> DataFrame:
    """The rows of tokens (ids..., pos) that lie inside some span
    (ids..., m_start, m_end) of the same ids: an interval left-semi join."""
    return tokens.alias("t").join(
        spans.alias("s"),
        [F.col(f"t.{c}") == F.col(f"s.{c}") for c in id_cols]
        + [
            F.col("t.pos") >= F.col("s.m_start"),
            F.col("t.pos") < F.col("s.m_end"),
        ],
        "left_semi",
    )


def negative_token_prf(
    tokens: DataFrame,
    pred: DataFrame,
    gold: DataFrame,
    id_cols: list[str],
) -> DataFrame:
    """Negative-token PRF (reference calculate_negative_token_PRF,
    evaluator.py:45-75): gold-negative = token under no gold span;
    pred-negative = token under an nc-* pred span (or, when the prediction
    contains NO nc-* spans at all, any token under no pred span).

    tokens: one row per (ids..., pos). Coverage via interval joins + anti
    joins — token-level but never materializes tag strings.
    """
    keys = id_cols + ["pos"]
    g_neg = tokens.join(_tokens_under(tokens, gold, id_cols), keys, "left_anti")
    nc_pred = pred.filter(F.col("label").startswith("nc-"))
    has_nc = nc_pred.limit(1).count() > 0
    if has_nc:
        p_neg = _tokens_under(tokens, nc_pred, id_cols)
    else:
        p_neg = tokens.join(_tokens_under(tokens, pred, id_cols), keys, "left_anti")
    # one job: full-outer join of the two negative-token sets, indicator
    # sums — the previous three separate .count() actions re-ran the
    # interval joins from scratch per metric
    pi = p_neg.select(*keys).withColumn("__p", F.lit(1))
    gi = g_neg.select(*keys).withColumn("__g", F.lit(1))
    agg = pi.join(gi, keys, "full").agg(
        F.sum("__p").alias("n_p"),
        F.sum("__g").alias("n_g"),
        F.sum(F.when(F.col("__p").isNotNull() & F.col("__g").isNotNull(), 1)
              .otherwise(0)).alias("tp"),
    )
    n_p_ = F.coalesce(F.col("n_p"), F.lit(0))
    n_g_ = F.coalesce(F.col("n_g"), F.lit(0))
    return agg.select(
        n_p_.cast("bigint").alias("n_pred_neg"),
        n_g_.cast("bigint").alias("n_gold_neg"),
        F.col("tp").cast("bigint").alias("tp"),
        *_prf(F.col("tp"), n_p_, n_g_),
    )


def fp_analysis(pred: DataFrame, gold: DataFrame, id_cols: list[str]) -> DataFrame:
    """FP breakdown (reference analyze_fp, evaluator.py:241-302): each
    predicted span classifies as
      - 'miss classification on end'     — an overlapping gold span shares
        its label AND some overlapping gold span runs to (or past) the pred
        end (the reference's `e in gold_ends` over the clipped slice);
      - 'miss classification on non-end' — label shared, no such end;
      - 'on all O'                       — no gold overlap at all;
    spans overlapping gold of only OTHER labels are uncounted (reference
    falls through). Exact matches land in 'on end', as in the reference.
    """
    p = pred.alias("p")
    g = gold.alias("g")
    cond = [F.col(f"p.{c}") == F.col(f"g.{c}") for c in id_cols]
    overlap = (F.col("p.m_start") < F.col("g.m_end")) & (
        F.col("g.m_start") < F.col("p.m_end")
    )
    c = cond[0] if cond else F.lit(True)
    for x in cond[1:]:
        c = c & x
    joined = p.join(g, c & overlap, "left")
    pkey = [F.col(f"p.{x}") for x in id_cols] + [
        F.col("p.m_start"),
        F.col("p.m_end"),
        F.col("p.label"),
    ]
    per_pred = joined.groupBy(*pkey).agg(
        F.max(
            F.when(F.col("g.m_start").isNotNull(), 1).otherwise(0)
        ).alias("__any"),
        F.max(
            F.when(F.col("p.label") == F.col("g.label"), 1).otherwise(0)
        ).alias("__lab"),
        F.max(
            F.when(F.col("g.m_end") >= F.col("p.m_end"), 1).otherwise(0)
        ).alias("__end"),
    )
    cls = (
        F.when(F.col("__any") == 0, F.lit("on all O"))
        .when(
            (F.col("__lab") == 1) & (F.col("__end") == 1),
            F.lit("miss classification on end"),
        )
        .when(F.col("__lab") == 1, F.lit("miss classification on non-end"))
    )
    counted = per_pred.withColumn("class", cls).filter(F.col("class").isNotNull())
    out = counted.groupBy("class").agg(F.count("*").alias("count"))
    total = F.sum("count").over(Window.partitionBy())
    return out.select(
        "class",
        F.col("count").cast("bigint").alias("count"),
        F.round(F.col("count") * 100.0 / total, 6).alias("ratio_pct"),
    )


def prf_by_length(
    pred: DataFrame,
    gold: DataFrame,
    sentences: DataFrame,
    id_cols: list[str],
    bin_size: int = 5,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Strict PRF bucketed by sentence token length (reference
    evaluate_by_sentence_length, evaluator.py:720-762: bins (0,5], (5,10],
    …). One row per bin with P/R/F1."""
    bins = sentences.select(
        *id_cols,
        (
            F.floor((F.size(tokens_col) - 1) / bin_size) * bin_size
        ).cast("bigint").alias("bin_lo"),
    )
    keys = id_cols + ["m_start", "m_end", "label"]
    pb = pred.join(bins, id_cols).select(*keys, "bin_lo")
    gb = gold.join(bins, id_cols).select(*keys, "bin_lo")
    p = pb.groupBy("bin_lo").agg(F.count("*").alias("n_pred"))
    g = gb.groupBy("bin_lo").agg(F.count("*").alias("n_gold"))
    tp = (
        pb.join(gb, keys + ["bin_lo"], "left_semi")
        .groupBy("bin_lo")
        .agg(F.count("*").alias("tp"))
    )
    out = (
        p.join(g, "bin_lo", "full")
        .join(tp, "bin_lo", "left")
        .fillna(0, ["n_pred", "n_gold", "tp"])
    )
    return out.select(
        "bin_lo",
        (F.col("bin_lo") + bin_size).cast("bigint").alias("bin_hi"),
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_gold").cast("bigint").alias("n_gold"),
        F.col("tp").cast("bigint").alias("tp"),
        *_prf(F.col("tp"), F.col("n_pred"), F.col("n_gold")),
    )


def enumerated_negative_spans(
    sentences: DataFrame,
    gold: DataFrame,
    id_cols: list[str],
    max_len: int = 4,
    tokens_col: str = "tokens",
) -> DataFrame:
    """SO2: all candidate spans up to max_len tokens MINUS gold spans
    (reference get_enumerated_negative_spans, evaluator.py:318-343).

    Candidate enumeration is a per-sentence sequence explosion (bounded by
    max_len × |tokens| rows); the subtraction is a left-anti join on the
    span key. Both engines run the same SQL shape.
    """
    # sequence(0, -1) counts DOWN for empty token arrays, fabricating
    # negative-offset spans — guard empties out before enumerating
    cand = sentences.filter(F.size(tokens_col) > 0).select(
        *id_cols,
        F.explode(
            F.expr(
                f"""
                flatten(transform(sequence(0, size({tokens_col}) - 1), i ->
                  transform(sequence(i + 1,
                                     least(i + {max_len}, size({tokens_col}))),
                            j -> struct(CAST(i AS BIGINT) AS m_start,
                                        CAST(j AS BIGINT) AS m_end))))
                """
            )
        ).alias("__s"),
    ).select(*id_cols, "__s.m_start", "__s.m_end")
    return cand.join(
        gold.select(*id_cols, "m_start", "m_end").distinct(),
        id_cols + ["m_start", "m_end"],
        "left_anti",
    )


def metric_diff(
    base: DataFrame,
    focus: DataFrame,
    metric_col: str = "metric",
    value_col: str = "value",
) -> DataFrame:
    """Run-vs-run metric comparison — reference cli/compare_metrics.py:21-50
    (MLflow base/focus run diff: delta = focus − base per metric key).

    Full-outer on the metric key so a metric present in only one run
    surfaces with a NULL side (and NULL delta) instead of vanishing — the
    reference iterates base keys and would KeyError on asymmetry; this is
    the tolerant table form. Dim-sized both sides: one tiny shuffle (or a
    broadcast under AQE).
    """
    b = base.select(
        F.col(metric_col).alias("metric"),
        F.col(value_col).cast("double").alias("base_value"),
    )
    f = focus.select(
        F.col(metric_col).alias("metric"),
        F.col(value_col).cast("double").alias("focus_value"),
    )
    return b.join(f, "metric", "full_outer").select(
        "metric",
        "base_value",
        "focus_value",
        (F.col("focus_value") - F.col("base_value")).alias("delta"),
    )


def span_mismatch_analysis(
    pred: DataFrame, gold: DataFrame, id_cols: list[str]
) -> DataFrame:
    """Boundary-delta span classification (reference
    cli/analysis/analyze_span_mismatch.py:16-118): per predicted label —
    TP (exact span+label match), FP (no same-label token overlap at all),
    and for partially-overlapping same-label gold spans the four boundary
    counters early_start (gold starts later), late_start (gold starts
    earlier), early_end (gold ends later), late_end (gold ends earlier),
    each counted once PER overlapping gold span; plus an 'All' total row.

    Relational: one exact semi/anti split on the full key, one
    label-equal interval join for the partial counters, one anti-join for
    FPs — all equi-keyed on the sentence id, mention-sized.
    """
    keys = id_cols + ["m_start", "m_end", "label"]
    tp = (
        pred.join(gold, keys, "left_semi")
        .groupBy("label")
        .agg(F.count("*").alias("tp"))
    )
    nonex = pred.join(gold, keys, "left_anti")
    p = nonex.alias("p")
    g = gold.alias("g")
    cond = (F.col("p.label") == F.col("g.label")) & (
        F.col("p.m_start") < F.col("g.m_end")
    ) & (F.col("g.m_start") < F.col("p.m_end"))
    for c in id_cols:
        cond = cond & (F.col(f"p.{c}") == F.col(f"g.{c}"))
    j = p.join(g, cond, "inner")
    partial = j.groupBy(F.col("p.label").alias("label")).agg(
        F.sum(F.when(F.col("g.m_start") > F.col("p.m_start"), 1).otherwise(0))
        .alias("early_start"),
        F.sum(F.when(F.col("g.m_start") < F.col("p.m_start"), 1).otherwise(0))
        .alias("late_start"),
        F.sum(F.when(F.col("g.m_end") > F.col("p.m_end"), 1).otherwise(0))
        .alias("early_end"),
        F.sum(F.when(F.col("g.m_end") < F.col("p.m_end"), 1).otherwise(0))
        .alias("late_end"),
    )
    fp = (
        p.join(g, cond, "left_anti")
        .groupBy("label")
        .agg(F.count("*").alias("fp"))
    )
    labels = pred.select("label").distinct()
    per = (
        labels.join(tp, "label", "left")
        .join(fp, "label", "left")
        .join(partial, "label", "left")
        .select(
            "label",
            *[
                F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
                for c in (
                    "tp", "fp", "early_start", "late_start",
                    "early_end", "late_end",
                )
            ],
        )
    )
    counters = ("tp", "fp", "early_start", "late_start",
                "early_end", "late_end")
    totals = per.agg(
        *[F.sum(c).cast("bigint").alias(c) for c in counters]
    ).select(F.lit("All").alias("label"), *counters)
    return per.unionByName(totals)


def hierarchical_label_rollup(
    counts: DataFrame,
    edges: DataFrame,
    label_col: str = "label",
    n_col: str = "n",
    child_col: str = "child",
    parent_col: str = "parent",
) -> DataFrame:
    """Subtree-consistent label counts with percent-of-root (reference
    tree_visualize.make_node2count_consistently_with_child2parent:169-186
    + get_tree_str:145-162 ratios): rolled(node) = Σ own counts over the
    node's subtree (descendants incl. self); pct = 100·rolled/total.

    One closure build (dim-sized) + one join + one aggregate; the total is
    a 1-row broadcast, never a driver value.
    """
    from thesaurus_based_ner_spark.operators.graph import ancestor_closure

    closure = ancestor_closure(edges, child_col, parent_col, include_self=True)
    rolled = (
        counts.join(closure, counts[label_col] == closure["node"])
        .groupBy(F.col("ancestor").alias(label_col))
        .agg(F.sum(n_col).alias("n_rolled"))
    )
    own = counts.select(
        F.col(label_col), F.col(n_col).alias("n_self")
    )
    tree_nodes = closure.select("node").distinct()
    total = (
        counts.join(tree_nodes, counts[label_col] == tree_nodes["node"], "left_semi")
        .agg(F.sum(n_col).alias("__total"))
    )
    return (
        rolled.join(own, label_col, "left")
        .crossJoin(F.broadcast(total))
        .select(
            label_col,
            F.coalesce("n_self", F.lit(0)).cast("bigint").alias("n_self"),
            F.col("n_rolled").cast("bigint").alias("n_rolled"),
            F.round(F.col("n_rolled") * 100.0 / F.col("__total"), 6).alias(
                "pct_of_root"
            ),
        )
    )


def dataset_span_diff(
    base: DataFrame, focus: DataFrame, id_cols: list[str]
) -> DataFrame:
    """Over/under-predicted span diff between two span datasets restricted
    to sentences present in BOTH (reference error_analysis/
    compare_msc_datasets.py:17-45): 'over' = focus − base, 'under' =
    base − focus, as span rows with a direction column.
    """
    shared = (
        base.select(*id_cols).distinct()
        .join(focus.select(*id_cols).distinct(), id_cols, "inner")
    )
    keys = id_cols + ["m_start", "m_end", "label"]
    b = base.join(shared, id_cols, "left_semi")
    f = focus.join(shared, id_cols, "left_semi")
    over = f.join(b, keys, "left_anti").withColumn(
        "direction", F.lit("over")
    )
    under = b.join(f, keys, "left_anti").withColumn(
        "direction", F.lit("under")
    )
    return over.select(*keys, "direction").unionByName(
        under.select(*keys, "direction")
    )


def span_markup(
    diff: DataFrame,
    toks: DataFrame,
    id_cols: list[str] | None = None,
    ctx_before: int = 5,
    ctx_after: int = 6,
) -> DataFrame:
    """ASCII bracket markup of each diff span in its ±token context
    (reference error_analysis/compare.py:105-120: visualize_ner_result
    renders tokens[max(0, s-5) : e+6] around every over/under span; we
    emit the deterministic single-line bracket form
    ``lctx [direction:label span ] rctx`` instead of ipymarkup's
    multi-line underline art — same information, engine-stable, pure
    codegen string/array expressions, no UDF).

    diff: (ids..., m_start, m_end, label, direction) span rows.
    toks: (ids..., tokens) tokenized sentences. One doc-keyed equi-join.
    """
    ids = id_cols or ["doc_id"]
    j = diff.join(toks, ids)
    ctx_s = F.greatest(F.lit(0), F.col("m_start") - ctx_before)
    ctx_e = F.least(F.size("tokens"), F.col("m_end") + ctx_after)

    def seg(start_1based, length):  # '' → NULL so concat_ws skips it
        return F.nullif(
            F.array_join(F.slice("tokens", start_1based, length), " "),
            F.lit(""),
        )

    markup = F.concat_ws(
        " ",
        seg(ctx_s + 1, F.col("m_start") - ctx_s),
        F.concat(F.lit("["), "direction", F.lit(":"), "label"),
        seg(F.col("m_start") + 1, F.col("m_end") - F.col("m_start")),
        F.lit("]"),
        seg(F.col("m_end") + 1, ctx_e - F.col("m_end")),
    )
    return j.select(
        *ids, "m_start", "m_end", "label", "direction",
        markup.alias("markup"),
    )
