"""Round-2 query registry extension: gold-corpus ingestion, offset
translation, negative-category derivation, the evaluator battery,
multi-label datasets and hierarchy selection — each as a (spark, sf_dir) →
DataFrame callable with a DuckDB oracle, registered into the same
QUERIES/ORACLES maps as plans.queries.

Fixture conventions: the documents table is lowercase word-soup, so
deterministic span rules are token-LENGTH runs (runs of tokens with
length ≥ K), not capitalization; hierarchy fixtures are the ontology dim
(sources/webtext.ONTOLOGY_EDGES) embedded as VALUES on both engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window, functions as F

from thesaurus_based_ner_spark.operators import (
    evalmetrics,
    gold,
    graph,
    pseudo,
    sampling,
)
from thesaurus_based_ner_spark.operators import thesaurus as th_ops
from thesaurus_based_ner_spark.operators.checkpoint import checkpoint, fork
from thesaurus_based_ner_spark.operators.chunking import (
    np_chunks_df,
    right_shift_match_chunks,
)
from thesaurus_based_ner_spark.operators.mentions import (
    detect_mentions_trie,
    thesaurus_with_case,
    tokenize_df,
)
from thesaurus_based_ner_spark.operators.multimodal import (
    decode_and_featurize,
    resize_plan,
    sample_frames,
)
from thesaurus_based_ner_spark.plans.queries import (
    _MENTION_CTE,
    _SQL_TOKEN_RE,
    _STOP_LIST_SQL,
    _TH_VALUES,
    DOC_THESAURUS,
    T,
    _doc_tokens,
    _en_doc_tokens,
    q,
    spread,
)
from thesaurus_based_ner_spark.sources.webtext import (
    ONTOLOGY_EDGES,
    synth_ontology_edges,
)


# ---------------------------------------------------------------------------
# shared helpers: token-length run spans over the documents table
# ---------------------------------------------------------------------------


def _island_runs(marked: DataFrame, keys: list[str]) -> DataFrame:
    """Maximal runs of consecutive `ok` rows in `pos` order within each
    `keys` group: (keys..., m_start, m_end) — same island SQL shape as
    the oracles (lag → running sum → filter ok → min/max pos)."""
    w = Window.partitionBy(*keys).orderBy("pos")
    grp = F.sum(
        F.when(
            ~F.coalesce(F.lag("ok").over(w), F.lit(False)) | ~F.col("ok"), 1
        ).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        marked.withColumn("grp", grp)
        .filter("ok")
        .groupBy(*keys, "grp")
        .agg(
            F.min("pos").cast("bigint").alias("m_start"),
            (F.max("pos") + 1).cast("bigint").alias("m_end"),
        )
        .drop("grp")
    )


def _run_spans(toks: DataFrame, mask) -> DataFrame:
    """Maximal runs of tokens where mask(tok) holds: (doc_id, m_start, m_end)."""
    pos = toks.select(
        "doc_id", F.posexplode("tokens").alias("pos", "tok")
    ).withColumn("ok", mask)
    return _island_runs(pos, ["doc_id"])


def _run_sql(mask_sql: str, suffix: str = "") -> str:
    """DuckDB CTE producing runs{suffix}(doc_id, m_start, m_end) for a
    token mask. `suffix` disambiguates CTE names when several mask runs
    share one statement — emitted directly, so there is no fragile
    rename-by-str.replace step that silently no-ops on drift."""
    x = suffix
    return f"""
    docs{x} AS (
      SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents
    ),
    pos{x} AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p
             FROM docs{x}),
    marked{x} AS (SELECT doc_id, p, toks[p] AS tok, {mask_sql} AS ok
                FROM pos{x}),
    lagged{x} AS (
      SELECT *, COALESCE(LAG(ok) OVER (PARTITION BY doc_id ORDER BY p), false)
             AS prev_ok FROM marked{x}
    ),
    grouped{x} AS (
      SELECT *, SUM(CASE WHEN (NOT prev_ok) OR (NOT ok) THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS grp
      FROM lagged{x}
    ),
    runs{x} AS (
      SELECT doc_id, CAST(MIN(p) - 1 AS BIGINT) AS m_start,
             CAST(MAX(p) AS BIGINT) AS m_end
      FROM grouped{x} WHERE ok GROUP BY doc_id, grp
    )
    """


# lazy masks: Column construction needs an active session in classic mode
def _GOLD_MASK_SPARK():
    return F.length("tok") >= 5


_GOLD_MASK_SQL = "len(toks[p]) >= 5"


def _PRED_MASK_SPARK():
    return F.length("tok") >= 6


_PRED_MASK_SQL = "len(toks[p]) >= 6"


def _NC_MASK_SPARK():
    return F.col("tok").rlike("[aeiou]$")


_NC_MASK_SQL = "regexp_matches(toks[p], '[aeiou]$')"

_RUN_LABEL_SQL = "CASE WHEN m_end - m_start >= 2 THEN 'MULTI' ELSE 'SINGLE' END"


def _with_run_label(runs: DataFrame) -> DataFrame:
    """The Spark side of _RUN_LABEL_SQL."""
    return runs.withColumn(
        "label",
        F.when(F.col("m_end") - F.col("m_start") >= 2, "MULTI").otherwise(
            "SINGLE"
        ),
    )


def _gold_spans(spark, sf_dir) -> DataFrame:
    return _with_run_label(_run_spans(_doc_tokens(spark, sf_dir), _GOLD_MASK_SPARK()))


def _pred_spans(spark, sf_dir) -> DataFrame:
    return _with_run_label(_run_spans(_doc_tokens(spark, sf_dir), _PRED_MASK_SPARK()))


def _span_diff_frames(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    """(gold, pred) labeled-run frames from ONE corpus pass, materialized.

    The naive composition (_gold_spans + _pred_spans fed to the anti-join
    diff) re-derives the tokenize + posexplode + island-window subtree
    once per REFERENCE — the diff plan references each side ~4×, so the
    corpus was re-tokenized ~8× and dataset_span_diff was the slowest
    bench entry at sf0.1 (VERDICT r3). Here both masks ride one exploded
    frame (side becomes part of the window key — still a single doc-keyed
    shuffle), the tiny span-level result is localCheckpoint'ed once, and
    every downstream reference reads the materialized runs. On a real
    cluster this is exactly the stage you'd checkpoint: spans are ~100×
    smaller than the token stream.
    """
    toks = _doc_tokens(spark, sf_dir)
    pos = toks.select("doc_id", F.posexplode("tokens").alias("pos", "tok"))
    sides = pos.select(
        "doc_id",
        "pos",
        F.explode(
            F.array(
                F.struct(
                    F.lit("gold").alias("side"),
                    _GOLD_MASK_SPARK().alias("ok"),
                ),
                F.struct(
                    F.lit("pred").alias("side"),
                    _PRED_MASK_SPARK().alias("ok"),
                ),
            )
        ).alias("m"),
    ).select("doc_id", "pos", F.col("m.side").alias("side"), F.col("m.ok").alias("ok"))
    runs = checkpoint(_with_run_label(_island_runs(sides, ["doc_id", "side"])))
    # fork: fresh attribute ids per side — the diff plan self-joins the
    # checkpointed frame (gold × pred anti-joins), and Spark 4.1's
    # checkpoint plan copy intermittently trips on shared expr ids
    gold = fork(runs).filter(F.col("side") == "gold").drop("side")
    pred = fork(runs).filter(F.col("side") == "pred").drop("side")
    return gold, pred


_GOLD_CTE = "WITH " + _run_sql(_GOLD_MASK_SQL) + f""",
    gold AS (SELECT doc_id, m_start, m_end, {_RUN_LABEL_SQL} AS label FROM runs)
"""

# gold + pred in one statement needs distinct CTE names
def _dual_cte() -> str:
    g = _run_sql(_GOLD_MASK_SQL)
    p = _run_sql(_PRED_MASK_SQL, suffix="2")
    return f"""WITH {g},
    gold AS (SELECT doc_id, m_start, m_end, {_RUN_LABEL_SQL} AS label FROM runs),
    {p},
    pred AS (SELECT doc_id, m_start, m_end, {_RUN_LABEL_SQL} AS label FROM runs2)
    """


# ---------------------------------------------------------------------------
# S8: CoNLL2003 round trip — construct format-faithful blocks from the
# documents table, run the real parser + BIO decode
# ---------------------------------------------------------------------------

@q(
    "gold_conll_spans",
    oracle=_GOLD_CTE + "SELECT doc_id, m_start, m_end, 'TERM' AS label FROM gold",
)
def gold_conll_spans(spark, sf_dir):
    toks = _doc_tokens(spark, sf_dir)
    pos = toks.select(
        "doc_id", F.posexplode("tokens").alias("pos", "tok")
    ).withColumn("ok", _GOLD_MASK_SPARK())
    w = Window.partitionBy("doc_id").orderBy("pos")
    tag = (
        F.when(~F.col("ok"), F.lit("O"))
        .when(
            F.coalesce(F.lag("ok").over(w), F.lit(False)), F.lit("I-TERM")
        )
        .otherwise(F.lit("B-TERM"))
    )
    lines = pos.withColumn(
        "line", F.concat_ws(" ", "tok", F.lit("NNP"), F.lit("I-NP"), tag)
    )
    blocks = lines.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("block")
    )
    parsed = gold.parse_conll_blocks(
        blocks, block_col="block", id_col="doc_id", drop_docstart=False
    )
    return gold.bio_decode_spans(parsed, ["doc_id"]).select(
        "doc_id", "m_start", "m_end", "label"
    )


# ---------------------------------------------------------------------------
# S7 + X9: PubTator round trip — build pmid|t|…/pmid|a|… blocks with char
# spans over tokens 3..5, parse, re-tokenize, translate char → token
# ---------------------------------------------------------------------------

@q(
    "gold_pubtator_spans",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(3 AS BIGINT) AS m_start,
           CAST(5 AS BIGINT) AS m_end, 'DOC' AS label,
           array_to_string(toks[4:5], ' ') AS surface
    FROM docs WHERE len(toks) >= 5
    """,
)
def gold_pubtator_spans(spark, sf_dir):
    toks = _doc_tokens(spark, sf_dir).filter(F.size("tokens") >= 5)
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    abstract = F.array_join("tokens", " ")
    c_start = (
        F.length(F.array_join(F.slice("tokens", 1, 3), " ")) + 1
    ).cast("bigint")
    name = F.array_join(F.slice("tokens", 4, 2), " ")
    c_end = c_start + F.length(name)
    shift = F.length(title) + 1
    block = F.concat_ws(
        "\n",
        F.concat(F.col("doc_id").cast("string"), F.lit("|t|"), title),
        F.concat(F.col("doc_id").cast("string"), F.lit("|a|"), abstract),
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            (c_start + shift).cast("string"),
            (c_end + shift).cast("string"),
            name,
            F.lit("DOC"),
            F.lit("C00"),
        ),
    )
    blocks = toks.select(block.alias("block"))
    parsed = gold.parse_pubtator_blocks(blocks)
    abst = parsed.filter(
        (F.col("section") == "abstract") & (F.size("spans") > 0)
    )
    char_spans = abst.select(
        "pmid", F.explode("spans").alias("s")
    ).select(
        "pmid",
        F.col("s.c_start").alias("c_start"),
        F.col("s.c_end").alias("c_end"),
        F.col("s.label").alias("label"),
        F.col("s.name").alias("surface"),
    )
    tokenized = tokenize_df(
        abst.select("pmid", F.col("text")), "text"
    ).select("pmid", "tokens")
    out = gold.translate_char_spans(char_spans, tokenized, ["pmid"])
    return out.select(
        F.col("pmid").cast("bigint").alias("doc_id"),
        "m_start",
        "m_end",
        "label",
        "surface",
    )


# ---------------------------------------------------------------------------
# SO1: negative-category derivation over the ontology dim
# ---------------------------------------------------------------------------

_EDGES_SQL = ", ".join(f"('{c}', '{p}')" for c, p in ONTOLOGY_EDGES)


@q(
    "negative_cats",
    oracle=f"""
    WITH RECURSIVE edges(child, parent) AS (VALUES {_EDGES_SQL}),
    focus(cat) AS (VALUES ('City'), ('Country')),
    asc_all(cat) AS (
      SELECT cat FROM focus
      UNION
      SELECT e.parent FROM asc_all a JOIN edges e ON e.child = a.cat
    ),
    ascendants AS (SELECT cat FROM asc_all WHERE cat NOT IN (SELECT cat FROM focus)),
    cands AS (
      SELECT DISTINCT e.child AS cat FROM edges e
      WHERE e.parent IN (SELECT cat FROM ascendants)
    )
    SELECT cat FROM cands
    WHERE cat NOT IN (SELECT cat FROM ascendants)
      AND cat NOT IN (SELECT cat FROM focus)
    """,
)
def negative_cats(spark, sf_dir):
    return th_ops.umls_negative_cats(
        synth_ontology_edges(spark), ["City", "Country"]
    )


@q(
    "negative_cats_toplevel",
    oracle=f"""
    WITH RECURSIVE edges(child, parent) AS (VALUES {_EDGES_SQL}),
    pos(cat) AS (VALUES ('City'), ('Organization')),
    closure(node, ancestor) AS (
      SELECT child, parent FROM edges
      UNION
      SELECT c.node, e.parent FROM closure c JOIN edges e ON e.child = c.ancestor
    ),
    closure_self AS (
      SELECT node, ancestor FROM closure
      UNION
      SELECT n, n FROM (SELECT child AS n FROM edges UNION SELECT parent FROM edges)
    ),
    has_pos AS (
      SELECT DISTINCT ancestor AS n FROM closure_self
      WHERE node IN (SELECT cat FROM pos)
    ),
    nodes AS (SELECT child AS n FROM edges UNION SELECT parent FROM edges),
    negative AS (SELECT n FROM nodes WHERE n NOT IN (SELECT n FROM has_pos)),
    blocked AS (
      SELECT DISTINCT c.node AS n FROM closure c
      WHERE c.ancestor IN (SELECT n FROM negative)
         OR c.ancestor IN (SELECT cat FROM pos)
    )
    SELECT DISTINCT n AS cat FROM negative WHERE n NOT IN (SELECT n FROM blocked)
    """,
)
def negative_cats_toplevel(spark, sf_dir):
    return th_ops.negative_cats_from_positive(
        synth_ontology_edges(spark), ["City", "Organization"]
    )


# ---------------------------------------------------------------------------
# G2: transitive reduction — ontology edges + redundant shortcuts
# ---------------------------------------------------------------------------

_SHORTCUTS = [("City", "Entity"), ("Chemical", "Entity"), ("BioProcess", "Entity")]
_EDGES_PLUS_SQL = ", ".join(
    f"('{c}', '{p}')" for c, p in ONTOLOGY_EDGES + _SHORTCUTS
)


@q(
    "transitive_reduction",
    oracle=f"""
    WITH RECURSIVE edges(child, parent) AS (VALUES {_EDGES_PLUS_SQL}),
    e AS (SELECT DISTINCT child, parent FROM edges),
    closure(node, ancestor) AS (
      SELECT child, parent FROM e
      UNION
      SELECT c.node, x.parent FROM closure c JOIN e x ON x.child = c.ancestor
    ),
    redundant AS (
      SELECT DISTINCT e1.child, c.ancestor AS parent
      FROM e e1 JOIN closure c ON c.node = e1.parent
    )
    SELECT e.child, e.parent FROM e
    LEFT JOIN redundant r ON e.child = r.child AND e.parent = r.parent
    WHERE r.child IS NULL
    """,
)
def transitive_reduction(spark, sf_dir):
    rows = ", ".join(f"('{c}', '{p}')" for c, p in ONTOLOGY_EDGES + _SHORTCUTS)
    edges = spark.sql(f"SELECT * FROM VALUES {rows} AS t(child, parent)")
    return graph.transitive_reduction(edges)


# ---------------------------------------------------------------------------
# U8: evaluator battery — pred/gold span tables from deterministic
# token-length rules over documents, evaluated by the evalmetrics operators
# ---------------------------------------------------------------------------

_PRF_TAIL = """
    SELECT CAST(np AS BIGINT) AS n_pred, CAST(ng AS BIGINT) AS n_gold,
           CAST(tp AS BIGINT) AS tp,
           ROUND(CASE WHEN np > 0 THEN tp / np ELSE 0 END, 6) AS precision,
           ROUND(CASE WHEN ng > 0 THEN tp / ng ELSE 0 END, 6) AS recall,
           ROUND(CASE WHEN np > 0 AND ng > 0 AND tp > 0
                 THEN 2.0 * (tp/np) * (tp/ng) / (tp/np + tp/ng)
                 ELSE 0 END, 6) AS f1
    FROM counts
"""


@q(
    "eval_on_head",
    oracle=_dual_cte()
    + f""",
    pk AS (SELECT DISTINCT doc_id, m_end, label FROM pred),
    gk AS (SELECT DISTINCT doc_id, m_end, label FROM gold),
    counts AS (
      SELECT (SELECT COUNT(*) FROM pk) AS np,
             (SELECT COUNT(*) FROM gk) AS ng,
             (SELECT COUNT(*) FROM pk JOIN gk USING (doc_id, m_end, label)) AS tp
    )
    {_PRF_TAIL}
    """,
)
def eval_on_head(spark, sf_dir):
    return evalmetrics.on_head_prf(
        _pred_spans(spark, sf_dir), _gold_spans(spark, sf_dir), ["doc_id"]
    )


@q(
    "eval_span_detection",
    oracle=_dual_cte()
    + f""",
    pk AS (SELECT DISTINCT doc_id, m_start, m_end FROM pred),
    gk AS (SELECT DISTINCT doc_id, m_start, m_end FROM gold),
    counts AS (
      SELECT (SELECT COUNT(*) FROM pk) AS np,
             (SELECT COUNT(*) FROM gk) AS ng,
             (SELECT COUNT(*) FROM pk JOIN gk USING (doc_id, m_start, m_end)) AS tp
    )
    {_PRF_TAIL}
    """,
)
def eval_span_detection(spark, sf_dir):
    return evalmetrics.span_detection_prf(
        _pred_spans(spark, sf_dir), _gold_spans(spark, sf_dir), ["doc_id"]
    )


@q(
    "eval_by_length",
    oracle=_dual_cte()
    + """,
    bins AS (
      SELECT doc_id, CAST(((len(toks) - 1) // 5) * 5 AS BIGINT) AS bin_lo
      FROM docs
    ),
    pb AS (SELECT p.*, b.bin_lo FROM pred p JOIN bins b USING (doc_id)),
    gb AS (SELECT g.*, b.bin_lo FROM gold g JOIN bins b USING (doc_id)),
    np AS (SELECT bin_lo, COUNT(*) AS n_pred FROM pb GROUP BY bin_lo),
    ng AS (SELECT bin_lo, COUNT(*) AS n_gold FROM gb GROUP BY bin_lo),
    tp AS (
      SELECT pb.bin_lo, COUNT(*) AS tp FROM pb
      JOIN gb ON pb.doc_id = gb.doc_id AND pb.m_start = gb.m_start
             AND pb.m_end = gb.m_end AND pb.label = gb.label
             AND pb.bin_lo = gb.bin_lo
      GROUP BY pb.bin_lo
    ),
    m AS (
      SELECT COALESCE(np.bin_lo, ng.bin_lo) AS bin_lo,
             COALESCE(n_pred, 0) AS n_pred, COALESCE(n_gold, 0) AS n_gold,
             COALESCE(tp, 0) AS tp
      FROM np FULL JOIN ng ON np.bin_lo = ng.bin_lo
      LEFT JOIN tp ON COALESCE(np.bin_lo, ng.bin_lo) = tp.bin_lo
    )
    SELECT bin_lo, CAST(bin_lo + 5 AS BIGINT) AS bin_hi,
           CAST(n_pred AS BIGINT) AS n_pred, CAST(n_gold AS BIGINT) AS n_gold,
           CAST(tp AS BIGINT) AS tp,
           ROUND(CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0 END, 6) AS precision,
           ROUND(CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0 END, 6) AS recall,
           ROUND(CASE WHEN n_pred > 0 AND n_gold > 0 AND tp > 0
                 THEN 2.0 * (tp/n_pred) * (tp/n_gold) / (tp/n_pred + tp/n_gold)
                 ELSE 0 END, 6) AS f1
    FROM m
    """,
)
def eval_by_length(spark, sf_dir):
    toks = _doc_tokens(spark, sf_dir)
    return evalmetrics.prf_by_length(
        _pred_spans(spark, sf_dir),
        _gold_spans(spark, sf_dir),
        toks,
        ["doc_id"],
        bin_size=5,
    )


@q(
    "eval_negative_token",
    oracle=_dual_cte().replace("pred AS (", "pred_len AS (")
    + f""",
    {_run_sql(_NC_MASK_SQL, suffix="3")},
    tokpos AS (
      SELECT doc_id, unnest(range(0, len(toks))) AS t FROM docs
    ),
    gcov AS (
      SELECT DISTINCT k.doc_id, k.t FROM tokpos k
      JOIN gold g ON k.doc_id = g.doc_id AND k.t >= g.m_start AND k.t < g.m_end
    ),
    gneg AS (
      SELECT k.doc_id, k.t FROM tokpos k
      LEFT JOIN gcov c ON k.doc_id = c.doc_id AND k.t = c.t
      WHERE c.doc_id IS NULL
    ),
    pneg AS (
      SELECT DISTINCT k.doc_id, k.t FROM tokpos k
      JOIN runs3 r ON k.doc_id = r.doc_id AND k.t >= r.m_start AND k.t < r.m_end
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM pneg) AS np,
             (SELECT COUNT(*) FROM gneg) AS ng,
             (SELECT COUNT(*) FROM pneg JOIN gneg USING (doc_id, t)) AS tp
    )
    SELECT CAST(np AS BIGINT) AS n_pred_neg, CAST(ng AS BIGINT) AS n_gold_neg,
           CAST(tp AS BIGINT) AS tp,
           ROUND(CASE WHEN tp > 0 AND np > 0 THEN tp / np ELSE 0 END, 6) AS precision,
           ROUND(CASE WHEN tp > 0 AND ng > 0 THEN tp / ng ELSE 0 END, 6) AS recall,
           ROUND(CASE WHEN tp > 0 AND np > 0 AND ng > 0
                 THEN 2.0 / (np/tp + ng/tp) ELSE 0 END, 6) AS f1
    FROM counts
    """,
)
def eval_negative_token(spark, sf_dir):
    toks = _doc_tokens(spark, sf_dir)
    tokens = toks.select(
        "doc_id", F.posexplode("tokens").alias("pos", "__tok")
    ).select("doc_id", "pos")
    nc = _run_spans(toks, _NC_MASK_SPARK()).withColumn("label", F.lit("nc-V"))
    pred = _pred_spans(spark, sf_dir).unionByName(nc)
    return evalmetrics.negative_token_prf(
        tokens, pred, _gold_spans(spark, sf_dir), ["doc_id"]
    )


@q(
    "eval_fp_analysis",
    oracle=_dual_cte()
    + f""",
    {_run_sql(_NC_MASK_SQL, suffix="3")},
    pred_all AS (
      SELECT doc_id, m_start, m_end, label FROM pred
      UNION ALL
      SELECT doc_id, m_start + 1, m_end + 1, label FROM gold
      UNION ALL
      SELECT doc_id, m_start, m_end, 'V' AS label FROM runs3
    ),
    per_pred AS (
      SELECT p.doc_id, p.m_start, p.m_end, p.label,
             MAX(CASE WHEN g.m_start IS NOT NULL THEN 1 ELSE 0 END) AS any_ov,
             MAX(CASE WHEN g.m_start IS NOT NULL AND p.label = g.label
                      THEN 1 ELSE 0 END) AS lab,
             MAX(CASE WHEN g.m_start IS NOT NULL AND g.m_end >= p.m_end
                      THEN 1 ELSE 0 END) AS on_end
      FROM pred_all p LEFT JOIN gold g
        ON p.doc_id = g.doc_id AND p.m_start < g.m_end AND g.m_start < p.m_end
      GROUP BY p.doc_id, p.m_start, p.m_end, p.label
    ),
    classed AS (
      SELECT CASE WHEN any_ov = 0 THEN 'on all O'
                  WHEN lab = 1 AND on_end = 1 THEN 'miss classification on end'
                  WHEN lab = 1 THEN 'miss classification on non-end'
             END AS class
      FROM per_pred
    ),
    counted AS (
      SELECT class, COUNT(*) AS count FROM classed
      WHERE class IS NOT NULL GROUP BY class
    )
    SELECT class, CAST(count AS BIGINT) AS count,
           ROUND(count * 100.0 / SUM(count) OVER (), 6) AS ratio_pct
    FROM counted
    """,
)
def eval_fp_analysis(spark, sf_dir):
    toks = _doc_tokens(spark, sf_dir)
    gold_spans = _gold_spans(spark, sf_dir)
    shifted = gold_spans.select(
        "doc_id",
        (F.col("m_start") + 1).alias("m_start"),
        (F.col("m_end") + 1).alias("m_end"),
        "label",
    )
    vowel = _run_spans(toks, _NC_MASK_SPARK()).withColumn("label", F.lit("V"))
    pred = _pred_spans(spark, sf_dir).unionByName(shifted).unionByName(vowel)
    return evalmetrics.fp_analysis(pred, gold_spans, ["doc_id"])


# ---------------------------------------------------------------------------
# SO2: enumerated candidate spans minus gold (aggregated per doc)
# ---------------------------------------------------------------------------

@q(
    "negative_spans_enumerated",
    oracle=_GOLD_CTE
    + """,
    cands AS (
      SELECT doc_id, SUM(LEAST(4, len(toks) - i)) AS n_candidates
      FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM docs)
      GROUP BY doc_id
    ),
    gshort AS (
      SELECT doc_id, COUNT(*) AS n_gold_short
      FROM (SELECT DISTINCT doc_id, m_start, m_end FROM gold
            WHERE m_end - m_start <= 4)
      GROUP BY doc_id
    )
    SELECT c.doc_id, CAST(c.n_candidates AS BIGINT) AS n_candidates,
           CAST(c.n_candidates - COALESCE(g.n_gold_short, 0) AS BIGINT)
             AS n_negative
    FROM cands c LEFT JOIN gshort g ON c.doc_id = g.doc_id
    """,
)
def negative_spans_enumerated(spark, sf_dir):
    toks = _doc_tokens(spark, sf_dir).filter(F.size("tokens") > 0)
    gold_spans = _gold_spans(spark, sf_dir)
    neg = evalmetrics.enumerated_negative_spans(
        toks, gold_spans, ["doc_id"], max_len=4
    )
    # candidate count per doc in closed form — Σ_{i<n} min(4, n-i) is
    # 4n-6 for n≥4 else n(n+1)/2 — instead of re-running the span
    # explosion a second time just to count it
    n = F.size("tokens").cast("bigint")
    cand_counts = toks.select(
        "doc_id",
        F.when(n >= 4, 4 * n - 6)
        .otherwise(n * (n + 1) / 2)
        .cast("bigint")
        .alias("n_candidates"),
    )
    neg_counts = neg.groupBy("doc_id").agg(F.count("*").alias("n_negative"))
    return (
        cand_counts.join(neg_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.coalesce("n_negative", F.lit(0)).cast("bigint").alias("n_negative"),
        )
    )


# ---------------------------------------------------------------------------
# SO3: oracle term2cat — cross-category term dedup over gold spans
# ---------------------------------------------------------------------------

@q(
    "oracle_term_dedup",
    oracle=_GOLD_CTE
    + """,
    spans AS (
      SELECT DISTINCT
        array_to_string(d.toks[g.m_start + 1 : g.m_end], ' ') AS term,
        'L' || CAST(g.doc_id % 3 AS VARCHAR) AS cat
      FROM gold g JOIN docs d ON g.doc_id = d.doc_id
    ),
    per_term AS (
      SELECT term, COUNT(*) AS k, MIN(cat) AS cat FROM spans GROUP BY term
    )
    SELECT term, cat FROM per_term WHERE k = 1
    """,
)
def oracle_term_dedup(spark, sf_dir):
    toks = _doc_tokens(spark, sf_dir)
    spans = _gold_spans(spark, sf_dir).join(toks, "doc_id")
    spans = spans.select(
        F.array_join(
            F.slice(
                "tokens",
                (F.col("m_start") + 1).cast("int"),
                (F.col("m_end") - F.col("m_start")).cast("int"),
            ),
            " ",
        ).alias("surface"),
        F.concat(F.lit("L"), (F.col("doc_id") % 3).cast("string")).alias(
            "label"
        ),
    )
    return th_ops.oracle_term2cat(spans)


# ---------------------------------------------------------------------------
# F6: remove_misguided_fns — markers are long-token runs, nc spans are
# vowel-final runs, positives are the gold rule
# ---------------------------------------------------------------------------

@q(
    "remove_misguided",
    oracle=_dual_cte().replace(
        "pred AS (SELECT doc_id, m_start, m_end,"
        " CASE WHEN m_end - m_start >= 2 THEN 'MULTI' ELSE 'SINGLE' END"
        " AS label FROM runs2)",
        "markers AS (SELECT doc_id, m_start, m_end, 'MISGUIDANCE' AS label"
        " FROM runs2)",
    )
    + f""",
    {_run_sql(_NC_MASK_SQL, suffix="3")},
    nc AS (SELECT doc_id, m_start, m_end, 'nc-V' AS label FROM runs3),
    nc_kept AS (
      SELECT n.* FROM nc n
      WHERE NOT EXISTS (
        SELECT 1 FROM markers m
        WHERE m.doc_id = n.doc_id AND n.m_start < m.m_end
          AND m.m_start < n.m_end)
    )
    SELECT doc_id, m_start, m_end, label FROM gold
    UNION ALL
    SELECT doc_id, m_start, m_end, label FROM nc_kept
    """,
)
def remove_misguided(spark, sf_dir):
    toks = _doc_tokens(spark, sf_dir)
    base = _gold_spans(spark, sf_dir)
    markers = _run_spans(toks, _PRED_MASK_SPARK()).withColumn(
        "label", F.lit("MISGUIDANCE")
    )
    nc = _run_spans(toks, _NC_MASK_SPARK()).withColumn("label", F.lit("nc-V"))
    spans = base.unionByName(markers).unionByName(nc)
    return pseudo.remove_misguided_fns(spans, ["doc_id"]).select(
        "doc_id", "m_start", "m_end", "label"
    )


# ---------------------------------------------------------------------------
# J5: right-shift (containment) chunk ⋈ match combo
# ---------------------------------------------------------------------------

_CHUNK_CTE = f"""
    chq AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p FROM docs
    ),
    chm AS (
      SELECT doc_id, toks, p, toks[p] AS tok,
             regexp_matches(toks[p], '^[A-Za-z0-9_]+$')
               AND lower(toks[p]) NOT IN ({_STOP_LIST_SQL}) AS is_content
      FROM chq
    ),
    chl AS (
      SELECT *, COALESCE(LAG(is_content) OVER (PARTITION BY doc_id ORDER BY p),
                          false) AS prev_content
      FROM chm
    ),
    chg AS (
      SELECT *, SUM(CASE WHEN (NOT prev_content) OR (NOT is_content)
                         THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS grp
      FROM chl
    ),
    chruns AS (
      SELECT doc_id, grp, MIN(p) AS run_first, MAX(p) AS run_last
      FROM chg WHERE is_content GROUP BY doc_id, grp
    ),
    chunks AS (
      SELECT doc_id, CAST(s - 1 AS BIGINT) AS c_start,
             CAST(least(s + 5, run_last) AS BIGINT) AS c_end
      FROM chruns, unnest(range(run_first, run_last + 1, 6)) AS t(s)
    )
"""


@q(
    "chunk_right_shift",
    oracle=_MENTION_CTE
    + ", "
    + _CHUNK_CTE
    + """
    SELECT DISTINCT w.doc_id, c.c_start AS m_start, w.m_end, w.label
    FROM w1 w JOIN chunks c
      ON w.doc_id = c.doc_id AND c.c_start <= w.m_start AND w.m_end <= c.c_end
    """,
)
def chunk_right_shift(spark, sf_dir):
    snts = _en_doc_tokens(spark, sf_dir)
    chunks = np_chunks_df(snts, ["doc_id"], max_len=6)
    matches = detect_mentions_trie(
        snts, dict(DOC_THESAURUS), ["doc_id"], merge_adjacent=False
    )
    return right_shift_match_chunks(
        chunks.select("doc_id", "m_start", "m_end"),
        matches.select("doc_id", "m_start", "m_end", "label"),
        ["doc_id"],
    )


# ---------------------------------------------------------------------------
# MSMLC multi-label dataset: resolved mentions × multi-cat dictionary,
# packed per sentence then exploded back to per-span label/weight rows
# ---------------------------------------------------------------------------

@q(
    "msmlc_exploded",
    oracle=_MENTION_CTE
    + f""",
    th2(term, n, label) AS (VALUES {_TH_VALUES}),
    multi AS (
      SELECT w.doc_id, w.m_start, w.m_end, t.label AS label,
             1.0 AS weight
      FROM w1 w JOIN th2 t ON lower(w.surface) = t.term
      UNION ALL
      SELECT w.doc_id, w.m_start, w.m_end,
             'alt_' || CAST(t.n AS VARCHAR) AS label, 0.5 AS weight
      FROM w1 w JOIN th2 t ON lower(w.surface) = t.term
    )
    SELECT doc_id, m_start, m_end, label,
           ROUND(CAST(weight AS DOUBLE), 6) AS weight
    FROM multi
    """,
)
def msmlc_exploded(spark, sf_dir):
    snts = _en_doc_tokens(spark, sf_dir)
    th = thesaurus_with_case(spark, dict(DOC_THESAURUS))
    resolved = detect_mentions_trie(
        snts, dict(DOC_THESAURUS), ["doc_id"], merge_adjacent=False
    )
    multi = resolved.join(
        F.broadcast(
            th.select(
                F.col("joined_lower").alias("__t"),
                F.array(F.col("label"), F.concat(F.lit("alt_"), F.col("n_tokens"))).alias("labels"),
                F.array(F.lit(1.0), F.lit(0.5)).alias("weights"),
            )
        ),
        F.lower(resolved["surface"]) == F.col("__t"),
    ).select("doc_id", "m_start", "m_end", "labels", "weights")
    packed = pseudo.msmlc_dataset(snts, multi, ["doc_id"])
    # explode back: one row per (span, label-k) — exercises the packed form
    span = F.explode(
        F.arrays_zip(
            F.col("starts").alias("s"),
            F.col("ends").alias("e"),
            F.col("labels").alias("ls"),
            F.col("weights").alias("ws"),
        )
    )
    rows = packed.select("doc_id", span.alias("sp")).select(
        "doc_id",
        F.col("sp.s").alias("m_start"),
        F.col("sp.e").alias("m_end"),
        F.explode(F.arrays_zip(F.col("sp.ls").alias("l"), F.col("sp.ws").alias("w"))).alias("lw"),
    )
    return rows.select(
        "doc_id",
        F.col("m_start").cast("bigint"),
        F.col("m_end").cast("bigint"),
        F.col("lw.l").alias("label"),
        F.round(F.col("lw.w").cast("double"), 6).alias("weight"),
    )


# ---------------------------------------------------------------------------
# W3: greedy probability-ordered BIO span selection — overlapping candidate
# spans with md5-derived probs; oracle replays the greedy walk with a
# recursive CTE carrying the accepted-interval list
# ---------------------------------------------------------------------------

@q(
    "greedy_bio",
    oracle=f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents
    ),
    starts AS (
      SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM docs
      WHERE len(toks) >= 3
    ),
    cand0 AS (
      SELECT doc_id, CAST(i AS BIGINT) AS m_start,
             CAST(i + w AS BIGINT) AS m_end
      FROM starts, unnest([2, 3]) AS t(w)
      WHERE len(toks[i + 1]) >= 5 AND i + w <= len(toks)
    ),
    cand AS (
      SELECT doc_id, m_start, m_end,
             ascii(substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                   CAST(m_start AS VARCHAR) || ':' ||
                   CAST(m_end AS VARCHAR)), 1, 1)) AS p,
             CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                   CAST(m_start AS VARCHAR) || ':' ||
                   CAST(m_end AS VARCHAR)), 2, 1)) % 4 = 0
                  THEN 'nc-X' ELSE 'G' END AS label
      FROM cand0
    ),
    ranked AS (
      SELECT doc_id, m_start, m_end, label,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY p DESC, m_start ASC, m_end ASC, label ASC) AS rk
      FROM cand WHERE label NOT LIKE 'nc-%'
    ),
    rec(doc_id, rk, acc) AS (
      SELECT doc_id, 0,
             CAST([] AS STRUCT(s BIGINT, e BIGINT, l VARCHAR)[])
      FROM (SELECT DISTINCT doc_id FROM ranked)
      UNION ALL
      SELECT r.doc_id, t.rk,
        CASE WHEN len(list_filter(r.acc,
                     a -> t.m_start < a.e AND a.s < t.m_end)) > 0 THEN r.acc
             ELSE list_append(r.acc,
                    {{'s': t.m_start, 'e': t.m_end, 'l': t.label}}) END
      FROM rec r JOIN ranked t ON t.doc_id = r.doc_id AND t.rk = r.rk + 1
    ),
    final AS (
      SELECT doc_id, acc FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rk DESC) AS rn
        FROM rec) WHERE rn = 1
    )
    SELECT doc_id, u.s AS m_start, u.e AS m_end, u.l AS label
    FROM final, unnest(acc) AS t(u)
    """,
)
def greedy_bio(spark, sf_dir):
    toks = _doc_tokens(spark, sf_dir).filter(F.size("tokens") >= 3)
    starts = toks.select(
        "doc_id",
        F.size("tokens").alias("__n"),
        F.posexplode("tokens").alias("i", "tok"),
    ).filter(F.length("tok") >= 5)
    cand0 = starts.select(
        "doc_id",
        "__n",
        F.col("i").cast("bigint").alias("m_start"),
        F.explode(
            F.array(
                (F.col("i") + 2).cast("bigint"), (F.col("i") + 3).cast("bigint")
            )
        ).alias("m_end"),
    ).filter(F.col("m_end") <= F.col("__n"))
    key = F.concat_ws(
        ":",
        F.col("doc_id").cast("string"),
        F.col("m_start").cast("string"),
        F.col("m_end").cast("string"),
    )
    cand = cand0.select(
        "doc_id",
        "m_start",
        "m_end",
        F.ascii(F.substring(F.md5(key), 1, 1)).alias("prob"),
        F.when(
            F.ascii(F.substring(F.md5(key), 2, 1)) % 4 == 0, F.lit("nc-X")
        ).otherwise(F.lit("G")).alias("label"),
    )
    return pseudo.greedy_bio_spans(cand, ["doc_id"], prob_col="prob")


# ---------------------------------------------------------------------------
# W6: rank-prefix hierarchical label selection over a deterministic ranked
# fixture drawn from the ontology dim
# ---------------------------------------------------------------------------

def _w6_fixture() -> list[tuple[int, int, str]]:
    """(id, rank, label) — md5-driven picks from ontology nodes, built on
    the driver and embedded as VALUES on BOTH engines."""
    nodes = sorted({c for c, _ in ONTOLOGY_EDGES} | {p for _, p in ONTOLOGY_EDGES})
    rows = []
    for i in range(40):
        k = 2 + int(hashlib.md5(f"w6:{i}".encode()).hexdigest(), 16) % 4
        for r in range(1, k + 1):
            h = int(hashlib.md5(f"w6:{i}:{r}".encode()).hexdigest(), 16)
            rows.append((i, r, nodes[h % len(nodes)]))
    return rows


_W6_SQL = ", ".join(f"({i}, {r}, '{l}')" for i, r, l in _w6_fixture())


@q(
    "hierarchical_label_selection",
    oracle=f"""
    WITH RECURSIVE edges(child, parent) AS (VALUES {_EDGES_SQL}),
    ranked(id, rank, label) AS (VALUES {_W6_SQL}),
    closure0(node, ancestor) AS (
      SELECT child, parent FROM edges
      UNION
      SELECT c.node, e.parent FROM closure0 c JOIN edges e ON e.child = c.ancestor
    ),
    closure AS (
      SELECT node, ancestor FROM closure0
      UNION
      SELECT n, n FROM (SELECT child AS n FROM edges UNION SELECT parent FROM edges)
    ),
    compat AS (
      SELECT node AS a, ancestor AS b FROM closure
      UNION
      SELECT ancestor, node FROM closure
    ),
    conflicts AS (
      SELECT a.id, MIN(b.rank) AS brk
      FROM ranked a JOIN ranked b ON a.id = b.id AND a.rank < b.rank
      LEFT JOIN compat c ON c.a = a.label AND c.b = b.label
      WHERE c.a IS NULL
      GROUP BY a.id
    ),
    kept AS (
      SELECT r.* FROM ranked r LEFT JOIN conflicts k ON r.id = k.id
      WHERE k.id IS NULL OR r.rank < k.brk
    ),
    depth AS (SELECT node, COUNT(*) AS d FROM closure GROUP BY node),
    deepest AS (
      SELECT id, label FROM (
        SELECT k.id, k.label,
               ROW_NUMBER() OVER (PARTITION BY k.id
                 ORDER BY d.d DESC, k.label DESC) AS rn
        FROM kept k JOIN depth d ON k.label = d.node) WHERE rn = 1
    )
    SELECT CAST(dp.id AS BIGINT) AS id, c.ancestor AS label,
           CAST(d2.d AS BIGINT) AS depth
    FROM deepest dp
    JOIN closure c ON c.node = dp.label
    JOIN depth d2 ON d2.node = c.ancestor
    """,
)
def hierarchical_label_selection(spark, sf_dir):
    rows = ", ".join(f"({i}, {r}, '{l}')" for i, r, l in _w6_fixture())
    ranked = spark.sql(
        f"SELECT * FROM VALUES {rows} AS t(id, rank, label)"
    )
    closure = graph.ancestor_closure(synth_ontology_edges(spark), include_self=True)
    out = th_ops.hierarchical_valid_labels(ranked, closure, ["id"])
    return out.select(F.col("id").cast("bigint").alias("id"), "label", "depth")


# ---------------------------------------------------------------------------
# P5: few-shot greedy sampler — deterministic driver-side greedy walk.
# The walk is sequential, but with the gold label space fixed at
# {MULTI, SINGLE} the per-step state is (remaining budgets, picked ids),
# so the oracle expresses the SAME greedy recurrence as a DuckDB
# recursive CTE with a LATERAL pick of the first fitting candidate in
# (total DESC, doc_id ASC) order — value-exact, not rows-only.
# ---------------------------------------------------------------------------

_FEW_SHOT_ORACLE = (
    "WITH RECURSIVE "
    + _run_sql(_GOLD_MASK_SQL)
    + f""",
    gold AS (SELECT doc_id, m_start, m_end, {_RUN_LABEL_SQL} AS label FROM runs),
    cand AS (
      SELECT doc_id,
             SUM(CASE WHEN label = 'MULTI' THEN 1 ELSE 0 END) AS nm,
             SUM(CASE WHEN label = 'SINGLE' THEN 1 ELSE 0 END) AS ns,
             COUNT(*) AS tot
      FROM gold GROUP BY doc_id HAVING COUNT(*) > 0
    ),
    sel(step, doc_id, rem_m, rem_s, picked) AS (
      SELECT 0, CAST(NULL AS BIGINT), CAST(5 AS BIGINT), CAST(5 AS BIGINT),
             CAST([] AS BIGINT[])
      UNION ALL
      SELECT sel.step + 1, nxt.doc_id, sel.rem_m - nxt.nm, sel.rem_s - nxt.ns,
             list_append(sel.picked, nxt.doc_id)
      FROM sel, LATERAL (
        SELECT c.doc_id, c.nm, c.ns FROM cand c
        WHERE NOT list_contains(sel.picked, c.doc_id)
          AND c.nm <= sel.rem_m AND c.ns <= sel.rem_s
        ORDER BY c.tot DESC, c.doc_id ASC LIMIT 1
      ) nxt
      WHERE sel.rem_m > 0 OR sel.rem_s > 0
    )
    SELECT doc_id FROM sel WHERE doc_id IS NOT NULL
"""
)


@q("few_shot_docs", oracle=_FEW_SHOT_ORACLE)
def few_shot_docs(spark, sf_dir):
    spans = _gold_spans(spark, sf_dir)
    picked = sampling.few_shot_sample(spans, ["doc_id"], sample_num=5)
    return picked.select(F.col("doc_id").cast("bigint").alias("doc_id"))


# ---------------------------------------------------------------------------
# Multimodal plumbing: opaque binary payloads → fake-decoded geometry +
# feature vector. The Arrow-batched mapInPandas plumbing is the real
# component under test; the deterministic sha256 fake decoder stands in
# for codecs (absent in this container) and is mirrored bit-exactly by
# the DuckDB oracle.
# ---------------------------------------------------------------------------

_NIB = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"


def _byte_sql(k: int) -> str:
    """k-th byte (0-based) of the sha256 hex digest column h."""
    hi = _NIB.format(i=2 * k + 1)
    lo = _NIB.format(i=2 * k + 2)
    return f"(({hi}) * 16 + ({lo}))"


_FEAT_SQL = ", ".join(
    f"ROUND({_byte_sql(k)} / 255.0, 6)" for k in range(3, 11)
)


@q(
    "multimodal_features",
    oracle=f"""
    WITH media AS (
      SELECT doc_id AS media_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                             ELSE 'video' END AS kind,
             text, sha256(text) AS h
      FROM documents
    )
    SELECT media_id, kind,
           CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
           h AS sha256,
           CAST(16 + {_byte_sql(0)} % 64 AS INT) AS width,
           CAST(16 + {_byte_sql(1)} % 64 AS INT) AS height,
           CAST(1 + {_byte_sql(2)} % 8 AS INT) AS n_frames,
           CAST({_byte_sql(3)} + {_byte_sql(4)} + {_byte_sql(5)} AS BIGINT)
             AS feat_head_bytes
    FROM media
    """,
)
def multimodal_features(spark, sf_dir):
    docs = spread(T(spark, sf_dir, "documents").select("doc_id", "text"))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit("{}").alias("meta"),
    )
    out = decode_and_featurize(media, fake=True)
    # the feature vector itself is array-typed (engine hash comparison is
    # unreliable on arrays); validate its source bytes via an exact integer
    # checksum of the first three feature bytes instead — same provenance.
    head = (
        F.round(F.element_at("feature", 1) * 255).cast("bigint")
        + F.round(F.element_at("feature", 2) * 255).cast("bigint")
        + F.round(F.element_at("feature", 3) * 255).cast("bigint")
    )
    return out.select(
        "media_id",
        "kind",
        "n_bytes",
        "sha256",
        "width",
        "height",
        "n_frames",
        head.alias("feat_head_bytes"),
    )


@q(
    "multimodal_frame_resize",
    oracle=f"""
    WITH media AS (
      SELECT doc_id AS media_id, text, sha256(text) AS h
      FROM documents WHERE doc_id % 3 = 2
    ),
    geo AS (
      SELECT media_id,
             CAST(16 + {_byte_sql(0)} % 64 AS INT) AS width,
             CAST(16 + {_byte_sql(1)} % 64 AS INT) AS height,
             CAST(1 + {_byte_sql(2)} % 8 AS INT) AS n_frames
      FROM media
    ),
    sized AS (
      SELECT media_id, n_frames,
        CASE WHEN width * 24 >= height * 32
             THEN 32 ELSE (width * 24) // height END AS new_w,
        CASE WHEN width * 24 >= height * 32
             THEN (height * 32) // width ELSE 24 END AS new_h
      FROM geo
    )
    SELECT DISTINCT media_id, CAST(new_w AS INT) AS new_w,
           CAST(new_h AS INT) AS new_h,
           CAST((i * n_frames) // 4 AS INT) AS frame_idx
    FROM sized CROSS JOIN (SELECT unnest(range(4)) AS i)
    """,
)
def multimodal_frame_resize(spark, sf_dir):
    """Video branch of the multimodal pipeline: decode (fake codec) →
    aspect-preserving resize plan (32×24) → 4-frame even sampling.
    Geometry + frame fan-out are pure JVM integer arithmetic
    (operators/multimodal.resize_plan / sample_frames); only the pixel
    kernels are codec-stubbed."""
    docs = spread(T(spark, sf_dir, "documents").select("doc_id", "text"))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit("{}").alias("meta"),
    )
    feats = decode_and_featurize(media, fake=True).filter(F.col("kind") == "video")
    frames = sample_frames(resize_plan(feats, 32, 24), 4)
    return frames.select("media_id", "new_w", "new_h", "frame_idx")


# ---------------------------------------------------------------------------
# Run-vs-run metric diff (reference cli/compare_metrics.py:21-50)
# ---------------------------------------------------------------------------

@q(
    "metric_diff",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS metric,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value
      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
    ),
    focus AS (
      SELECT o_orderpriority AS metric,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
    )
    SELECT COALESCE(b.metric, f.metric) AS metric,
           b.value AS base_value, f.value AS focus_value,
           f.value - b.value AS delta
    FROM base b FULL OUTER JOIN focus f ON b.metric = f.metric
    """,
)
def metric_diff(spark, sf_dir):
    """Two 'runs' of a per-priority revenue metric (1995 vs 1996 orders)
    diffed by evalmetrics.metric_diff — the compare_metrics lifecycle
    closer. Decimal sums keep the double values bit-identical across
    engines."""
    o = T(spark, sf_dir, "orders")

    def run(year: int) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == year)
            .groupBy(F.col("o_orderpriority").alias("metric"))
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("value")
            )
        )

    return evalmetrics.metric_diff(run(1995), run(1996))
