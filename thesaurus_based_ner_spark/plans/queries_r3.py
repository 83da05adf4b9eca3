"""Round-3 query registry extension: driver-verifiable oracles for the
thesaurus-construction operators that previously had pytest-only coverage
(VERDICT r2 legend): S1/S4 scans, J1 two-hop, J2 redirect-cat merge, J4/G4
disambiguation BFS, A1/A3/A4 aggregations, A5 label vocab, F2 sentence
filter, F3+W4 weighted argmax with tie-skip, X5 inflection expansion.

Fixture convention: everything derives deterministically from the testdata
parquet tables; scan operators (S1/S4) synthesize a text file under a
content-addressed temp path and run the REAL file-scan operator over it,
with a closed-form oracle stated from the source table.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, functions as F

from thesaurus_based_ner_spark.operators import graph, pseudo
from thesaurus_based_ner_spark.operators import thesaurus as th_ops
from thesaurus_based_ner_spark.operators.evalmetrics import (
    dataset_span_diff,
    hierarchical_label_rollup,
    span_mismatch_analysis,
)
from thesaurus_based_ner_spark.operators.gold import (
    remove_space_tokens_df,
    split_doc_sentences_df,
)
from thesaurus_based_ner_spark.operators.mentions import detect_mentions_trie
from thesaurus_based_ner_spark.plans.queries import (
    _MENTION_CTE,
    _SQL_TOKEN_RE,
    DOC_THESAURUS,
    T,
    _doc_tokens,
    _en_doc_tokens,
    q,
)
from thesaurus_based_ner_spark.plans.queries_ext import (
    _dual_cte,
    _span_diff_frames,
)


# ---------------------------------------------------------------------------
# S1/S4: real file-scan operators over synthesized fixture files
# ---------------------------------------------------------------------------


def _fixture_dir(kind: str, sf_dir: str) -> str:
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"tbner_fix_{kind}_{h}")


@q(
    "mrconso_pipe_scan",
    oracle="""
    SELECT 'C' || p_partkey AS cui, 'ENG' AS lang, 'SRC1' AS src,
           p_name AS term
    FROM part
    """,
)
def mrconso_pipe_scan(spark, sf_dir):
    """S1: UMLS RRF pipe-delimited scan (read_pipe_table) over a
    synthesized MRCONSO-shaped file; closed-form oracle from part."""
    path = _fixture_dir("mrconso", sf_dir)
    lines = T(spark, sf_dir, "part").select(
        F.concat_ws(
            "|",
            F.concat(F.lit("C"), "p_partkey"),
            F.lit("ENG"),
            F.lit("SRC1"),
            F.col("p_name"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    return th_ops.read_pipe_table(spark, path, ["cui", "lang", "src", "term"])


_REDIR_PRED = "http://dbpedia.org/ontology/wikiPageRedirects"


@q(
    "ttl_predicate_scan",
    oracle="""
    SELECT 'http://ex/e' || o_orderkey AS subj,
           'http://ex/c' || o_custkey AS obj
    FROM orders
    """,
)
def ttl_predicate_scan(spark, sf_dir):
    """S4/X7: N-triples regex scan (read_ttl_predicate) over a synthesized
    TTL file holding redirect triples PLUS label-literal noise lines that
    the predicate filter must drop; closed-form oracle from orders."""
    path = _fixture_dir("ttl", sf_dir)
    o = T(spark, sf_dir, "orders")
    triples = o.select(
        F.concat(
            F.lit("<http://ex/e"), "o_orderkey",
            F.lit(f"> <{_REDIR_PRED}> <http://ex/c"), "o_custkey",
            F.lit("> ."),
        ).alias("value")
    )
    noise = T(spark, sf_dir, "nation").select(
        F.concat(
            F.lit("<http://ex/n"), "n_nationkey",
            F.lit("> <http://www.w3.org/2000/01/rdf-schema#label> \""),
            F.col("n_name"), F.lit("\" ."),
        ).alias("value")
    )
    triples.unionByName(noise).write.mode("overwrite").text(path)
    return th_ops.read_ttl_predicate(spark, path, _REDIR_PRED)


# ---------------------------------------------------------------------------
# J1 + A1 + A4 + G3: UMLS-style term→CUIs→TUIs→ancestor expansion
# ---------------------------------------------------------------------------

_UMLS_CTE = """
    WITH conso AS (
      SELECT DISTINCT string_split(p_name, ' ')[1] AS term,
             'C' || p_partkey AS cui
      FROM part
    ),
    sty AS (SELECT 'C' || p_partkey AS cui, p_brand AS tui FROM part),
    edges AS (SELECT DISTINCT p_brand AS child, string_split(p_type, ' ')[1] AS parent FROM part),
    closure AS (
      -- transitive closure over brand -> type-word -> ROOT (only brand
      -- rows are consumed: sty.tui is always a brand); the shared ROOT
      -- makes the per-term intersection non-trivially non-empty
      SELECT child AS node, child AS anc FROM edges
      UNION SELECT child, parent FROM edges
      UNION SELECT child, 'ROOT' FROM edges
    ),
    cuicats AS (
      SELECT DISTINCT s.cui, c.anc AS cat
      FROM sty s JOIN closure c ON s.tui = c.node
    ),
    ncuis AS (SELECT term, COUNT(DISTINCT cui) AS n FROM conso GROUP BY term),
    tcc AS (
      SELECT c.term, k.cat, COUNT(DISTINCT c.cui) AS m
      FROM conso c JOIN cuicats k USING (cui) GROUP BY c.term, k.cat
    )
"""


def _umls_inputs(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    conso = p.select(
        F.split("p_name", " ").getItem(0).alias("term"),
        F.concat(F.lit("C"), "p_partkey").alias("cui"),
    )
    sty = p.select(
        F.concat(F.lit("C"), "p_partkey").alias("cui"),
        F.col("p_brand").alias("tui"),
    )
    brand_edges = p.select(
        F.col("p_brand").alias("child"),
        F.split("p_type", " ").getItem(0).alias("parent"),
    ).distinct()
    root_edges = brand_edges.select(
        F.col("parent").alias("child"), F.lit("ROOT").alias("parent")
    ).distinct()
    closure = graph.ancestor_closure(
        brand_edges.unionByName(root_edges), "child", "parent",
        include_self=True,
    )
    return conso, sty, closure


@q(
    "umls_term2cats",
    oracle=_UMLS_CTE + """
    SELECT t.term, string_agg(t.cat, ',' ORDER BY t.cat) AS cats
    FROM tcc t JOIN ncuis n USING (term)
    WHERE t.m = n.n GROUP BY t.term
    """,
)
def umls_term2cats(spark, sf_dir):
    """J1/A1/A4(∩)/G3: term→CUIs→TUIs two-hop with ancestor expansion and
    per-term INTERSECTION of cat sets (remain_common_sense semantics,
    dictionary_form_term2cats.py:159-176)."""
    conso, sty, closure = _umls_inputs(spark, sf_dir)
    out = th_ops.term2cats_from_concepts(conso, sty, closure, "intersection")
    return out.select("term", F.array_join("cats", ",").alias("cats"))


@q(
    "umls_term2cats_union",
    oracle=_UMLS_CTE + """
    SELECT t.term, string_agg(t.cat, ',' ORDER BY t.cat) AS cats
    FROM tcc t GROUP BY t.term
    """,
)
def umls_term2cats_union(spark, sf_dir):
    """A4 union branch of the same two-hop."""
    conso, sty, closure = _umls_inputs(spark, sf_dir)
    out = th_ops.term2cats_from_concepts(conso, sty, closure, "union")
    return out.select("term", F.array_join("cats", ",").alias("cats"))


# ---------------------------------------------------------------------------
# A3 + W2: anchor-text weighted cat aggregation; F3 + W4 finalize on top
# ---------------------------------------------------------------------------

_ANCHOR_CTE = """
    WITH counts AS (
      SELECT o_orderpriority AS term, 'C' || o_custkey AS entity,
             COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY term
                     ORDER BY n DESC, entity ASC) AS rk
        FROM counts) WHERE rk <= 20
    ),
    w AS (
      SELECT t.term, c.c_mktsegment AS cat, CAST(SUM(t.n) AS BIGINT) AS wt
      FROM topk t JOIN customer c ON t.entity = 'C' || c.c_custkey
      GROUP BY 1, 2
    )
"""


def _anchor_t2cs(spark, sf_dir) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    anchor = o.select(
        F.col("o_orderpriority").alias("surface"),
        F.concat(F.lit("C"), "o_custkey").alias("entity"),
    )
    e2c = cust.select(
        F.concat(F.lit("C"), "c_custkey").alias("entity"),
        F.col("c_mktsegment").alias("cat"),
    )
    return th_ops.anchor_term2cats(anchor, e2c, top_k=20)


@q(
    "anchor_weighted_cats",
    oracle=_ANCHOR_CTE + """
    SELECT term,
           string_agg(cat, ',' ORDER BY wt DESC, cat DESC) AS cats,
           string_agg(wt, ',' ORDER BY wt DESC, cat DESC) AS weights
    FROM w GROUP BY term
    """,
)
def anchor_weighted_cats(spark, sf_dir):
    """A3/W2: per-surface top-20 anchor entities (one window pass) →
    weighted cat scores, packed weight-descending (db_pedia.py:200-283)."""
    out = _anchor_t2cs(spark, sf_dir)
    return out.select(
        "term",
        F.array_join("cats", ",").alias("cats"),
        F.array_join(
            F.transform("weights", lambda w: w.cast("bigint").cast("string")),
            ",",
        ).alias("weights"),
    )


@q(
    "term2cat_argmax",
    oracle=_ANCHOR_CTE + """
    , lab AS (
      SELECT term, wt,
             CASE WHEN cat IN ('BUILDING', 'AUTOMOBILE') THEN cat
                  WHEN cat IN ('MACHINERY') THEN 'nc-' || cat END AS out_cat
      FROM w
    ),
    f AS (SELECT * FROM lab WHERE out_cat IS NOT NULL),
    mx AS (SELECT term, MAX(wt) AS m FROM f GROUP BY term),
    best AS (
      SELECT f.term, COUNT(*) AS ties, MIN(f.out_cat) AS cat
      FROM f JOIN mx ON f.term = mx.term AND f.wt = mx.m
      GROUP BY f.term
    )
    SELECT term, cat FROM best WHERE ties = 1
    """,
)
def term2cat_argmax(spark, sf_dir):
    """F3+W4: target-cat filter with nc- prefixing and weighted argmax with
    tie-SKIP (term2cat.py:91-176) over the anchor-branch term2cats."""
    t2cs = _anchor_t2cs(spark, sf_dir)
    return th_ops.term2cat_from_term2cats(
        t2cs,
        positive_cats=["BUILDING", "AUTOMOBILE"],
        negative_cats=["MACHINERY"],
    )


# ---------------------------------------------------------------------------
# J4/G4: disambiguation BFS fixpoint
# ---------------------------------------------------------------------------

@q(
    "disambiguation_expansion",
    oracle="""
    WITH RECURSIVE d AS (
      SELECT 'R' || n_regionkey AS src, 'N' || n_nationkey AS dst FROM nation
      UNION ALL
      SELECT 'N' || n_nationkey, 'L' || n_nationkey FROM nation
      WHERE n_nationkey < 10
    ),
    t2e AS (
      SELECT s.s_name AS term,
             CASE WHEN s.s_suppkey % 2 = 0 THEN 'R' || n.n_regionkey
                  ELSE 'N' || s.s_nationkey END AS entity
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    ),
    reach(term, entity) AS (
      SELECT term, entity FROM t2e
      UNION
      SELECT r.term, d.dst FROM reach r JOIN d ON r.entity = d.src
    )
    SELECT DISTINCT term, entity FROM reach
    WHERE entity NOT IN (SELECT src FROM d)
    """,
)
def disambiguation_expansion(spark, sf_dir):
    """J4/G4: ambiguous entities fan out through disambiguation pages to
    monosemous leaves, chains followed to fixpoint
    (dictionary_form_term2cats.py:179-217). Region pages expand to their
    nations; low-key nation pages chain one level further."""
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    t2e = s.join(n, s["s_nationkey"] == n["n_nationkey"]).select(
        F.col("s_name").alias("term"),
        F.when(
            F.col("s_suppkey") % 2 == 0,
            F.concat(F.lit("R"), "n_regionkey"),
        ).otherwise(F.concat(F.lit("N"), "s_nationkey")).alias("entity"),
    )
    d1 = n.select(
        F.concat(F.lit("R"), "n_regionkey").alias("src"),
        F.concat(F.lit("N"), "n_nationkey").alias("dst"),
    )
    d2 = n.filter(F.col("n_nationkey") < 10).select(
        F.concat(F.lit("N"), "n_nationkey").alias("src"),
        F.concat(F.lit("L"), "n_nationkey").alias("dst"),
    )
    out = th_ops.expand_disambiguation(t2e, d1.unionByName(d2))
    return out.select("term", "entity").distinct()


# ---------------------------------------------------------------------------
# J2/G5: redirect-closure cat merge
# ---------------------------------------------------------------------------

@q(
    "redirect_merged_cats",
    oracle="""
    WITH e2c AS (
      SELECT 'S' || s_suppkey AS entity, 'M' || (s_suppkey % 3) AS cat
      FROM supplier
      UNION ALL
      SELECT 'N' || n_nationkey, 'G' || (n_nationkey % 2) FROM nation
      UNION ALL
      SELECT 'R' || r_regionkey, 'Z' || r_regionkey FROM region
    ),
    moved AS (
      SELECT 'R' || n.n_regionkey AS entity, 'M' || (s.s_suppkey % 3) AS cat
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'R' || n_regionkey, 'G' || (n_nationkey % 2) FROM nation
    ),
    kept AS (SELECT * FROM e2c WHERE entity LIKE 'R%')
    SELECT DISTINCT entity, cat
    FROM (SELECT * FROM moved UNION ALL SELECT * FROM kept)
    """,
)
def redirect_merged_cats(spark, sf_dir):
    """J2/G5: every redirect source's cats union onto its CHAIN ROOT
    (db_pedia.py:37-71): supplier→nation→region redirect chains, root =
    region entities."""
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    e2c = (
        s.select(
            F.concat(F.lit("S"), "s_suppkey").alias("entity"),
            F.concat(F.lit("M"), F.col("s_suppkey") % 3).alias("cat"),
        )
        .unionByName(
            n.select(
                F.concat(F.lit("N"), "n_nationkey").alias("entity"),
                F.concat(F.lit("G"), F.col("n_nationkey") % 2).alias("cat"),
            )
        )
        .unionByName(
            r.select(
                F.concat(F.lit("R"), "r_regionkey").alias("entity"),
                F.concat(F.lit("Z"), "r_regionkey").alias("cat"),
            )
        )
    )
    redirects = n.select(
        F.concat(F.lit("N"), "n_nationkey").alias("src"),
        F.concat(F.lit("R"), "n_regionkey").alias("dst"),
    ).unionByName(
        s.select(
            F.concat(F.lit("S"), "s_suppkey").alias("src"),
            F.concat(F.lit("N"), "s_nationkey").alias("dst"),
        )
    )
    return th_ops.merge_redirected_entity_cats(e2c, redirects)


# ---------------------------------------------------------------------------
# X5: inflection expansion with a full SQL rule mirror
# ---------------------------------------------------------------------------

_IRR_PLURAL_SQL = (
    "CASE w WHEN 'person' THEN 'people' WHEN 'child' THEN 'children' "
    "WHEN 'man' THEN 'men' WHEN 'woman' THEN 'women' WHEN 'foot' THEN 'feet' "
    "WHEN 'tooth' THEN 'teeth' WHEN 'mouse' THEN 'mice' "
    "WHEN 'goose' THEN 'geese' END"
)
_IRR_SING_SQL = (
    "CASE w WHEN 'people' THEN 'person' WHEN 'children' THEN 'child' "
    "WHEN 'men' THEN 'man' WHEN 'women' THEN 'woman' WHEN 'feet' THEN 'foot' "
    "WHEN 'teeth' THEN 'tooth' WHEN 'mice' THEN 'mouse' "
    "WHEN 'geese' THEN 'goose' END"
)
_UNINFL_SQL = "('series','species','sheep','fish','deer','data')"

_INFLECT_CTE = f"""
    WITH base AS (
      SELECT string_split(p_name, ' ')[1] AS term, MIN(p_brand) AS cat
      FROM part GROUP BY 1
    ),
    v AS (
      SELECT term, cat, term AS w FROM base
    ),
    plur AS (
      SELECT term, cat,
        CASE
          WHEN w IN {_UNINFL_SQL} THEN w
          WHEN {_IRR_PLURAL_SQL} IS NOT NULL THEN {_IRR_PLURAL_SQL}
          WHEN regexp_matches(w, '(s|x|z|ch|sh)$') THEN w || 'es'
          WHEN regexp_matches(w, '[^aeiou]y$') AND len(w) > 1
            THEN substr(w, 1, len(w) - 1) || 'ies'
          WHEN w LIKE '%fe' THEN substr(w, 1, len(w) - 2) || 'ves'
          WHEN w LIKE '%f' AND w NOT IN ('chef', 'roof', 'belief')
            THEN substr(w, 1, len(w) - 1) || 'ves'
          ELSE w || 's' END AS variant
      FROM v
    ),
    sing AS (
      SELECT term, cat,
        CASE
          WHEN w IN {_UNINFL_SQL} THEN w
          WHEN {_IRR_SING_SQL} IS NOT NULL THEN {_IRR_SING_SQL}
          WHEN w LIKE '%ies' AND len(w) > 3
            THEN substr(w, 1, len(w) - 3) || 'y'
          WHEN w LIKE '%ives' THEN substr(w, 1, len(w) - 3) || 'fe'
          WHEN w LIKE '%ves' AND len(w) > 3
            THEN substr(w, 1, len(w) - 3) || 'f'
          WHEN regexp_matches(w, '(ses|xes|zes|ches|shes)$')
            THEN substr(w, 1, len(w) - 2)
          WHEN w LIKE '%s' AND w NOT LIKE '%ss'
            THEN substr(w, 1, len(w) - 1)
          ELSE w END AS variant
      FROM v
    ),
    cand AS (
      SELECT * FROM plur WHERE variant <> term
      UNION ALL SELECT * FROM sing WHERE variant <> term
    ),
    fresh AS (
      SELECT variant AS term, MIN(cat) AS cat FROM cand
      WHERE variant NOT IN (SELECT term FROM base)
      GROUP BY variant
    )
"""


@q(
    "inflected_terms",
    oracle=_INFLECT_CTE + """
    SELECT term, cat FROM base UNION ALL SELECT term, cat FROM fresh
    """,
)
def inflected_terms(spark, sf_dir):
    """X5: rule-based inflection expansion of the thesaurus (pandas-UDF
    pluralize/singularize, inflect_terms_of_term2cats.py:19-40) — the
    oracle re-states the COMPLETE rule cascade (irregulars, uninflected,
    suffix rules, collision anti-join, min-row winner) in SQL, so any rule
    drift breaks the value hash."""
    p = T(spark, sf_dir, "part")
    base = p.groupBy(
        F.split("p_name", " ").getItem(0).alias("term")
    ).agg(F.min("p_brand").alias("cat"))
    return th_ops.inflect_terms(base)


# ---------------------------------------------------------------------------
# A5: label-frequency vocabulary (nc-* excluded)
# ---------------------------------------------------------------------------

@q(
    "label_vocab_counts",
    oracle="""
    SELECT CASE WHEN event_type = 'click' THEN 'nc-click'
                ELSE event_type END AS label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE event_type <> 'click'
    GROUP BY 1
    """,
)
def label_vocab_counts(spark, sf_dir):
    """A5: dynamic label vocabulary by frequency with nc-* excluded
    (pseudo_dataset.py:102-104); clicks are cast as the nc- label to
    exercise the negative-category exclusion."""
    ev = T(spark, sf_dir, "events")
    mentions = ev.select(
        F.when(F.col("event_type") == "click", F.lit("nc-click"))
        .otherwise(F.col("event_type"))
        .alias("label")
    )
    return pseudo.label_vocab(mentions)


# ---------------------------------------------------------------------------
# F2 + U5: pseudo dataset assembly (BIO encode + keep ≥1-mention sentences)
# ---------------------------------------------------------------------------

@q(
    "pseudo_sentences",
    oracle=_MENTION_CTE + """
    SELECT m.doc_id,
           CAST(len(any_value(d.toks)) AS BIGINT) AS n_tokens,
           CAST(SUM(m.m_end - m.m_start) AS BIGINT) AS n_tagged
    FROM mentions m JOIN docs d USING (doc_id)
    GROUP BY m.doc_id
    """,
)
def pseudo_sentences(spark, sf_dir):
    """F2+U5 end-to-end: mentions → BIO tags ride the sentences, sentences
    with zero mentions are dropped; n_tagged (non-O tags) must equal the
    oracle's summed span lengths — a value check on the BIO encoding
    itself (pseudo_dataset.py:87-112)."""
    snts = _en_doc_tokens(spark, sf_dir)
    mentions = detect_mentions_trie(snts, dict(DOC_THESAURUS), ["doc_id"])
    ds = pseudo.pseudo_ner_dataset(snts, mentions, ["doc_id"])
    return ds.select(
        "doc_id",
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.size(F.filter("ner_tags", lambda t: t != "O"))
        .cast("bigint")
        .alias("n_tagged"),
    )


# ---------------------------------------------------------------------------
# Span-mismatch boundary analysis (reference cli/analysis/
# analyze_span_mismatch.py) over the token-length-run gold/pred fixtures
# ---------------------------------------------------------------------------

_SPAN_MISMATCH_ORACLE = _dual_cte() + """
    , exact AS (
      SELECT p.label FROM pred p WHERE EXISTS (
        SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
          AND g.m_start = p.m_start AND g.m_end = p.m_end
          AND g.label = p.label)
    ),
    nonex AS (
      SELECT p.* FROM pred p WHERE NOT EXISTS (
        SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
          AND g.m_start = p.m_start AND g.m_end = p.m_end
          AND g.label = p.label)
    ),
    j AS (
      SELECT p.label, p.m_start AS ps, p.m_end AS pe,
             g.m_start AS gs, g.m_end AS ge
      FROM nonex p JOIN gold g ON g.doc_id = p.doc_id
        AND g.label = p.label
        AND p.m_start < g.m_end AND g.m_start < p.m_end
    ),
    partial AS (
      SELECT label,
             SUM(CASE WHEN gs > ps THEN 1 ELSE 0 END) AS early_start,
             SUM(CASE WHEN gs < ps THEN 1 ELSE 0 END) AS late_start,
             SUM(CASE WHEN ge > pe THEN 1 ELSE 0 END) AS early_end,
             SUM(CASE WHEN ge < pe THEN 1 ELSE 0 END) AS late_end
      FROM j GROUP BY label
    ),
    fpt AS (
      SELECT p.label, COUNT(*) AS fp FROM nonex p
      WHERE NOT EXISTS (
        SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
          AND g.label = p.label
          AND p.m_start < g.m_end AND g.m_start < p.m_end)
      GROUP BY p.label
    ),
    tpt AS (SELECT label, COUNT(*) AS tp FROM exact GROUP BY label),
    per AS (
      SELECT l.label,
             CAST(COALESCE(t.tp, 0) AS BIGINT) AS tp,
             CAST(COALESCE(f.fp, 0) AS BIGINT) AS fp,
             CAST(COALESCE(pa.early_start, 0) AS BIGINT) AS early_start,
             CAST(COALESCE(pa.late_start, 0) AS BIGINT) AS late_start,
             CAST(COALESCE(pa.early_end, 0) AS BIGINT) AS early_end,
             CAST(COALESCE(pa.late_end, 0) AS BIGINT) AS late_end
      FROM (SELECT DISTINCT label FROM pred) l
      LEFT JOIN tpt t USING (label)
      LEFT JOIN fpt f USING (label)
      LEFT JOIN partial pa USING (label)
    )
    SELECT * FROM per
    UNION ALL
    SELECT 'All', CAST(SUM(tp) AS BIGINT), CAST(SUM(fp) AS BIGINT),
           CAST(SUM(early_start) AS BIGINT), CAST(SUM(late_start) AS BIGINT),
           CAST(SUM(early_end) AS BIGINT), CAST(SUM(late_end) AS BIGINT)
    FROM per
    """


@q("span_mismatch", oracle=_SPAN_MISMATCH_ORACLE)
def span_mismatch(spark, sf_dir):
    """Boundary-delta span classification (analyze_span_mismatch.py):
    TP / FP / early-late start-end counters per predicted label plus
    the All row, over the deterministic token-length-run gold/pred
    fixture pair. r9: the analysis references pred 3x and gold 3x
    (semi/anti/inner/anti joins), so the non-checkpointed fixtures
    re-derived the tokenize+posexplode+island-window subtree per
    reference; the single-pass checkpointed run frame
    (_span_diff_frames, the r3 fix for dataset_span_diff) produces
    the identical gold/pred runs from ONE corpus pass."""
    gold, pred = _span_diff_frames(spark, sf_dir)
    return span_mismatch_analysis(pred, gold, ["doc_id"])


# ---------------------------------------------------------------------------
# Hierarchical label-count rollup (reference tree_visualize:145-186) and
# dataset span diff (error_analysis/compare_msc_datasets.py)
# ---------------------------------------------------------------------------

@q(
    "label_tree_rollup",
    oracle="""
    WITH RECURSIVE
    counts AS (SELECT p_brand AS label, COUNT(*) AS n FROM part GROUP BY 1),
    e1 AS (
      SELECT DISTINCT p_brand AS child, string_split(p_type, ' ')[1] AS parent
      FROM part
    ),
    edges AS (
      SELECT child, parent FROM e1
      UNION SELECT DISTINCT parent, 'ROOT' FROM e1
    ),
    closure(node, anc) AS (
      SELECT child, child FROM edges
      UNION SELECT DISTINCT parent, parent FROM edges
      UNION SELECT c.node, e.parent FROM closure c JOIN edges e
        ON c.anc = e.child
    ),
    rolled AS (
      SELECT cl.anc AS label, SUM(c.n) AS n_rolled
      FROM counts c JOIN closure cl ON c.label = cl.node
      GROUP BY cl.anc
    ),
    total AS (
      SELECT SUM(n) AS t FROM counts
      WHERE label IN (SELECT node FROM closure)
    )
    SELECT r.label,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_self,
           CAST(r.n_rolled AS BIGINT) AS n_rolled,
           ROUND(r.n_rolled * 100.0 / total.t, 6) AS pct_of_root
    FROM rolled r LEFT JOIN counts c ON r.label = c.label, total
    """,
)
def label_tree_rollup(spark, sf_dir):
    """Subtree-consistent per-label counts with percent-of-root over the
    brand -> type-word -> ROOT hierarchy (the reference's UMLS semantic-
    type tree statistics, tree_visualize.py:145-186)."""
    p = T(spark, sf_dir, "part")
    counts = p.groupBy(F.col("p_brand").alias("label")).agg(
        F.count("*").alias("n")
    )
    brand_edges = p.select(
        F.col("p_brand").alias("child"),
        F.split("p_type", " ").getItem(0).alias("parent"),
    ).distinct()
    root_edges = brand_edges.select(
        F.col("parent").alias("child"), F.lit("ROOT").alias("parent")
    ).distinct()
    return hierarchical_label_rollup(
        counts, brand_edges.unionByName(root_edges)
    )


_SPAN_DIFF_ORACLE = _dual_cte() + """
    , shared AS (
      SELECT DISTINCT g.doc_id FROM gold g JOIN pred p USING (doc_id)
    ),
    over_s AS (
      SELECT p.doc_id, p.m_start, p.m_end, p.label, 'over' AS direction
      FROM pred p JOIN shared USING (doc_id)
      WHERE NOT EXISTS (
        SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
          AND g.m_start = p.m_start AND g.m_end = p.m_end
          AND g.label = p.label)
    ),
    under_s AS (
      SELECT g.doc_id, g.m_start, g.m_end, g.label, 'under' AS direction
      FROM gold g JOIN shared USING (doc_id)
      WHERE NOT EXISTS (
        SELECT 1 FROM pred p WHERE p.doc_id = g.doc_id
          AND p.m_start = g.m_start AND p.m_end = g.m_end
          AND p.label = g.label)
    )
    SELECT * FROM over_s UNION ALL SELECT * FROM under_s
    """


@q("dataset_span_diff", oracle=_SPAN_DIFF_ORACLE)
def dataset_span_diff_q(spark, sf_dir):
    """Over/under-predicted spans between the gold and pred fixture
    datasets on shared sentences (compare_msc_datasets.py) — base =
    gold runs, focus = pred runs, both from the single-pass
    checkpointed run frame (r3 VERDICT: the per-reference recompute
    made this the slowest bench query)."""
    gold, pred = _span_diff_frames(spark, sf_dir)
    return dataset_span_diff(gold, pred, ["doc_id"])


# ---------------------------------------------------------------------------
# Original-dataset assembly (reference src/dataset/orig_dataset.py):
# space-token removal with tag alignment + doc→sentence splitting
# ---------------------------------------------------------------------------

@q(
    "tagged_space_removal",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(text, '{{token_re}}') AS toks
      FROM documents
    ),
    pos AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p
            FROM docs)
    SELECT doc_id,
           string_agg(toks[p], '|' ORDER BY p) AS tokens,
           string_agg('T' || (p - 1), '|' ORDER BY p) AS tags
    FROM pos GROUP BY doc_id
    """.replace("{token_re}", _SQL_TOKEN_RE),
)
def tagged_space_removal(spark, sf_dir):
    """remove_space_token (orig_dataset.py:86-101): inject literal-space
    tokens (with sentinel tags) every 5th position, run the parallel
    array filter, and require the output to equal the ORIGINAL
    token/tag arrays exactly — any desync between the two filters breaks
    the value hash."""
    toks = _doc_tokens(spark, sf_dir)
    base = toks.select(
        "doc_id",
        F.col("tokens"),
        F.transform(
            "tokens", lambda t, i: F.concat(F.lit("T"), i.cast("string"))
        ).alias("ner_tags"),
    )
    injected = base.select(
        "doc_id",
        F.flatten(
            F.transform(
                "tokens",
                lambda t, i: F.when(
                    i % 5 == 2, F.array(F.lit(" "), t)
                ).otherwise(F.array(t)),
            )
        ).alias("tokens"),
        F.flatten(
            F.transform(
                "ner_tags",
                lambda t, i: F.when(
                    i % 5 == 2, F.array(F.lit("S"), t)
                ).otherwise(F.array(t)),
            )
        ).alias("ner_tags"),
    )
    out = remove_space_tokens_df(injected)
    return out.select(
        "doc_id",
        F.array_join("tokens", "|").alias("tokens"),
        F.array_join("ner_tags", "|").alias("tags"),
    )


@q(
    "doc_sentence_split",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(text, '{{token_re}}') AS toks
      FROM documents
    ),
    pos AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p
            FROM docs),
    lagged AS (
      SELECT doc_id, p, toks[p] AS tok,
             COALESCE(LAG(toks[p]) OVER (PARTITION BY doc_id ORDER BY p),
                      '') AS prev_tok
      FROM pos
    ),
    sid AS (
      SELECT doc_id, p, tok,
             SUM(CASE WHEN prev_tok = 'scan' THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p
                     ROWS UNBOUNDED PRECEDING) AS snt_id
      FROM lagged
    )
    SELECT doc_id, CAST(snt_id AS BIGINT) AS snt_id,
           string_agg(tok, ' ' ORDER BY p) AS sentence,
           string_agg('T' || (p - 1), '|' ORDER BY p) AS tags
    FROM sid GROUP BY doc_id, snt_id
    """.replace("{token_re}", _SQL_TOKEN_RE),
)
def doc_sentence_split(spark, sf_dir):
    """snt_tokenize_ner_datasets (orig_dataset.py:255-289): document rows
    sliced into sentence rows at begin-of-sentence offsets (bos = 0 plus
    every position after a 'scan' token — the word-soup fixture corpus has
    no periods, so a frequent corpus token plays the boundary), token and tag slices staying aligned —
    tags carry the GLOBAL document position so any slice misalignment
    breaks the value hash."""
    toks = _doc_tokens(spark, sf_dir)
    base = toks.select(
        "doc_id",
        "tokens",
        F.transform(
            "tokens", lambda t, i: F.concat(F.lit("T"), i.cast("string"))
        ).alias("ner_tags"),
    )
    n = F.size("tokens")
    bos = F.concat(
        F.array(F.lit(0)),
        F.transform(
            F.filter(
                F.arrays_zip(
                    F.col("tokens").alias("t"),
                    F.sequence(F.lit(0), n - 1).alias("i"),
                ),
                lambda s: (s["t"] == "scan") & (s["i"] + 1 < n),
            ),
            lambda s: s["i"] + 1,
        ),
    )
    docs = base.withColumn("bos_ids", bos).filter(n > 0)
    snts = split_doc_sentences_df(docs, ["doc_id"])
    return snts.select(
        "doc_id",
        "snt_id",
        F.array_join("tokens", " ").alias("sentence"),
        F.array_join("ner_tags", "|").alias("tags"),
    )
