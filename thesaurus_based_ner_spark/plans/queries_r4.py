"""Round-4 query registry extension (VERDICT r3 'Next' #7/#8 + the rest
of 'missing' #4):

- span_markup_diff: the ASCII bracket-markup rendering of the over/under
  span diff (reference src/error_analysis/compare.py:105-120 renders each
  diff span in a tokens[max(0,s-5):e+6] context window) — closes the last
  error-analysis presentation gap.
- genia_descendant_cats: GENIA-style UMLS descendant-closure term lookup
  (reference src/dataset/term2cat/genia.py:46-94: BFS over MRREL CHD
  edges from a root CUI, then MRCONSO terms of the reachable set with a
  source-vocabulary exclusion).
- tui_prefix_terms / wikidata_class_terms / twitter_term2cat: the
  remaining alternate KB loaders (reference terms.py:40-98 STN-prefix TUI
  subtree → source-filtered terms; terms.py:204-249 subclass closure →
  membership → labels∪alias; twitter.py:160-198 subtraction chain +
  cross-category dedup) — together these close the last KB-loader family.

Fixture convention matches queries_r3: everything derives
deterministically from the testdata parquet tables; oracles are DuckDB
SQL over the same tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from thesaurus_based_ner_spark.operators.evalmetrics import (
    dataset_span_diff,
    span_markup,
)
from thesaurus_based_ner_spark.operators.gold import (
    CONLL2003_CATEGORY_MAPPER,
    map_conll_categories,
)
from thesaurus_based_ner_spark.operators.graph import descendants_bfs
from thesaurus_based_ner_spark.operators.kb_loaders import (
    dictionary_set_algebra,
    tui_terms,
    wikidata_class_terms,
)
from thesaurus_based_ner_spark.operators.mentions import bio_tags_df
from thesaurus_based_ner_spark.operators.pseudo import (
    drop_unknown_type,
    join_pseudo_and_gold,
)
from thesaurus_based_ner_spark.plans.queries import (
    _SQL_TOKEN_RE,
    T,
    _doc_tokens,
    q,
)
from thesaurus_based_ner_spark.plans.queries_ext import (
    _GOLD_CTE,
    _GOLD_MASK_SQL,
    _NC_MASK_SPARK,
    _dual_cte,
    _gold_spans,
    _run_spans,
    _run_sql,
    _span_diff_frames,
)

# same diff CTEs as dataset_span_diff, then join tokens back and build
# the exact bracket string: lctx [direction:label span ] rctx with a
# ±5/+6-token context window (compare.py:107-108 stt=max(0,s-5),
# ed=e+6)
_SPAN_MARKUP_ORACLE = _dual_cte() + """
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
    ),
    diff AS (SELECT * FROM over_s UNION ALL SELECT * FROM under_s)
    SELECT d.doc_id, d.m_start, d.m_end, d.label, d.direction,
           CONCAT_WS(' ',
             NULLIF(array_to_string(
               list_slice(toks, GREATEST(0, d.m_start - 5) + 1, d.m_start),
               ' '), ''),
             '[' || d.direction || ':' || d.label,
             array_to_string(
               list_slice(toks, d.m_start + 1, d.m_end), ' '),
             ']',
             NULLIF(array_to_string(
               list_slice(toks, d.m_end + 1,
                          LEAST(len(toks), d.m_end + 6)),
               ' '), '')
           ) AS markup
    FROM diff d JOIN docs USING (doc_id)
    """


@q("span_markup_diff", oracle=_SPAN_MARKUP_ORACLE)
def span_markup_diff(spark, sf_dir):
    """Bracket-markup rendering of every over/under diff span in its
    sentence context — reuses the single-pass checkpointed run frame,
    adds one doc-keyed join to the token frame, and builds the string
    with pure codegen array/string expressions (no UDF)."""
    gold, pred = _span_diff_frames(spark, sf_dir)
    diff = dataset_span_diff(gold, pred, ["doc_id"])
    return span_markup(diff, _doc_tokens(spark, sf_dir), ["doc_id"])


# ---------------------------------------------------------------------------
# GENIA-style descendant-closure term2cat (genia.py:46-94)
# ---------------------------------------------------------------------------
#
# Fixture CUI forest over part: CHD edge C(k DIV 7) → C(k) whenever
# k DIV 7 ≥ 1 (partkeys are contiguous from 1, so the parent always
# exists). Root C1 reaches k ∈ {7..13}, {49..97}, {343..685}, ... — depth
# grows with sf, so the BFS is exercised for ≥3 rounds at sf0.01+.
# MRCONSO-shape: (cui=C<partkey>, term=p_name, sab=p_brand); the
# reference's source-vocabulary exclusion list (sab NOT IN (...),
# genia.py:76-82) maps to excluding one brand. Output = DISTINCT terms of
# the reachable set (cuis2terms dedupes across CUIs, genia.py:85-94).

@q(
    "genia_descendant_cats",
    oracle="""
    WITH RECURSIVE des(k) AS (
      SELECT 1
      UNION
      SELECT p.p_partkey FROM part p JOIN des d ON p.p_partkey // 7 = d.k
      WHERE p.p_partkey // 7 >= 1
    )
    SELECT DISTINCT p.p_name AS term
    FROM part p JOIN des d ON p.p_partkey = d.k
    WHERE p.p_brand <> 'Brand#11'
    """,
)
def genia_descendant_cats(spark, sf_dir):
    """Descendant-closure term lookup: BFS over synthesized CHD edges from
    root C1 (descendants_bfs — frontier joins, no all-pairs closure), then
    the MRCONSO term join with the source-vocab exclusion filter."""
    p = T(spark, sf_dir, "part")
    edges = (
        p.select(
            F.concat(F.lit("C"), F.expr("p_partkey DIV 7")).alias("cui1"),
            F.concat(F.lit("C"), "p_partkey").alias("cui2"),
        )
        .filter(F.expr("p_partkey DIV 7") >= 1)
    )
    roots = spark.sql("SELECT 'C1' AS node")
    reach = descendants_bfs(edges, roots, "cui1", "cui2")
    conso = p.select(
        F.concat(F.lit("C"), "p_partkey").alias("cui"),
        F.col("p_name").alias("term"),
        F.col("p_brand").alias("sab"),
    )
    return (
        conso.join(reach, conso["cui"] == reach["node"], "left_semi")
        .filter(F.col("sab") != "Brand#11")
        .select("term")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Alternate KB loaders (terms.py / twitter.py) over deterministic fixtures
# ---------------------------------------------------------------------------
#
# SRDEF-shape fixture: tui = 'T'||partkey, stn = letter(partkey%3) ||
# partkey-digits — truncation-by-10 gives a genuine prefix subtree
# (root 'T17' → stn 'C17' → descendants {k : k%3==2 and digits start
# '17'}). MRSTY-shape from lineitem (cui='C'||orderkey, tui='T'||partkey),
# MRCONSO-shape from orders (lang from orderkey%4, sab=o_orderpriority,
# term=o_orderdate-as-string) — mirrors load_TUI_terms' lang/src filters.

@q(
    "tui_prefix_terms",
    oracle="""
    WITH srdef AS (
      SELECT 'T' || p_partkey AS tui,
             substr('ABC', p_partkey % 3 + 1, 1) || p_partkey AS stn
      FROM part
    ),
    root AS (SELECT stn AS root_stn FROM srdef WHERE tui = 'T17'),
    des AS (
      SELECT tui FROM srdef, root WHERE stn LIKE root_stn || '%'
    ),
    cuis AS (
      SELECT DISTINCT 'C' || l_orderkey AS cui FROM lineitem
      WHERE 'T' || l_partkey IN (SELECT tui FROM des)
    )
    SELECT DISTINCT CAST(o_orderdate AS VARCHAR) AS term FROM orders
    WHERE o_orderkey % 4 = 0
      AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
      AND 'C' || o_orderkey IN (SELECT cui FROM cuis)
    """,
)
def tui_prefix_terms(spark, sf_dir):
    """STN-prefix TUI subtree → CUIs → source-filtered distinct terms
    (load_TUI_terms): broadcast 1-row root, broadcast TUI dim, CUI
    semi-join on the shuffle key; lang/sab filters reach the scan."""
    p = T(spark, sf_dir, "part")
    srdef = p.select(
        F.concat(F.lit("T"), "p_partkey").alias("tui"),
        F.concat(
            F.substring(F.lit("ABC"), 1, 3).substr(
                F.col("p_partkey") % 3 + 1, F.lit(1)
            ),
            F.col("p_partkey").cast("string"),
        ).alias("stn"),
    )
    li = T(spark, sf_dir, "lineitem")
    mrsty = li.select(
        F.concat(F.lit("C"), "l_orderkey").alias("cui"),
        F.concat(F.lit("T"), "l_partkey").alias("tui"),
    )
    o = T(spark, sf_dir, "orders")
    mrconso = o.select(
        F.concat(F.lit("C"), "o_orderkey").alias("cui"),
        F.when(F.col("o_orderkey") % 4 == 0, "ENG").otherwise("FRE").alias(
            "lang"
        ),
        F.col("o_orderpriority").alias("sab"),
        F.col("o_orderdate").cast("string").alias("term"),
    )
    return tui_terms(
        srdef, mrsty, mrconso, "T17", ["1-URGENT", "3-MEDIUM"]
    )


# Class-graph fixture: subclass edge K(k DIV 5) → K(k); root K2 reaches
# {2, 10-14, 50-74, 250-374, ...} (depth grows with sf). Membership from
# supplier (instance-type rows) and customer (subclass rows, distinct ent
# prefix so the two sources stay disjoint); names = s_name ∪ c_name.

@q(
    "wikidata_class_terms",
    oracle="""
    WITH RECURSIVE des(k) AS (
      SELECT 2
      UNION
      SELECT p.p_partkey FROM part p JOIN des d ON p.p_partkey // 5 = d.k
      WHERE p.p_partkey // 5 >= 1
    ),
    members AS (
      SELECT 'E' || s_suppkey AS ent, s_name AS name FROM supplier
      WHERE (s_suppkey * 7) % 500 + 1 IN (SELECT k FROM des)
      UNION
      SELECT 'F' || c_custkey AS ent, c_name AS name FROM customer
      WHERE (c_custkey * 3) % 500 + 1 IN (SELECT k FROM des)
    )
    SELECT DISTINCT name FROM members
    """,
)
def wikidata_class_terms_q(spark, sf_dir):
    """Subclass-closure class membership → labels∪alias names
    (load_DBPedia_terms): BFS frontier joins for the closure, semi-joins
    for membership and naming — no all-pairs step anywhere."""
    p = T(spark, sf_dir, "part")
    edges = p.select(
        F.concat(F.lit("K"), F.expr("p_partkey DIV 5")).alias("parent"),
        F.concat(F.lit("K"), "p_partkey").alias("child"),
    ).filter(F.expr("p_partkey DIV 5") >= 1)
    s = T(spark, sf_dir, "supplier")
    c = T(spark, sf_dir, "customer")
    instance_type = s.select(
        F.concat(F.lit("E"), "s_suppkey").alias("ent"),
        F.concat(F.lit("K"), (F.col("s_suppkey") * 7) % 500 + 1).alias("cls"),
    )
    membership_subclass = c.select(
        F.concat(F.lit("F"), "c_custkey").alias("ent"),
        F.concat(F.lit("K"), (F.col("c_custkey") * 3) % 500 + 1).alias("cls"),
    )
    labels = s.select(
        F.concat(F.lit("E"), "s_suppkey").alias("ent"),
        F.col("s_name").alias("name"),
    )
    alias = c.select(
        F.concat(F.lit("F"), "c_custkey").alias("ent"),
        F.col("c_name").alias("name"),
    )
    roots = spark.sql("SELECT 'K2' AS node")
    return wikidata_class_terms(
        edges, instance_type, membership_subclass, labels, alias, roots
    )


# Twitter dictionary fixture: cat = first word of p_type (6 values),
# term = p_name + a partkey%10 suffix — raw p_name collides across every
# cat at sf0.01+ (64 distinct names for 2000 parts → empty dictionary);
# the suffix keeps both cleanup passes exercised AND leaves survivors.
# Subtraction chain mirrors the reference's ordering semantics
# (person -= musicartist, geo_loc -= facility, product -= ..., with later
# pairs seeing earlier results).

_TWITTER_SUBTRACT = [
    ("STANDARD", "SMALL"),
    ("LARGE", "MEDIUM"),
    ("ECONOMY", "PROMO"),
    ("ECONOMY", "STANDARD"),
]


@q(
    "twitter_term2cat",
    oracle="""
    WITH ct AS (
      SELECT DISTINCT split_part(p_type, ' ', 1) AS cat,
             p_name || '/' || (p_partkey % 10) AS term
      FROM part
    ),
    s1 AS (
      SELECT * FROM ct WHERE cat <> 'STANDARD'
      UNION ALL
      SELECT * FROM ct WHERE cat = 'STANDARD'
        AND term NOT IN (SELECT term FROM ct WHERE cat = 'SMALL')
    ),
    s2 AS (
      SELECT * FROM s1 WHERE cat <> 'LARGE'
      UNION ALL
      SELECT * FROM s1 WHERE cat = 'LARGE'
        AND term NOT IN (SELECT term FROM s1 WHERE cat = 'MEDIUM')
    ),
    s3 AS (
      SELECT * FROM s2 WHERE cat <> 'ECONOMY'
      UNION ALL
      SELECT * FROM s2 WHERE cat = 'ECONOMY'
        AND term NOT IN (SELECT term FROM s2 WHERE cat = 'PROMO')
    ),
    s4 AS (
      SELECT * FROM s3 WHERE cat <> 'ECONOMY'
      UNION ALL
      SELECT * FROM s3 WHERE cat = 'ECONOMY'
        AND term NOT IN (SELECT term FROM s3 WHERE cat = 'STANDARD')
    )
    SELECT term, MIN(cat) AS cat FROM s4
    GROUP BY term HAVING COUNT(DISTINCT cat) = 1
    """,
)
def twitter_term2cat(spark, sf_dir):
    """Per-category term sets → ordered subtraction chain → cross-category
    duplicate removal → term2cat (load_twitter_main_dictionary). Each
    subtraction is one term-keyed anti-join; the dedup is one
    groupBy(term) keeping single-category terms."""
    p = T(spark, sf_dir, "part")
    cat_terms = p.select(
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("cat"),
        F.concat(
            F.col("p_name"), F.lit("/"), F.col("p_partkey") % 10
        ).alias("term"),
    )
    return dictionary_set_algebra(cat_terms, _TWITTER_SUBTRACT)


# ---------------------------------------------------------------------------
# Round-4b: oracle coverage for previously pytest-only operators
# (VERDICT r3 coverage table rows marked `local`: F7, J7, J8, U5)
# ---------------------------------------------------------------------------


# F7 (reference gold_dataset.py:332,420): UnknownType spans are skipped
# when building MSMLC datasets. Fixture: relabel every third-offset gold
# run UnknownType, then the operator must drop exactly those.
_UNKNOWN_TYPE_ORACLE = _GOLD_CTE + """
    SELECT doc_id, m_start, m_end, label FROM (
      SELECT doc_id, m_start, m_end,
             CASE WHEN m_start % 3 = 0 THEN 'UnknownType' ELSE label END
               AS label
      FROM gold
    ) WHERE label <> 'UnknownType'
    """


@q("unknown_type_filter", oracle=_UNKNOWN_TYPE_ORACLE)
def unknown_type_filter(spark, sf_dir):
    spans = _gold_spans(spark, sf_dir).withColumn(
        "label",
        F.when(F.col("m_start") % 3 == 0, F.lit("UnknownType")).otherwise(
            F.col("label")
        ),
    )
    return drop_unknown_type(spans).select(
        "doc_id", "m_start", "m_end", "label"
    )


# J7/SO4 (reference pseudo_dataset.py:144-161): DatasetDict assembly —
# pseudo rows become the train split, gold rows validation/test, in one
# table. Fixture splits the corpus by doc_id % 4 (0,1→pseudo, 2→val,
# 3→test); ner_tags come from the shared gold mask so every engine-side
# row is oracle-derivable. Output is the per-split audit aggregate
# (sentence/token/B-tag counts) — robust to array-representation drift
# between engines while still requiring the union to be exact.
_SPLIT_UNION_ORACLE = "WITH " + _run_sql(_GOLD_MASK_SQL) + f"""
    , split_docs AS (
      SELECT doc_id, len(regexp_extract_all(text, '{_SQL_TOKEN_RE}')) AS n_toks,
             CASE WHEN doc_id % 4 IN (0, 1) THEN 'train'
                  WHEN doc_id % 4 = 2 THEN 'validation'
                  ELSE 'test' END AS split
      FROM documents
    ),
    b_counts AS (
      SELECT r.doc_id, COUNT(*) AS n_b FROM runs r GROUP BY r.doc_id
    )
    SELECT s.split,
           COUNT(*) AS n_sents,
           CAST(SUM(s.n_toks) AS BIGINT) AS n_toks,
           CAST(SUM(COALESCE(b.n_b, 0)) AS BIGINT) AS n_b
    FROM split_docs s LEFT JOIN b_counts b USING (doc_id)
    GROUP BY s.split
    """


@q("pseudo_gold_split_union", oracle=_SPLIT_UNION_ORACLE)
def pseudo_gold_split_union(spark, sf_dir):
    sents = _doc_tokens(spark, sf_dir)
    mentions = _gold_spans(spark, sf_dir).withColumn(
        "label", F.lit("TERM")
    )
    tagged = bio_tags_df(sents, mentions, ["doc_id"])
    pseudo_f = tagged.filter(F.col("doc_id") % 4 < 2)
    val_f = tagged.filter(F.col("doc_id") % 4 == 2)
    test_f = tagged.filter(F.col("doc_id") % 4 == 3)
    unioned = join_pseudo_and_gold(pseudo_f, val_f, test_f)
    return unioned.groupBy("split").agg(
        F.count("*").alias("n_sents"),
        F.sum(F.size("tokens")).alias("n_toks"),
        F.sum(
            F.size(F.filter("ner_tags", lambda t: t.startswith("B-")))
        ).alias("n_b"),
    )


# J8 (reference typer_to_bio.py:6-15): DBpedia-class labels map onto
# CoNLL2003 categories; classes outside the mapper fall through
# unchanged. Fixture assigns each gold run a class from the full mapper
# domain plus two unmapped classes, keyed on (m_start + m_end).
_CONLL_CLASSES = sorted(
    {c for cls in CONLL2003_CATEGORY_MAPPER.values() for c in cls}
) + ["<http://dbpedia.org/ontology/Color>", "plain-label"]
_CLS_TO_CAT = {
    c: cat
    for cat, cs in CONLL2003_CATEGORY_MAPPER.items()
    for c in cs
}
_N_CLASSES = len(_CONLL_CLASSES)
_SQL_CLASSES = ", ".join(
    "'" + c.replace("'", "''") + "'" for c in _CONLL_CLASSES
)
_SQL_CASE = " ".join(
    f"WHEN '{c}' THEN '{_CLS_TO_CAT[c]}'"
    for c in _CONLL_CLASSES
    if c in _CLS_TO_CAT
)
_CONLL_ORACLE = _GOLD_CTE + f"""
    SELECT doc_id, m_start, m_end,
           CASE cls {_SQL_CASE} ELSE cls END AS label
    FROM (
      SELECT doc_id, m_start, m_end,
             ([{_SQL_CLASSES}])[CAST((m_start + m_end) % {_N_CLASSES} AS INT) + 1]
               AS cls
      FROM gold
    )
    """


@q("conll_category_mapped", oracle=_CONLL_ORACLE)
def conll_category_mapped(spark, sf_dir):
    spans = _gold_spans(spark, sf_dir).withColumn(
        "label",
        F.element_at(
            F.array(*[F.lit(c) for c in _CONLL_CLASSES]),
            ((F.col("m_start") + F.col("m_end")) % _N_CLASSES + 1).cast("int"),
        ),
    )
    return map_conll_categories(spans, spark).select(
        "doc_id", "m_start", "m_end", "label"
    )


# U5 (reference two_stage.py:47-65): BIO encoding drops nc-* spans at
# encode time. Fixture: gold runs labeled TERM plus vowel-final-token
# runs labeled nc-x (the operator must ignore the latter); output one
# row per token position for representation-robust hashing.
_BIO_TAG_ROWS_ORACLE = "WITH " + _run_sql(_GOLD_MASK_SQL) + f"""
    , docs2 AS (
      SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
      FROM documents
    ),
    pos2 AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p FROM docs2
    )
    SELECT p.doc_id, CAST(p.p - 1 AS BIGINT) AS pos,
           CASE WHEN r.m_start IS NULL THEN 'O'
                WHEN p.p - 1 = r.m_start THEN 'B-TERM'
                ELSE 'I-TERM' END AS tag
    FROM pos2 p LEFT JOIN runs r
      ON p.doc_id = r.doc_id
     AND p.p - 1 >= r.m_start AND p.p - 1 < r.m_end
    """


@q("bio_tag_rows", oracle=_BIO_TAG_ROWS_ORACLE)
def bio_tag_rows(spark, sf_dir):
    sents = _doc_tokens(spark, sf_dir)
    gold_m = _gold_spans(spark, sf_dir).withColumn("label", F.lit("TERM"))
    nc_m = _run_spans(sents, _NC_MASK_SPARK()).withColumn(
        "label", F.lit("nc-x")
    )
    mentions = gold_m.select(
        "doc_id", "m_start", "m_end", "label"
    ).unionByName(nc_m.select("doc_id", "m_start", "m_end", "label"))
    tagged = bio_tags_df(sents, mentions, ["doc_id"])
    return tagged.select(
        "doc_id", F.posexplode("ner_tags").alias("pos", "tag")
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "tag")
