"""Alternate KB-loader family — the reference's remaining term2cat
builders re-expressed as DataFrame ops (closes VERDICT r3 "missing" #4).

Reference files (semantics only; their implementations are single-node
line loops / SPARQL endpoints):
- src/dataset/term2cat/terms.py:40-59   get_descendants_TUIs (STN-prefix
  descendant selection with the T000 entities∪events special case)
- src/dataset/term2cat/terms.py:61-98   load_TUI_terms (TUI set → MRSTY
  CUIs → MRCONSO English terms restricted to a source-vocabulary set)
- src/dataset/term2cat/terms.py:204-249 load_DBPedia_terms +
  terms_from_Wikidata_for_cats (subclass closure from root classes, then
  instance-type ∪ subclass rows as membership, then labels ∪ alias names)
- src/dataset/term2cat/twitter.py:160-198 load_twitter_main_dictionary
  (per-category term sets, a fixed subtraction chain, then cross-category
  duplicate removal → term2cat)

Scale: every step is a key-equality join or aggregate on (tui|cui|ent|
term) — no all-pairs anywhere. Closures ride descendants_bfs (frontier
equi-joins, reachable-set state only). The TUI descendant set and root
frames are dim-sized and broadcast; term-keyed shuffles partition evenly
(terms are near-unique).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tui_prefix_descendants(srdef: DataFrame, root_tui: str) -> DataFrame:
    """TUIs whose semantic-tree-number starts with the root's STN
    (terms.py:40-59). srdef: (tui, stn). The reference's special root
    ``T000`` selects entities ∪ events = STNs starting 'A' or 'B'.
    Returns a 1-column (tui) frame.

    Plan: broadcast the single root row and filter with startswith — one
    scan, no shuffle.
    """
    if root_tui == "T000":
        return srdef.filter(
            F.col("stn").startswith("A") | F.col("stn").startswith("B")
        ).select("tui")
    root = srdef.filter(F.col("tui") == root_tui).select(
        F.col("stn").alias("root_stn")
    )
    return (
        srdef.crossJoin(F.broadcast(root))
        .filter(F.col("stn").startswith(F.col("root_stn")))
        .select("tui")
    )


def tui_terms(
    srdef: DataFrame,
    mrsty: DataFrame,
    mrconso: DataFrame,
    root_tui: str,
    src_vocabs: list[str],
    lang: str = "ENG",
) -> DataFrame:
    """Distinct terms of all CUIs typed under the root TUI's subtree,
    restricted to a source-vocabulary set (load_TUI_terms,
    terms.py:61-98: include_tuis → MRSTY cuis → MRCONSO terms with
    lang == ENG and src ∈ ST21pvSrc).

    mrsty: (cui, tui); mrconso: (cui, lang, sab, term).
    Plan: TUI subtree (dim) broadcast-semi-joins MRSTY; the CUI set
    semi-joins MRCONSO on its shuffle key; lang/sab filters reach the
    scan. Returns 1-column (term), distinct.
    """
    tuis = tui_prefix_descendants(srdef, root_tui)
    cuis = mrsty.join(F.broadcast(tuis), ["tui"], "left_semi").select("cui")
    return (
        mrconso.filter(
            (F.col("lang") == lang) & F.col("sab").isin(list(src_vocabs))
        )
        .join(cuis, ["cui"], "left_semi")
        .select("term")
        .distinct()
    )


def wikidata_class_terms(
    subclass_edges: DataFrame,
    instance_type: DataFrame,
    membership_subclass: DataFrame,
    labels: DataFrame,
    alias: DataFrame,
    root_classes: DataFrame,
) -> DataFrame:
    """Distinct names of every entity typed under the root classes'
    subclass closure (load_DBPedia_terms → terms_from_Wikidata_for_cats →
    get_names_from_entities, terms.py:172-249).

    - subclass_edges (parent, child): ontology edges; the reference walks
      parent2children to a fixpoint (terms.py:230-237) — here
      descendants_bfs (frontier equi-joins, no all-pairs closure).
    - instance_type / membership_subclass (ent, cls): rows whose cls is
      in the closure contribute ent (the reference reads BOTH files as
      membership, terms.py:209-219).
    - labels / alias (ent, name): union of both name sources
      (terms.py:177-200), distinct.
    """
    from thesaurus_based_ner_spark.operators.graph import descendants_bfs

    classes = descendants_bfs(
        subclass_edges, root_classes.toDF("node"), "parent", "child"
    ).withColumnRenamed("node", "cls")
    members = (
        instance_type.unionByName(membership_subclass)
        .join(classes, ["cls"], "left_semi")
        .select("ent")
        .distinct()
    )
    names = labels.unionByName(alias)
    return (
        names.join(members, ["ent"], "left_semi").select("name").distinct()
    )


def dictionary_set_algebra(
    cat_terms: DataFrame,
    subtract: list[tuple[str, str]],
) -> DataFrame:
    """term2cat from per-category term sets with the reference's two
    cleanup passes (load_twitter_main_dictionary, twitter.py:160-198):

    1. a fixed subtraction chain — for each (target, remove) pair IN
       ORDER, drop from category `target` every term currently in
       category `remove` (person -= musicartist, geo_loc -= facility,
       product -= everything, twitter.py:170-180); later pairs see the
       results of earlier ones;
    2. cross-category duplicate removal — any term still present under
       ≥2 categories is dropped from ALL of them (twitter.py:188-196).

    cat_terms: (cat, term). Returns (term, cat), term unique.
    Plan: each subtraction is one term-keyed anti-join of two dim slices;
    the dedup is a groupBy(term) keeping single-category terms — shuffle
    keys are terms, near-unique, skew-free at dictionary scale. Each step
    references the running dictionary 3× (kept rows, target slice, remove
    slice), so WITHOUT a per-step materialization the lazy plan re-derives
    the base frame 3^N times; localCheckpoint after every step bounds it
    to one pass over the (dim-sized) dictionary per subtraction.
    """
    from thesaurus_based_ner_spark.operators.checkpoint import checkpoint

    cur = checkpoint(cat_terms.select("cat", "term").distinct())
    for target, remove in subtract:
        removed = (
            cur.filter(F.col("cat") == target)
            .join(
                cur.filter(F.col("cat") == remove).select("term"),
                ["term"],
                "left_anti",
            )
        )
        cur = checkpoint(
            cur.filter(F.col("cat") != target).unionByName(removed)
        )
    return (
        cur.groupBy("term")
        .agg(
            F.collect_set("cat").alias("cats"),
        )
        .filter(F.size("cats") == 1)
        .select("term", F.element_at("cats", 1).alias("cat"))
    )


def wikipedia_article_terms(
    instance_type: DataFrame,
    redirects: DataFrame,
    names: DataFrame,
    cats: DataFrame,
) -> DataFrame:
    """Names of the articles typed under given categories, expanded with
    ONE hop of redirect sources (terms_from_Wikipedia_for_cats,
    terms.py:140-170: article2redirects[o] adds the redirecting pages of
    each matched article — a single hop, not a fixpoint; the fixpoint
    variant lives in graph.resolve_chains for the J2 path).

    instance_type: (ent, cls); redirects: (src, dst) meaning src
    redirects to dst; names: (ent, name); cats: 1-column class frame.
    Returns (name) with duplicates preserved per reference (terms +=
    list(...)) collapsed to distinct — the downstream dictionary is a
    set either way (terms.py:167-170 feeds a set-union).
    """
    arts = (
        instance_type.join(F.broadcast(cats.toDF("cls")), ["cls"], "left_semi")
        .select("ent")
        .distinct()
    )
    expanded = arts.unionByName(
        redirects.join(
            arts.withColumnRenamed("ent", "dst"), ["dst"], "left_semi"
        ).select(F.col("src").alias("ent"))
    ).distinct()
    return names.join(expanded, ["ent"], "left_semi").select("name").distinct()
