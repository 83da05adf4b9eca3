"""Thesaurus construction (SURVEY.md §3.1 entry point A) as Spark jobs.

Reference dataflow (/root/reference/src/dataset/term2cat/
dictionary_form_term2cats.py, /root/reference/src/kb_loader/db_pedia.py):

  UMLS branch:   MRCONSO scan → term→CUIs groupBy → CUI→TUIs join →
                 ancestor expansion → per-term intersect/union of cat sets
  anchor branch: anchor_text(entity, surface) → per-(surface, entity)
                 counts → top-20 per surface → join entity→cats →
                 weighted cat scores per surface
  finalize:      inflection expansion → target-cat filter → weighted argmax
                 with tie-skip → nc- prefixing → anomaly-suffix removal

Spark-native rewrites of the reference's anti-patterns (SURVEY §4):
- per-label looped SQL (db_pedia.py:207,267) → single window / groupBy pass
- SQLite KV stores → DataFrames, broadcast at use time
- Python dict accumulation → collect_set/aggregate
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T


# --- S1-S4 scans -----------------------------------------------------------------

def read_pipe_table(
    spark: SparkSession, path: str, columns: list[str]
) -> DataFrame:
    """UMLS RRF-style pipe-delimited scan with explicit schema (S1-S3).

    Reference reads these line-by-line in Python
    (dictionary_form_term2cats.py:104-146); here it's a parallel CSV scan
    with column pruning pushed to the reader.
    """
    schema = T.StructType([T.StructField(c, T.StringType()) for c in columns])
    return spark.read.csv(path, sep="|", schema=schema)


def read_ttl_predicate(
    spark: SparkSession, path: str, predicate: str
) -> DataFrame:
    """N-triples scan filtered to one predicate via regexp (S4).

    Returns (subj, obj). Mirrors the reference's per-predicate regex line
    scans (db_pedia.py:24-54, dictionary_form_term2cats.py:183-239) as a
    distributed text scan + vectorized regexp_extract — the filter and both
    extracts run inside whole-stage codegen.
    """
    pat = rf"^<([^>]+)>\s+<{predicate}>\s+[<\"]([^>\"]*)[>\"].*$"
    lines = spark.read.text(path)
    return (
        lines.filter(F.col("value").rlike(f"<{predicate}>"))
        .select(
            F.regexp_extract("value", pat, 1).alias("subj"),
            F.regexp_extract("value", pat, 2).alias("obj"),
        )
        .filter((F.col("subj") != "") & (F.col("obj") != ""))
    )


# --- UMLS-style branch -------------------------------------------------------------

def term2cats_from_concepts(
    conso: DataFrame,
    sty: DataFrame,
    closure: DataFrame,
    mode: str = "intersection",
) -> DataFrame:
    """(term, cats array, weights array) from concept + semantic-type tables.

    conso: (cui, lang, src, term) — filtered like reference F1 upstream.
    sty:   (cui, tui)
    closure: (node, ancestor) ancestor closure of the type hierarchy (G1).

    Per term: expand each CUI's TUIs by the closure (G3), then combine
    across CUIs by set intersection (dictionary_form_term2cats.py:159-176,
    `remain_common_sense` semantics) or union; weight = 1.0 (UMLS path).
    """
    cui_cats = (
        sty.join(
            F.broadcast(closure.withColumnRenamed("node", "tui")), "tui"
        )
        .select("cui", F.col("ancestor").alias("cat"))
        .distinct()
    )
    term_cui = conso.select("term", "cui").distinct()
    n_cuis = term_cui.groupBy("term").agg(F.countDistinct("cui").alias("n_cuis"))
    term_cat_counts = (
        term_cui.join(cui_cats, "cui")
        .groupBy("term", "cat")
        .agg(F.countDistinct("cui").alias("n_with_cat"))
    )
    if mode == "intersection":
        kept = term_cat_counts.join(n_cuis, "term").filter(
            F.col("n_with_cat") == F.col("n_cuis")
        )
    else:
        kept = term_cat_counts.join(n_cuis, "term")
    return (
        kept.groupBy("term")
        .agg(F.array_sort(F.collect_set("cat")).alias("cats"))
        .withColumn(
            "weights", F.transform("cats", lambda _: F.lit(1.0))
        )
    )


def expand_disambiguation(
    term2entity: DataFrame,
    disamb: DataFrame,
    max_depth: int = 16,
) -> DataFrame:
    """Replace ambiguous entities by their disambiguation targets, BFS to
    fixpoint (G4, dictionary_form_term2cats.py:179-217: a term pointing at
    a disambiguation page fans out to the page's monosemous leaf targets;
    chains of disambiguation pages are followed to the leaves).

    term2entity: (term, entity); disamb: (src, dst) one-to-many edges.
    Output: (term, entity) with every src replaced by its leaf targets.
    """
    from thesaurus_based_ner_spark.operators.checkpoint import checkpoint

    srcs = disamb.select(F.col("src").alias("entity")).distinct()
    cur = term2entity
    for _ in range(max_depth):
        ambiguous = checkpoint(cur.join(srcs, "entity", "left_semi"))
        # 1-row count aggregate (checkpointed input, so the expansion
        # below reuses the materialization) — no isEmpty in the loop
        if ambiguous.agg(F.count("*").alias("n")).collect()[0]["n"] == 0:
            break
        resolved = cur.join(srcs, "entity", "left_anti")
        expanded = (
            ambiguous.join(disamb, ambiguous["entity"] == disamb["src"])
            .select("term", F.col("dst").alias("entity"))
        )
        cur = checkpoint(resolved.unionByName(expanded).distinct())
    return cur


def merge_redirected_entity_cats(
    entity2cat: DataFrame, redirects: DataFrame
) -> DataFrame:
    """Union each redirect source's cats onto its chain root (J2/G5,
    db_pedia.py:37-71: redirected entities contribute their cats to the
    target). Output (entity, cat) over root entities only."""
    from thesaurus_based_ner_spark.operators.graph import resolve_chains

    roots = resolve_chains(redirects, "src", "dst")
    moved = (
        entity2cat.join(roots, entity2cat["entity"] == roots["src"])
        .select(F.col("root").alias("entity"), "cat")
    )
    srcs = redirects.select(F.col("src").alias("entity"))
    kept = entity2cat.join(srcs, "entity", "left_anti")
    return kept.unionByName(moved).distinct()


# --- anchor-text branch ------------------------------------------------------------

def anchor_term2cats(
    anchor: DataFrame,
    entity2cat: DataFrame,
    top_k: int = 20,
) -> DataFrame:
    """(term, cats, weights) from anchor counts (db_pedia.py:200-283).

    One window pass for the top-k candidates per surface (vs the
    reference's per-label point queries), then weighted cat aggregation:
    weight(cat | surface) = Σ anchor_count over top-k entities with cat.
    """
    counts = anchor.groupBy(
        F.col("surface").alias("term"), "entity"
    ).agg(F.count("*").alias("anchor_count"))
    w = Window.partitionBy("term").orderBy(
        F.col("anchor_count").desc(), F.col("entity").asc()
    )
    topk = counts.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= top_k
    )
    weighted = (
        topk.join(entity2cat, "entity")
        .groupBy("term", "cat")
        .agg(F.sum("anchor_count").cast("double").alias("weight"))
    )
    packed = (
        weighted.withColumn(
            "cw", F.struct(F.col("weight"), F.col("cat"))
        )
        .groupBy("term")
        .agg(F.reverse(F.array_sort(F.collect_list("cw"))).alias("cws"))
    )
    return packed.select(
        "term",
        F.transform("cws", lambda s: s["cat"]).alias("cats"),
        F.transform("cws", lambda s: s["weight"]).alias("weights"),
    )


# --- inflection expansion (X5) ------------------------------------------------------

_IRREGULAR = {
    "person": "people", "child": "children", "man": "men", "woman": "women",
    "foot": "feet", "tooth": "teeth", "mouse": "mice", "goose": "geese",
}
_IRREGULAR_INV = {v: k for k, v in _IRREGULAR.items()}
_UNINFLECTED = {"series", "species", "sheep", "fish", "deer", "data"}


def pluralize(word: str) -> str:
    """Deterministic rule-based pluralizer (reference utils.py:52-102 uses
    equivalent hand rules; we re-derive standard English rules)."""
    lw = word.lower()
    if lw in _UNINFLECTED or not word or not word[-1].isalpha():
        return word
    if lw in _IRREGULAR:
        out = _IRREGULAR[lw]
    elif lw.endswith(("s", "x", "z", "ch", "sh")):
        out = word + "es"
    elif lw.endswith("y") and len(lw) > 1 and lw[-2] not in "aeiou":
        out = word[:-1] + "ies"
    elif lw.endswith("fe"):
        out = word[:-2] + "ves"
    elif lw.endswith("f") and lw not in ("chef", "roof", "belief"):
        out = word[:-1] + "ves"
    else:
        out = word + "s"
    return out


def singularize(word: str) -> str:
    lw = word.lower()
    if lw in _UNINFLECTED or not word:
        return word
    if lw in _IRREGULAR_INV:
        return _IRREGULAR_INV[lw]
    if lw.endswith("ies") and len(lw) > 3:
        return word[:-3] + "y"
    if lw.endswith("ves") and len(lw) > 3:
        # -ves inverts two pluralization rules: knife→knives ('fe') and
        # leaf→leaves ('f'). English -ives plurals come from -ife nouns
        # (knife, wife, life), so invert those to 'fe' — a blanket 'f'
        # would inject corrupt surfaces like 'knif' into the dictionary
        if lw.endswith("ives"):
            return word[:-3] + "fe"
        return word[:-3] + "f"
    if lw.endswith(("ses", "xes", "zes", "ches", "shes")):
        return word[:-2]
    if lw.endswith("s") and not lw.endswith("ss"):
        return word[:-1]
    return word


def inflect_term(term: str) -> list[str]:
    """Inflect the LAST token of a (possibly multi-word) term both ways."""
    toks = term.split(" ")
    head, last = toks[:-1], toks[-1]
    out = []
    for cand in (pluralize(last), singularize(last)):
        if cand != last:
            out.append(" ".join(head + [cand]))
    return out


def inflect_terms(term2cats: DataFrame) -> DataFrame:
    """Union inflected variants, skipping collisions with existing terms
    (cli/preprocess/inflect_terms_of_term2cats.py:19-40: new SQLite dict =
    original ∪ inflections that don't collide)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def variants(terms):
        return terms.map(inflect_term)

    exploded = (
        term2cats.withColumn("__v", F.explode(variants("term")))
        .drop("term")
        .withColumnRenamed("__v", "term")
        .select(*term2cats.columns)
    )
    # drop variants colliding with an existing term (keep the original);
    # when two source terms inflect to the SAME variant, keep the winner
    # deterministically (min by the full remaining row) — dropDuplicates
    # alone picks whichever partition arrives first.
    others = [c for c in term2cats.columns if c != "term"]
    fresh = (
        exploded.join(term2cats.select("term"), "term", "left_anti")
        .groupBy("term")
        .agg(F.min(F.struct(*others)).alias("__row"))
        .select("term", "__row.*")
        .select(*term2cats.columns)
    )
    return term2cats.unionByName(fresh)


# --- finalize: weighted argmax + nc prefix + anomaly suffix (W4/F3/F4) -------------

def term2cat_from_term2cats(
    term2cats: DataFrame,
    positive_cats: list[str],
    negative_cats: list[str] | None = None,
) -> DataFrame:
    """(term, cat) single-label dict: weighted argmax with tie-skip, with
    negative cats prefixed nc- (term2cat.py:91-176).
    """
    negative_cats = negative_cats or []
    flat = term2cats.select(
        "term",
        F.explode(F.arrays_zip("cats", "weights")).alias("cw"),
    ).select(
        "term",
        F.col("cw.cats").alias("cat"),
        F.col("cw.weights").alias("weight"),
    )
    labeled = flat.withColumn(
        "out_cat",
        F.when(F.col("cat").isin(positive_cats), F.col("cat")).when(
            F.col("cat").isin(negative_cats), F.concat(F.lit("nc-"), F.col("cat"))
        ),
    ).filter(F.col("out_cat").isNotNull())
    w = Window.partitionBy("term")
    best = (
        labeled.withColumn("__max", F.max("weight").over(w))
        .filter(F.col("weight") == F.col("__max"))
        .groupBy("term")
        .agg(
            F.count("*").alias("__ties"),
            F.min("out_cat").alias("cat"),
        )
        .filter(F.col("__ties") == 1)  # tie-skip (term2cat.py:135-163)
        .select("term", "cat")
    )
    return best


def remove_anomaly_suffix_terms(term2cat: DataFrame) -> DataFrame:
    """Drop terms having a proper suffix (at a token boundary) that is
    itself a term with a DIFFERENT cat (term2cat.py:64-78,172-175:
    'migration' kept, 'cell migration' dropped only if cats differ).
    """
    a = term2cat.alias("a")
    b = term2cat.alias("b")
    bad = a.join(
        b,
        (F.col("a.term") != F.col("b.term"))
        & F.col("a.term").endswith(F.concat(F.lit(" "), F.col("b.term")))
        & (F.col("a.cat") != F.col("b.cat")),
        "left_semi",
    )
    return term2cat.join(bad, ["term", "cat"], "left_anti")


# --- negative-category derivation (SO1) + hierarchy selection (W6) -----------

def _cat_values(spark, cats) -> "DataFrame":
    """1-column dim from a category list — escaped (apostrophes are
    routine in DBpedia/UMLS names) and empty-safe."""
    from thesaurus_based_ner_spark.sources.webtext import lit as _sql_lit

    cats = sorted(set(cats))
    if not cats:
        return spark.sql("SELECT CAST(NULL AS STRING) AS cat WHERE false")
    return spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"({_sql_lit(c)})" for c in cats)
        + " AS t(cat)"
    )


def umls_negative_cats(
    edges: DataFrame, focus_cats: list[str], child_col: str = "child",
    parent_col: str = "parent",
) -> DataFrame:
    """Siblings-of-ancestors negative categories (reference
    get_umls_negative_cats, /root/reference/src/dataset/utils.py:313-340):
    negatives = children(ascendants(focus)) − ascendants − focus, where
    ascendants includes every proper ancestor of any focus cat.

    One closure build (iterative self-join, bounded depth) + three
    broadcast-sized joins — the cat hierarchy is a dim table.
    """
    from thesaurus_based_ner_spark.operators.graph import ancestor_closure

    spark = edges.sparkSession
    focus = _cat_values(spark, focus_cats)
    closure = ancestor_closure(edges, child_col, parent_col, include_self=True)
    ascendants = (
        closure.join(focus, closure["node"] == focus["cat"], "left_semi")
        .select(F.col("ancestor").alias("cat"))
        .distinct()
        .join(focus, "cat", "left_anti")  # ascendants −= focus (utils.py:332)
    )
    children_of_asc = (
        edges.join(
            ascendants, edges[parent_col] == ascendants["cat"], "left_semi"
        )
        .select(F.col(child_col).alias("cat"))
        .distinct()
    )
    return (
        children_of_asc.join(ascendants, "cat", "left_anti")
        .join(focus, "cat", "left_anti")
        .select("cat")
    )


def negative_cats_from_positive(
    edges: DataFrame, positive_cats: list[str], child_col: str = "child",
    parent_col: str = "parent",
) -> DataFrame:
    """Topmost hierarchy nodes whose subtree contains no positive cat
    (reference get_negative_cats_from_positive_cats BFS,
    utils.py:447-478): a node is returned iff it is negative (no positive
    descendant incl. itself) and every proper ancestor is non-negative and
    non-positive — the BFS stops exploring below positive/negative nodes.
    """
    from thesaurus_based_ner_spark.operators.graph import ancestor_closure

    spark = edges.sparkSession
    pos = _cat_values(spark, positive_cats)
    closure = ancestor_closure(edges, child_col, parent_col, include_self=True)
    # nodes whose subtree (descendants incl self) holds a positive
    has_pos = (
        closure.join(pos, closure["node"] == pos["cat"], "left_semi")
        .select(F.col("ancestor").alias("n"))
        .distinct()
    )
    nodes = (
        edges.select(F.col(child_col).alias("n"))
        .union(edges.select(F.col(parent_col).alias("n")))
        .distinct()
    )
    negative = nodes.join(has_pos, "n", "left_anti")
    # blocked: some PROPER ancestor is negative (subsumed) or positive
    proper_anc = closure.filter(F.col("node") != F.col("ancestor"))
    blocked_by_neg = (
        proper_anc.join(
            negative, proper_anc["ancestor"] == negative["n"], "left_semi"
        )
        .select(F.col("node").alias("n"))
        .distinct()
    )
    blocked_by_pos = (
        proper_anc.join(pos, proper_anc["ancestor"] == pos["cat"], "left_semi")
        .select(F.col("node").alias("n"))
        .distinct()
    )
    return (
        negative.join(blocked_by_neg, "n", "left_anti")
        .join(blocked_by_pos, "n", "left_anti")
        .select(F.col("n").alias("cat"))
    )


def hierarchical_valid_labels(
    ranked: DataFrame, closure: DataFrame, id_cols: list[str],
    rank_col: str = "rank", label_col: str = "label",
) -> DataFrame:
    """W6: greedy rank-prefix selection of hierarchy-consistent labels
    (reference ranked_label2hierarchical_valid_labels, utils.py:430-444).

    Greedily accept ranked labels while they stay on ONE root chain (every
    pair ancestor/descendant-related); stop at the first conflict; the
    output is the full root path of the DEEPEST accepted label (reference's
    get_complete_path fallback collapses to exactly this).

    Relational form (no sequential loop): the break rank per id is the min
    rank that conflicts with ANY earlier rank; kept = ranks below it;
    deepest = max depth among kept; output = ancestors of the deepest.
    """
    rel = closure.select(
        F.col("node").alias("__a"), F.col("ancestor").alias("__b")
    )
    compat = rel.unionByName(
        rel.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))
    ).distinct()
    a = ranked.alias("a")
    b = ranked.alias("b")
    id_eq = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in id_cols]
    cond = (F.col(f"a.{rank_col}") < F.col(f"b.{rank_col}"))
    for c in id_eq:
        cond = cond & c
    pairs = a.join(b, cond).select(
        *[F.col(f"a.{c}") for c in id_cols],
        F.col(f"a.{label_col}").alias("__la"),
        F.col(f"b.{label_col}").alias("__lb"),
        F.col(f"b.{rank_col}").alias("__rb"),
    )
    conflicts = pairs.join(
        compat,
        (pairs["__la"] == compat["__a"]) & (pairs["__lb"] == compat["__b"]),
        "left_anti",
    )
    break_rank = conflicts.groupBy(*id_cols).agg(
        F.min("__rb").alias("__break")
    )
    kept = ranked.join(break_rank, id_cols, "left").filter(
        F.col("__break").isNull() | (F.col(rank_col) < F.col("__break"))
    )
    depth = closure.groupBy("node").agg(F.count("*").alias("__depth"))
    deepest = (
        kept.join(depth, kept[label_col] == depth["node"])
        .groupBy(*id_cols)
        .agg(
            F.max_by(
                F.struct(F.col(label_col).alias("l"), F.col("__depth").alias("d")),
                F.struct(F.col("__depth"), F.col(label_col)),
            ).alias("__best")
        )
        .select(*id_cols, F.col("__best.l").alias("__deep"))
    )
    path = closure.select(
        F.col("node").alias("__pn"), F.col("ancestor").alias("__pa")
    )
    depth2 = depth.select(
        F.col("node").alias("__dn"), F.col("__depth").alias("__dd")
    )
    return (
        deepest.join(path, deepest["__deep"] == path["__pn"])
        .join(depth2, path["__pa"] == depth2["__dn"])
        .select(
            *id_cols,
            F.col("__pa").alias(label_col),
            F.col("__dd").cast("bigint").alias("depth"),
        )
    )


def oracle_term2cat(spans: DataFrame, surface_col: str = "surface",
                    label_col: str = "label") -> DataFrame:
    """SO3: dictionary from gold spans with cross-category terms removed
    (reference load_oracle_term2cat, term2cat/term2cat.py:179-205): a term
    seen under ≥ 2 distinct cats is dropped entirely; survivors map to
    their single cat.
    """
    pairs = spans.select(
        F.col(surface_col).alias("term"), F.col(label_col).alias("cat")
    ).distinct()
    per_term = pairs.groupBy("term").agg(
        F.count("*").alias("__n"), F.min("cat").alias("cat")
    )
    return per_term.filter(F.col("__n") == 1).select("term", "cat")


def assert_pos_neg_disjoint(term2cat: DataFrame) -> dict:
    """SO5: positive and nc-* term sets must not intersect
    (pseudo_dataset.py asserts the dict split is clean). Returns counter
    metrics; raises on violation."""
    row = term2cat.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("cat").startswith("nc-"), 1).otherwise(0)
        ).alias("n_neg"),
        F.count_distinct("term").alias("n_terms"),
    ).collect()[0]
    dup = (
        term2cat.select("term", F.col("cat").startswith("nc-").alias("__neg"))
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("__k"))
        .filter(F.col("__k") > 1)
        .count()
    )
    if dup:
        raise AssertionError(f"{dup} terms appear as both positive and nc-*")
    return {"n": row["n"], "n_neg": row["n_neg"] or 0, "n_terms": row["n_terms"]}
