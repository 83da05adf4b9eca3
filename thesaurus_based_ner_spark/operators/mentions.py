"""Mention detection — the core operator (SURVEY.md §2.11 U1/U2, §2.5 W1/W5).

Two interchangeable physical strategies with identical semantics (parity
is pytest-enforced against the pure-Python oracle in functions/matcher.py):

1. ``detect_mentions_df`` — pure DataFrame: token n-gram generation with
   higher-order functions (one explode, no Python), broadcast hash join
   against the thesaurus, window-based overlap resolution. Fully JVM-side /
   whole-stage-codegen; the default at scale. N-gram fan-out is pruned to
   the distinct token-lengths present in the thesaurus, so cost is
   Σ|tokens| × |distinct term lengths| candidate rows that die in the
   broadcast join's hash probe — no shuffle until the (tiny) mention set.

2. ``detect_mentions_trie`` — Arrow-batched ``mapInPandas`` running the
   broadcast token-trie (functions/matcher.py). One pass per sentence,
   no candidate blow-up; wins when the thesaurus has many long terms. This
   is the "batched Aho-Corasick/trie matching inside vectorized
   pandas-on-Arrow UDFs" shape of the north star: per *batch* Python, never
   per-row serde.

Overlap semantics (both paths): reference leave_only_longet_match —
connected overlap components, keep max-end then min-start
(/root/reference/src/ner_model/matcher_model.py:61-98) — then
joint_adjacent_term merge (matcher_model.py:186-210).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from thesaurus_based_ner_spark.functions.matcher import (
    build_matcher,
    match_sentence,
    split_case_sensitivity,
)
from thesaurus_based_ner_spark.functions.text import TOKEN_RE, tokenize

MENTION_COLS = ("m_start", "m_end", "surface", "label")

# first-token pruning thresholds: ≤ _FT_IN_LIMIT distinct first tokens →
# codegen IN-list; ≤ _FT_BROADCAST_LIMIT → broadcast semi-join; above →
# no pruning (the main broadcast hash join is the filter)
_FT_IN_LIMIT = 10_000
_FT_BROADCAST_LIMIT = 5_000_000


def tokenize_df(df: DataFrame, text_col: str = "text", out: str = "tokens") -> DataFrame:
    """Add a tokens array column. regexp_extract_all is JVM-side/codegen."""
    return df.withColumn(
        out, F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def thesaurus_with_case(spark, term2label: dict[str, str]) -> DataFrame:
    """Thesaurus dim: (term, label, joined, joined_lower, cs).

    `joined` is the space-joined token form (what n-gram surfaces look
    like); `cs` is the reference case-sensitivity split
    (string_match.py:91-140). Built via SQL VALUES — a local-list
    createDataFrame would round-trip through python parallelize workers on
    every call; VALUES stays JVM-only.
    """
    if not term2label:
        raise ValueError("term2label must be non-empty")
    cs_terms, _ = split_case_sensitivity(list(term2label))
    # Distinct terms can tokenize to the SAME joined form (whitespace
    # variants); the trie's sorted insertion makes the lexicographically
    # LAST such term's label win — dedupe here identically so both physical
    # strategies share one term→label map.
    by_key: dict[tuple[str, bool], tuple[str, str]] = {}
    for term, label in sorted(term2label.items()):
        toks0 = tokenize(term)
        if not toks0:  # zero-token term: trie skips it; DF path would
            continue   # emit zero-width mentions at every position
        joined = " ".join(toks0)
        cs = term in cs_terms
        by_key[(joined if cs else joined.lower(), cs)] = (term, label)
    if not by_key:
        raise ValueError("no term tokenizes to a non-empty form")
    rows = []
    for term, label in sorted(by_key.values()):
        toks = tokenize(term)
        joined = " ".join(toks)
        rows.append(
            f"({_sql_str(term)}, {_sql_str(label)}, {_sql_str(joined)}, "
            f"{_sql_str(joined.lower())}, {str(term in cs_terms).lower()}, {len(toks)})"
        )
    return spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(rows)
        + " AS t(term, label, joined, joined_lower, cs, n_tokens)"
    )


def thesaurus_dim_from_df(
    terms: DataFrame, term_col: str = "term", label_col: str = "label"
) -> DataFrame:
    """DataFrame-native thesaurus dim — same output contract as
    thesaurus_with_case but for LARGE dims that must never visit the
    driver (reference scale: 23.1M surfaces, kb_loader/db_pedia.py:207).

    Everything is JVM-side: tokenization via regexp_extract_all, the
    case-sensitivity split (string_match.py:91-140 — abbreviations and
    duplicated-lowercase terms stay case-sensitive) as a window count
    over lower(term) (the A6 groupBy composed in), and the
    colliding-joined-form dedup as a max_by aggregate reproducing
    thesaurus_with_case's "lexicographically last term wins" rule.
    One dim-sized shuffle on lower(term); corpus never involved.
    """
    t = terms.groupBy(F.col(term_col).alias("term")).agg(
        F.max(F.col(label_col)).alias("label")
    )
    t = t.withColumn(
        "__toks", F.regexp_extract_all(F.col("term"), F.lit(TOKEN_RE), F.lit(0))
    ).filter(F.size("__toks") > 0)  # zero-token terms: trie skips them too
    t = (
        t.withColumn("joined", F.array_join("__toks", " "))
        .withColumn("joined_lower", F.lower("joined"))
        .withColumn("n_tokens", F.size("__toks").cast("int"))
        .drop("__toks")
    )
    w_low = Window.partitionBy(F.lower(F.col("term")))
    t = t.withColumn(
        "cs",
        (F.upper("term") == F.col("term"))
        | (F.count("*").over(w_low) >= 2),
    )
    key = F.when(F.col("cs"), F.col("joined")).otherwise(F.col("joined_lower"))
    return (
        t.groupBy(key.alias("__key"), "cs")
        .agg(
            F.max(
                F.struct("term", "label", "joined", "joined_lower", "n_tokens")
            ).alias("__r")
        )
        .select("__r.term", "__r.label", "__r.joined", "__r.joined_lower",
                "cs", "__r.n_tokens")
    )


def _hash_key(n: int, toks: list) -> Column:
    """64-bit join key for an n-gram: xxhash64(n, lower(tok_0..n-1)).

    The length prefix disambiguates grams of different arity (xxhash64
    skips NULL inputs, so without it a trailing-null 2-gram would collide
    with the 1-gram at the same position). Collisions across different
    strings are killed by the post-join exact string verify.
    """
    return F.xxhash64(F.lit(n), *[F.lower(t) for t in toks])


def _hash_matches(
    df: DataFrame,
    thesaurus: DataFrame,
    id_cols: list[str],
    lens: list[int],
    first_tokens: "list[str] | DataFrame | None",
) -> DataFrame:
    """N-gram match via a 64-bit hash key — no pre-join string building.

    The previous formulation built a concat_ws surface string (plus a
    lowered copy at the join key) for EVERY candidate; most candidates
    miss the broadcast join, so most of that allocation was waste. Here
    candidates carry only (pos, n, xxhash64 key) into the join; the
    surface string is constructed AFTER the join, for matches only
    (mention-sized, not candidate-sized), then verified exactly against
    the thesaurus row — which also eliminates hash-collision false
    positives. All expressions are codegen built-ins; the hash reads the
    same token bytes the concat did but allocates nothing.
    """
    base = df.select(*id_cols, "tokens", F.posexplode("tokens").alias("pos", "tok"))
    if isinstance(first_tokens, DataFrame):
        # Large-dim pruning: broadcast LEFT SEMI against the distinct
        # first-token dim — JVM-side hash probe per position, no IN-list
        # expression blow-up, no shuffle of the corpus side.
        base = base.join(
            F.broadcast(first_tokens),
            F.lower(F.col("tok")) == F.col("__ft"),
            "left_semi",
        )
    elif first_tokens is not None and 0 < len(first_tokens) <= 10_000:
        base = base.where(F.lower("tok").isin(*first_tokens))
    structs = []
    for n in sorted(lens):
        elems = [F.col("tokens")[F.col("pos") + F.lit(i)] for i in range(n)]
        valid = (F.col("pos") + n) <= F.size("tokens")
        structs.append(
            F.when(
                valid,
                F.struct(
                    F.col("pos").cast("bigint").alias("m_start"),
                    (F.col("pos") + n).cast("bigint").alias("m_end"),
                    _hash_key(n, elems).alias("__k"),
                ),
            )
        )
    cand = (
        base.select(*id_cols, "tokens", F.explode(F.array(*structs)).alias("c"))
        .where(F.col("c").isNotNull())
        .select(*id_cols, "tokens", "c.*")
    )
    n_toks = F.split("joined_lower", " ")
    th_key = None
    for n in sorted(lens):
        k = _hash_key(n, [F.element_at(n_toks, i + 1) for i in range(n)])
        cond = F.col("n_tokens") == n
        th_key = F.when(cond, k) if th_key is None else th_key.when(cond, k)
    th = thesaurus.select(
        th_key.alias("__k"), F.col("joined_lower").alias("__t"),
        F.col("joined").alias("__j"), F.col("cs"), F.col("label"),
    )
    joined = cand.join(F.broadcast(th), "__k", "inner")
    surface = F.array_join(
        F.slice(F.col("tokens"), F.col("m_start") + 1, F.col("m_end") - F.col("m_start")),
        " ",
    )
    return (
        joined.withColumn("surface", surface)
        .filter(
            (F.lower("surface") == F.col("__t"))  # collision + validity check
            & (~F.col("cs") | (F.col("surface") == F.col("__j")))
        )
        .drop("__k", "__t", "__j", "tokens")
    )


def resolve_overlaps_df(matches: DataFrame, id_cols: list[str]) -> DataFrame:
    """W1: connected overlap components → keep max-end then min-start.

    Island detection: sorted by start, a new component begins when
    start >= running max(end) over all previous spans. Window-only —
    one shuffle on id_cols which the subsequent merge reuses.
    """
    w = Window.partitionBy(*id_cols).orderBy("m_start", "m_end")
    prev_max_end = F.max("m_end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    with_grp = (
        matches.withColumn("__pme", prev_max_end)
        .withColumn(
            "__grp",
            F.sum(
                F.when(F.col("m_start") >= F.coalesce(F.col("__pme"), F.lit(-1)), 1).otherwise(0)
            ).over(w),
        )
        .drop("__pme")
    )
    # Deterministic tie-breaks for identical (start, end) spans carrying
    # different labels (thesaurus terms whose tokenized forms collide):
    # prefer case-sensitive (the trie strategy's equal-length preference),
    # then min label — so both physical strategies agree on the kept label.
    ties: list[Column] = []
    if "cs" in matches.columns:
        ties.append(F.col("cs").desc())
    if "label" in matches.columns:
        ties.append(F.col("label").asc())
    w_pick = Window.partitionBy(*id_cols, "__grp").orderBy(
        F.col("m_end").desc(), F.col("m_start").asc(), *ties
    )
    return (
        with_grp.withColumn("__rn", F.row_number().over(w_pick))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__grp")
    )


def merge_adjacent_df(resolved: DataFrame, id_cols: list[str]) -> DataFrame:
    """W5: merge exactly-adjacent spans; label of the max-end member.

    Input must be non-overlapping (after resolve_overlaps_df).
    """
    w = Window.partitionBy(*id_cols).orderBy("m_start")
    lag_end = F.lag("m_end").over(w)
    with_isl = resolved.withColumn(
        "__isl",
        F.sum(
            F.when(F.col("m_start") > F.coalesce(lag_end, F.lit(-1)), 1).otherwise(0)
        ).over(w),
    )
    return (
        with_isl.groupBy(*id_cols, "__isl")
        .agg(
            F.min("m_start").alias("m_start"),
            F.max("m_end").alias("m_end"),
            F.max_by("label", "m_end").alias("label"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m_start", "surface"))),
                    lambda s: s["surface"],
                ),
                " ",
            ).alias("surface"),
        )
        .drop("__isl")
    )


def detect_mentions_df(
    df: DataFrame,
    thesaurus: DataFrame,
    id_cols: list[str],
    tokens_col: str = "tokens",
    merge_adjacent: bool = True,
) -> DataFrame:
    """Pure-DataFrame mention detection (strategy 1). df needs tokens_col.

    Dim metadata is gathered server-side — the driver only ever receives
    (a) the distinct term token-lengths (a handful of ints) and (b) at
    most _FT_IN_LIMIT distinct first tokens. Beyond that limit the
    first-token pruning runs as a broadcast semi-join against the
    distinct-first-token dim, and past _FT_BROADCAST_LIMIT it is skipped
    entirely (candidates die in the main broadcast hash probe anyway).
    At the reference's 23M-surface scale nothing dim-sized visits the
    driver.
    """
    lens_set = thesaurus.agg(F.collect_set("n_tokens")).first()[0]
    lens = sorted(lens_set)
    if not lens:
        # empty dim (thesaurus_with_case raises earlier, but a DataFrame
        # dim can legally be empty): no mentions, correct schema
        spark = df.sparkSession
        dtypes = {f.name: f.dataType.simpleString() for f in df.schema}
        id_schema = ", ".join(f"{c} {dtypes[c]}" for c in id_cols)
        return spark.createDataFrame(
            [],
            id_schema
            + ", m_start bigint, m_end bigint, surface string, label string",
        )
    ft_dim = thesaurus.select(
        F.split("joined_lower", " ").getItem(0).alias("__ft")
    ).distinct()
    sample = [r[0] for r in ft_dim.limit(_FT_IN_LIMIT + 1).collect()]
    first_tokens: "list[str] | DataFrame | None"
    if len(sample) <= _FT_IN_LIMIT:
        first_tokens = sorted(sample)
    elif ft_dim.count() <= _FT_BROADCAST_LIMIT:
        first_tokens = ft_dim
    else:
        first_tokens = None
    base = df.withColumnRenamed(tokens_col, "tokens") if tokens_col != "tokens" else df
    matches = _hash_matches(base, thesaurus, id_cols, lens, first_tokens)
    resolved = resolve_overlaps_df(matches, id_cols).drop("cs")
    return merge_adjacent_df(resolved, id_cols) if merge_adjacent else resolved


_TRIE_CACHE: dict[str, object] = {}
_TRIE_CACHE_MAX = 8  # a long-lived python worker may see several thesauri


def _trie_cache_put(key: str, trie) -> None:
    if len(_TRIE_CACHE) >= _TRIE_CACHE_MAX:
        _TRIE_CACHE.pop(next(iter(_TRIE_CACHE)))
    _TRIE_CACHE[key] = trie


def _trie_out_schema(df: DataFrame, id_cols: list[str]) -> str:
    dtypes = {f.name: f.dataType.simpleString() for f in df.schema}
    id_schema = ", ".join(f"{c} {dtypes[c]}" for c in id_cols)
    return (
        id_schema + ", m_start bigint, m_end bigint, surface string, label string"
    )


def _trie_map_fn(id_cols: list[str], tokens_col: str, get_trie):
    """mapInPandas body shared by the broadcast-dict and side-file trie
    strategies; get_trie() resolves/builds the executor-cached trie."""

    def run(batches):
        import pandas as pd

        trie = get_trie()
        for pdf in batches:
            rows = []
            ids = pdf[list(id_cols)].itertuples(index=False, name=None)
            for idv, toks in zip(ids, pdf[tokens_col]):
                toks = list(toks)
                for s, e, lab in match_sentence(trie, toks):
                    rows.append(idv + (s, e, " ".join(toks[s:e]), lab))
            yield pd.DataFrame(
                rows,
                columns=list(id_cols) + ["m_start", "m_end", "surface", "label"],
            )

    return run


def detect_mentions_trie(
    df: DataFrame,
    term2label: dict[str, str],
    id_cols: list[str],
    tokens_col: str = "tokens",
) -> DataFrame:
    """mapInPandas trie matcher (strategy 2). Semantics == strategy 1.

    The term2label dict is shipped via a Spark broadcast; the token trie is
    built once per executor process (cached on the broadcast id) — the
    Spark-native analog of the reference's md5-keyed persisted darts trie
    (string_match.py:23-68).
    """
    spark = df.sparkSession
    # content fingerprint computed ONCE on the driver and shipped with the
    # broadcast: executor-side cache keys must not be id(bc.value) — a GC'd
    # broadcast's address can be reused by a different thesaurus in a
    # long-lived python worker, silently serving a stale trie.
    import hashlib as _hl

    fp = _hl.md5(repr(sorted(term2label.items())).encode()).hexdigest()
    bc = spark.sparkContext.broadcast((fp, term2label))

    def get_trie():
        key, t2l = bc.value
        trie = _TRIE_CACHE.get(key)
        if trie is None:
            trie = build_matcher(t2l, tokenize)
            _trie_cache_put(key, trie)
        return trie

    return df.select(*id_cols, tokens_col).mapInPandas(
        _trie_map_fn(id_cols, tokens_col, get_trie),
        schema=_trie_out_schema(df, id_cols),
    )


def detect_mentions_trie_dist(
    df: DataFrame,
    thesaurus: DataFrame,
    id_cols: list[str],
    tokens_col: str = "tokens",
    side_dir: str | None = None,
) -> DataFrame:
    """Trie strategy with the thesaurus supplied ONLY as a DataFrame —
    the 23M-surface shape (SCALE.md: per-executor trie from a distributed
    side file). Semantics == detect_mentions_trie == detect_mentions_df.

    The (term, label) dim is written ONCE to a parquet side location
    (distributed storage on a real cluster; content-fingerprinted so
    reruns reuse it), and each executor's python workers read it directly
    with pyarrow and build the token trie locally, cached per process.
    Driver memory never holds the dim — the only driver traffic is the
    2-value fingerprint aggregate.

    Duplicate terms resolve to max(label), matching thesaurus_dim_from_df.
    """
    import os
    import tempfile

    spark = df.sparkSession
    dim = thesaurus.groupBy("term").agg(F.max("label").alias("label"))
    # bit_xor: order-independent and overflow-free under ANSI (sum of
    # xxhash64 values throws ARITHMETIC_OVERFLOW); terms are deduped so
    # xor cancellation of identical rows cannot occur
    agg = dim.agg(
        F.expr("bit_xor(xxhash64(term, label))").alias("h"),
        F.count("*").alias("n"),
    ).first()
    if not agg["n"]:
        raise ValueError("thesaurus dim is empty")
    fp = f"tbner_th_{agg['h']}_{agg['n']}"
    base_dir = side_dir or os.path.join(
        tempfile.gettempdir(), "tbner_thesaurus_side"
    )
    path = os.path.join(base_dir, fp)
    # Reuse only a COMMITTED write: a crashed/partial prior attempt can
    # leave task-committed *.parquet files without the job-level _SUCCESS
    # marker; building tries from those would silently drop dictionary
    # entries. mode("overwrite") clears any partial dir and rewrites.
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        dim.write.mode("overwrite").parquet(path)
    master = spark.sparkContext.master or ""
    if side_dir is None and not master.startswith("local"):
        import warnings

        warnings.warn(
            "detect_mentions_trie_dist: default side_dir is a DRIVER-local "
            f"tempdir, invisible to executors under master={master!r}; "
            "pass side_dir on shared/distributed storage",
            stacklevel=2,
        )

    def get_trie():
        trie = _TRIE_CACHE.get(fp)
        if trie is None:
            import pyarrow.parquet as pq

            tbl = pq.read_table(path, columns=["term", "label"])
            t2l = dict(
                zip(tbl.column("term").to_pylist(), tbl.column("label").to_pylist())
            )
            trie = build_matcher(t2l, tokenize)
            _trie_cache_put(fp, trie)
        return trie

    return df.select(*id_cols, tokens_col).mapInPandas(
        _trie_map_fn(id_cols, tokens_col, get_trie),
        schema=_trie_out_schema(df, id_cols),
    )


def bio_tags_df(
    sentences: DataFrame, mentions: DataFrame, id_cols: list[str], tokens_col: str = "tokens"
) -> DataFrame:
    """Attach BIO ner_tags to sentences from a mention table.

    nc-* labels are dropped at encode time (two_stage.py:47-65). Pure SQL:
    build an index→tag map from the spans, then transform over positions.
    """
    spans = (
        mentions.filter(~F.col("label").startswith("nc-"))
        .groupBy(*id_cols)
        .agg(F.collect_list(F.struct("m_start", "m_end", "label")).alias("__spans"))
    )
    joined = sentences.join(spans, id_cols, "left")
    tag_expr = F.expr(
        f"""
        IF(size({tokens_col}) = 0, array(),
        transform(sequence(0, size({tokens_col}) - 1), i ->
          coalesce(
            element_at(
              map_from_entries(
                flatten(transform(coalesce(__spans, array()), sp ->
                  transform(sequence(sp.m_start, sp.m_end - 1), j ->
                    struct(j AS k, IF(j = sp.m_start, concat('B-', sp.label),
                                       concat('I-', sp.label)) AS v))))),
              i),
            'O')))
        """
    )
    return joined.withColumn("ner_tags", tag_expr).drop("__spans")
