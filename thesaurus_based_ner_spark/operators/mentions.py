"""Mention detection — the core operator (SURVEY.md §2.11 U1/U2, §2.5 W1/W5).

One matcher: the token trie of functions/matcher.py, run as an
Arrow-batched ``mapInPandas`` UDF — the "batched Aho-Corasick/trie
matching inside vectorized pandas-on-Arrow UDFs" shape of the north star:
per *batch* Python, never per-row serde, one pass per sentence and no
candidate blow-up. Each executor process builds the trie once and caches
it. Two ways to feed it:

- ``detect_mentions_trie`` — a driver-sized term→label dict, shipped as a
  Spark broadcast;
- ``detect_mentions_trie_dist`` — a (term, label) DataFrame that never
  visits the driver (the 23M-surface shape), written once to a parquet
  side file that executors read with pyarrow.

Parity with the pure-Python oracle (functions/matcher.py) is
pytest-enforced. There is no JVM-side matcher because an n-gram hash
join lost to the trie on every measured shape: on 20k synthetic pages
(4 cores) the pipeline's match stage took 2.7 s in 2 jobs against
7.9-8.3 s in 8 jobs, and at sf0.1 the mention-span query took 1.86 s
against 2.99 s.

Overlap semantics: reference leave_only_longet_match — connected overlap
components, keep max-end then min-start
(/root/reference/src/ner_model/matcher_model.py:61-98) — then
joint_adjacent_term merge (matcher_model.py:186-210), which
``merge_adjacent=False`` skips. ``resolve_overlaps_df`` is the same
overlap rule as a window plan, for spans that come from elsewhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from thesaurus_based_ner_spark.functions.matcher import (
    build_matcher,
    match_sentence,
    resolve_overlaps,
    split_case_sensitivity,
)
from thesaurus_based_ner_spark.functions.text import TOKEN_RE, tokenize

def tokenize_df(df: DataFrame, text_col: str = "text", out: str = "tokens") -> DataFrame:
    """Add a tokens array column. regexp_extract_all is JVM-side/codegen."""
    return df.withColumn(
        out, F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def thesaurus_with_case(spark, term2label: dict[str, str]) -> DataFrame:
    """Thesaurus dim: (term, label, joined, joined_lower, cs).

    `joined` is the space-joined token form (what a mention's surface
    looks like); `cs` is the reference case-sensitivity split
    (string_match.py:91-140). Built via SQL VALUES — a local-list
    createDataFrame would round-trip through python parallelize workers on
    every call; VALUES stays JVM-only.
    """
    if not term2label:
        raise ValueError("term2label must be non-empty")
    cs_terms, _ = split_case_sensitivity(list(term2label))
    # Distinct terms can tokenize to the SAME joined form (whitespace
    # variants); the trie's sorted insertion makes the lexicographically
    # LAST such term's label win — dedupe here identically so the dim's
    # relational consumers (chunk typing, label joins on a mention's
    # surface) share the trie's term→label map.
    by_key: dict[tuple[str, bool], tuple[str, str]] = {}
    for term, label in sorted(term2label.items()):
        toks0 = tokenize(term)
        if not toks0:  # zero-token term: the trie skips it too
            continue
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


def resolve_overlaps_df(matches: DataFrame, id_cols: list[str]) -> DataFrame:
    """W1: connected overlap components → keep max-end then min-start.

    Island detection: sorted by start, a new component begins when
    start >= running max(end) over all previous spans. Window-only —
    one shuffle on id_cols. Identical (start, end) spans keep the min
    label, so the pick is deterministic.
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
    ties = [F.col("label").asc()] if "label" in matches.columns else []
    w_pick = Window.partitionBy(*id_cols, "__grp").orderBy(
        F.col("m_end").desc(), F.col("m_start").asc(), *ties
    )
    return (
        with_grp.withColumn("__rn", F.row_number().over(w_pick))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__grp")
    )


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


def _trie_map_fn(id_cols: list[str], tokens_col: str, get_trie, merge_adjacent: bool):
    """mapInPandas body shared by the broadcast-dict and side-file feeds;
    get_trie() resolves/builds the executor-cached trie. Without
    merge_adjacent the spans are overlap-resolved but left unmerged."""

    def run(batches):
        import pandas as pd

        trie = get_trie()
        for pdf in batches:
            rows = []
            ids = pdf[list(id_cols)].itertuples(index=False, name=None)
            for idv, toks in zip(ids, pdf[tokens_col]):
                toks = list(toks)
                spans = (
                    match_sentence(trie, toks)
                    if merge_adjacent
                    else resolve_overlaps(trie.match(toks))
                )
                for s, e, lab in spans:
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
    merge_adjacent: bool = True,
) -> DataFrame:
    """mapInPandas trie matcher fed by a driver-sized dict.

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
        _trie_map_fn(id_cols, tokens_col, get_trie, merge_adjacent),
        schema=_trie_out_schema(df, id_cols),
    )


def detect_mentions_trie_dist(
    df: DataFrame,
    thesaurus: DataFrame,
    id_cols: list[str],
    tokens_col: str = "tokens",
    side_dir: str | None = None,
    merge_adjacent: bool = True,
) -> DataFrame:
    """The trie matcher with the thesaurus supplied ONLY as a DataFrame —
    the 23M-surface shape (SCALE.md: per-executor trie from a distributed
    side file). Semantics == detect_mentions_trie.

    The (term, label) dim is written ONCE to a parquet side location
    (distributed storage on a real cluster; content-fingerprinted so
    reruns reuse it), and each executor's python workers read it directly
    with pyarrow and build the token trie locally, cached per process.
    Driver memory never holds the dim — the only driver traffic is the
    2-value fingerprint aggregate.

    Duplicate terms resolve to max(label). An empty dim yields no
    mentions. side_dir must be storage every executor reads; the default
    (a driver-local tempdir) only serves a local master.
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
        return spark.createDataFrame([], _trie_out_schema(df, id_cols))
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
        _trie_map_fn(id_cols, tokens_col, get_trie, merge_adjacent),
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
