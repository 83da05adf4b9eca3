"""Chunker + suffix-typer mention path (SURVEY.md §2.11 U2/U3 — the
reference's TwoStage model: chunker → DictMatchTyper).

Reference:
- chunker: spaCy noun_chunks (/root/reference/src/ner_model/chunker/
  spacy_model.py:93-118) or exhaustive span enumeration ≤ 6 tokens
  (chunker/abstract_model.py:61-78). For determinism at scale the one
  chunker, np_chunks_df, runs a pinned noun-phrase model (maximal runs of
  non-stopword word-tokens, capped) per sentence inside an Arrow-batched
  mapInPandas; a spaCy model slots into its model_factory.
- typer: longest dictionary term that is a word-boundary SUFFIX of the
  chunk (string_match.py:142-214 get_confirmed_common_suffixes /
  type_chunk).
- F5 remove_null_chunk: drop untyped chunks (two_stage.py:55-82).

The typer and the chunk⋈match combo are relational: broadcast suffix join
for the typer, window argmax for longest-suffix selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from thesaurus_based_ner_spark.operators.textstats import STOPWORDS

CHUNK_STOP = sorted(set(STOPWORDS["en"]) | {"in", "on", "at", "by", "says", "say"})


class PosLiteNPModel:
    """Deterministic stand-in for the reference's spaCy noun-chunk model
    (chunker/spacy_model.py:93-118): same predict(tokens) → [(start, end)]
    contract, implemented as a pinned POS-lite heuristic — noun phrases =
    maximal runs of content word-tokens (not CHUNK_STOP, not punctuation),
    split into ≤ max_len windows; the DuckDB oracles of the chunk queries
    state the same rule in SQL. A real spaCy pipeline drops into the same
    model_factory slot; SURVEY argues determinism for the default.
    """

    def __init__(self, max_len: int = 6, stopwords: frozenset | None = None):
        import re

        self.max_len = max_len
        self.stop = frozenset(stopwords or CHUNK_STOP)
        self._word = re.compile(r"^[A-Za-z0-9_]+$")

    def predict(self, tokens: list[str]) -> list[tuple[int, int]]:
        spans: list[tuple[int, int]] = []
        run_start = None
        for i, tok in enumerate(list(tokens) + [""]):  # sentinel flush
            content = bool(self._word.match(tok)) and tok.lower() not in self.stop
            if content and run_start is None:
                run_start = i
            elif not content and run_start is not None:
                for s in range(run_start, i, self.max_len):
                    spans.append((s, min(s + self.max_len, i)))
                run_start = None
        return spans


def np_chunks_df(
    sentences: DataFrame,
    id_cols: list[str],
    max_len: int = 6,
    model_factory=None,
    tokens_col: str = "tokens",
) -> DataFrame:
    """U3 model-based chunker: Arrow-batched mapInPandas with
    ITERATOR-INIT — the model is constructed once per task, before the
    batch loop, then reused for every Arrow batch (the pattern that
    amortizes a spaCy `spacy.load` across a whole partition; heavy
    factories should additionally memoize in module state). Default model
    is the pinned PosLiteNPModel, so output is deterministic:
    (ids..., m_start, m_end, surface).
    """
    factory = model_factory or (lambda: PosLiteNPModel(max_len))
    dtypes = {f.name: f.dataType.simpleString() for f in sentences.schema}
    id_schema = ", ".join(f"{c} {dtypes[c]}" for c in id_cols)
    out_schema = id_schema + ", m_start bigint, m_end bigint, surface string"

    def run(batches):
        import pandas as pd

        model = factory()  # once per task, NOT per batch/row
        for pdf in batches:
            rows = []
            ids = pdf[list(id_cols)].itertuples(index=False, name=None)
            for idv, toks in zip(ids, pdf[tokens_col]):
                toks = list(toks)
                for s, e in model.predict(toks):
                    rows.append(idv + (s, e, " ".join(toks[s:e])))
            yield pd.DataFrame(
                rows, columns=list(id_cols) + ["m_start", "m_end", "surface"]
            )

    return sentences.select(*id_cols, tokens_col).mapInPandas(
        run, schema=out_schema
    )


def type_chunks_suffix(chunks: DataFrame, thesaurus: DataFrame) -> DataFrame:
    """Label each chunk with the LONGEST thesaurus term that is a
    word-boundary suffix of it (case-insensitive form; reference
    string_match.py:142-185). Untyped chunks are dropped (F5).
    """
    th = thesaurus.select(
        F.col("joined_lower").alias("__t"),
        F.col("joined").alias("__j"),
        F.col("cs").alias("__cs"),
        F.col("n_tokens").alias("__n"),
        "label",
    )
    # honor the case-sensitivity split (string_match.py:91-140): a cs
    # term (acronym) must match the chunk suffix EXACTLY, the ci form
    # matches lowercased — the same rule the mention trie applies, so
    # chunk typing and mention matching agree on acronym chunks
    lo = F.lower(F.col("surface"))
    ci_hit = (lo == F.col("__t")) | lo.endswith(
        F.concat(F.lit(" "), F.col("__t"))
    )
    cs_hit = (F.col("surface") == F.col("__j")) | F.col("surface").endswith(
        F.concat(F.lit(" "), F.col("__j"))
    )
    cond = (F.col("__cs") & cs_hit) | (~F.col("__cs") & ci_hit)
    typed = chunks.join(F.broadcast(th), cond, "inner")
    id_like = [c for c in chunks.columns if c != "surface"]
    w = Window.partitionBy(*id_like).orderBy(F.col("__n").desc(), "label")
    return (
        typed.withColumn("__rk", F.row_number().over(w))
        .filter("__rk = 1")
        .drop("__rk", "__t", "__j", "__cs", "__n")
    )


def right_shift_match_chunks(
    chunks: DataFrame, matches: DataFrame, id_cols: list[str]
) -> DataFrame:
    """J5 containment ("right shift") chunk⋈match combo (reference
    right_shift_match, matcher_model.py:124-133): every match contained in
    a chunk emits a span from the CHUNK start to the MATCH end, labeled by
    the match.

    Equi-join on the sentence id with the containment range condition —
    chunk and match tables are both mention-sized, the join is
    key-partitioned.
    """
    c = chunks.select(
        *[F.col(x).alias(f"__c_{x}") for x in id_cols],
        F.col("m_start").alias("__cs"),
        F.col("m_end").alias("__ce"),
    )
    cond = (F.col("__cs") <= F.col("m_start")) & (
        F.col("m_end") <= F.col("__ce")
    )
    for x in id_cols:
        cond = cond & (F.col(x) == F.col(f"__c_{x}"))
    return (
        matches.join(c, cond)
        .select(
            *id_cols,
            F.col("__cs").alias("m_start"),
            F.col("m_end"),
            F.col("label"),
        )
        .distinct()
    )
