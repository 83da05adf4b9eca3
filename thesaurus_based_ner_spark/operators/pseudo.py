"""Pseudo-labeled NER dataset assembly (SURVEY.md §3.2 entry point B).

Reference: load_pseudo_dataset (/root/reference/src/dataset/pseudo_dataset/
pseudo_dataset.py:87-112) — per-sentence BIO tags from dict matches, keep
only sentences with ≥1 mention (F2, :96-100), label vocabulary by frequency
(A5, :102-104); join_pseudo_and_gold_dataset (:144-161) unions pseudo train
with gold validation/test (J7/SO4 — labels stay strings here, so no
vocabulary re-encoding is needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from thesaurus_based_ner_spark.operators.mentions import bio_tags_df
from thesaurus_based_ner_spark.operators.sampling import seeded_split


def pseudo_ner_dataset(
    sentences: DataFrame, mentions: DataFrame, id_cols: list[str]
) -> DataFrame:
    """(ids..., tokens, ner_tags) for sentences with ≥1 positive mention."""
    tagged = bio_tags_df(sentences, mentions, id_cols)
    has_mention = F.exists("ner_tags", lambda t: t != "O")
    return tagged.filter(has_mention).select(*id_cols, "tokens", "ner_tags")


def label_vocab(mentions: DataFrame) -> DataFrame:
    """(label, n) ordered by frequency desc then label — the dynamic label
    vocabulary (pseudo_dataset.py:102-104); 'O' handling stays implicit
    because labels are strings end-to-end."""
    return (
        mentions.filter(~F.col("label").startswith("nc-"))
        .groupBy("label")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "label")
    )


def join_pseudo_and_gold(
    pseudo: DataFrame,
    gold_validation: DataFrame,
    gold_test: DataFrame,
) -> DataFrame:
    """DatasetDict analog: one table with a split column
    {train=pseudo, validation/test=gold} (pseudo_dataset.py:144-161)."""
    cols = ["tokens", "ner_tags"]
    return (
        pseudo.select(*cols).withColumn("split", F.lit("train"))
        .unionByName(gold_validation.select(*cols).withColumn("split", F.lit("validation")))
        .unionByName(gold_test.select(*cols).withColumn("split", F.lit("test")))
    )


def train_validation_split(
    pseudo: DataFrame, key_cols: list[str], seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Deterministic 90/10 split (data_translator.py:400-415 semantics,
    made partition-stable via key hashing)."""
    train, val = seeded_split(pseudo, [0.9, 0.1], seed, key_cols)
    return train, val


def remove_misguided_fns(spans: DataFrame, id_cols: list[str]) -> DataFrame:
    """F6: drop nc-* spans that token-overlap any MISGUIDANCE span; drop
    the MISGUIDANCE markers themselves; keep everything else (reference
    remove_misguided_fns, typer/data_translator.py:45-61).

    Relational: an interval-overlap LEFT ANTI join of the nc-* subset
    against the marker subset, keyed on the sentence id (equi part) with
    the range condition — no token explosion needed because token-set
    intersection of integer ranges IS interval overlap.
    """
    markers = spans.filter(F.col("label") == "MISGUIDANCE").select(
        *[F.col(c).alias(f"__m_{c}") for c in id_cols],
        F.col("m_start").alias("__ms"),
        F.col("m_end").alias("__me"),
    )
    keep_plain = spans.filter(
        (F.col("label") != "MISGUIDANCE") & ~F.col("label").startswith("nc-")
    )
    nc = spans.filter(
        (F.col("label") != "MISGUIDANCE") & F.col("label").startswith("nc-")
    )
    cond = (F.col("m_start") < F.col("__me")) & (F.col("__ms") < F.col("m_end"))
    for c in id_cols:
        cond = cond & (F.col(c) == F.col(f"__m_{c}"))
    nc_kept = nc.join(markers, cond, "left_anti")
    return keep_plain.unionByName(nc_kept)


def msmlc_dataset(
    sentences: DataFrame,
    mentions_multi: DataFrame,
    id_cols: list[str],
    with_weight: bool = True,
) -> DataFrame:
    """Multi-span multi-label classification dataset (reference
    pseudo_multi_label_ner_dataset.py:82-96 features): per sentence,
    parallel arrays starts / ends / labels(Seq[Seq]) / weights(Seq[Seq]).

    mentions_multi: (ids..., m_start, m_end, labels array, weights array).
    Spans are sorted by (start, end) so the packed arrays are deterministic.
    """
    packed = (
        mentions_multi.groupBy(*id_cols)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("m_start", "m_end", "labels", "weights")
                )
            ).alias("__sp")
        )
    )
    # LEFT join + empty-array fill: a sentence with zero mentions is a
    # fully-negative training example the reference keeps (empty parallel
    # arrays), not a row to drop
    empty = F.expr(
        "CAST(array() AS ARRAY<STRUCT<m_start: BIGINT, m_end: BIGINT,"
        " labels: ARRAY<STRING>, weights: ARRAY<DOUBLE>>>)"
    )
    out = (
        sentences.join(packed, id_cols, "left")
        .withColumn("__sp", F.coalesce("__sp", empty))
        .select(
            *id_cols,
            "tokens",
            F.transform("__sp", lambda s: s["m_start"]).alias("starts"),
            F.transform("__sp", lambda s: s["m_end"]).alias("ends"),
            F.transform("__sp", lambda s: s["labels"]).alias("labels"),
            *(
                [F.transform("__sp", lambda s: s["weights"]).alias("weights")]
                if with_weight
                else []
            ),
        )
    )
    return out


def greedy_bio_spans(
    spans: DataFrame,
    id_cols: list[str],
    prob_col: str = "prob",
) -> DataFrame:
    """W3: greedy probability-ordered span selection (reference
    load_ner_tags, utils/typer_to_bio.py:17-32): visit spans by prob desc,
    accept a span iff no already-accepted span overlaps it; nc-* spans are
    never accepted.

    The accept decision is chain-sequential per sentence/doc, so the plan
    groups on the id (one id-keyed shuffle) and runs the chain inside the
    group as a pure-JVM expression (array_sort(collect_list) +
    aggregate/exists) — no Python workers in the job. Ties on prob break
    by (m_start, m_end, label) ascending; a NULL or NaN prob has the
    highest priority.
    """
    # NaN → NULL first: the sort key's coalesce only catches NULL, and a
    # NaN left in place would sort as the LARGEST double (lowest priority
    # after negation) instead of the documented NULL behavior
    _p = F.col(prob_col).cast("double")
    spans = spans.withColumn(
        prob_col, F.when(F.isnan(_p), F.lit(None)).otherwise(_p)
    )
    pos = spans.filter(~F.col("label").startswith("nc-"))
    # ascending sort on (-p, s, e, l) = p DESC, then m_start/m_end/label
    # ASC — reverse(array_sort(...)) would flip the LABEL tie-break to
    # descending, diverging from the documented order and the SQL oracle
    packed = pos.groupBy(*id_cols).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    # NULL prob pinned to highest priority by construction,
                    # not by struct-null ordering
                    F.coalesce(
                        -F.col(prob_col).cast("double"),
                        F.lit(float("-inf")),
                    ).alias("np"),
                    F.col("m_start").alias("s"),
                    F.col("m_end").alias("e"),
                    F.col("label").alias("l"),
                )
            )
        ).alias("__cand")
    )
    # accumulate accepted spans: acc is an array of accepted (s, e) structs
    accepted = F.aggregate(
        "__cand",
        F.expr("CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT, l: STRING>>)"),
        lambda acc, c: F.when(
            F.exists(acc, lambda a: (c["s"] < a["e"]) & (a["s"] < c["e"])),
            acc,
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        c["s"].cast("bigint").alias("s"),
                        c["e"].cast("bigint").alias("e"),
                        c["l"].alias("l"),
                    )
                ),
            )
        ),
    )
    return (
        packed.withColumn("__acc", accepted)
        .select(*id_cols, F.explode("__acc").alias("__a"))
        .select(
            *id_cols,
            F.col("__a.s").alias("m_start"),
            F.col("__a.e").alias("m_end"),
            F.col("__a.l").alias("label"),
        )
    )


def drop_unknown_type(spans: DataFrame, label_col: str = "label") -> DataFrame:
    """F7: drop UnknownType spans before multi-label expansion (reference
    gold_dataset.py:332,420 skips them when building MSMLC datasets)."""
    return spans.filter(F.col(label_col) != "UnknownType")


def expand_span_labels_by_closure(
    spans: DataFrame, closure: DataFrame, label_col: str = "label"
) -> DataFrame:
    """G3-on-spans: replace each span label with its sorted ancestor set
    (reference gold_dataset.py:327-340: tui2ascendants expansion into
    multi-label lists). closure: (node, ancestor) incl. self."""
    j = spans.join(
        F.broadcast(closure), spans[label_col] == closure["node"], "inner"
    )
    keys = [c for c in spans.columns if c != label_col]
    return (
        j.groupBy(*[spans[c] for c in keys])
        .agg(F.array_sort(F.collect_set("ancestor")).alias("labels"))
    )
