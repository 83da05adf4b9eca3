"""End-to-end KG-construction pipeline (north_rule).

Stages (each an Iceberg/parquet checkpoint with per-partition lineage,
resumable by fingerprint — reference analog: md5-keyed buffer dirs,
/root/reference/src/ner_model/typer/data_translator.py:463-483):

  webtext → extract (byte-identity verified) → sentences → mentions
          → linked mentions → canonical entities → triples

Physical shape of the hot path (SURVEY.md §4), one fused job up to the
mentions table:
  BatchScan webtext (lang filter pushed down) → mapInPandas[extract] →
  explode sentences (built-in) → broadcast-trie mapInPandas (dict
  thesaurus) or broadcast-join n-gram match (DataFrame thesaurus) →
  window dedup → broadcast link join → repartitionByRange(subj) →
  partitioned triple write.

HTML extraction and trie matching leave the JVM, both as Arrow-batched
pandas UDFs.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from thesaurus_based_ner_spark.functions.text import SENT_SPLIT_RE, extract_text
from thesaurus_based_ner_spark.operators.canonicalize import (
    alt_labels,
    canonicalize_entities,
    choose_canonical_salt,
)
from thesaurus_based_ner_spark.operators.linking import (
    candidate_table,
    link_mentions,
)
from thesaurus_based_ner_spark.operators.mentions import (
    detect_mentions_df,
    detect_mentions_trie,
    thesaurus_dim_from_df,
    tokenize_df,
)
from thesaurus_based_ner_spark.sources.catalog import Catalog

TRIPLE_SCHEMA = "subj string, pred string, obj string"


def extract_stage(webtext: DataFrame) -> DataFrame:
    """HTML → text extraction (Arrow-batched), byte-identity checked.

    Emits (url, text, lang, extract_ok); extract_ok compares the extracted
    text with the stored text column byte-for-byte — the north_rule per-row
    invariant. Counter metrics via the lineage sidecar + an aggregate check
    in verify_extraction().
    """

    def run(batches):
        for pdf in batches:
            ext = [extract_text(bytes(h)) for h in pdf["html"]]
            out = pdf[["url", "lang"]].copy()
            out["text"] = ext
            # a null stored text (raw WARC ingestion — no reference copy)
            # means "nothing to verify", not "mismatch": extract_ok stays
            # True so the byte-identity counter only counts real drift
            out["extract_ok"] = [
                True if b is None else a == b for a, b in zip(ext, pdf["text"])
            ]
            yield out

    return webtext.mapInPandas(
        run, schema="url string, lang string, text string, extract_ok boolean"
    )


def sentence_stage(extracted: DataFrame, lang: str = "en") -> DataFrame:
    """Filter lang (pushed down), split sentences, tokenize — all built-in."""
    snts = extracted.filter(F.col("lang") == lang).select(
        "url",
        F.posexplode(F.split("text", SENT_SPLIT_RE)).alias("snt_id", "snt"),
    )
    return tokenize_df(snts.filter(F.length("snt") > 0), "snt").drop("snt")


def mention_stage(
    sentences: DataFrame, term2label: "dict[str, str] | DataFrame"
) -> DataFrame:
    """The matcher follows the thesaurus's type. A dict (driver-sized)
    ships as a broadcast to the Arrow-batched trie UDF. A (term, label)
    DataFrame — the 23M-surface shape, where the dim must never visit the
    driver — is built into a dim JVM-side (thesaurus_dim_from_df) and
    matched by the n-gram broadcast join, with no side storage."""
    ids = ["url", "snt_id"]
    if isinstance(term2label, DataFrame):
        return detect_mentions_df(
            sentences, thesaurus_dim_from_df(term2label), ids
        )
    return detect_mentions_trie(sentences, term2label, ids)


def triple_stage(
    linked: DataFrame, canon: DataFrame, anchor: DataFrame
) -> DataFrame:
    """Assemble (subj, pred, obj) triples (SURVEY.md §7 output model)."""
    m = linked.withColumn(
        "mention_id",
        F.concat_ws(
            ":",
            F.col("url"),
            F.col("snt_id").cast("string"),
            F.col("m_start").cast("string"),
            F.col("m_end").cast("string"),
        ),
    )
    typed = m.filter(~F.col("label").startswith("nc-")).select(
        F.col("mention_id").alias("subj"),
        F.lit("rdf:type").alias("pred"),
        F.col("label").alias("obj"),
    )
    anchor_of = m.select(
        F.col("mention_id").alias("subj"),
        F.lit("anchorOf").alias("pred"),
        F.col("surface").alias("obj"),
    )
    mentioned_in = m.select(
        F.col("mention_id").alias("subj"),
        F.lit("mentionedIn").alias("pred"),
        F.col("url").alias("obj"),
    )
    linked_canon = m.filter(F.col("entity").isNotNull()).join(
        F.broadcast(canon), "entity", "left"
    )
    link_canon = linked_canon.select(
        F.col("mention_id").alias("subj"),
        F.lit("linkedTo").alias("pred"),
        F.coalesce("canonical", "entity").alias("obj"),
    )
    # (entity, rdf:type, category) — SURVEY §7 output model: weighted
    # argmax of linked-mention labels per canonical entity with the
    # reference's tie-SKIP semantics (W4, term2cat.py:135-163): an entity
    # whose top two label counts tie gets NO type triple. One shuffle on
    # (entity, label) — entity-dim sized after partial aggregation.
    per_label = (
        linked_canon.filter(~F.col("label").startswith("nc-"))
        .withColumn("ent", F.coalesce("canonical", "entity"))
        .groupBy("ent", "label")
        .agg(F.count("*").alias("__n"))
    )
    w_ent = Window.partitionBy("ent")
    entity_types = (
        per_label.withColumn("__mx", F.max("__n").over(w_ent))
        .withColumn(
            "__nmx",
            F.sum(F.when(F.col("__n") == F.col("__mx"), 1).otherwise(0)).over(w_ent),
        )
        .filter((F.col("__n") == F.col("__mx")) & (F.col("__nmx") == 1))
        .select(
            F.col("ent").alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.col("label").alias("obj"),
        )
    )
    alt = alt_labels(anchor, canon).select(
        F.col("canonical").alias("subj"),
        F.lit("skos:altLabel").alias("pred"),
        F.col("surface").alias("obj"),
    )
    return (
        typed.unionByName(anchor_of)
        .unionByName(mentioned_in)
        .unionByName(link_canon)
        .unionByName(entity_types)
        .unionByName(alt)
    )


def _fp(*parts) -> str:
    return hashlib.md5(json.dumps(parts, sort_keys=True, default=str).encode()).hexdigest()


def _df_digest(df: DataFrame | None) -> str:
    """Order-insensitive content digest of a dim table (count + xor of
    row hashes) — one tiny job, so the resume fingerprint can cover the
    anchor/redirect inputs: without it, rerunning with an updated anchor
    table silently reuses stale candidates/canonical checkpoints."""
    if df is None:
        return "none"
    row = (
        df.select(F.xxhash64(*df.columns).alias("__h"))
        .agg(F.count("*").alias("n"), F.expr("bit_xor(__h)").alias("x"))
        .collect()[0]
    )
    return f"{row['n']}:{row['x']}"


def run_pipeline(
    spark: SparkSession,
    catalog: Catalog,
    webtext: DataFrame,
    term2label: "dict[str, str] | DataFrame",
    anchor: DataFrame,
    redirects: DataFrame | None = None,
    corpus_fingerprint: str = "",
    canonical_salt: int | str = 1,
) -> DataFrame:
    """Run (or resume) the full pipeline; returns the triples DataFrame.

    Every materialized stage is fingerprinted on (corpus, thesaurus,
    anchor, redirects); a rerun after a crash reuses all finished stages
    (kill/rerun test in tests/test_pipeline.py).

    The map-only prefix extract → sentencize → match runs FUSED in one
    job and only the mentions table (≈1-3% of token volume) is
    materialized: checkpointing the extracted text and the tokenized
    sentences would write ~3× the corpus to storage per run, and
    recomputing the map prefix after a crash is cheaper than that write
    volume. The corpus is read once and never rewritten. mention_stage
    picks the matcher from term2label's type.
    """
    th_fp = (
        _df_digest(term2label)
        if isinstance(term2label, DataFrame)
        else _fp(sorted(term2label.items()))
    )
    base_fp = _fp(
        corpus_fingerprint, th_fp, _df_digest(anchor), _df_digest(redirects),
    )
    # canonical_salt="auto" measures the anchor's surface skew and picks
    # the salt (operators/canonicalize.choose_canonical_salt) — the
    # resolved int is deterministic for a given anchor + session conf, so
    # fingerprinting the RESOLVED value keeps resume stable.
    if canonical_salt == "auto":
        canonical_salt = choose_canonical_salt(anchor)
    elif not isinstance(canonical_salt, int):
        # a typo like "Auto" would otherwise flow through as n_salt and
        # only fail deep inside surface_star_edges with an obscure
        # str-vs-int TypeError (ADVICE r8)
        raise ValueError(
            f"canonical_salt must be an int or 'auto', got {canonical_salt!r}"
        )
    # canonical_salt only changes the canonicalize stage's physical shape
    # (CC output is salt-invariant), so fold it into that stage's
    # fingerprint alone — a salt change must not invalidate the corpus-side
    # checkpoints.
    canon_fp = _fp(base_fp, canonical_salt)

    # The DAG has two independent branches:
    #   docs:  webtext → (extract → sentencize → match) → mentions
    #   dims:  anchor  → candidates / canonical   (doc-count independent)
    # Spark's scheduler runs concurrently-submitted jobs in parallel (FIFO
    # across free task slots), so the dim branch is built on a side thread
    # and its wall time hides entirely behind the doc branch — on a real
    # cluster this is the difference between 7 serial barriers and the
    # 4-deep critical path.
    from concurrent.futures import ThreadPoolExecutor

    def _dim_branch():
        catalog.materialize(
            "candidates",
            lambda: candidate_table(anchor),
            fingerprint=base_fp,
            stage="candidates",
        )
        catalog.materialize(
            "canonical",
            lambda: canonicalize_entities(
                anchor, redirects, n_salt=canonical_salt
            ),
            fingerprint=canon_fp,
            stage="canonicalize",
        )

    with ThreadPoolExecutor(max_workers=1) as pool:
        dim_future = pool.submit(_dim_branch)

        # fused map prefix: one job, corpus read once, nothing
        # corpus-sized ever written
        catalog.materialize(
            "mentions",
            lambda: mention_stage(
                sentence_stage(extract_stage(webtext)), term2label
            ),
            fingerprint=base_fp,
            stage="match",
        )
        dim_future.result()  # surface dim-branch failures before linking

    linked = catalog.materialize(
        "linked",
        lambda: link_mentions(catalog.read("mentions"), catalog.read("candidates")),
        fingerprint=base_fp,
        stage="link",
    )
    triples = catalog.materialize(
        "triples",
        lambda: triple_stage(
            catalog.read("linked"), catalog.read("canonical"), anchor
        ),
        fingerprint=base_fp,
        partition_by=["pred"],
        stage="materialize",
    )
    return triples


def verify_extraction(extracted: DataFrame) -> dict:
    """Byte-identity counters for the extraction invariant."""
    row = extracted.agg(
        F.count("*").alias("rows"),
        F.sum(F.when(F.col("extract_ok"), 0).otherwise(1)).alias("mismatches"),
    ).collect()[0]
    return {"rows": row["rows"], "mismatches": row["mismatches"] or 0}
