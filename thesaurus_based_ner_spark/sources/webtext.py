"""Deterministic synthetic Common-Crawl-style webtext + thesaurus fixtures.

Schema per BASELINE.json input_hint:
    (url string, warc_ts timestamp, html binary, text string, lang string)

Seed-fixed, no external data. Properties engineered into the corpus
(FIXTURES.md):
- multi-word thesaurus terms, case-variant abbreviations ("WHO" vs "who"),
  suffix traps ("migration" inside "cell migration" — reference anomaly
  filter, /root/reference/src/dataset/term2cat/term2cat.py:64-78),
- head-skew: a few terms ("USA") appear in a large fraction of documents to
  exercise salting / AQE skew joins,
- a lang mix so the lang filter (reference F1,
  dictionary_form_term2cats.py:130) is observable,
- html is the canonical render of text so extract_text(html) == text is the
  byte-identity invariant.

Everything is generated with a per-row counter-based PRNG (no global RNG
state) so generation is embarrassingly parallel and identical at any
partitioning — the property that makes it valid at 10^12 rows.
"""

from __future__ import annotations

import datetime as _dt
import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from thesaurus_based_ner_spark.functions.text import render_html

WEBTEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

# --- fixed vocabulary -----------------------------------------------------------

# (term, category) — the "term2cat" dim. Mix of single/multi-token terms,
# abbreviations, suffix traps and one negative (nc-) category.
THESAURUS: list[tuple[str, str]] = [
    ("USA", "Country"),                # head-skew term, abbreviation (cs)
    ("United States", "Country"),
    ("France", "Country"),
    ("Tokyo", "City"),
    ("New York", "City"),
    ("New York City", "City"),         # nested with "New York"
    ("WHO", "Organization"),           # abbreviation; collides with "who"
    ("United Nations", "Organization"),
    ("acid", "Chemical"),
    ("amino acid", "Chemical"),        # suffix trap over "acid"
    ("migration", "Process"),
    ("cell migration", "BioProcess"),  # suffix trap over "migration"
    ("stem cell", "CellType"),
    ("cell", "CellType"),
    ("heart attack", "Disease"),
    ("attack", "nc-Event"),            # negative category → dropped in BIO
    ("data", "nc-Thing"),
    ("machine learning", "Field"),
    ("learning", "Process"),
    ("deep learning", "Field"),
]

LANGS = ["en", "en", "en", "en", "en", "en", "en", "en", "de", "ja"]

_SENTENCE_TEMPLATES = [
    "Researchers in {t0} study {t1} and {t2}.",
    "The {t1} project moved from {t0} to {t3}.",
    "A report on {t1} was published by {t2} in {t0}.",
    "Experts say {t1} differs from {t2} near {t0}.",
    "In {t0}, the {t1} initiative funded work on {t2} and {t3}.",
    "No entities appear in this filler sentence at all.",
    "The quick brown fox jumps over the lazy dog.",
]

# term pool for template slots; skewed: "USA" dominates slot t0.
_SLOT_T0 = ["USA"] * 7 + ["France", "Tokyo", "New York City"]
_SLOT_TERMS = [
    "amino acid", "cell migration", "machine learning", "deep learning",
    "stem cell", "heart attack", "United Nations", "WHO", "migration",
    "acid", "cell", "learning", "attack", "data", "United States",
    "New York", "who",  # lowercase 'who' must NOT match the WHO abbreviation
]


def _h(i: int, salt: str) -> int:
    """Counter-based deterministic hash → int (no RNG state)."""
    return int.from_bytes(
        hashlib.md5(f"{salt}:{i}".encode()).digest()[:8], "big"
    )


def make_document(i: int) -> tuple[str, _dt.datetime, bytes, str, str]:
    """Build row i of the corpus. Pure function of i."""
    n_sents = 1 + _h(i, "n") % 6
    sents = []
    for j in range(n_sents):
        k = _h(i * 1000 + j, "tpl")
        tpl = _SENTENCE_TEMPLATES[k % len(_SENTENCE_TEMPLATES)]
        subs = {
            "t0": _SLOT_T0[_h(i * 1000 + j, "t0") % len(_SLOT_T0)],
            "t1": _SLOT_TERMS[_h(i * 1000 + j, "t1") % len(_SLOT_TERMS)],
            "t2": _SLOT_TERMS[_h(i * 1000 + j, "t2") % len(_SLOT_TERMS)],
            "t3": _SLOT_TERMS[_h(i * 1000 + j, "t3") % len(_SLOT_TERMS)],
        }
        sents.append(tpl.format(**subs))
    text = " ".join(sents)
    url = f"https://example.test/doc/{i}"
    ts = _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=_h(i, "ts") % 2_592_000)
    lang = LANGS[_h(i, "lang") % len(LANGS)]
    return (url, ts, render_html(text, title=f"doc {i}"), text, lang)


def synth_webtext(spark: SparkSession, n_docs: int, partitions: int = 0) -> DataFrame:
    """Distributed deterministic corpus: generate per-partition, no driver loop.

    The generator runs inside mapInPandas-like range mapping
    (spark.range → rows), so a 10^12-row corpus would generate in parallel
    across executors; only `n_docs` crosses the driver.
    """
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    rng = spark.range(0, n_docs, numPartitions=parts)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = [make_document(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return rng.mapInPandas(gen, schema=WEBTEXT_SCHEMA)


# --- thesaurus-side fixtures ------------------------------------------------------

def synth_thesaurus(spark: SparkSession) -> DataFrame:
    """term2cat dim table (term string, cat string)."""
    return _values_df(spark, THESAURUS, "term, cat")


ONTOLOGY_EDGES: list[tuple[str, str]] = [
    # child, parent — a toy DAG mirroring UMLS SRDEF structure
    ("City", "Place"), ("Country", "Place"), ("Place", "Entity"),
    ("Organization", "Agent"), ("Agent", "Entity"),
    ("Chemical", "Substance"), ("Substance", "Entity"),
    ("CellType", "Anatomy"), ("Anatomy", "Entity"),
    ("Disease", "Condition"), ("Condition", "Entity"),
    ("BioProcess", "Process"), ("Process", "Entity"),
    ("Field", "Discipline"), ("Discipline", "Entity"),
]


def synth_ontology_edges(spark: SparkSession) -> DataFrame:
    return _values_df(spark, ONTOLOGY_EDGES, "child, parent")


def lit(v) -> str:
    """Escape one value as a Spark SQL literal (shared by every VALUES
    builder — ad-hoc repr() drops backslashes and breaks on None)."""
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(v)


def _values_df(spark: SparkSession, rows, cols: str) -> DataFrame:
    """Tiny dim from driver-computed rows via SQL VALUES.

    createDataFrame on local rows round-trips through python parallelize
    workers on every materialization (a fork per partition — pathological
    on this sandbox, see SCALE.md); VALUES stays entirely JVM-side.
    """
    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {body} AS t({cols})")


def synth_anchor_text(spark: SparkSession, n_rows: int = 5000) -> DataFrame:
    """(entity, surface) anchor-text pairs with head-entity skew.

    Mirrors the reference's anchor_text SQLite table
    (/root/reference/src/kb_loader/db_pedia.py:98-133). Deterministic: rows
    are a pure function of the counter, computed on the driver (dim-sized)
    and shipped as one VALUES literal — no python workers involved.
    """
    entities = [f"ent_{t.replace(' ', '_')}" for t, _ in THESAURUS]
    surfaces = [t for t, _ in THESAURUS]
    rows = []
    for i in range(n_rows):
        # skew: entity 0 ("ent_USA") takes ~40% of anchors
        k = _h(i, "anchor")
        ent_idx = 0 if k % 10 < 4 else k % len(entities)
        surf_idx = (ent_idx + (0 if k % 7 else k % 3)) % len(surfaces)
        rows.append((entities[ent_idx], surfaces[surf_idx]))
    return _values_df(spark, rows, "entity, surface")


def synth_redirects(spark: SparkSession) -> DataFrame:
    """Redirect edges with short chains (reference db_pedia.py:39-54)."""
    rows = [
        ("ent_US", "ent_USA"),
        ("ent_America", "ent_US"),            # chain: America → US → USA
        ("ent_NY", "ent_New_York"),
        ("ent_NYC", "ent_New_York_City"),
        ("ent_UN", "ent_United_Nations"),
    ]
    return _values_df(spark, rows, "src, dst")
