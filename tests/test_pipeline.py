"""End-to-end pipeline: triple parity vs pure-Python oracle (north_rule
P/R ≥ 0.95 — we require 1.0), byte-identity counters, and kill/rerun
resumability.
"""

import os

import pytest
from pyspark.sql import functions as F

from thesaurus_based_ner_spark.functions.matcher import build_matcher, match_sentence
from thesaurus_based_ner_spark.functions.text import sentencize, tokenize
from thesaurus_based_ner_spark.plans.pipeline import (
    extract_stage,
    run_pipeline,
    verify_extraction,
)
from thesaurus_based_ner_spark.sources.catalog import Catalog
from thesaurus_based_ner_spark.sources.webtext import (
    THESAURUS,
    make_document,
    synth_anchor_text,
    synth_redirects,
    synth_webtext,
)

N_DOCS = 80
TERM2LABEL = dict(THESAURUS)


@pytest.fixture(scope="module")
def catalog(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("catalog"))
    return Catalog(spark, root)


@pytest.fixture(scope="module")
def triples(spark, catalog):
    webtext = synth_webtext(spark, N_DOCS)
    anchor = synth_anchor_text(spark, 800)
    redirects = synth_redirects(spark)
    return run_pipeline(
        spark,
        catalog,
        webtext,
        TERM2LABEL,
        anchor,
        redirects,
        corpus_fingerprint=f"synth:{N_DOCS}",
    ).cache()


def oracle_triples() -> set:
    """Pure-Python reimplementation of mention-typing triples."""
    trie = build_matcher(TERM2LABEL, tokenize)
    out = set()
    for i in range(N_DOCS):
        url, _, _, text, lang = make_document(i)
        if lang != "en":
            continue
        for sid, snt in enumerate(sentencize(text)):
            toks = tokenize(snt)
            for s, e, lab in match_sentence(trie, toks):
                mid = f"{url}:{sid}:{s}:{e}"
                if not lab.startswith("nc-"):
                    out.add((mid, "rdf:type", lab))
                out.add((mid, "anchorOf", " ".join(toks[s:e])))
                out.add((mid, "mentionedIn", url))
    return out


def test_triple_parity_vs_oracle(triples):
    # mention-level triples only: entity-level rdf:type (weighted-argmax
    # types, SURVEY §7) are covered by test_entity_type_triples below
    got = {
        (r.subj, r.pred, r.obj)
        for r in triples.filter(
            F.col("pred").isin("rdf:type", "anchorOf", "mentionedIn")
            & F.col("subj").startswith("https://")
        ).collect()
    }
    want = oracle_triples()
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    assert precision == 1.0 and recall == 1.0, (
        f"P={precision} R={recall}; spark-only={list(got - want)[:5]}, "
        f"oracle-only={list(want - got)[:5]}"
    )
    assert len(want) > 100


def test_linked_and_canonical_triples_exist(triples):
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert {"rdf:type", "anchorOf", "mentionedIn", "linkedTo", "skos:altLabel"} <= preds
    # redirect chain ent_America → ent_US → ent_USA must canonicalize together
    alt = triples.filter(F.col("pred") == "skos:altLabel")
    assert alt.count() > 0


def test_entity_type_triples(triples):
    """Entity-level (entity, rdf:type, category) triples: weighted argmax
    over linked-mention labels with tie-skip (W4) — every typed entity has
    exactly ONE type, and subjects are entity ids, not mention ids."""
    ents = triples.filter(
        (F.col("pred") == "rdf:type") & ~F.col("subj").startswith("https://")
    ).collect()
    assert ents, "no entity-type triples emitted"
    subjects = [r.subj for r in ents]
    assert len(subjects) == len(set(subjects)), "tie-skip violated: dup types"


def test_extraction_byte_identity_counter(spark):
    ext = extract_stage(synth_webtext(spark, 40))
    stats = verify_extraction(ext)
    assert stats["rows"] == 40
    assert stats["mismatches"] == 0


def test_lineage_written(catalog, triples):
    lin = catalog.lineage()
    # the extract → sentencize → match prefix is fused: no corpus-sized
    # intermediate (extracted text, tokenized sentences) is ever written
    stages = {m["stage"] for m in lin}
    assert stages == {"match", "candidates", "canonicalize", "link", "materialize"}
    for m in lin:
        assert m["rows_out"] == sum(p["rows"] for p in m["partitions"])


def test_resume_skips_finished_stages(spark, catalog, triples):
    """Kill/rerun semantics: drop the final stage only; rerun must reuse
    earlier checkpoints (their lineage mtime unchanged) and rebuild the rest.
    """
    before = {m["table"]: m["written_at"] for m in catalog.lineage()}
    catalog.drop("triples")
    webtext = synth_webtext(spark, N_DOCS)
    anchor = synth_anchor_text(spark, 800)
    redirects = synth_redirects(spark)
    t2 = run_pipeline(
        spark, catalog, webtext, TERM2LABEL, anchor, redirects,
        corpus_fingerprint=f"synth:{N_DOCS}",
    )
    after = {m["table"]: m["written_at"] for m in catalog.lineage()}
    for tbl in ["mentions", "linked", "candidates", "canonical"]:
        assert after[tbl] == before[tbl], f"{tbl} was rebuilt on resume"
    assert after["triples"] != before.get("triples")
    assert t2.count() == triples.count()


def test_fingerprint_invalidation(spark, catalog):
    """Changing the thesaurus fingerprint rebuilds downstream stages."""
    assert not catalog.exists("mentions", fingerprint="other")
    assert catalog.exists("mentions")


def test_write_respects_file_sizing_and_sort_layout(spark, tmp_path):
    import glob

    from thesaurus_based_ner_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    df = spark.range(0, 10_000, 1, 2).withColumnRenamed("id", "k")
    cat.write("sized", df, max_records_per_file=1000, sort_by=["k"])
    files = glob.glob(str(tmp_path / "cat" / "sized" / "*.parquet"))
    # 10k rows / cap 1000 -> at least 10 files, none over the cap
    assert len(files) >= 10
    for f in files:
        pf = spark.read.parquet(f)
        rows = [r.k for r in pf.collect()]
        assert len(rows) <= 1000
        assert rows == sorted(rows)  # sortWithinPartitions layout held
    back = cat.read("sized")
    assert back.count() == 10_000


def test_upsert_replaces_matched_keys_and_appends_new(spark, tmp_path):
    from pyspark.sql import functions as F

    from thesaurus_based_ner_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit("old").alias("v")
    )
    cat.upsert("kv", base, keys=["k"])
    # re-crawl: keys 5-9 updated, 10-12 new
    delta = spark.range(5, 13).select(
        F.col("id").alias("k"), F.lit("new").alias("v")
    )
    out = cat.upsert("kv", delta, keys=["k"])
    rows = {r.k: r.v for r in out.collect()}
    assert len(rows) == 13
    assert all(rows[k] == "old" for k in range(5))
    assert all(rows[k] == "new" for k in range(5, 13))
    # lineage sidecar survives the swap and points at the table
    meta = [m for m in cat.lineage() if m["table"] == "kv"]
    assert meta and meta[0]["rows_out"] == 13


def test_upsert_dedupes_incoming_keys_deterministically(spark, tmp_path):
    from pyspark.sql import functions as F

    from thesaurus_based_ner_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.upsert("kv", spark.range(0, 3).select(
        F.col("id").alias("k"), F.lit("old").alias("v")), keys=["k"])
    dup = spark.sql(
        "SELECT * FROM VALUES (1, 'b'), (1, 'a'), (7, 'z'), (7, 'y') AS t(k, v)"
    )
    out = cat.upsert("kv", dup, keys=["k"])
    rows = {r.k: r.v for r in out.collect()}
    # one row per key; min-struct winner ('a' < 'b', 'y' < 'z')
    assert rows == {0: "old", 1: "a", 2: "old", 7: "y"}
    assert out.count() == 4


def test_pipeline_with_dataframe_thesaurus(spark, triples, tmp_path):
    """The flagship path with the thesaurus supplied ONLY as a DataFrame
    (the 23M-surface shape): identical triples to the dict-dim run."""
    terms_df = spark.createDataFrame(
        list(TERM2LABEL.items()), "term string, label string"
    )
    cat = Catalog(spark, str(tmp_path / "cat_dfth"))
    got = run_pipeline(
        spark,
        cat,
        synth_webtext(spark, N_DOCS),
        terms_df,
        synth_anchor_text(spark, 800),
        synth_redirects(spark),
        corpus_fingerprint=f"synth:{N_DOCS}",
    )
    want = {tuple(r) for r in triples.collect()}
    assert {tuple(r) for r in got.collect()} == want


def test_pipeline_salted_canonicalize_parity(spark, triples, tmp_path):
    """North rule: head-entity skew handled with salted repartitioning —
    the shipped pipeline exposes canonical_salt; triples must be identical
    to the unsalted run (CC is invariant to the salted star shape)."""
    cat = Catalog(spark, str(tmp_path / "cat_salt"))
    got = run_pipeline(
        spark,
        cat,
        synth_webtext(spark, N_DOCS),
        TERM2LABEL,
        synth_anchor_text(spark, 800),
        synth_redirects(spark),
        corpus_fingerprint=f"synth:{N_DOCS}",
        canonical_salt=8,
    )
    want = {tuple(r) for r in triples.collect()}
    assert {tuple(r) for r in got.collect()} == want


def test_pipeline_auto_canonical_salt(spark, triples, tmp_path):
    """canonical_salt='auto' resolves through the measured skew heuristic
    (choose_canonical_salt) inside run_pipeline and still produces the
    salt-invariant triple set."""
    cat = Catalog(spark, str(tmp_path / "cat_autosalt"))
    got = run_pipeline(
        spark,
        cat,
        synth_webtext(spark, N_DOCS),
        TERM2LABEL,
        synth_anchor_text(spark, 800),
        synth_redirects(spark),
        corpus_fingerprint=f"synth:{N_DOCS}",
        canonical_salt="auto",
    )
    want = {tuple(r) for r in triples.collect()}
    assert {tuple(r) for r in got.collect()} == want
