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
        # the row counter observed on the write job agrees with the footers
        assert m["observed"]["rows"] == m["rows_out"], m["stage"]


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


def test_replace_groups_sheds_keeps_and_appends_groups(spark, tmp_path):
    """Parquet group replacement: a shrunk group sheds its stale rows, an
    untouched group keeps its rows, a new group is appended, and the
    lineage sidecar survives the rename-aside swap."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    schema = "url string, pos int, v string"
    base = spark.createDataFrame(
        [("a", 0, "old"), ("a", 1, "old"), ("a", 2, "old"),
         ("b", 0, "old"), ("b", 1, "old")],
        schema,
    )
    cat.replace_groups("men", base, ["url"])
    # re-crawl: page a now yields one mention, page c is new, b untouched
    delta = spark.createDataFrame(
        [("a", 5, "new"), ("c", 0, "new"), ("c", 1, "new")], schema
    )
    out = cat.replace_groups("men", delta, ["url"])
    assert sorted(map(tuple, out.collect())) == [
        ("a", 5, "new"),
        ("b", 0, "old"), ("b", 1, "old"),
        ("c", 0, "new"), ("c", 1, "new"),
    ]
    (meta,) = [m for m in cat.lineage() if m["table"] == "men"]
    assert meta["rows_out"] == 5
    assert meta["stage"] == "replace:men"
    assert not os.path.exists(cat.path("men__upsert_tmp"))
    assert not os.path.exists(cat._meta_path("men__upsert_tmp"))
    assert not os.path.exists(cat.path("men__upsert_old"))


def test_pipeline_with_dataframe_thesaurus(spark, triples, tmp_path):
    """The flagship path with the thesaurus supplied ONLY as a DataFrame
    (the 23M-surface shape): the side-file trie writes the same triples
    as the broadcast trie of the dict-dim run, and its side file lands
    under the catalog root, where executors can read it."""
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
    side = tmp_path / "cat_dfth" / "thesaurus_side"
    (fp_dir,) = [d for d in os.listdir(side) if d.startswith("tbner_th_")]
    assert (side / fp_dir / "_SUCCESS").exists()


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


def test_dim_branch_failure_raises_and_resumes(spark, tmp_path, monkeypatch):
    """canonicalize runs on a worker thread beside match and link: its
    failure must still raise from run_pipeline, before any triples are
    written, and a rerun reuses every stage that finished."""
    from thesaurus_based_ner_spark.plans import pipeline

    def broken(*a, **kw):
        raise RuntimeError("canonicalize failed")

    cat = Catalog(spark, str(tmp_path / "cat_fail"))

    def run():
        return run_pipeline(
            spark, cat, synth_webtext(spark, N_DOCS), TERM2LABEL,
            synth_anchor_text(spark, 800), synth_redirects(spark),
            corpus_fingerprint=f"synth:{N_DOCS}",
        )

    monkeypatch.setattr(pipeline, "canonicalize_entities", broken)
    with pytest.raises(RuntimeError, match="canonicalize failed"):
        run()
    assert not cat.exists("triples")
    assert not cat.exists("canonical")
    before = {m["table"]: m["written_at"] for m in cat.lineage()}
    assert {"mentions", "candidates", "linked"} <= before.keys()

    monkeypatch.undo()
    run()
    after = {m["table"]: m["written_at"] for m in cat.lineage()}
    for tbl in ["mentions", "candidates", "linked"]:
        assert after[tbl] == before[tbl], f"{tbl} was rebuilt on rerun"
    assert cat.exists("triples") and cat.exists("canonical")
