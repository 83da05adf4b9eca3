"""Parity: the Spark trie matcher, fed by a broadcast dict or by a
parquet side file, == the pure-Python oracle."""

import pytest
from pyspark.sql import functions as F

from thesaurus_based_ner_spark.functions.matcher import (
    build_matcher,
    match_sentence,
    resolve_overlaps,
)
from thesaurus_based_ner_spark.functions.text import sentencize, tokenize
from thesaurus_based_ner_spark.operators.mentions import (
    bio_tags_df,
    detect_mentions_trie,
    detect_mentions_trie_dist,
    tokenize_df,
)
from thesaurus_based_ner_spark.sources.webtext import (
    THESAURUS,
    synth_webtext,
)

TERM2LABEL = dict(THESAURUS)
N_DOCS = 120


@pytest.fixture(scope="module")
def sentences(spark):
    docs = synth_webtext(spark, N_DOCS).filter(F.col("lang") == "en")
    snts = docs.select(
        "url", F.posexplode(F.split("text", r"(?<=[.!?])\s+")).alias("snt_id", "snt")
    )
    return tokenize_df(snts, "snt").cache()


@pytest.fixture(scope="module")
def with_adjacent(spark, sentences):
    """The synthetic pages hold no adjacent terms, so one pinned sentence
    adds a pair: the merge branch merges it, resolve-only keeps both."""
    adjacent = tokenize_df(
        spark.createDataFrame(
            [("adjacent", 0, "Tokyo France met.")],
            "url string, snt_id int, snt string",
        ),
        "snt",
    )
    return sentences.unionByName(adjacent)


def oracle_mentions(spark_rows, spans=match_sentence):
    trie = build_matcher(TERM2LABEL, tokenize)
    out = set()
    for url, snt_id, toks in spark_rows:
        for s, e, lab in spans(trie, list(toks)):
            out.add((url, snt_id, s, e, " ".join(toks[s : e]), lab))
    return out


def _collect(df):
    return {
        (r.url, r.snt_id, r.m_start, r.m_end, r.surface, r.label)
        for r in df.collect()
    }


MERGED_ADJACENT = {("adjacent", 0, 0, 2, "Tokyo France", "Country")}


def test_trie_strategy_matches_oracle(spark, with_adjacent):
    got = _collect(
        detect_mentions_trie(with_adjacent, TERM2LABEL, ["url", "snt_id"])
    )
    want = oracle_mentions(
        [(r.url, r.snt_id, r.tokens) for r in with_adjacent.collect()]
    )
    assert got == want
    assert len(got) > 50  # corpus actually exercises the matcher
    assert {m for m in got if m[0] == "adjacent"} == MERGED_ADJACENT


def test_trie_resolve_only_matches_oracle(spark, with_adjacent):
    """merge_adjacent=False keeps overlap-resolved spans unmerged — the
    input chunk shifting and multi-label typing need."""
    got = _collect(
        detect_mentions_trie(
            with_adjacent, TERM2LABEL, ["url", "snt_id"], merge_adjacent=False
        )
    )
    want = oracle_mentions(
        [(r.url, r.snt_id, r.tokens) for r in with_adjacent.collect()],
        spans=lambda trie, toks: resolve_overlaps(trie.match(toks)),
    )
    assert got == want
    assert {m for m in got if m[0] == "adjacent"} == {
        ("adjacent", 0, 0, 1, "Tokyo", "City"),
        ("adjacent", 0, 1, 2, "France", "Country"),
    }


def _terms_df(spark):
    return spark.createDataFrame(
        list(TERM2LABEL.items()), "term string, label string"
    )


def test_trie_dist_strategy_matches_oracle(spark, with_adjacent, tmp_path):
    """Executor trie built from the parquet side file, thesaurus supplied
    ONLY as a DataFrame — the fully distributed strategy."""
    got = _collect(
        detect_mentions_trie_dist(
            with_adjacent, _terms_df(spark), ["url", "snt_id"],
            side_dir=str(tmp_path),
        )
    )
    want = oracle_mentions(
        [(r.url, r.snt_id, r.tokens) for r in with_adjacent.collect()]
    )
    assert got == want
    assert {m for m in got if m[0] == "adjacent"} == MERGED_ADJACENT


def test_trie_dist_rewrites_uncommitted_side_file(spark, sentences, tmp_path):
    """A side dir containing *.parquet but NO _SUCCESS marker (crashed /
    partially committed prior write) must be rewritten, not reused —
    otherwise executors silently build tries from an incomplete thesaurus
    (ADVICE r3)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    import thesaurus_based_ner_spark.operators.mentions as M

    # First run learns the content-fingerprinted path
    _collect(
        detect_mentions_trie_dist(
            sentences, _terms_df(spark), ["url", "snt_id"],
            side_dir=str(tmp_path),
        )
    )
    (fp_dir,) = [d for d in os.listdir(tmp_path) if d.startswith("tbner_th_")]
    path = tmp_path / fp_dir
    # Simulate the partial commit: task files present, no job-level marker
    for f in os.listdir(path):
        os.remove(path / f)
    pq.write_table(
        pa.table({"term": ["bogus"], "label": ["Bogus"]}),
        path / "part-00000-partial.parquet",
    )
    assert not (path / "_SUCCESS").exists()
    M._TRIE_CACHE.clear()  # drop the in-process trie so the file is re-read

    got = _collect(
        detect_mentions_trie_dist(
            sentences, _terms_df(spark), ["url", "snt_id"],
            side_dir=str(tmp_path),
        )
    )
    want = oracle_mentions(
        [(r.url, r.snt_id, r.tokens) for r in sentences.collect()]
    )
    assert got == want  # full dim restored, partial file not trusted
    assert (path / "_SUCCESS").exists()


def test_spark_sentencize_matches_python(spark):
    # Java regex and Python re agree on the sentence splitter
    docs = synth_webtext(spark, 40)
    rows = docs.select(
        "text", F.split("text", r"(?<=[.!?])\s+").alias("snts")
    ).collect()
    for r in rows:
        assert list(r.snts) == sentencize(r.text)


def test_spark_tokenize_matches_python(spark, sentences):
    for r in sentences.select("snt", "tokens").collect():
        assert list(r.tokens) == tokenize(r.snt)


def test_webtext_byte_identity(spark):
    from thesaurus_based_ner_spark.functions.text import extract_text

    for r in synth_webtext(spark, 30).collect():
        assert extract_text(bytes(r.html)) == r.text


def test_webtext_deterministic_at_any_partitioning(spark):
    a = synth_webtext(spark, 50, partitions=2).orderBy("url").collect()
    b = synth_webtext(spark, 50, partitions=13).orderBy("url").collect()
    assert a == b


def test_bio_tags(spark, sentences):
    mentions = detect_mentions_trie(sentences, TERM2LABEL, ["url", "snt_id"])
    tagged = bio_tags_df(sentences, mentions, ["url", "snt_id"])
    rows = tagged.select("url", "snt_id", "tokens", "ner_tags").collect()
    trie = build_matcher(TERM2LABEL, tokenize)
    from thesaurus_based_ner_spark.functions.matcher import spans_to_bio

    for r in rows:
        toks = list(r.tokens)
        want = spans_to_bio(len(toks), match_sentence(trie, toks))
        assert list(r.ner_tags) == want, (r.url, r.snt_id, toks)
    # at least one sentence has a non-O tag
    assert any(t != "O" for r in rows for t in r.ner_tags)


def test_df_strategy_empty_dataframe_dim(spark, sentences, tmp_path):
    """An empty DataFrame thesaurus yields zero mentions with the right
    schema (a dict thesaurus cannot be empty, but a DataFrame one can
    legally be — e.g. a fully filtered thesaurus)."""
    empty = spark.createDataFrame([], "term string, label string")
    out = detect_mentions_trie_dist(
        sentences, empty, ["url", "snt_id"], side_dir=str(tmp_path)
    )
    assert out.columns == ["url", "snt_id", "m_start", "m_end", "surface", "label"]
    assert out.count() == 0
