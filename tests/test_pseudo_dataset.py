"""Pseudo-NER dataset assembly: F2 filter, A5 vocab, splits, gold join."""

import pytest
from pyspark.sql import functions as F

from thesaurus_based_ner_spark.operators.mentions import (
    detect_mentions_trie,
    tokenize_df,
)
from thesaurus_based_ner_spark.operators.pseudo import (
    join_pseudo_and_gold,
    label_vocab,
    pseudo_ner_dataset,
    train_validation_split,
)
from thesaurus_based_ner_spark.sources.webtext import THESAURUS, synth_webtext


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_webtext(spark, 60).filter(F.col("lang") == "en")
    snts = docs.select(
        "url", F.posexplode(F.split("text", r"(?<=[.!?])\s+")).alias("snt_id", "snt")
    )
    sentences = tokenize_df(snts, "snt").drop("snt").cache()
    mentions = detect_mentions_trie(
        sentences, dict(THESAURUS), ["url", "snt_id"]
    ).cache()
    return sentences, mentions


def test_pseudo_dataset_f2_filter(spark, corpus):
    sentences, mentions = corpus
    ds = pseudo_ner_dataset(sentences, mentions, ["url", "snt_id"]).cache()
    rows = ds.collect()
    assert len(rows) > 0
    # every kept sentence has a non-O tag; tags align with tokens
    for r in rows:
        assert any(t != "O" for t in r.ner_tags)
        assert len(r.ner_tags) == len(r.tokens)
    # F2: dropped = sentences whose tags are all O (incl. nc-only sentences)
    total = sentences.count()
    assert ds.count() < total


def test_label_vocab_excludes_negatives(spark, corpus):
    _, mentions = corpus
    vocab = label_vocab(mentions).collect()
    labels = [r.label for r in vocab]
    assert all(not l.startswith("nc-") for l in labels)
    ns = [r.n for r in vocab]
    assert ns == sorted(ns, reverse=True)


def test_split_and_gold_join(spark, corpus):
    sentences, mentions = corpus
    ds = pseudo_ner_dataset(sentences, mentions, ["url", "snt_id"])
    train, val = train_validation_split(ds, ["url", "snt_id"])
    assert train.count() + val.count() == ds.count()
    gold = ds.limit(5)
    joined = join_pseudo_and_gold(train, gold, gold)
    splits = {r.split for r in joined.select("split").distinct().collect()}
    assert splits == {"train", "validation", "test"}
