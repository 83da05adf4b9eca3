"""Incremental crawl → KG: new pages add triples, re-crawled pages
replace theirs (stale mentions shed), and the run is driven by the
stream checkpoint (only new files processed)."""

import datetime as dt

from pyspark.sql import functions as F

from thesaurus_based_ner_spark.functions.text import render_html
from thesaurus_based_ner_spark.sources.webtext import (
    THESAURUS,
    WEBTEXT_SCHEMA,
    synth_anchor_text,
    synth_redirects,
    synth_webtext,
)
from thesaurus_based_ner_spark.streaming.incremental import incremental_kg


def _run(spark, tmp_path):
    return incremental_kg(
        spark,
        str(tmp_path / "webtext"),
        str(tmp_path / "cat"),
        str(tmp_path / "ckpt"),
        dict(THESAURUS),
        synth_anchor_text(spark, 500),
        synth_redirects(spark),
    )


def test_incremental_kg_replaces_recrawled_url(spark, tmp_path):
    wt_dir = str(tmp_path / "webtext")
    base = synth_webtext(spark, 20).filter(F.col("lang") == "en")
    target_url = base.select("url").limit(1).collect()[0].url
    base.write.mode("append").parquet(wt_dir)
    t1 = _run(spark, tmp_path)
    m1 = {
        r.obj
        for r in t1.filter(
            (F.col("pred") == "mentionedIn") & (F.col("obj") == target_url)
        ).collect()
    }
    assert m1 == {target_url}  # the page contributed mentions
    # capture before run 2 overwrites the triples table files
    others_before = t1.filter(
        (F.col("pred") == "mentionedIn") & (F.col("obj") != target_url)
    ).count()

    # re-crawl: same url, completely different content (one France mention)
    new_text = "France only."
    recrawl = spark.createDataFrame(
        [
            (
                target_url,
                dt.datetime(2024, 6, 1),
                render_html(new_text),
                new_text,
                "en",
            )
        ],
        WEBTEXT_SCHEMA,
    )
    recrawl.write.mode("append").parquet(wt_dir)
    t2 = _run(spark, tmp_path)

    subj_mentions = t2.filter(
        (F.col("pred") == "anchorOf")
        & F.col("subj").startswith(target_url + ":")
    )
    surfaces = {r.obj for r in subj_mentions.collect()}
    assert surfaces == {"France"}, surfaces  # old mentions fully shed

    # unrelated pages untouched: triple count for other urls unchanged
    others_after = t2.filter(
        (F.col("pred") == "mentionedIn") & (F.col("obj") != target_url)
    ).count()
    assert others_after == others_before

    # a later drain of disjoint new pages adds their mentionedIn triples
    # and leaves the pages already in the store alone
    before = {r.obj for r in t2.filter(F.col("pred") == "mentionedIn").collect()}
    new_pages = synth_webtext(spark, 30).filter(
        (F.col("lang") == "en")
        & (F.split(F.col("url"), "/").getItem(4).cast("int") >= 20)
    )
    new_urls = {r.url for r in new_pages.select("url").collect()}
    new_pages.write.mode("append").parquet(wt_dir)
    t3 = _run(spark, tmp_path)
    after = {r.obj for r in t3.filter(F.col("pred") == "mentionedIn").collect()}
    assert new_urls and after == before | new_urls
