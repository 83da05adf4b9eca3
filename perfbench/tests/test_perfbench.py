"""The benchmark's own tests: output schema, digests, stale-page diff.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import json
import os
import re

from pyspark.sql import functions as F

import inputs
import metrics
from digests import rows_digest, triples_digest
from tracing import covered_s
from workloads import expected_refresh, stale_urls

from thesaurus_based_ner_spark.plans.pipeline import run_pipeline
from thesaurus_based_ner_spark.sources.catalog import Catalog
from thesaurus_based_ner_spark.sources.webtext import (
    THESAURUS,
    synth_anchor_text,
    synth_redirects,
)
from thesaurus_based_ner_spark.streaming.incremental import incremental_kg

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_matches_metric_schema():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER
    ]
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in bench["end_to_end"] + bench["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert len(bench["per_layer"]) <= 128
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])


def test_triples_digest_ignores_order_and_partitioning(spark):
    rows = [(f"s{i}", "p", f"o{i % 7}") for i in range(200)]
    a = spark.createDataFrame(rows, "subj string, pred string, obj string")
    b = spark.createDataFrame(rows[::-1], a.schema).repartition(5)
    assert triples_digest(a) == triples_digest(b)
    assert triples_digest(a).startswith("200:")
    changed = spark.createDataFrame(rows[:-1] + [("s199", "p", "x")], a.schema)
    assert triples_digest(changed) != triples_digest(a)
    assert triples_digest(a.limit(0)) == "0:0"


def test_rows_digest_ignores_row_order_and_float_repr():
    cols = ["b", "a"]
    rows = [{"a": 1, "b": 2.0}, {"a": 3, "b": 0.1234564}]
    same = [{"a": 3, "b": 0.1234559999}, {"a": 1.0, "b": 2}]
    assert rows_digest(rows, cols) == rows_digest(same, ["a", "b"])
    assert rows_digest(rows, cols) != rows_digest(rows[:1], cols)


def test_covered_s_counts_overlap_once():
    # the pipeline's dim branch overlaps match: union, not sum
    assert covered_s([(0, 4), (1, 6), (8, 9)]) == 7
    assert covered_s([]) == 0


def test_stale_urls_are_mention_urls_missing_from_batch(spark):
    schema = "subj string, pred string, obj string"
    a, b = "https://example.test/doc/1", "https://example.test/doc/12"
    refresh = spark.createDataFrame(
        [
            (f"{a}:0:0:1", "mentionedIn", a),
            (f"{a}:0:0:1", "anchorOf", "USA"),
            (f"{b}:1:2:3", "mentionedIn", b),
            ("ent_USA", "rdf:type", "Country"),
        ],
        schema,
    )
    batch = spark.createDataFrame(
        [(f"{b}:1:2:3", "mentionedIn", b), ("ent_USA", "rdf:type", "Country")], schema
    )
    assert {r.url for r in stale_urls(refresh, batch).collect()} == {a}
    assert stale_urls(batch, batch).count() == 0


def test_refresh_equals_batch_plus_stale_mentions(spark, tmp_path):
    """~200 pages, two crawl deltas: the refreshed KG equals a batch build
    over each page's latest version plus the stale pages' left-over
    mentions, and every stale page is a re-crawled one."""
    hist = inputs.CrawlHistory(seed=3, n_base=200, delta_pages=100)
    webtext = str(tmp_path / "webtext")
    inputs.write_parquet_files(hist.base_table(), webtext, 2, "base")
    dims = (dict(THESAURUS), synth_anchor_text(spark, 500), synth_redirects(spark))

    def drain():
        return incremental_kg(
            spark, webtext, str(tmp_path / "cat"), str(tmp_path / "ckpt"), *dims
        )

    drain()
    for r in (1, 2):
        inputs.write_parquet_files(hist.next_delta(), webtext, 1, f"delta-{r}")
        drain()
    latest = str(tmp_path / "latest")
    inputs.write_parquet_files(hist.latest_table(), latest, 2, "latest")
    batch_cat = Catalog(spark, str(tmp_path / "batch"))
    batch = run_pipeline(spark, batch_cat, spark.read.parquet(latest), *dims)
    refresh_cat = Catalog(spark, str(tmp_path / "cat"))
    refreshed = refresh_cat.read("triples")
    stale = stale_urls(refreshed, batch)
    found = {r.url for r in stale.collect()}
    assert found, "the seed corpus is expected to leave stale pages"
    assert found <= {hist.url(u) for u in hist.recrawled}
    expected = expected_refresh(batch_cat, refresh_cat, stale, dims[1])
    assert triples_digest(refreshed) == triples_digest(expected)
    # without the stale mentions the two sides differ: the check has teeth
    assert triples_digest(refreshed) != triples_digest(batch)
    assert batch.filter(F.col("pred") == "mentionedIn").count() > 0
