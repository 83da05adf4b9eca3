"""The workloads. Each returns the samples and checks of one run.

- kg_build: batch run_pipeline over a synthetic crawl into a fresh catalog
  each rep, timed up to the triples count. Its traced run adds the
  refresh phase: one client in a closed loop appends a crawl delta (half
  re-crawls, half new urls) and drains it with one incremental_kg call.
- kg_queries: one client runs the graph / dedup / leaf query mix in
  sequence, collecting each result.

kg_build warms up with one untimed rep (the first build in a session
takes about twice the steady one: JIT and generated-code compilation).
kg_queries does not warm up: each query is measured on its first run in
the session, compilation included, as one submission of the mix sees it.
A run stays short because the whole benchmark, 4 + 22 runs per workload,
has to fit in under an hour on a 4-core host: a warm-up of the whole mix
would add about a pass to every kg_queries run, and the same budget is
why the refresh phase is not a workload of its own.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import inputs
from digests import rows_digest, triples_digest
from metrics import (
    DEDUP_QUERIES,
    DIM_BRANCH_STAGES,
    FAMILY_FIELDS,
    GRAPH_QUERIES,
    LEAF_QUERIES,
    QUERY_MIX,
)
from tracing import STAGE_KEYS, covered_s

from thesaurus_based_ner_spark.functions.text import extract_text
from thesaurus_based_ner_spark.plans.pipeline import run_pipeline, triple_stage
from thesaurus_based_ner_spark.sources.catalog import Catalog
from thesaurus_based_ner_spark.sources.webtext import (
    THESAURUS,
    synth_anchor_text,
    synth_redirects,
)
from thesaurus_based_ner_spark.streaming.incremental import incremental_kg

# At 20k pages on 4 cores the dim branch (canonicalize's 48 small jobs,
# queued behind match's tasks) ends last: a rep's critical path is
# canonicalize, then link and the triples write, and match is about 40% of
# a rep. More pages would put match on the critical path, but a run would
# then not fit the benchmark's time budget.
BUILD_PAGES = 20_000
REFRESH_BASE_PAGES = 5_000
REFRESH_DELTA_PAGES = 500
ANCHORS = 5_000

EXPECTED_PATH = os.path.join(os.path.dirname(__file__), "expected.json")


@dataclass
class Outcome:
    """What one run of a workload measured and checked."""

    samples: list[float] = field(default_factory=list)
    layers: list[dict] = field(default_factory=list)  # one dict per traced op
    extra_layers: dict = field(default_factory=dict)  # once-per-run values
    attempted: int = 0
    problems: list[str] = field(default_factory=list)
    summary: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def measure(seconds: float, op) -> list[float]:
    """Run op (which returns its own timed wall) until seconds have passed;
    at least once."""
    walls = []
    deadline = time.perf_counter() + seconds
    while not walls or time.perf_counter() < deadline:
        walls.append(op())
    return walls


def run_ops(ctx, out: Outcome, op, traced_layers) -> None:
    """Measure op for ctx.seconds; in a traced run each op is traced and
    traced_layers(op) turns its spans into per-layer values."""
    ctx.mark_setup_done()
    ctx.tracer.enabled = ctx.trace
    out.samples = measure(ctx.seconds, (lambda: traced_layers(op)) if ctx.trace else op)
    ctx.tracer.enabled = False


def _stage_layers(stage: str, tot: dict) -> dict:
    keys = ("wall_s", "jobs") + STAGE_KEYS
    if stage not in DIM_BRANCH_STAGES:  # see metrics.DIM_BRANCH_STAGES
        keys += ("python_cpu_s",)
    return {f"pipeline.{stage}.{k}": tot[k] for k in keys}


def _catalog_layers(spans, input_bytes: int) -> dict:
    writes = [s for s in spans if s.name.startswith("catalog.write:")]
    written = sum(s.attrs.get("bytes", 0) for s in writes)
    return {
        "catalog.bytes_written_mb": written / 2**20,
        "catalog.files_written": sum(s.attrs.get("files", 0) for s in writes),
        "catalog.write_amp": written / input_bytes if input_bytes else 0.0,
    }


def _dir_size(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def instrument_catalog(ctx):
    """Spans around Catalog.materialize / write / replace_groups calls."""

    def after_write(sp, cat, name, *a, **k):
        sp.attrs["bytes"], sp.attrs["files"] = _dir_size(cat.path(name))

    stack = contextlib.ExitStack()
    t = ctx.tracer
    stack.enter_context(
        t.wrapped(Catalog, "materialize", lambda cat, name, *a, **k: f"pipeline.{k.get('stage') or name}")
    )
    stack.enter_context(
        t.wrapped(Catalog, "write", lambda cat, name, *a, **k: f"catalog.write:{name}", after=after_write)
    )
    stack.enter_context(
        t.wrapped(Catalog, "replace_groups", lambda cat, name, *a, **k: f"catalog.replace_groups:{name}")
    )
    return stack


def kg_dims(spark):
    """The thesaurus, anchor text and redirects every KG build uses."""
    return dict(THESAURUS), synth_anchor_text(spark, ANCHORS), synth_redirects(spark)


def _extract_us_per_page(table, n: int = 2000) -> float:
    htmls = table.column("html").to_pylist()[:n]
    t0 = time.perf_counter()
    for h in htmls:
        extract_text(h)
    return (time.perf_counter() - t0) / len(htmls) * 1e6


# --- kg_build -----------------------------------------------------------------

def kg_build(ctx) -> Outcome:
    out = Outcome()
    spark = ctx.spark
    offset = inputs.page_offset(ctx.seed)
    table = inputs.page_rows(range(offset, offset + BUILD_PAGES))
    pages_dir = os.path.join(ctx.work, "pages")
    inputs.write_parquet_files(table, pages_dir, 2 * ctx.cpus, "pages")
    thesaurus, anchor, redirects = kg_dims(spark)
    digests = []
    triples_n = []
    reps = itertools.count()

    def rep() -> float:
        # a fresh catalog each rep, removed after it: a rerun into the same
        # one would resume from its checkpoints instead of building
        cat_dir = os.path.join(ctx.work, f"catalog-{next(reps)}")
        out.attempted += 1
        try:
            t0 = time.perf_counter()
            with ctx.tracer.span("run_pipeline"):
                triples = run_pipeline(
                    spark, Catalog(spark, cat_dir), spark.read.parquet(pages_dir),
                    thesaurus, anchor, redirects,
                )
                n = triples.count()
            wall = time.perf_counter() - t0
            digests.append(triples_digest(triples))
            triples_n.append(n)
            return wall
        finally:
            shutil.rmtree(cat_dir, ignore_errors=True)

    rep()  # warm-up, checked like every rep

    def traced(op):
        before = len(ctx.tracer.spans)
        with instrument_catalog(ctx):
            wall = op()
        spans = ctx.tracer.spans[before:]
        root = next(s for s in spans if s.name == "run_pipeline")
        layers = {}
        stages = [s for s in spans if s.name.startswith("pipeline.")]
        for s in stages:
            layers.update(_stage_layers(s.name[len("pipeline."):], ctx.tracer.totals(s)))
        tot = ctx.tracer.totals(root)
        layers["pipeline.unattributed_s"] = root.wall_s - covered_s((s.start, s.end) for s in stages)
        layers["pipeline.slot_busy"] = tot["executor_run_s"] / (root.wall_s * ctx.cpus)
        out.layers.append(layers)
        return wall

    run_ops(ctx, out, rep, traced)
    if ctx.trace:
        out.extra_layers["functions.extract_text_us_per_page"] = _extract_us_per_page(table)
        refresh_phase(ctx, out, thesaurus, anchor, redirects)
    expected = load_expected()["kg_build"].get(str(ctx.seed % inputs.SEED_CLASSES))
    out.check(len(set(digests)) == 1, f"triples digest differs across reps: {sorted(set(digests))}")
    out.check(digests[0] == expected, f"triples digest {digests[0]} != stored {expected}")
    med = statistics.median(out.samples)
    out.summary = {
        "pages": BUILD_PAGES,
        "triples": triples_n[0],
        "digest": digests[0],
        "build_triples_per_s": triples_n[0] / med,
        "reps": len(out.samples),
        **out.summary,
    }
    return out


# --- refresh phase (traced kg_build runs) --------------------------------------

def stale_urls(refreshed, batch):
    """Urls with mention triples after the refresh but none in a batch
    build over the latest version of every page.

    incremental_kg replaces a url's mentions only when its new version
    yields some, so a re-crawl that yields none leaves the old ones."""
    def mention_urls(df):
        return df.filter(F.col("pred") == "mentionedIn").select(F.col("obj").alias("url")).distinct()

    return mention_urls(refreshed).join(mention_urls(batch), "url", "left_anti")


def expected_refresh(batch_cat, refresh_cat, stale, anchor):
    """The triples incremental_kg should leave: the batch build's linked
    mentions plus the refresh's own for stale urls, through the same
    triple_stage. Entity-level triples aggregate over every mention, so
    the stale mentions move them too."""
    linked = batch_cat.read("linked").unionByName(
        refresh_cat.read("linked_mentions").join(stale, "url", "left_semi")
    )
    return triple_stage(linked, batch_cat.read("canonical"), anchor)


def refresh_phase(ctx, out: Outcome, thesaurus, anchor, redirects) -> None:
    """Seed a catalog through incremental_kg, drain crawl deltas for
    ctx.seconds with every call traced, then check the refreshed KG
    against a batch build over the latest version of every page."""
    spark = ctx.spark
    hist = inputs.CrawlHistory(ctx.seed, REFRESH_BASE_PAGES, REFRESH_DELTA_PAGES)
    webtext_dir = os.path.join(ctx.work, "webtext")
    cat_root = os.path.join(ctx.work, "catalog")
    ckpt = os.path.join(ctx.work, "stream-checkpoint")
    inputs.write_parquet_files(hist.base_table(), webtext_dir, 2 * ctx.cpus, "base")
    delta_bytes = []

    def drain():
        return incremental_kg(spark, webtext_dir, cat_root, ckpt, thesaurus, anchor, redirects)

    def call() -> float:
        delta = hist.next_delta()
        delta_bytes.append(
            inputs.write_parquet_files(delta, webtext_dir, 1, f"delta-{hist.rounds:05d}")
        )
        jsc = spark.sparkContext._jsc.sc()
        before, jobs0 = len(ctx.tracer.spans), jsc.dagScheduler().numTotalJobs()
        with instrument_catalog(ctx), ctx.tracer.span("incremental_kg"):
            drain()
        jobs = jsc.dagScheduler().numTotalJobs() - jobs0
        spans = ctx.tracer.spans[before:]
        root = next(s for s in spans if s.name == "incremental_kg")
        replace = sum(s.wall_s for s in spans if s.name.startswith("catalog.replace_groups:"))
        triples_write = sum(
            s.wall_s for s in spans if s.name == "catalog.write:triples" and s.parent == root.span_id
        )
        layers = {
            "refresh.call_s": root.wall_s,
            "refresh.replace_s": replace,
            "refresh.triples_write_s": triples_write,
            "refresh.other_s": root.wall_s - replace - triples_write,
            "refresh.jobs": jobs,
        }
        layers.update(_catalog_layers(spans, delta_bytes[-1]))
        out.layers.append(layers)
        return root.wall_s

    drain()  # seed the catalog with the base crawl
    ctx.tracer.enabled = True
    measure(ctx.seconds, call)
    ctx.tracer.enabled = False

    # Equivalence with a batch build over the latest version of every
    # page, given the stale pages' left-over mentions.
    latest_dir = os.path.join(ctx.work, "latest")
    inputs.write_parquet_files(hist.latest_table(), latest_dir, 2 * ctx.cpus, "latest")
    batch_cat = Catalog(spark, os.path.join(ctx.work, "batch-catalog"))
    batch = run_pipeline(
        spark, batch_cat, spark.read.parquet(latest_dir), thesaurus, anchor, redirects
    )
    refresh_cat = Catalog(spark, cat_root)
    refreshed = refresh_cat.read("triples")
    stale = stale_urls(refreshed, batch)
    stale_set = {r.url for r in stale.collect()}
    recrawled = {hist.url(u) for u in hist.recrawled}
    got = triples_digest(refreshed)
    want = triples_digest(expected_refresh(batch_cat, refresh_cat, stale, anchor))
    out.check(got == want, f"refreshed triples {got} != batch + stale mentions {want}")
    out.check(stale_set <= recrawled, "a stale page was never re-crawled")
    out.check(not got.startswith("0:"), "the refresh produced no triples")
    out.extra_layers["refresh.stale_pages"] = len(stale_set)
    out.summary = {
        "refresh_calls": hist.rounds,
        "refresh_recrawled_urls": len(recrawled),
        "refresh_stale_pages": len(stale_set),
    }


# --- kg_queries ---------------------------------------------------------------

def kg_queries(ctx) -> Outcome:
    import __spark_entry__

    out = Outcome()
    spark = ctx.spark
    tables = os.path.join(ctx.work, "tables")
    inputs.write_query_tables(tables)
    registry = __spark_entry__.queries()
    expected = load_expected()["kg_queries"]
    walls: dict[str, float] = {}

    def one_pass() -> float:
        """The mix in order. Each result is collected for its digest check;
        at these result sizes that costs what a noop sink does."""
        for name in QUERY_MIX:
            out.attempted += 1
            t0 = time.perf_counter()
            with ctx.tracer.span(f"query.{name}"):
                df = registry[name](spark, tables)
                rows = df.collect()
            walls[name] = time.perf_counter() - t0
            got = rows_digest([r.asDict() for r in rows], df.columns)
            out.check(got == expected.get(name), f"{name}: digest {got} != stored {expected.get(name)}")
        return sum(walls.values())

    def traced(op):
        before = len(ctx.tracer.spans)
        wall = op()
        spans = {s.name[len("query."):]: s for s in ctx.tracer.spans[before:]}
        layers = {}
        for family, names in (("graph", GRAPH_QUERIES), ("dedup", DEDUP_QUERIES)):
            fam = {f: 0.0 for f, _, _ in FAMILY_FIELDS}
            for q in names:
                tot = ctx.tracer.totals(spans[q])
                layers[f"{family}.{q}.wall_s"] = tot["wall_s"]
                layers[f"{family}.{q}.jobs"] = tot["jobs"]
                for k in fam:
                    fam[k] += tot[k]
            layers.update({f"{family}.{k}": v for k, v in fam.items()})
        for q in LEAF_QUERIES:
            layers[f"leaf.{q}.wall_s"] = spans[q].wall_s
        layers["leaf.gc_s"] = sum(ctx.tracer.totals(spans[q])["gc_s"] for q in LEAF_QUERIES)
        out.layers.append(layers)
        return wall

    run_ops(ctx, out, one_pass, traced)
    out.summary = {
        "queries": len(QUERY_MIX),
        "passes": len(out.samples),
        "last_pass_s": {k: round(v, 3) for k, v in walls.items()},
        "graph_family_s": sum(walls[q] for q in GRAPH_QUERIES),
        "dedup_family_s": sum(walls[q] for q in DEDUP_QUERIES),
        "leaf_family_s": sum(walls[q] for q in LEAF_QUERIES),
    }
    if ctx.trace:
        # the count-vs-noop gap: a count can skip columns a real consumer pays for
        for name in QUERY_MIX:
            t0 = time.perf_counter()
            registry[name](spark, tables).write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            registry[name](spark, tables).count()
            out.extra_layers[f"queries.{name}.noop_over_count"] = (t1 - t0) / (
                time.perf_counter() - t1
            )
    return out


WORKLOADS = {"kg_build": kg_build, "kg_queries": kg_queries}
