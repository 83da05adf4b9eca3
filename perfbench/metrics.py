"""Metric names, units and directions: the benchmark's output schema.

BENCHMARK.json lists the same names; tests/test_perfbench.py keeps the
two in step. Every workload reports every metric: an end-to-end metric is
defined for each workload, and a per-layer metric of a layer a workload
does not run reads 0.
"""

from __future__ import annotations

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
]

PIPELINE_STAGES = ["match", "link", "materialize", "candidates", "canonicalize"]
# run_pipeline builds the dim branch (candidates, then canonicalize) on a
# side thread while match runs, so those spans overlap match's. Python-worker
# CPU is read process-wide from /proc, so a span's python_cpu_s is its own
# only when no Python UDF runs beside it: match, link and materialize get
# one (the dim branch runs none), the two dim stages do not.
DIM_BRANCH_STAGES = ["candidates", "canonicalize"]
STAGE_FIELDS = [
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("python_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("peak_exec_mem_mb", "MB", "lower"),
    ("tasks_failed", "count", "lower"),
]
FAMILY_FIELDS = [
    ("executor_run_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("gc_s", "s", "lower"),
]

# canonical_components_star and dedup_clusters are left out to keep a run
# short: the first is canonicalize_entities, which kg_build's canonicalize
# stage runs, and the second composes MinHash-LSH and two-star CC, which
# dedup_minhash_lsh and canonical_components run.
GRAPH_QUERIES = [
    "canonical_components",
    "entity_pagerank",
    "redirect_fixpoint",
]
DEDUP_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding",
    "dedup_exact",
]
LEAF_QUERIES = [
    "pricing_summary",
    "region_revenue",
    "top_customers_per_nation",
    "click_purchase_attribution",
    "label_tree_rollup",
]
# Run order: the cheap leaves come after the checkpoint-heavy families, so
# session heap and GC effects of the heavy queries show on them.
QUERY_MIX = GRAPH_QUERIES + DEDUP_QUERIES + LEAF_QUERIES


def per_layer() -> list[tuple[str, str, str]]:
    out = [
        ("session.start_s", "s", "lower"),
        ("session.peak_rss_mb", "MB", "lower"),
        ("functions.extract_text_us_per_page", "us", "lower"),
    ]
    for stage in PIPELINE_STAGES:
        out += [
            (f"pipeline.{stage}.{f}", u, b)
            for f, u, b in STAGE_FIELDS
            if not (f == "python_cpu_s" and stage in DIM_BRANCH_STAGES)
        ]
    out += [
        ("pipeline.unattributed_s", "s", "lower"),
        ("pipeline.slot_busy", "share", "higher"),
        ("catalog.bytes_written_mb", "MB", "lower"),
        ("catalog.files_written", "count", "lower"),
        ("catalog.write_amp", "B/B", "lower"),
        ("refresh.call_s", "s", "lower"),
        ("refresh.replace_s", "s", "lower"),
        ("refresh.triples_write_s", "s", "lower"),
        ("refresh.other_s", "s", "lower"),
        ("refresh.jobs", "count", "lower"),
        ("refresh.stale_pages", "count", "lower"),
    ]
    for family, queries in (("graph", GRAPH_QUERIES), ("dedup", DEDUP_QUERIES)):
        for q in queries:
            out += [(f"{family}.{q}.wall_s", "s", "lower"), (f"{family}.{q}.jobs", "count", "lower")]
        out += [(f"{family}.{f}", u, b) for f, u, b in FAMILY_FIELDS]
    out += [(f"leaf.{q}.wall_s", "s", "lower") for q in LEAF_QUERIES]
    out.append(("leaf.gc_s", "s", "lower"))
    out += [(f"queries.{q}.noop_over_count", "x", "lower") for q in QUERY_MIX]
    out.append(("trace.op_p50_s", "s", "lower"))
    return out


PER_LAYER = per_layer()
