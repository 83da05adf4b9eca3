"""spark-submit entrypoint (the north rule's ship path).

Usage (cluster):
    spark-submit --py-files tbner.zip -m thesaurus_based_ner_spark.cli ...
or locally:
    python -m thesaurus_based_ner_spark.cli pipeline --input .../webtext \\
        --anchor .../anchor --output /path/catalog [--thesaurus terms.tsv]
    python -m thesaurus_based_ner_spark.cli query --name mention_spans \\
        --sf-dir /root/testdata/sf0.01 [--limit 20]

Replaces the reference's Hydra/Click CLIs
(/root/reference/src/dataset/term2cat/dictionary_form_term2cats.py etc.) —
configuration that selected SQLite files and model dirs there selects
tables and a catalog root here; everything else is the Spark plan.
"""

from __future__ import annotations

import argparse
import json
import sys


def _get_session(args):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:  # under spark-submit the session is configured
        return active
    from thesaurus_based_ner_spark.session import get_spark

    return get_spark("tbner-cli", cpus=args.cpus)


def _load_thesaurus(spark, path: str | None):
    """No path → the fixture dict (broadcast trie). A path → a
    DISTRIBUTED (term, label) DataFrame: parquet directly, TSV via a
    parallel CSV scan — a 23M-surface dim never visits the driver
    (the pipeline's mention stage handles both input shapes)."""
    if path is None:
        from thesaurus_based_ner_spark.sources.webtext import THESAURUS

        return dict(THESAURUS)
    from pyspark.sql import functions as F

    if path.endswith(".parquet") or path.rstrip("/").endswith(".parquet"):
        df = spark.read.parquet(path)
    else:
        # quote="": split purely on tabs like a line parser — Spark CSV's
        # default '"' quote would strip/mangle terms containing quotes.
        # PERMISSIVE keeps malformed lines as nulls (filtered below).
        # NOTE: labels containing tabs keep only field 2 (the reference's
        # split('\t', 1) kept the full remainder); thesaurus TSVs are
        # 2-column so this is intentional and documented here.
        df = (
            spark.read.option("sep", "\t")
            .option("comment", "#")
            .option("quote", "")
            .option("mode", "PERMISSIVE")
            .schema("term string, label string")
            .csv(path)
        )
    return df.filter(
        F.col("term").isNotNull() & F.col("label").isNotNull()
    ).select("term", "label")


def cmd_pipeline(args) -> int:
    spark = _get_session(args)
    from thesaurus_based_ner_spark.plans.pipeline import run_pipeline
    from thesaurus_based_ner_spark.sources.catalog import Catalog
    from thesaurus_based_ner_spark.sources.webtext import (
        synth_anchor_text,
        synth_redirects,
        synth_webtext,
    )

    if args.input_format == "warc" and not args.input:
        print("error: --input-format warc requires --input", file=sys.stderr)
        return 2
    if args.input and args.input_format == "warc":
        from thesaurus_based_ner_spark.sources.warc import warc_webtext

        webtext = warc_webtext(spark, args.input)
    elif args.input:
        webtext = spark.read.parquet(args.input)
    else:
        webtext = synth_webtext(spark, args.synth_docs)
    anchor = (
        spark.read.parquet(args.anchor)
        if args.anchor
        else synth_anchor_text(spark, 5000)
    )
    redirects = (
        spark.read.parquet(args.redirects) if args.redirects else synth_redirects(spark)
    )
    catalog = Catalog(spark, args.output)
    triples = run_pipeline(
        spark,
        catalog,
        webtext,
        _load_thesaurus(spark, args.thesaurus),
        anchor,
        redirects,
        corpus_fingerprint=args.fingerprint,
    )
    n = triples.count()
    print(
        json.dumps(
            {
                "triples": n,
                "catalog": args.output,
                "stages": {m["stage"]: m["rows_out"] for m in catalog.lineage()},
            }
        )
    )
    return 0


def cmd_query(args) -> int:
    spark = _get_session(args)
    from thesaurus_based_ner_spark.plans import queries_ext as _qx  # noqa: F401
    from thesaurus_based_ner_spark.plans import queries_r3 as _q3  # noqa: F401
    from thesaurus_based_ner_spark.plans.queries import QUERIES

    if args.name not in QUERIES:
        print(
            f"unknown query {args.name!r}; available: {', '.join(sorted(QUERIES))}",
            file=sys.stderr,
        )
        return 2
    df = QUERIES[args.name](spark, args.sf_dir)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        # count the WRITTEN parquet (footer metadata — no recompute of
        # the query plan just to report a row count)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"query": args.name, "rows": n, "output": args.output}))
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_list(args) -> int:
    from thesaurus_based_ner_spark.plans import queries_ext as _qx  # noqa: F401
    from thesaurus_based_ner_spark.plans import queries_r3 as _q3  # noqa: F401
    from thesaurus_based_ner_spark.plans.queries import ORACLES, QUERIES

    for name in sorted(QUERIES):
        print(f"{name}\t{'oracle' if name in ORACLES else 'rows-only'}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="thesaurus_based_ner_spark")
    p.add_argument("--cpus", type=int, default=0, help="local[N]; 0 = local[*]")
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("pipeline", help="run the KG-construction pipeline")
    pp.add_argument("--input", help="webtext path (default: synthetic)")
    pp.add_argument(
        "--input-format",
        choices=["parquet", "warc"],
        default="parquet",
        help="webtext input container (warc = raw crawl files)",
    )
    pp.add_argument("--synth-docs", type=int, default=10000)
    pp.add_argument("--thesaurus", help="TSV term\\tlabel file (default: built-in)")
    pp.add_argument("--anchor", help="anchor-text parquet (entity, surface)")
    pp.add_argument("--redirects", help="redirect parquet (src, dst)")
    pp.add_argument("--output", required=True, help="catalog root for checkpoints")
    pp.add_argument("--fingerprint", default="", help="corpus fingerprint for resume")
    pp.set_defaults(fn=cmd_pipeline)

    qp = sub.add_parser("query", help="run a registered query")
    qp.add_argument("--name", required=True)
    qp.add_argument("--sf-dir", required=True)
    qp.add_argument("--output", help="write result parquet here instead of show()")
    qp.add_argument("--limit", type=int, default=20)
    qp.set_defaults(fn=cmd_query)

    lp = sub.add_parser("list", help="list registered queries")
    lp.set_defaults(fn=cmd_list)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
