"""Regenerate perfbench/expected.json, the stored output digests.

Usage, from the repository root:

    python3 perfbench/make_expected.py

For kg_build it stores the triples digest of every seed class. For
kg_queries it stores each query's digest after checking the Spark rows
against the query's DuckDB oracle (__spark_entry__.oracle_sql()) on the
same tables; a mismatch stops the script without writing anything. An
oracle that runs past ORACLE_LIMIT_S is interrupted and its query stored
unchecked (the recursive-CTE oracles grow with the square of a
component's size). Run it only when a change is meant to alter the
engine's output.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading

import duckdb

from run import ROOT, start_spark, stop_jvm

ORACLE_LIMIT_S = 120


def build_digests(spark, work: str, cpus: int) -> dict[str, str]:
    import inputs
    from digests import triples_digest
    from workloads import BUILD_PAGES, kg_dims

    from thesaurus_based_ner_spark.plans.pipeline import run_pipeline
    from thesaurus_based_ner_spark.sources.catalog import Catalog

    thesaurus, anchor, redirects = kg_dims(spark)
    out = {}
    for k in range(inputs.SEED_CLASSES):
        offset = inputs.page_offset(k)
        pages = os.path.join(work, f"pages-{k}")
        table = inputs.page_rows(range(offset, offset + BUILD_PAGES))
        inputs.write_parquet_files(table, pages, 2 * cpus, "pages")
        triples = run_pipeline(
            spark, Catalog(spark, os.path.join(work, f"catalog-{k}")),
            spark.read.parquet(pages), thesaurus, anchor, redirects,
        )
        out[str(k)] = triples_digest(triples)
        print(f"kg_build seed class {k}: {out[str(k)]}", flush=True)
    return out


def query_digests(spark, work: str) -> dict[str, str]:
    import __spark_entry__
    import inputs
    from digests import normalize, rows_digest
    from metrics import QUERY_MIX

    tables = os.path.join(work, "tables")
    inputs.write_query_tables(tables)
    con = duckdb.connect()
    for fn in os.listdir(tables):
        con.execute(f"CREATE VIEW {fn[: -len('.parquet')]} AS SELECT * FROM '{tables}/{fn}'")
    registry, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    out = {}
    for name in QUERY_MIX:
        df = registry[name](spark, tables)
        cols = sorted(df.columns)
        rows = [r.asDict() for r in df.collect()]
        out[name] = rows_digest(rows, cols)
        timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
        timer.start()
        try:
            oracle = con.execute(oracles[name]).fetchdf()
        except duckdb.InterruptException:
            print(f"kg_queries {name}: {len(rows)} rows, oracle over {ORACLE_LIMIT_S}s, unchecked")
            continue
        finally:
            timer.cancel()
        if sorted(oracle.columns) != cols or normalize(rows, cols) != normalize(
            oracle.to_dict("records"), cols
        ):
            raise SystemExit(f"{name}: Spark rows differ from the DuckDB oracle")
        print(f"kg_queries {name}: {len(rows)} rows, oracle match", flush=True)
    return out


def main() -> None:
    from tracing import ProcessTree

    work = os.path.join(ROOT, ".perfbench", f"expected-{os.getpid()}")
    cpus = len(os.sched_getaffinity(0))
    tree = ProcessTree()
    spark, _ = start_spark(work, cpus)
    try:
        expected = {
            "kg_queries": query_digests(spark, work),
            "kg_build": build_digests(spark, work, cpus),
        }
    finally:
        stop_jvm(spark, tree)
        shutil.rmtree(work, ignore_errors=True)
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
