"""Incremental crawl → KG maintenance (the north rule's refresh story).

`incremental_kg` drains newly-arrived webtext files (Trigger.AvailableNow
— exactly-once per file via the stream checkpoint), runs the SAME stage
functions as the batch pipeline per micro-batch, and group-replaces each
crawled url's linked mentions in the catalog: a re-fetched page sheds its
stale mentions even when the new fetch yields fewer. Entity-level triples
are then re-derived from the updated mention store with the batch
triple_stage — they aggregate across the whole corpus (weighted argmax
per canonical entity), so per-url patching cannot maintain them, but the
mention store they derive from is mention-sized, not corpus-sized.

Scale shape: per batch, work is proportional to the batch (map-only
prefix + one mention-sized shuffle); the replacement anti-join touches
the mention store, which is ~1-3% of token volume. The final
triple_stage is the same dim-heavy/broadcast plan the batch pipeline
runs; the canonical entity map it joins is built on a worker thread while
the stream drains. Restart-safe at two levels: the stream checkpoint remembers which
files are done; the catalog swap never leaves a half-written table.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from thesaurus_based_ner_spark.operators.canonicalize import (
    canonicalize_entities,
)
from thesaurus_based_ner_spark.operators.linking import (
    candidate_table,
    link_mentions,
)
from thesaurus_based_ner_spark.plans.pipeline import (
    extract_stage,
    mention_stage,
    sentence_stage,
    triple_stage,
)
from thesaurus_based_ner_spark.sources.catalog import Catalog
from thesaurus_based_ner_spark.sources.webtext import WEBTEXT_SCHEMA


def incremental_kg(
    spark: SparkSession,
    webtext_dir: str,
    catalog_root: str,
    checkpoint_dir: str,
    term2label: "dict[str, str] | DataFrame",
    anchor: DataFrame,
    redirects: DataFrame | None = None,
) -> DataFrame:
    """Drain new/updated pages, refresh the KG, return the triples table."""
    cat = Catalog(spark, catalog_root)
    candidates = candidate_table(anchor)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        ments = mention_stage(
            sentence_stage(extract_stage(batch_df)), term2label, catalog_root
        )
        linked = link_mentions(ments, candidates)
        cat.replace_groups(
            "linked_mentions", linked, ["url"], stage=f"link:e{epoch_id}"
        )

    # canonicalize_entities runs its fixpoint's checkpoint jobs eagerly,
    # and nothing reads it before triple_stage: it builds on a worker
    # thread while the stream drains, as the dim stages do in run_pipeline
    with ThreadPoolExecutor(max_workers=1) as pool:
        canon = pool.submit(canonicalize_entities, anchor, redirects)
        q = (
            spark.readStream.schema(WEBTEXT_SCHEMA)
            .parquet(webtext_dir)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    triples = triple_stage(cat.read("linked_mentions"), canon.result(), anchor)
    return cat.write(
        "triples", triples, partition_by=["pred"], stage="materialize"
    )
