"""Canonicalization (SURVEY.md §2.7 G6 + north_rule).

Cross-corpus entity canonicalization = connected components over an entity
similarity graph:
- redirect edges, resolved to their chain roots first
  (reference db_pedia.py:37-71)
- shared-normalized-surface edges (entities whose anchor surfaces collide
  after lowercasing)
- optional MinHash edges over surface shingles for fuzzy matches
  (dedup.minhash_lsh_pairs on the surface strings)

Output: (entity, canonical) where canonical = min entity id per component,
plus (canonical, altLabel surface) rows for the triple store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from thesaurus_based_ner_spark.operators.graph import (
    connected_components_twostar,
    resolve_chains,
)


def _normalized_surfaces(anchor: DataFrame) -> DataFrame:
    """Distinct (entity, nsurf) rows: the surfaces that may form an edge,
    lowercased.

    NULL/empty surfaces must NOT edge: Window.partitionBy treats NULL as
    an ordinary key, so without this filter every entity with an
    unparsed surface would star-edge to one hub and collapse into a
    single canonical cluster. The pre-star pairwise join was only
    NULL-rejecting — empty/whitespace surfaces DID match each other
    ('' == '') and clustered there; dropping them here is an intentional
    divergence (an all-empty-surface mega-cluster is never a desirable
    canonical entity), not an equivalence (ADVICE r4).
    """
    return (
        anchor.filter(
            F.col("surface").isNotNull() & (F.trim(F.col("surface")) != "")
        )
        .select(F.col("entity"), F.lower(F.col("surface")).alias("nsurf"))
        .distinct()
    )


def surface_star_edges(anchor: DataFrame, n_salt: int = 1) -> DataFrame:
    """Shared-normalized-surface edges as a STAR to the per-surface hub.

    A pairwise self-join on nsurf emits S²/2 edges for a surface shared by
    S entities — a head surface like "USA" shared by 10⁴ entities would
    generate 5·10⁷ edges from one key at web scale. Connected components
    are invariant to star-vs-clique edges, so emit (hub=min entity, other)
    instead: O(S) edges, one window shuffle on nsurf, no join.

    ``n_salt > 1`` additionally bounds the per-TASK skew: the plain star
    still routes all S rows of one surface through a single window
    partition, so a 10⁷-entity head key pins one task at web scale. With
    salting, entities are hashed into ``n_salt`` buckets; pass 1 stars each
    (nsurf, bucket) group to its bucket hub (partition size ≤ ~S/n_salt),
    pass 2 stars the ≤ n_salt bucket hubs per surface to a global hub.
    Components are identical to the unsalted star (the bucket stars plus
    the hub star connect exactly the same surface group); edge count stays
    linear: ≤ S-1 within-bucket + ≤ n_salt-1 hub edges per surface.
    Both passes are windows — no join, no cartesian product.
    """
    surf = _normalized_surfaces(anchor)
    if n_salt <= 1:
        hub = F.min("entity").over(Window.partitionBy("nsurf"))
        return (
            surf.withColumn("__hub", hub)
            .filter(F.col("entity") != F.col("__hub"))
            .select(F.col("__hub").alias("a"), F.col("entity").alias("b"))
        )
    salted = surf.withColumn(
        "__b", F.pmod(F.xxhash64("entity"), F.lit(n_salt))
    )
    bucket_hub = F.min("entity").over(Window.partitionBy("nsurf", "__b"))
    starred = salted.withColumn("__hub", bucket_hub)
    within = starred.filter(F.col("entity") != F.col("__hub")).select(
        F.col("__hub").alias("a"), F.col("entity").alias("b")
    )
    # ≤ n_salt bucket hubs per surface — the second window's partitions
    # are bounded by n_salt regardless of how hot the surface is. The
    # hubs are derived with a groupBy, NOT by re-reading the window's
    # output (starred.select(nsurf, __hub).distinct()): buckets partition
    # the entities, so min-per-(nsurf, bucket) IS the window's __hub set,
    # and the groupBy partially aggregates map-side — one row per group
    # per map partition crosses the wire (skew-safe by construction)
    # instead of running the full window a second time under the union
    # (round 8: the distinct formulation re-executed the window subtree
    # in both union branches — two full window passes over all rows,
    # i.e. the HOT partition ran twice; measured 99.97s -> 27.5s at 64M
    # rows / 12.5% head, BENCH/skew_stress.jsonl). Catalyst elides the
    # distinct under this agg (min is duplicate-insensitive), so the
    # branch plans as an independent scan + map-side agg: the anchor dim
    # is scanned twice, which is the right trade — the dim is orders of
    # magnitude smaller than the corpus, while the window pass it
    # replaces carried the skew.
    hubs = salted.groupBy("nsurf", "__b").agg(F.min("entity").alias("entity"))
    global_hub = F.min("entity").over(Window.partitionBy("nsurf"))
    across = (
        hubs.withColumn("__ghub", global_hub)
        .filter(F.col("entity") != F.col("__ghub"))
        .select(F.col("__ghub").alias("a"), F.col("entity").alias("b"))
    )
    return within.unionByName(across)


def _surface_skew_stats(anchor: DataFrame) -> tuple[int, int]:
    """(total distinct (entity, nsurf) rows, hottest surface's row count).

    Reads the same _normalized_surfaces as surface_star_edges, so the
    stats describe exactly the rows the star window will partition.
    groupBy().count() partially aggregates map-side — the hot key ships
    ONE partial row per map task, so measuring the skew is itself
    skew-safe — and the final agg is a 1-row scalar collect (bounded
    driver action).
    """
    row = (
        _normalized_surfaces(anchor)
        .groupBy("nsurf")
        .count()
        .agg(F.sum("count").alias("total"), F.max("count").alias("hot"))
        .collect()[0]
    )
    return int(row["total"] or 0), int(row["hot"] or 0)


def choose_canonical_salt(
    anchor: DataFrame,
    shuffle_partitions: int | None = None,
    skew_factor: float = 4.0,
    max_salt: int = 256,
) -> int:
    """Measure surface skew and pick ``n_salt`` for surface_star_edges.

    The star window routes all S rows of one surface through a single
    task, so a head surface ("USA") bigger than a few median partitions
    pins a task — AQE cannot split a window key (skew-join handling
    applies to joins), salting is the only bound (tools/skew_stress.py
    demonstrates it on a deterministic hot-key corpus). But the salted
    star costs extra passes, so it should only be enabled when the skew
    is real: at toy scale the hot key hides inside a median partition
    and n_salt=1 is strictly faster.

    Policy: with P shuffle partitions the median window task reads
    ~total/P rows; a surface with more than ``skew_factor`` times that
    pins a task, and the salt is the smallest power of two that brings
    the hot key's per-bucket share back under the bound (clamped to
    ``max_salt`` — 256 buckets bound any key to ~0.4% of the data).
    One extra aggregation pass over the anchor dim (NOT the corpus);
    at 100 TB the anchor table is the thesaurus/KB side, orders of
    magnitude smaller than the webtext, so the probe is cheap relative
    to the straggler it prevents.

    Pass the result as ``canonicalize_entities(..., n_salt=...)`` or use
    ``run_pipeline(..., canonical_salt="auto")``.
    """
    if shuffle_partitions is None:
        shuffle_partitions = int(
            anchor.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    total, hot = _surface_skew_stats(anchor)
    if total == 0:
        return 1
    target = skew_factor * total / shuffle_partitions
    if hot <= target:
        return 1
    salt = 1
    while salt < max_salt and hot / salt > target:
        salt *= 2
    # A non-power-of-two max_salt could be overshot by the doubling loop
    # (max_salt=100 would return 128); honor the documented clamp
    # (ADVICE r8). No-op for the default 256.
    return min(salt, max_salt)


def canonicalize_entities(
    anchor: DataFrame,
    redirects: DataFrame | None = None,
    n_salt: int = 1,
) -> DataFrame:
    """(entity, canonical) map via CC over surface+redirect edges."""
    edges = surface_star_edges(anchor, n_salt=n_salt)
    if redirects is not None:
        red = resolve_chains(redirects, "src", "dst").select(
            F.col("src").alias("a"), F.col("root").alias("b")
        )
        edges = edges.unionByName(red)
    # no pre-distinct: connected_components_twostar canonicalizes and
    # dedupes the edge set itself — a distinct here was a third full
    # shuffle of the same edges (r9)
    cc = connected_components_twostar(edges)
    all_entities = anchor.select("entity").distinct()
    return (
        all_entities.join(
            cc.withColumnRenamed("node", "entity"), "entity", "left"
        )
        .select(
            "entity",
            F.coalesce("component", F.col("entity")).alias("canonical"),
        )
    )


def alt_labels(anchor: DataFrame, canon: DataFrame) -> DataFrame:
    """(canonical, surface) distinct alt-label pairs for the triple store."""
    return (
        anchor.join(canon, "entity")
        .select("canonical", "surface")
        .distinct()
    )
