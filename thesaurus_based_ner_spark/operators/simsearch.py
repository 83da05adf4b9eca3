"""Similarity search over embedding columns (driver mandate).

- brute_force_topk: exact cosine top-k (the baseline; oracle-checked in
  plans/queries.cosine_topk).
- lsh_topk: the scale path — random-hyperplane LSH buckets (deterministic,
  seed-derived hyperplanes via per-dimension hash weights), candidates from
  multi-probe (own bucket + 1-bit flips), exact re-rank. Approximate:
  recall is asserted ≥ threshold in tests, not exactness.

At 100 TB, brute force is O(Q·N); the LSH path shuffles once on bucket id
and touches only candidate buckets per query — the standard IVF-ish shape.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window, functions as F


def _dot(a: str, b: str, dim: int):
    """Dot product of two array<double> columns, UNROLLED to `dim` terms.

    Higher-order-function lambdas run interpreted (SCALE.md); the unrolled
    chain is plain codegen arithmetic, left-associated exactly like the
    fold, so the IEEE-754 result is bit-identical to the HOF form and to
    DuckDB's sequential list ops. `_dot(a, a, dim)` is the squared norm.

    The chain is written as one SQL expression string: the JVM parses it in
    a single call into the same expression tree a term-by-term Column
    build gives (`0.0D` is the double literal `F.lit(0.0)`), while that
    build costs one py4j round trip per operator — about 2 s of driver
    time per 64-dim cosine on a 4-core host.
    """
    terms = [f"`{a}`[{i}] * `{b}`[{i}]" for i in range(dim)]
    return F.expr(" + ".join(["0.0D"] + terms))


def _cos(a: str, b: str, dim: int | None = None):
    """Cosine similarity between two array<double> columns.

    With `dim` given, the dot and both norms are the one unrolled `_dot`
    fold — bit-identical to the HOF form, so oracle parity is preserved.
    Falls back to the HOF form for unknown dims. Each unrolled term adds
    bytecode to the consuming stage's generated method: three folds at
    dim 64 already push a join's consume method past the JVM's 64 KB
    method limit (whole-stage codegen then falls back to the slower
    per-operator path). Where one side is reused across many pairs,
    compute its squared norm once per row with `_dot` and fold only the
    per-pair dot, as `dedup.embedding_neardup_pairs` does.
    """
    if dim is not None:
        dot, na, nb = _dot(a, b, dim), _dot(a, a, dim), _dot(b, b, dim)
    else:
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        na = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
        nb = F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x)
    # zero-norm guard: NaN outranks every real score under Spark's
    # NaN-greatest ordering AND passes >= threshold filters — a
    # zero embedding must score 0, not win top-k
    return F.when(na * nb > 0, dot / F.sqrt(na * nb)).otherwise(F.lit(0.0))


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, dim: int | None = 64
) -> DataFrame:
    """queries (query_id, qe) × embeddings (vec_id, e) → top-k by cosine."""
    sims = F.broadcast(queries).join(
        embeddings, queries["query_id"] != embeddings["vec_id"]
    )
    scored = sims.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_cos("qe", "e", dim), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def _hyperplane_weights(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 (no RNG state)."""
    planes = []
    for b in range(n_bits):
        w = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{b}:{d}".encode()).digest()
            w.append(int.from_bytes(h[:4], "big") / 2**31 - 1.0)
        planes.append(w)
    return planes


def _planes_lit(planes: list[list[float]]):
    """Hyperplanes as ONE foldable array<array<double>> literal column —
    constant-folded by Catalyst into a single Literal, instead of
    dim × n_bits scalar expression nodes inlined into the plan (which blew
    codegen past the method-size limit and dominated planning time)."""
    return F.array(*[F.array(*[F.lit(float(w)) for w in p]) for p in planes])


def bucket_col(vec_col: str, planes: list[list[float]]):
    """LSH bucket id: sign bits of plane·vec, folded MSB-first to an int.

    One pass over a 2-D array literal (transform + zip_with aggregate);
    mirrored exactly by the DuckDB oracle via list_dot_product +
    list_reduce so `ann_lsh_topk` is value-checkable end to end.
    """
    bits = F.transform(
        _planes_lit(planes),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(p, F.col(vec_col), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda acc, x: acc * 2 + x).cast("int")


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 2,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane buckets + 1-bit
    multi-probe + exact re-rank of candidates.

    n_bits is an explicit parameter (size it to ~log2(N/target_bucket));
    no driver-side count. Multiple independent tables union their
    candidates (standard LSH recall amplification). Fully deterministic —
    hyperplanes derive from md5(seed:bit:dim) — so the whole operator is
    value-checkable against a SQL oracle replicating the same buckets.
    """
    emb_b = None
    q_b = None
    for t in range(n_tables):
        planes = _hyperplane_weights(dim, n_bits, seed + 1000 * t)
        eb = embeddings.withColumn("bucket", bucket_col("e", planes)).withColumn(
            "table", F.lit(t)
        )
        qb = queries.withColumn("bucket", bucket_col("qe", planes)).withColumn(
            "table", F.lit(t)
        )
        emb_b = eb if emb_b is None else emb_b.unionByName(eb)
        q_b = qb if q_b is None else q_b.unionByName(qb)
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j)).cast("int")
                for j in range(n_bits)
            ],
        )
        q_b = q_b.withColumn("bucket", F.explode(probes))
    cands = F.broadcast(q_b).join(
        emb_b,
        (q_b["bucket"] == emb_b["bucket"])
        & (q_b["table"] == emb_b["table"])
        & (q_b["query_id"] != emb_b["vec_id"]),
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_cos("qe", "e", dim), 6).alias("cos"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int | None = 64,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize vectors into
    cells, probe only the closest cells per query, exact re-rank inside.

    Deterministic coarse quantizer (no k-means iterations, no RNG): the
    centroids are the n_cells vectors with the smallest md5(vec_id) — a
    content-independent uniform sample reproducible in any engine, so the
    WHOLE operator is value-checkable by a SQL oracle. Assignment and
    probing round cosine to 6 dp with id tie-breaks, making the argmax
    decisions engine-portable.

    Scale shape (SCALE.md): centroid pick is a TakeOrderedAndProject
    (per-partition top-C, no full sort); assignment is a broadcast
    nested-loop over C centroids with a map-side-combinable max(struct)
    agg — one shuffle of N pre-aggregated rows; the probe join shuffles
    candidates only (N·n_probe/n_cells per query on average). Size
    n_cells ≈ sqrt(N) and n_probe for the recall target.
    """
    cent = (
        embeddings.withColumn("__h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__h")
        .limit(n_cells)
        .select(F.col("vec_id").alias("cent_id"), F.col("e").alias("ce"))
    )
    cos_c = F.round(_cos("e", "ce", dim), 6)
    assigned = (
        embeddings.join(F.broadcast(cent))
        .groupBy("vec_id")
        .agg(
            F.max(F.struct(cos_c.alias("c"), F.col("cent_id"))).alias("__best"),
            F.first("e").alias("e"),
        )
        .select("vec_id", "e", F.col("__best.cent_id").alias("cell"))
    )
    qcos = F.round(_cos("qe", "ce", dim), 6)
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__qc").desc(), F.col("cent_id").desc()
    )
    probes = (
        queries.join(F.broadcast(cent))
        .select("query_id", "qe", F.col("cent_id"), qcos.alias("__qc"))
        .withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "qe", F.col("cent_id").alias("cell"))
    )
    cands = F.broadcast(probes).join(
        assigned,
        (probes["cell"] == assigned["cell"])
        & (probes["query_id"] != assigned["vec_id"]),
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_cos("qe", "e", dim), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )
