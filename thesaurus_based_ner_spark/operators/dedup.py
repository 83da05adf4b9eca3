"""Deduplication operators for large-scale training-data pipelines.

All operators take a DataFrame with (id_col, text_col) and return either a
pair table (a_id, b_id, score) or a keep/drop verdict table. Designed for
100 TB: candidate generation always goes through a key-equality shuffle
(hashable buckets), never an all-pairs cross join; exact verification only
touches candidate pairs.

- exact_duplicates:      hash-groupBy on md5(text) — one shuffle.
- ngram_jaccard_pairs:   exact token-shingle Jaccard via shared-shingle
                         equi-join + per-pair counting (no cross join).
- minhash_lsh_pairs:     MinHash signatures (vectorized, F.hash-based) →
                         LSH band buckets → bucket equi-join candidates →
                         exact Jaccard verification. Same output contract
                         as ngram_jaccard_pairs (verified pairs), so the
                         exact query is its oracle.
- simhash_pairs:         16-bit SimHash from md5 hex nibbles (portable to
                         ANSI SQL for oracle checks) + hamming ≤ k.
- embedding_neardup_pairs: cosine ≥ threshold over an embedding column via
                         coarse LSH bucketing (random hyperplanes) + exact
                         verify.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F

from thesaurus_based_ner_spark.functions.text import TOKEN_RE
from thesaurus_based_ner_spark.operators.checkpoint import checkpoint


def _tokens(text_col: str):
    return F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical texts: (text_md5, n_docs, min_id keeper)."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("id").alias("keep_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, threshold: float = 0.6
) -> DataFrame:
    """Exact shingle-set Jaccard ≥ threshold via shared-shingle join.

    |A∩B| from the equi-join on shingle; |A|,|B| from per-doc counts;
    J = inter / (|A| + |B| - inter). Shuffles on shingle then on the pair —
    both key-partitioned; hot shingles are bounded by doc length so AQE
    skew-split handles the tail.
    """
    # r9 rewrite, measured at sf1.0 (50k docs, 27.8k distinct shingles →
    # 127M join rows, 114M DISTINCT pairs): 33.2s → see below. Three
    # changes, all value-identical:
    #
    # 1. Per-doc shingle counts are attached AT BIRTH (n = size of the
    #    distinct shingle array, computed in the same projection that
    #    explodes it) instead of a separate groupBy + TWO post-aggregation
    #    joins of the 114M-row pair table against the sizes dim — na/nb
    #    ride the pair rows as extra GROUPING keys (functionally dependent
    #    on the pair, so the groups are unchanged).
    # 2. Size-ratio prune inside the join (exact, no recall loss):
    #    J ≤ J_max = m/(na+nb-m) with m = min(na,nb), so a pair can only
    #    reach J ≥ t when J_max ≥ t; ~20% of join rows die before the
    #    aggregation (86M/114M distinct pairs survive at t=0.5). J_max is
    #    computed with the SAME double division as the final filter, so
    #    a pair whose intersection is m passes the prune exactly when it
    #    passes the filter (no J == t pair is lost to rounding), and a
    #    smaller intersection gives a J no larger than J_max.
    # 3. The pair count's map-side partial aggregation is USELESS here
    #    (127M rows → 114M groups, reduction 1.1×) but builds multi-
    #    million-entry hash tables per task; an explicit repartition on
    #    the pair keys BELOW the groupBy moves the exchange under both
    #    aggregate passes (raw 16-byte rows), so the tables shrink to
    #    per-reduce-partition size — the "skip partial aggregation" shape
    #    (guide §2.3: aggregate before shuffle only when it reduces).
    #    The repartition names keys only (REPARTITION_BY_COL), so AQE
    #    sizes it: at real scale it keeps the shuffle-partition count, on
    #    small inputs it coalesces (a fixed count, REPARTITION_BY_NUM, is
    #    never coalesced and ran 64 near-empty tasks per stage).
    toks = df.select(F.col(id_col).alias("id"), _tokens(text_col).alias("__toks"))
    # checkpoint the PER-DOC shingle arrays, not the exploded rows: a
    # combined select(size(set), explode(set)) lets CollapseProject inline
    # the interpreted shingle transform (and the tokenizer regexp) into
    # BOTH references — measured 57s vs 3s for the single-reference form
    # at sf1.0. From the stored arrays, each join side re-derives
    # size+explode in cheap codegen (no regexp, no HOF).
    pre = toks.select("id", _shingle_col(k).alias("__shset"))
    pre = checkpoint(pre)
    sh = pre.select(
        "id",
        F.size("__shset").alias("n"),
        F.explode("__shset").alias("shingle"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    m = F.least(F.col("a.n"), F.col("b.n"))
    prune = m / (F.col("a.n") + F.col("b.n") - m) >= threshold
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & prune,
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
    )
    inter = (
        pairs.repartition("a_id", "b_id")
        .groupBy("a_id", "b_id", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    )


_MERSENNE31 = (1 << 31) - 1


def _minhash_coeffs(n_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a_i, b_i), a_i ≠ 0."""
    out = []
    for i in range(n_hashes):
        d = hashlib.md5(f"mh:{seed}:{i}".encode()).digest()
        a = 1 + int.from_bytes(d[:4], "big") % (_MERSENNE31 - 1)
        b = int.from_bytes(d[4:8], "big") % _MERSENNE31
        out.append((a, b))
    return out


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.6,
) -> DataFrame:
    """MinHash → LSH band buckets → candidates → exact-Jaccard verify.

    Output = exactly the pairs ngram_jaccard_pairs finds, provided the band
    recall at `threshold` is high enough (bands/rows tuned for it); the
    exact query is the oracle, and the verification filter guarantees no
    false positives — only (statistically unlikely) false negatives.
    bands=16 × rows=2 keeps buckets selective (pairs must agree on TWO
    minhashes) while P(miss) ≤ (1-J²)^16 ≈ 8e-8 at J=0.8 — and the whole
    stack is deterministic, so a recall verified at a given dataset holds
    forever on that dataset.
    """
    if bands > n_hashes or n_hashes % bands != 0:
        # rows == 0 would hash an EMPTY slice per band — every doc lands
        # in one bucket and the candidate join degenerates to all-pairs
        raise ValueError(
            f"bands ({bands}) must divide n_hashes ({n_hashes})"
        )
    rows = n_hashes // bands
    # ONE corpus pass: the per-doc distinct shingle ARRAYS feed both the
    # minhash signatures (exploded below) and the exact-Jaccard
    # verification sets, so the corpus is tokenized + shingled once.
    pre = df.select(
        F.col(id_col).alias("id"), _tokens(text_col).alias("__toks")
    ).select("id", _shingle_col(k).alias("shset"))
    pre = checkpoint(pre)
    sh = pre.select("id", F.explode("shset").alias("shingle")).withColumn(
        "__h", F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE31))
    )
    # ONE xxhash64 per shingle, then n_hashes universal-hash derivations
    # h_i(x) = (a_i·h + b_i) mod 2^31-1 — multiply-adds inside whole-stage
    # codegen, min per doc per i as aggregate expressions (one shuffle,
    # no Python). Values stay < 2^62 so ANSI overflow never trips.
    coeffs = _minhash_coeffs(n_hashes)
    aggs = [
        F.min(
            F.pmod(F.col("__h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE31))
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = (
        sh.groupBy("id")
        .agg(*aggs)
        .select(
            "id",
            F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("sig"),
        )
    )
    # signatures are docs × n_hashes ints — materialize once; the bucket
    # frame below is SELF-joined, so without this the whole shingle +
    # minhash subtree (the expensive corpus pass) executes twice (same
    # pattern as simhash_pairs' checkpoint of h)
    sig = checkpoint(sig)
    band_cols = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",", *[F.col("sig")[b * rows + r] for r in range(rows)]
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
    )
    buckets = sig.select("id", band_cols.alias("bb")).select(
        "id", "bb.band", "bb.bucket"
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )
    # exact verification on CANDIDATE PAIRS ONLY: join each side's distinct
    # shingle array (≤ doc length) and intersect — O(|cands|·len), no
    # all-pairs shingle equi-join. Jaccard formula identical to
    # ngram_jaccard_pairs so the exact query remains the oracle. The
    # arrays come from the SAME checkpointed frame the signatures were
    # derived from — zero additional corpus passes (r9).
    sa = pre.select(F.col("id").alias("a_id"), F.col("shset").alias("sa"))
    sb = pre.select(F.col("id").alias("b_id"), F.col("shset").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    return (
        cands.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def _shingle_col(k: int) -> F.Column:
    """k-token shingle array from a __toks array column (non-distinct)."""
    return F.expr(
        f"""
        array_distinct(
          IF(size(__toks) < {k}, array(concat_ws(' ', __toks)),
             transform(sequence(1, size(__toks) - {k} + 1), i ->
               concat_ws(' ', slice(__toks, i, {k})))))
        """
    )


def simhash_table(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """32-bit shingle-SimHash signature per doc, single codegen pass.

    Bit j (0..31) of a shingle's hash = high bit of hex nibble j of
    md5(shingle); the doc's bit j is 1 iff ≥ half its distinct shingles set
    it. Expressed identically in ANSI SQL (substr(md5(s), j+1, 1) IN
    ('8'..'f')) so the DuckDB oracle mirrors it bit-exactly.

    Physical shape (scale path): explode distinct shingles → one hash
    aggregate with 32 bit-plane SUMs + a COUNT (all whole-stage codegen,
    partial aggregation map-side, md5 evaluated once per shingle via
    subexpression elimination) → final select folds the 32 majority votes
    into the signature. Replaces the earlier 32 interpreted higher-order
    ``F.filter`` passes per row, which dominated the bench (~70s → ~8s at
    sf0.1). One shuffle keyed on doc id, sized by the doc count only.
    """
    high = list("89abcdef")
    shingles = (
        df.select(F.col(id_col).alias("id"), _tokens(text_col).alias("__toks"))
        .select("id", F.explode(_shingle_col(k)).alias("__s"))
        .withColumn("__h", F.md5("__s"))
    )
    votes = shingles.groupBy("id").agg(
        F.count("*").alias("__n"),
        *[
            F.sum(
                F.when(F.substring("__h", j + 1, 1).isin(*high), 1).otherwise(0)
            ).alias(f"__c{j}")
            for j in range(32)
        ],
    )
    sig = None
    for j in range(32):
        term = F.when(
            F.lit(2) * F.col(f"__c{j}") >= F.col("__n"), F.lit(1 << j)
        ).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("id", sig.cast("bigint").alias("sh"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, k: int = 3
) -> DataFrame:
    """Near-dup pairs by 32-bit shingle-SimHash hamming distance ≤ 3.

    Candidate generation blocks on the four 8-bit bytes of the signature:
    any pair within hamming ≤ 3 has ≤ 3 differing bits spread over 4
    blocks, so at least one block matches exactly (pigeonhole) —
    candidates are provably a superset; exact hamming verification then
    makes the result identical to the brute-force oracle.
    """
    # localCheckpoint, not cache(): the returned frame is lazy, so the
    # caller can never unpersist at the right moment — checkpoint RDDs
    # are GC-reclaimed with the frame, cached plans pin executor storage
    # for the session
    h = simhash_table(df, id_col, text_col, k)
    h = checkpoint(h)
    blocks = None
    for j in range(4):
        blk = h.select(
            "id",
            "sh",
            F.lit(j).alias("side"),
            F.shiftright("sh", 8 * j).bitwiseAND(F.lit(255)).alias("blk"),
        )
        blocks = blk if blocks is None else blocks.unionByName(blk)
    a = blocks.alias("a")
    b = blocks.alias("b")
    # Verify-then-distinct (r9, same rule as embedding_neardup_pairs):
    # hamming is a pure function of (sha, shb), so filtering before the
    # distinct is value-identical and shrinks the distinct's shuffle from
    # the full candidate multiset (every block collision, ≤4 occurrences
    # per pair) to the verified near-dup pairs only. The popcount runs in
    # the same codegen stage as the join — a ≤4x-redundant bit_count per
    # duplicate occurrence replaces a multi-GB exchange.
    cands = a.join(
        b,
        (F.col("a.side") == F.col("b.side"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("a_id"),
        F.col("b.id").alias("b_id"),
        F.col("a.sh").alias("sha"),
        F.col("b.sh").alias("shb"),
    )
    hamming = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return (
        cands.withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
        .distinct()
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_bits: int = 6,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 2,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Scale path: random-hyperplane LSH buckets (deterministic md5-derived
    planes, shared with operators/simsearch) generate candidate pairs via a
    bucket equi-join — one shuffle keyed on (table, bucket), never an
    all-pairs cross join; exact cosine verification touches candidates
    only. Candidate recall is probabilistic in general (raise n_tables /
    lower n_bits to push it up); because the buckets are deterministic the
    whole operator is value-checkable by a SQL oracle replicating the same
    plane literals (plans/queries.dedup_embedding).
    """
    from thesaurus_based_ner_spark.operators.simsearch import (
        _dot,
        _hyperplane_weights,
        bucket_col,
    )

    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("e")
    )
    # squared norm once per vector, not once per candidate pair: the
    # verify stage then folds only the 64-term dot, which keeps its
    # generated method under the JVM's 64 KB limit (three unrolled folds
    # overflowed it and whole-stage codegen fell back). Same left-
    # associated fold as simsearch._cos, so the score is bit-identical.
    base = base.withColumn("sq", _dot("e", "e", dim))
    buckets = None
    for t in range(n_tables):
        planes = _hyperplane_weights(dim, n_bits, seed + 1000 * t)
        b = base.select(
            "id",
            "e",
            "sq",
            F.lit(t).alias("table"),
            bucket_col("e", planes).alias("bucket"),
        )
        buckets = b if buckets is None else buckets.unionByName(b)
    # self-joined below: materialize so the hyperplane projections (384
    # multiply-adds per row per table) run once, not once per side
    buckets = checkpoint(buckets)
    a = buckets.alias("a")
    b = buckets.alias("b")

    # Score-then-distinct (r9, guide §2.3/§2.4): cos is a pure function of
    # the pair, so filtering BEFORE the distinct is value-identical — and it
    # moves the dedup from the full candidate multiset (N²/2^n_bits rows,
    # each carrying TWO dim-double arrays through a SortAggregate exchange;
    # measured 151.9s at sf1.0) to the tiny verified-pair set. The candidate
    # join output flows straight into codegen cos + filter with no exchange;
    # a pair found by both tables costs one redundant cos, not a wide
    # shuffle. Distinct keys include cos (functionally dependent on the
    # pair) so the dedup is a scalar-key HashAggregate, not first()-on-array
    # SortAggregate.
    cands = a.join(
        b,
        (F.col("a.table") == F.col("b.table"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("a_id"),
        F.col("b.id").alias("b_id"),
        F.col("a.e").alias("ea"),
        F.col("b.e").alias("eb"),
        (F.col("a.sq") * F.col("b.sq")).alias("nn"),
    )
    # simsearch._cos's zero-norm guard, with the norms precomputed
    cos = F.when(
        F.col("nn") > 0, _dot("ea", "eb", dim) / F.sqrt("nn")
    ).otherwise(F.lit(0.0))
    return (
        cands.withColumn("cos", F.round(cos, 6))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
        .dropDuplicates(["a_id", "b_id", "cos"])
    )
