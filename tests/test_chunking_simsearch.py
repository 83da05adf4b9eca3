"""Chunker+suffix-typer semantics and ANN recall."""

from pyspark.sql import functions as F

from thesaurus_based_ner_spark.operators import simsearch
from thesaurus_based_ner_spark.operators.chunking import (
    np_chunks_df,
    type_chunks_suffix,
)
from thesaurus_based_ner_spark.operators.mentions import (
    thesaurus_with_case,
    tokenize_df,
)


def test_rule_chunks(spark):
    snts = tokenize_df(
        spark.createDataFrame(
            [(1, "big table scan in the fast hash join")],
            "doc_id long, text string",
        ),
        "text",
    ).select("doc_id", "tokens")
    chunks = {
        (r.m_start, r.m_end, r.surface)
        for r in np_chunks_df(snts, ["doc_id"]).collect()
    }
    # "in" and "the" are stopwords → two runs
    assert (0, 3, "big table scan") in chunks
    assert (5, 8, "fast hash join") in chunks


def test_chunk_window_split(spark):
    text = " ".join(["tok"] * 14)  # one 14-token run → windows 6+6+2
    snts = tokenize_df(
        spark.createDataFrame([(1, text)], "doc_id long, text string"), "text"
    ).select("doc_id", "tokens")
    spans = sorted(
        (r.m_start, r.m_end) for r in np_chunks_df(snts, ["doc_id"]).collect()
    )
    assert spans == [(0, 6), (6, 12), (12, 14)]


def test_suffix_typer_longest_wins(spark):
    th = thesaurus_with_case(
        spark, {"join": "Op", "hash join": "HashOp", "scan": "Op"}
    )
    chunks = spark.createDataFrame(
        [
            (1, 0, 3, "fast hash join"),
            (1, 4, 5, "scanner"),   # no word-boundary suffix → dropped
            (2, 0, 1, "join"),
        ],
        "doc_id long, m_start long, m_end long, surface string",
    )
    out = {
        (r.doc_id, r.m_start, r.label)
        for r in type_chunks_suffix(chunks, th).collect()
    }
    assert out == {(1, 0, "HashOp"), (2, 0, "Op")}


def test_ann_recall_vs_brute_force(spark, sf_dir):
    e = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    qv = e.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in simsearch.brute_force_topk(e, qv, k=5).collect()
    }
    # n_bits is an explicit knob now (no driver-side count inside the
    # operator): size buckets to ~64 vectors for this corpus.
    n = e.count()
    n_bits = max(2, min(16, (max(n, 1) // 64).bit_length()))
    approx = {
        (r.query_id, r.neighbor_id)
        for r in simsearch.lsh_topk(e, qv, k=5, n_bits=n_bits).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"ANN recall too low: {recall}"
    assert len(approx) == len(exact)


def test_ivf_recall_and_determinism(spark, sf_dir):
    """IVF ANN: recall >= 0.5 vs brute force; two runs identical (the
    md5-sampled coarse quantizer and rounded-cosine argmax are fully
    deterministic, so the operator is oracle-checkable)."""
    e = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    qv = e.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in simsearch.brute_force_topk(e, qv, k=5).collect()
    }
    run1 = sorted(
        tuple(r) for r in simsearch.ivf_topk(e, qv, k=5, n_cells=16, n_probe=4).collect()
    )
    run2 = sorted(
        tuple(r) for r in simsearch.ivf_topk(e, qv, k=5, n_cells=16, n_probe=4).collect()
    )
    assert run1 == run2
    approx = {(q_, n_) for q_, n_, _, _ in run1}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_unrolled_cosine_is_bitwise_the_fold(spark):
    """The fixed-dim cosine (one unrolled `_dot` per sum) equals a plain
    left-to-right fold bit for bit, and a zero vector scores 0, not NaN.
    `embedding_neardup_pairs` takes its norms from a per-row `_dot` and
    must score every candidate exactly as `_cos` does."""
    import math
    import random

    from thesaurus_based_ner_spark.operators import dedup

    rng = random.Random(5)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(40)]
    vecs.append([0.0] * 64)
    rows = [(i, v, vecs[(i + 1) % len(vecs)]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "id int, a array<double>, b array<double>")

    def fold(x, y):
        acc = 0.0
        for u, v in zip(x, y):
            acc += u * v
        return acc

    for r in df.select("id", "a", "b", simsearch._cos("a", "b", 64).alias("c")).collect():
        nn = fold(r.a, r.a) * fold(r.b, r.b)
        want = fold(r.a, r.b) / math.sqrt(nn) if nn > 0 else 0.0
        assert r.c == want, (r.id, r.c, want)

    pairs = dedup.embedding_neardup_pairs(df, "id", "a", threshold=-1.0)
    va = df.select(F.col("id").alias("a_id"), F.col("a").alias("ea"))
    vb = df.select(F.col("id").alias("b_id"), F.col("a").alias("eb"))
    ref = pairs.join(va, "a_id").join(vb, "b_id").select(
        "cos", F.round(simsearch._cos("ea", "eb"), 6).alias("ref")
    )
    got = ref.collect()
    assert got and all(r.cos == r.ref for r in got)


def test_np_chunker_custom_model_factory(spark):
    """The model_factory slot accepts any predict(tokens)->spans model
    (the spaCy hook) — a 1-token-span dummy proves the plumbing."""

    class OneTok:
        def predict(self, toks):
            return [(i, i + 1) for i, t in enumerate(toks) if t == "spark"]

    snts = tokenize_df(
        spark.createDataFrame(
            [("d1", "spark joins spark"), ("d2", "no match here")],
            "doc_id string, text string",
        ),
        "text",
    ).select("doc_id", "tokens")
    got = {
        (r.doc_id, r.m_start, r.m_end, r.surface)
        for r in np_chunks_df(snts, ["doc_id"], model_factory=OneTok).collect()
    }
    assert got == {("d1", 0, 1, "spark"), ("d1", 2, 3, "spark")}
