"""Structured Streaming operators + multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from thesaurus_based_ner_spark.operators.multimodal import (
    decode_and_featurize,
    synth_media,
)


def test_multimodal_plumbing_fake_decoder(spark):
    media = synth_media(spark, 48)
    feats = decode_and_featurize(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 48
    r0 = next(r for r in rows if r.media_id == 0)
    assert r0.n_bytes > 0 and len(r0.sha256) == 64 and len(r0.feature) == 8
    # determinism across partitionings
    def key(r):
        return (r.media_id, r.kind, r.n_bytes, r.sha256, r.width, r.height,
                r.n_frames, tuple(r.feature))

    again = decode_and_featurize(media.repartition(7), fake=True).collect()
    assert {key(r) for r in rows} == {key(r) for r in again}


def test_multimodal_real_decoder_is_stubbed(spark):
    media = synth_media(spark, 4)
    with pytest.raises(Exception) as exc_info:
        decode_and_featurize(media, fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_resize_plan_and_frame_sampling(spark):
    """resize_plan preserves aspect (integer div, bounded by targets);
    sample_frames yields distinct evenly-spaced indices < n_frames."""
    from thesaurus_based_ner_spark.operators.multimodal import (
        decode_and_featurize,
        resize_plan,
        sample_frames,
        synth_media,
    )

    feats = decode_and_featurize(synth_media(spark, 48), fake=True)
    sized = resize_plan(feats, 32, 24)
    for r in sized.collect():
        assert r["new_w"] <= 32 and r["new_h"] <= 24
        assert r["new_w"] == 32 or r["new_h"] == 24  # one side hits target
    frames = sample_frames(sized, 4).collect()
    assert frames, "no video rows sampled"
    by_media = {}
    for r in frames:
        assert r["kind"] == "video"
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    nf = {r["media_id"]: r["n_frames"] for r in sized.collect()}
    for mid, idxs in by_media.items():
        assert len(idxs) == len(set(idxs))
        assert all(0 <= i < nf[mid] for i in idxs)
        assert len(idxs) == min(4, nf[mid])


def test_streaming_dedup_first_seen_across_batches(spark, tmp_path):
    """Stateful cross-batch dedup: a text seen in batch 1 is suppressed in
    batch 2 (state persisted in the checkpoint); within-batch duplicates
    collapse to the min doc_id."""
    from pyspark.sql import types as T

    from thesaurus_based_ner_spark.streaming.ingest import (
        streaming_dedup_first_seen,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), False),
        ]
    )
    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "deduped")
    ckpt = str(tmp_path / "ckpt_dedup")
    b1 = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "alpha")], schema
    )
    b1.write.mode("append").parquet(docs_dir)
    streaming_dedup_first_seen(spark, docs_dir, out_dir, ckpt, schema)
    r1 = {(r["__h"], r["doc_id"]) for r in spark.read.parquet(out_dir).collect()}
    assert len(r1) == 2  # alpha (doc 0), beta (doc 1)
    assert {d for _, d in r1} == {0, 1}

    b2 = spark.createDataFrame(
        [(3, "alpha"), (4, "gamma"), (5, "beta")], schema
    )
    b2.write.mode("append").parquet(docs_dir)
    streaming_dedup_first_seen(spark, docs_dir, out_dir, ckpt, schema)
    r2 = {(r["__h"], r["doc_id"]) for r in spark.read.parquet(out_dir).collect()}
    # only gamma is new; alpha/beta suppressed by state
    assert {d for _, d in r2} == {0, 1, 4}


def test_stream_stream_join_matches_batch_twin(spark, sf_dir, tmp_path):
    from thesaurus_based_ner_spark.plans.queries import (
        click_purchase_attribution,
    )
    from thesaurus_based_ner_spark.streaming.ingest import (
        click_purchase_join_stream,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev_dir = str(tmp_path / "events")
    events.write.parquet(ev_dir)  # file stream sources need a directory
    joined = click_purchase_join_stream(spark, ev_dir, events.schema)
    q = (
        joined.writeStream.format("memory")
        .queryName("cp_join")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("SELECT * FROM cp_join").collect()}
    want = {tuple(r) for r in click_purchase_attribution(spark, sf_dir).collect()}
    assert len(want) > 0
    assert got == want


def test_session_window_stream_matches_batch_twin(spark, sf_dir, tmp_path):
    from thesaurus_based_ner_spark.streaming.ingest import (
        session_window_counts_stream,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev_dir = str(tmp_path / "events")
    events.write.parquet(ev_dir)
    stream = session_window_counts_stream(spark, ev_dir, events.schema)
    q = (
        stream.writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("SELECT * FROM sess").collect()}
    want = {
        tuple(r)
        for r in (
            events.withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count("*").alias("n"))
            .select(
                "user_id",
                F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss")
                .alias("session_start"),
                F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss")
                .alias("session_end"),
                "n",
            )
            .collect()
        )
    }
    assert len(want) > 0
    assert got == want
