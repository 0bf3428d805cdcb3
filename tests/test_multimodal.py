"""Multimodal plumbing tests: schemas, Arrow batch shape, fan-out,
error rows, determinism. The codec itself is the documented stub."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators import multimodal as mm


def test_fake_media_roundtrip(spark):
    df = mm.make_fake_media(spark, n=30)
    assert df.count() == 30
    assert dict(df.dtypes)["content"] == "binary"
    decoded = mm.decode_media(df)
    rows = {r.media_id: r for r in decoded.collect()}
    meta = {r.media_id: r for r in df.select("media_id", "kind", "meta").collect()}
    assert len(rows) == 30
    for mid, r in rows.items():
        assert r.decode_error is None
        assert r.kind == meta[mid].kind
        assert r.width == meta[mid].meta.width
        assert r.sample_rate == meta[mid].meta.sample_rate


def test_decode_corrupt_blob_yields_error_row_not_failure(spark):
    good = mm.make_fake_media(spark, n=3)
    bad = spark.createDataFrame(
        [(999, "image", b"JUNKJUNKJUNKJUNKJUNK", (0, 0, 0, 0, "x"))],
        mm.MEDIA_SCHEMA,
    )
    out = mm.decode_media(good.unionByName(bad)).collect()
    errs = [r for r in out if r.decode_error is not None]
    assert len(out) == 4 and len(errs) == 1
    assert errs[0].media_id == 999 and "GRFT" in errs[0].decode_error


def test_media_embeddings_deterministic_and_shaped(spark):
    df = mm.make_fake_media(spark, n=10)
    a = {r.media_id: r.embedding for r in mm.media_embeddings(df).collect()}
    b = {
        r.media_id: r.embedding
        for r in mm.media_embeddings(df.repartition(5)).collect()
    }
    assert a == b  # partitioning-independent
    assert all(len(v) == mm.EMBED_DIM for v in a.values())
    assert all(0.0 <= x < 1.0 for v in a.values() for x in v)


def test_sample_frames_fan_out_only_videos(spark):
    df = mm.make_fake_media(spark, n=30)
    frames = mm.sample_frames(df, every_n=2)
    vids = {
        r.media_id: r.meta.n_frames
        for r in df.filter("kind = 'video'").select("media_id", "meta").collect()
    }
    got = frames.groupBy("media_id").count().collect()
    assert {r.media_id for r in got} == set(vids)
    for r in got:
        expected = (vids[r.media_id] + 1) // 2  # ceil(n/2) sampled
        assert r["count"] == expected
    row = frames.first()
    assert len(bytes(row.frame_bytes)) == 16


def test_resize_rewrites_image_headers_only(spark):
    df = mm.make_fake_media(spark, n=12)
    resized = mm.resize_images(df, 64, 48)
    dec = mm.decode_media(resized).collect()
    for r in dec:
        if r.kind == "image":
            assert (r.width, r.height) == (64, 48)
        else:
            assert (r.width, r.height) != (64, 48)


def test_codec_injection(spark):
    """Bytes the default decoder cannot read (garbage, a truncated PNG, a
    truncated WAV) become error rows, not a stage failure."""
    rows = [
        (0, "image", b"not media at all"),
        (1, "image", b"\x89PNG\r\n\x1a\n\x00\x00"),
        (2, "audio", b"RIFF\x00\x00\x00\x00WAVE"),
    ]
    df = spark.createDataFrame(rows, "media_id BIGINT, kind STRING, content BINARY")
    out = mm.decode_media(df).collect()
    assert len(out) == 3
    assert all(r.decode_error is not None and r.kind is None for r in out)
