"""Streaming foreachBatch path, multimodal plumbing, ANN recall."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

from lacspark.spark.multimodal import (decode_image, extract_media_features,
                                       synth_media)
from lacspark.spark.similarity import cosine_topk, lsh_bucketed_topk
from lacspark.spark.streaming import start_tagging_stream

SF = "/root/testdata/sf0.001"


def test_multimodal_feature_plumbing(spark):
    media = synth_media(spark, n=60).repartition(5)
    feats = extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 60
    for r in rows:
        assert r.n_bytes > 0
        assert len(r.payload_sha) == 64
        assert 16 <= r.width < 80 and 16 <= r.height < 80
        assert len(r.features) == 8
    # deterministic under different partitioning
    again = {r.media_id: r.payload_sha
             for r in extract_media_features(media.repartition(13)).collect()}
    assert all(again[r.media_id] == r.payload_sha for r in rows)


def test_decode_raises_only_for_codec_needing_formats():
    # JPEG now decodes via the in-repo baseline codec (a truncated
    # stream is a ValueError, not a missing-codec raise); formats the
    # repo has no codec for still refuse honestly
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff" + b"\x00" * 16)
    with pytest.raises(NotImplementedError):
        decode_image(b"II*\x00" + b"\x00" * 16)  # TIFF


def test_decode_ignores_installed_pillow(monkeypatch):
    """An importable Pillow must not change the decode path: with a
    ``PIL.Image`` whose ``open`` raises, PNG still round-trips."""
    import types

    import numpy as np

    from lacspark.spark.multimodal import encode_png

    def refuse(*_a, **_k):
        raise AssertionError("PIL.Image.open called")

    image = types.ModuleType("PIL.Image")
    image.open = refuse
    pil = types.ModuleType("PIL")
    pil.Image = image
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", image)
    img = np.random.default_rng(3).integers(0, 256, size=(9, 6, 3),
                                            dtype=np.uint8)
    assert (decode_image(encode_png(img)) == img).all()


def test_stdlib_codecs_roundtrip():
    import numpy as np

    from lacspark.spark.multimodal import (decode_bmp, decode_frames,
                                           decode_png, decode_wav,
                                           encode_bmp, encode_frames,
                                           encode_png, encode_wav,
                                           resize_nearest)
    rng = np.random.default_rng(11)
    for shape in [(20, 31, 3), (7, 5, 4), (13, 9)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        out = decode_png(encode_png(img))
        assert out.shape == img.shape and (out == img).all()
    img = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)
    assert (decode_bmp(encode_bmp(img)) == img).all()
    assert decode_image(encode_bmp(img)).shape == (11, 7, 3)
    samples = (1000 * np.sin(np.arange(500) / 7.0)).astype(np.int16)
    s2, rate = decode_wav(encode_wav(samples, 8000))
    assert rate == 8000 and (s2[:, 0] == samples).all()
    frames = [rng.integers(0, 256, size=(6, 6, 3), dtype=np.uint8)
              for _ in range(5)]
    dec = decode_frames(encode_frames(frames), every=2)
    assert len(dec) == 3
    assert all((a == b).all() for a, b in zip(dec, frames[::2]))
    rz = resize_nearest(img, 4, 3)
    assert rz.shape == (3, 4, 3)


def test_real_media_pipeline_decode_resize(spark):
    """synth → REAL decode/feature-extract → resize → re-decode: the
    resized payloads decode to the target shape; non-images pass
    through with an explicit skip status."""
    from lacspark.spark.multimodal import (decode_image,
                                           extract_real_features,
                                           resize_images,
                                           synth_real_media)
    media = synth_real_media(spark, n=24).repartition(5)
    feats = extract_real_features(media).collect()
    assert len(feats) == 24
    by_kind = {r.kind for r in feats}
    assert by_kind == {"image", "audio", "video"}
    for r in feats:
        if r.kind == "image":
            assert r.width >= 16 and r.height >= 16
        if r.kind == "audio":
            assert r.f0 == 8000.0        # sample rate
    resized = resize_images(media, 8, 8).collect()
    for r in resized:
        if r.kind == "image":
            assert r.resize_status == "resized"
            assert decode_image(bytes(r.payload)).shape == (8, 8, 3)
        else:
            assert r.resize_status == "skipped:not-image"


def test_ann_exact_topk_sane(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    q = e.filter(F.col("vec_id") < 20)
    exact = cosine_topk(q, e, "vec_id", "embedding", k=5)
    rows = exact.collect()
    assert len(rows) == 20 * 5
    for r in rows:
        assert r.neighbor_id != r.query_id
        assert -1.0 <= r.cosine <= 1.0


def test_ann_lsh_finds_planted_near_duplicates(spark):
    """On data with true near-neighbors (vector + small perturbation)
    the bucketed path must recover the twin as top-1: sign bits are
    stable under small noise, so twins share the bucket."""
    import numpy as np
    rng = np.random.default_rng(21)
    base = rng.normal(0, 1, (40, 16)).astype("float32")
    # keep leading dims away from 0 so signs survive the perturbation
    base[:, :8] += np.sign(base[:, :8]) * 0.5
    twin = base + rng.normal(0, 0.01, base.shape).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)] + \
           [(100 + i, [float(x) for x in twin[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 40)
    approx = lsh_bucketed_topk(q, df, "vec_id", "embedding", k=1, nbits=8)
    top1 = {r.query_id: r.neighbor_id for r in approx.collect()}
    hits = sum(1 for i in range(40) if top1.get(i) == 100 + i)
    assert hits >= 36, hits  # ≥90% recall on planted twins


def test_watermarked_window_counts(spark, tmp_path):
    """Watermarked tumbling-window mention counts over a stream —
    the stateful windowed-agg shape with late-data semantics owned by
    Spark's state store."""
    import datetime as dt

    from lacspark.spark.streaming import windowed_mention_counts

    src = str(tmp_path / "wsrc")
    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [(base + dt.timedelta(seconds=30 * i), "the fast key table scan")
            for i in range(8)]
    spark.createDataFrame(rows, "ts timestamp, text string") \
        .write.parquet(src)
    stream = (spark.readStream.schema("ts timestamp, text string")
              .parquet(src))
    agg = windowed_mention_counts(stream, "text", "ts",
                                  window="1 minute", watermark="2 minutes")
    q = (agg.writeStream.format("memory").queryName("winmc")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("select * from winmc").collect()
    # 8 events over 4 distinct minutes; append mode emits windows
    # closed by the watermark (all but the last)
    assert len(out) >= 1
    for r in out:
        assert r.n_mentions > 0 and r.tag


def test_streaming_foreachbatch_tagging(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    docs.write.parquet(src)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    q = start_tagging_stream(stream, out, ckpt)
    q.awaitTermination(120)
    mentions = spark.read.parquet(out)
    assert mentions.count() > 0
    assert "batch_id" in mentions.columns
    # exactly-once per doc: re-running with the same checkpoint adds
    # nothing (no new files)
    n1 = mentions.count()
    q2 = start_tagging_stream(
        (spark.readStream.schema(docs.schema)
         .option("maxFilesPerTrigger", 2).parquet(src)), out, ckpt)
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == n1


def test_streaming_curation_equals_batch_filters(spark):
    """The streaming curation counts must equal running the same
    stateless gates (repetition fold + quality + hash sample) in
    plain batch over the same parquet."""
    from pyspark.sql import functions as F

    from lacspark.queries import SPARK_QUERIES, load
    from lacspark.spark.dedup import MD5INT
    from lacspark.spark.quality import with_repetition_keep

    sf = "/root/testdata/sf0.001"
    got = {r.lang: r.n_pass for r in
           SPARK_QUERIES["streaming_curation_counts"](spark, sf)
           .collect()}
    d = with_repetition_keep(load(spark, sf, "documents"))
    punct = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
    punct_pct = F.floor(punct * 100
                        / F.greatest(F.length("text"), F.lit(1)))
    smp = F.expr(MD5INT.format(
        x="concat('cur:', cast(doc_id as string))")) % 100
    want = {r.lang: r.n for r in
            d.filter(F.col("rep_keep")
                     & F.length("text").between(50, 5000)
                     & (punct_pct < 10) & (smp < 50))
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
            .collect()}
    assert got == want and sum(got.values()) > 0
