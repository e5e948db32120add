"""Multimodal binary-column operators: schemas, batch shapes, flatMap
frame sampling, failure accounting, deterministic stub codecs."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.operators import multimodal as mm
from pdf_parser_spark.sources.synth_media import fake_image, fake_video, media_rows


@pytest.fixture(scope="module")
def media(spark):
    rows = media_rows(60, seed=42)
    df = spark.createDataFrame(
        [(r["url"], r["kind"], r["media"], r["mime"]) for r in rows], schema=mm.MEDIA_SCHEMA
    )
    return df.cache()


def test_metadata_decodes_and_accounts_failures(media):
    meta = mm.media_metadata(media).cache()
    assert meta.count() == 60
    by_status = {r["status"]: r["n"] for r in meta.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert by_status.get("ok", 0) >= 50
    # corrupt rows surfaced as status rows (codec rejects the magic), not thrown
    n_bad = sum(v for k, v in by_status.items() if k != "ok")
    assert n_bad >= 1
    imgs = meta.where("kind = 'image' and status = 'ok'")
    assert imgs.where("width is null or height is null").count() == 0
    auds = meta.where("kind = 'audio' and status = 'ok'")
    assert auds.where("sample_rate is null or n_samples is null").count() == 0


def test_resize_roundtrip_schema_and_dims(spark):
    df = spark.createDataFrame(
        [("u1", "image", fake_image(64, 48, seed=1), "image/fake")], schema=mm.MEDIA_SCHEMA
    )
    out = mm.resize_images(df, 16, 12)
    assert out.schema == mm.MEDIA_SCHEMA
    meta = mm.media_metadata(out).collect()[0]
    assert (meta["width"], meta["height"]) == (16, 12)
    # deterministic: same input → same resized bytes
    b1 = out.collect()[0]["media"]
    b2 = mm.resize_images(df, 16, 12).collect()[0]["media"]
    assert b1 == b2


def test_frame_sampling_flatmap(spark):
    vid = fake_video(32, 24, n_frames=10, seed=3)
    df = spark.createDataFrame(
        [("v1", "video", vid, "video/fake"), ("t1", "image", fake_image(8, 8), "image/fake")],
        schema=mm.MEDIA_SCHEMA,
    )
    frames = mm.sample_frames(df, every_n=4).collect()
    assert [f["frame_no"] for f in frames] == [0, 4, 8]  # every 4th, video rows only
    assert all(len(f["frame"]) == 32 * 24 for f in frames)


def test_media_embeddings_deterministic(media):
    emb = mm.media_embeddings(media)
    rows = emb.where("status = 'ok'").collect()
    assert rows and all(len(r["embedding"]) == mm.EMBED_DIM for r in rows)
    again = {r["url"]: r["embedding"] for r in mm.media_embeddings(media).collect()}
    for r in rows:
        assert again[r["url"]] == r["embedding"]
    # identical payloads hash to identical embeddings (dedup-ready)
    from pdf_parser_spark.sources.synth_media import fake_image as fi

    dup = media.sparkSession.createDataFrame(
        [("a", "image", fi(64, 48, seed=9), "image/fake"),
         ("b", "image", fi(64, 48, seed=9), "image/fake")],
        schema=mm.MEDIA_SCHEMA,
    )
    va, vb = [r["embedding"] for r in mm.media_embeddings(dup).orderBy("url").collect()]
    assert va == vb


def test_summary_rollup(media):
    s = {r["kind"]: r for r in mm.media_summary(mm.media_metadata(media)).collect()}
    assert set(s) == {"image", "audio", "video"}
    assert all(s[k]["items"] > 0 for k in s)


def test_media_dedup_end_to_end(spark):
    """Tier integration: media embeddings feed the embedding near-dup
    operator — identical payloads surface as cosine-1.0 pairs."""
    from pdf_parser_spark.operators import dedup
    from pdf_parser_spark.sources.synth_media import fake_image

    rows = [
        ("a", "image", fake_image(64, 48, seed=1), "image/fake"),
        ("b", "image", fake_image(64, 48, seed=1), "image/fake"),   # dup of a
        ("c", "image", fake_image(64, 48, seed=2), "image/fake"),
        ("d", "image", fake_image(128, 96, seed=3), "image/fake"),
    ]
    media = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    emb = mm.media_embeddings(media).where("status = 'ok'").withColumn("bucket", (F.lit(0)))
    pairs = dedup.embedding_near_dups(
        emb, key_col="url", vec_col="embedding", bucket_col="bucket", threshold=0.999
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {("a", "b")}


def test_image_embeddings_cross_container_invariance(spark):
    """Decode-then-embed (round 5): the SAME pixels encoded as a real
    PNG (minipng round-trip) and as the FIMG fake container must land
    on the IDENTICAL embedding — the invariance that lets semantic
    dedup pair cross-container duplicates. Different pixels must not
    collide; undecodable bytes become accounted status rows."""
    import random
    import struct

    from pdf_parser_spark.core.minipng import encode_png_gray

    w, h = 32, 24
    px_a = random.Random(7).randbytes(w * h)
    px_b = random.Random(8).randbytes(w * h)
    fimg = b"FIMG" + struct.pack(">II", w, h) + px_a
    rows = [
        ("png_a", "image", encode_png_gray(w, h, px_a), "image/png"),
        ("fimg_a", "image", fimg, "image/fake"),
        ("png_b", "image", encode_png_gray(w, h, px_b), "image/png"),
        ("junk", "image", b"\x00garbage", "application/octet-stream"),
    ]
    df = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    out = {r["url"]: r for r in mm.image_embeddings(df).collect()}
    assert out["png_a"]["status"] == "ok" and out["fimg_a"]["status"] == "ok"
    assert out["png_a"]["embedding"] == out["fimg_a"]["embedding"]
    assert out["png_a"]["embedding"] != out["png_b"]["embedding"]
    assert out["junk"]["status"] in ("decode_error", "unsupported_codec")
    assert out["junk"]["embedding"] is None


def test_semantic_dedup_planted_cross_container_recall(spark):
    """Decode → embed → SemDeDup end to end: random grayscale images,
    half PNG and half FIMG, plus planted twins that carry the SAME
    pixels in the OTHER container. The quantizer is trained with
    hash-sampled k-means and handed to semantic_dedup as a centroid
    TABLE. Only a real decode step makes a twin's embedding equal its
    base's, so every twin must be a loser paired with its base, and
    nothing else may be."""
    import random
    import struct

    import pandas as pd

    from pdf_parser_spark.core.minipng import encode_png_gray
    from pdf_parser_spark.operators import dedup as dd
    from pdf_parser_spark.operators import similarity as sim

    n_img, n_plant, w, h = 400, 20, 32, 24

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                base = i if i < n_img else i - n_img
                px = random.Random(base * 9176 + 3).randbytes(w * h)
                if (base % 2 == 0) == (i < n_img):
                    data, mime = encode_png_gray(w, h, px), "image/png"
                else:
                    data, mime = b"FIMG" + struct.pack(">II", w, h) + px, "image/fake"
                rows.append({"url": str(i), "kind": "image", "media": data, "mime": mime})
            yield pd.DataFrame(rows, columns=["url", "kind", "media", "mime"])

    media = spark.range(n_img + n_plant).repartition(4).mapInPandas(gen, mm.MEDIA_SCHEMA)
    emb = (
        mm.image_embeddings(media)
        .where(F.col("status") == "ok")
        .select(F.col("url").cast("long").alias("vec_id"), "embedding")
        .cache()
    )
    assert emb.count() == n_img + n_plant
    cents = sim.kmeans_centroids(emb, k=16, iters=2, key_col="vec_id", sample_fraction=0.25)
    losers = dd.semantic_dedup(
        emb, sim.centroids_table(spark, cents), threshold=0.999, key_col="vec_id"
    )
    got = {(r["vec_id"], r["dup_of"]) for r in losers.collect()}
    emb.unpersist()
    assert got == {(n_img + i, i) for i in range(n_plant)}
