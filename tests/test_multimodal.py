"""Multimodal plumbing: typed schema, Arrow-batch decode, frame explode,
determinism of the clearly-marked fake codec."""

import pytest
from pyspark.sql import functions as F

from ee_outliers_spark.operators.multimodal import (
    FEATURE_DIM, image_features, media_table, sample_frames,
)


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return media_table(spark, sf_dir).cache()


def test_media_schema(media):
    assert media.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,blob:binary,"
        "meta:struct<width:int,height:int,sample_rate:int,n_frames:int,"
        "fmt:string>>"
    )
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_image_features_deterministic(media):
    imgs = media.where(F.col("kind") == "image").limit(20)
    a = {r["media_id"]: (r["width"], r["height"], tuple(r["feature"]))
         for r in image_features(imgs).collect()}
    b = {r["media_id"]: (r["width"], r["height"], tuple(r["feature"]))
         for r in image_features(imgs).collect()}
    assert a == b and a
    for w, h, f in a.values():
        assert 16 <= w < 656 and 16 <= h < 496
        assert len(f) == FEATURE_DIM
        assert abs(sum(x * x for x in f) - 1.0) < 1e-3  # unit-ish norm


def test_sample_frames_counts(media):
    frames = sample_frames(media, every_n=7)
    got = frames.groupBy("media_id").count().collect()
    metas = {r["media_id"]: r["meta"]["n_frames"]
             for r in media.where("kind = 'video'").collect()}
    assert {r["media_id"] for r in got} == set(metas)
    for r in got:
        n = metas[r["media_id"]]
        assert r["count"] == (n + 6) // 7

