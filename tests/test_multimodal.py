import hashlib

from pyspark.sql import Row

from compute_histogram_spark.multimodal.binary import (
    decode_image,
    extract_features,
)


def assets_df(spark):
    rows = [
        Row(asset_id=0, kind="image", content=b"\x89PNG fake image bytes 0", source="s0"),
        Row(asset_id=1, kind="image", content=b"\x89PNG fake image bytes 1", source="s1"),
        Row(asset_id=2, kind="video", content=bytes(range(200)), source="s2"),
        Row(asset_id=3, kind="audio", content=b"RIFF fake", source="s3"),
    ]
    return spark.createDataFrame(rows).repartition(3)


def test_extract_features_schema_and_determinism(spark):
    out = {r["asset_id"]: r for r in extract_features(assets_df(spark)).collect()}
    assert len(out) == 4
    r0 = out[0]
    assert r0["sha256"] == hashlib.sha256(b"\x89PNG fake image bytes 0").hexdigest()
    assert r0["n_bytes"] == 23
    # fake decode is content-addressed: same bytes -> same dims, every run
    w, h, c = decode_image(b"\x89PNG fake image bytes 0")
    assert (r0["width"], r0["height"], r0["n_channels"]) == (w, h, c)
    assert 16 <= r0["width"] <= 255 and 1 <= r0["n_channels"] <= 3
    # non-image kinds pass through with zeroed dims
    assert out[2]["width"] == 0 and out[3]["width"] == 0

