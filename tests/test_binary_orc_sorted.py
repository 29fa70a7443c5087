"""Source breadth: binaryFile ingest feeding the multimodal pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg_etl_spark.operators.multimodal import extract_features
from kg_etl_spark.sources.binaryfile import read_binary_dir


def test_binaryfile_ingest_to_features(spark, tmp_path):
    d = tmp_path / "media"
    d.mkdir()
    payloads = {"img_001.bin": b"\x00\x01fake-image", "img_002.bin": b"\xff\xfe??"}
    for name, blob in payloads.items():
        (d / name).write_bytes(blob)
    (d / "notes.txt").write_text("not media")

    df = read_binary_dir(spark, str(d), glob="*.bin")
    rows = {r["media_id"]: r for r in df.collect()}
    assert set(rows) == {"img_001", "img_002"}
    assert bytes(rows["img_001"]["content"]) == payloads["img_001.bin"]
    assert rows["img_002"]["length"] == 4

    # binary content flows into the Arrow-batched feature extractor
    feats = extract_features(
        df.select("media_id", F.col("content").alias("payload")), fake=True
    )
    assert feats.count() == 2
