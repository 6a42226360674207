"""Multimodal operator tests: decode-stage plumbing (both codec branches)
and byte-budget partitioning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from replibyte_spark.catalog import load_table
from replibyte_spark.operators import multimodal as MM


def test_fake_decode_is_deterministic():
    a = MM._fake_decode(b"hello world")
    assert a == MM._fake_decode(b"hello world")
    w, h, c = a
    assert 1 <= w <= 2048 and 1 <= h <= 2048 and 1 <= c <= 4


def test_decode_images_fake_branch(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    mm = MM.attach_binary_content(docs)
    out = MM.decode_images(mm, use_real_codec=False).collect()
    assert len(out) == 20
    assert all(r.mime == "image/fake" and r.n_pixels == r.width * r.height
               for r in out)


def test_decode_images_real_codec_requires_pil(spark, sf_dir):
    """use_real_codec=True must fail FAST on the driver when PIL is absent
    (not mid-job on an executor)."""
    try:
        import PIL.Image  # noqa: F401
        pytest.skip("PIL installed; covered by the real-codec test")
    except ImportError:
        pass
    docs = load_table(spark, sf_dir, "documents").limit(1)
    mm = MM.attach_binary_content(docs)
    with pytest.raises(ImportError):
        MM.decode_images(mm, use_real_codec=True)


def test_decode_images_real_codec_with_pil(spark):
    """REAL branch: decode an actual PNG via PIL (skipped where the
    container lacks the codec — the branch itself is live code)."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    buf = io.BytesIO()
    PIL_Image.new("RGB", (12, 7)).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame([(1, bytearray(png))],
                               "doc_id long, content binary")
    row = MM.decode_images(df, use_real_codec=True).collect()[0]
    assert (row.mime, row.width, row.height, row.n_channels) == \
        ("image/png", 12, 7, 3)
    assert row.n_pixels == 84


def test_repartition_for_binary_targets_byte_budget(spark):
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.repeat(F.lit("x"), 1000).cast("binary").alias("content"))
    out = MM.repartition_for_binary(df, "content",
                                    target_partition_bytes=100_000,
                                    sample_fraction=0.5)
    # ~1 MB total / 100 KB budget → ~10 partitions (sampling slack allowed)
    assert 5 <= out.rdd.getNumPartitions() <= 20
    assert out.count() == 1000
