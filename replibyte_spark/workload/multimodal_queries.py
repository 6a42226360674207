"""Gate queries for the multimodal plumbing.

The binary payloads are derived deterministically from documents.text, so
the Arrow-batched Python stage (mapInPandas decode) is
fully oracle-checkable: the fake decoder derives dimensions from md5 via the
same translate() scheme the SQL dialect uses, and the fixture text is ASCII
so DuckDB's md5(VARCHAR) equals the engine's md5-over-bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import multimodal as MM
from . import Query, register


def binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary attach + metadata projection (content column pruned away —
    only octet_length and md5 of the payload are computed)."""
    docs = load_table(spark, sf_dir, "documents")
    mm = MM.attach_binary_content(docs)
    return (mm.select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    ).orderBy("doc_id"))


BINARY_META_ORACLE = """
SELECT doc_id,
       'application/octet-stream' AS mime,
       octet_length(encode(text)) AS n_bytes,
       md5(text)                  AS content_md5
FROM documents ORDER BY doc_id
"""

register(Query("binary_metadata", binary_metadata, BINARY_META_ORACLE,
               tags=("multimodal",)), extra=True)


def image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode stage over binary content → typed metadata.
    Pinned to the deterministic fake codec (fixture bytes are not real
    images; the PIL branch is covered by a skipped-if-absent unit test)."""
    docs = load_table(spark, sf_dir, "documents")
    mm = MM.attach_binary_content(docs)
    return MM.decode_images(mm, use_real_codec=False).orderBy("doc_id")


IMAGE_DECODE_ORACLE = """
WITH h AS (
  SELECT doc_id, md5(text) AS hx FROM documents
)
SELECT doc_id,
       'image/fake' AS mime,
       CAST(1 + CAST(translate(substr(hx, 1, 4), 'abcdef', '123456') AS BIGINT) % 2048 AS INTEGER) AS width,
       CAST(1 + CAST(translate(substr(hx, 5, 4), 'abcdef', '123456') AS BIGINT) % 2048 AS INTEGER) AS height,
       CAST(1 + CAST(translate(substr(hx, 9, 2), 'abcdef', '123456') AS BIGINT) % 4 AS INTEGER) AS n_channels,
       CAST((1 + CAST(translate(substr(hx, 1, 4), 'abcdef', '123456') AS BIGINT) % 2048)
          * (1 + CAST(translate(substr(hx, 5, 4), 'abcdef', '123456') AS BIGINT) % 2048) AS BIGINT) AS n_pixels
FROM h ORDER BY doc_id
"""

register(Query("image_decode_stats", image_decode_stats, IMAGE_DECODE_ORACLE,
               tags=("multimodal",)))

