"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

There is no analogue in the reference (it treats bytea/blob literals as
opaque strings, SURVEY.md §1.2); this is the north-star extension
(BASELINE.json): the Spark-side plumbing a 100 TB multimodal pipeline needs.

Design:
- content lives in a BINARY column, metadata in a STRUCT column
  (`mime`, `n_bytes`, plus per-modality fields) — scans prune the binary
  column away unless a stage actually touches it (column pruning is the
  whole ballgame when rows carry megabytes).
- decode runs as an Arrow-batched `mapInPandas` stage: one Python worker
  per partition, whole record batches, binary never round-trips through
  per-row pickling.
- The real codec (PIL) may be absent, so the decode body is gated behind
  an import-try and falls back to a clearly-marked DETERMINISTIC FAKE
  (derived from md5 of the bytes) — the schema, partitioning, UDF
  signature and batch shape are real and tested; swap `_fake_decode` for
  the library call in production.
- Partition sizing: `repartition_for_binary` targets a bytes-per-partition
  budget instead of row counts — at 100 TB row-count-based partitioning
  makes multi-GB tasks.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import fan_out

DECODE_SCHEMA = ("doc_id long, mime string, width int, height int, "
                 "n_channels int, n_pixels long")


def attach_binary_content(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Test/fixture helper: derive a binary `content` column + metadata
    struct from a text column (deterministic, so oracle-checkable)."""
    content = F.col(text_col).cast("binary")
    return df.select(
        F.col(id_col),
        content.alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(content).alias("n_bytes"),
        ).alias("meta"),
    )


def repartition_for_binary(df: DataFrame, bytes_col: str,
                           target_partition_bytes: int = 256 * 1024 * 1024,
                           sample_fraction: float = 0.01) -> DataFrame:
    """Repartition so each task handles ~target bytes of binary payload.

    ONE sampled pass estimates both avg row bytes and total rows (sample
    count scaled by 1/fraction) — no second full-table count job over a
    100 TB input."""
    frac = min(1.0, sample_fraction)
    stats = (df.sample(fraction=frac, seed=42)
             .agg(F.avg(F.octet_length(F.col(bytes_col))).alias("avg"),
                  F.count(F.lit(1)).alias("n")).first())
    if not stats or not stats["avg"] or not stats["n"]:
        return df
    est_rows = stats["n"] / frac
    est_total = stats["avg"] * est_rows
    parts = max(1, int(est_total // target_partition_bytes) + 1)
    return df.repartition(parts)


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """DETERMINISTIC FAKE image decode (container has no PIL): dimensions
    derived from the md5 of the bytes via the same translate() scheme the
    SQL dialect uses, so the DuckDB oracle can reproduce them exactly."""
    hx = hashlib.md5(payload).hexdigest()
    tr = str.maketrans("abcdef", "123456")
    width = 1 + int(hx[0:4].translate(tr)) % 2048
    height = 1 + int(hx[4:8].translate(tr)) % 2048
    channels = 1 + int(hx[8:10].translate(tr)) % 4
    return width, height, channels


def _pil_decode(raw: bytes) -> tuple[str, int, int, int]:
    """REAL image decode via PIL (import deferred to the executor so the
    operator stays importable without it): (mime, width, height, channels).
    """
    import io

    import PIL.Image

    with PIL.Image.open(io.BytesIO(raw)) as img:
        fmt = (img.format or "unknown").lower()
        n_channels = len(img.getbands())
        return f"image/{fmt}", img.width, img.height, n_channels


def decode_images(df: DataFrame, content_col: str = "content",
                  id_col: str = "doc_id",
                  use_real_codec: bool | None = None) -> DataFrame:
    """Decode stage: (id, content) → typed image metadata.

    Arrow-batched mapInPandas.  `use_real_codec=None` (default) uses PIL
    when importable and otherwise the deterministic fake; True forces PIL
    (raising if absent), False forces the fake (the oracle-reproducible
    path the gate query checks).
    """
    if use_real_codec is None:
        try:
            import PIL.Image  # noqa: F401
            use_real_codec = True
        except ImportError:
            use_real_codec = False
    elif use_real_codec:
        import PIL.Image  # noqa: F401  # fail fast on the driver if absent

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[content_col]):
                raw = bytes(payload)
                if use_real_codec:
                    mime, w, h, c = _pil_decode(raw)
                else:
                    w, h, c = _fake_decode(raw)
                    mime = "image/fake"
                out.append((int(doc_id), mime, w, h, c, w * h))
            yield pd.DataFrame(out, columns=["doc_id", "mime", "width",
                                             "height", "n_channels", "n_pixels"])

    return (fan_out(df.select(id_col, content_col))
            .mapInPandas(batches, schema=DECODE_SCHEMA))

