"""How the package runs a stream: one reader that opens a fixture table as
a file-source stream, and one availableNow runner.

An availableNow query processes everything its source holds when it
starts, then stops.  Every stream in the package runs that way, so the
start, the checked wait and the clean-up live here once.  (The CLI's
``corpus quota`` is the one exception: its checkpoint is the caller's, so
a re-run resumes its state, and it has no timeout.)
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import LongType, StructField, StructType

from ..catalog import _nanos_timestamp_columns, table_path
from ..util import released

#: seconds an availableNow run may take before it is stopped and fails
TIMEOUT_S = 180


def read_table_stream(spark: SparkSession, sf_dir: str,
                      name: str) -> DataFrame:
    """File-source stream over one fixture table, with the columns of
    :func:`~..catalog.load_table`'s batch frame.

    The schema comes from the parquet footer (driver-side metadata, no
    scan).  A timestamp without a time zone streams as ``timestamp``,
    where the batch reader infers ``timestamp_ntz``.  TIMESTAMP(NANOS)
    columns are read as int64 and truncated to microseconds, as in
    ``load_table``.  The streaming file source only takes directories, so
    a single-file table streams its parent directory through a glob
    filter."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import from_arrow_schema

    path = table_path(sf_dir, name)
    nanos = _nanos_timestamp_columns(path)
    footer = from_arrow_schema(ds.dataset(path, format="parquet").schema)
    schema = StructType([StructField(f.name, LongType(), f.nullable)
                         if f.name in nanos else f for f in footer])
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.parquet(path)
    for col in nanos:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def start_available_now(writer: DataStreamWriter) -> StreamingQuery:
    """Start `writer` with the availableNow trigger, wait for it to
    finish and return the finished query.  Its checkpoint is a temp dir,
    removed on return.  A run still going after TIMEOUT_S holds only part
    of its input, so it is stopped and raises ``TimeoutError``."""
    ckpt = tempfile.mkdtemp(prefix="rs_stream_ckpt_")
    try:
        q = (writer.option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"availableNow run did not finish within {TIMEOUT_S}s; "
                f"partial results discarded")
        return q
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_available_now(stream: DataFrame,
                      fn: Callable[[DataFrame], DataFrame] | None = None,
                      output_mode: str = "append") -> DataFrame:
    """Run `stream` over its current input; return the output as a
    driver-local frame.

    With no `fn` the output goes to a memory sink in `output_mode`.  With
    `fn`, each micro-batch goes through `fn` by ``foreachBatch``, inside a
    :func:`~..util.released` scope, and what `fn` returns is appended to a
    temp parquet dir.  The snapshot is bounded by the output (per-key
    summaries, admitted ids); the memory view and the temp dirs are gone
    on return, by exception too."""
    spark = stream.sparkSession
    writer = stream.writeStream.outputMode(output_mode)
    if fn is None:
        name = f"rs_stream_{uuid.uuid4().hex[:12]}"
        try:
            start_available_now(writer.format("memory").queryName(name))
            return _snapshot(spark.table(name))
        finally:
            spark.catalog.dropTempView(name)
    out = tempfile.mkdtemp(prefix="rs_stream_out_")

    def each(batch: DataFrame, _epoch: int) -> None:
        # Spark calls this on its own thread, outside the caller's scope
        with released():
            fn(batch).write.mode("append").parquet(out)

    try:
        start_available_now(writer.foreachBatch(each))
        return _snapshot(spark.read.parquet(out))
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _snapshot(df: DataFrame) -> DataFrame:
    return df.sparkSession.createDataFrame(df.collect(), df.schema)
