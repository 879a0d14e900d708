"""Batch == streaming equivalence harness.

PySpark port of the reference's MemoryStream harness
(/root/reference/src/test/scala/com/github/ozancicek/artan/ml/testutils/
StructuredStreaming.scala:25-58): feed a batch DataFrame through a streaming
source chunk-at-a-time in append mode, run the same transform, and return the
materialized result for row-for-row comparison with the batch output.

PySpark has no MemoryStream handle, so the controllable source is a file
stream: each chunk is committed as one parquet file with a strictly
increasing mtime and ``maxFilesPerTrigger=1``, giving one micro-batch per
chunk in a deterministic order (FileStreamSource processes oldest-first).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion


def stream_transform(
    spark: SparkSession,
    batch_df: DataFrame,
    transform,
    chunk_rows: int = 1,
    timeout_sec: int = 120,
) -> DataFrame:
    """Run ``transform`` over ``batch_df`` replayed as a stream.

    Returns a batch DataFrame of the streamed result (memory sink contents).
    """
    rows = batch_df.collect()
    schema = batch_df.schema
    src_dir = tempfile.mkdtemp(prefix="artan_stream_src_")
    ckpt_dir = tempfile.mkdtemp(prefix="artan_stream_ckpt_")
    name = "artan_stream_" + uuid.uuid4().hex[:8]
    try:
        base_t = time.time() - 3600
        for step, i in enumerate(range(0, len(rows), chunk_rows)):
            # written driver-side through Arrow: the same rows, types and
            # order a one-partition Spark write gives, without a job per chunk
            dest = os.path.join(src_dir, f"chunk-{step:06d}.parquet")
            chunk = LocalDataToArrowConversion.convert(rows[i : i + chunk_rows], schema, False)
            pq.write_table(chunk, dest)
            os.utime(dest, (base_t + step, base_t + step))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(src_dir)
        )
        out = transform(stream)
        query = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
        try:
            deadline = time.time() + timeout_sec
            query.processAllAvailable()
            while query.isActive and time.time() < deadline:
                progress = query.lastProgress
                if progress is not None:
                    break
                time.sleep(0.1)
            query.processAllAvailable()
        finally:
            query.stop()
        # materialize before the temp dirs vanish
        result_rows = spark.table(name).collect()
        result_schema = spark.table(name).schema
        return spark.createDataFrame(result_rows, result_schema)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)
