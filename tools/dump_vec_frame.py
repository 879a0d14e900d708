"""Dump the profile_vec_fold bucket frames to pickles for Spark-free timing."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/vec_frames"
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("dump_vec_frame")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from artan_spark.operators.base import EVENT_TIME, STATE_KEY
    from artan_spark.sources import read_table

    e = read_table(spark, sf_dir, "events")
    x = F.hour("ts").cast("double")
    df = e.select(
        (F.col("user_id") % 512).cast("string").alias(STATE_KEY),
        F.col("ts").alias(EVENT_TIME),
        F.array(F.col("value")).alias("measurement"),
        F.struct(
            F.lit(1).alias("numRows"),
            F.lit(3).alias("numCols"),
            F.array(x, F.sqrt(x + F.lit(0.5)), F.lit(1.0)).alias("values"),
        ).alias("measurementModel"),
    ).filter(F.pmod(F.hash(STATE_KEY), F.lit(4)) == 0)  # bucket 0 of repartition(4, stateKey)

    import artan_spark.operators.vectorized as V

    cells_pdf = df.orderBy(STATE_KEY, EVENT_TIME).toPandas()
    cells_pdf.to_pickle(os.path.join(out_dir, "cells.pkl"))
    flat_pdf = V.flat_input_projection(df, 1, 3).orderBy(STATE_KEY, EVENT_TIME).toPandas()
    flat_pdf.to_pickle(os.path.join(out_dir, "flat.pkl"))
    print(f"dumped rows: {len(cells_pdf)} -> {out_dir}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
