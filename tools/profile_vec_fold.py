"""Decompose the vectorized n-D LKF fold's wall time (guide §1: measure first).

Builds the exact per-bucket pandas frame the fold receives for
``lkf_ols_multikey`` in BOTH layouts (array/struct cells and the flat
primitive projection), then times the fold in-process on each — isolating
the Python-side compute from Spark scheduling / host-IO noise.

Usage: python tools/profile_vec_fold.py [sf_dir] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("profile_vec_fold")
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
    from artan_spark.operators.kalman import LinearKalmanFilter

    cells_pdf = df.orderBy(STATE_KEY, EVENT_TIME).toPandas()
    flat_pdf = None
    if hasattr(V, "flat_input_projection"):
        flat_pdf = (
            V.flat_input_projection(df, 1, 3).orderBy(STATE_KEY, EVENT_TIME).toPandas()
        )
    print(f"bucket rows: {len(cells_pdf)}, keys: {cells_pdf[STATE_KEY].nunique()}", flush=True)

    flt = (
        LinearKalmanFilter(3, 1)
        .setStateKeyCol("k")
        .setEventTimeCol("t")
        .setInitialStateCovariance(100.0 * np.eye(3))
        .setProcessNoise(np.zeros((3, 3)))
        .setMeasurementNoise(np.array([[100.0]]))
        .setVectorizedBatch(True)
    )
    c = flt._constants()
    fold = V.vectorized_lkf_fold_factory(c)

    for label, pdf in (("cells", cells_pdf), ("flat", flat_pdf)):
        if pdf is None:
            continue
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            out, _ = fold(pdf, None)
            times.append(round(time.perf_counter() - t0, 3))
        print(f"fold[{label}]: median {sorted(times)[len(times)//2]:.3f}s  {times}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
