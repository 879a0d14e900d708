"""Seeded inputs and operator set-ups for the estimation benchmark.

Every input is a function of the seed alone. Rows carry a unique,
increasing event time, so each key's rows have one order and the reference
recursions in ``reference.py`` can replay them without ties.

Sizes are chosen so one run (set-up, warm-up, a 20 s closed loop and the
checks) takes about 45 s (batch) or 70 s (stream) on a 4-core host, and
the warm streaming trigger stays under 1 s.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

T0_US = 1_700_000_000_000_000  # event time of row 0, microseconds

# batch_many_models: "many small systems", 64 rows per key
MANY_KEYS, MANY_ROWS = 4096, 4096 * 64
# stream_keyed_state: 4,096 keys; one file per trigger, KEYS_PER_TRIGGER keys
# with ROWS_PER_KEY rows each; the untimed first trigger touches every key
STREAM_KEYS, KEYS_PER_TRIGGER, ROWS_PER_KEY, PRIME_ROWS_PER_KEY = 4096, 128, 24, 1
STREAM_FILES = 200
# untimed triggers between the cold first trigger and the timed window
WARM_TRIGGERS = 20

# local-level model shared by the 1-D filters
P0, Q, R = 100.0, 1.0, 10.0
# local-linear-trend model (level, slope)
LLT_F = [[1.0, 1.0], [0.0, 1.0]]
LLT_H = [[1.0, 0.0]]
LLT_Q = [[1.0, 0.0], [0.0, 0.01]]
# 2-component 1-D Gaussian mixture, one stochastic-EM step per row
GMM_MEANS, GMM_VARS, GMM_STEP = [25.0, 75.0], [100.0, 100.0], 0.1


@dataclass
class Workload:
    name: str
    ops: tuple  # operator names, run in this order each round
    streaming: bool = False
    warm_rounds: int = 0  # untimed rounds between the cold pass and the window


WORKLOADS = {
    # the first round after the cold pass runs 10-30% slower
    "batch_many_models": Workload("batch_many_models", ("lkf", "llt", "gmm"), warm_rounds=1),
    "stream_keyed_state": Workload("stream_keyed_state", ("lkf",), streaming=True),
}


def _table(keys, start_row, values):
    import pyarrow as pa

    n = len(keys)
    ts = (np.arange(n, dtype=np.int64) + start_row) * 1000 + T0_US
    return pa.table(
        {
            "key": pa.array(keys.astype(np.int64)),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "value": pa.array(values),
        }
    )


def write_batch_input(seed: int, path: str):
    """One parquet file, 8 row groups so the scan runs in parallel. Returns
    the input as numpy columns (key, value) in event-time order."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    keys = rng.integers(0, MANY_KEYS, size=MANY_ROWS)
    values = rng.normal(50.0, 10.0, size=len(keys))
    pq.write_table(_table(keys, 0, values), path, row_group_size=len(keys) // 8 + 1)
    return keys, values


def write_stream_input(seed: int, stage_dir: str):
    """Stage the trigger files: file 0 primes every key, files 1.. each hold
    KEYS_PER_TRIGGER random keys. File i gets modification time i so the
    file source takes them in order. Returns [(path, keys, values)]."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    files, row = [], 0
    for i in range(STREAM_FILES + 1):
        if i == 0:
            keys = np.repeat(np.arange(STREAM_KEYS), PRIME_ROWS_PER_KEY)
        else:
            pick = rng.choice(STREAM_KEYS, size=KEYS_PER_TRIGGER, replace=False)
            keys = np.repeat(pick, ROWS_PER_KEY)
        keys = rng.permutation(keys)
        values = rng.normal(50.0, 10.0, size=len(keys))
        path = os.path.join(stage_dir, f"part-{i:05d}.parquet")
        pq.write_table(_table(keys, row, values), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        files.append((path, keys, values))
        row += len(keys)
    return files


def make_op(name: str):
    """A fresh operator for one job. All read columns key/ts/measurement
    (or key/ts/sample for the mixture)."""
    from artan_spark.operators import LinearKalmanFilter, MultivariateGaussianMixture

    if name == "gmm":
        return (
            MultivariateGaussianMixture()
            .setStateKeyCol("key")
            .setEventTimeCol("ts")
            .setInitialMeans([[m] for m in GMM_MEANS])
            .setInitialCovariances([[v] for v in GMM_VARS])
            .setMinibatchSize(1)
            .setStepSize(GMM_STEP)
            .setVectorizedBatch(True)
        )
    if name == "llt":
        return (
            LinearKalmanFilter(2, 1)
            .setStateKeyCol("key")
            .setEventTimeCol("ts")
            .setInitialStateCovariance(np.eye(2) * P0)
            .setProcessModel(np.array(LLT_F))
            .setProcessNoise(np.array(LLT_Q))
            .setMeasurementModel(np.array(LLT_H))
            .setMeasurementNoise(np.array([[R]]))
            .setVectorizedBatch(True)
        )
    # the 1-D LKF keeps the default engine (auto -> scan in batch)
    return (
        LinearKalmanFilter(1, 1)
        .setStateKeyCol("key")
        .setEventTimeCol("ts")
        .setInitialStateCovariance(np.array([[P0]]))
        .setProcessNoise(np.array([[Q]]))
        .setMeasurementNoise(np.array([[R]]))
    )


def op_input(df, name: str):
    """Project the raw (key, ts, value) frame to the operator's input."""
    from pyspark.sql import functions as F

    col = "sample" if name == "gmm" else "measurement"
    return df.select(
        F.col("key").cast("string").alias("key"), "ts", F.array("value").alias(col)
    )


def engine_label(op, name: str) -> str:
    """Which fold ran. The Kalman family records it on the operator; the
    mixtures record nothing, so their label is derived from the same
    predicate their transform() consults."""
    if name == "gmm":
        from artan_spark.operators.vectorized import supports_vectorized_mixture

        vec = bool(op.get("vectorizedBatch")) and supports_vectorized_mixture(op._constants())
        return "mixture/vectorized" if vec else "mixture/sequential"
    eng = getattr(op, "_lastFoldEngine", None) or "unknown"
    return f"{eng}/vectorized" if getattr(op, "_lastFoldVectorized", False) else eng


# numeric codes so an engine change shows up as a per-layer metric change
ENGINE_CODES = {
    "sequential": 1,
    "sequential/vectorized": 2,
    "scan/vectorized": 3,
    "distributedScan/vectorized": 4,
    "mixture/sequential": 5,
    "mixture/vectorized": 6,
}


def engine_code(label: str) -> int:
    return ENGINE_CODES.get(label, 99)
