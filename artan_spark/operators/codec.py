"""The flat boundary codec of the estimation folds.

Every estimation fold (sequential, vectorized, scan or a distributed-scan
pass; batch or streaming) hands its rows back across Arrow in ONE frame
layout per operator: the key, the index columns, named float64 blocks of
known width, the event time and the plain double outputs. A block of width
``w`` is the double columns ``name0 .. name{w-1}``, never an array or
struct cell: a cell costs a Python object per row on both sides of the
boundary, a float64 column costs nothing. Matrices flatten column-major.
The 1-D shapes are the same layout with width-1 blocks.

``Layout`` derives everything from that one description: the Arrow schema
of the fold output, its column names, the one pandas frame constructor and the
JVM-side reassembly into the public structs (``vec``/``mat``/``gauss``, a
cheap Catalyst projection). NaN in a float column reaches the JVM as NULL,
so a block is ``present`` where its first column is not null: a row
without a measurement leaves its residual blocks NaN.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from artan_spark.operators.base import EVENT_TIME, STATE_KEY, empty_pdf
from artan_spark.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def matrix(values: Column, rows: int, cols: int) -> Column:
    """The public MATRIX struct over a column-major values array."""
    return F.struct(
        F.lit(rows).alias("numRows"), F.lit(cols).alias("numCols"), values.alias("values")
    )


def gaussian(mean: Column, cov: Column, dim: int) -> Column:
    """The public Gaussian struct over a mean and a covariance array."""
    return F.struct(mean.alias("mean"), matrix(cov, dim, dim).alias("covariance"))


class Layout:
    """One operator's boundary frame: ``blocks`` is an ordered list of
    (name, width) float64 blocks, ``index`` the long columns after the
    key, ``outputs`` the plain double columns after the event time."""

    def __init__(self, blocks, index=("stateIndex",), outputs=()):
        self.blocks = dict(blocks)
        self.index = tuple(index)
        self.outputs = tuple(outputs)
        self.columns = [
            STATE_KEY,
            *self.index,
            *[f"{name}{i}" for name, width in self.blocks.items() for i in range(width)],
            EVENT_TIME,
            *self.outputs,
        ]

    @property
    def schema(self) -> StructType:
        types = {STATE_KEY: StringType(), EVENT_TIME: TimestampType()}
        types.update((name, LongType()) for name in self.index)
        return StructType(
            [StructField(c, types.get(c, DoubleType()), True) for c in self.columns]
        )

    def frame(self, n: int, /, **cols) -> pd.DataFrame:
        """The boundary frame of ``n`` rows. The key, index and event-time
        entries of ``cols`` are arrays or one value for the whole frame (a
        per-key fold's key, stepIndex 0, no event time); a block is an
        (n,), (n, w) or (n, r, c) array; an output is an (n,) array. An
        omitted block or output is NaN.

        ``copy=False`` keeps one pandas block per column: consolidating
        same-dtype columns costs an O(data) copy Arrow has no use for."""
        if n == 0:
            return empty_pdf(self.columns)
        nan = np.full(n, np.nan)
        data = {STATE_KEY: _per_row(cols[STATE_KEY], n, object)}
        for name in self.index:
            data[name] = _per_row(cols[name], n, np.int64)
        for name, width in self.blocks.items():
            v = cols.get(name)
            if v is None:
                data.update((f"{name}{i}", nan) for i in range(width))
                continue
            v = np.asarray(v, dtype=np.float64)
            if v.ndim == 3:
                v = v.transpose(0, 2, 1).reshape(n, width)
            elif v.ndim == 1:
                v = v[:, None]
            data.update((f"{name}{i}", v[:, i]) for i in range(width))
        data[EVENT_TIME] = _per_row(cols.get(EVENT_TIME), n, object)
        for name in self.outputs:
            v = cols.get(name)
            data[name] = nan if v is None else v
        return pd.DataFrame(data, copy=False)

    def cols(self, name: str) -> list:
        return [F.col(f"{name}{i}") for i in range(self.blocks[name])]

    def present(self, name: str) -> Column:
        """True where the fold filled block ``name`` (NaN arrives as NULL)."""
        return F.col(f"{name}0").isNotNull()

    def vec(self, name: str, nullable: bool = False) -> Column:
        """Block ``name`` as an array; ``nullable`` makes it null where the
        block is not present (the public type of some operators' fields)."""
        arr = F.array(*self.cols(name))
        return F.when(self.present(name), arr) if nullable else arr

    def mat(self, name: str, rows: int, cols: int, nullable: bool = False) -> Column:
        return matrix(self.vec(name, nullable), rows, cols)

    def gauss(self, mean: str, cov: str, nullable: bool = False) -> Column:
        return gaussian(self.vec(mean, nullable), self.vec(cov, nullable), self.blocks[mean])


def _per_row(v, n: int, dtype):
    if isinstance(v, (np.ndarray, list)):
        return v
    return np.full(n, v, dtype=dtype)


# -- the one layout of each estimation family -------------------------------


def kalman_layout(c: dict) -> Layout:
    """LKF/EKF/UKF/CKF (MMAE included): state mean ``m`` and covariance
    ``c``, residual ``r`` and its covariance ``rc``, and the resolved
    system matrices ``pm``/``pn``/``mm`` when outputSystemMatrices is set.
    A likelihood output crosses only when its flag is set."""
    n, mdim = int(c["stateSize"]), int(c["measurementSize"])
    blocks = [("m", n), ("c", n * n), ("r", mdim), ("rc", mdim * mdim)]
    if c.get("outputSystemMatrices"):
        blocks += [("pm", n * n), ("pn", n * n), ("mm", mdim * n)]
    outputs = (
        ("loglikelihood", "calculateLoglikelihood"),
        ("mahalanobis", "calculateMahalanobis"),
        ("slidingLikelihood", "calculateSlidingLikelihood"),
    )
    return Layout(
        blocks, ("stateIndex", "stepIndex"), [name for name, flag in outputs if c.get(flag)]
    )


def smoother_layout(c: dict) -> Layout:
    """Fixed-lag smoother: smoothed mean ``m``, covariance ``c`` and the
    RTS gain ``g``."""
    n = int(c["stateSize"])
    return Layout([("m", n), ("c", n * n), ("g", n * n)], ("stateIndex", "stepIndex"))


def rls_layout(c: dict) -> Layout:
    """RLS: state mean ``m`` and covariance ``c``."""
    n = int(c["stateSize"])
    return Layout([("m", n), ("c", n * n)])


def mixture_layout(c: dict) -> Layout:
    """Mixtures: component weights ``w`` and the flat parameters ``p`` —
    per component the mean and covariance (gaussian) or the one rate or
    probability."""
    kc = len(c["initialWeights"])
    width = kc
    if c["family"] == "gaussian":
        d = int(np.asarray(c["initialParams"]["means"]).shape[1])
        width = kc * (d + d * d)
    return Layout([("w", kc), ("p", width)], outputs=("loglikelihood",))
