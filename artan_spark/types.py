"""Vector/matrix <-> Spark schema conventions.

Vectors are plain ``array<double>``; matrices are
``struct<numRows:int, numCols:int, values:array<double>>`` with **column-major**
values — matching the reference's convention (``Matrices.dense(1, 3, [x, y, 1])``,
/root/reference/examples/src/main/python/streaming/lkf_rate_source_ols.py:91).
Arrow-friendly (no UDT), duckdb-checkable, pure-Python.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

VECTOR = ArrayType(DoubleType(), containsNull=False)

MATRIX = StructType(
    [
        StructField("numRows", IntegerType(), False),
        StructField("numCols", IntegerType(), False),
        StructField("values", ArrayType(DoubleType(), containsNull=False), False),
    ]
)

# The estimate is a distribution, not a point
# (reference MultivariateGaussianDistribution.scala:32).
GAUSSIAN = StructType(
    [
        StructField("mean", VECTOR, False),
        StructField("covariance", MATRIX, False),
    ]
)

# GAUSSIAN as the estimation operators emit it: the JVM-side reassembly
# builds the arrays with F.array over nullable double columns, so their
# elements are nullable; every engine's output carries this exact type.
_DOUBLES = ArrayType(DoubleType())
GAUSSIAN_OUT = StructType(
    [
        StructField("mean", _DOUBLES, False),
        StructField(
            "covariance",
            StructType(MATRIX.fields[:2] + [StructField("values", _DOUBLES, False)]),
            False,
        ),
    ]
)


def mat_to_np(m) -> np.ndarray:
    """Matrix struct (Row / dict / (r, c, values) tuple) -> 2-D numpy array.

    Values are column-major: reshape to (numCols, numRows) then transpose.
    """
    if m is None:
        return None
    if isinstance(m, dict):
        r, c, v = m["numRows"], m["numCols"], m["values"]
    elif hasattr(m, "numRows"):
        r, c, v = m.numRows, m.numCols, m.values
    else:
        r, c, v = m
    return np.asarray(v, dtype=np.float64).reshape(int(c), int(r)).T


def np_to_mat(a: np.ndarray) -> dict:
    """2-D numpy array -> matrix struct dict (column-major values)."""
    a = np.atleast_2d(np.asarray(a, dtype=np.float64))
    return {
        "numRows": int(a.shape[0]),
        "numCols": int(a.shape[1]),
        "values": a.T.ravel().tolist(),
    }


def vec_to_np(v) -> np.ndarray:
    if v is None:
        return None
    return np.asarray(v, dtype=np.float64).ravel()


def np_to_vec(a: np.ndarray) -> list:
    return np.asarray(a, dtype=np.float64).ravel().tolist()


def gaussian_to_np(g):
    """state struct -> (mean 1-D, cov 2-D)."""
    if g is None:
        return None
    if isinstance(g, dict):
        return vec_to_np(g["mean"]), mat_to_np(g["covariance"])
    return vec_to_np(g.mean), mat_to_np(g.covariance)


def np_to_gaussian(mean: np.ndarray, cov: np.ndarray) -> dict:
    return {"mean": np_to_vec(mean), "covariance": np_to_mat(cov)}


__all__ = [
    "VECTOR",
    "MATRIX",
    "GAUSSIAN",
    "GAUSSIAN_OUT",
    "mat_to_np",
    "np_to_mat",
    "vec_to_np",
    "np_to_vec",
    "gaussian_to_np",
    "np_to_gaussian",
    "ArrayType",
    "DoubleType",
    "IntegerType",
    "LongType",
    "StringType",
    "StructField",
    "StructType",
    "TimestampType",
]
