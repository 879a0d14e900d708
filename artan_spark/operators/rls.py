"""Recursive least squares with exponential forgetting.

Parity: /root/reference/src/main/scala/com/github/ozancicek/artan/ml/filter/
RecursiveLeastSquaresFilter.scala:53-243 (update math :211-242). stateIndex
increments on each update (:240).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from artan_spark import linalg
from artan_spark.operators.base import EVENT_TIME, STATE_KEY, StatefulTransformer
from artan_spark.operators.codec import rls_layout
from artan_spark.operators.vectorized import (
    check_width,
    vectorized_nd_rls_scan_fold_factory,
    vectorized_rls_fold_factory,
    vectorized_scalar_rls_scan_fold_factory,
)
from artan_spark.types import (
    VECTOR,
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    mat_to_np,
    vec_to_np,
)

_STATE_SCHEMA = StructType(
    [
        StructField("stateIndex", LongType()),
        StructField("mean", VECTOR),
        StructField("cov", ArrayType(DoubleType())),
    ]
)


def _scalar_rls_fold_factory(c: dict):
    """1-D fast path: pure-scalar recursion.
    Same op order as the numpy path (bit-identical; the recursive-CTE
    oracle in plans/estimation.py verifies this at sf0.01)."""
    lam = c["forgettingFactor"]
    m0 = 0.0 if c["initialStateMean"] is None else float(np.ravel(c["initialStateMean"])[0])
    p0 = 1.0 if c["regularizationMatrix"] is None else float(np.ravel(c["regularizationMatrix"])[0])
    layout = rls_layout(c)

    def fold(pdf: pd.DataFrame, state):
        nrows = len(pdf)
        key = pdf[STATE_KEY].iloc[0] if nrows else ""
        labels = pdf["label"].values
        feats = pdf["features"].values
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None

        if state is None:
            m, P, idx = m0, p0, 0
        else:
            m, P = float(state["mean"][0]), float(state["cov"][0, 0])
            idx = state["idx"]

        o_idx = np.empty(nrows, dtype=np.int64)
        o_mean = np.empty(nrows)
        o_cov = np.empty(nrows)
        for i in range(nrows):
            check_width(len(feats[i]), 1)
            x = float(feats[i][0])
            Px = P * x
            denom = lam + x * Px
            g = Px / denom
            err = float(labels[i]) - x * m
            m = m + g * err
            P = (P - g * Px) / lam
            idx += 1
            o_idx[i] = idx
            o_mean[i] = m
            o_cov[i] = P

        out = layout.frame(nrows, stateKey=key, stateIndex=o_idx, m=o_mean, c=o_cov, eventTime=ev)
        return out, {"idx": int(idx), "mean": np.array([m]), "cov": np.array([[P]])}

    return fold


def _is_scalar_rls(c: dict) -> bool:
    return c["stateSize"] == 1 and not c.get("hasPerRowCols")


def _rls_fold_factory(c: dict):
    if _is_scalar_rls(c):
        return _scalar_rls_fold_factory(c)
    lam = c["forgettingFactor"]
    n_state = c["stateSize"]
    layout = rls_layout(c)

    def fold(pdf: pd.DataFrame, state):
        key = pdf[STATE_KEY].iloc[0] if len(pdf) else ""
        labels = pdf["label"].values
        feats = pdf["features"].values
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None
        init_mean_col = pdf["initialStateMean"].values if "initialStateMean" in pdf.columns else None
        reg_col = pdf["regularizationMatrix"].values if "regularizationMatrix" in pdf.columns else None

        nrows = len(pdf)
        o_idx = np.empty(nrows, dtype=np.int64)
        o_mean = np.empty((nrows, n_state))
        o_cov = np.empty((nrows, n_state, n_state))
        for i in range(nrows):
            if state is None:
                mean = c["initialStateMean"]
                if init_mean_col is not None and init_mean_col[i] is not None:
                    mean = vec_to_np(init_mean_col[i])
                cov = c["regularizationMatrix"]
                if reg_col is not None and reg_col[i] is not None:
                    cov = mat_to_np(reg_col[i])
                if mean is None:
                    mean = np.zeros(n_state)
                if cov is None:
                    cov = np.eye(n_state)
                state = {"idx": 0, "mean": np.asarray(mean, dtype=np.float64).ravel(), "cov": np.asarray(cov, dtype=np.float64)}
            x = vec_to_np(feats[i])
            check_width(len(x), n_state)
            m1, P1, _gain = linalg.rls_update(state["mean"], state["cov"], float(labels[i]), x, lam)
            state["idx"] += 1
            state["mean"], state["cov"] = m1, P1
            o_idx[i], o_mean[i], o_cov[i] = state["idx"], m1, P1
        out = layout.frame(nrows, stateKey=key, stateIndex=o_idx, m=o_mean, c=o_cov, eventTime=ev)
        return out, state

    return fold


class RecursiveLeastSquaresFilter(StatefulTransformer):
    _defaults = {
        "labelCol": "label",
        "featuresCol": "features",
        "forgettingFactor": 1.0,
        "stateSize": None,
        "initialStateMean": None,
        "initialStateMeanCol": None,
        "regularizationMatrix": None,
        "regularizationMatrixCol": None,
        "vectorizedBatch": False,
        "vectorizedBuckets": None,
        # "auto" (default): parallel information-form scan on batch
        # constant-model shapes (~1e-12 relative parity; rows-per-key no
        # longer bounds wall-clock) | "sequential" (bit-exact recursion,
        # the escape hatch) | "scan" (force; requires vectorizedBatch) |
        # "distributedScan" (cross-TASK two-pass scan, operators/distscan.py:
        # a hot key spans #chunks tasks; scalar shape + eventTimeCol)
        "foldEngine": "auto",
        "scanChunkDuration": "1 hour",
        "distributedScanMaxGroups": 200_000,
    }

    def _scanEligible(self, c: dict) -> bool:
        # auto promotes the SCALAR information-form scan only: the n-D
        # scan wins big on hot keys (6.6x at K=1/T=100k, n=3) but loses
        # ~1.6x on many-short-key shapes (K>=512: 0.6x) — keep it
        # explicit opt-in for workloads that know their key shape
        return not c["hasPerRowCols"] and c["stateSize"] == 1

    def _bucketedFold(self, c: dict, engine: str):
        """Key-bucketed multi-key folds, time-synchronous across keys
        (operators/vectorized.py); param (not per-row) priors only."""
        if c["hasPerRowCols"] or not c["stateSize"]:
            return None
        if engine != "scan":
            return vectorized_rls_fold_factory
        if int(c["stateSize"]) == 1:
            return vectorized_scalar_rls_scan_fold_factory
        return vectorized_nd_rls_scan_fold_factory

    def _distributedTransform(self, c: dict):
        from artan_spark.operators import distscan

        return distscan.distributed_rls_transform

    def __init__(self, stateSize: int | None = None, **kwargs):
        super().__init__(**kwargs)
        if stateSize is not None:
            self._set("stateSize", int(stateSize))

    def setFeatureSize(self, value: int):
        return self._set("stateSize", int(value))

    def setInitialEstimateCol(self, value: str):
        return self._set("initialStateMeanCol", value)

    def setInitialEstimate(self, value):
        return self._set("initialStateMean", np.asarray(value, dtype=np.float64))

    def setRegularizationMatrixFactor(self, value: float):
        n = self.get("stateSize")
        return self._set("regularizationMatrix", float(value) * np.eye(n))

    def _constants(self) -> dict:
        n = self.get("stateSize")
        reg = self.get("regularizationMatrix")
        return {
            "stateSize": n,
            "forgettingFactor": float(self.get("forgettingFactor")),
            "initialStateMean": self.get("initialStateMean"),
            "regularizationMatrix": None if reg is None else np.atleast_2d(np.asarray(reg, dtype=np.float64)),
            "hasPerRowCols": bool(self.get("initialStateMeanCol") or self.get("regularizationMatrixCol")),
        }

    def _inputCols(self, df):
        from artan_spark.functions import auto_array

        cols = [
            ("label", F.col(self.get("labelCol")).cast("double")),
            ("features", auto_array(df, self.get("featuresCol"))),
        ]
        if self.get("initialStateMeanCol"):
            cols.append(("initialStateMean", auto_array(df, self.get("initialStateMeanCol"))))
        if self.get("regularizationMatrixCol"):
            cols.append(("regularizationMatrix", auto_array(df, self.get("regularizationMatrixCol"))))
        return cols

    def _outSchema(self):
        return rls_layout(self._constants()).schema

    def _stateSchema(self):
        return _STATE_SCHEMA

    def _foldFactory(self):
        return _rls_fold_factory

    @staticmethod
    def _packState(state):
        return (int(state["idx"]), state["mean"].tolist(), state["cov"].ravel().tolist())

    @staticmethod
    def _unpackState(packed):
        idx, mean, cov = packed
        mean = np.asarray(mean, dtype=np.float64)
        n = len(mean)
        return {"idx": int(idx), "mean": mean, "cov": np.asarray(cov, dtype=np.float64).reshape(n, n)}

    def _shapeOutput(self, df):
        layout = rls_layout(self._constants())
        df = df.select(STATE_KEY, "stateIndex", layout.gauss("m", "c").alias("state"), EVENT_TIME)
        return df if self.get("eventTimeCol") else df.drop(EVENT_TIME)
