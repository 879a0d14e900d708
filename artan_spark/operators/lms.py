"""Normalized least mean squares filter.

Parity: /root/reference/src/main/scala/com/github/ozancicek/artan/ml/filter/
LeastMeanSquaresFilter.scala:53-224 (update :171-190; defaults learningRate=1.0,
regularizationConstant=1.0 :201,213). State is a plain vector.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from artan_spark import linalg
from artan_spark.operators.base import EVENT_TIME, STATE_KEY, StatefulTransformer
from artan_spark.operators.vectorized import (
    _lms_frame,
    check_width,
    vectorized_lms_fold_factory,
    vectorized_scalar_lms_scan_fold_factory,
)
from artan_spark.types import (
    VECTOR,
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    np_to_vec,
    vec_to_np,
)

_OUT_SCHEMA = StructType(
    [
        StructField(STATE_KEY, StringType()),
        StructField("stateIndex", LongType()),
        # NaN arrives from Arrow as NULL, so the elements are nullable
        StructField("state", ArrayType(DoubleType())),
        StructField(EVENT_TIME, TimestampType(), True),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("stateIndex", LongType()),
        StructField("mean", VECTOR),
    ]
)


def _lms_fold_factory(c: dict):
    lr, reg = c["learningRate"], c["regularizationConstant"]

    def fold(pdf: pd.DataFrame, state):
        key = pdf[STATE_KEY].iloc[0] if len(pdf) else ""
        labels = pdf["label"].values
        feats = pdf["features"].values
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None
        init_col = pdf["initialState"].values if "initialState" in pdf.columns else None

        o_idx, o_state = [], []
        for i in range(len(pdf)):
            if state is None:
                mean = c["initialState"]
                if init_col is not None and init_col[i] is not None:
                    mean = vec_to_np(init_col[i])
                if mean is None:
                    mean = np.zeros(len(vec_to_np(feats[i])))
                state = {"idx": 0, "mean": np.asarray(mean, dtype=np.float64).ravel()}
            x = vec_to_np(feats[i])
            check_width(len(x), len(state["mean"]))
            state["mean"] = linalg.lms_update(state["mean"], float(labels[i]), x, lr, reg)
            state["idx"] += 1
            o_idx.append(state["idx"])
            o_state.append(np_to_vec(state["mean"]))
        return _lms_frame(key, o_idx, o_state, ev), state

    return fold


class LeastMeanSquaresFilter(StatefulTransformer):
    _defaults = {
        "labelCol": "label",
        "featuresCol": "features",
        "learningRate": 1.0,
        "regularizationConstant": 1.0,
        "initialState": None,
        "initialStateCol": None,
        "vectorizedBatch": False,
        "vectorizedBuckets": None,
        # "auto" (default): 1-D affine scan in batch mode when the shape is
        # provably scalar (initialState of length 1; ~1e-12 parity) |
        # "sequential" (bit-exact, the escape hatch; also when initialState
        # is None — the feature dim is unknowable before the data) |
        # "scan" (force; requires vectorizedBatch) | "distributedScan"
        # (cross-TASK two-pass scan, operators/distscan.py: a hot key spans
        # #chunks tasks; provably-1-D shape + eventTimeCol)
        "foldEngine": "auto",
        "scanChunkDuration": "1 hour",
        "distributedScanMaxGroups": 200_000,
    }

    def setInitialEstimate(self, value):
        return self._set("initialState", np.asarray(value, dtype=np.float64))

    def _scanEligible(self, c: dict) -> bool:
        init = c["initialState"]
        return init is not None and len(init) == 1 and not self.get("initialStateCol")

    def _bucketedFold(self, c: dict, engine: str):
        """Key-bucketed multi-key folds, time-synchronous across keys
        (operators/vectorized.py). Every LMS engine emits the public
        schema itself: the state width is unknown before the data when
        initialState is None, so the state crosses as one array cell."""
        if self.get("initialStateCol"):
            return None
        if engine != "scan":
            return vectorized_lms_fold_factory
        init = c["initialState"]
        if init is not None and len(init) != 1:
            raise ValueError(
                "foldEngine='scan' supports the 1-D LMS shape only — "
                "use the sequential engine for n-D feature vectors"
            )
        return vectorized_scalar_lms_scan_fold_factory

    def _distributedTransform(self, c: dict):
        from artan_spark.operators import distscan

        return distscan.distributed_lms_transform

    def _constants(self):
        init = self.get("initialState")
        return {
            "learningRate": float(self.get("learningRate")),
            "regularizationConstant": float(self.get("regularizationConstant")),
            "initialState": None if init is None else np.asarray(init, dtype=np.float64).ravel(),
        }

    def _inputCols(self, df):
        from artan_spark.functions import auto_array

        cols = [
            ("label", F.col(self.get("labelCol")).cast("double")),
            ("features", auto_array(df, self.get("featuresCol"))),
        ]
        if self.get("initialStateCol"):
            cols.append(("initialState", auto_array(df, self.get("initialStateCol"))))
        return cols

    def _outSchema(self):
        return _OUT_SCHEMA

    def _stateSchema(self):
        return _STATE_SCHEMA

    def _foldFactory(self):
        return _lms_fold_factory

    @staticmethod
    def _packState(state):
        return (int(state["idx"]), state["mean"].tolist())

    @staticmethod
    def _unpackState(packed):
        idx, mean = packed
        return {"idx": int(idx), "mean": np.asarray(mean, dtype=np.float64)}

    def _shapeOutput(self, df):
        return df if self.get("eventTimeCol") else df.drop(EVENT_TIME)
