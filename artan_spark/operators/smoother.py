"""Fixed-lag Rauch-Tung-Striebel smoother.

Parity: /root/reference/src/main/scala/com/github/ozancicek/artan/ml/smoother/
LinearKalmanSmoother.scala:50-199 — state is a queue of the last ``fixedLag``
filtered outputs; once full, every new row triggers a backward RTS recursion
over the whole queue, emitting ``lag`` smoothed rows (O(N·lag) output,
:161-181; recursion math :116-159; queue update :183-198).

Scale design departure: the reference composes TWO stateful passes (inner
LKF, then smoother) = two shuffles on the same key. Here both are **fused
into one** grouped fold — the filter step runs inline and feeds the RTS queue
directly, so a single ``groupBy(stateKey)`` shuffle covers filter + smoother
in batch and streaming alike.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from artan_spark import linalg
from artan_spark.operators.base import EVENT_TIME, STATE_KEY
from artan_spark.operators.codec import smoother_layout
from artan_spark.operators.kalman import _COL_PARAMS, KalmanBase, _row_mat, _row_vec
from artan_spark.operators.vectorized import (
    supports_scan,
    supports_scan_smoother,
    supports_vectorized,
    supports_vectorized_smoother,
    vectorized_nd_smoother_scan_fold_factory,
    vectorized_scalar_smoother_scan_fold_factory,
    vectorized_smoother_fold_factory,
)
from artan_spark.types import (
    VECTOR,
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_STATE_SCHEMA = StructType(
    [
        StructField("stateIndex", LongType()),
        StructField("mean", VECTOR),
        StructField("cov", ArrayType(DoubleType())),
        StructField("queueIdx", ArrayType(LongType())),
        StructField("queueMean", ArrayType(ArrayType(DoubleType()))),
        StructField("queueCov", ArrayType(ArrayType(DoubleType()))),
        StructField("queueF", ArrayType(ArrayType(DoubleType()))),
        StructField("queueQ", ArrayType(ArrayType(DoubleType()))),
        StructField("queueEv", ArrayType(LongType())),  # epoch micros, -1 = null
    ]
)


def _scalar_smoother_fold_factory(c: dict):
    """Scalar fast path: 1-D constant-model LKF + RTS queue recursion
    (the bench-dominant "many small local-level models" shape)."""
    lag = c["fixedLag"]
    f = float(c["processModel"][0, 0])
    q = float(c["processNoise"][0, 0])
    h = float(c["measurementModel"][0, 0])
    rr = float(c["measurementNoise"][0, 0])
    m0 = float(c["initialStateMean"][0])
    p0 = float(c["initialStateCovariance"][0, 0])
    fad2 = float(c["fadingFactor"]) ** 2
    layout = smoother_layout(c)

    def fold(pdf: pd.DataFrame, state):
        nrows = len(pdf)
        key = pdf[STATE_KEY].iloc[0] if nrows else ""
        zs = pdf["measurement"].values
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None

        if state is None:
            m, P, idx, queue = m0, p0, 0, []
        else:
            m, P = float(state["mean"][0]), float(state["cov"][0, 0])
            idx = state["idx"]
            # queue entries -> scalar tuples
            queue = [(e[0], float(e[1][0]), float(e[2][0, 0]), e[5]) for e in state["queue"]]

        o_idx, o_step, o_state, o_gain, o_ev, o_cov = [], [], [], [], [], []
        for i in range(nrows):
            m = f * m
            P = fad2 * ((f * P) * f) + q
            idx += 1
            z = zs[i]
            if z is not None:
                z0 = float(z[0])
                r = z0 - h * m
                S = (h * P) * h + rr
                K = (P * h) * (1.0 / S)
                m = m + K * r
                ikh = 1.0 - K * h
                P = (ikh * P) * ikh + (K * rr) * K
            ev_i = ev[i] if ev is not None else None
            queue.append((idx, m, P, ev_i))
            if len(queue) > lag:
                queue.pop(0)
            if len(queue) < lag:
                continue

            sm_m, sm_p = queue[-1][1], queue[-1][2]
            rows = [(queue[-1][0], 0, sm_m, sm_p, 0.0, queue[-1][3])]
            for step, j in enumerate(range(lag - 2, -1, -1), start=1):
                idx_j, m_j, P_j, ev_j = queue[j]
                nm = f * m_j
                nc = (f * P_j) * f + q
                g = (P_j * f) * (1.0 / nc)
                sm_m = m_j + g * (sm_m - nm)
                sm_p = P_j + (g * (sm_p - nc)) * g
                rows.append((idx_j, step, sm_m, sm_p, g, ev_j))
            for idx_j, step, mm, pp, g, ev_j in reversed(rows):
                o_idx.append(idx_j)
                o_step.append(step)
                o_state.append(mm)
                o_gain.append(g)
                o_ev.append(ev_j)
                o_cov.append(pp)

        out = layout.frame(
            len(o_idx),
            stateKey=key,
            stateIndex=np.array(o_idx, dtype=np.int64),
            stepIndex=np.array(o_step, dtype=np.int64),
            m=o_state,
            c=o_cov,
            g=o_gain,
            eventTime=o_ev,
        )
        state = {
            "idx": int(idx),
            "mean": np.array([m]),
            "cov": np.array([[P]]),
            "queue": [
                (e[0], np.array([e[1]]), np.array([[e[2]]]), np.array([[f]]), np.array([[q]]), e[3])
                for e in queue
            ],
        }
        return out, state

    return fold


def _is_scalar_smoother(c: dict) -> bool:
    return (
        c["stateSize"] == 1
        and c["measurementSize"] == 1
        and not c.get("perRowCols")
        and c.get("control") is None
    )


def _smoother_fold_factory(c: dict):
    if _is_scalar_smoother(c):
        return _scalar_smoother_fold_factory(c)
    lag = c["fixedLag"]
    n_state = c["stateSize"]
    fading = c["fadingFactor"]
    layout = smoother_layout(c)

    def fold(pdf: pd.DataFrame, state):
        nrows = len(pdf)
        key = pdf[STATE_KEY].iloc[0] if nrows else ""
        cols = {name: (pdf[name].values if name in pdf.columns else None) for name in _COL_PARAMS}
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None

        out = ([], [], [], [], [], [])  # stateIndex, stepIndex, m, c, g, eventTime

        for i in range(nrows):
            if state is None:
                mean = _row_vec(cols["initialStateMean"], i, c["initialStateMean"])
                cov = _row_mat(cols["initialStateCovariance"], i, c["initialStateCovariance"])
                state = {
                    "idx": 0,
                    "mean": np.asarray(mean if mean is not None else np.zeros(n_state), dtype=np.float64).ravel(),
                    "cov": np.asarray(cov if cov is not None else np.eye(n_state), dtype=np.float64),
                    "queue": [],
                }

            Fm = _row_mat(cols["processModel"], i, c["processModel"])
            Q = _row_mat(cols["processNoise"], i, c["processNoise"])
            H = _row_mat(cols["measurementModel"], i, c["measurementModel"])
            R = _row_mat(cols["measurementNoise"], i, c["measurementNoise"])
            B = _row_mat(cols["controlFunction"], i, c["controlFunction"])
            u = _row_vec(cols["control"], i, c["control"])
            z = _row_vec(cols["measurement"], i, None)
            ev_i = ev[i] if ev is not None else None

            m1, P1 = linalg.kf_predict(state["mean"], state["cov"], Fm, Q, B, u, fading)
            state["idx"] += 1
            if z is not None:
                m1, P1, _r, _s = linalg.kf_estimate(m1, P1, z, H, R)
            state["mean"], state["cov"] = m1, P1

            state["queue"].append((state["idx"], m1, P1, Fm, Q, ev_i))
            if len(state["queue"]) > lag:
                state["queue"].pop(0)
            if len(state["queue"]) < lag:
                continue

            # backward recursion, newest -> oldest; emit oldest-first like the
            # reference's prepend-fold (LinearKalmanSmoother.scala:161-181)
            q = state["queue"]
            rows = []
            sm_mean, sm_cov = q[-1][1], q[-1][2]
            rows.append((q[-1][0], 0, sm_mean, sm_cov, np.zeros((n_state, n_state)), q[-1][5]))
            for step, j in enumerate(range(lag - 2, -1, -1), start=1):
                idx_j, m_j, P_j, F_j, Q_j, ev_j = q[j]
                next_mean = F_j @ m_j
                next_cov = F_j @ P_j @ F_j.T + Q_j
                gain = P_j @ F_j.T @ linalg.pinv(next_cov)
                sm_mean = m_j + gain @ (sm_mean - next_mean)
                sm_cov = P_j + gain @ (sm_cov - next_cov) @ gain.T
                rows.append((idx_j, step, sm_mean, sm_cov, gain, ev_j))
            for row in reversed(rows):
                for o, v in zip(out, row):
                    o.append(v)

        o_idx, o_step, o_mean, o_cov, o_gain, o_ev = out
        frame = layout.frame(
            len(o_idx),
            stateKey=key,
            stateIndex=np.array(o_idx, dtype=np.int64),
            stepIndex=np.array(o_step, dtype=np.int64),
            m=np.reshape(o_mean, (-1, n_state)),
            c=np.reshape(o_cov, (-1, n_state, n_state)),
            g=np.reshape(o_gain, (-1, n_state, n_state)),
            eventTime=o_ev,
        )
        return frame, state

    return fold


def _ev_to_micros(v):
    if v is None or (isinstance(v, float) and np.isnan(v)) or (hasattr(v, "__class__") and pd.isna(v)):
        return -1
    return int(pd.Timestamp(v).value // 1000)


def _micros_to_ev(us):
    return None if us < 0 else pd.Timestamp(us * 1000)


class LinearKalmanSmoother(KalmanBase):
    """LKF + fixed-lag RTS smoother in one fused stateful pass."""

    _kind = "lkf"
    _defaults = {"fixedLag": 2}

    def _constants(self):
        c = super()._constants()
        c["fixedLag"] = int(self.get("fixedLag"))
        c["hasInitDistCol"] = bool(self.get("initialStateDistributionCol"))
        return c

    def _scanEligible(self, c):
        # SCALAR shape only: the scalar scan smoother wins or ties on every
        # measured (K, T) shape (0.33 vs 0.45 s even at K=2048/T=97; 3.6x
        # at one hot key). The n-D smoother scan stays explicit opt-in —
        # its forward pass is the n-D matrix scan, which only wins on
        # single-hot-key batches (K=1/T=100k: 2.4x) and loses 4-7x on
        # many-key shapes (K>=32: 0.15-0.28x).
        return supports_scan(c) and _is_scalar_smoother(c)

    def _bucketedFold(self, c: dict, engine: str):
        """Key-bucketed multi-key smoother folds (vectorized.py) emit the
        sequential smoother's layout. Every one runs the same
        anchor-vectorized backward window (``lag_windows``) after its
        forward pass: the time-synchronous LKF filter pass, or on the scan
        engine the parallel-scan forward pass (~1e-12 relative parity,
        tests/test_scan_engine.py)."""
        if engine == "scan":
            if supports_scan(c) and _is_scalar_smoother(c):
                return vectorized_scalar_smoother_scan_fold_factory
            if supports_scan_smoother(c):
                return vectorized_nd_smoother_scan_fold_factory
            raise ValueError(
                "foldEngine='scan' requires a constant-model smoother "
                "shape with fadingFactor=1 (no control or per-row "
                "columns) — use the sequential engine for this "
                "configuration"
            )
        if supports_vectorized(c) and supports_vectorized_smoother(c):
            return vectorized_smoother_fold_factory
        return None

    def _outSchema(self):
        return smoother_layout(self._constants()).schema

    def _stateSchema(self):
        return _STATE_SCHEMA

    def _foldFactory(self):
        return _smoother_fold_factory

    @staticmethod
    def _packState(state):
        q = state["queue"]
        return (
            int(state["idx"]),
            state["mean"].tolist(),
            state["cov"].ravel().tolist(),
            [int(e[0]) for e in q],
            [e[1].tolist() for e in q],
            [e[2].ravel().tolist() for e in q],
            [e[3].ravel().tolist() for e in q],
            [e[4].ravel().tolist() for e in q],
            [_ev_to_micros(e[5]) for e in q],
        )

    @staticmethod
    def _unpackState(packed):
        idx, mean, cov, q_idx, q_mean, q_cov, q_f, q_q, q_ev = packed
        mean = np.asarray(mean, dtype=np.float64)
        n = len(mean)
        queue = [
            (
                int(q_idx[j]),
                np.asarray(q_mean[j], dtype=np.float64),
                np.asarray(q_cov[j], dtype=np.float64).reshape(n, n),
                np.asarray(q_f[j], dtype=np.float64).reshape(n, n),
                np.asarray(q_q[j], dtype=np.float64).reshape(n, n),
                _micros_to_ev(q_ev[j]),
            )
            for j in range(len(q_idx))
        ]
        return {
            "idx": int(idx),
            "mean": mean,
            "cov": np.asarray(cov, dtype=np.float64).reshape(n, n),
            "queue": queue,
        }

    def _shapeOutput(self, df):
        c = self._constants()
        layout = smoother_layout(c)
        n = int(c["stateSize"])
        # the public type declares the fields of the general shapes nullable
        general = not _is_scalar_smoother(c)
        df = df.select(
            STATE_KEY,
            "stateIndex",
            "stepIndex",
            layout.gauss("m", "c", nullable=general).alias("state"),
            layout.mat("g", n, n, nullable=general).alias("rtsGain"),
            EVENT_TIME,
        )
        return df if self.get("eventTimeCol") else df.drop(EVENT_TIME)
