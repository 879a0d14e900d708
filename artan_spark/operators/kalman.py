"""Kalman-family filters: LKF / EKF / UKF / CKF.

Semantics-parity targets in the reference (no code reuse — numpy re-derivation):
- KalmanBase param surface + input canonicalization:
  /root/reference/src/main/scala/com/github/ozancicek/artan/ml/filter/KalmanBase.scala:37-234,505-525
- LKF predict/estimate (pinv gain, Joseph form): .../filter/LinearKalmanFilter.scala:168-259
- EKF function params: .../filter/ExtendedKalmanFilter.scala:220-274, FilterParams.scala:327-500
- UKF sigma points (Merwe/Julier) + unscented transform: .../filter/UnscentedKalmanFilter.scala:367-472
- CKF cubature points: .../filter/CubatureKalmanFilter.scala:231-279
- missing measurement => predict-only (KalmanBase.scala:595-601)
- multiStepPredict => n+1 rows, stepIndex 0..n (KalmanBase.scala:553-579)
- stateIndex increments on predict (LinearKalmanFilter.scala:197)
- loglikelihood/mahalanobis/slidingLikelihood outputs (KalmanBase.scala:359-367,558,611-631)
- MMAE aggregation (KalmanBase.scala:474-503) lives in operators/mmae.py

Every model parameter is **constant-or-column** (column overrides constant),
like the reference — but constants ride the UDF closure instead of being
materialized per row, so the Arrow exchange only carries true per-row data
(a deliberate scale improvement over the reference's literal-default-UDF
columns, KalmanBase.scala:505-525).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from artan_spark import linalg
from artan_spark.operators.base import EVENT_TIME, STATE_KEY, StatefulTransformer
from artan_spark.operators.codec import kalman_layout
from artan_spark.operators.vectorized import (
    flat_input_projection,
    supports_scalar_sigma,
    supports_scalar_vectorized,
    supports_scan,
    supports_scan_general,
    supports_vectorized,
    vectorized_ekf_fold_factory,
    vectorized_lkf_fold_factory,
    vectorized_lkf_scan_fold_factory,
    vectorized_scalar_lkf_fold_factory,
    vectorized_scalar_lkf_scan_fold_factory,
    vectorized_scalar_sigma_fold_factory,
    vectorized_sigma_fold_factory,
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
        StructField("cov", ArrayType(DoubleType())),  # row-major flattened
        StructField("llWindow", ArrayType(DoubleType())),
        StructField("adaptiveNoise", ArrayType(DoubleType()), True),
    ]
)

# per-row column params and their matching constant params
_COL_PARAMS = {
    "measurement": ("measurementCol", None),
    "measurementModel": ("measurementModelCol", "measurementModel"),
    "measurementNoise": ("measurementNoiseCol", "measurementNoise"),
    "processModel": ("processModelCol", "processModel"),
    "processNoise": ("processNoiseCol", "processNoise"),
    "control": ("controlCol", "control"),
    "controlFunction": ("controlFunctionCol", "controlFunction"),
    "initialStateMean": ("initialStateMeanCol", "initialStateMean"),
    "initialStateCovariance": ("initialStateCovarianceCol", "initialStateCovariance"),
    "initialStateDistribution": ("initialStateDistributionCol", None),
}


def _np_or_none(v, to):
    return None if v is None else to(v)


def _row_mat(cells, i, const):
    """Per-row matrix if the column exists & non-null, else the constant."""
    if cells is not None:
        v = cells[i]
        if v is not None:
            return mat_to_np(v)
    return const


def _row_vec(cells, i, const):
    if cells is not None:
        v = cells[i]
        if v is not None and not (np.isscalar(v) and pd.isna(v)):
            return vec_to_np(v)
    return const


def _scalar_lkf_fold_factory(c: dict):
    """Fast path for the dominant production shape: 1-D linear local-level
    filters with constant models ("many small systems", reference
    README.md:19-25). Pure-scalar recursion — ~50-100x less per-row overhead
    than the general numpy path; same formulas (Joseph form, pinv==1/S)."""
    import math

    f = float(c["processModel"][0, 0])
    q = float(c["processNoise"][0, 0])
    h = float(c["measurementModel"][0, 0])
    rr = float(c["measurementNoise"][0, 0])
    m0 = float(c["initialStateMean"][0])
    p0 = float(c["initialStateCovariance"][0, 0])
    fad2 = float(c["fadingFactor"]) ** 2
    ll_window = c["slidingLikelihoodWindow"]
    compute_ll = c["calculateLoglikelihood"] or c["calculateSlidingLikelihood"]
    compute_maha = c["calculateMahalanobis"]
    LOG2PI = math.log(2.0 * math.pi)
    layout = kalman_layout(c)

    def fold(pdf: pd.DataFrame, state):
        nrows = len(pdf)
        key = pdf[STATE_KEY].iloc[0] if nrows else ""
        zs = pdf["measurement"].values
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None
        init_cells = pdf["initialStateDistribution"].values if "initialStateDistribution" in pdf.columns else None

        from collections import deque

        if state is None:
            m, P, idx = m0, p0, 0
            llw = deque(maxlen=ll_window)
            if init_cells is not None and nrows and init_cells[0] is not None:
                d = init_cells[0]
                if isinstance(d, dict):
                    m, P = float(d["mean"][0]), float(d["covariance"]["values"][0])
                else:
                    m, P = float(d.mean[0]), float(d.covariance.values[0])
        else:
            m, P = float(state["mean"][0]), float(state["cov"][0, 0])
            idx = state["idx"]
            llw = deque(state["ll"], maxlen=ll_window)

        o_idx = np.empty(nrows, dtype=np.int64)
        o_mean = np.empty(nrows)
        o_cov = np.empty(nrows)
        o_res = np.full(nrows, np.nan)
        o_rescov = np.full(nrows, np.nan)
        o_ll = np.full(nrows, np.nan)
        o_maha = np.full(nrows, np.nan)
        o_sll = np.full(nrows, np.nan)

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
                o_res[i] = r
                o_rescov[i] = S
                if compute_ll:
                    ell = math.sqrt(S)
                    ll = -0.5 * (LOG2PI + 2.0 * math.log(ell) + (r / ell) ** 2)
                    o_ll[i] = ll
                    # deque(maxlen) evicts the oldest on append — no per-row
                    # slice allocation; sum() iterates oldest->newest, the
                    # SAME IEEE order as the previous list formulation
                    llw.append(ll)
                    o_sll[i] = math.exp(sum(llw))
                if compute_maha:
                    o_maha[i] = math.sqrt(max((r * r) / S, 0.0))
            o_idx[i] = idx
            o_mean[i] = m
            o_cov[i] = P

        out = layout.frame(
            nrows,
            stateKey=key,
            stateIndex=o_idx,
            stepIndex=0,
            m=o_mean,
            c=o_cov,
            r=o_res,
            rc=o_rescov,
            eventTime=ev,
            loglikelihood=o_ll,
            mahalanobis=o_maha,
            slidingLikelihood=o_sll,
        )
        state = {
            "idx": int(idx),
            "mean": np.array([m]),
            "cov": np.array([[P]]),
            "ll": list(llw),
            "Qa": None,
        }
        return out, state

    return fold


def _is_scalar_lkf(c: dict) -> bool:
    return (
        c["kind"] == "lkf"
        and c["stateSize"] == 1
        and c["measurementSize"] == 1
        and not c.get("perRowCols")
        and c["multiStepPredict"] == 0
        and c.get("control") is None
        and not c.get("outputSystemMatrices")
    )


def _kalman_fold_factory(c: dict):
    """Build the per-group fold shared by batch & streaming paths."""

    if _is_scalar_lkf(c):
        return _scalar_lkf_fold_factory(c)

    from artan_spark.params import deserialize_callable

    c = dict(c)
    for key in (
        "processFunction",
        "processStateJacobian",
        "processNoiseJacobian",
        "measurementFunction",
        "measurementStateJacobian",
        "measurementNoiseJacobian",
    ):
        if key in c:
            c[key] = deserialize_callable(c[key])

    kind = c["kind"]
    n_state = c["stateSize"]
    multi_step = c["multiStepPredict"]
    fading = c["fadingFactor"]
    ll_window = c["slidingLikelihoodWindow"]
    compute_ll = c["calculateLoglikelihood"] or c["calculateSlidingLikelihood"]
    compute_maha = c["calculateMahalanobis"]
    mdim = c["measurementSize"]
    emit_sysmat = c.get("outputSystemMatrices")
    layout = kalman_layout(c)
    batched_fns = bool(c.get("vectorizedFunctions"))
    # the batched folds pass a per-row measurementModel column as a stack
    h_stack = "measurementModel" in (c.get("perRowCols") or ())

    def call(fn, m, model, stack=False):
        """User function ``fn`` at state ``m``. With vectorizedFunctions it
        follows the batched folds' contract: it takes a (1, n) state stack
        (and the model as a stack of one where they pass a stack) and
        returns a stack of one."""
        if not batched_fns:
            return fn(m, model)
        return np.asarray(fn(m[None], model[None] if stack else model), dtype=np.float64)[0]

    def call_points(fn, pts, model, stack=False):
        """``fn`` at every sigma point: one call on the (p, n) stack with
        vectorizedFunctions (a model stack repeats the model per point),
        else one call per point."""
        if not batched_fns:
            return np.stack([np.asarray(fn(p, model), dtype=np.float64).ravel() for p in pts])
        models = np.broadcast_to(model, (len(pts), *model.shape)) if stack else model
        return np.asarray(fn(pts, models), dtype=np.float64).reshape(len(pts), -1)

    def predict(m, P, Fm, Q, B, u):
        if kind == "lkf":
            return linalg.kf_predict(m, P, Fm, Q, B, u, fading)
        if kind == "ekf":
            pf, pj, pnj = c["processFunction"], c["processStateJacobian"], c["processNoiseJacobian"]
            m1 = call(pf, m, Fm) if pf is not None else Fm @ m
            if B is not None and u is not None:
                m1 = m1 + B @ u
            Fj = call(pj, m, Fm) if pj is not None else Fm
            Qe = Q
            if pnj is not None:
                L = call(pnj, m, Q)
                Qe = L @ Q @ L.T
            P1 = (fading**2) * (Fj @ P @ Fj.T) + Qe
            return np.asarray(m1, dtype=np.float64).ravel(), linalg.sym(P1)
        # sigma-point family
        pf = c["processFunction"]
        pts, wm, wc = _points(kind, c, m, P)
        if pf is not None:
            prop = call_points(pf, pts, Fm)
        else:
            prop = pts @ Fm.T
        if B is not None and u is not None:
            prop = prop + B @ u
        m1, P1 = linalg.unscented_transform(prop, wm, wc, Q)
        if fading != 1.0:
            P1 = (fading**2) * (P1 - Q) + Q
        return m1, linalg.sym(P1)

    def estimate(m, P, z, H, R):
        if kind == "lkf":
            m1, P1, r, S = linalg.kf_estimate(
                m, P, z, H, R, c.get("linalgOptions", linalg.DEFAULT_OPTIONS)
            )
            return m1, P1, r, S, None
        if kind == "ekf":
            mf, mj, mnj = c["measurementFunction"], c["measurementStateJacobian"], c["measurementNoiseJacobian"]
            zhat = np.asarray(call(mf, m, H, h_stack), dtype=np.float64).ravel() if mf is not None else H @ m
            Hj = call(mj, m, H, h_stack) if mj is not None else H
            Re = R
            if mnj is not None:
                L = call(mnj, m, R)
                Re = L @ R @ L.T
            r = z - zhat
            S = linalg.sym(Hj @ P @ Hj.T + Re)
            K = P @ Hj.T @ linalg.pinv(S, c.get("linalgOptions", linalg.DEFAULT_OPTIONS))
            m1 = m + K @ r
            ikh = np.eye(len(m)) - K @ Hj
            P1 = ikh @ P @ ikh.T + K @ Re @ K.T
            return m1, linalg.sym(P1), r, S, K
        mf = c["measurementFunction"]
        pts, wm, wc = _points(kind, c, m, P)
        if mf is not None:
            zpts = call_points(mf, pts, H, stack=True)
        else:
            zpts = pts @ H.T
        zmean, S = linalg.unscented_transform(zpts, wm, wc, R)
        cross = ((pts - m) * wc[:, None]).T @ (zpts - zmean)
        K = cross @ linalg.pinv(S)
        r = z - zmean
        m1 = m + K @ r
        P1 = P - K @ S @ K.T
        return m1, linalg.sym(P1), r, S, K

    def fold(pdf: pd.DataFrame, state):
        nrows = len(pdf)
        cols = {name: (pdf[name].values if name in pdf.columns else None) for name in _COL_PARAMS}
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None
        key = pdf[STATE_KEY].iloc[0] if nrows else ""

        # one output row per input row and forecast step
        rows = nrows * (1 + multi_step)
        o_row = np.empty(rows, dtype=np.int64)
        o_idx = np.empty(rows, dtype=np.int64)
        o_step = np.empty(rows, dtype=np.int64)
        o_mean = np.empty((rows, n_state))
        o_cov = np.empty((rows, n_state, n_state))
        o_res = np.full((rows, mdim), np.nan)
        o_rescov = np.full((rows, mdim, mdim), np.nan)
        o_ll = np.full(rows, np.nan)
        o_maha = np.full(rows, np.nan)
        o_sll = np.full(rows, np.nan)
        # resolved per-row F, Q, H (KalmanBase.scala:403-418)
        sysmats = (
            tuple(np.empty((rows, r, n_state)) for r in (n_state, n_state, mdim))
            if emit_sysmat
            else None
        )
        w = 0

        def emit(i, step, m, P, sysmat):
            nonlocal w
            o_row[w], o_idx[w], o_step[w] = i, state["idx"], step
            o_mean[w], o_cov[w] = m, P
            if sysmat:
                for o, v in zip(sysmats, sysmat):
                    o[w] = v
            w += 1

        for i in range(nrows):
            if state is None:
                mean = _row_vec(cols["initialStateMean"], i, c["initialStateMean"])
                cov = _row_mat(cols["initialStateCovariance"], i, c["initialStateCovariance"])
                dist_cells = cols["initialStateDistribution"]
                if dist_cells is not None and dist_cells[i] is not None:
                    d = dist_cells[i]
                    mean = vec_to_np(d["mean"] if isinstance(d, dict) else d.mean)
                    cov = mat_to_np(d["covariance"] if isinstance(d, dict) else d.covariance)
                if mean is None:
                    mean = np.zeros(n_state)
                if cov is None:
                    cov = np.eye(n_state)
                state = {
                    "idx": 0,
                    "mean": np.asarray(mean, dtype=np.float64).ravel(),
                    "cov": np.asarray(cov, dtype=np.float64),
                    "ll": [],
                    "Qa": None,
                }

            Fm = _row_mat(cols["processModel"], i, c["processModel"])
            Q = _row_mat(cols["processNoise"], i, c["processNoise"])
            H = _row_mat(cols["measurementModel"], i, c["measurementModel"])
            R = _row_mat(cols["measurementNoise"], i, c["measurementNoise"])
            B = _row_mat(cols["controlFunction"], i, c["controlFunction"])
            u = _row_vec(cols["control"], i, c["control"])
            z = _row_vec(cols["measurement"], i, None)

            # adaptive process noise (RAUKF) overrides the configured Q once
            # triggered (UnscentedKalmanFilter.scala:238-267)
            Q_eff = state["Qa"] if state.get("Qa") is not None else Q

            # stateIndex increments on predict (LinearKalmanFilter.scala:197)
            m1, P1 = predict(state["mean"], state["cov"], Fm, Q_eff, B, u)
            state["idx"] += 1
            ll = maha = sll = None
            resid = None
            if z is not None:
                m1, P1, r, S, K = estimate(m1, P1, z, H, R)
                resid = (r, S)
                if c.get("adaptiveProcessNoise") and K is not None:
                    sq_mah = linalg.squared_mahalanobis(r, S)
                    thresh = c["adaptiveProcessNoiseThreshold"]
                    if sq_mah > thresh:
                        weight = max(
                            c["adaptiveProcessNoiseLambda"],
                            (sq_mah - c["adaptiveProcessNoiseAlpha"] * thresh) / sq_mah,
                        )
                        update = weight * np.outer(r, r)
                        state["Qa"] = K @ update @ K.T + (1.0 - weight) * Q_eff
                if compute_ll:
                    ll = linalg.mvn_logpdf(r, np.zeros(len(r)), S)
                    state["ll"] = (state["ll"] + [ll])[-ll_window:]
                    sll = float(np.exp(np.sum(state["ll"])))
                if compute_maha:
                    maha = linalg.mahalanobis(r, S)
            state["mean"], state["cov"] = m1, P1

            sysmat = (Fm, Q_eff, H) if emit_sysmat else None
            if resid is not None:
                o_res[w], o_rescov[w] = resid
            if ll is not None:
                o_ll[w], o_sll[w] = ll, sll
            if maha is not None:
                o_maha[w] = maha
            emit(i, 0, m1, P1, sysmat)
            # multi-step forecast: extra predicts, state untouched
            fm, fP = m1, P1
            for step in range(1, multi_step + 1):
                fm, fP = predict(fm, fP, Fm, Q_eff, B, u)
                emit(i, step, fm, fP, sysmat)

        pm, pn, mm = sysmats or (None, None, None)
        out = layout.frame(
            rows,
            stateKey=key,
            stateIndex=o_idx,
            stepIndex=o_step,
            m=o_mean,
            c=o_cov,
            r=o_res,
            rc=o_rescov,
            pm=pm,
            pn=pn,
            mm=mm,
            eventTime=ev[o_row] if ev is not None else None,
            loglikelihood=o_ll,
            mahalanobis=o_maha,
            slidingLikelihood=o_sll,
        )
        return out, state

    return fold


def _session_linalg_options():
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if sess is None:
        return linalg.DEFAULT_OPTIONS
    return linalg.options_from_conf(sess)


def _points(kind, c, m, P):
    ops = c.get("linalgOptions", linalg.DEFAULT_OPTIONS)
    if kind == "ckf":
        pts, wm, wc = linalg.cubature_points(m, P, ops)
    elif c["sigmaPoints"] == "julier":
        pts, wm, wc = linalg.julier_sigma_points(m, P, c["kappa"], ops)
    else:
        pts, wm, wc = linalg.merwe_sigma_points(m, P, c["alpha"], c["beta"], c["kappa"], ops)
    # optional elementwise sigma-point clipping
    # (UnscentedKalmanFilter.scala:347-362 applyBounds)
    lb, ub = c.get("sigmaPointLowerBound"), c.get("sigmaPointUpperBound")
    if lb is not None or ub is not None:
        pts = np.clip(pts, lb if lb is not None else -np.inf, ub if ub is not None else np.inf)
    return pts, wm, wc


class KalmanBase(StatefulTransformer):
    """Shared param surface + plumbing for the Kalman family."""

    _kind = "lkf"
    _batchOnlyHint = (
        " (streaming micro-batches are rows-per-trigger-bound, not "
        "rows-per-key-bound, so the scan buys nothing there)"
    )

    _defaults = {
        "stateSize": None,
        "measurementSize": None,
        "initialStateMean": None,
        "initialStateCovariance": None,
        "initialStateMeanCol": None,
        "initialStateCovarianceCol": None,
        "initialStateDistributionCol": None,
        "measurementCol": "measurement",
        "measurementModel": None,
        "measurementModelCol": None,
        "measurementNoise": None,
        "measurementNoiseCol": None,
        "processModel": None,
        "processModelCol": None,
        "processNoise": None,
        "processNoiseCol": None,
        "control": None,
        "controlCol": None,
        "controlFunction": None,
        "controlFunctionCol": None,
        "fadingFactor": 1.0,
        "multiStepPredict": 0,
        "calculateLoglikelihood": False,
        "calculateMahalanobis": False,
        "calculateSlidingLikelihood": False,
        "slidingLikelihoodWindow": 1,
        "outputResiduals": True,
        "outputSystemMatrices": False,
        "vectorizedBatch": False,
        "vectorizedBuckets": None,
        # batch fold engine:
        #   "auto"       (default) parallel-scan on scan-expressible linear
        #                shapes in batch mode (Särkkä & García-Fernández
        #                2021 — O(log n) depth per key instead of the
        #                rows-per-key-bound recursion; ~1e-12 relative
        #                parity), sequential otherwise
        #   "sequential" bit-exact recursion (the escape hatch; also the
        #                only streaming engine)
        #   "scan"       force the scan; errors on unsupported shapes
        #                (requires vectorizedBatch, batch input)
        #   "distributedScan"
        #                two-pass cross-task scan (operators/distscan.py):
        #                chunk by event time, per-chunk combine, tiny
        #                driver prefix, seeded finalize — a hot key spans
        #                MANY tasks instead of one. Batch + eventTimeCol +
        #                the scan shape minus sliding likelihood.
        "foldEngine": "auto",
        # distributedScan chunking: one (key, chunk) group per this much
        # event time; size it so chunks carry >= ~100k rows (two shuffles
        # amortize over chunk width, driver prefix is O(#chunks))
        "scanChunkDuration": "1 hour",
        # hard cap on driver prefix state (one 80-byte summary per
        # (key, chunk) group); exceeding it errors with guidance
        "distributedScanMaxGroups": 200_000,
        "multipleModelAdaptiveEstimationEnabled": False,
        "multipleModelMeasurementWindowDuration": None,
    }

    def transform(self, df: DataFrame) -> DataFrame:
        mmae = bool(self.get("multipleModelAdaptiveEstimationEnabled"))
        sll_forced = mmae and not self.get("calculateSlidingLikelihood")
        if sll_forced:
            # MMAE needs sliding likelihood (KalmanBase.scala:477-479);
            # restored below so the flag does not leak into later transforms
            self._set("calculateSlidingLikelihood", True)
        try:
            out = super().transform(df)
        finally:
            if sll_forced:
                self._set("calculateSlidingLikelihood", False)
        if mmae:
            from artan_spark.operators.mmae import mmae_aggregate

            return mmae_aggregate(
                out,
                self.get("stateSize"),
                self.get("multipleModelMeasurementWindowDuration"),
            )
        return out

    def __init__(self, stateSize: int | None = None, measurementSize: int | None = None, **kwargs):
        # sizes may also be set via setStateSize/setMeasurementSize, like the
        # reference's no-arg constructors (python/artan/filter/*.py)
        super().__init__(**kwargs)
        if stateSize is not None:
            self._set("stateSize", int(stateSize))
        if measurementSize is not None:
            self._set("measurementSize", int(measurementSize))

    # -- defaults mirroring the reference (identity models, eye noises) ----

    def _mat(self, name, default):
        v = self.get(name)
        if v is None:
            return default
        return np.atleast_2d(np.asarray(v, dtype=np.float64))

    def _vecParam(self, name, default):
        v = self.get(name)
        if v is None:
            return default
        return np.asarray(v, dtype=np.float64).ravel()

    def _constants(self) -> dict:
        n, m = self.get("stateSize"), self.get("measurementSize")
        c = {
            "kind": self._kind,
            "stateSize": n,
            "measurementSize": m,
            "initialStateMean": self._vecParam("initialStateMean", np.zeros(n)),
            "initialStateCovariance": self._mat("initialStateCovariance", np.eye(n)),
            "measurementModel": self._mat("measurementModel", np.eye(m, n)),
            "measurementNoise": self._mat("measurementNoise", np.eye(m)),
            "processModel": self._mat("processModel", np.eye(n)),
            "processNoise": self._mat("processNoise", np.eye(n)),
            "control": self._vecParam("control", None),
            "controlFunction": self._mat("controlFunction", None),
            "fadingFactor": float(self.get("fadingFactor")),
            # read at plan time and shipped into the fold, the reference's
            # StatefulTransformer.scala:183-185 contract (default =
            # numpy's dgesdd path, numerics unchanged)
            "linalgOptions": _session_linalg_options(),
            "multiStepPredict": int(self.get("multiStepPredict")),
            "calculateLoglikelihood": bool(self.get("calculateLoglikelihood")),
            "calculateMahalanobis": bool(self.get("calculateMahalanobis")),
            "calculateSlidingLikelihood": bool(self.get("calculateSlidingLikelihood")),
            "slidingLikelihoodWindow": int(self.get("slidingLikelihoodWindow")),
            "outputSystemMatrices": bool(self.get("outputSystemMatrices")),
            # model params supplied per-row (disqualifies the scalar fast path;
            # initialStateDistributionCol is handled by both paths)
            "perRowCols": [
                name
                for name, (col_param, _c) in _COL_PARAMS.items()
                if name not in ("measurement", "initialStateDistribution") and self.get(col_param)
            ],
        }
        from artan_spark.params import serialize_callable

        for key in (
            "processFunction",
            "processStateJacobian",
            "processNoiseJacobian",
            "measurementFunction",
            "measurementStateJacobian",
            "measurementNoiseJacobian",
        ):
            c[key] = serialize_callable(self._paramMap.get(key))
        for key in (
            "alpha",
            "beta",
            "kappa",
            "sigmaPoints",
            "adaptiveProcessNoise",
            "adaptiveProcessNoiseThreshold",
            "adaptiveProcessNoiseLambda",
            "adaptiveProcessNoiseAlpha",
            "vectorizedFunctions",
        ):
            c[key] = self._paramMap.get(key)
        for key in ("sigmaPointLowerBound", "sigmaPointUpperBound"):
            v = self._paramMap.get(key)
            c[key] = None if v is None else np.asarray(v, dtype=np.float64).ravel()
        return c

    def _inputCols(self, df: DataFrame) -> list[tuple[str, Column]]:
        from artan_spark.functions import auto_array

        cols = []
        for name, (col_param, _const) in _COL_PARAMS.items():
            if name == "measurement":
                mc = self.get("measurementCol")
                if mc and mc in df.columns:
                    cols.append((name, auto_array(df, mc)))
                continue
            cp = self.get(col_param)
            if cp:
                cols.append((name, auto_array(df, cp)))
        return cols

    def _outSchema(self):
        return kalman_layout(self._constants()).schema

    def _stateSchema(self):
        return _STATE_SCHEMA

    def _foldFactory(self):
        return _kalman_fold_factory

    @staticmethod
    def _packState(state) -> tuple:
        qa = state.get("Qa")
        return (
            int(state["idx"]),
            state["mean"].tolist(),
            state["cov"].ravel().tolist(),
            list(state["ll"]),
            None if qa is None else qa.ravel().tolist(),
        )

    @staticmethod
    def _unpackState(packed):
        idx, mean, cov, ll, qa = packed
        mean = np.asarray(mean, dtype=np.float64)
        n = len(mean)
        return {
            "idx": int(idx),
            "mean": mean,
            "cov": np.asarray(cov, dtype=np.float64).reshape(n, n),
            "ll": list(ll),
            "Qa": None if qa is None else np.asarray(qa, dtype=np.float64).reshape(n, n),
        }

    def _scanEligible(self, c: dict) -> bool:
        """Shapes the auto engine promotes to the parallel-scan fold: the
        SCALAR constant-model LKF only (supports_scan). The n-D matrix scan
        (supports_scan_general) stays explicit opt-in: its log2(N) batched
        LAPACK passes cost more than the time-synchronous fold on every
        measured shape of this container (in-process A/B, n=3, N=200k:
        K=1 0.39x, K=32 0.02x, K=512 0.02x — the r12 lkf_ols sf1.0
        regression, 163 s vs ~30 s), while the scalar scan's elementwise
        passes win 1.5-33x for chains >=3k rows and lose at most ~1.4x on
        many-short-key shapes (K=4096/T=48: 0.72x). Sigma-point filters
        and EKF-with-callables have no scan element at all."""
        return supports_scan(c)

    def _bucketedFold(self, c: dict, engine: str):
        if engine == "scan":
            if supports_scan(c):
                return vectorized_scalar_lkf_scan_fold_factory
            if supports_scan_general(c):
                # n-D matrix-element scan (incl. per-row measurementModel —
                # the OLS regression shape)
                return vectorized_lkf_scan_fold_factory
            raise ValueError(
                "foldEngine='scan' requires a constant-model LKF shape "
                "with fadingFactor=1 (no EKF callables, control, "
                "multi-step predict, or sliding likelihood) — use the "
                "sequential engine for this configuration"
            )
        if not supports_vectorized(c):
            return None
        if supports_scalar_vectorized(c):
            return vectorized_scalar_lkf_fold_factory
        if supports_scalar_sigma(c):
            return vectorized_scalar_sigma_fold_factory
        return {
            "lkf": vectorized_lkf_fold_factory,
            "ekf": vectorized_ekf_fold_factory,
        }.get(c["kind"], vectorized_sigma_fold_factory)

    def _distributedTransform(self, c: dict):
        from artan_spark.operators import distscan

        if "fixedLag" in c:
            return distscan.distributed_smoother_transform
        if distscan.supports_distributed_scan(c):
            return distscan.distributed_scan_transform
        return distscan.distributed_nd_scan_transform

    def _bucketInput(self, keyed: DataFrame) -> DataFrame:
        # ship measurement/model doubles as flat primitive columns (the
        # input-side twin of the flat output schemas): object cells cost
        # ~2-3 us/row to cross Arrow->pandas + be read back; float64
        # buffers cost ~ nothing (vectorized.flat_input_projection)
        return flat_input_projection(keyed, self.get("measurementSize"), self.get("stateSize"))

    def _shapeOutput(self, df: DataFrame) -> DataFrame:
        # reassemble the public struct schema JVM-side (cheap Catalyst
        # projection vs expensive Python-side struct serialization); the
        # disabled outputs are left out
        layout = kalman_layout(self._constants())
        n, mdim = int(self.get("stateSize")), int(self.get("measurementSize"))
        on = self.get
        cols = [STATE_KEY, "stateIndex"]
        if on("multiStepPredict"):
            cols.append("stepIndex")
        cols.append(layout.gauss("m", "c").alias("state"))
        if on("outputResiduals"):
            cols.append(F.when(layout.present("rc"), layout.gauss("r", "rc")).alias("residual"))
        if on("eventTimeCol"):
            cols.append(EVENT_TIME)
        for name, flag in (
            ("loglikelihood", "calculateLoglikelihood"),
            ("mahalanobis", "calculateMahalanobis"),
            ("slidingLikelihood", "calculateSlidingLikelihood"),
        ):
            if on(flag):
                cols.append(name)
        if on("outputSystemMatrices"):
            cols += [
                F.when(layout.present(block), layout.mat(block, rows, n, nullable=True)).alias(name)
                for block, name, rows in (
                    ("pm", "processModel", n),
                    ("pn", "processNoise", n),
                    ("mm", "measurementModel", mdim),
                )
            ]
        return df.select(*cols)


class LinearKalmanFilter(KalmanBase):
    """Per-key linear Kalman filter (predict + Joseph-form update).

    Parity: /root/reference/.../filter/LinearKalmanFilter.scala:60-260.
    """

    _kind = "lkf"


class ExtendedKalmanFilter(KalmanBase):
    """EKF with Python-callable process/measurement functions + Jacobians.

    Function params (each ``fn(mean: np.ndarray, model: np.ndarray) ->
    np.ndarray``): processFunction, processStateJacobian,
    processNoiseJacobian, measurementFunction, measurementStateJacobian,
    measurementNoiseJacobian.
    Parity: .../filter/ExtendedKalmanFilter.scala:78-276; callables replace
    the reference's base64 java-serialized lambdas (FilterParams.scala:34-46).
    """

    _kind = "ekf"
    _defaults = {
        "processFunction": None,
        "processStateJacobian": None,
        "processNoiseJacobian": None,
        "measurementFunction": None,
        "measurementStateJacobian": None,
        "measurementNoiseJacobian": None,
        # fns/Jacobians accept batched (N, n) state matrices and return
        # (N, out) / (N, rows, cols) stacks (vectorized fold contract)
        "vectorizedFunctions": False,
    }


class UnscentedKalmanFilter(KalmanBase):
    """Sigma-point KF; Merwe ('merwe', default) or Julier ('julier') sampler.

    Parity: .../filter/UnscentedKalmanFilter.scala:67-330,367-472.
    """

    _kind = "ukf"
    _defaults = {
        "processFunction": None,
        "measurementFunction": None,
        "sigmaPoints": "merwe",
        "alpha": 0.3,
        "beta": 2.0,
        "kappa": 0.1,
        # RAUKF (UnscentedKalmanFilter.scala:616-694)
        "adaptiveProcessNoise": False,
        "adaptiveProcessNoiseThreshold": 2.0,
        "adaptiveProcessNoiseLambda": 0.9,
        "adaptiveProcessNoiseAlpha": 1.0,
        # sigma-point clipping (UnscentedKalmanFilter.scala:146-154)
        "sigmaPointLowerBound": None,
        "sigmaPointUpperBound": None,
        # user fns accept batched (N, n) matrices (vectorized fold contract)
        "vectorizedFunctions": False,
    }


class CubatureKalmanFilter(KalmanBase):
    """Cubature KF: 2n symmetric points, uniform weights.

    Parity: .../filter/CubatureKalmanFilter.scala:62-288.
    """

    _kind = "ckf"
    _defaults = {
        "processFunction": None,
        "measurementFunction": None,
        "vectorizedFunctions": False,
    }
