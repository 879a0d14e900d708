"""Independent reference recursions and the correctness gate.

Each reference replays one key's rows in event-time order with plain
floating-point arithmetic and shares no code with ``artan_spark``. The
scalar Kalman recursion uses the same operation order as the engine's
sequential fold, so sequential results must match it bit for bit; every
batched engine (scan, time-synchronous vectorized folds) must match within
a relative 1e-9, the tolerance the engine tests declare.

Output rows are compared as flat vectors:
  lkf       (state mean, state variance)
  llt       (2 means, 4 covariance values)
  gmm       (2 weights, 2 means, 2 variances)
"""

from __future__ import annotations

import math

import numpy as np

from workloads import GMM_MEANS, GMM_STEP, GMM_VARS, LLT_F, LLT_H, LLT_Q, P0, Q, R

BATCHED_RTOL = 1e-9


def tolerance(engine: str) -> float:
    """0 (bit-exact) for the sequential per-key fold, else BATCHED_RTOL."""
    return 0.0 if engine == "sequential" else BATCHED_RTOL


def kf_scalar(z, m=0.0, p=P0):
    """1-D local-level Kalman filter (predict, then Joseph-form update)."""
    f, h, q, rr = 1.0, 1.0, Q, R
    out = np.empty((len(z), 2))
    for i, zi in enumerate(z):
        m = f * m
        p = 1.0 * ((f * p) * f) + q
        r = float(zi) - h * m
        s = (h * p) * h + rr
        k = (p * h) * (1.0 / s)
        m = m + k * r
        ikh = 1.0 - k * h
        p = (ikh * p) * ikh + (k * rr) * k
        out[i] = (m, p)
    return out


def kf_llt(z):
    """2-state local-linear-trend Kalman filter, Joseph-form update."""
    F, H, Qm = np.array(LLT_F), np.array(LLT_H), np.array(LLT_Q)
    m, P, I = np.zeros(2), np.eye(2) * P0, np.eye(2)
    out = np.empty((len(z), 6))
    for i, zi in enumerate(z):
        m = F @ m
        P = F @ P @ F.T + Qm
        S = H @ P @ H.T + R
        K = P @ H.T / S[0, 0]
        m = m + K[:, 0] * (zi - (H @ m)[0])
        IKH = I - K @ H
        P = IKH @ P @ IKH.T + (K * R) @ K.T
        out[i, :2], out[i, 2:] = m, P.ravel(order="F")
    return out


def gmm_1d(x):
    """2-component stochastic EM, one sample per step: blend the
    responsibility-weighted sufficient statistics with step GMM_STEP."""
    a = GMM_STEP
    sw = np.array([0.5, 0.5])
    sm = np.array(GMM_MEANS) * sw
    sc = np.array(GMM_VARS) * sw
    out = np.empty((len(x), 6))
    for i, xi in enumerate(x):
        m, v = sm / sw, sc / sw
        ll = -0.5 * (math.log(2.0 * math.pi) + np.log(v) + (xi - m) ** 2 / v) + np.log(sw)
        e = np.exp(ll - ll.max())
        resp = e / e.sum()
        sw = (1 - a) * sw + a * resp
        sm = (1 - a) * sm + a * (resp * xi)
        sc = (1 - a) * sc + a * (resp * (xi - m) ** 2)
        out[i, :2], out[i, 2:4], out[i, 4:] = sw, sm / sw, sc / sw
    return out


REFERENCES = {"lkf": kf_scalar, "llt": kf_llt, "gmm": gmm_1d}


def checked_keys(keys: np.ndarray, seed: int, n: int = 8) -> list:
    """The hottest key plus n-1 others drawn with the seed."""
    uniq, counts = np.unique(keys, return_counts=True)
    hot = uniq[np.argmax(counts)]
    rest = np.setdiff1d(uniq, [hot])
    rng = np.random.default_rng(seed + 7919)
    pick = rng.choice(rest, size=min(n - 1, len(rest)), replace=False)
    return [int(hot)] + sorted(int(k) for k in pick)


def expected(op: str, keys: np.ndarray, values: np.ndarray, check: list) -> dict:
    """Reference output rows per checked key (rows already in time order)."""
    return {k: REFERENCES[op](values[keys == k]) for k in check}


def compare(got: dict, want: dict, tol: float) -> list:
    """Mismatch descriptions; empty means the gate passes.

    ``got`` maps key -> (stateIndex array, value rows) from the engine."""
    bad = []
    for k, ref in want.items():
        if k not in got:
            bad.append(f"key {k}: no output rows")
            continue
        idx, rows = got[k]
        if len(idx) != len(ref) or not np.array_equal(idx, np.arange(1, len(ref) + 1)):
            bad.append(f"key {k}: {len(idx)} rows, want {len(ref)} with stateIndex 1..n")
            continue
        if tol == 0.0:
            diff = np.flatnonzero((rows != ref).any(axis=1))
        else:
            err = np.abs(rows - ref) > tol * np.maximum(np.abs(ref), 1.0)
            diff = np.flatnonzero(err.any(axis=1) | ~np.isfinite(rows).all(axis=1))
        if len(diff):
            i = diff[0]
            bad.append(
                f"key {k}: {len(diff)} rows differ, first stateIndex {i + 1}: "
                f"{rows[i].tolist()} vs {ref[i].tolist()}"
            )
    return bad
