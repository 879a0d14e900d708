"""Multi-key batch folds of the estimation operators.

The sequential per-group fold is O(rows) Python-loop iterations per key —
fine for 1-D (scalar fast paths) but the weak spot for n-D states with many
keys. These folds restructure the computation: keys are hash-partitioned
into P buckets, one task each (``repartition(P, stateKey)``, sized by
``base.resolve_engine``, run by the one bucketed transform
``StatefulTransformer._bucketedTransform``), so ONE ``mapInPandas`` call
holds MANY keys, and the fold steps
**time-synchronously across keys** — step t updates every key's t-th row in
one batched numpy/einsum call (batched gemm, batched pinv, Joseph form).
Per-row Python overhead drops from O(rows) to O(max rows per key). The
parallel-scan folds go further: an associative element per row and
log2(N) full-width passes, so wall-clock no longer scales with rows per key.

Shared pieces: ``multi_key_layout`` is the one step-major driver of every
time-synchronous fold; ``filter_fold`` turns a Kalman filter pass into
the Kalman frame or, for the fixed-lag smoother, into the smoother frame,
so the time-synchronous smoother's forward pass IS the LKF's; and
``lag_windows`` is the one backward pass of every smoother engine
(time-synchronous, both scans and the distributed scan).

Families: LKF/EKF/UKF/CKF, the fixed-lag smoother, RLS, LMS and the
mixtures. The scalar elementwise folds repeat the sequential op order and
are bit-identical to it; the batched n-D folds reassociate (~ulp); the
scans differ in op order (~1e-12 relative on the scalar shapes, ~1e-9 on
the n-D ones). The resolver runs them on batch input — ``foldEngine``
"auto" picks the scalar scans by itself, the others need
``setVectorizedBatch(True)`` — and streaming keeps the per-key state-store
fold. Every fold emits its operator's one flat frame layout
(operators/codec.py), so the output is the same whichever engine ran.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from artan_spark.operators.base import EVENT_TIME, STATE_KEY, empty_pdf
from artan_spark.operators.codec import kalman_layout, mixture_layout, rls_layout, smoother_layout

_LOG2PI = math.log(2.0 * math.pi)


def supports_scalar_vectorized(c: dict) -> bool:
    """Scope of the scalar vectorized LKF fold: the 1-D constant-model shape
    (same as the sequential scalar fast path, kalman.py _is_scalar_lkf) minus
    anything per-row. Checked AFTER supports_vectorized. EKF stays on the
    general fold even with all-None callables so its vectorized-vs-sequential
    parity keeps a single op order."""
    return (
        c["kind"] == "lkf"
        and c["stateSize"] == 1
        and c["measurementSize"] == 1
        and not c.get("perRowCols")
    )


def supports_vectorized(c: dict) -> bool:
    per_row = set(c.get("perRowCols") or ())
    # sliding likelihood is implemented only in the scalar 1-D LKF fold
    # (a per-key chronological window; the MMAE upstream shape) — the
    # general batched folds stay disqualified
    sliding_ok = not c.get("calculateSlidingLikelihood") or (
        c["kind"] == "lkf"
        and c["stateSize"] == 1
        and c["measurementSize"] == 1
        and not per_row
    )
    base_ok = (
        c["multiStepPredict"] == 0
        and c.get("control") is None
        and sliding_ok
        and not c.get("outputSystemMatrices")
        and per_row <= {"measurementModel"}
    )
    if not base_ok:
        return False
    if c["kind"] == "lkf":
        return True
    if c["kind"] == "ekf":
        # EKF vectorizes when every supplied callable follows the batched
        # contract: fn((N, n) states, model) -> (N, out) values or
        # (N, rows, cols) Jacobian stacks
        any_fn = any(
            c.get(k) is not None
            for k in (
                "processFunction",
                "processStateJacobian",
                "processNoiseJacobian",
                "measurementFunction",
                "measurementStateJacobian",
                "measurementNoiseJacobian",
            )
        )
        return (not any_fn) or bool(c.get("vectorizedFunctions"))
    if c["kind"] in ("ukf", "ckf"):
        # sigma-point filters vectorize when the user fns accept batched
        # (N, n) point matrices (or are absent => linear)
        fns_ok = all(
            c.get(k) is None or c.get("vectorizedFunctions")
            for k in ("processFunction", "measurementFunction")
        )
        return fns_ok and not c.get("adaptiveProcessNoise") and c.get("sigmaPointLowerBound") is None and c.get("sigmaPointUpperBound") is None
    return False


def extract_scalar_measurements(z_cells, has_z, n: int) -> np.ndarray:
    """1-element measurement cells -> flat float64 vector. The all-present
    fast path is one C-level fromiter (~0.14 s/M rows) instead of a
    million-iteration indexing loop (~1 s/M)."""
    if has_z.all():
        return np.fromiter((z[0] for z in z_cells), dtype=np.float64, count=n)
    Z = np.zeros(n)
    for i in np.nonzero(has_z)[0]:
        Z[i] = float(np.asarray(z_cells[i], dtype=np.float64).ravel()[0])
    return Z


def check_width(n: int, width: int) -> None:
    """The one error of every fold for a cell of ``n`` values where the
    shape declares ``width``."""
    if n != width:
        raise ValueError(f"expected {width} values per cell, got {n}")


def vec_cells_to_2d(cells, width: int, has_mask=None) -> np.ndarray:
    """array<double> cells -> (N, width) float64; rows where ``has_mask``
    is False stay zero (the missing-measurement convention of the folds).

    Fast path: one C-level length check and one ``np.concatenate`` over the
    present cells plus a reshape — same doubles, no per-row Python
    ``asarray``/``ravel`` loop (measured ~10x on the 2.5M-row
    lkf_ols_multikey bucket at sf1.0). Any non-conforming cell (a wrong
    length, even when the lengths still total rows x width) drops to the
    per-row loop, which raises on the first cell of the wrong length."""
    N = len(cells)
    out = np.zeros((N, width))
    idx = None if has_mask is None else np.nonzero(has_mask)[0]
    n_sel = N if idx is None else len(idx)
    if n_sel == 0:
        return out
    sel = cells if idx is None or n_sel == N else cells[idx]
    try:
        if not (np.fromiter(map(len, sel), np.int64, n_sel) == width).all():
            raise ValueError
        vals = np.asarray(np.concatenate(sel), dtype=np.float64).reshape(n_sel, width)
    except (TypeError, ValueError):
        vals = None
    if vals is None:
        for i in range(N) if idx is None else idx:
            v = np.asarray(cells[i], dtype=np.float64).ravel()
            check_width(0 if cells[i] is None else len(v), width)
            out[i] = v
        return out
    if n_sel == N:
        return vals
    out[idx] = vals
    return out


def mat_cells_to_3d(cells, r: int, c: int, default) -> np.ndarray:
    """Matrix-struct cells (dict / Row / tuple; None -> ``default``) ->
    (N, r, c) float64 — the batched ``mat_to_np``.

    Fast path: one values-extraction list comp + a dims check + one
    concatenate/reshape/transpose reproducing mat_to_np's column-major
    layout batch-wide (same doubles); any None cell, non-dict cell or
    per-row dim mismatch falls back to the exact per-row loop."""
    from artan_spark.types import mat_to_np

    N = len(cells)
    try:
        vals = [m["values"] for m in cells]
        if any(m["numRows"] != r or m["numCols"] != c for m in cells):
            raise TypeError
        flat = np.asarray(np.concatenate(vals), dtype=np.float64)
        return flat.reshape(N, c, r).transpose(0, 2, 1)
    except (TypeError, KeyError, IndexError, ValueError):
        out = np.empty((N, r, c))
        for i in range(N):
            out[i] = mat_to_np(cells[i]) if cells[i] is not None else default
        return out


def cells_not_none(cells) -> np.ndarray:
    """Per-cell ``is not None`` mask without an intermediate Python list."""
    return np.fromiter((z is not None for z in cells), np.bool_, len(cells))


# -- flat-primitive input projections ---------------------------------------
#
# The input-side twin of the flat output layouts (operators/codec.py): an
# array<double> or matrix-struct column crosses Arrow->pandas as one Python
# object per row (~1-2 us/row to materialize + another ~1 us/row for the fold
# to read), while the same doubles projected JVM-side into plain double
# columns cross as float64 buffers the fold reads with one .to_numpy() per
# element. The vectorized transforms and both distributed-scan passes ship
# `__zok__`/`__z{j}__` (and `__hr__`/`__hc__`/`__h{j}__` when a per-row
# measurementModel is set) and drop the cell columns; the cell paths below
# stay as the fallback so direct-pdf callers (tests, tools) are unchanged.


def flat_input_projection(keyed, mdim: int, n: int):
    """JVM-side flat-primitive projection of the measurement (and per-row
    measurementModel) cells for the vectorized/scan folds — the read_*
    helpers below consume it. Drops the projected cell columns; a null
    cell becomes __zok__=false / __hr__=NaN. (A malformed cell — values
    shorter than its declared dims — becomes NaN here where the cell path
    raised; dims themselves stay validated in read_measurement_models.)"""
    from pyspark.sql import functions as F

    cols = [
        F.col("measurement").isNotNull().alias("__zok__"),
        *[F.col("measurement")[j].alias(f"__z{j}__") for j in range(mdim)],
    ]
    drop = ["measurement"]
    if "measurementModel" in keyed.columns:
        cols += [
            F.col("measurementModel.numRows").cast("double").alias("__hr__"),
            F.col("measurementModel.numCols").cast("double").alias("__hc__"),
            *[
                F.col("measurementModel.values")[j].alias(f"__h{j}__")
                for j in range(mdim * n)
            ],
        ]
        drop.append("measurementModel")
    return keyed.select("*", *cols).drop(*drop)


def read_measurements(pdf: pd.DataFrame, mdim: int):
    """(has_z mask, (N, mdim) float64) from the flat projection when
    present, else from the ``measurement`` cells. Missing rows are 0.0 in Z
    (never read — the update loops mask on has_z — but kept equal to the
    cell path)."""
    N = len(pdf)
    if "__z0__" in pdf.columns:
        has_z = pdf["__zok__"].to_numpy(dtype=np.bool_)
        Z = np.empty((N, mdim))
        for j in range(mdim):
            Z[:, j] = pdf[f"__z{j}__"].to_numpy(dtype=np.float64)
        if not has_z.all():
            Z[~has_z] = 0.0
        return has_z, Z
    z_cells = pdf["measurement"].values
    has_z = cells_not_none(z_cells)
    return has_z, vec_cells_to_2d(z_cells, mdim, None if has_z.all() else has_z)


def read_scalar_measurements(pdf: pd.DataFrame):
    """Scalar (mdim = 1) variant: (has_z, (N,) float64)."""
    N = len(pdf)
    if "__z0__" in pdf.columns:
        has_z = pdf["__zok__"].to_numpy(dtype=np.bool_)
        Z = pdf["__z0__"].to_numpy(dtype=np.float64, copy=True)
        if not has_z.all():
            Z[~has_z] = 0.0
        return has_z, Z
    z_cells = pdf["measurement"].values
    has_z = cells_not_none(z_cells)
    return has_z, extract_scalar_measurements(z_cells, has_z, N)


def read_measurement_models(pdf: pd.DataFrame, mdim: int, n: int, H_const):
    """(N, mdim, n) model stack (or None if no per-row model column) from
    the flat projection when present, else from the struct cells. Null
    cells take ``H_const``; a per-row dim mismatch raises (the cell path
    raised from mat_to_np's reshape)."""
    if "__h0__" in pdf.columns:
        N = len(pdf)
        hr = pdf["__hr__"].to_numpy(dtype=np.float64)
        hc = pdf["__hc__"].to_numpy(dtype=np.float64)
        nulls = np.isnan(hr)
        if not (nulls | ((hr == mdim) & (hc == n))).all():
            raise ValueError(f"measurementModel dims must be ({mdim}, {n})")
        H = np.empty((N, mdim, n))
        for j in range(mdim * n):
            # column-major values: element j -> (row j % mdim, col j // mdim)
            H[:, j % mdim, j // mdim] = pdf[f"__h{j}__"].to_numpy(dtype=np.float64)
        if nulls.any():
            H[nulls] = H_const
        return H
    if "measurementModel" in pdf.columns:
        return mat_cells_to_3d(pdf["measurementModel"].values, mdim, n, H_const)
    return None


def multi_key_layout(pdf: pd.DataFrame):
    """The one step-major driver of the time-synchronous folds: returns
    (keys_arr, K, first, pos, steps). ``steps[t]`` is the (rows, key codes)
    pair of every key's row at per-key position ``t``, so step t updates
    each live key once; ``pos`` is each row's position within its key
    (stateIndex is ``pos + 1``) and ``first`` each key's first row. The
    caller has key+eventTime sorted the frame, so a key's rows are
    contiguous."""
    N = len(pdf)
    keys_arr = pdf[STATE_KEY].to_numpy()
    # hash-based factorize instead of np.unique: no O(N log N) string sort
    # (~5x on multi-million-row buckets), and appearance-order codes match
    # the frame's key-block order by construction regardless of collation
    # (np.unique's sorted codes relied on the caller's sort agreeing with
    # numpy's) — first/cumsum contiguity holds either way
    key_idx, key_codes = pd.factorize(keys_arr)
    K = len(key_codes)
    counts = np.bincount(key_idx, minlength=K)
    first = np.concatenate([[0], np.cumsum(counts)[:-1]])
    pos = np.arange(N) - first[key_idx]
    order = np.lexsort((key_idx, pos))
    # step t holds the keys with more than t rows
    alive_at = K - np.searchsorted(np.sort(counts), np.arange(int(counts.max())), side="right")
    cuts = np.cumsum(alive_at)[:-1]
    return keys_arr, K, first, pos, list(zip(np.split(order, cuts), np.split(key_idx[order], cuts)))


def key_runs(keys_arr: np.ndarray):
    """(seg, first_idx, pos) of a frame whose keys are contiguous runs (the
    caller sorted it by key and event time): each row's 0-based run id,
    each run's first row, each row's 0-based position within its run."""
    new_key = np.ones(len(keys_arr), dtype=bool)
    new_key[1:] = keys_arr[1:] != keys_arr[:-1]
    seg = np.cumsum(new_key) - 1
    first_idx = np.nonzero(new_key)[0]
    return seg, first_idx, np.arange(len(keys_arr)) - first_idx[seg]


def affine_scan(S: np.ndarray, adds: list, pos: np.ndarray, seed=None):
    """Segmented inclusive scan (Hillis-Steele doubling, in place) of the
    affine composites v -> S*v + a that the RLS information form and the
    normalized LMS reduce to. ``S`` is (N,), each ``adds`` entry (N, ...)
    takes S as a scalar scale; composing right after left gives
    S = S_r*S_l, a = S_r*a_l + a_r. ``pos`` is each row's position within
    its key run (``key_runs``): rows d apart combine only inside one run.

    ``seed``: an incoming composite ``(S0, adds0)`` composed before every
    prefix — the distributed engine's chunk seed. Returns (S, adds)."""
    N = len(S)
    d = 1
    while d < N:
        mk = pos[d:] >= d
        Sr = S[d:]
        news = [Sr.reshape(-1, *(1,) * (a.ndim - 1)) * a[:-d] + a[d:] for a in adds]
        S[d:] = np.where(mk, Sr * S[:-d], Sr)
        for a, na in zip(adds, news):
            a[d:] = np.where(mk.reshape(-1, *(1,) * (a.ndim - 1)), na, a[d:])
        d *= 2
    if seed is None:
        return S, adds
    S0, adds0 = seed
    return S * S0, [S * a0 + a for a0, a in zip(adds0, adds)]


def _rls_prior(c: dict, n: int):
    """RLS prior (m0, P0) from the params: zeros and the identity unless
    initialStateMean / regularizationMatrix are set."""
    m0 = c["initialStateMean"]
    P0 = c["regularizationMatrix"]
    return (
        np.zeros(n) if m0 is None else np.asarray(m0, dtype=np.float64).ravel(),
        np.eye(n) if P0 is None else np.asarray(P0, dtype=np.float64),
    )


def vectorized_nd_rls_scan_fold_factory(c: dict):
    """n-D RLS parallel scan: the matrix information form. With
    I = P^-1 and beta = I @ m the forgetting recursion is

        I'    = lam * I + x x^T
        beta' = lam * beta + y * x

    (P' = (P - g (Px)^T)/lam gives P'^-1 = lam P^-1 + x x^T by
    Sherman-Morrison), so each row is an affine map with a SCALAR scale
    lam — the composed prefix is (lam^k, sum of discounted rank-1 terms),
    one segmented doubling scan over (S, aI, aBeta). The per-row outputs
    then need one batched solve (m = I^-1 beta) and one batched inverse
    (P = I^-1); I is SPD (lam^k * P0^-1 + PSD sums), always invertible.
    Opt-in via ``setFoldEngine("scan")``; ~1e-9 relative parity with the
    sequential rank-1 recursion (tests/test_scan_engine.py)."""
    lam = float(c["forgettingFactor"])
    n = int(c["stateSize"])
    m0v, P0m = _rls_prior(c, n)
    I0 = np.linalg.inv(P0m)
    beta0 = I0 @ m0v
    layout = rls_layout(c)

    def fold(pdf: pd.DataFrame, _state):
        N = len(pdf)
        if N == 0:
            return layout.frame(0), None
        keys_arr = pdf[STATE_KEY].to_numpy()
        pos = key_runs(keys_arr)[2]
        y = pdf["label"].to_numpy(dtype=np.float64)
        X = vec_cells_to_2d(pdf["features"].values, n)
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None
        S, (aI, aB) = affine_scan(
            np.full(N, lam), [np.einsum("ai,aj->aij", X, X), X * y[:, None]], pos
        )
        Imat = S[:, None, None] * I0 + aI
        beta = S[:, None] * beta0 + aB
        mean = np.linalg.solve(Imat, beta[..., None])[..., 0]
        P = np.linalg.inv(Imat)
        P = (P + np.swapaxes(P, 1, 2)) * 0.5
        out = layout.frame(N, stateKey=keys_arr, stateIndex=pos + 1, m=mean, c=P, eventTime=ev)
        return out, None

    return fold


def scalar_features(pdf: pd.DataFrame, width_known: bool = True) -> np.ndarray:
    """The 1-element ``features`` cells as one float64 vector; a wider cell
    raises ``check_width``'s error. Only a shape that does not declare its
    width (an LMS without initialState) raises the scan's guided error on
    a wider first cell instead."""
    feats = pdf["features"].values
    if not width_known and len(np.ravel(feats[0])) != 1:
        raise ValueError(
            "foldEngine='scan' supports the 1-D LMS shape only — use the "
            "sequential engine for n-D feature vectors"
        )
    return vec_cells_to_2d(feats, 1)[:, 0]


def _affine_frame(pdf: pd.DataFrame, seed, offset: int, X: np.ndarray, elements, emit):
    """One seeded affine-scan pass over a (key, eventTime)-sorted frame:
    ``elements(X, y) -> (S, adds)`` per row, the segmented scan composed
    after ``seed``, then ``emit(keys, stateIndex, S, adds, ev)``."""
    keys_arr = pdf[STATE_KEY].to_numpy()
    pos = key_runs(keys_arr)[2]
    S, adds = affine_scan(*elements(X, pdf["label"].to_numpy(dtype=np.float64)), pos, seed)
    ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None
    return emit(keys_arr, pos + 1 + offset, S, adds, ev)


def scalar_rls_scan(c: dict):
    """(elements, emit) of the 1-D RLS information-form scan: each row is
    v -> lam*v + (x^2, x*y) on (I, beta); m = beta/I, P = 1/I with
    I = S/p0 + aI and beta = S*(m0/p0) + aBeta."""
    lam = float(c["forgettingFactor"])
    m0v, P0m = _rls_prior(c, 1)
    m0, p0 = float(m0v[0]), float(P0m.ravel()[0])
    layout = rls_layout(c)

    def elements(X, y):
        return np.full(len(X), lam), [X * X, X * y]

    def emit(keys_arr, idx, S, adds, ev):
        aI, aB = adds
        I = S * (1.0 / p0) + aI
        beta = S * (m0 / p0) + aB
        return layout.frame(len(S), stateKey=keys_arr, stateIndex=idx, m=beta / I, c=1.0 / I, eventTime=ev)

    return elements, emit


def vectorized_scalar_rls_scan_fold_factory(c: dict):
    """PARALLEL-SCAN scalar RLS fold. The forgetting-factor RLS recursion
    is, in information form, a pair of exponentially-discounted sums
    (derivation: P' = P/(lam + x^2 P) gives I' = lam*I + x^2 for
    I = 1/P, and beta' = lam*beta + x*y for beta = I*m), i.e. each row
    is the affine map v -> lam*v + c. Composed prefixes are one
    segmented doubling scan over (S, aI, aBeta) (``affine_scan``), so ANY
    forgetting factor is supported (lam=1 degenerates to plain cumulative
    sums; for lam<1 the composite scale underflows toward 0 exactly as
    old information is forgotten); ``scalar_rls_scan`` maps the prefixes
    to (m, P).

    Opt-in (``setFoldEngine("scan")``): op order differs from the
    sequential recursion — ~1e-12 relative parity
    (tests/test_scan_engine.py), not bit-exact; the driver oracle entry
    stays sequential."""
    scan = scalar_rls_scan(c)
    layout = rls_layout(c)

    def fold(pdf: pd.DataFrame, _state):
        if len(pdf) == 0:
            return layout.frame(0), None
        return _affine_frame(pdf, None, 0, scalar_features(pdf), *scan), None

    return fold


def vectorized_rls_fold_factory(c: dict):
    """Time-synchronous multi-key RLS fold. The 1-D shape runs pure
    elementwise arithmetic in the EXACT op order of the sequential scalar
    fold (rls.py _scalar_rls_fold_factory) — bit-identical results; n-D
    batches the linalg.rls_update rank-1 recursion with einsum (~ulp)."""
    lam = float(c["forgettingFactor"])
    n = c["stateSize"]
    scalar = n == 1
    m0v, P0m = _rls_prior(c, n)
    m0, p0 = float(m0v[0]), float(P0m.ravel()[0])
    layout = rls_layout(c)

    def fold(pdf: pd.DataFrame, _state):
        N = len(pdf)
        if N == 0:
            return layout.frame(0), None
        keys_arr, K, _, pos, steps = multi_key_layout(pdf)
        y = pdf["label"].to_numpy(dtype=np.float64)
        feats = pdf["features"].values
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None

        if scalar:
            X = vec_cells_to_2d(feats, 1)[:, 0]
            m = np.full(K, m0)
            P = np.full(K, p0)
            out_mean = np.empty(N)
            out_cov = np.empty(N)
            for block, ki in steps:
                x = X[block]
                # same elementwise op order as the sequential scalar fold
                Px = P[ki] * x
                denom = lam + x * Px
                g = Px / denom
                err = y[block] - x * m[ki]
                m[ki] = m[ki] + g * err
                P[ki] = (P[ki] - g * Px) / lam
                out_mean[block] = m[ki]
                out_cov[block] = P[ki]
        else:
            X = vec_cells_to_2d(feats, n)
            m = np.tile(m0v, (K, 1))
            P = np.tile(P0m, (K, 1, 1))
            out_mean = np.empty((N, n))
            out_cov = np.empty((N, n, n))
            for block, ki in steps:
                x = X[block]
                Pk = P[ki]
                Px = np.einsum("aij,aj->ai", Pk, x)
                denom = lam + np.einsum("aj,aj->a", x, Px)
                g = Px / denom[:, None]
                err = y[block] - np.einsum("aj,aj->a", x, m[ki])
                m[ki] = m[ki] + g * err[:, None]
                P1 = (Pk - g[:, :, None] * Px[:, None, :]) / lam
                P[ki] = (P1 + np.swapaxes(P1, 1, 2)) * 0.5  # linalg.sym
                out_mean[block] = m[ki]
                out_cov[block] = P[ki]

        out = layout.frame(N, stateKey=keys_arr, stateIndex=pos + 1, m=out_mean, c=out_cov, eventTime=ev)
        return out, None

    return fold


LMS_COLUMNS = [STATE_KEY, "stateIndex", "state", EVENT_TIME]


def _lms_frame(keys, idx, states, ev) -> pd.DataFrame:
    """The LMS output frame: the state crosses as one array cell per row
    (its width is unknown before the data when initialState is None)."""
    return pd.DataFrame(
        {STATE_KEY: keys, "stateIndex": idx, "state": list(states), EVENT_TIME: ev},
        columns=LMS_COLUMNS,
    )


def vectorized_lms_fold_factory(c: dict):
    """Time-synchronous multi-key normalized-LMS fold: batched
    linalg.lms_update steps (elementwise-exact scale factor, then the
    rank-1 state move). 1-D features reduce to pure elementwise ops in the
    sequential op order."""
    lr = float(c["learningRate"])
    reg = float(c["regularizationConstant"])
    init = c["initialState"]

    def fold(pdf: pd.DataFrame, _state):
        N = len(pdf)
        if N == 0:
            return empty_pdf(LMS_COLUMNS), None
        keys_arr, K, _, pos, steps = multi_key_layout(pdf)
        y = pdf["label"].to_numpy(dtype=np.float64)
        feats = pdf["features"].values
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None
        n = len(np.asarray(feats[0], dtype=np.float64).ravel()) if init is None else len(init)
        X = vec_cells_to_2d(feats, n)
        m = np.tile(np.zeros(n) if init is None else init, (K, 1))
        out_state = np.empty((N, n))
        for block, ki in steps:
            x = X[block]
            # linalg.lms_update op order: err, denom, m + (lr*err/denom)*x
            err = y[block] - np.einsum("aj,aj->a", x, m[ki])
            denom = reg + np.einsum("aj,aj->a", x, x)
            m[ki] = m[ki] + (lr * err / denom)[:, None] * x
            out_state[block] = m[ki]
        return _lms_frame(keys_arr, pos + 1, out_state, ev), None

    return fold


def scalar_lms_scan(c: dict):
    """(elements, emit) of the 1-D normalized-LMS scan: the update
    m' = m + lr*(y - x*m)/(reg + x^2)*x is the affine map m' = s*m + a
    with s = 1 - lr*x^2/(reg + x^2) and a = lr*x*y/(reg + x^2)."""
    lr = float(c["learningRate"])
    reg = float(c["regularizationConstant"])
    init = c["initialState"]
    m0 = 0.0 if init is None else float(np.ravel(init)[0])

    def elements(X, y):
        g = lr * X / (reg + X * X)
        return 1.0 - g * X, [g * y]

    def emit(keys_arr, idx, S, adds, ev):
        return _lms_frame(keys_arr, idx, (S * m0 + adds[0])[:, None], ev)

    return elements, emit


def vectorized_scalar_lms_scan_fold_factory(c: dict):
    """PARALLEL-SCAN scalar normalized-LMS fold: one segmented doubling
    scan over (scale, add) (``affine_scan``, the RLS-scan pattern without
    the information form) of the ``scalar_lms_scan`` elements.
    Opt-in via ``setFoldEngine("scan")``; ~1e-12 relative parity with the
    sequential recursion (tests/test_scan_engine.py)."""
    scan = scalar_lms_scan(c)

    def fold(pdf: pd.DataFrame, _state):
        if len(pdf) == 0:
            return empty_pdf(LMS_COLUMNS), None
        X = scalar_features(pdf, c["initialState"] is not None)
        return _affine_frame(pdf, None, 0, X, *scan), None

    return fold


def first_row_priors(pdf: pd.DataFrame, first, m, P) -> None:
    """Overwrite per-key prior rows in place from the
    ``initialStateDistribution`` cell of each key's first row ``first[k]``,
    when the column is there (the sequential fold's rule: the distribution
    seen on a key's first row wins; kalman.py). ``m``/``P`` are (K, n) /
    (K, n, n) stacks, or (K,) vectors for the 1-D folds."""
    if "initialStateDistribution" not in pdf.columns:
        return
    from artan_spark.types import mat_to_np, vec_to_np

    m = m.reshape(len(first), -1)
    P = P.reshape(len(first), m.shape[1], m.shape[1])
    cells = pdf["initialStateDistribution"].values
    for k, f0 in enumerate(first):
        d = cells[f0]
        if d is None:
            continue
        mean = vec_to_np(d["mean"] if isinstance(d, dict) else d.mean)
        cov = mat_to_np(d["covariance"] if isinstance(d, dict) else d.covariance)
        m[k] = np.asarray(mean, dtype=np.float64).ravel()
        P[k] = np.asarray(cov, dtype=np.float64)


def _batched_sqrt_spd(P):
    """Batched symmetric PSD square root via batched SVD ((A, n, n) input)."""
    if P.shape[1] == 1:
        # scalar sqrt — the batched LAPACK SVD dominates per-step cost at n=1
        return np.sqrt(np.maximum(P, 0.0))
    Ps = (P + np.swapaxes(P, 1, 2)) * 0.5
    u, s, vt = np.linalg.svd(Ps)
    return (u * np.sqrt(np.maximum(s, 0.0))[:, None, :]) @ vt


def _batched_points(kind, c, m, P):
    """Sigma/cubature points for a (A, n) mean batch: returns
    (pts (A, p, n), wm (p,), wc (p,))."""
    A, n = m.shape
    if kind == "ckf":
        root = _batched_sqrt_spd(float(n) * P)
        pts = np.concatenate([m[:, None, :] + root, m[:, None, :] - root], axis=1)
        w = np.full(2 * n, 1.0 / (2 * n))
        return pts, w, w.copy()
    if c["sigmaPoints"] == "julier":
        kappa = c["kappa"]
        root = _batched_sqrt_spd((n + kappa) * P)
        wm = np.full(2 * n + 1, 0.5 / (n + kappa))
        wm[0] = kappa / (kappa + n)
        wc = wm.copy()
    else:
        alpha, beta, kappa = c["alpha"], c["beta"], c["kappa"]
        lam = alpha**2 * (n + kappa) - n
        root = _batched_sqrt_spd((n + lam) * P)
        wm = np.full(2 * n + 1, 0.5 / (n + lam))
        wc = wm.copy()
        wm[0] = lam / (n + lam)
        wc[0] = lam / (n + lam) + (1.0 - alpha**2 + beta)
    pts = np.concatenate([m[:, None, :], m[:, None, :] + root, m[:, None, :] - root], axis=1)
    return pts, wm, wc


def _batched_ut(pts, wm, wc, noise):
    """Batched unscented transform: pts (A, p, d) -> mean (A, d), cov (A, d, d)."""
    mean = np.einsum("p,apd->ad", wm, pts)
    diff = pts - mean[:, None, :]
    cov = np.einsum("p,apd,ape->ade", wc, diff, diff) + noise
    return mean, (cov + np.swapaxes(cov, 1, 2)) * 0.5


def _pinv(S):
    """Batched pinv of innovation covariances (A, m, m); for m = 1 the
    elementwise 1/S — bit-identical to pinv on 1x1 stacks (SVD of [[s]]
    reciprocates the lone singular value, one IEEE division either way;
    s == 0 -> 0 in both), without the batched-SVD per-step hot spot."""
    if S.shape[1] != 1:
        return np.linalg.pinv(S)
    s1 = S[:, 0, 0]
    return np.where(s1 != 0.0, 1.0 / np.where(s1 == 0.0, 1.0, s1), 0.0)[:, None, None]


def innovation_stats(S, r):
    """(squared Mahalanobis distance, log det S) of residuals r (A, m)
    under innovation covariances S (A, m, m). For m = 1 the Cholesky and
    solve reduce to a sqrt and a division — bit-identical, no batched
    LAPACK."""
    if S.shape[1] == 1:
        L1 = np.sqrt(S[:, 0, 0] + 1e-300)
        return (r[:, 0] / L1) ** 2, 2.0 * np.log(L1)
    L = np.linalg.cholesky(S + 1e-300 * np.eye(S.shape[1]))
    w = np.linalg.solve(L, r[..., None])[..., 0]
    return np.sum(w * w, axis=1), 2.0 * np.sum(np.log(np.diagonal(L, axis1=1, axis2=2)), axis=1)


def filter_fold(c: dict, run):
    """The fold of a time-synchronous Kalman filter pass ``run(pdf) ->
    columns`` (key, stateIndex, filtered ``m``/``c``, residuals, event
    time, likelihood outputs): the Kalman layout's frame, or for the
    fixed-lag smoother (``fixedLag`` in ``c``) the backward lag windows
    over the filtered rows."""
    if "fixedLag" in c:
        layout = smoother_layout(c)

        def emit(cols):
            return lag_windows(
                layout, cols[STATE_KEY], cols["stateIndex"], cols[EVENT_TIME], cols["m"],
                cols["c"], c["processModel"], c["processNoise"], c["fixedLag"],
            )
    else:
        layout = kalman_layout(c)

        def emit(cols):
            return layout.frame(len(cols["m"]), stepIndex=0, **cols)

    def fold(pdf: pd.DataFrame, _state):
        if len(pdf) == 0:
            return layout.frame(0), None
        return emit(run(pdf)), None

    return fold


def vectorized_sigma_fold_factory(c: dict):
    """Vectorized multi-key fold for UKF/CKF: batched sigma-point generation
    (batched SVD square roots), batched point propagation (user fns receive
    an (N, n) matrix when ``vectorizedFunctions`` is set; linear otherwise),
    and batched unscented transforms — time-synchronous across keys like the
    LKF variant."""
    from artan_spark.params import deserialize_callable

    kind = c["kind"]
    n = c["stateSize"]
    mdim = c["measurementSize"]
    F_ = c["processModel"]
    Q = c["processNoise"]
    R = c["measurementNoise"]
    H_const = c["measurementModel"]
    m0 = c["initialStateMean"]
    P0 = c["initialStateCovariance"]
    fad = float(c["fadingFactor"])
    fad2 = fad**2
    compute_ll = c["calculateLoglikelihood"]
    compute_maha = c["calculateMahalanobis"]
    pf = deserialize_callable(c.get("processFunction"))
    mf = deserialize_callable(c.get("measurementFunction"))

    def prop_process(pts_flat):
        if pf is None:
            return pts_flat @ F_.T
        return np.asarray(pf(pts_flat, F_), dtype=np.float64)

    def run(pdf: pd.DataFrame):
        N = len(pdf)
        keys_arr, K, first, pos, steps = multi_key_layout(pdf)

        has_z, Z = read_measurements(pdf, mdim)
        Hrows = read_measurement_models(pdf, mdim, n, H_const)

        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None

        m = np.tile(m0, (K, 1))
        P = np.tile(P0, (K, 1, 1))
        first_row_priors(pdf, first, m, P)

        out_mean = np.empty((N, n))
        out_cov = np.empty((N, n, n))
        out_res = np.full((N, mdim), np.nan)
        out_rescov = np.full((N, mdim, mdim), np.nan)
        out_ll = np.full(N, np.nan)
        out_maha = np.full(N, np.nan)

        for block, ki in steps:
            # batched sigma-point predict
            pts, wm, wc = _batched_points(kind, c, m[ki], P[ki])
            A, p, _ = pts.shape
            prop = prop_process(pts.reshape(A * p, n)).reshape(A, p, n)
            mb, Pb = _batched_ut(prop, wm, wc, Q)
            if fad != 1.0:
                # exponential fading inflates only the propagated covariance,
                # not the additive noise (kalman.py:313-314)
                Pb = fad2 * (Pb - Q) + Q

            zi = has_z[block]
            if zi.any():
                rows_u = block[zi]
                m1, P1 = mb[zi], Pb[zi]
                Hb = Hrows[rows_u] if Hrows is not None else np.broadcast_to(H_const, (len(rows_u), mdim, n))
                pts2, wm2, wc2 = _batched_points(kind, c, m1, P1)
                A2, p2, _ = pts2.shape
                if mf is None:
                    zpts = np.einsum("aij,apj->api", Hb, pts2)
                else:
                    # vectorized contract: fn maps (N, n) -> (N, mdim); per-row
                    # models are repeated per point
                    Hrep = np.repeat(Hb, p2, axis=0)
                    flat = pts2.reshape(A2 * p2, n)
                    zpts = np.asarray(mf(flat, Hrep), dtype=np.float64).reshape(A2, p2, mdim)
                zmean, S = _batched_ut(zpts, wm2, wc2, R)
                cross = np.einsum("p,apd,ape->ade", wc2, pts2 - m1[:, None, :], zpts - zmean[:, None, :])
                Kg = np.einsum("ade,aef->adf", cross, _pinv(S))
                r = Z[rows_u] - zmean
                m_new = m1 + np.einsum("adf,af->ad", Kg, r)
                P_new = P1 - np.einsum("adf,afg,aeg->ade", Kg, S, Kg)
                mb[zi] = m_new
                Pb[zi] = (P_new + np.swapaxes(P_new, 1, 2)) * 0.5
                out_res[rows_u] = r
                out_rescov[rows_u] = S
                if compute_ll or compute_maha:
                    sq, logdet = innovation_stats(S, r)
                    if compute_maha:
                        out_maha[rows_u] = np.sqrt(np.maximum(sq, 0.0))
                    if compute_ll:
                        out_ll[rows_u] = -0.5 * (mdim * _LOG2PI + logdet + sq)

            m[ki] = mb
            P[ki] = Pb
            out_mean[block] = mb
            out_cov[block] = Pb

        return dict(
            stateKey=keys_arr, stateIndex=pos + 1, m=out_mean, c=out_cov, r=out_res,
            rc=out_rescov, eventTime=ev, loglikelihood=out_ll, mahalanobis=out_maha,
        )

    return filter_fold(c, run)


def vectorized_scalar_lkf_fold_factory(c: dict):
    """Time-synchronous multi-key fold for the dominant 1-D local-level
    shape: pure elementwise (A,) float64 arithmetic in the EXACT op order of
    the sequential scalar fold (kalman.py _scalar_lkf_fold_factory), so the
    per-row results are bit-identical to it — no batched LAPACK (the general
    fold's batched SVD pinv on (A,1,1) matrices was the per-step hot spot
    for this shape)."""
    f = float(c["processModel"][0, 0])
    q = float(c["processNoise"][0, 0])
    h = float(c["measurementModel"][0, 0])
    rr = float(c["measurementNoise"][0, 0])
    m0 = float(c["initialStateMean"][0])
    p0 = float(c["initialStateCovariance"][0, 0])
    fad2 = float(c["fadingFactor"]) ** 2
    compute_sll = bool(c.get("calculateSlidingLikelihood"))
    compute_ll = c["calculateLoglikelihood"] or compute_sll
    compute_maha = c["calculateMahalanobis"]
    ll_window = int(c.get("slidingLikelihoodWindow") or 1)

    def run(pdf: pd.DataFrame):
        N = len(pdf)
        keys_arr, K, first, pos, steps = multi_key_layout(pdf)

        has_z, Z = read_scalar_measurements(pdf)
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None

        m = np.full(K, m0)
        P = np.full(K, p0)
        first_row_priors(pdf, first, m, P)

        out_mean = np.empty(N)
        out_cov = np.empty(N)
        out_res = np.full(N, np.nan)
        out_rescov = np.full(N, np.nan)
        out_ll = np.full(N, np.nan)
        out_maha = np.full(N, np.nan)
        out_sll = np.full(N, np.nan)
        # chronological per-key log-likelihood window (newest = last col);
        # zero-initialized slots add exactly 0.0, so short windows sum to
        # the same IEEE result as the sequential fold's python list
        hist = np.zeros((K, ll_window)) if compute_sll else None

        for block, ki in steps:
            # same elementwise op order as the sequential scalar fold
            mb = f * m[ki]
            Pb = fad2 * ((f * P[ki]) * f) + q

            zi = has_z[block]
            if zi.any():
                rows_u = block[zi]
                m1 = mb[zi]
                P1 = Pb[zi]
                z0 = Z[rows_u]
                r = z0 - h * m1
                S = (h * P1) * h + rr
                Kg = (P1 * h) * (1.0 / S)
                mb[zi] = m1 + Kg * r
                ikh = 1.0 - Kg * h
                Pb[zi] = (ikh * P1) * ikh + (Kg * rr) * Kg
                out_res[rows_u] = r
                out_rescov[rows_u] = S
                if compute_ll:
                    ell = np.sqrt(S)
                    llv = -0.5 * (_LOG2PI + 2.0 * np.log(ell) + (r / ell) ** 2)
                    out_ll[rows_u] = llv
                    if compute_sll:
                        ku = ki[zi]
                        hist[ku, :-1] = hist[ku, 1:]  # drop oldest
                        hist[ku, -1] = llv
                        # explicit left-to-right (chronological) sum: the
                        # exact IEEE order of python sum() over the window
                        acc = hist[ku, 0].copy()
                        for j in range(1, ll_window):
                            acc += hist[ku, j]
                        out_sll[rows_u] = np.exp(acc)
                if compute_maha:
                    out_maha[rows_u] = np.sqrt(np.maximum((r * r) / S, 0.0))

            m[ki] = mb
            P[ki] = Pb
            out_mean[block] = mb
            out_cov[block] = Pb

        return dict(
            stateKey=keys_arr, stateIndex=pos + 1, m=out_mean, c=out_cov, r=out_res,
            rc=out_rescov, eventTime=ev, loglikelihood=out_ll, mahalanobis=out_maha,
            slidingLikelihood=out_sll,
        )

    return filter_fold(c, run)


def supports_scan(c: dict) -> bool:
    """Scope of the parallel-scan LKF engine: the scalar constant-model
    shape WITHOUT fading (the fading factor scales only the covariance
    half of the prediction map, which the affine-Gaussian scan element
    cannot express)."""
    return (
        c["kind"] == "lkf"
        and c["stateSize"] == 1
        and c["measurementSize"] == 1
        and not c.get("perRowCols")
        and float(c["fadingFactor"]) == 1.0
        and c["multiStepPredict"] == 0
        and c.get("control") is None
        and not c.get("outputSystemMatrices")
    )


def _scalar_generic_elements(Z, has_z, N: int, f, q, h, rr):
    """Per-row GENERIC scan elements (A, b, C, eta, J) for the scalar
    constant-model LKF — the affine-Gaussian map of one predict(+update)
    step with no prior folded in. Combining the prior as the degenerate
    element (0, m0, P0, 0, 0) through ``_scalar_combine`` reproduces the
    predict-update recursion exactly (the distributed engine relies on
    this; pinned by tests/test_dist_scan.py)."""
    A = np.where(has_z, 0.0, f)
    b = np.zeros(N)
    C = np.where(has_z, 0.0, q)
    eta = np.zeros(N)
    J = np.zeros(N)
    meas = np.nonzero(has_z)[0]
    if len(meas):
        s_g = h * q * h + rr
        k_g = q * h / s_g
        A[meas] = (1.0 - k_g * h) * f
        b[meas] = k_g * Z[meas]
        C[meas] = (1.0 - k_g * h) * q
        eta[meas] = f * h * Z[meas] / s_g
        J[meas] = (f * h) * (h * f) / s_g
    return A, b, C, eta, J


def _scalar_segmented_scan(A, b, C, eta, J, pos, N: int) -> None:
    """In-place segmented inclusive scan (Hillis-Steele doubling) of scalar
    scan elements. ``pos`` is the 0-based position within each segment;
    the same-segment test at distance d is ``pos >= d`` (segments are
    contiguous runs). Full-width SLICE arithmetic + np.where, no
    fancy-indexing gathers (measured 16.8 s -> ~2 s at 1M rows:
    contiguous reads beat 15 gather/scatter passes). All five new arrays
    are computed from the OLD values before any assignment
    (Hillis-Steele needs the double buffer; np.where supplies the
    unmasked old half)."""
    d = 1
    while d < N:
        m = pos[d:] >= d
        A1, b1, C1, e1, J1 = A[:-d], b[:-d], C[:-d], eta[:-d], J[:-d]
        A2, b2, C2, e2, J2 = A[d:], b[d:], C[d:], eta[d:], J[d:]
        den = 1.0 + C1 * J2
        t = A2 / den
        u = A1 / den
        nA = t * A1
        nb = t * (b1 + C1 * e2) + b2
        nC = t * C1 * A2 + C2
        ne = u * (e2 - J2 * b1) + e1
        nJ = u * J2 * A1 + J1
        A[d:] = np.where(m, nA, A2)
        b[d:] = np.where(m, nb, b2)
        C[d:] = np.where(m, nC, C2)
        eta[d:] = np.where(m, ne, e2)
        J[d:] = np.where(m, nJ, J2)
        d *= 2


def _scalar_combine(e1, e2):
    """Scalar scan-element combination (e1 before e2), the same formula as
    the vectorized doubling pass — driver-side use by the distributed
    engine's tiny cross-chunk prefix."""
    A1, b1, C1, h1, J1 = e1
    A2, b2, C2, h2, J2 = e2
    den = 1.0 + C1 * J2
    t = A2 / den
    u = A1 / den
    return (
        t * A1,
        t * (b1 + C1 * h2) + b2,
        t * C1 * A2 + C2,
        u * (h2 - J2 * b1) + h1,
        u * J2 * A1 + J1,
    )


def _scalar_scan_forward(pdf: pd.DataFrame, N: int, f, q, h, rr, m0, p0, prior_override=None):
    """Shared forward pass of the scan engine (LKF + smoother): segmented
    layout + per-row associative elements + Hillis-Steele doubling scan.
    Returns (keys_arr, seg, pos, first_idx, has_z, Z, ev, m0k, p0k,
    filtered_mean, filtered_cov).

    ``prior_override``: optional ``(m0k, p0k)`` arrays (one entry per
    segment, in segment order) that replace the param/column prior — the
    distributed engine seeds each (key, chunk) group with the incoming
    distribution computed by the driver prefix."""
    # rows arrive sorted (key, eventTime): keys are contiguous runs
    keys_arr = pdf[STATE_KEY].to_numpy()
    seg, first_idx, pos = key_runs(keys_arr)

    has_z, Z = read_scalar_measurements(pdf)
    ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None

    # per-key priors (initialStateDistribution col overrides params)
    K = len(first_idx)
    if prior_override is not None:
        m0k = np.asarray(prior_override[0], dtype=np.float64)
        p0k = np.asarray(prior_override[1], dtype=np.float64)
    else:
        m0k = np.full(K, m0)
        p0k = np.full(K, p0)
        first_row_priors(pdf, first_idx, m0k, p0k)

    # ---- build the per-row elements --------------------------------
    A, b, C, eta, J = _scalar_generic_elements(Z, has_z, N, f, q, h, rr)
    # first row of each key folds the prior in: A=0, (b,C)=(m_1|1,P_1|1)
    fm = f * m0k
    fP = f * p0k * f + q
    fz = has_z[first_idx]
    s1 = h * fP * h + rr
    k1 = fP * h / s1
    b[first_idx] = np.where(fz, fm + k1 * (Z[first_idx] - h * fm), fm)
    C[first_idx] = np.where(fz, fP - k1 * s1 * k1, fP)
    A[first_idx] = 0.0
    eta[first_idx] = 0.0
    J[first_idx] = 0.0

    # ---- segmented inclusive scan (Hillis-Steele doubling) ---------
    _scalar_segmented_scan(A, b, C, eta, J, pos, N)

    return keys_arr, seg, pos, first_idx, has_z, Z, ev, m0k, p0k, b, C


def vectorized_scalar_lkf_scan_fold_factory(c: dict):
    """PARALLEL-SCAN scalar LKF fold: the associative-operator formulation
    of Kalman filtering (Särkkä & García-Fernández 2021, "Temporal
    Parallelization of Bayesian Smoothers", IEEE TAC — public), which
    turns the per-key recursion into a PREFIX SCAN. The sequential fold's
    wall-clock is bound by rows-per-key (a 1M-row single key is a 1M-step
    Python loop even in the vectorized fold, base.py:22-26 — THE
    documented 100x-scale risk); the scan runs ~log2(N) full-width numpy
    passes instead, and on a cluster the same elements can be combined
    across partition boundaries, so one hot key no longer serializes.

    Each row becomes a five-scalar element (A, b, C, eta, J) describing
    the affine-Gaussian map prior->posterior for that step:

      measured (k>1):  S = h*q*h + r;  K = q*h/S
                       A = (1-K*h)*f;  b = K*z;  C = (1-K*h)*q
                       eta = f*h*z/S;  J = f*h*h*f/S
      missing  (k>1):  A = f, b = 0, C = q, eta = 0, J = 0
      first row:       folds the (per-key) prior in directly: A = 0,
                       b = m_1|1, C = P_1|1 (predict m0,p0 then update)

    and the combination (i before j)

      d = 1 + C_i*J_j ; t = A_j/d ; u = A_i/d
      A = t*A_i ; b = t*(b_i + C_i*eta_j) + b_j ; C = t*C_i*A_j + C_j
      eta = u*(eta_j - J_j*b_i) + eta_i ; J = u*J_j*A_i + J_i

    is ASSOCIATIVE, so a segmented Hillis-Steele doubling scan (mask =
    same-key at distance d; keys are contiguous in the sorted frame)
    yields every filtered (m_k|k, P_k|k) = (b, C) prefix in ceil(log2 N)
    passes. Residual/likelihood outputs derive from the one-step
    prediction of the previous row's filtered state, exactly like the
    sequential fold's S = h*P^-*h + r.

    Opt-in (``setFoldEngine("scan")``): the scan's float op ORDER differs
    from the sequential recursion, so results match to ~1e-12 relative
    (pinned by tests/test_scan_engine.py), not bit-exactly — the driver
    oracle entries stay on the sequential engine.
    """
    f = float(c["processModel"][0, 0])
    q = float(c["processNoise"][0, 0])
    h = float(c["measurementModel"][0, 0])
    rr = float(c["measurementNoise"][0, 0])
    m0 = float(c["initialStateMean"][0])
    p0 = float(c["initialStateCovariance"][0, 0])
    compute_sll = bool(c.get("calculateSlidingLikelihood"))
    compute_ll = c["calculateLoglikelihood"] or compute_sll
    compute_maha = c["calculateMahalanobis"]
    ll_window = int(c.get("slidingLikelihoodWindow") or 1)
    layout = kalman_layout(c)

    def fold(pdf: pd.DataFrame, _state):
        N = len(pdf)
        if N == 0:
            return layout.frame(0), None

        fwd = _scalar_scan_forward(pdf, N, f, q, h, rr, m0, p0)
        out = _scalar_scan_emit(
            fwd, N, f, q, h, rr,
            compute_ll=compute_ll, compute_maha=compute_maha,
            compute_sll=compute_sll, ll_window=ll_window, layout=layout,
        )
        return out, None

    return fold


def _scalar_scan_emit(
    fwd, N: int, f, q, h, rr, *,
    compute_ll, compute_maha, compute_sll, ll_window, layout, idx_offset=0,
):
    """Residual family + output frame from a `_scalar_scan_forward` result
    (shared by the in-task scan fold and the distributed engine's seeded
    pass 2; ``idx_offset`` shifts stateIndex for chunk continuation)."""
    (
        keys_arr, seg, pos, first_idx, has_z, Z, ev, m0k, p0k,
        out_mean, out_cov,
    ) = fwd
    meas = np.nonzero(has_z)[0]
    K = len(first_idx)

    # ---- residual family from the one-step prediction --------------
    prev_m = np.empty(N)
    prev_P = np.empty(N)
    prev_m[1:] = out_mean[:-1]
    prev_P[1:] = out_cov[:-1]
    prev_m[first_idx] = m0k
    prev_P[first_idx] = p0k
    pm = f * prev_m
    pP = f * prev_P * f + q
    out_res = np.full(N, np.nan)
    out_rescov = np.full(N, np.nan)
    out_ll = np.full(N, np.nan)
    out_maha = np.full(N, np.nan)
    out_sll = np.full(N, np.nan)
    if len(meas):
        r = Z[meas] - h * pm[meas]
        S = h * pP[meas] * h + rr
        out_res[meas] = r
        out_rescov[meas] = S
        if compute_ll:
            llv = -0.5 * (_LOG2PI + np.log(S) + (r * r) / S)
            out_ll[meas] = llv
            if compute_sll:
                # per-key rolling window over MEASURED rows via
                # segment-reset cumsum (zeros before the window start,
                # matching the sequential fold's zero-initialized slots)
                for k in range(K):
                    sel = meas[seg[meas] == k]
                    if len(sel) == 0:
                        continue
                    cs = np.cumsum(out_ll[sel])
                    win = cs.copy()
                    win[ll_window:] = cs[ll_window:] - cs[:-ll_window]
                    out_sll[sel] = np.exp(win)
        if compute_maha:
            out_maha[meas] = np.sqrt(np.maximum((r * r) / S, 0.0))

    return layout.frame(
        N, stateKey=keys_arr, stateIndex=pos + 1 + idx_offset, stepIndex=0, m=out_mean,
        c=out_cov, r=out_res, rc=out_rescov, eventTime=ev, loglikelihood=out_ll,
        mahalanobis=out_maha, slidingLikelihood=out_sll,
    )


def supports_scalar_sigma(c: dict) -> bool:
    """Scope of the scalar sigma-point fast path: UKF/CKF on the 1-D
    constant-model linear shape (no user fns, no per-row models). Checked
    AFTER supports_vectorized (which already excludes RAUKF adaptive noise
    and sigma-point bounds from the vectorized path)."""
    return (
        c["kind"] in ("ukf", "ckf")
        and c["stateSize"] == 1
        and c["measurementSize"] == 1
        and not c.get("perRowCols")
        and c.get("processFunction") is None
        and c.get("measurementFunction") is None
    )


def vectorized_scalar_sigma_fold_factory(c: dict):
    """Scalar (1-D) UKF/CKF multi-key fold: the sigma-point set for n=1 is
    2-3 points, so the whole recursion is (A,) / (A, p) elementwise
    arithmetic — no batched SPD square roots (SVD on (A,1,1) stacks) and
    no einsum towers, which dominate the general sigma fold's ~300 us/step
    when rows-per-key is skewed (T ~ 3200 at sf0.1's 32-key events
    layout). Same transforms in the same order; the only numeric deltas
    are scalar-vs-SVD square roots and dot-reduction order, ~1e-14 —
    the UKF/CKF oracles round to 4dp with >= 8e-9 boundary margin
    (tests/test_oracle_margins.py), and seq-vs-vec parity is asserted at
    1e-9 by test_vectorized_scalar_sigma_matches_general."""
    kind = c["kind"]
    f = float(c["processModel"][0, 0])
    q = float(c["processNoise"][0, 0])
    h = float(c["measurementModel"][0, 0])
    rr = float(c["measurementNoise"][0, 0])
    m0 = float(c["initialStateMean"][0])
    p0 = float(c["initialStateCovariance"][0, 0])
    fad = float(c["fadingFactor"])
    fad2 = fad**2
    compute_ll = c["calculateLoglikelihood"]
    compute_maha = c["calculateMahalanobis"]

    # point offsets (p,) and weights for n = 1
    if kind == "ckf":
        ofs = np.array([1.0, -1.0])
        wm = np.array([0.5, 0.5])
        wc = wm.copy()
        g = 1.0  # root = sqrt(n * P), n = 1
    elif c["sigmaPoints"] == "julier":
        kappa = float(c["kappa"])
        ofs = np.array([0.0, 1.0, -1.0])
        wm = np.full(3, 0.5 / (1.0 + kappa))
        wm[0] = kappa / (kappa + 1.0)
        wc = wm.copy()
        g = 1.0 + kappa
    else:  # merwe
        alpha, beta, kappa = float(c["alpha"]), float(c["beta"]), float(c["kappa"])
        lam = alpha**2 * (1.0 + kappa) - 1.0
        ofs = np.array([0.0, 1.0, -1.0])
        wm = np.full(3, 0.5 / (1.0 + lam))
        wc = wm.copy()
        wm[0] = lam / (1.0 + lam)
        wc[0] = lam / (1.0 + lam) + (1.0 - alpha**2 + beta)
        g = 1.0 + lam

    def ut(pts):
        """(A, p) points -> (mean (A,), centered diffs (A, p))."""
        mean = pts @ wm
        return mean, pts - mean[:, None]

    def run(pdf: pd.DataFrame):
        N = len(pdf)
        keys_arr, K, first, pos, steps = multi_key_layout(pdf)

        has_z, Z = read_scalar_measurements(pdf)
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None

        m = np.full(K, m0)
        P = np.full(K, p0)
        first_row_priors(pdf, first, m, P)

        out_mean = np.empty(N)
        out_cov = np.empty(N)
        out_res = np.full(N, np.nan)
        out_rescov = np.full(N, np.nan)
        out_ll = np.full(N, np.nan)
        out_maha = np.full(N, np.nan)

        # the mask machinery hoisted when every row carries a measurement
        # (the common batch shape) — ~7 fewer small numpy calls per step
        all_z = bool(has_z.all())
        for block, ki in steps:
            # sigma-point predict
            root = np.sqrt(g * P[ki])
            prop = f * (m[ki][:, None] + root[:, None] * ofs)
            mb, diff = ut(prop)
            Pb = (diff * diff) @ wc + q
            if fad != 1.0:
                Pb = fad2 * (Pb - q) + q

            zi = None if all_z else has_z[block]
            if all_z or zi.any():
                if all_z:
                    rows_u, m1, P1 = block, mb, Pb
                else:
                    rows_u = block[zi]
                    m1, P1 = mb[zi], Pb[zi]
                root2 = np.sqrt(g * P1)
                pts2 = m1[:, None] + root2[:, None] * ofs
                zpts = h * pts2
                zmean, zdiff = ut(zpts)
                S = (zdiff * zdiff) @ wc + rr
                cross = ((pts2 - m1[:, None]) * zdiff) @ wc
                Kg = np.where(S != 0.0, cross / np.where(S == 0.0, 1.0, S), 0.0)
                r = Z[rows_u] - zmean
                if all_z:
                    mb = m1 + Kg * r
                    Pb = P1 - Kg * S * Kg
                else:
                    mb[zi] = m1 + Kg * r
                    Pb[zi] = P1 - Kg * S * Kg
                out_res[rows_u] = r
                out_rescov[rows_u] = S
                if compute_ll or compute_maha:
                    sq, logdet = innovation_stats(S[:, None, None], r[:, None])
                    if compute_maha:
                        out_maha[rows_u] = np.sqrt(np.maximum(sq, 0.0))
                    if compute_ll:
                        out_ll[rows_u] = -0.5 * (_LOG2PI + logdet + sq)

            m[ki] = mb
            P[ki] = Pb
            out_mean[block] = mb
            out_cov[block] = Pb

        return dict(
            stateKey=keys_arr, stateIndex=pos + 1, m=out_mean, c=out_cov, r=out_res,
            rc=out_rescov, eventTime=ev, loglikelihood=out_ll, mahalanobis=out_maha,
        )

    return filter_fold(c, run)


def vectorized_ekf_fold_factory(c: dict):
    """EKF variant of the linear multi-key fold: user fns/Jacobians are
    called ONCE per time step on the whole (A, n) key batch instead of per
    row (the ``vectorizedFunctions`` contract — models are passed through
    as the constant 2-D array, or as the (A, rows, cols) stack when a
    per-row model column is set)."""
    return vectorized_lkf_fold_factory(c)


def vectorized_lkf_fold_factory(c: dict):
    from artan_spark.params import deserialize_callable

    n = c["stateSize"]
    mdim = c["measurementSize"]
    F_ = c["processModel"]
    Q = c["processNoise"]
    R = c["measurementNoise"]
    H_const = c["measurementModel"]
    m0 = c["initialStateMean"]
    P0 = c["initialStateCovariance"]
    fad2 = float(c["fadingFactor"]) ** 2
    compute_ll = c["calculateLoglikelihood"]
    compute_maha = c["calculateMahalanobis"]
    eye_n = np.eye(n)
    # EKF hooks — all None for plain LKF (and for EKF run with default
    # linear semantics); each receives the batched (A, n) state matrix
    pf = deserialize_callable(c.get("processFunction"))
    pj = deserialize_callable(c.get("processStateJacobian"))
    pnj = deserialize_callable(c.get("processNoiseJacobian"))
    mf = deserialize_callable(c.get("measurementFunction"))
    mj = deserialize_callable(c.get("measurementStateJacobian"))
    mnj = deserialize_callable(c.get("measurementNoiseJacobian"))
    # identity process (F = I, Q = 0, fading 1, no EKF hooks): the predict
    # einsums are bit-exact no-ops (x*1 and +0.0 are exact in IEEE), so skip
    # them — the OLS/regression shapes (lkf_ols_multikey) pay ~4 batched
    # calls per time step for nothing
    static_predict = (
        pf is None
        and pj is None
        and pnj is None
        and fad2 == 1.0
        and not np.any(Q)
        and np.array_equal(F_, eye_n)
    )

    def run(pdf: pd.DataFrame):
        N = len(pdf)
        keys_arr, K, first, pos, steps = multi_key_layout(pdf)

        has_z, Z = read_measurements(pdf, mdim)
        Hrows = read_measurement_models(pdf, mdim, n, H_const)

        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None

        m = np.tile(m0, (K, 1))
        P = np.tile(P0, (K, 1, 1))
        first_row_priors(pdf, first, m, P)

        out_mean = np.empty((N, n))
        out_cov = np.empty((N, n, n))
        out_res = np.full((N, mdim), np.nan)
        out_rescov = np.full((N, mdim, mdim), np.nan)
        out_ll = np.full(N, np.nan)
        out_maha = np.full(N, np.nan)

        # mask machinery hoisted when every row carries a measurement (see
        # the scalar sigma fold)
        all_z = bool(has_z.all())
        for block, ki in steps:
            # batched predict (Jacobians evaluated at the PRIOR mean,
            # matching the sequential EKF: kalman.py predict())
            m_prior = m[ki]
            if static_predict:
                # fancy indexing already copied, so mb/Pb are safely mutable
                mb = m_prior
                Pb = P[ki]
            else:
                mb = (
                    np.asarray(pf(m_prior, F_), dtype=np.float64)
                    if pf is not None
                    else m_prior @ F_.T
                )
                if pnj is not None:
                    L = np.asarray(pnj(m_prior, Q), dtype=np.float64)
                    Qe = np.einsum("aij,jk,alk->ail", L, Q, L)
                else:
                    Qe = Q
                if pj is not None:
                    Fj = np.asarray(pj(m_prior, F_), dtype=np.float64)
                    Pb = fad2 * np.einsum("aij,ajk,alk->ail", Fj, P[ki], Fj) + Qe
                else:
                    Pb = fad2 * np.einsum("ij,ajk,lk->ail", F_, P[ki], F_) + Qe

            zi = None if all_z else has_z[block]
            if all_z or zi.any():
                rows_u = block if all_z else block[zi]
                Hmod = Hrows[rows_u] if Hrows is not None else np.broadcast_to(H_const, (len(rows_u), mdim, n))
                # user fns receive the constant 2-D model unless a per-row
                # model column supplied the (A, mdim, n) stack
                H_arg = Hmod if Hrows is not None else H_const
                P1 = Pb if all_z else Pb[zi]
                m1 = mb if all_z else mb[zi]
                # measurement prediction uses the MODEL; the update uses the
                # Jacobian (which defaults to the model), kalman.py estimate()
                zhat = (
                    np.asarray(mf(m1, H_arg), dtype=np.float64)
                    if mf is not None
                    else np.einsum("aij,aj->ai", Hmod, m1)
                )
                Hb = np.asarray(mj(m1, H_arg), dtype=np.float64) if mj is not None else Hmod
                if mnj is not None:
                    Lr = np.asarray(mnj(m1, R), dtype=np.float64)
                    Re = np.einsum("aij,jk,alk->ail", Lr, R, Lr)
                    S = np.einsum("aij,ajk,alk->ail", Hb, P1, Hb) + Re
                else:
                    Re = None
                    S = np.einsum("aij,ajk,alk->ail", Hb, P1, Hb) + R
                S = (S + np.swapaxes(S, 1, 2)) * 0.5
                Kg = np.einsum("aij,akj,akl->ail", P1, Hb, _pinv(S))
                r = Z[rows_u] - zhat
                m_new = m1 + np.einsum("aij,aj->ai", Kg, r)
                ikh = eye_n - np.einsum("aij,ajk->aik", Kg, Hb)
                P_new = np.einsum("aij,ajk,alk->ail", ikh, P1, ikh) + (
                    np.einsum("aij,ajk,alk->ail", Kg, Re, Kg)
                    if Re is not None
                    else np.einsum("aij,jk,alk->ail", Kg, R, Kg)
                )
                P_new = (P_new + np.swapaxes(P_new, 1, 2)) * 0.5
                if all_z:
                    mb, Pb = m_new, P_new
                else:
                    mb[zi] = m_new
                    Pb[zi] = P_new
                out_res[rows_u] = r
                out_rescov[rows_u] = S
                if compute_ll or compute_maha:
                    sq, logdet = innovation_stats(S, r)
                    if compute_maha:
                        out_maha[rows_u] = np.sqrt(np.maximum(sq, 0.0))
                    if compute_ll:
                        out_ll[rows_u] = -0.5 * (mdim * _LOG2PI + logdet + sq)

            m[ki] = mb
            P[ki] = Pb
            out_mean[block] = mb
            out_cov[block] = Pb

        return dict(
            stateKey=keys_arr, stateIndex=pos + 1, m=out_mean, c=out_cov, r=out_res,
            rc=out_rescov, eventTime=ev, loglikelihood=out_ll, mahalanobis=out_maha,
        )

    return filter_fold(c, run)


def supports_scan_general(c: dict) -> bool:
    """Scope of the n-D matrix-element scan: plain constant-model LKF
    (per-row measurementModel allowed — the OLS regression shape), no
    fading, no EKF callables, no sliding likelihood."""
    per_row = set(c.get("perRowCols") or ())
    no_fns = not any(
        c.get(k)
        for k in (
            "processFunction", "processStateJacobian", "processNoiseJacobian",
            "measurementFunction", "measurementStateJacobian",
            "measurementNoiseJacobian",
        )
    )
    return (
        # an EKF with no callables runs the linear default semantics —
        # admit it alongside plain LKF
        c["kind"] in ("lkf", "ekf")
        and no_fns
        and float(c["fadingFactor"]) == 1.0
        and c["multiStepPredict"] == 0
        and c.get("control") is None
        and not c.get("outputSystemMatrices")
        and not c.get("calculateSlidingLikelihood")
        and per_row <= {"measurementModel"}
    )


def _nd_sym(M):
    return (M + np.swapaxes(M, 1, 2)) * 0.5


def _nd_generic_elements(Z, has_z, Hrows, N: int, n, mdim, F_, Q, R, H_const):
    """Per-row GENERIC n-D scan elements (A, b, C, eta, J) — matrix form
    of `_scalar_generic_elements`, no prior folded in. Combining the
    prior as the degenerate element (0, m0, P0, 0, 0) through
    `_nd_combine` reproduces predict+update (pinned by
    tests/test_dist_scan.py)."""
    A = np.broadcast_to(F_, (N, n, n)).copy()
    b = np.zeros((N, n))
    C = np.broadcast_to(Q, (N, n, n)).copy()
    eta = np.zeros((N, n))
    J = np.zeros((N, n, n))
    meas = np.nonzero(has_z)[0]
    if len(meas):
        Hm = Hrows[meas] if Hrows is not None else np.broadcast_to(H_const, (len(meas), mdim, n))
        HQ = Hm @ Q  # (a, m, n)
        S = np.einsum("aij,akj->aik", HQ, Hm) + R  # H Q Ht + R
        S = _nd_sym(S)
        Kg = np.swapaxes(_batched_small_solve(S, HQ), 1, 2)  # Q Ht S^-1
        eye_n = np.eye(n)
        ikh = eye_n - Kg @ Hm
        A[meas] = ikh @ F_
        b[meas] = np.einsum("aij,aj->ai", Kg, Z[meas])
        C[meas] = _nd_sym(ikh @ Q)
        SHF = _batched_small_solve(S, Hm @ F_)  # S^-1 H F (a, m, n)
        eta[meas] = np.einsum("aij,ai->aj", SHF, Z[meas])
        J[meas] = _nd_sym(np.einsum("aji,ajk->aik", Hm @ F_, SHF))
    return A, b, C, eta, J


def _batched_small_solve(M, B):
    """M^-1 @ B for batched (N,n,n) systems. For n <= 2 the batched LAPACK
    driver's per-matrix overhead dominates (measured 193 -> 56 ms per
    30k-row combine at n=2), so invert explicitly — exact algebra
    (Cramer), differences vs the LAPACK path are O(eps * cond) and sit
    well inside the engine's 1e-9-rtol parity bars (measured ~4e-10 worst
    case on random ill-conditioned batches; the filter matrices are
    better conditioned). n >= 3 keeps the LAPACK solve."""
    n = M.shape[-1]
    if n == 1:
        return B / M[:, :, 0:1]
    if n == 2:
        a, b, c, d = M[:, 0, 0], M[:, 0, 1], M[:, 1, 0], M[:, 1, 1]
        det = a * d - b * c
        inv = np.empty_like(M)
        inv[:, 0, 0] = d
        inv[:, 0, 1] = -b
        inv[:, 1, 0] = -c
        inv[:, 1, 1] = a
        inv /= det[:, None, None]
        return inv @ B
    return np.linalg.solve(M, B)


def _nd_combine2(Al, bl, Cl, el, Jl, Ar, br, Cr, er, Jr):
    """n == 2 combine, fully component-expanded: the generic path spends
    ~10 batched (N,2,2) matmul/solve calls per combine, each paying numpy
    dispatch + temporary allocation far above the 12-flop arithmetic —
    writing the 2x2 algebra on component views cuts a 30k-row combine
    ~68 -> ~20 ms, which is the forward doubling scan's unit cost. Same
    algebra as the generic path (same Cramer inverse, same op grouping
    per product), so differences are at most reassociation ulps — inside
    the engines' 1e-9-rtol parity bars."""

    def mm(x00, x01, x10, x11, y00, y01, y10, y11):
        return (
            x00 * y00 + x01 * y10,
            x00 * y01 + x01 * y11,
            x10 * y00 + x11 * y10,
            x10 * y01 + x11 * y11,
        )

    def mv(x00, x01, x10, x11, v0, v1):
        return (x00 * v0 + x01 * v1, x10 * v0 + x11 * v1)

    def inv2(m00, m01, m10, m11):
        r = 1.0 / (m00 * m11 - m01 * m10)
        return (m11 * r, -m01 * r, -m10 * r, m00 * r)

    def unpack(M):
        return M[:, 0, 0], M[:, 0, 1], M[:, 1, 0], M[:, 1, 1]

    def pack(N, x00, x01, x10, x11):
        out = np.empty((N, 2, 2))
        out[:, 0, 0] = x00
        out[:, 0, 1] = x01
        out[:, 1, 0] = x10
        out[:, 1, 1] = x11
        return out

    N = Al.shape[0]
    al = unpack(Al)
    cl = unpack(Cl)
    jl = unpack(Jl)
    ar = unpack(Ar)
    cr = unpack(Cr)
    jr = unpack(Jr)
    bl0, bl1 = bl[:, 0], bl[:, 1]
    el0, el1 = el[:, 0], el[:, 1]
    br0, br1 = br[:, 0], br[:, 1]
    er0, er1 = er[:, 0], er[:, 1]

    # M1 = I + Cl Jr ; M2 = I + Jr Cl
    cj = mm(*cl, *jr)
    i1 = inv2(1.0 + cj[0], cj[1], cj[2], 1.0 + cj[3])
    jc = mm(*jr, *cl)
    i2 = inv2(1.0 + jc[0], jc[1], jc[2], 1.0 + jc[3])

    XA = mm(*i1, *al)
    ce0, ce1 = mv(*cl, er0, er1)
    Xbe = mv(*i1, bl0 + ce0, bl1 + ce1)
    XC = mm(*i1, *cl)
    jb0, jb1 = mv(*jr, bl0, bl1)
    Ye = mv(*i2, er0 - jb0, er1 - jb1)
    YJ = mm(*i2, *jr)

    nA = mm(*ar, *XA)
    nbv = mv(*ar, *Xbe)
    nb = np.empty((N, 2))
    nb[:, 0] = nbv[0] + br0
    nb[:, 1] = nbv[1] + br1
    # Ar XC Ar^T + Cr, symmetrized (off-diagonals averaged)
    t = mm(*ar, *XC)
    pc = mm(t[0], t[1], t[2], t[3], ar[0], ar[2], ar[1], ar[3])  # @ Ar^T
    off_c = 0.5 * (pc[1] + cr[1] + pc[2] + cr[2])
    nC = pack(N, pc[0] + cr[0], off_c, off_c, pc[3] + cr[3])
    # Al^T Ye + el ; Al^T YJ Al + Jl
    nev = mv(al[0], al[2], al[1], al[3], *Ye)  # Al^T @
    ne = np.empty((N, 2))
    ne[:, 0] = nev[0] + el0
    ne[:, 1] = nev[1] + el1
    u = mm(al[0], al[2], al[1], al[3], *YJ)
    pj = mm(*u, *al)
    off_j = 0.5 * (pj[1] + jl[1] + pj[2] + jl[2])
    nJ = pack(N, pj[0] + jl[0], off_j, off_j, pj[3] + jl[3])
    return pack(N, *nA), nb, nC, ne, nJ


def _nd_combine(Al, bl, Cl, el, Jl, Ar, br, Cr, er, Jr, eye_n):
    """Batched n-D scan-element combination (left before right) — the
    doubling-pass math factored for reuse (tree reduce, driver prefix).
    Inverts I + C_l J_r with a batched solve (nonsingular: C, J are PSD;
    explicit small-n inverse below the LAPACK overhead knee). n == 2
    (every 2-D state) dispatches to the component-expanded kernel."""
    n = eye_n.shape[0]
    if n == 2:
        return _nd_combine2(Al, bl, Cl, el, Jl, Ar, br, Cr, er, Jr)
    M1 = eye_n + Cl @ Jr
    M2 = eye_n + Jr @ Cl
    rhs1 = np.concatenate(
        [Al, (bl + np.einsum("aij,aj->ai", Cl, er))[..., None], Cl], axis=2
    )
    X = _batched_small_solve(M1, rhs1)
    XA, Xbe, XC = X[:, :, :n], X[:, :, n], X[:, :, n + 1 :]
    Y = _batched_small_solve(
        M2, np.concatenate([(er - np.einsum("aij,aj->ai", Jr, bl))[..., None], Jr], axis=2)
    )
    Ye, YJ = Y[:, :, 0], Y[:, :, 1:]
    nA = Ar @ XA
    nb = np.einsum("aij,aj->ai", Ar, Xbe) + br
    nC = _nd_sym(np.einsum("aij,ajk,alk->ail", Ar, XC, Ar) + Cr)
    ne = np.einsum("aji,aj->ai", Al, Ye) + el
    nJ = _nd_sym(np.einsum("aji,ajk,akl->ail", Al, YJ, Al) + Jl)
    return nA, nb, nC, ne, nJ


def _nd_scan_forward(pdf: pd.DataFrame, N: int, n, mdim, F_, Q, R, H_const, m0, P0, prior_override=None):
    """Shared n-D forward pass of the scan engine (LKF + smoother):
    segmented layout + per-row matrix elements + doubling scan with
    batched LAPACK solves. Returns (keys_arr, seg, pos, first_idx,
    has_z, Z, Hrows, ev, m0k, P0k, filtered_mean, filtered_cov).

    ``prior_override``: optional ``(m0k, P0k)`` stacks (one per segment)
    replacing the param/column prior — the distributed engine's chunk
    seeds."""
    eye_n = np.eye(n)

    def sym(M):
        return (M + np.swapaxes(M, 1, 2)) * 0.5

    keys_arr = pdf[STATE_KEY].to_numpy()
    seg, first_idx, pos = key_runs(keys_arr)
    K = len(first_idx)

    has_z, Z = read_measurements(pdf, mdim)
    Hrows = read_measurement_models(pdf, mdim, n, H_const)
    ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None

    if prior_override is not None:
        m0k = np.asarray(prior_override[0], dtype=np.float64).reshape(K, n)
        P0k = np.asarray(prior_override[1], dtype=np.float64).reshape(K, n, n)
    else:
        m0k = np.tile(m0, (K, 1))
        P0k = np.tile(P0, (K, 1, 1))
        first_row_priors(pdf, first_idx, m0k, P0k)

    # ---- per-row elements ------------------------------------------
    A, b, C, eta, J = _nd_generic_elements(Z, has_z, Hrows, N, n, mdim, F_, Q, R, H_const)
    # first row per key: fold the per-key prior in (A=0)
    fm = m0k @ F_.T
    fP = F_ @ P0k @ F_.T + Q
    fz = has_z[first_idx]
    b1 = fm.copy()
    C1 = fP.copy()
    if fz.any():
        rows_f = first_idx[fz]
        Hf = Hrows[rows_f] if Hrows is not None else np.broadcast_to(H_const, (len(rows_f), mdim, n))
        P1 = fP[fz]
        S1 = sym(Hf @ P1 @ np.swapaxes(Hf, 1, 2) + R)
        K1 = np.swapaxes(_batched_small_solve(S1, Hf @ P1), 1, 2)
        r1 = Z[rows_f] - np.einsum("aij,aj->ai", Hf, fm[fz])
        b1[fz] = fm[fz] + np.einsum("aij,aj->ai", K1, r1)
        ikh1 = eye_n - K1 @ Hf
        # Joseph form, like the sequential fold's update
        C1[fz] = sym(
            np.einsum("aij,ajk,alk->ail", ikh1, P1, ikh1)
            + np.einsum("aij,jk,alk->ail", K1, R, K1)
        )
    A[first_idx] = 0.0
    b[first_idx] = b1
    C[first_idx] = C1
    eta[first_idx] = 0.0
    J[first_idx] = 0.0

    # ---- segmented doubling scan (matrix combine) ------------------
    d = 1
    while d < N:
        mk = pos[d:] >= d
        mv = mk[:, None]
        mm = mk[:, None, None]
        nA, nb, nC, ne, nJ = _nd_combine(
            A[:-d], b[:-d], C[:-d], eta[:-d], J[:-d],
            A[d:], b[d:], C[d:], eta[d:], J[d:], eye_n,
        )
        A[d:] = np.where(mm, nA, A[d:])
        b[d:] = np.where(mv, nb, b[d:])
        C[d:] = np.where(mm, nC, C[d:])
        eta[d:] = np.where(mv, ne, eta[d:])
        J[d:] = np.where(mm, nJ, J[d:])
        d *= 2

    return keys_arr, seg, pos, first_idx, has_z, Z, Hrows, ev, m0k, P0k, b, C


def vectorized_lkf_scan_fold_factory(c: dict):
    """General n-D parallel-scan LKF fold: the matrix form of the scalar
    scan (same Särkkä & García-Fernández elements, now (n,n) matrices and
    n-vectors; combination inverts I + C_i J_j with a batched LAPACK
    solve — nonsingular since C, J are PSD). log2(N) passes of batched
    (N,n,n) solves/matmuls replace the O(rows-per-key) Python loop;
    covers the per-row-measurementModel OLS regression shape
    (lkf_ols_multikey). Same output layout as the time-synchronous
    general fold; parity ~1e-9 relative."""
    n = c["stateSize"]
    mdim = c["measurementSize"]
    F_ = c["processModel"]
    Q = c["processNoise"]
    R = c["measurementNoise"]
    H_const = c["measurementModel"]
    m0 = c["initialStateMean"]
    P0 = c["initialStateCovariance"]
    compute_ll = c["calculateLoglikelihood"]
    compute_maha = c["calculateMahalanobis"]
    layout = kalman_layout(c)

    def fold(pdf: pd.DataFrame, _state):
        N = len(pdf)
        if N == 0:
            return layout.frame(0), None

        fwd = _nd_scan_forward(pdf, N, n, mdim, F_, Q, R, H_const, m0, P0)
        out = _nd_scan_emit(
            fwd, N, n, mdim, F_, Q, R, H_const,
            compute_ll=compute_ll, compute_maha=compute_maha, layout=layout,
        )
        return out, None

    return fold


def _nd_scan_emit(
    fwd, N: int, n, mdim, F_, Q, R, H_const, *,
    compute_ll, compute_maha, layout, idx_offset=0,
):
    """Residual family + output frame from a `_nd_scan_forward` result
    (shared by the in-task n-D scan fold and the distributed engine's
    seeded pass 2; ``idx_offset`` shifts stateIndex)."""
    sym = _nd_sym
    (
        keys_arr, seg, pos, first_idx, has_z, Z, Hrows, ev, m0k, P0k,
        out_mean, out_cov,
    ) = fwd
    meas = np.nonzero(has_z)[0]

    # ---- residual family from the one-step prediction --------------
    prev_m = np.empty((N, n))
    prev_P = np.empty((N, n, n))
    prev_m[1:] = out_mean[:-1]
    prev_P[1:] = out_cov[:-1]
    prev_m[first_idx] = m0k
    prev_P[first_idx] = P0k
    out_res = np.full((N, mdim), np.nan)
    out_rescov = np.full((N, mdim, mdim), np.nan)
    out_ll = np.full(N, np.nan)
    out_maha = np.full(N, np.nan)
    if len(meas):
        Hm = Hrows[meas] if Hrows is not None else np.broadcast_to(H_const, (len(meas), mdim, n))
        pm = prev_m[meas] @ F_.T
        pP = F_ @ prev_P[meas] @ F_.T + Q
        r = Z[meas] - np.einsum("aij,aj->ai", Hm, pm)
        S = sym(Hm @ pP @ np.swapaxes(Hm, 1, 2) + R)
        out_res[meas] = r
        out_rescov[meas] = S
        if compute_ll or compute_maha:
            sq, logdet = innovation_stats(S, r)
            if compute_maha:
                out_maha[meas] = np.sqrt(np.maximum(sq, 0.0))
            if compute_ll:
                out_ll[meas] = -0.5 * (mdim * _LOG2PI + logdet + sq)

    return layout.frame(
        N, stateKey=keys_arr, stateIndex=pos + 1 + idx_offset, stepIndex=0, m=out_mean,
        c=out_cov, r=out_res, rc=out_rescov, eventTime=ev, loglikelihood=out_ll,
        mahalanobis=out_maha,
    )


def vectorized_scalar_smoother_scan_fold_factory(c: dict):
    """Scan-engine fixed-lag RTS smoother (scalar shape): forward pass =
    the shared associative filtering scan (log2 N full-width passes);
    backward pass = ``lag_windows`` over ALL anchors at once — ``lag``
    numpy passes instead of the per-trigger Python loop, so wall-clock no
    longer scales with rows-per-key. Same emission contract as the
    sequential queue fold (smoother.py). Op order of the backward
    recursion mirrors the sequential fold exactly; the forward state
    comes from the scan (~1e-12 relative vs the recursion,
    tests/test_scan_engine.py)."""
    f = float(c["processModel"][0, 0])
    q = float(c["processNoise"][0, 0])
    h = float(c["measurementModel"][0, 0])
    rr = float(c["measurementNoise"][0, 0])
    m0 = float(c["initialStateMean"][0])
    p0 = float(c["initialStateCovariance"][0, 0])
    layout = smoother_layout(c)

    def fold(pdf: pd.DataFrame, _state):
        N = len(pdf)
        if N == 0:
            return layout.frame(0), None
        keys_arr, _seg, pos, _fi, _hz, _z, ev, _m0k, _p0k, filt_m, filt_P = _scalar_scan_forward(
            pdf, N, f, q, h, rr, m0, p0
        )
        return lag_windows(
            layout, keys_arr, pos + 1, ev, filt_m, filt_P, c["processModel"], c["processNoise"],
            c["fixedLag"],
        ), None

    return fold


def lag_windows(layout, keys, index, ev, filt_m, filt_P, F_, Q, lag: int, own=True):
    """The fixed-lag RTS backward windows of every anchor row at once, as
    the smoother layout's frame: ``lag`` numpy passes instead of a
    per-trigger Python loop. A row anchors a window when its stateIndex
    ``index`` is at least ``lag`` (and ``own`` holds for it); the
    ``lag - 1`` rows before an anchor must be its own key's. Each anchor
    emits ``lag`` rows (stepIndex 0 = the anchor itself, gain 0) — the
    emission contract of the sequential queue fold (smoother.py).

    The per-row one-step predicts and RTS gains are batched once. 1-D
    filtered states (``filt_m`` of shape (N,)) use the sequential scalar
    fold's elementwise expressions and op order, so that path is
    bit-exact with it; n-D states use batched einsum and pinv (~ulp)."""
    anchors = np.nonzero((index >= lag) & own)[0]
    M = len(anchors)
    if M == 0:
        return layout.frame(0)
    if filt_m.ndim == 1:
        f, q = float(F_[0, 0]), float(Q[0, 0])
        nm = f * filt_m
        nc = (f * filt_P) * f + q
        g = (filt_P * f) * (1.0 / nc)

        def back(sm_m, sm_P, j, gj):
            return filt_m[j] + gj * (sm_m - nm[j]), filt_P[j] + (gj * (sm_P - nc[j])) * gj
    else:
        nm = filt_m @ F_.T
        nc = np.einsum("ij,ajk,lk->ail", F_, filt_P, F_) + Q
        g = np.einsum("aij,kj,akl->ail", filt_P, F_, np.linalg.pinv(nc))

        def back(sm_m, sm_P, j, gj):
            return (
                filt_m[j] + np.einsum("aij,aj->ai", gj, sm_m - nm[j]),
                filt_P[j] + np.einsum("aij,ajk,alk->ail", gj, sm_P - nc[j], gj),
            )

    total = M * lag
    o_row = np.empty(total, dtype=np.int64)
    o_mean = np.empty((total, *filt_m.shape[1:]))
    o_cov = np.empty((total, *filt_P.shape[1:]))
    o_gain = np.zeros((total, *g.shape[1:]))
    sm_m, sm_P = filt_m[anchors], filt_P[anchors]
    o_row[:M], o_mean[:M], o_cov[:M] = anchors, sm_m, sm_P
    for step in range(1, lag):
        j = anchors - step
        gj = g[j]
        sm_m, sm_P = back(sm_m, sm_P, j, gj)
        w = slice(step * M, (step + 1) * M)
        o_row[w], o_mean[w], o_cov[w], o_gain[w] = j, sm_m, sm_P, gj
    return layout.frame(
        total, stateKey=keys[o_row], stateIndex=index[o_row], stepIndex=np.repeat(np.arange(lag), M),
        m=o_mean, c=o_cov, g=o_gain, eventTime=ev[o_row] if ev is not None else None,
    )


def supports_scan_smoother(c: dict) -> bool:
    """Scope of the n-D parallel-scan smoother: plain constant-model shape
    (no per-row columns — the smoother never reads a measurementModel
    column), no fading (the scan element cannot express it), no control,
    no per-key initial-state column (the sequential smoother ignores it
    too, so parity would silently diverge)."""
    return (
        c["kind"] == "lkf"
        and not c.get("perRowCols")
        and float(c["fadingFactor"]) == 1.0
        and c["multiStepPredict"] == 0
        and c.get("control") is None
        and not c.get("hasInitDistCol")
        and not c.get("outputSystemMatrices")
    )


def vectorized_nd_smoother_scan_fold_factory(c: dict):
    """Scan-engine fixed-lag RTS smoother, n-D states: forward pass = the
    shared matrix-element scan (``_nd_scan_forward``, log2 N batched
    LAPACK passes); backward pass = ``lag_windows`` over ALL anchors at
    once, the same backward op order as every other smoother engine. The
    forward state comes from the scan (~1e-9 relative,
    tests/test_scan_engine.py)."""
    n = c["stateSize"]
    mdim = c["measurementSize"]
    F_ = c["processModel"]
    Q = c["processNoise"]
    R = c["measurementNoise"]
    H_const = c["measurementModel"]
    m0 = c["initialStateMean"]
    P0 = c["initialStateCovariance"]
    layout = smoother_layout(c)

    def fold(pdf: pd.DataFrame, _state):
        N = len(pdf)
        if N == 0:
            return layout.frame(0), None
        keys_arr, _seg, pos, _fi, _hz, _z, _h, ev, _m0k, _P0k, filt_m, filt_P = _nd_scan_forward(
            pdf, N, n, mdim, F_, Q, R, H_const, m0, P0
        )
        return lag_windows(layout, keys_arr, pos + 1, ev, filt_m, filt_P, F_, Q, c["fixedLag"]), None

    return fold


def supports_vectorized_smoother(c: dict) -> bool:
    """Vectorized fixed-lag RTS scope: constant models, no control, no
    per-row initial state (the sequential smoother fold ignores
    ``initialStateDistributionCol`` too, so parity holds)."""
    return not c.get("perRowCols") and c.get("control") is None and not c.get("hasInitDistCol")


def vectorized_smoother_fold_factory(c: dict):
    """Time-synchronous multi-key fixed-lag RTS smoother: the forward pass
    is the time-synchronous LKF filter pass itself — the scalar fold's
    elementwise pass for the 1-D shape, the batched einsum/pinv pass
    otherwise — and ``filter_fold`` hands its filtered (m, P) to
    ``lag_windows``, the backward pass every smoother engine shares. The
    1-D smoother is bit-exact with the sequential scalar fold; n-D
    reassociates (~ulp). The smoother emits no likelihood, so the pass
    computes none."""
    c = dict(c, calculateLoglikelihood=False, calculateMahalanobis=False, calculateSlidingLikelihood=False)
    if c["stateSize"] == 1 and c["measurementSize"] == 1:
        return vectorized_scalar_lkf_fold_factory(c)
    return vectorized_lkf_fold_factory(c)


def supports_vectorized_mixture(c: dict) -> bool:
    """Vectorized mixture scope: constant minibatch/stepSize/holdout and no
    per-row initial model (batch mode walks all keys in lock-step, so the
    schedule must be key-independent)."""
    return not c.get("hasPerRowCols")


def vectorized_mixture_fold_factory(c: dict):
    """Time-synchronous multi-key stochastic-EM mixture fold.

    Step t processes the t-th minibatch of EVERY key in one batched numpy
    pass (E-step log-densities, responsibilities, sufficient-stat blends) —
    the exact recursion of the sequential fold (mixture.py), restructured
    so Python-loop overhead is O(minibatches per key), not O(rows). Keys
    all start at idx 0 in batch mode, so the decay/holdout schedules stay
    key-independent. Leftover rows short of a full minibatch never emit
    (same as the sequential buffer)."""
    family = c["family"]
    mb = int(c["minibatchSize"])
    holdout = int(c["updateHoldout"])
    decay = c["decayRate"]
    step = float(c["stepSize"])
    w0 = c["initialWeights"]
    p0 = c["initialParams"]
    kc = len(w0)
    layout = mixture_layout(c)

    from artan_spark.types import vec_to_np

    def fold(pdf: pd.DataFrame, _state):
        N = len(pdf)
        if N == 0:
            return layout.frame(0), None
        keys_acc, idx_acc, W_acc, P_acc, ev_acc, ll_acc = [], [], [], [], [], []
        keys_arr = pdf[STATE_KEY].to_numpy()
        key_idx, _codes = pd.factorize(keys_arr)  # see multi_key_layout
        K = len(_codes)
        counts = np.bincount(key_idx, minlength=K)
        first = np.concatenate([[0], np.cumsum(counts)[:-1]])
        steps = counts // mb
        T = int(steps.max())
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None

        cells = pdf["sample"].values
        if family == "gaussian":
            d = len(np.asarray(vec_to_np(cells[0]), dtype=np.float64).ravel())
            try:
                # one C-level concatenate instead of a per-row vec_to_np loop
                X = np.asarray(np.concatenate(list(cells)), dtype=np.float64).reshape(N, d)
            except (TypeError, ValueError):
                X = np.stack(
                    [np.asarray(vec_to_np(v), dtype=np.float64).ravel() for v in cells]
                )
        else:
            X = np.asarray(cells, dtype=np.float64)

        weights = np.tile(w0, (K, 1))
        sweights = weights.copy()
        if family == "gaussian":
            means = np.tile(p0["means"], (K, 1, 1))
            covs = np.tile(p0["covs"], (K, 1, 1, 1))
            smeans = means * weights[:, :, None]
            scovs = covs * weights[:, :, None, None]
        elif family == "poisson":
            rates = np.tile(p0["rates"], (K, 1))
            srates = rates * weights
        else:
            probs = np.tile(p0["probabilities"], (K, 1))
            sprobs = probs * weights

        def loglik(x, a):
            """(A, mb, kc) log densities under the CURRENT per-key params
            (gaussian version; scalar families rebind below)."""
            if d == 1:
                # elementwise normal logpdf — the batched Cholesky/solve
                # LAPACK calls dominate the per-step cost for 1x1 covs
                m1 = means[a, :, 0]  # (A, kc)
                v1 = covs[a, :, 0, 0]  # (A, kc)
                diff = x[:, :, 0][:, :, None] - m1[:, None, :]
                return -0.5 * (_LOG2PI + np.log(v1)[:, None, :] + diff * diff / v1[:, None, :])
            llm = np.empty((len(a), x.shape[1], kc))
            for j in range(kc):
                L = np.linalg.cholesky(covs[a, j])
                diff = x - means[a, j][:, None, :]
                z = np.linalg.solve(L[:, None], diff[..., None])[..., 0]
                logdet = 2.0 * np.sum(np.log(np.diagonal(L, axis1=1, axis2=2)), axis=1)
                llm[:, :, j] = -0.5 * (d * _LOG2PI + logdet[:, None] + np.sum(z * z, axis=2))
            return llm

        if family == "poisson":
            from artan_spark.linalg import gammaln

            def loglik(x, a):  # noqa: F811
                r = rates[a]
                with np.errstate(divide="ignore", invalid="ignore"):
                    llm = x[:, :, None] * np.log(r)[:, None, :] - r[:, None, :] - gammaln(x + 1.0)[:, :, None]
                    bad = r[:, None, :] <= 0.0
                    if bad.any():
                        llm = np.where(
                            np.broadcast_to(bad, llm.shape),
                            np.where(x[:, :, None] == 0.0, 0.0, -np.inf),
                            llm,
                        )
                return llm

        elif family == "bernoulli":
            eps = 1e-300

            def loglik(x, a):  # noqa: F811
                p = probs[a]
                lp = np.log(np.maximum(p, eps))[:, None, :]
                lq = np.log(np.maximum(1.0 - p, eps))[:, None, :]
                return x[:, :, None] * lp + (1.0 - x[:, :, None]) * lq

        if family == "gaussian" and d == 1 and mb == 1:
            # Fused scalar fast path for the per-row stochastic-EM shape
            # (minibatch 1, 1-D): the general loop's ~100 small numpy calls
            # per time step are pure interpreter overhead when rows-per-key
            # is skewed (T = longest key; at sf0.1 the 32-key events layout
            # gives T ~ 3200 with single-digit alive sets), so the step is
            # rewritten as ~30 elementwise (A,)/(A, kc) ops with no mb axis
            # and no per-component loops. Same recursion, same parameter
            # blends; logsumexp algebra folds exp(llm - norm) into
            # r / r.sum() (identical values to float rounding ~1e-16,
            # absorbed by the contracting recursion; the 5dp oracle margin
            # is ~1e-10 and the seq==vec test tolerance 1e-9).
            # Round-12 step-cost squeeze (same recursion, bit-identical
            # elementwise ops): (a) ONE packed per-key state array so each
            # step pays one fancy gather + one scatter instead of ~10;
            # (b) the alive set is recomputed only when t crosses a distinct
            # chain length (it is constant in between); (c) minibatch 1
            # emits exactly one row per input row, so outputs scatter into
            # preallocated arrays at the absolute row index — no per-step
            # appends, no final vstack of T pieces, and keys/stateIndex/
            # eventTime emit fully vectorized outside the loop.
            X1 = X[:, 0]
            # packed state rows: [w, m, v, sw, sm, sc] per component
            ST = np.empty((K, 6, kc))
            ST[:, 0] = weights
            ST[:, 1] = means[:, :, 0]
            ST[:, 2] = covs[:, :, 0, 0]
            ST[:, 3] = sweights
            ST[:, 4] = smeans[:, :, 0]
            ST[:, 5] = scovs[:, :, 0, 0]

            out_W = np.empty((N, kc))
            out_P = np.empty((N, 2 * kc))
            out_ll = np.empty(N)
            emitted = np.zeros(N, dtype=bool)

            boundaries = np.unique(steps)  # alive set shrinks at these t
            bi = 0
            alive = np.arange(K)
            first_alive = first
            for t in range(T):
                if bi < len(boundaries) and t == boundaries[bi]:
                    # keys with steps == boundaries[bi] just finished
                    alive = np.nonzero(steps > t)[0]
                    first_alive = first[alive]
                    bi += 1
                    while bi < len(boundaries) and boundaries[bi] <= t:
                        bi += 1
                rows = first_alive + t
                x = X1[rows]  # (A,)
                alpha = float((2.0 + t) ** (-decay)) if decay is not None else step

                S = ST[alive]  # one gather; the slices below are views
                w, mA, vA = S[:, 0], S[:, 1], S[:, 2]
                diff = x[:, None] - mA
                d2 = diff * diff
                llm = -0.5 * (_LOG2PI + np.log(vA) + d2 / vA) + np.log(w)
                amax = llm.max(axis=1, keepdims=True)
                amax = np.where(np.isfinite(amax), amax, 0.0)
                r = np.exp(llm - amax)
                resp = r / r.sum(axis=1, keepdims=True)  # (A, kc)

                U = np.empty_like(S[:, 3:])
                U[:, 0] = resp
                U[:, 1] = resp * x[:, None]
                U[:, 2] = resp * d2
                S[:, 3:] = (1 - alpha) * S[:, 3:] + alpha * U
                if t >= holdout:
                    S[:, 0] = S[:, 3]
                    S[:, 1:3] = S[:, 4:6] / S[:, 3][:, None, :]
                ST[alive] = S

                mN, vN = S[:, 1], S[:, 2]
                diff2 = x[:, None] - mN
                ll2 = -0.5 * (_LOG2PI + np.log(vN) + diff2 * diff2 / vN) + np.log(
                    np.maximum(S[:, 0], 1e-300)
                )
                amax2 = ll2.max(axis=1, keepdims=True)
                amax2 = np.where(np.isfinite(amax2), amax2, 0.0)
                lls = np.log(np.exp(ll2 - amax2).sum(axis=1)) + amax2[:, 0]

                out_W[rows] = S[:, 0]
                out_P[rows, 0::2] = mN
                out_P[rows, 1::2] = vN
                out_ll[rows] = lls
                emitted[rows] = True

            if not emitted.any():
                return layout.frame(0), None
            pos = np.arange(N) - first[key_idx]
            sel = np.nonzero(emitted)[0]
            if len(sel) < N:
                keys_arr, pos, out_W, out_P, out_ll = (
                    keys_arr[sel], pos[sel], out_W[sel], out_P[sel], out_ll[sel]
                )
                ev = ev[sel] if ev is not None else None
            out = layout.frame(
                len(sel), stateKey=keys_arr, stateIndex=pos + 1, w=out_W, p=out_P,
                eventTime=ev, loglikelihood=out_ll,
            )
            return out, None

        if family in ("poisson", "bernoulli") and mb == 1:
            # Same fused minibatch-1 treatment for the scalar families:
            # their parameters are already (K, kc), so only the per-family
            # log-density and M-step numerator differ from the gaussian
            # fast path above.
            from artan_spark.linalg import gammaln

            par = rates if family == "poisson" else probs
            spar = srates if family == "poisson" else sprobs

            def ll1(x, pA):
                """Raw per-component log density (A, kc) under params pA,
                replicating the general loglik's edge handling."""
                if family == "poisson":
                    with np.errstate(divide="ignore", invalid="ignore"):
                        out = x[:, None] * np.log(pA) - pA - gammaln(x + 1.0)[:, None]
                        bad = pA <= 0.0
                        if bad.any():
                            out = np.where(
                                bad, np.where(x[:, None] == 0.0, 0.0, -np.inf), out
                            )
                    return out
                eps = 1e-300
                lp = np.log(np.maximum(pA, eps))
                lq = np.log(np.maximum(1.0 - pA, eps))
                return x[:, None] * lp + (1.0 - x[:, None]) * lq

            for t in range(T):
                alive = np.nonzero(steps > t)[0]
                A = len(alive)
                rows = first[alive] + t
                x = X[rows]  # (A,)
                alpha = float((2.0 + t) ** (-decay)) if decay is not None else step

                llm = ll1(x, par[alive]) + np.log(weights[alive])
                amax = llm.max(axis=1, keepdims=True)
                amax = np.where(np.isfinite(amax), amax, 0.0)
                r = np.exp(llm - amax)
                resp = r / r.sum(axis=1, keepdims=True)

                swA = (1 - alpha) * sweights[alive] + alpha * resp
                spA = (1 - alpha) * spar[alive] + alpha * (resp * x[:, None])
                sweights[alive] = swA
                spar[alive] = spA
                if t >= holdout:
                    weights[alive] = swA
                    par[alive] = spA / swA

                ll2 = ll1(x, par[alive]) + np.log(np.maximum(weights[alive], 1e-300))
                amax2 = ll2.max(axis=1, keepdims=True)
                amax2 = np.where(np.isfinite(amax2), amax2, 0.0)
                lls = np.log(np.exp(ll2 - amax2).sum(axis=1)) + amax2[:, 0]

                keys_acc.append(keys_arr[first[alive]])
                idx_acc.append(np.full(A, t + 1, dtype=np.int64))
                W_acc.append(weights[alive].copy())
                P_acc.append(par[alive].copy())
                if ev is not None:
                    ev_acc.append(ev[rows])
                ll_acc.append(lls)

            return _mixture_frame(layout, keys_acc, idx_acc, W_acc, P_acc, ev_acc, ll_acc), None

        for t in range(T):
            alive = np.nonzero(steps > t)[0]
            A = len(alive)
            idxs = first[alive][:, None] + t * mb + np.arange(mb)[None, :]
            x = X[idxs]
            alpha = float((2.0 + t) ** (-decay)) if decay is not None else step

            llm = loglik(x, alive) + np.log(weights[alive])[:, None, :]
            amax = np.max(llm, axis=2, keepdims=True)
            amax = np.where(np.isfinite(amax), amax, 0.0)
            norm = np.log(np.sum(np.exp(llm - amax), axis=2, keepdims=True)) + amax
            resp = np.exp(llm - norm)

            sw_new = resp.mean(axis=1)
            sweights[alive] = (1 - alpha) * sweights[alive] + alpha * sw_new
            if family == "gaussian":
                mn = np.einsum("amj,amd->ajd", resp, x) / mb
                cn = np.empty((A, kc, d, d))
                for j in range(kc):
                    dif = x - means[alive, j][:, None, :]
                    cn[:, j] = np.einsum("am,amd,ame->ade", resp[:, :, j], dif, dif) / mb
                smeans[alive] = (1 - alpha) * smeans[alive] + alpha * mn
                scovs[alive] = (1 - alpha) * scovs[alive] + alpha * cn
                if t >= holdout:
                    weights[alive] = sweights[alive]
                    means[alive] = smeans[alive] / sweights[alive][:, :, None]
                    covs[alive] = scovs[alive] / sweights[alive][:, :, None, None]
            elif family == "poisson":
                rn = np.einsum("amj,am->aj", resp, x) / mb
                srates[alive] = (1 - alpha) * srates[alive] + alpha * rn
                if t >= holdout:
                    weights[alive] = sweights[alive]
                    rates[alive] = srates[alive] / sweights[alive]
            else:
                pn = np.einsum("amj,am->aj", resp, x) / mb
                sprobs[alive] = (1 - alpha) * sprobs[alive] + alpha * pn
                if t >= holdout:
                    weights[alive] = sweights[alive]
                    probs[alive] = sprobs[alive] / sweights[alive]

            # loglikelihood of the NEW model on the minibatch
            ll_new = loglik(x, alive) + np.log(np.maximum(weights[alive], 1e-300))[:, None, :]
            amax = np.max(ll_new, axis=2, keepdims=True)
            amax = np.where(np.isfinite(amax), amax, 0.0)
            lls = np.sum(np.log(np.sum(np.exp(ll_new - amax), axis=2, keepdims=True)) + amax, axis=(1, 2))

            # accumulate plain numpy blocks; the flat primitive columns are
            # assembled once at the end (per-step Python list building was
            # O(rows) interpreter work at minibatch 1)
            trig = first[alive] + t * mb + mb - 1
            keys_acc.append(keys_arr[first[alive]])
            idx_acc.append(np.full(A, t + 1, dtype=np.int64))
            W_acc.append(weights[alive].copy())
            if family == "gaussian":
                flat = np.concatenate(
                    [means[alive], covs[alive].reshape(A, kc, d * d)], axis=2
                ).reshape(A, kc * (d + d * d))
            elif family == "poisson":
                flat = rates[alive].copy()
            else:
                flat = probs[alive].copy()
            P_acc.append(flat)
            if ev is not None:
                ev_acc.append(ev[trig])
            ll_acc.append(lls)

        return _mixture_frame(layout, keys_acc, idx_acc, W_acc, P_acc, ev_acc, ll_acc), None

    return fold


def _mixture_frame(layout, keys_acc, idx_acc, W_acc, P_acc, ev_acc, ll_acc) -> pd.DataFrame:
    """The mixture layout's frame from the per-step output blocks."""
    if not keys_acc:
        return layout.frame(0)
    return layout.frame(
        sum(map(len, keys_acc)),
        stateKey=np.concatenate(keys_acc),
        stateIndex=np.concatenate(idx_acc),
        w=np.vstack(W_acc),
        p=np.vstack(P_acc),
        eventTime=np.concatenate(ev_acc) if ev_acc else None,
        loglikelihood=np.concatenate(ll_acc),
    )
