"""DISTRIBUTED (cross-task) parallel-scan execution of the scalar linear
recursions: LKF filter, RLS, LMS (two-pass), and the fixed-lag RTS
smoother (three-pass chunk-overlap; see distributed_smoother_transform).

The in-task scan engine (operators/vectorized.py, Särkkä &
García-Fernández 2021) removes the rows-per-key SERIAL bound but not the
rows-per-key TASK bound: ``groupBy(stateKey).applyInPandas`` still lands a
hot key's entire history on ONE task — one core's worth of throughput and
one executor's worth of memory, the remaining 100-TB skew risk.

This engine distributes the same associative scan across tasks:

  1. rows are chunked by event time (``floor(eventTime / scanChunkDuration)``
     — a DETERMINISTIC, sample-free partitioning key, so the two passes
     never depend on cached partition placement the way a
     ``repartitionByRange`` pid-coupled design would);
  2. **pass 1** — ``groupBy(stateKey, chunk).applyInPandas`` combines each
     chunk's GENERIC per-row elements (no prior folded in) into ONE
     five-scalar element via the in-task doubling scan and emits a single
     summary row per chunk;
  3. the **driver** prefix-combines each key's chunk summaries in chunk
     order — O(#chunks) five-scalar combines, microseconds — producing the
     exact incoming distribution (m, P) and stateIndex offset for every
     chunk, starting from the per-key prior (the prior is the degenerate
     element (A=0, b=m0, C=P0, eta=0, J=0); ``combine(prior, element)``
     IS predict+update, pinned by tests/test_dist_scan.py);
  4. **pass 2** — the same ``groupBy(stateKey, chunk)`` re-runs the
     in-task scan per chunk, seeded with its broadcast incoming
     distribution, and emits the final rows.

Cost: two linear shuffles of the input (pass 1 and pass 2 are separate
actions, so the exchange runs twice; cache the input upstream if the
scan source is expensive) + one tiny driver job; wall-clock for a
single hot key drops from one task to ``#chunks``-way parallelism.
Semantics: identical formulas to the in-task scan; float association
order differs across chunk boundaries, so parity with the sequential
recursion stays at the scan engine's ~1e-12 relative (same contract).

Scope (``supports_distributed_scan``): the in-task scan's shape
(scalar constant-model LKF, no fading/control/multi-step) MINUS sliding
likelihood — its rolling window needs the previous chunk's trailing
loglikelihood VALUES, which only exist after pass 2 — PLUS a required
``eventTimeCol`` (the chunking key; it is also what makes a distributed
total order well-defined at all).

Opt in with ``setFoldEngine("distributedScan")``. The auto engine never
promotes to it: two shuffles only pay for themselves when single keys
are long enough to bottleneck one task (~1M+ rows/key); short-key
workloads already parallelize across keys.

Parity surface: reference LinearKalmanFilter semantics
(/root/reference/src/main/scala/com/github/ozancicek/artan/ml/filter/
LinearKalmanFilter.scala:60-260) — same results as the batch operator,
different physical strategy.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from artan_spark.operators.base import EVENT_TIME, STATE_KEY, empty_pdf
from artan_spark.operators.codec import kalman_layout, rls_layout, smoother_layout
from artan_spark.operators.vectorized import (
    LMS_COLUMNS,
    _scalar_combine,
    _scalar_generic_elements,
    _scalar_scan_emit,
    _scalar_scan_forward,
    _lms_frame,
    _scalar_segmented_scan,
    extract_scalar_measurements,
    supports_scan,
)
from artan_spark.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

CHUNK = "__scanChunk__"

# chunk id for null event times: sorts before every real chunk, matching
# the sequential fold's nulls-first in-key ordering
_NULL_CHUNK = -(1 << 62)

_PASS1_SCHEMA = StructType(
    [
        StructField(STATE_KEY, StringType()),
        StructField(CHUNK, LongType()),
        StructField("n", LongType()),
        StructField("elA", DoubleType()),
        StructField("elB", DoubleType()),
        StructField("elC", DoubleType()),
        StructField("elEta", DoubleType()),
        StructField("elJ", DoubleType()),
        StructField("m0ovr", DoubleType(), True),
        StructField("p0ovr", DoubleType(), True),
    ]
)


def supports_distributed_scan(c: dict) -> bool:
    """The in-task scan's shape minus sliding likelihood (whose rolling
    window crosses chunk boundaries with values only pass 2 produces).
    The fixed-lag smoother (constants carry ``fixedLag``) is NOT this
    transform — its backward window crosses chunk seams and needs the
    overlap design; rejecting it here keeps the inherited KalmanBase
    routing from silently running the filter on a smoother."""
    return (
        supports_scan(c)
        and not c.get("calculateSlidingLikelihood")
        and "fixedLag" not in c
    )


def _first_row_prior_override(pdf: pd.DataFrame):
    """(mean, cov) from the group's first row's initialStateDistribution
    cell, or (None, None). Only the key's FIRST chunk's value is consulted
    by the driver — same row the in-task engines read."""
    if "initialStateDistribution" not in pdf.columns:
        return None, None
    d = pdf["initialStateDistribution"].values[0]
    if d is None:
        return None, None
    if isinstance(d, dict):
        return float(d["mean"][0]), float(d["covariance"]["values"][0])
    return float(d.mean[0]), float(d.covariance.values[0])


def _lkf_reduce_factory(f, q, h, rr):
    """Pass-1 reducer shared by the LKF filter and smoother paths: sort
    the (key, chunk) group by event time, combine its GENERIC elements
    into one summary row, carry the first row's prior override."""

    def reduce_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([EVENT_TIME], kind="stable", na_position="first")
        N = len(pdf)
        z_cells = pdf["measurement"].values
        has_z = np.array([z is not None for z in z_cells])
        Z = extract_scalar_measurements(z_cells, has_z, N)
        A, b, C, eta, J = _scalar_generic_elements(Z, has_z, N, f, q, h, rr)
        _scalar_segmented_scan(A, b, C, eta, J, np.arange(N), N)
        m0o, p0o = _first_row_prior_override(pdf)
        return pd.DataFrame(
            {
                STATE_KEY: [pdf[STATE_KEY].values[0]],
                CHUNK: [np.int64(pdf[CHUNK].values[0])],
                "n": [np.int64(N)],
                "elA": [A[-1]],
                "elB": [b[-1]],
                "elC": [C[-1]],
                "elEta": [eta[-1]],
                "elJ": [J[-1]],
                "m0ovr": [m0o],
                "p0ovr": [p0o],
            }
        )

    return reduce_fn


def distributed_scan_transform(op, df: DataFrame) -> DataFrame:
    """Execute ``op`` (a scalar constant-model LinearKalmanFilter) over
    batch ``df`` with the two-pass distributed scan. Returns the same
    public schema as every other engine (via ``op._shapeOutput``)."""
    c = op._constants()
    if not supports_distributed_scan(c):
        raise ValueError(
            "foldEngine='distributedScan' requires a constant-model scalar "
            "LKF shape with fadingFactor=1 and no sliding likelihood — use "
            "foldEngine='scan' or 'sequential' for this configuration"
        )

    f = float(c["processModel"][0, 0])
    q = float(c["processNoise"][0, 0])
    h = float(c["measurementModel"][0, 0])
    rr = float(c["measurementNoise"][0, 0])
    m0 = float(c["initialStateMean"][0])
    p0 = float(c["initialStateCovariance"][0, 0])
    compute_ll = bool(c["calculateLoglikelihood"])
    compute_maha = bool(c["calculateMahalanobis"])
    layout = kalman_layout(c)

    chunked = _chunked_frame(op, df)

    # ---- pass 1: one combined generic element per (key, chunk) ---------
    summaries = chunked.groupBy(STATE_KEY, CHUNK).applyInPandas(
        _lkf_reduce_factory(f, q, h, rr), _PASS1_SCHEMA
    )
    by_key = _collect_chunk_summaries(op, summaries)

    # ---- driver prefix: incoming (m, P, stateIndex offset) per chunk ----
    seeds: dict = {}
    for k, lst in by_key.items():
        ovr_m, ovr_p = lst[0]["m0ovr"], lst[0]["p0ovr"]
        m = ovr_m if ovr_m is not None else m0
        p = ovr_p if ovr_p is not None else p0
        off = 0
        for r in lst:
            seeds[(k, r[CHUNK])] = (m, p, off)
            e = _scalar_combine(
                (0.0, m, p, 0.0, 0.0),
                (r["elA"], r["elB"], r["elC"], r["elEta"], r["elJ"]),
            )
            m, p = e[1], e[2]
            off += r["n"]
    seeds_bc = df.sparkSession.sparkContext.broadcast(seeds)

    # ---- pass 2: seeded in-task scan per chunk --------------------------
    def scan_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        N = len(pdf)
        if N == 0:
            return layout.frame(0)
        m_in, p_in, off = seeds_bc.value[
            (pdf[STATE_KEY].values[0], int(pdf[CHUNK].values[0]))
        ]
        pdf = pdf.sort_values([EVENT_TIME], kind="stable", na_position="first")
        fwd = _scalar_scan_forward(
            pdf, N, f, q, h, rr, m0, p0,
            prior_override=(np.array([m_in]), np.array([p_in])),
        )
        return _scalar_scan_emit(
            fwd, N, f, q, h, rr,
            compute_ll=compute_ll, compute_maha=compute_maha,
            compute_sll=False, ll_window=1, layout=layout, idx_offset=off,
        )

    res = chunked.groupBy(STATE_KEY, CHUNK).applyInPandas(scan_fn, layout.schema)
    return op._shapeOutput(res)


# ---------------------------------------------------------------------------
# shared two-pass scaffolding (RLS / LMS: plain affine composites)
# ---------------------------------------------------------------------------


def _chunked_frame(op, df: DataFrame) -> DataFrame:
    """keyed + deterministic event-time chunk column (shared validation)."""
    if df.isStreaming:
        raise ValueError(
            "foldEngine='distributedScan' is a batch engine (streaming "
            "micro-batches are rows-per-trigger-bound, not "
            "rows-per-key-bound)"
        )
    if not op.get("eventTimeCol"):
        raise ValueError(
            "foldEngine='distributedScan' requires setEventTimeCol: event "
            "time is the chunking key and the distributed total order"
        )
    width_s = pd.Timedelta(op.get("scanChunkDuration")).total_seconds()
    if not width_s > 0:
        raise ValueError("scanChunkDuration must be a positive duration")
    return op._keyed(df).withColumn(
        CHUNK,
        F.coalesce(
            F.floor(F.col(EVENT_TIME).cast("double") / F.lit(float(width_s))).cast("long"),
            F.lit(_NULL_CHUNK),
        ),
    )


def _collect_chunk_summaries(op, summaries: DataFrame) -> dict:
    """take()-bounded driver collect of pass-1 rows, grouped per key in
    chunk order. O(#groups) driver state, capped with a guided error."""
    max_groups = int(op.get("distributedScanMaxGroups"))
    rows = summaries.take(max_groups + 1)
    if len(rows) > max_groups:
        raise ValueError(
            f"distributedScan produced > {max_groups} (key, chunk) groups; "
            "widen scanChunkDuration (driver prefix state is O(#groups)), "
            "raise distributedScanMaxGroups, or use the in-task engines — "
            "many-key workloads already parallelize across keys"
        )
    by_key: dict = defaultdict(list)
    for r in rows:
        by_key[r[STATE_KEY]].append(r)
    for lst in by_key.values():
        lst.sort(key=lambda r: r[CHUNK])
    return by_key


def _affine_pass1_schema(fields) -> StructType:
    return StructType(
        [
            StructField(STATE_KEY, StringType()),
            StructField(CHUNK, LongType()),
            StructField("n", LongType()),
        ]
        + [StructField(f, DoubleType()) for f in fields]
    )


def _scalar_feature_array(pdf: pd.DataFrame, N: int) -> np.ndarray:
    feats = pdf["features"].values
    if len(np.ravel(feats[0])) != 1:
        raise ValueError(
            "foldEngine='distributedScan' supports the 1-D shape only — "
            "use the sequential engine for n-D feature vectors"
        )
    return np.fromiter((np.ravel(f)[0] for f in feats), dtype=np.float64, count=N)


def _affine_doubling_scan(S: np.ndarray, adds: list[np.ndarray], N: int) -> None:
    """In-place inclusive scan of the affine composite v -> S*v + a over a
    single contiguous run (compose right-after-left: S = S_r*S_l,
    a = S_r*a_l + a_r) — the RLS/LMS element algebra."""
    d = 1
    while d < N:
        Sl, Sr = S[:-d], S[d:]
        nS = Sr * Sl
        news = [Sr * a[:-d] + a[d:] for a in adds]
        S[d:] = nS
        for a, na in zip(adds, news):
            a[d:] = na
        d *= 2


def supports_distributed_rls(c: dict) -> bool:
    return int(c.get("stateSize") or 0) == 1 and not c.get("hasPerRowCols")


def distributed_rls_transform(op, df: DataFrame) -> DataFrame:
    """Two-pass distributed information-form scan for the scalar RLS
    (element algebra of vectorized_scalar_rls_scan_fold_factory: each row
    is v -> lam*v + c on (I, beta); chunk composites compose the same
    way, so the driver prefix is exact)."""
    c = op._constants()
    if not supports_distributed_rls(c):
        raise ValueError(
            "foldEngine='distributedScan' requires the scalar RLS shape "
            "with param (not per-row) priors — use foldEngine='sequential'"
        )
    lam = float(c["forgettingFactor"])
    m0 = 0.0 if c["initialStateMean"] is None else float(np.ravel(c["initialStateMean"])[0])
    p0 = (
        1.0
        if c["regularizationMatrix"] is None
        else float(np.ravel(c["regularizationMatrix"])[0])
    )
    chunked = _chunked_frame(op, df)

    def reduce_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([EVENT_TIME], kind="stable", na_position="first")
        N = len(pdf)
        y = pdf["label"].to_numpy(dtype=np.float64)
        X = _scalar_feature_array(pdf, N)
        S = np.full(N, lam)
        aI = X * X
        aB = X * y
        _affine_doubling_scan(S, [aI, aB], N)
        return pd.DataFrame(
            {
                STATE_KEY: [pdf[STATE_KEY].values[0]],
                CHUNK: [np.int64(pdf[CHUNK].values[0])],
                "n": [np.int64(N)],
                "S": [S[-1]],
                "aI": [aI[-1]],
                "aB": [aB[-1]],
            }
        )

    summaries = chunked.groupBy(STATE_KEY, CHUNK).applyInPandas(
        reduce_fn, _affine_pass1_schema(["S", "aI", "aB"])
    )
    by_key = _collect_chunk_summaries(op, summaries)
    # incoming composite per chunk, starting from the identity (1, 0, 0)
    seeds: dict = {}
    for k, lst in by_key.items():
        S_in, aI_in, aB_in, off = 1.0, 0.0, 0.0, 0
        for r in lst:
            seeds[(k, r[CHUNK])] = (S_in, aI_in, aB_in, off)
            S_in, aI_in, aB_in = (
                r["S"] * S_in,
                r["S"] * aI_in + r["aI"],
                r["S"] * aB_in + r["aB"],
            )
            off += r["n"]
    seeds_bc = df.sparkSession.sparkContext.broadcast(seeds)
    layout = rls_layout(c)

    def scan_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        N = len(pdf)
        if N == 0:
            return layout.frame(0)
        S_in, aI_in, aB_in, off = seeds_bc.value[
            (pdf[STATE_KEY].values[0], int(pdf[CHUNK].values[0]))
        ]
        pdf = pdf.sort_values([EVENT_TIME], kind="stable", na_position="first")
        y = pdf["label"].to_numpy(dtype=np.float64)
        X = _scalar_feature_array(pdf, N)
        S = np.full(N, lam)
        aI = X * X
        aB = X * y
        _affine_doubling_scan(S, [aI, aB], N)
        # total prefix = compose(incoming, local)
        S_t = S * S_in
        aI_t = S * aI_in + aI
        aB_t = S * aB_in + aB
        info = S_t * (1.0 / p0) + aI_t
        beta = S_t * (m0 / p0) + aB_t
        return layout.frame(
            N,
            stateKey=pdf[STATE_KEY].to_numpy(),
            stateIndex=np.arange(1, N + 1, dtype=np.int64) + off,
            m=beta / info,
            c=1.0 / info,
            eventTime=pdf[EVENT_TIME].values,
        )

    res = chunked.groupBy(STATE_KEY, CHUNK).applyInPandas(scan_fn, layout.schema)
    return op._shapeOutput(res)


def supports_distributed_lms(c: dict) -> bool:
    init = c.get("initialState")
    return init is not None and len(np.ravel(init)) == 1


def distributed_lms_transform(op, df: DataFrame) -> DataFrame:
    """Two-pass distributed affine scan for the scalar normalized LMS
    (element algebra of vectorized_scalar_lms_scan_fold_factory:
    m' = s_i*m + a_i)."""
    c = op._constants()
    if not supports_distributed_lms(c):
        raise ValueError(
            "foldEngine='distributedScan' requires a provably 1-D LMS shape "
            "(setInitialEstimate of length 1) — use foldEngine='sequential'"
        )
    lr = float(c["learningRate"])
    reg = float(c["regularizationConstant"])
    m0 = float(np.ravel(c["initialState"])[0])
    chunked = _chunked_frame(op, df)

    def _elements(pdf: pd.DataFrame, N: int):
        y = pdf["label"].to_numpy(dtype=np.float64)
        X = _scalar_feature_array(pdf, N)
        denom = reg + X * X
        g = lr * X / denom
        S = 1.0 - g * X
        a = g * y
        return S, a

    def reduce_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([EVENT_TIME], kind="stable", na_position="first")
        N = len(pdf)
        S, a = _elements(pdf, N)
        _affine_doubling_scan(S, [a], N)
        return pd.DataFrame(
            {
                STATE_KEY: [pdf[STATE_KEY].values[0]],
                CHUNK: [np.int64(pdf[CHUNK].values[0])],
                "n": [np.int64(N)],
                "S": [S[-1]],
                "a": [a[-1]],
            }
        )

    summaries = chunked.groupBy(STATE_KEY, CHUNK).applyInPandas(
        reduce_fn, _affine_pass1_schema(["S", "a"])
    )
    by_key = _collect_chunk_summaries(op, summaries)
    seeds: dict = {}
    for k, lst in by_key.items():
        S_in, a_in, off = 1.0, 0.0, 0
        for r in lst:
            seeds[(k, r[CHUNK])] = (S_in, a_in, off)
            S_in, a_in = r["S"] * S_in, r["S"] * a_in + r["a"]
            off += r["n"]
    seeds_bc = df.sparkSession.sparkContext.broadcast(seeds)

    def scan_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        N = len(pdf)
        if N == 0:
            return empty_pdf(LMS_COLUMNS)
        S_in, a_in, off = seeds_bc.value[
            (pdf[STATE_KEY].values[0], int(pdf[CHUNK].values[0]))
        ]
        pdf = pdf.sort_values([EVENT_TIME], kind="stable", na_position="first")
        S, a = _elements(pdf, N)
        _affine_doubling_scan(S, [a], N)
        S_t = S * S_in
        a_t = S * a_in + a
        state = S_t * m0 + a_t
        return _lms_frame(
            pdf[STATE_KEY].to_numpy(),
            np.arange(1, N + 1, dtype=np.int64) + off,
            state[:, None],
            pdf[EVENT_TIME].values,
        )

    res = chunked.groupBy(STATE_KEY, CHUNK).applyInPandas(scan_fn, op._outSchema())
    return op._shapeOutput(res)


# ---------------------------------------------------------------------------
# n-D LKF: matrix elements (tree reduce in pass 1, seeded n-D scan in pass 2)
# ---------------------------------------------------------------------------


def supports_distributed_nd(c: dict) -> bool:
    """The n-D matrix scan's shape (constant model, per-row
    measurementModel allowed — the OLS regression shape; no sliding
    likelihood already enforced there), excluding the smoother."""
    from artan_spark.operators.vectorized import supports_scan_general

    return "fixedLag" not in c and supports_scan_general(c)


def _nd_tree_reduce(A, b, C, eta, J, eye_n):
    """Pairwise tree reduce of ordered n-D elements to ONE composite —
    N-1 combines in log2(N) batched rounds (cheaper than the full
    prefix scan when only the total is needed). Order-preserving: pairs
    keep their positions; an odd tail element stays last."""
    from artan_spark.operators.vectorized import _nd_combine

    cur = (A, b, C, eta, J)
    while cur[0].shape[0] > 1:
        M = cur[0].shape[0]
        even = M - (M % 2)
        comb = _nd_combine(
            cur[0][0:even:2], cur[1][0:even:2], cur[2][0:even:2],
            cur[3][0:even:2], cur[4][0:even:2],
            cur[0][1:even:2], cur[1][1:even:2], cur[2][1:even:2],
            cur[3][1:even:2], cur[4][1:even:2], eye_n,
        )
        if M % 2:
            cur = tuple(
                np.concatenate([cc, tail[-1:]], axis=0)
                for cc, tail in zip(comb, cur)
            )
        else:
            cur = comb
    return tuple(x[0] for x in cur)


def _nd_first_row_prior(pdf: pd.DataFrame, n: int):
    """(mean, cov) arrays from the group's first row's
    initialStateDistribution cell, or (None, None)."""
    if "initialStateDistribution" not in pdf.columns:
        return None, None
    d = pdf["initialStateDistribution"].values[0]
    if d is None:
        return None, None
    from artan_spark.types import mat_to_np, vec_to_np

    mean = np.asarray(vec_to_np(d["mean"] if isinstance(d, dict) else d.mean), dtype=np.float64).ravel()
    cov = np.asarray(mat_to_np(d["covariance"] if isinstance(d, dict) else d.covariance), dtype=np.float64)
    return mean, cov


def distributed_nd_scan_transform(op, df: DataFrame) -> DataFrame:
    """Cross-task n-D LKF: the scalar two-pass shape with matrix
    elements. Pass 1 tree-reduces each chunk's generic elements to one
    composite (flattened row-major arrays in the summary row); the
    driver prefix runs the same `_nd_combine` on single pairs; pass 2
    re-runs the seeded in-task n-D scan per chunk."""
    from artan_spark.operators.vectorized import (
        _nd_combine,
        _nd_generic_elements,
        _nd_scan_emit,
        _nd_scan_forward,
    )
    from artan_spark.types import ArrayType, mat_to_np

    c = op._constants()
    if not supports_distributed_nd(c):
        raise ValueError(
            "foldEngine='distributedScan' requires a constant-model LKF "
            "shape with fadingFactor=1 and no sliding likelihood (per-row "
            "measurementModel allowed) — use foldEngine='sequential' for "
            "this configuration"
        )
    n = int(c["stateSize"])
    mdim = int(c["measurementSize"])
    F_ = c["processModel"]
    Q = c["processNoise"]
    R = c["measurementNoise"]
    H_const = c["measurementModel"]
    m0 = c["initialStateMean"]
    P0 = c["initialStateCovariance"]
    compute_ll = bool(c["calculateLoglikelihood"])
    compute_maha = bool(c["calculateMahalanobis"])
    eye_n = np.eye(n)
    chunked = _chunked_frame(op, df)

    pass1_schema = StructType(
        [
            StructField(STATE_KEY, StringType()),
            StructField(CHUNK, LongType()),
            StructField("n", LongType()),
            StructField("elA", ArrayType(DoubleType())),
            StructField("elB", ArrayType(DoubleType())),
            StructField("elC", ArrayType(DoubleType())),
            StructField("elEta", ArrayType(DoubleType())),
            StructField("elJ", ArrayType(DoubleType())),
            StructField("m0ovr", ArrayType(DoubleType()), True),
            StructField("p0ovr", ArrayType(DoubleType()), True),
        ]
    )

    def _layout(pdf: pd.DataFrame, N: int):
        z_cells = pdf["measurement"].values
        has_z = np.array([z is not None for z in z_cells])
        Z = np.zeros((N, mdim))
        for i in np.nonzero(has_z)[0]:
            Z[i] = np.asarray(z_cells[i], dtype=np.float64).ravel()
        if "measurementModel" in pdf.columns:
            h_cells = pdf["measurementModel"].values
            Hrows = np.empty((N, mdim, n))
            for i in range(N):
                Hrows[i] = mat_to_np(h_cells[i]) if h_cells[i] is not None else H_const
        else:
            Hrows = None
        return has_z, Z, Hrows

    def reduce_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([EVENT_TIME], kind="stable", na_position="first")
        N = len(pdf)
        has_z, Z, Hrows = _layout(pdf, N)
        A, b, C, eta, J = _nd_generic_elements(Z, has_z, Hrows, N, n, mdim, F_, Q, R, H_const)
        eA, eb, eC, ee, eJ = _nd_tree_reduce(A, b, C, eta, J, eye_n)
        m0o, p0o = _nd_first_row_prior(pdf, n)
        return pd.DataFrame(
            {
                STATE_KEY: [pdf[STATE_KEY].values[0]],
                CHUNK: [np.int64(pdf[CHUNK].values[0])],
                "n": [np.int64(N)],
                "elA": [eA.ravel()],
                "elB": [eb.ravel()],
                "elC": [eC.ravel()],
                "elEta": [ee.ravel()],
                "elJ": [eJ.ravel()],
                "m0ovr": [None if m0o is None else m0o],
                "p0ovr": [None if p0o is None else p0o.ravel()],
            }
        )

    summaries = chunked.groupBy(STATE_KEY, CHUNK).applyInPandas(reduce_fn, pass1_schema)
    by_key = _collect_chunk_summaries(op, summaries)

    seeds: dict = {}
    for k, lst in by_key.items():
        ovr_m, ovr_p = lst[0]["m0ovr"], lst[0]["p0ovr"]
        m = np.asarray(ovr_m, dtype=np.float64) if ovr_m is not None else np.asarray(m0, dtype=np.float64).ravel().copy()
        p = (
            np.asarray(ovr_p, dtype=np.float64).reshape(n, n)
            if ovr_p is not None
            else np.asarray(P0, dtype=np.float64).copy()
        )
        off = 0
        for r in lst:
            seeds[(k, r[CHUNK])] = (m, p, off)
            comb = _nd_combine(
                np.zeros((1, n, n)), m[None], p[None],
                np.zeros((1, n)), np.zeros((1, n, n)),
                np.asarray(r["elA"], dtype=np.float64).reshape(1, n, n),
                np.asarray(r["elB"], dtype=np.float64).reshape(1, n),
                np.asarray(r["elC"], dtype=np.float64).reshape(1, n, n),
                np.asarray(r["elEta"], dtype=np.float64).reshape(1, n),
                np.asarray(r["elJ"], dtype=np.float64).reshape(1, n, n),
                eye_n,
            )
            m, p = comb[1][0], comb[2][0]
            off += r["n"]
    seeds_bc = df.sparkSession.sparkContext.broadcast(seeds)
    layout = kalman_layout(c)

    def scan_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        N = len(pdf)
        if N == 0:
            return layout.frame(0)
        m_in, p_in, off = seeds_bc.value[
            (pdf[STATE_KEY].values[0], int(pdf[CHUNK].values[0]))
        ]
        pdf = pdf.sort_values([EVENT_TIME], kind="stable", na_position="first")
        fwd = _nd_scan_forward(
            pdf, N, n, mdim, F_, Q, R, H_const, m0, P0,
            prior_override=(m_in[None], p_in[None]),
        )
        return _nd_scan_emit(
            fwd, N, n, mdim, F_, Q, R, H_const,
            compute_ll=compute_ll, compute_maha=compute_maha, layout=layout, idx_offset=off,
        )

    res = chunked.groupBy(STATE_KEY, CHUNK).applyInPandas(scan_fn, layout.schema)
    return op._shapeOutput(res)


# ---------------------------------------------------------------------------
# fixed-lag smoother: 3-pass design (filter passes + chunk-overlap backward)
# ---------------------------------------------------------------------------


def supports_distributed_smoother(c: dict) -> bool:
    """Scalar constant-model fixed-lag smoother: the LKF scan shape
    constraints (supports_scan only inspects the filter keys, so the
    extra fixedLag entry is inert) — the smoother computes no likelihood
    projections, so only the filter-shape constraints apply."""
    return "fixedLag" in c and supports_scan(c)


def distributed_smoother_transform(op, df: DataFrame) -> DataFrame:
    """Cross-task fixed-lag RTS smoother (scalar constant-model shape):

      pass 1  — the shared LKF chunk-element reduce + driver prefix;
                the driver ALSO resolves, per chunk, which LATER chunks
                need copies of its trailing rows: an anchor at global
                index s smooths back to s-lag+1, so a chunk starting at
                global offset ``off'`` needs every earlier row with
                index >= off'-lag+2 (chunks smaller than the lag borrow
                across SEVERAL predecessors — the target list handles
                that, not just the adjacent chunk);
      pass 2  — seeded forward scan per chunk emits (stateIndex,
                filtered m, P) rows, each tagged with its own chunk and
                duplicated to every target chunk that needs it;
      pass 3  — per (key, targetChunk): rows are consecutive global
                indices by construction; the anchor-vectorized backward
                window (same op order as the in-task scan smoother) runs
                positionally and emits only for OWN rows.

    Three linear shuffles; duplication is bounded by lag-1 rows per
    chunk seam."""
    c = op._constants()
    if not supports_distributed_smoother(c):
        raise ValueError(
            "foldEngine='distributedScan' requires the scalar constant-model "
            "smoother shape with fadingFactor=1 — use foldEngine='scan' or "
            "'sequential' for this configuration"
        )
    lag = int(c["fixedLag"])
    f = float(c["processModel"][0, 0])
    q = float(c["processNoise"][0, 0])
    h = float(c["measurementModel"][0, 0])
    rr = float(c["measurementNoise"][0, 0])
    m0 = float(c["initialStateMean"][0])
    p0 = float(c["initialStateCovariance"][0, 0])
    chunked = _chunked_frame(op, df)

    summaries = chunked.groupBy(STATE_KEY, CHUNK).applyInPandas(
        _lkf_reduce_factory(f, q, h, rr), _PASS1_SCHEMA
    )
    by_key = _collect_chunk_summaries(op, summaries)

    # driver prefix: incoming (m, P, offset) + overlap targets per chunk
    seeds: dict = {}
    for k, lst in by_key.items():
        ovr_m, ovr_p = lst[0]["m0ovr"], lst[0]["p0ovr"]
        m = ovr_m if ovr_m is not None else m0
        p = ovr_p if ovr_p is not None else p0
        off = 0
        metas = []  # (chunk, off, n) in order
        for r in lst:
            metas.append((r[CHUNK], off, r["n"]))
            seeds[(k, r[CHUNK])] = (m, p, off, [])
            e = _scalar_combine(
                (0.0, m, p, 0.0, 0.0),
                (r["elA"], r["elB"], r["elC"], r["elEta"], r["elJ"]),
            )
            m, p = e[1], e[2]
            off += r["n"]
        # overlap targets: chunk i (rows off+1..off+n global) must copy its
        # rows s >= off'-lag+2 to each later chunk starting at off' while
        # that bound reaches back into it
        for i, (ch, off_i, n_i) in enumerate(metas):
            hi = off_i + n_i  # last global index in this chunk
            targets = seeds[(k, ch)][3]
            for ch2, off2, _n2 in metas[i + 1 :]:
                lo_needed = off2 - lag + 2  # first global index chunk2 needs
                if lo_needed > hi:
                    break
                targets.append((ch2, max(off_i + 1, lo_needed), hi))
    seeds_bc = df.sparkSession.sparkContext.broadcast(seeds)

    pass2_schema = StructType(
        [
            StructField(STATE_KEY, StringType()),
            StructField("tchunk", LongType()),
            StructField("own", BooleanType()),
            StructField("stateIndex", LongType()),
            StructField("fm", DoubleType()),
            StructField("fP", DoubleType()),
            StructField(EVENT_TIME, TimestampType(), True),
        ]
    )

    def filter_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        N = len(pdf)
        if N == 0:
            return pd.DataFrame(columns=[fld.name for fld in pass2_schema.fields])
        key = pdf[STATE_KEY].values[0]
        m_in, p_in, off, targets = seeds_bc.value[(key, int(pdf[CHUNK].values[0]))]
        pdf = pdf.sort_values([EVENT_TIME], kind="stable", na_position="first")
        fwd = _scalar_scan_forward(
            pdf, N, f, q, h, rr, m0, p0,
            prior_override=(np.array([m_in]), np.array([p_in])),
        )
        filt_m, filt_P = fwd[9], fwd[10]
        ev = fwd[6]
        idx = np.arange(1, N + 1, dtype=np.int64) + off
        frames = [
            pd.DataFrame(
                {
                    STATE_KEY: key,
                    "tchunk": np.int64(pdf[CHUNK].values[0]),
                    "own": True,
                    "stateIndex": idx,
                    "fm": filt_m,
                    "fP": filt_P,
                    EVENT_TIME: ev if ev is not None else [None] * N,
                }
            )
        ]
        for ch2, lo, hi in targets:
            sl = slice(lo - off - 1, hi - off)  # global -> local positions
            frames.append(
                pd.DataFrame(
                    {
                        STATE_KEY: key,
                        "tchunk": np.int64(ch2),
                        "own": False,
                        "stateIndex": idx[sl],
                        "fm": filt_m[sl],
                        "fP": filt_P[sl],
                        EVENT_TIME: ev[sl] if ev is not None else [None] * (hi - lo + 1),
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    filtered = chunked.groupBy(STATE_KEY, CHUNK).applyInPandas(filter_fn, pass2_schema)
    layout = smoother_layout(c)

    def backward_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        N = len(pdf)
        if N == 0:
            return layout.frame(0)
        pdf = pdf.sort_values("stateIndex", kind="stable")
        idx = pdf["stateIndex"].to_numpy(dtype=np.int64)
        filt_m = pdf["fm"].to_numpy(dtype=np.float64)
        filt_P = pdf["fP"].to_numpy(dtype=np.float64)
        own = pdf["own"].to_numpy(dtype=bool)
        ev = pdf[EVENT_TIME].values
        keys_arr = pdf[STATE_KEY].to_numpy()
        # contract: the group holds consecutive global indices
        if N > 1 and not np.all(np.diff(idx) == 1):
            raise AssertionError("distributed smoother group has index gaps")
        nm = f * filt_m
        nc = (f * filt_P) * f + q
        g = (filt_P * f) * (1.0 / nc)
        anchors = np.nonzero(own & (idx >= lag))[0]
        M = len(anchors)
        if M == 0:
            return layout.frame(0)
        total = M * lag
        o_row = np.empty(total, dtype=np.int64)
        o_step = np.empty(total, dtype=np.int64)
        o_mean = np.empty(total)
        o_cov = np.empty(total)
        o_gain = np.empty(total)
        sm_m = filt_m[anchors]
        sm_p = filt_P[anchors]
        o_row[:M] = anchors
        o_step[:M] = 0
        o_mean[:M] = sm_m
        o_cov[:M] = sm_p
        o_gain[:M] = 0.0
        for step in range(1, lag):
            j = anchors - step  # in-group: overlap guarantees presence
            gj = g[j]
            sm_m = filt_m[j] + gj * (sm_m - nm[j])
            sm_p = filt_P[j] + (gj * (sm_p - nc[j])) * gj
            w = step * M
            o_row[w : w + M] = j
            o_step[w : w + M] = step
            o_mean[w : w + M] = sm_m
            o_cov[w : w + M] = sm_p
            o_gain[w : w + M] = gj
        return layout.frame(
            total, stateKey=keys_arr[o_row], stateIndex=idx[o_row], stepIndex=o_step,
            m=o_mean, c=o_cov, g=o_gain, eventTime=ev[o_row],
        )

    res = filtered.groupBy(STATE_KEY, "tchunk").applyInPandas(backward_fn, layout.schema)
    return op._shapeOutput(res)
