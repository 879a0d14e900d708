"""DISTRIBUTED (cross-task) parallel scan: one hot key over many tasks.

The in-task scan engines (operators/vectorized.py, Särkkä &
García-Fernández 2021) remove the rows-per-key SERIAL bound but not the
rows-per-key TASK bound: a key's whole history still lands in ONE
``applyInPandas`` group — one core's worth of throughput and one
executor's worth of memory, the remaining skew risk.

This engine splits every key by event time and runs the same associative
scan across tasks. ONE two-pass driver (``_two_pass``) serves every
family:

  1. **chunk** — ``floor(eventTime / scanChunkDuration)`` is added to the
     flat input projection the in-task engines read (``op._bucketInput``):
     a DETERMINISTIC, sample-free key, so the two passes never depend on
     cached partition placement; null event times form the first chunk;
  2. **pass 1** — ``groupBy(stateKey, chunk).applyInPandas`` sorts each
     group by event time and reduces it to ONE summary row (the family's
     ``summarize``), written through a codec ``Layout`` of float64 blocks;
  3. **driver prefix** — the summaries are collected (at most
     ``distributedScanMaxGroups``) and each key's are folded in chunk
     order with the family's ``combine``, starting from its ``start``
     (first summary): O(#chunks) tiny combines that give every chunk its
     exact incoming seed and its stateIndex offset, broadcast once;
  4. **pass 2** — the same grouping re-runs the family's seeded in-task
     scan (``finish``) and emits the operator's boundary frame.

Each family supplies only its scan algebra (summary / combine / seeded
finish):

  - scalar LKF (``distributed_scan_transform``): the five-scalar GENERIC
    elements (A, b, C, eta, J) of ``_scalar_generic_elements`` (no prior
    folded in), reduced by the in-task doubling scan, plus the chunk's
    first-row prior. The seed is the incoming (m, P): the prior is the
    degenerate element (0, m, P, 0, 0) and ``_scalar_combine(prior,
    chunk)`` IS predict+update (pinned by tests/test_dist_scan.py). The
    finish is ``_scalar_scan_forward`` seeded with that prior.
  - n-D LKF (``distributed_nd_scan_transform``): the same in matrix form —
    ``_nd_generic_elements``, a ``_nd_tree_reduce`` to one composite,
    ``_nd_combine``, the seeded ``_nd_scan_forward``; a per-row
    measurementModel is allowed (the OLS regression shape).
  - RLS / LMS (``distributed_rls_transform``, ``distributed_lms_transform``):
    each row is an affine map v -> S*v + a (RLS on its information form);
    a chunk's summary is its composite, the seed is the composite of all
    earlier chunks, and the finish is the in-task 1-D scan
    (``scalar_rls_scan`` / ``scalar_lms_scan``) composed after it.
  - fixed-lag smoother (``distributed_smoother_transform``): the scalar
    LKF summary and prefix; its finish emits the filtered rows, each also
    copied to every later chunk whose backward windows reach it, and a
    third pass per (key, target chunk) runs those windows.

Cost: two linear shuffles of the input (three for the smoother; the
passes are separate actions, so cache an expensive input upstream) plus
one tiny driver job; a single hot key runs ``#chunks``-way parallel.
Semantics: the in-task scans' formulas; float association differs across
chunk seams, so parity with the sequential recursion is the scan
engines' (~1e-12 relative on the scalar shapes, ~1e-9 on the n-D ones).

Scope: the in-task scan shapes on batch input, with a required
``eventTimeCol`` (the chunking key, and what makes a distributed total
order well-defined at all), minus sliding likelihood: its rolling window
needs the previous chunk's loglikelihood values, which exist only after
pass 2. Opt in with ``setFoldEngine("distributedScan")``; the auto engine
never picks it, because two shuffles only pay off when single keys are
long enough (~1M+ rows) to bottleneck one task.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from artan_spark.compat import drop_zip_finders
from artan_spark.operators.base import EVENT_TIME, STATE_KEY
from artan_spark.operators.codec import Layout, kalman_layout, rls_layout, smoother_layout
from artan_spark.operators.vectorized import (
    _affine_frame,
    _nd_combine,
    _nd_generic_elements,
    _nd_scan_emit,
    _nd_scan_forward,
    _scalar_combine,
    _scalar_generic_elements,
    _scalar_scan_emit,
    _scalar_scan_forward,
    _scalar_segmented_scan,
    affine_scan,
    first_row_priors,
    lag_windows,
    read_measurement_models,
    read_measurements,
    read_scalar_measurements,
    scalar_features,
    scalar_lms_scan,
    scalar_rls_scan,
    supports_scan,
    supports_scan_general,
)

CHUNK = "__scanChunk__"

# chunk id for null event times: sorts before every real chunk, matching
# the sequential fold's nulls-first in-key ordering
_NULL_CHUNK = -(1 << 62)


# ---------------------------------------------------------------------------
# the one two-pass driver
# ---------------------------------------------------------------------------


class _Family:
    """One family's scan algebra for ``_two_pass``. ``blocks`` are the
    (name, width) float64 blocks of its pass-1 summary row, ``schema`` is
    its pass-2 output schema."""

    blocks: list
    schema = None

    def summarize(self, pdf: pd.DataFrame) -> dict:
        """One (1,) or (1, width) array per block for a sorted chunk."""
        raise NotImplementedError

    def start(self, first: dict):
        """The seed of a key's first chunk, from its summary."""
        raise NotImplementedError

    def combine(self, seed, summary: dict):
        """The seed of the next chunk: ``seed`` followed by ``summary``."""
        raise NotImplementedError

    def finish(self, pdf: pd.DataFrame, seed, offset: int) -> pd.DataFrame:
        """The sorted chunk's output rows, seeded, stateIndex + offset."""
        raise NotImplementedError

    def seeds(self, spans):
        """(chunk, (pass-2 seed, offset)) of each of one key's
        (chunk, seed, offset, rows) spans."""
        return ((ch, (seed, off)) for ch, seed, off, _n in spans)


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values([EVENT_TIME], kind="stable", na_position="first")


def _two_pass(op, df: DataFrame, fam: _Family) -> DataFrame:
    """Run ``fam`` over batch ``df`` chunked by event time: pass-1
    summaries, the driver prefix, one broadcast of every (key, chunk)
    seed and offset, then the seeded pass 2. Returns the pass-2 frame."""
    chunked = _chunked_frame(op, df)
    summary = Layout(fam.blocks, index=(CHUNK, "n"))

    def pass1(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        pdf = _sorted(pdf)
        return summary.frame(
            1, stateKey=pdf[STATE_KEY].values[:1], n=len(pdf),
            **{CHUNK: pdf[CHUNK].values[:1]}, **fam.summarize(pdf),
        )

    rows = _collect_chunk_summaries(
        op, chunked.groupBy(STATE_KEY, CHUNK).applyInPandas(pass1, summary.schema)
    )
    seeds: dict = {}
    for key, key_rows in rows.items():
        chunks = [
            (r[CHUNK], r["n"], {
                name: np.array([r[f"{name}{i}"] for i in range(width)], dtype=np.float64)
                for name, width in summary.blocks.items()
            })
            for r in key_rows
        ]
        seed, off, spans = fam.start(chunks[0][2]), 0, []
        for ch, n, blocks in chunks:
            spans.append((ch, seed, off, n))
            seed = fam.combine(seed, blocks)
            off += n
        seeds.update(((key, ch), v) for ch, v in fam.seeds(spans))
    seeds_bc = df.sparkSession.sparkContext.broadcast(seeds)

    def pass2(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        seed, off = seeds_bc.value[(pdf[STATE_KEY].values[0], int(pdf[CHUNK].values[0]))]
        return fam.finish(_sorted(pdf), seed, off)

    return chunked.groupBy(STATE_KEY, CHUNK).applyInPandas(pass2, fam.schema)


def _chunked_frame(op, df: DataFrame) -> DataFrame:
    """The flat keyed input plus the deterministic event-time chunk."""
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
    return op._bucketInput(op._keyed(df)).withColumn(
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


# ---------------------------------------------------------------------------
# scalar LKF: five-scalar elements
# ---------------------------------------------------------------------------


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


class _ScalarKalman(_Family):
    """Summary: the chunk's combined generic element ``e`` and the prior
    ``prior`` = (m, P) of its first row. Seed: the incoming (m, P)."""

    blocks = [("e", 5), ("prior", 2)]

    def __init__(self, c: dict):
        self.fqhr = tuple(
            float(c[k][0, 0])
            for k in ("processModel", "processNoise", "measurementModel", "measurementNoise")
        )
        self.m0 = float(c["initialStateMean"][0])
        self.p0 = float(c["initialStateCovariance"][0, 0])
        self.c = c
        self.layout = kalman_layout(c)
        self.schema = self.layout.schema

    def summarize(self, pdf):
        N = len(pdf)
        has_z, Z = read_scalar_measurements(pdf)
        el = _scalar_generic_elements(Z, has_z, N, *self.fqhr)
        _scalar_segmented_scan(*el, np.arange(N), N)
        m, p = np.full(1, self.m0), np.full(1, self.p0)
        first_row_priors(pdf, [0], m, p)
        return {"e": np.array([[x[-1] for x in el]]), "prior": np.array([[m[0], p[0]]])}

    def start(self, first):
        return first["prior"][0], first["prior"][1]

    def combine(self, seed, summary):
        e = _scalar_combine((0.0, seed[0], seed[1], 0.0, 0.0), tuple(summary["e"]))
        return e[1], e[2]

    def forward(self, pdf, seed):
        return _scalar_scan_forward(
            pdf, len(pdf), *self.fqhr, self.m0, self.p0,
            prior_override=(np.array([seed[0]]), np.array([seed[1]])),
        )

    def finish(self, pdf, seed, offset):
        return _scalar_scan_emit(
            self.forward(pdf, seed), len(pdf), *self.fqhr,
            compute_ll=bool(self.c["calculateLoglikelihood"]),
            compute_maha=bool(self.c["calculateMahalanobis"]),
            compute_sll=False, ll_window=1, layout=self.layout, idx_offset=offset,
        )


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
    return op._shapeOutput(_two_pass(op, df, _ScalarKalman(c)))


# ---------------------------------------------------------------------------
# RLS / LMS: affine composites
# ---------------------------------------------------------------------------


class _Affine(_Family):
    """Summary: the chunk's composite scale ``S`` and adds ``a``. Seed:
    the composite of every earlier chunk, from the identity (1, 0)."""

    def __init__(self, scan, width: int, schema):
        self.elements, self.emit = scan
        self.blocks = [("S", 1), ("a", width)]
        self.schema = schema

    def summarize(self, pdf):
        X = scalar_features(pdf)
        y = pdf["label"].to_numpy(dtype=np.float64)
        S, adds = affine_scan(*self.elements(X, y), np.arange(len(pdf)))
        return {"S": S[-1:], "a": np.array([[a[-1] for a in adds]])}

    def start(self, first):
        return 1.0, np.zeros(len(first["a"]))

    def combine(self, seed, summary):
        S = summary["S"][0]
        return S * seed[0], S * seed[1] + summary["a"]

    def finish(self, pdf, seed, offset):
        X = scalar_features(pdf)
        return _affine_frame(pdf, (seed[0], list(seed[1])), offset, X, self.elements, self.emit)


def supports_distributed_rls(c: dict) -> bool:
    return int(c.get("stateSize") or 0) == 1 and not c.get("hasPerRowCols")


def distributed_rls_transform(op, df: DataFrame) -> DataFrame:
    """Two-pass distributed information-form scan for the scalar RLS:
    each row is v -> lam*v + (x^2, x*y) on (I, beta); chunk composites
    compose the same way, so the driver prefix is exact."""
    c = op._constants()
    if not supports_distributed_rls(c):
        raise ValueError(
            "foldEngine='distributedScan' requires the scalar RLS shape "
            "with param (not per-row) priors — use foldEngine='sequential'"
        )
    fam = _Affine(scalar_rls_scan(c), 2, rls_layout(c).schema)
    return op._shapeOutput(_two_pass(op, df, fam))


def supports_distributed_lms(c: dict) -> bool:
    init = c.get("initialState")
    return init is not None and len(np.ravel(init)) == 1


def distributed_lms_transform(op, df: DataFrame) -> DataFrame:
    """Two-pass distributed affine scan for the scalar normalized LMS
    (m' = s_i*m + a_i)."""
    c = op._constants()
    if not supports_distributed_lms(c):
        raise ValueError(
            "foldEngine='distributedScan' requires a provably 1-D LMS shape "
            "(setInitialEstimate of length 1) — use foldEngine='sequential'"
        )
    return op._shapeOutput(_two_pass(op, df, _Affine(scalar_lms_scan(c), 1, op._outSchema())))


# ---------------------------------------------------------------------------
# n-D LKF: matrix elements (tree reduce in pass 1, seeded n-D scan in pass 2)
# ---------------------------------------------------------------------------


def supports_distributed_nd(c: dict) -> bool:
    """The n-D matrix scan's shape (constant model, per-row
    measurementModel allowed — the OLS regression shape; no sliding
    likelihood already enforced there), excluding the smoother."""
    return "fixedLag" not in c and supports_scan_general(c)


def _nd_tree_reduce(A, b, C, eta, J, eye_n):
    """Pairwise tree reduce of ordered n-D elements to ONE composite —
    N-1 combines in log2(N) batched rounds (cheaper than the full
    prefix scan when only the total is needed). Order-preserving: pairs
    keep their positions; an odd tail element stays last."""
    cur = (A, b, C, eta, J)
    while cur[0].shape[0] > 1:
        M = cur[0].shape[0]
        even = M - (M % 2)
        comb = _nd_combine(
            *(x[0:even:2] for x in cur), *(x[1:even:2] for x in cur), eye_n
        )
        if M % 2:
            cur = tuple(
                np.concatenate([cc, tail[-1:]], axis=0)
                for cc, tail in zip(comb, cur)
            )
        else:
            cur = comb
    return tuple(x[0] for x in cur)


class _NdKalman(_Family):
    """Summary: the chunk's composite element (A, b, C, eta, J) and its
    first row's prior (pm, pc), matrices flattened row-major. Seed: the
    incoming (m, P)."""

    def __init__(self, c: dict):
        n = self.n = int(c["stateSize"])
        self.mdim = int(c["measurementSize"])
        self.model = tuple(
            c[k] for k in ("processModel", "processNoise", "measurementNoise", "measurementModel")
        )
        self.m0, self.P0 = c["initialStateMean"], c["initialStateCovariance"]
        self.c = c
        self.blocks = [
            ("A", n * n), ("b", n), ("C", n * n), ("eta", n), ("J", n * n), ("pm", n), ("pc", n * n),
        ]
        self.layout = kalman_layout(c)
        self.schema = self.layout.schema

    def summarize(self, pdf):
        N, n, mdim = len(pdf), self.n, self.mdim
        F_, Q, R, H = self.model
        has_z, Z = read_measurements(pdf, mdim)
        Hrows = read_measurement_models(pdf, mdim, n, H)
        el = _nd_generic_elements(Z, has_z, Hrows, N, n, mdim, F_, Q, R, H)
        m = np.asarray(self.m0, dtype=np.float64).reshape(1, n).copy()
        P = np.asarray(self.P0, dtype=np.float64).reshape(1, n, n).copy()
        first_row_priors(pdf, [0], m, P)
        parts = (*_nd_tree_reduce(*el, np.eye(n)), m, P)
        return {name: x.reshape(1, -1) for (name, _w), x in zip(self.blocks, parts)}

    def start(self, first):
        return first["pm"], first["pc"].reshape(self.n, self.n)

    def combine(self, seed, summary):
        n = self.n
        el = [
            summary[k].reshape(1, n, n) if k in ("A", "C", "J") else summary[k][None]
            for k in ("A", "b", "C", "eta", "J")
        ]
        z1, zn = np.zeros((1, n)), np.zeros((1, n, n))
        comb = _nd_combine(zn, seed[0][None], seed[1][None], z1, zn, *el, np.eye(n))
        return comb[1][0], comb[2][0]

    def finish(self, pdf, seed, offset):
        N, n, mdim = len(pdf), self.n, self.mdim
        fwd = _nd_scan_forward(
            pdf, N, n, mdim, *self.model, self.m0, self.P0,
            prior_override=(seed[0][None], seed[1][None]),
        )
        return _nd_scan_emit(
            fwd, N, n, mdim, *self.model,
            compute_ll=bool(self.c["calculateLoglikelihood"]),
            compute_maha=bool(self.c["calculateMahalanobis"]),
            layout=self.layout, idx_offset=offset,
        )


def distributed_nd_scan_transform(op, df: DataFrame) -> DataFrame:
    """Cross-task n-D LKF: the scalar two-pass shape with matrix
    elements."""
    c = op._constants()
    if not supports_distributed_nd(c):
        raise ValueError(
            "foldEngine='distributedScan' requires a constant-model LKF "
            "shape with fadingFactor=1 and no sliding likelihood (per-row "
            "measurementModel allowed) — use foldEngine='sequential' for "
            "this configuration"
        )
    return op._shapeOutput(_two_pass(op, df, _NdKalman(c)))


# ---------------------------------------------------------------------------
# fixed-lag smoother: the LKF passes plus a chunk-overlap backward pass
# ---------------------------------------------------------------------------


def supports_distributed_smoother(c: dict) -> bool:
    """Scalar constant-model fixed-lag smoother: the LKF scan shape
    constraints (supports_scan only inspects the filter keys, so the
    extra fixedLag entry is inert) — the smoother computes no likelihood
    projections, so only the filter-shape constraints apply."""
    return "fixedLag" in c and supports_scan(c)


# the smoother's pass-2 rows: filtered (mean, cov) ``f`` of one global
# stateIndex, sent to target chunk ``tchunk`` (``own`` = 1 in its own chunk)
_FILTERED = Layout([("f", 2)], index=("tchunk", "own", "stateIndex"))


class _ScalarSmoother(_ScalarKalman):
    """The scalar LKF algebra; its finish emits filtered rows, each also
    copied to every later chunk whose backward windows reach back to it."""

    def __init__(self, c: dict):
        super().__init__(c)
        self.lag = int(c["fixedLag"])
        self.schema = _FILTERED.schema

    def seeds(self, spans):
        # an anchor at global index s smooths back to s-lag+1, so a chunk
        # starting at offset off' needs every earlier row with index >=
        # off'-lag+2; chunks smaller than the lag borrow across SEVERAL
        # predecessors. Chunk i holds rows off+1..off+n.
        for i, (ch, seed, off, n) in enumerate(spans):
            hi, targets = off + n, []
            for ch2, _seed, off2, _n in spans[i + 1 :]:
                lo_needed = off2 - self.lag + 2
                if lo_needed > hi:
                    break
                targets.append((ch2, max(off + 1, lo_needed), hi))
            yield ch, ((seed, targets), off)

    def finish(self, pdf, seed, offset):
        seed, targets = seed
        fwd = self.forward(pdf, seed)
        N = len(pdf)
        # own rows first, then each target's slice (global -> local rows)
        rows = np.concatenate([np.arange(N)] + [np.arange(lo - offset - 1, hi - offset) for _, lo, hi in targets])
        tchunk = np.concatenate(
            [np.full(N, pdf[CHUNK].values[0])] + [np.full(hi - lo + 1, ch) for ch, lo, hi in targets]
        )
        return _FILTERED.frame(
            len(rows), stateKey=pdf[STATE_KEY].values[0], tchunk=tchunk,
            own=(np.arange(len(rows)) < N).astype(np.int64), stateIndex=rows + 1 + offset,
            f=np.stack([fwd[9][rows], fwd[10][rows]], axis=1), eventTime=fwd[6][rows],
        )


def distributed_smoother_transform(op, df: DataFrame) -> DataFrame:
    """Cross-task fixed-lag RTS smoother (scalar constant-model shape):
    the driver's two passes filter every chunk and copy each filtered row
    to the later chunks that need it (``_ScalarSmoother.seeds``); then
    per (key, target chunk) the rows are consecutive global indices by
    construction, and the anchor-vectorized backward windows (the in-task
    smoothers' ``lag_windows``) emit only for OWN rows.
    Three linear shuffles; duplication is bounded by lag-1 rows per chunk
    seam."""
    c = op._constants()
    if not supports_distributed_smoother(c):
        raise ValueError(
            "foldEngine='distributedScan' requires the scalar constant-model "
            "smoother shape with fadingFactor=1 — use foldEngine='scan' or "
            "'sequential' for this configuration"
        )
    fam = _ScalarSmoother(c)
    layout = smoother_layout(c)

    def backward_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        pdf = pdf.sort_values("stateIndex", kind="stable")
        idx = pdf["stateIndex"].to_numpy(dtype=np.int64)
        # contract: the group holds consecutive global indices
        if len(idx) > 1 and not np.all(np.diff(idx) == 1):
            raise AssertionError("distributed smoother group has index gaps")
        return lag_windows(
            layout, pdf[STATE_KEY].to_numpy(), idx, pdf[EVENT_TIME].values,
            pdf["f0"].to_numpy(dtype=np.float64), pdf["f1"].to_numpy(dtype=np.float64),
            c["processModel"], c["processNoise"], fam.lag, own=pdf["own"].to_numpy() == 1,
        )

    filtered = _two_pass(op, df, fam)
    res = filtered.groupBy(STATE_KEY, "tchunk").applyInPandas(backward_fn, layout.schema)
    return op._shapeOutput(res)
