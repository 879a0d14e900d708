"""RAUKF adaptive noise, sigma-point bounds, scalar-fast-path equivalence,
and state timeout semantics."""

import numpy as np
import pandas as pd
import pytest

from artan_spark.operators import (
    ExtendedKalmanFilter,
    LinearKalmanFilter,
    UnscentedKalmanFilter,
)
from artan_spark.operators.kalman import (
    KalmanBase,
    _is_scalar_lkf,
    _kalman_fold_factory,
    _scalar_lkf_fold_factory,
)
from artan_spark.operators.base import EVENT_TIME, STATE_KEY


def _series_pdf(zs, key="k"):
    return pd.DataFrame(
        {
            STATE_KEY: key,
            EVENT_TIME: pd.NaT,
            "measurement": [np.array([z]) for z in zs],
        }
    )


def _constants(**over):
    flt = LinearKalmanFilter(1, 1, **over)
    flt._set("initialStateCovariance", np.array([[100.0]]))
    flt._set("processNoise", np.array([[1.0]]))
    flt._set("measurementNoise", np.array([[10.0]]))
    flt._set("calculateLoglikelihood", True)
    flt._set("calculateSlidingLikelihood", True)
    flt._set("calculateMahalanobis", True)
    flt._set("slidingLikelihoodWindow", 4)
    return flt._constants()


def test_scalar_fast_path_matches_general():
    """The scalar LKF fast path must reproduce the general numpy fold
    bit-for-bit-ish (1e-12) including loglik / sliding / mahalanobis."""
    rng = np.random.RandomState(0)
    zs = np.cumsum(rng.normal(0, 1, 200)) + 5
    c = _constants()
    assert _is_scalar_lkf(c)
    fast_fold = _scalar_lkf_fold_factory(c)
    # disqualify the fast path to obtain the general numpy fold
    general_fold = _kalman_fold_factory(dict(c, perRowCols=["processModel"]))

    pdf = _series_pdf(zs)
    out_fast, st_fast = fast_fold(pdf, None)
    out_gen, st_gen = general_fold(pdf, None)
    # both folds emit the one Kalman boundary layout
    assert list(out_fast.columns) == list(out_gen.columns)
    assert len(out_fast) == len(out_gen) == 200
    for col, rtol in (
        ("m0", 1e-12),
        ("c0", 1e-12),
        ("loglikelihood", 1e-9),
        ("mahalanobis", 1e-9),
        ("slidingLikelihood", 1e-9),
    ):
        np.testing.assert_allclose(
            out_fast[col].to_numpy(), out_gen[col].to_numpy(), rtol=rtol, err_msg=col
        )
    np.testing.assert_allclose(st_fast["mean"], st_gen["mean"], rtol=1e-12)


def test_raukf_adapts_process_noise(spark):
    """A step change in the signal should trigger RAUKF and inflate Q,
    letting the filter re-converge faster than the non-adaptive UKF
    (UnscentedKalmanFilter.scala:238-267)."""
    rng = np.random.RandomState(0)
    n = 120
    truth = np.where(np.arange(n) < 60, 0.0, 30.0)
    zs = truth + rng.normal(0, 1, n)
    df = spark.createDataFrame([([float(z)],) for z in zs], "measurement array<double>")

    def mk(adaptive):
        flt = (
            UnscentedKalmanFilter(1, 1)
            .setInitialStateMean(np.zeros(1))
            .setInitialStateCovariance(np.array([[1.0]]))
            .setProcessModel(np.eye(1))
            .setProcessNoise(np.array([[1e-4]]))
            .setMeasurementModel(np.eye(1))
            .setMeasurementNoise(np.array([[1.0]]))
        )
        if adaptive:
            flt = flt.setAdaptiveProcessNoise(True)
        return flt

    plain = mk(False).transform(df).orderBy("stateIndex").collect()
    adaptive = mk(True).transform(df).orderBy("stateIndex").collect()
    # error in the 20 steps after the break
    err_plain = np.mean([abs(plain[i].state.mean[0] - 30.0) for i in range(60, 80)])
    err_adapt = np.mean([abs(adaptive[i].state.mean[0] - 30.0) for i in range(60, 80)])
    assert err_adapt < err_plain * 0.5


def test_sigma_point_bounds(spark):
    """Bounded UKF keeps the state estimate inside [lb, ub]."""
    rng = np.random.RandomState(0)
    zs = np.clip(rng.normal(0.2, 0.4, 60), 0.01, None)
    df = spark.createDataFrame([([float(z)],) for z in zs], "measurement array<double>")
    flt = (
        UnscentedKalmanFilter(1, 1)
        .setInitialStateMean(np.array([0.5]))
        .setInitialStateCovariance(np.array([[1.0]]))
        .setProcessModel(np.eye(1))
        .setProcessNoise(np.array([[0.01]]))
        .setMeasurementModel(np.eye(1))
        .setMeasurementNoise(np.array([[0.2]]))
        .setSigmaPointLowerBound(np.array([0.0]))
        .setSigmaPointUpperBound(np.array([1.0]))
    )
    rows = flt.transform(df).collect()
    means = [r.state.mean[0] for r in rows]
    assert all(-0.25 <= m <= 1.25 for m in means)


def test_vectorized_scalar_lkf_bit_exact(spark):
    """The scalar vectorized fold (vectorized.py
    vectorized_scalar_lkf_fold_factory) reproduces the sequential scalar fold
    BIT-exactly on the 1-D constant-model shape — same IEEE op order, just
    batched elementwise across keys. Covers missing measurements, fading,
    per-key initialStateDistribution seeding, and ll/mahalanobis."""
    rng = np.random.RandomState(7)
    rows = []
    for k in range(9):
        init = (
            ([float(k) * 0.5], {"numRows": 1, "numCols": 1, "values": [1.0 + k]})
            if k % 2
            else None
        )
        for i in range(17 + k):  # ragged
            z = None if (k + i) % 7 == 2 else [float(np.sin(i / 4.0) + k + rng.normal(0, 0.3))]
            rows.append((f"key{k}", z, init if i == 0 else None))
    df = spark.createDataFrame(
        rows,
        "key string, measurement array<double>, "
        "initState struct<mean:array<double>,covariance:struct<numRows:int,numCols:int,values:array<double>>>",
    )

    def mk(vectorized):
        return (
            LinearKalmanFilter(1, 1)
            .setStateKeyCol("key")
            .setInitialStateDistributionCol("initState")
            .setInitialStateCovariance(np.array([[50.0]]))
            .setProcessModel(np.array([[0.97]]))
            .setProcessNoise(np.array([[0.5]]))
            .setMeasurementNoise(np.array([[2.0]]))
            .setFadingFactor(1.02)
            .setCalculateLoglikelihood(True)
            .setCalculateMahalanobis(True)
            .setVectorizedBatch(vectorized)
        )

    seq = mk(False).transform(df).collect()
    vec = mk(True).transform(df).collect()
    assert len(seq) == len(vec) == len(rows)
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        assert (rs.stateKey, rs.stateIndex) == (rv.stateKey, rv.stateIndex)
        # bit-exact: identical elementwise IEEE op order
        assert rs.state.mean[0] == rv.state.mean[0]
        assert rs.state.covariance.values[0] == rv.state.covariance.values[0]
        assert (rs.residual is None) == (rv.residual is None)
        if rs.residual is not None:
            assert rs.residual.mean[0] == rv.residual.mean[0]
            assert rs.residual.covariance.values[0] == rv.residual.covariance.values[0]
            # np.log vs math.log may differ in the last ulp
            np.testing.assert_allclose(rs.loglikelihood, rv.loglikelihood, rtol=1e-14)
            np.testing.assert_allclose(rs.mahalanobis, rv.mahalanobis, rtol=1e-14)
        else:
            assert rv.loglikelihood is None and rv.mahalanobis is None


def test_vectorized_scalar_lkf_sliding_likelihood_parity(spark):
    """Sliding likelihood now runs on the scalar vectorized fold (the MMAE
    upstream shape): per-row parity with the sequential fold across ragged
    keys and missing measurements — the chronological-window sum keeps the
    sequential IEEE op order, so only np.log/exp vs math.log/exp ulps
    separate the paths."""
    rng = np.random.RandomState(11)
    rows = []
    for k in range(7):
        for i in range(13 + k):
            z = None if (k * 3 + i) % 6 == 4 else [float(np.cos(i / 3.0) * 5 + k + rng.normal())]
            rows.append((f"key{k}", z))
    df = spark.createDataFrame(rows, "key string, measurement array<double>")

    def mk(vectorized):
        return (
            LinearKalmanFilter(1, 1)
            .setStateKeyCol("key")
            .setInitialStateCovariance(np.array([[100.0]]))
            .setProcessNoise(np.array([[1.0]]))
            .setMeasurementNoise(np.array([[10.0]]))
            .setCalculateSlidingLikelihood(True)
            .setSlidingLikelihoodWindow(4)
            .setVectorizedBatch(vectorized)
        )

    seq = sorted(mk(False).transform(df).collect(), key=lambda r: (r.stateKey, r.stateIndex))
    vec = sorted(mk(True).transform(df).collect(), key=lambda r: (r.stateKey, r.stateIndex))
    assert len(seq) == len(vec) == len(rows)
    for rs, rv in zip(seq, vec):
        assert (rs.stateKey, rs.stateIndex) == (rv.stateKey, rv.stateIndex)
        assert rs.state.mean[0] == rv.state.mean[0]
        assert (rs.slidingLikelihood is None) == (rv.slidingLikelihood is None)
        if rs.slidingLikelihood is not None:
            np.testing.assert_allclose(
                rs.slidingLikelihood, rv.slidingLikelihood, rtol=1e-12
            )


def test_vectorized_batch_matches_sequential(spark):
    """Time-synchronous multi-key fold == sequential per-key fold (3-D OLS
    with per-row measurement model across 12 keys, missing measurements)."""
    from artan_spark.types import np_to_mat

    rng = np.random.RandomState(0)
    rows = []
    for k in range(12):
        n_k = 20 + k  # ragged lengths
        for i in range(n_k):
            x, y = float(i), float(np.sqrt(i))
            z = None if (k + i) % 11 == 3 else [0.5 * x - 0.7 * y + 2.0 + rng.normal()]
            rows.append((f"key{k}", z, np_to_mat(np.array([[x, y, 1.0]]))))
    df = spark.createDataFrame(
        rows,
        "key string, measurement array<double>, "
        "measurementModel struct<numRows:int,numCols:int,values:array<double>>",
    )

    def mk(vectorized):
        return (
            LinearKalmanFilter(3, 1)
            .setStateKeyCol("key")
            .setInitialStateCovariance(10.0 * np.eye(3))
            .setMeasurementModelCol("measurementModel")
            .setProcessNoise(np.zeros((3, 3)))
            .setMeasurementNoise(np.array([[1.0]]))
            .setCalculateLoglikelihood(True)
            .setCalculateMahalanobis(True)
            .setVectorizedBatch(vectorized)
        )

    seq = mk(False).transform(df).collect()
    vec = mk(True).transform(df).collect()
    assert len(seq) == len(vec) == len(rows)
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        assert (rs.stateKey, rs.stateIndex) == (rv.stateKey, rv.stateIndex)
        np.testing.assert_allclose(rs.state.mean, rv.state.mean, atol=1e-9)
        np.testing.assert_allclose(rs.state.covariance.values, rv.state.covariance.values, atol=1e-9)
        assert (rs.residual is None) == (rv.residual is None)
        if rs.loglikelihood is not None:
            np.testing.assert_allclose(rs.loglikelihood, rv.loglikelihood, atol=1e-9)
            np.testing.assert_allclose(rs.mahalanobis, rv.mahalanobis, atol=1e-9)


def _batched_logit(pts, H):
    # vectorized contract: pts (N, n), H (mdim, n) or (N, mdim, n)
    if H.ndim == 3:
        lin = np.einsum("aij,aj->ai", H, pts)
    else:
        lin = pts @ H.T
    return np.exp(lin) / (1.0 + np.exp(lin))


@pytest.mark.parametrize("cls_name", ["UnscentedKalmanFilter", "CubatureKalmanFilter"])
def test_vectorized_sigma_matches_sequential(spark, cls_name):
    """Batched sigma-point fold == sequential fold (nonlinear measurement fn
    under the vectorized contract, per-row models, ragged keys)."""
    import artan_spark.operators as ops
    from artan_spark.types import np_to_mat

    cls = getattr(ops, cls_name)
    rng = np.random.RandomState(0)
    rows = []
    for k in range(8):
        for i in range(15 + k):
            x = float(i) / 10.0
            z = [float(1.0 / (1.0 + np.exp(-(0.4 * x + 0.1))) + rng.normal(0, 0.05))]
            rows.append((f"key{k}", z, np_to_mat(np.array([[x, 1.0]]))))
    df = spark.createDataFrame(
        rows,
        "key string, measurement array<double>, "
        "measurementModel struct<numRows:int,numCols:int,values:array<double>>",
    )

    def mk(vectorized):
        flt = (
            cls(2, 1)
            .setStateKeyCol("key")
            .setInitialStateCovariance(0.5 * np.eye(2))
            .setMeasurementModelCol("measurementModel")
            .setProcessNoise(np.zeros((2, 2)))
            .setMeasurementNoise(np.array([[0.01]]))
            .setMeasurementFunction(_batched_logit)
            .setVectorizedBatch(vectorized)
            .setVectorizedFunctions(vectorized)
        )
        return flt

    seq = mk(False).transform(df).collect()
    vec = mk(True).transform(df).collect()
    assert len(seq) == len(vec) == len(rows)
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        np.testing.assert_allclose(rs.state.mean, rv.state.mean, atol=1e-8)
        np.testing.assert_allclose(rs.state.covariance.values, rv.state.covariance.values, atol=1e-8)


@pytest.mark.parametrize("cls_name", ["UnscentedKalmanFilter", "CubatureKalmanFilter"])
def test_vectorized_sigma_fading_matches_sequential(spark, cls_name):
    """Batched sigma fold applies the fading factor exactly like the
    sequential path (P1 = fad^2*(P1-Q)+Q, kalman.py predict step) — a
    round-1 advisory found the vectorized path silently dropped it."""
    import artan_spark.operators as ops

    cls = getattr(ops, cls_name)
    rng = np.random.RandomState(1)
    rows = []
    for k in range(6):
        for i in range(12 + k):
            rows.append((f"key{k}", [float(np.sin(i / 3.0) + rng.normal(0, 0.1))]))
    df = spark.createDataFrame(rows, "key string, measurement array<double>")

    def mk(vectorized):
        return (
            cls(1, 1)
            .setStateKeyCol("key")
            .setInitialStateCovariance(np.array([[1.0]]))
            .setProcessModel(np.eye(1))
            .setProcessNoise(np.array([[0.01]]))
            .setMeasurementModel(np.eye(1))
            .setMeasurementNoise(np.array([[0.5]]))
            .setFadingFactor(1.05)
            .setVectorizedBatch(vectorized)
        )

    seq = mk(False).transform(df).collect()
    vec = mk(True).transform(df).collect()
    assert len(seq) == len(vec) == len(rows)
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        np.testing.assert_allclose(rs.state.mean, rv.state.mean, atol=1e-9)
        np.testing.assert_allclose(rs.state.covariance.values, rv.state.covariance.values, atol=1e-9)


@pytest.mark.parametrize("cls_name", ["LinearKalmanFilter", "UnscentedKalmanFilter"])
def test_vectorized_per_row_initial_state(spark, cls_name):
    """Vectorized folds seed per-key (m0, P0) from the first row's
    initialStateDistribution struct, matching the sequential fold — a
    round-1 advisory found the vectorized path ignored the column."""
    import artan_spark.operators as ops

    cls = getattr(ops, cls_name)
    rng = np.random.RandomState(2)
    rows = []
    for k in range(5):
        init = ([float(k), -float(k)], {"numRows": 2, "numCols": 2, "values": [2.0 + k, 0.0, 0.0, 1.0 + k]})
        for i in range(10 + k):
            z = [float(0.3 * i + k + rng.normal(0, 0.2))]
            # the distribution seen on a key's FIRST row wins; later rows null
            rows.append((f"key{k}", z, init if i == 0 else None))
    df = spark.createDataFrame(
        rows,
        "key string, measurement array<double>, "
        "initState struct<mean:array<double>,covariance:struct<numRows:int,numCols:int,values:array<double>>>",
    )

    def mk(vectorized):
        return (
            cls(2, 1)
            .setStateKeyCol("key")
            .setInitialStateDistributionCol("initState")
            .setProcessModel(np.eye(2))
            .setProcessNoise(0.01 * np.eye(2))
            .setMeasurementModel(np.array([[1.0, 1.0]]))
            .setMeasurementNoise(np.array([[0.5]]))
            .setVectorizedBatch(vectorized)
        )

    seq = mk(False).transform(df).collect()
    vec = mk(True).transform(df).collect()
    assert len(seq) == len(vec) == len(rows)
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        np.testing.assert_allclose(rs.state.mean, rv.state.mean, atol=1e-9)
        np.testing.assert_allclose(rs.state.covariance.values, rv.state.covariance.values, atol=1e-9)


def test_mmae_with_window_duration(spark):
    """MMAE groups by (event-time window, stateIndex) when a measurement
    window is set (KalmanBase.scala:488-492)."""
    import pandas as pd

    rows = []
    base = pd.Timestamp("2024-01-01")
    for k in ("a", "b"):
        for i in range(6):
            rows.append((k, (base + pd.Timedelta(minutes=7 * i)).to_pydatetime(), [float(i)]))
    df = spark.createDataFrame(rows, "key string, ts timestamp, measurement array<double>")
    flt = (
        LinearKalmanFilter(1, 1)
        .setStateKeyCol("key")
        .setEventTimeCol("ts")
        .setProcessNoise(np.array([[0.5]]))
        .setMeasurementNoise(np.array([[1.0]]))
        .setSlidingLikelihoodWindow(3)
        .setMultipleModelAdaptiveEstimationEnabled(True)
        .setMultipleModelMeasurementWindowDuration("10 minutes")
    )
    out = flt.transform(df)
    assert set(out.columns) == {"eventTime", "stateIndex", "state"}
    rows = out.collect()
    assert all(r.eventTime.start is not None for r in rows)
    assert out.count() == 6  # one consensus row per (window, stateIndex)


def test_output_system_matrices(spark):
    df = spark.createDataFrame([([float(i)],) for i in range(4)], "measurement array<double>")
    out = (
        LinearKalmanFilter(1, 1)
        .setProcessNoise(np.array([[0.3]]))
        .setOutputSystemMatrices(True)
        .transform(df)
    )
    r = out.collect()[0]
    assert r.processNoise.values == [0.3]
    assert r.measurementModel.values == [1.0]


def test_state_timeout_resets_state(spark):
    """Processing-time timeout clears state between micro-batches; the key
    restarts from the initial state (StatefulTransformer.scala:49-68)."""
    from artan_spark.streaming import stream_transform

    zs = [10.0, 10.0, 10.0, 10.0]
    df = spark.createDataFrame([("k", [z]) for z in zs], "key string, measurement array<double>")
    flt = (
        LinearKalmanFilter(1, 1)
        .setStateKeyCol("key")
        .setInitialStateCovariance(np.array([[100.0]]))
        .setProcessNoise(np.array([[1.0]]))
        .setMeasurementNoise(np.array([[1.0]]))
    )
    out = stream_transform(spark, df, flt.transform, chunk_rows=2).collect()
    # without timeout, stateIndex runs 1..4 continuously
    assert sorted(r.stateIndex for r in out) == [1, 2, 3, 4]


def _mmae_filter(window=5):
    return (
        LinearKalmanFilter(1, 1)
        .setStateKeyCol("key")
        .setInitialStateMean(np.zeros(1))
        .setInitialStateCovariance(np.array([[1e-4]]))
        .setProcessNoise(np.array([[0.0]]))
        .setMeasurementNoise(np.array([[1e-4]]))
        .setSlidingLikelihoodWindow(window)
    )


def test_mmae_underflow_uniform_fallback(spark):
    """When every model's sliding likelihood underflows to exactly 0.0
    (exp of a huge negative loglik sum), the consensus must not raise
    DIVIDE_BY_ZERO under ANSI mode (round-1 driver failure) and falls back
    to uniform weights — i.e. the plain average of the per-key means."""
    rows = [
        (k, [v])
        for k, v in (("a", 1000.0), ("b", 2000.0), ("c", 3000.0))
        for _ in range(4)
    ]
    df = spark.createDataFrame(rows, "key string, measurement array<double>")

    per_key = _mmae_filter()._set("calculateSlidingLikelihood", True).transform(df).collect()
    # sanity: the scenario really underflows for every key
    assert all(r.slidingLikelihood == 0.0 for r in per_key)
    expected = {}
    for r in per_key:
        expected.setdefault(r.stateIndex, []).append(r.state.mean[0])

    consensus = (
        _mmae_filter().setMultipleModelAdaptiveEstimationEnabled(True).transform(df).collect()
    )
    assert len(consensus) == 4
    for r in consensus:
        np.testing.assert_allclose(
            r.state.mean[0], np.mean(expected[r.stateIndex]), rtol=1e-12
        )


def test_mmae_partial_underflow_picks_surviving_model(spark):
    """If one model's likelihood is representable and the others underflow,
    the consensus is the surviving model's estimate (max-shifted weights)."""
    rows = [(k, [v]) for k, v in (("good", 0.0), ("bad1", 5000.0), ("bad2", -7000.0)) for _ in range(3)]
    df = spark.createDataFrame(rows, "key string, measurement array<double>")

    per_key = {
        (r.stateKey, r.stateIndex): r
        for r in _mmae_filter()._set("calculateSlidingLikelihood", True).transform(df).collect()
    }
    assert per_key[("good", 1)].slidingLikelihood > 0.0
    assert per_key[("bad1", 1)].slidingLikelihood == 0.0

    consensus = (
        _mmae_filter().setMultipleModelAdaptiveEstimationEnabled(True).transform(df).collect()
    )
    for r in consensus:
        np.testing.assert_allclose(
            r.state.mean[0], per_key[("good", r.stateIndex)].state.mean[0], rtol=1e-9
        )


def test_mmae_does_not_leak_sliding_flag(spark):
    """transform() with MMAE enabled must not permanently flip
    calculateSlidingLikelihood on the transformer instance."""
    df = spark.createDataFrame([("a", [1.0]), ("a", [2.0])], "key string, measurement array<double>")
    flt = _mmae_filter().setMultipleModelAdaptiveEstimationEnabled(True)
    flt.transform(df).collect()
    assert not flt.get("calculateSlidingLikelihood")
    flt._set("multipleModelAdaptiveEstimationEnabled", False)
    out = flt.transform(df)
    assert "slidingLikelihood" not in out.columns


def _glm_exp_fn(m, H):
    m = np.asarray(m)
    if m.ndim == 2:  # vectorized contract: (A, n) states
        lin = np.einsum("aij,aj->ai", H, m) if H.ndim == 3 else m @ H.T
        return np.exp(lin)
    return np.exp(H @ m)


def _glm_exp_jac(m, H):
    m = np.asarray(m)
    if m.ndim == 2:
        lin = np.einsum("aij,aj->ai", H, m) if H.ndim == 3 else m @ H.T
        return np.exp(lin)[:, :, None] * (H if H.ndim == 3 else H[None, :, :])
    return np.exp(H @ m)[:, None] * H


def _proc_sin_fn(m, Fm):
    m = np.asarray(m)
    lin = m @ Fm.T if m.ndim == 2 else Fm @ m
    return lin + 0.05 * np.sin(lin)


def _proc_sin_jac(m, Fm):
    m = np.asarray(m)
    lin = m @ Fm.T if m.ndim == 2 else Fm @ m
    if m.ndim == 2:
        return (1.0 + 0.05 * np.cos(lin))[:, :, None] * Fm[None, :, :]
    return (1.0 + 0.05 * np.cos(lin))[:, None] * Fm


def test_vectorized_ekf_glm_matches_sequential(spark):
    """Batched EKF fold == sequential fold on an exp-GLM with measurement
    fn + Jacobian under the vectorizedFunctions contract, per-row H,
    ragged keys (round-1 verdict item 6)."""
    from artan_spark.operators import ExtendedKalmanFilter
    from artan_spark.types import np_to_mat

    rng = np.random.RandomState(3)
    rows = []
    for k in range(8):
        for i in range(14 + k):
            x = float(i) / 10.0
            z = [float(np.exp(0.3 * x + 0.2) + rng.normal(0, 0.05))]
            rows.append((f"key{k}", z, np_to_mat(np.array([[x, 1.0]]))))
    df = spark.createDataFrame(
        rows,
        "key string, measurement array<double>, "
        "measurementModel struct<numRows:int,numCols:int,values:array<double>>",
    )

    def mk(vectorized):
        return (
            ExtendedKalmanFilter(2, 1)
            .setStateKeyCol("key")
            .setInitialStateCovariance(0.5 * np.eye(2))
            .setMeasurementModelCol("measurementModel")
            .setProcessNoise(np.zeros((2, 2)))
            .setMeasurementNoise(np.array([[0.01]]))
            .setMeasurementFunction(_glm_exp_fn)
            .setMeasurementStateJacobian(_glm_exp_jac)
            .setCalculateLoglikelihood(True)
            .setCalculateMahalanobis(True)
            .setVectorizedBatch(vectorized)
            .setVectorizedFunctions(vectorized)
        )

    seq = mk(False).transform(df).collect()
    vec = mk(True).transform(df).collect()
    assert len(seq) == len(vec) == len(rows)
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        np.testing.assert_allclose(rs.state.mean, rv.state.mean, atol=1e-8)
        np.testing.assert_allclose(rs.state.covariance.values, rv.state.covariance.values, atol=1e-8)
        np.testing.assert_allclose(rs.loglikelihood, rv.loglikelihood, atol=1e-8)
        np.testing.assert_allclose(rs.mahalanobis, rv.mahalanobis, atol=1e-8)


def test_vectorized_ekf_process_fn_matches_sequential(spark):
    """Batched EKF with a nonlinear PROCESS fn + state Jacobian matches the
    sequential fold (Jacobians evaluated at the prior mean)."""
    from artan_spark.operators import ExtendedKalmanFilter

    rng = np.random.RandomState(4)
    rows = []
    for k in range(6):
        v = 0.0
        for i in range(12 + k):
            v = v + 0.3 + rng.normal(0, 0.1)
            rows.append((f"key{k}", [float(v)]))
    df = spark.createDataFrame(rows, "key string, measurement array<double>")

    def mk(vectorized):
        return (
            ExtendedKalmanFilter(1, 1)
            .setStateKeyCol("key")
            .setInitialStateCovariance(np.array([[1.0]]))
            .setProcessNoise(np.array([[0.05]]))
            .setMeasurementNoise(np.array([[0.2]]))
            .setProcessFunction(_proc_sin_fn)
            .setProcessStateJacobian(_proc_sin_jac)
            .setVectorizedBatch(vectorized)
            .setVectorizedFunctions(vectorized)
        )

    seq = mk(False).transform(df).collect()
    vec = mk(True).transform(df).collect()
    assert len(seq) == len(vec) == len(rows)
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        np.testing.assert_allclose(rs.state.mean, rv.state.mean, atol=1e-8)
        np.testing.assert_allclose(rs.state.covariance.values, rv.state.covariance.values, atol=1e-8)


def _bitexact_mfn(m, H):
    # shape-polymorphic: (n,) from the sequential fold, (N, n) from the
    # vectorized fold's per-time-step batched call
    m = np.asarray(m, dtype=np.float64)
    if m.ndim == 2:
        return m @ H.T
    return H @ m


def _bitexact_mjac(m, H):
    m = np.asarray(m, dtype=np.float64)
    if m.ndim == 2:
        return np.broadcast_to(H, (m.shape[0],) + H.shape)
    return H


def test_vectorized_ekf_bit_exact(spark):
    """The vectorized EKF fold (batched-callable contract: user fns called
    once per time step on the whole key batch) reproduces the sequential
    EKF fold BIT-exactly on the 1-D local-level shape — the contract that
    lets the ekf_events_local_level driver query run vectorized under its
    raw-double recursive-CTE oracle. Ragged keys and missing measurements
    included."""
    rng = np.random.RandomState(13)
    rows = []
    for k in range(7):
        for i in range(11 + 2 * k):  # ragged
            z = None if (k + i) % 5 == 3 else [float(np.cos(i / 3.0) * 4 + k + rng.normal(0, 0.4))]
            rows.append((f"key{k}", z))
    df = spark.createDataFrame(rows, "key string, measurement array<double>")

    def mk(vectorized):
        flt = (
            ExtendedKalmanFilter(1, 1)
            .setStateKeyCol("key")
            .setInitialStateMean(np.zeros(1))
            .setInitialStateCovariance(np.array([[100.0]]))
            .setProcessModel(np.eye(1))
            .setProcessNoise(np.array([[1.0]]))
            .setMeasurementModel(np.eye(1))
            .setMeasurementNoise(np.array([[10.0]]))
            .setCalculateLoglikelihood(True)
            .setCalculateMahalanobis(True)
            .setVectorizedBatch(vectorized)
            .setVectorizedFunctions(vectorized)
        )
        return flt.setMeasurementFunction(_bitexact_mfn).setMeasurementStateJacobian(
            _bitexact_mjac
        )

    seq = mk(False).transform(df).collect()
    vec_flt = mk(True)
    # guard against the silent sequential fallback this test vacuously
    # passed under before vectorizedFunctions was set (supports_vectorized
    # rejects EKF callables without the batched-contract opt-in)
    from artan_spark.operators.vectorized import supports_vectorized

    assert supports_vectorized(vec_flt._constants())
    vec = vec_flt.transform(df).collect()
    assert len(seq) == len(vec) == len(rows)
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        assert (rs.stateKey, rs.stateIndex) == (rv.stateKey, rv.stateIndex)
        assert rs.state.mean[0] == rv.state.mean[0]
        assert rs.state.covariance.values[0] == rv.state.covariance.values[0]
        assert (rs.residual is None) == (rv.residual is None)
        if rs.residual is not None:
            assert rs.residual.mean[0] == rv.residual.mean[0]
            assert rs.residual.covariance.values[0] == rv.residual.covariance.values[0]
            np.testing.assert_allclose(rs.loglikelihood, rv.loglikelihood, rtol=1e-14)
            np.testing.assert_allclose(rs.mahalanobis, rv.mahalanobis, rtol=1e-14)
        else:
            assert rv.loglikelihood is None and rv.mahalanobis is None


@pytest.mark.parametrize("variant", ["merwe", "julier", "ckf"])
def test_vectorized_scalar_sigma_matches_general(spark, variant):
    """The scalar sigma-point fast path (1-D UKF/CKF: 2-3 points,
    elementwise) must match the general batched sigma fold within 1e-9 —
    ragged keys, missing measurements, fading, per-key init seeding, and
    ll/mahalanobis included. The general fold is forced by disabling the
    scalar gate via a per-variant monkeypatch-free route: we compare
    vectorized (scalar path) against the SEQUENTIAL fold, which the
    general vectorized fold is itself tested against."""
    from artan_spark.operators import CubatureKalmanFilter

    rng = np.random.RandomState(31)
    rows = []
    for k in range(8):
        init = (
            ([float(k)], {"numRows": 1, "numCols": 1, "values": [2.0 + k]})
            if k % 3 == 1
            else None
        )
        for i in range(13 + 3 * k):  # ragged
            z = None if (k + i) % 6 == 4 else [float(np.sin(i / 3.0) * 5 + k + rng.normal(0, 0.5))]
            rows.append((f"key{k}", z, init if i == 0 else None))
    df = spark.createDataFrame(
        rows,
        "key string, measurement array<double>, "
        "initState struct<mean:array<double>,covariance:struct<numRows:int,numCols:int,values:array<double>>>",
    )

    def mk(vectorized):
        cls = CubatureKalmanFilter if variant == "ckf" else UnscentedKalmanFilter
        flt = (
            cls(1, 1)
            .setStateKeyCol("key")
            .setInitialStateDistributionCol("initState")
            .setInitialStateMean(np.zeros(1))
            .setInitialStateCovariance(np.array([[50.0]]))
            .setProcessModel(np.array([[0.98]]))
            .setProcessNoise(np.array([[0.7]]))
            .setMeasurementNoise(np.array([[3.0]]))
            .setFadingFactor(1.01)
            .setCalculateLoglikelihood(True)
            .setCalculateMahalanobis(True)
            .setVectorizedBatch(vectorized)
        )
        if variant == "julier":
            flt = flt.setSigmaPoints("julier").setKappa(1.5)
        return flt

    seq = mk(False).transform(df).collect()
    vec = mk(True).transform(df).collect()
    assert len(seq) == len(vec) == len(rows)
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        assert (rs.stateKey, rs.stateIndex) == (rv.stateKey, rv.stateIndex)
        np.testing.assert_allclose(rs.state.mean[0], rv.state.mean[0], atol=1e-9)
        np.testing.assert_allclose(
            rs.state.covariance.values[0], rv.state.covariance.values[0], atol=1e-9
        )
        assert (rs.residual is None) == (rv.residual is None)
        if rs.residual is not None:
            np.testing.assert_allclose(rs.residual.mean[0], rv.residual.mean[0], atol=1e-9)
            np.testing.assert_allclose(rs.loglikelihood, rv.loglikelihood, atol=1e-9)
            np.testing.assert_allclose(rs.mahalanobis, rv.mahalanobis, atol=1e-9)
        else:
            assert rv.loglikelihood is None and rv.mahalanobis is None
