"""RTS smoother vs an independent numpy RTS implementation (full-lag), plus
lag-window emission semantics (reference LinearKalmanSmootherSpec.scala)."""

import numpy as np

from artan_spark import linalg
from artan_spark.operators import LinearKalmanSmoother


def _local_trend_df(spark, n=30, sigma=5.0):
    rng = np.random.RandomState(0)
    zs = np.arange(n) + rng.normal(0, sigma, n)
    df = spark.createDataFrame([("k", [float(z)]) for z in zs], "stateKey string, measurement array<double>")
    return df, zs


def _numpy_rts(zs, F, Q, H, R, m0, P0):
    """Independent forward-filter + full RTS backward pass."""
    n = len(zs)
    ms, Ps = [], []
    m, P = m0, P0
    for z in zs:
        m, P = linalg.kf_predict(m, P, F, Q)
        m, P, _, _ = linalg.kf_estimate(m, P, np.array([z]), H, R)
        ms.append(m)
        Ps.append(P)
    sm = [None] * n
    sm[n - 1] = (ms[n - 1], Ps[n - 1])
    for j in range(n - 2, -1, -1):
        nm = F @ ms[j]
        nc = F @ Ps[j] @ F.T + Q
        g = Ps[j] @ F.T @ linalg.pinv(nc)
        mean = ms[j] + g @ (sm[j + 1][0] - nm)
        cov = Ps[j] + g @ (sm[j + 1][1] - nc) @ g.T
        sm[j] = (mean, cov)
    return ms, sm


F_TREND = np.array([[1.0, 1.0], [0.0, 1.0]])
Q_TREND = np.array([[0.01, 0.0], [0.0, 0.01]])
H_TREND = np.array([[1.0, 0.0]])
R_TREND = np.array([[20.0]])


def _smoother(n):
    return (
        LinearKalmanSmoother(2, 1)
        .setStateKeyCol("stateKey")
        .setInitialStateMean(np.zeros(2))
        .setInitialStateCovariance(np.eye(2) * 10)
        .setProcessModel(F_TREND)
        .setProcessNoise(Q_TREND)
        .setMeasurementModel(H_TREND)
        .setMeasurementNoise(R_TREND)
        .setFixedLag(n)
    )


def test_full_lag_matches_numpy_rts(spark):
    n = 30
    df, zs = _local_trend_df(spark, n)
    out = _smoother(n).transform(df)
    # with fixedLag = n, the final emission (all rows from the only full
    # queue) is the complete smoothing pass
    rows = out.collect()
    assert len(rows) == n
    _, sm = _numpy_rts(zs, F_TREND, Q_TREND, H_TREND, R_TREND, np.zeros(2), np.eye(2) * 10)
    for r in rows:
        j = r.stateIndex - 1
        np.testing.assert_allclose(np.array(r.state.mean), sm[j][0], atol=1e-8)
    # stepIndex 0 is the newest entry
    by_step = {r.stepIndex: r.stateIndex for r in rows}
    assert by_step[0] == n and by_step[n - 1] == 1


def test_fixed_lag_emission_volume(spark):
    n, lag = 20, 5
    df, _ = _local_trend_df(spark, n)
    out = _smoother(n).setFixedLag(lag).transform(df)
    # first lag-1 rows emit nothing; each of the remaining n-lag+1 emits lag rows
    assert out.count() == (n - lag + 1) * lag


def test_smoother_beats_filter_mse(spark):
    n = 30
    df, zs = _local_trend_df(spark, n)
    out = _smoother(n).transform(df).collect()
    truth = np.arange(n, dtype=float)
    sm_means = {r.stateIndex: r.state.mean[0] for r in out}
    ms, _ = _numpy_rts(zs, F_TREND, Q_TREND, H_TREND, R_TREND, np.zeros(2), np.eye(2) * 10)
    filt_mse = np.mean([(ms[i][0] - truth[i]) ** 2 for i in range(n)])
    sm_mse = np.mean([(sm_means[i + 1] - truth[i]) ** 2 for i in range(n)])
    assert sm_mse < filt_mse


def _seq_vs_vectorized(spark, rows, build, lags, compare):
    """Run the smoother ``build(lag, vectorized)`` at every fixedLag on the
    sequential engine with and without vectorizedBatch, assert which fold
    ran, and ``compare`` the sorted rows."""
    df = spark.createDataFrame(rows, "key string, measurement array<double>")
    key_fn = lambda r: (r.stateKey, r.stateIndex, r.stepIndex)  # noqa: E731
    for lag in lags:
        seq_op, vec_op = build(lag, False), build(lag, True)
        seq = seq_op.transform(df).collect()
        vec = vec_op.transform(df).collect()
        assert seq_op._lastFoldEngine == vec_op._lastFoldEngine == "sequential"
        assert not seq_op._lastFoldVectorized and vec_op._lastFoldVectorized
        assert len(seq) == len(vec) > 0
        for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
            assert key_fn(rs) == key_fn(rv)
            compare(rs, rv)


def test_vectorized_smoother_scalar_bit_exact(spark):
    """1-D vectorized multi-key smoother is BIT-EXACT with the sequential
    scalar fold (same elementwise IEEE op order), incl. missing
    measurements (on anchor rows too), ragged key lengths, a key shorter
    than the lag, and fixedLag 1."""
    import numpy as np

    from artan_spark.operators import LinearKalmanSmoother

    rng = np.random.RandomState(7)
    rows = []
    for k in range(9):
        for i in range(20 + k):
            z = None if (i + k) % 11 == 0 else [float(np.sin(i / 4.0) + rng.normal(0, 0.2))]
            rows.append((f"key{k}", z))
    rows += [("short", [1.0]), ("short", None), ("short", [0.5])]  # fewer rows than lag 5

    def mk(lag, vectorized):
        return (
            LinearKalmanSmoother(1, 1)
            .setStateKeyCol("key")
            .setInitialStateCovariance(np.array([[50.0]]))
            .setProcessNoise(np.array([[0.5]]))
            .setMeasurementNoise(np.array([[4.0]]))
            .setFixedLag(lag)
            .setFoldEngine("sequential")
            .setVectorizedBatch(vectorized)
        )

    def bit_exact(rs, rv):
        assert rs.state.mean[0] == rv.state.mean[0]
        assert rs.state.covariance.values[0] == rv.state.covariance.values[0]
        assert rs.rtsGain.values[0] == rv.rtsGain.values[0]

    _seq_vs_vectorized(spark, rows, mk, (5, 1), bit_exact)


def test_vectorized_smoother_general_matches_sequential(spark):
    """n-D vectorized smoother == sequential queue fold (einsum ~ulp), incl.
    missing measurements (on anchor rows too), a key shorter than the lag,
    and fixedLag 1."""
    import numpy as np

    from artan_spark.operators import LinearKalmanSmoother

    rng = np.random.RandomState(8)
    rows = []
    for k in range(6):
        v = np.zeros(2)
        for i in range(16 + k):
            v = np.array([[1.0, 0.1], [0.0, 1.0]]) @ v + rng.normal(0, 0.1, 2)
            rows.append((f"key{k}", None if (i + k) % 7 == 6 else [float(v[0])]))
    rows += [("short", [1.0]), ("short", None), ("short", [0.5])]  # fewer rows than lag 6

    def mk(lag, vectorized):
        return (
            LinearKalmanSmoother(2, 1)
            .setStateKeyCol("key")
            .setInitialStateCovariance(10.0 * np.eye(2))
            .setProcessModel(np.array([[1.0, 0.1], [0.0, 1.0]]))
            .setProcessNoise(0.01 * np.eye(2))
            .setMeasurementModel(np.array([[1.0, 0.0]]))
            .setMeasurementNoise(np.array([[1.0]]))
            .setFixedLag(lag)
            .setFoldEngine("sequential")
            .setVectorizedBatch(vectorized)
        )

    def close(rs, rv):
        np.testing.assert_allclose(rs.state.mean, rv.state.mean, atol=1e-8)
        np.testing.assert_allclose(rs.state.covariance.values, rv.state.covariance.values, atol=1e-8)
        np.testing.assert_allclose(rs.rtsGain.values, rv.rtsGain.values, atol=1e-8)

    _seq_vs_vectorized(spark, rows, mk, (6, 1), close)
