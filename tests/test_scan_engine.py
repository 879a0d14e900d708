"""Parallel-scan LKF engine (Särkkä & García-Fernández 2021): the
associative-scan formulation must match the sequential fold to tight
relative tolerance on every output projection, across key counts,
missing measurements, and per-key initial states — and must break the
rows-per-key serial bound (the documented 100x-scale risk, base.py)."""

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from artan_spark.operators import LinearKalmanFilter

RTOL = 1e-9


def _flt(**kw):
    flt = (
        LinearKalmanFilter(1, 1)
        .setStateKeyCol("stateKey")
        .setInitialStateMean(np.array([0.0]))
        .setInitialStateCovariance(np.array([[100.0]]))
        .setProcessNoise(np.array([[1.0]]))
        .setMeasurementNoise(np.array([[10.0]]))
        .setVectorizedBatch(True)
    )
    for k, v in kw.items():
        flt._set(k, v)
    return flt


def _rows(n_keys, n_rows, missing_every=0):
    rng = np.random.RandomState(11)
    rows = []
    for i in range(n_rows):
        z = None if missing_every and i % missing_every == 0 else [
            float(rng.normal(5.0 * (i % max(n_keys, 1)), 2.0))
        ]
        rows.append((f"k{i % n_keys}", z))
    return rows


def _collect(spark, flt, rows):
    df = spark.createDataFrame(rows, "stateKey string, measurement array<double>")
    out = flt.transform(df).select(
        "stateKey",
        "stateIndex",
        F.col("state.mean")[0].alias("m"),
        F.col("state.covariance.values")[0].alias("p"),
        F.col("residual.mean")[0].alias("r"),
        F.col("residual.covariance.values")[0].alias("s"),
    )
    return {(row.stateKey, row.stateIndex): row for row in out.collect()}


@pytest.mark.parametrize("n_keys,missing", [(1, 0), (4, 0), (3, 5)])
def test_scan_matches_sequential_engine(spark, n_keys, missing):
    rows = _rows(n_keys, 240, missing_every=missing)
    seq = _collect(spark, _flt(foldEngine="sequential"), rows)
    scan = _collect(spark, _flt(foldEngine="scan"), rows)
    assert seq.keys() == scan.keys()
    for k in seq:
        a, b = seq[k], scan[k]
        np.testing.assert_allclose(b.m, a.m, rtol=RTOL, atol=1e-12)
        np.testing.assert_allclose(b.p, a.p, rtol=RTOL, atol=1e-12)
        if a.r is None:
            assert b.r is None, k
        else:
            np.testing.assert_allclose(b.r, a.r, rtol=RTOL, atol=1e-12)
            np.testing.assert_allclose(b.s, a.s, rtol=RTOL, atol=1e-12)


def test_scan_matches_likelihood_projections(spark):
    rows = _rows(2, 200)
    mk = lambda eng: (  # noqa: E731
        _flt(
            foldEngine=eng,
            calculateLoglikelihood=True,
            calculateMahalanobis=True,
            calculateSlidingLikelihood=True,
            slidingLikelihoodWindow=5,
        )
    )
    df = spark.createDataFrame(rows, "stateKey string, measurement array<double>")
    proj = lambda flt: {  # noqa: E731
        (r.stateKey, r.stateIndex): r
        for r in flt.transform(df)
        .select("stateKey", "stateIndex", "loglikelihood", "mahalanobis", "slidingLikelihood")
        .collect()
    }
    seq, scan = proj(mk("sequential")), proj(mk("scan"))
    assert seq.keys() == scan.keys()
    for k in seq:
        np.testing.assert_allclose(
            scan[k].loglikelihood, seq[k].loglikelihood, rtol=RTOL, atol=1e-12
        )
        np.testing.assert_allclose(
            scan[k].mahalanobis, seq[k].mahalanobis, rtol=RTOL, atol=1e-12
        )
        np.testing.assert_allclose(
            scan[k].slidingLikelihood, seq[k].slidingLikelihood, rtol=1e-6, atol=1e-12
        )


def test_scan_respects_per_key_initial_state(spark):
    rows = [
        ("a", [1.0], {"mean": [50.0], "covariance": {"numRows": 1, "numCols": 1, "values": [1.0]}}),
        ("a", [2.0], None),
        ("b", [1.0], {"mean": [-50.0], "covariance": {"numRows": 1, "numCols": 1, "values": [1.0]}}),
        ("b", [2.0], None),
    ]
    schema = (
        "stateKey string, measurement array<double>, "
        "initialStateDistribution struct<mean:array<double>,"
        "covariance:struct<numRows:int,numCols:int,values:array<double>>>"
    )
    df = spark.createDataFrame(rows, schema)
    seq = _flt(foldEngine="sequential").setInitialStateDistributionCol("initialStateDistribution")
    scn = _flt(foldEngine="scan").setInitialStateDistributionCol("initialStateDistribution")
    a = {(r.stateKey, r.stateIndex): r.state.mean[0] for r in seq.transform(df).collect()}
    b = {(r.stateKey, r.stateIndex): r.state.mean[0] for r in scn.transform(df).collect()}
    assert a.keys() == b.keys()
    for k in a:
        np.testing.assert_allclose(b[k], a[k], rtol=RTOL)
    # the priors actually took: key a starts near +50, key b near -50
    assert b[("a", 1)] > 20 and b[("b", 1)] < -20


def test_scan_rejects_unsupported_shapes(spark):
    df = spark.createDataFrame([("a", [1.0])], "stateKey string, measurement array<double>")
    with pytest.raises(ValueError, match="scan"):
        _flt(foldEngine="scan", fadingFactor=1.2).transform(df)
    with pytest.raises(ValueError, match="scan"):
        _flt(foldEngine="scan").setVectorizedBatch(False).transform(df)


def test_scan_breaks_rows_per_key_bound(spark):
    """The worst case for the sequential fold: ONE key, many rows — a
    serial chain. The scan engine must be >=4x faster at 200k rows/key
    (VERDICT r10 #3's acceptance bar, measured in-process on the same
    warmed session; the gap widens with N since the loop is O(N) Python
    steps vs O(log N) numpy passes)."""
    n = 200_000
    rng = np.random.RandomState(7)
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "stateKey": ["k"] * n,
            "measurement": [[float(v)] for v in rng.normal(0, 1, n)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(1).cache()
    df.count()

    def run(flt):
        t0 = time.perf_counter()
        flt.transform(df).select(F.sum(F.col("state.mean")[0])).collect()
        return time.perf_counter() - t0

    # warm both paths once (worker pool, codegen), then measure; the
    # sequential side needs the explicit escape hatch now that the auto
    # engine resolves this shape to the scan
    run(_flt(foldEngine="sequential"))
    run(_flt(foldEngine="scan"))
    t_seq = min(run(_flt(foldEngine="sequential")) for _ in range(2))
    t_scan = min(run(_flt(foldEngine="scan")) for _ in range(2))
    df.unpersist()
    assert t_scan * 4 <= t_seq, (t_seq, t_scan)


def _smoother(engine, lag=10):
    from artan_spark.operators import LinearKalmanSmoother

    sm = (
        LinearKalmanSmoother(1, 1)
        .setStateKeyCol("stateKey")
        .setInitialStateCovariance(np.array([[100.0]]))
        .setProcessNoise(np.array([[1.0]]))
        .setMeasurementNoise(np.array([[10.0]]))
        .setFixedLag(lag)
        .setVectorizedBatch(True)
    )
    sm._set("foldEngine", engine)
    return sm


@pytest.mark.parametrize("n_keys,missing", [(1, 0), (3, 5)])
def test_smoother_scan_matches_sequential(spark, n_keys, missing):
    rows = _rows(n_keys, 180, missing_every=missing)
    df = spark.createDataFrame(rows, "stateKey string, measurement array<double>")
    proj = lambda sm: {  # noqa: E731
        (r.stateKey, r.stateIndex, r.stepIndex): (r.state.mean[0], r.state.covariance.values[0])
        for r in sm.transform(df).collect()
    }
    seq = proj(_smoother("sequential"))
    scan = proj(_smoother("scan"))
    assert seq.keys() == scan.keys()
    for k in seq:
        np.testing.assert_allclose(scan[k][0], seq[k][0], rtol=RTOL, atol=1e-12)
        np.testing.assert_allclose(scan[k][1], seq[k][1], rtol=RTOL, atol=1e-12)


def test_smoother_scan_rejects_unsupported(spark):
    df = spark.createDataFrame([("a", [1.0])], "stateKey string, measurement array<double>")
    sm = _smoother("scan")._set("fadingFactor", 1.3)
    with pytest.raises(ValueError, match="scan"):
        _smoother("scan", lag=2)._set("fadingFactor", 1.3).transform(df)


def test_smoother_scan_breaks_rows_per_key_bound(spark):
    """One key, 50k rows, lag 10: the time-synchronous fold walks 50k
    trigger windows in Python; the scan engine runs log2(N)+lag numpy
    passes. Bar: >=4x on the warmed path."""
    n = 50_000
    rng = np.random.RandomState(7)
    import pandas as pd

    pdf = pd.DataFrame(
        {"stateKey": ["k"] * n, "measurement": [[float(v)] for v in rng.normal(0, 1, n)]}
    )
    df = spark.createDataFrame(pdf).repartition(1).cache()
    df.count()

    def run(engine):
        t0 = time.perf_counter()
        _smoother(engine).transform(df).select(F.sum(F.col("state.mean")[0])).collect()
        return time.perf_counter() - t0

    run("sequential")
    run("scan")
    t_seq = min(run("sequential") for _ in range(2))
    t_scan = min(run("scan") for _ in range(2))
    df.unpersist()
    assert t_scan * 4 <= t_seq, (t_seq, t_scan)


def _rls(engine, lam=1.0):
    from artan_spark.operators import RecursiveLeastSquaresFilter

    rls = (
        RecursiveLeastSquaresFilter(1)
        .setStateKeyCol("stateKey")
        .setForgettingFactor(lam)
        .setVectorizedBatch(True)
    )
    rls._set("foldEngine", engine)
    return rls


@pytest.mark.parametrize("n_keys,lam", [(1, 1.0), (3, 1.0), (2, 0.95)])
def test_rls_scan_matches_sequential(spark, n_keys, lam):
    """The information-form scan must match the sequential RLS recursion
    for any forgetting factor (lam=1 = plain cumulative sums; lam<1 =
    exponentially discounted)."""
    rng = np.random.RandomState(13)
    rows = [
        (f"k{i % n_keys}", float(2.0 + 0.5 * i + rng.normal(0, 0.2)), [float(1.0 + 0.01 * i)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "stateKey string, label double, features array<double>")
    proj = lambda r: {  # noqa: E731
        (row.stateKey, row.stateIndex): (row.state.mean[0], row.state.covariance.values[0])
        for row in r.transform(df).collect()
    }
    seq = proj(_rls("sequential", lam))
    scan = proj(_rls("scan", lam))
    assert seq.keys() == scan.keys()
    for k in seq:
        np.testing.assert_allclose(scan[k][0], seq[k][0], rtol=1e-8, atol=1e-12)
        np.testing.assert_allclose(scan[k][1], seq[k][1], rtol=1e-8, atol=1e-12)


@pytest.mark.parametrize("lam", [1.0, 0.97])
def test_rls_scan_matches_sequential_nd(spark, lam):
    """The matrix information-form scan on a 3-feature regression: parity
    with the sequential rank-1 recursion for both forgetting factors."""
    from artan_spark.operators import RecursiveLeastSquaresFilter

    rng = np.random.RandomState(31)
    rows = []
    for i in range(200):
        x = [1.0, float(i % 11), float((i % 7) ** 2) / 10.0]
        y = 2.0 + 0.3 * x[1] - 0.8 * x[2] + rng.normal(0, 0.1)
        rows.append((f"k{i % 3}", float(y), x))
    df = spark.createDataFrame(rows, "stateKey string, label double, features array<double>")

    def mk(engine):
        r = (
            RecursiveLeastSquaresFilter(3)
            .setStateKeyCol("stateKey")
            .setForgettingFactor(lam)
            .setVectorizedBatch(True)
        )
        r._set("foldEngine", engine)
        return r

    proj = lambda r: {  # noqa: E731
        (row.stateKey, row.stateIndex): (
            np.array(row.state.mean),
            np.array(row.state.covariance.values),
        )
        for row in r.transform(df).collect()
    }
    seq = proj(mk("sequential"))
    scan = proj(mk("scan"))
    assert seq.keys() == scan.keys()
    for k in seq:
        np.testing.assert_allclose(scan[k][0], seq[k][0], rtol=1e-7, atol=1e-9)
        np.testing.assert_allclose(scan[k][1], seq[k][1], rtol=1e-7, atol=1e-9)


def test_ekf_linear_defaults_run_on_scan(spark):
    """An EKF with no callables runs the linear default semantics, so the
    general scan admits it — parity with its own sequential fold."""
    from artan_spark.operators import ExtendedKalmanFilter

    rng = np.random.RandomState(37)
    rows = [("a", [float(0.3 * i + rng.normal(0, 1.0))]) for i in range(150)]
    df = spark.createDataFrame(rows, "stateKey string, measurement array<double>")

    def mk(engine):
        flt = (
            ExtendedKalmanFilter(2, 1)
            .setStateKeyCol("stateKey")
            .setProcessModel(np.array([[1.0, 1.0], [0.0, 1.0]]))
            .setMeasurementModel(np.array([[1.0, 0.0]]))
            .setProcessNoise(0.1 * np.eye(2))
            .setMeasurementNoise(np.array([[4.0]]))
            .setVectorizedBatch(True)
        )
        flt._set("foldEngine", engine)
        return flt

    proj = lambda f: {  # noqa: E731
        (r.stateKey, r.stateIndex): np.array(r.state.mean) for r in f.transform(df).collect()
    }
    seq = proj(mk("sequential"))
    scan = proj(mk("scan"))
    assert seq.keys() == scan.keys()
    for k in seq:
        np.testing.assert_allclose(scan[k], seq[k], rtol=1e-7, atol=1e-9)


def _ols_flt(engine):
    flt = (
        LinearKalmanFilter(3, 1)
        .setStateKeyCol("stateKey")
        .setInitialStateCovariance(100.0 * np.eye(3))
        .setMeasurementModelCol("measurementModel")
        .setProcessNoise(np.zeros((3, 3)))
        .setMeasurementNoise(np.array([[10.0]]))
        .setVectorizedBatch(True)
    )
    flt._set("foldEngine", engine)
    return flt


def test_general_scan_matches_sequential_ols_shape(spark):
    """The n-D matrix-element scan on the OLS regression shape (per-row
    measurementModel, 3-D state, zero process noise): parity with the
    time-synchronous general fold across multiple keys."""
    rng = np.random.RandomState(17)
    rows = []
    for i in range(240):
        x = float(i % 24)
        h = [x, float(np.sqrt(x + 0.5)), 1.0]
        y = 2.0 * x + 1.5 * h[1] - 3.0 + rng.normal(0, 0.5)
        rows.append((f"k{i % 5}", [float(y)], (1, 3, h)))
    schema = (
        "stateKey string, measurement array<double>, "
        "measurementModel struct<numRows:int,numCols:int,values:array<double>>"
    )
    df = spark.createDataFrame(rows, schema)
    proj = lambda flt: {  # noqa: E731
        (r.stateKey, r.stateIndex): (
            np.array(r.state.mean),
            np.array(r.state.covariance.values),
            None if r.residual is None else np.array(r.residual.mean),
        )
        for r in flt.transform(df).collect()
    }
    seq = proj(_ols_flt("sequential"))
    scan = proj(_ols_flt("scan"))
    assert seq.keys() == scan.keys()
    for k in seq:
        np.testing.assert_allclose(scan[k][0], seq[k][0], rtol=1e-7, atol=1e-9)
        np.testing.assert_allclose(scan[k][1], seq[k][1], rtol=1e-7, atol=1e-9)
        if seq[k][2] is not None:
            np.testing.assert_allclose(scan[k][2], seq[k][2], rtol=1e-7, atol=1e-9)


def test_general_scan_matches_constant_model_nd(spark):
    """2-D constant-velocity model, constant H, with missing measurements
    and likelihood projections."""
    rng = np.random.RandomState(23)
    rows = []
    for i in range(200):
        z = None if i % 9 == 0 else [float(0.5 * i + rng.normal(0, 2.0))]
        rows.append((f"g{i % 3}", z))
    df = spark.createDataFrame(rows, "stateKey string, measurement array<double>")

    def mk(engine):
        flt = (
            LinearKalmanFilter(2, 1)
            .setStateKeyCol("stateKey")
            .setProcessModel(np.array([[1.0, 1.0], [0.0, 1.0]]))
            .setMeasurementModel(np.array([[1.0, 0.0]]))
            .setInitialStateCovariance(100.0 * np.eye(2))
            .setProcessNoise(0.1 * np.eye(2))
            .setMeasurementNoise(np.array([[5.0]]))
            .setCalculateLoglikelihood(True)
            .setCalculateMahalanobis(True)
            .setVectorizedBatch(True)
        )
        flt._set("foldEngine", engine)
        return flt

    proj = lambda flt: {  # noqa: E731
        (r.stateKey, r.stateIndex): (
            np.array(r.state.mean),
            np.array(r.state.covariance.values),
            r.loglikelihood,
            r.mahalanobis,
        )
        for r in flt.transform(df).collect()
    }
    seq = proj(mk("sequential"))
    scan = proj(mk("scan"))
    assert seq.keys() == scan.keys()
    for k in seq:
        np.testing.assert_allclose(scan[k][0], seq[k][0], rtol=1e-7, atol=1e-9)
        np.testing.assert_allclose(scan[k][1], seq[k][1], rtol=1e-7, atol=1e-9)
        if seq[k][2] is None:
            assert scan[k][2] is None or np.isnan(scan[k][2])
        else:
            np.testing.assert_allclose(scan[k][2], seq[k][2], rtol=1e-7, atol=1e-9)
            np.testing.assert_allclose(scan[k][3], seq[k][3], rtol=1e-7, atol=1e-9)


def _lms(engine, lr=0.7, reg=1.0):
    from artan_spark.operators import LeastMeanSquaresFilter

    lms = (
        LeastMeanSquaresFilter()
        .setStateKeyCol("stateKey")
        .setLearningRate(lr)
        .setRegularizationConstant(reg)
        .setInitialEstimate(np.array([0.0]))
        .setVectorizedBatch(True)
    )
    lms._set("foldEngine", engine)
    return lms


@pytest.mark.parametrize("n_keys,lr", [(1, 1.0), (3, 0.5)])
def test_lms_scan_matches_sequential(spark, n_keys, lr):
    rng = np.random.RandomState(29)
    rows = [
        (f"k{i % n_keys}", float(3.0 + rng.normal(0, 0.3)), [float(1.0 + 0.05 * (i % 7))])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "stateKey string, label double, features array<double>")
    proj = lambda op: {  # noqa: E731
        (r.stateKey, r.stateIndex): r.state[0] for r in op.transform(df).collect()
    }
    seq = proj(_lms("sequential", lr))
    scan = proj(_lms("scan", lr))
    assert seq.keys() == scan.keys()
    for k in seq:
        np.testing.assert_allclose(scan[k], seq[k], rtol=1e-9, atol=1e-12)


def test_lms_scan_rejects_nd(spark):
    from artan_spark.operators import LeastMeanSquaresFilter

    df = spark.createDataFrame(
        [("a", 1.0, [1.0, 2.0])], "stateKey string, label double, features array<double>"
    )
    lms = (
        LeastMeanSquaresFilter()
        .setStateKeyCol("stateKey")
        .setInitialEstimate(np.array([0.0, 0.0]))
        .setVectorizedBatch(True)
    )
    lms._set("foldEngine", "scan")
    with pytest.raises(ValueError, match="1-D"):
        lms.transform(df)


# ---- auto engine resolution (foldEngine="auto" is the default) ----------


def test_auto_selects_scan_on_eligible_scalar_lkf(spark):
    rows = _rows(3, 60)
    df = spark.createDataFrame(rows, "stateKey string, measurement array<double>")
    flt = _flt()  # default foldEngine ("auto"), vectorizedBatch irrelevant
    auto = {
        (r.stateKey, r.stateIndex): r.state.mean[0] for r in flt.transform(df).collect()
    }
    assert flt._lastFoldEngine == "scan"
    seq = _flt(foldEngine="sequential")
    ref = {
        (r.stateKey, r.stateIndex): r.state.mean[0] for r in seq.transform(df).collect()
    }
    assert seq._lastFoldEngine == "sequential"
    assert auto.keys() == ref.keys()
    for k in ref:
        np.testing.assert_allclose(auto[k], ref[k], rtol=RTOL, atol=1e-12)


def test_auto_selects_scan_without_vectorized_batch(spark):
    """The default path — no setVectorizedBatch call at all — must still
    promote an eligible shape to the scan engine."""
    rows = _rows(2, 40)
    df = spark.createDataFrame(rows, "stateKey string, measurement array<double>")
    flt = _flt()
    flt._set("vectorizedBatch", False)
    flt.transform(df).count()
    assert flt._lastFoldEngine == "scan"


def test_auto_falls_back_to_sequential_on_ineligible_shapes(spark):
    rows = _rows(2, 40)
    df = spark.createDataFrame(rows, "stateKey string, measurement array<double>")
    # fading factor breaks the affine-Gaussian scan element
    fad = _flt(fadingFactor=1.2)
    fad.transform(df).count()
    assert fad._lastFoldEngine == "sequential"
    # sigma-point filters have no scan element at all
    from artan_spark.operators import UnscentedKalmanFilter

    ukf = (
        UnscentedKalmanFilter(1, 1)
        .setStateKeyCol("stateKey")
        .setInitialStateCovariance(np.array([[100.0]]))
        .setProcessNoise(np.array([[1.0]]))
        .setMeasurementNoise(np.array([[10.0]]))
        .setVectorizedBatch(True)
    )
    ukf.transform(df).count()
    assert ukf._lastFoldEngine == "sequential"


def test_auto_lms_requires_known_scalar_shape(spark):
    from artan_spark.operators import LeastMeanSquaresFilter

    df = spark.createDataFrame(
        [("a", 1.0, [1.0]), ("a", 2.0, [1.0])],
        "stateKey string, label double, features array<double>",
    )
    # initialState unset: the feature dim is unknowable pre-data -> sequential
    unknown = LeastMeanSquaresFilter().setStateKeyCol("stateKey")
    unknown.transform(df).count()
    assert unknown._lastFoldEngine == "sequential"
    assert unknown._lastFoldVectorized is False
    known = (
        LeastMeanSquaresFilter()
        .setStateKeyCol("stateKey")
        .setInitialEstimate(np.array([0.0]))
    )
    known.transform(df).count()
    assert known._lastFoldEngine == "scan"
    assert known._lastFoldVectorized is True


def test_auto_rls_selects_scan(spark):
    from artan_spark.operators import RecursiveLeastSquaresFilter

    df = spark.createDataFrame(
        [("a", 1.0, [1.0]), ("a", 2.0, [1.0])],
        "stateKey string, label double, features array<double>",
    )
    rls = RecursiveLeastSquaresFilter(1).setStateKeyCol("stateKey")
    rls.transform(df).count()
    assert rls._lastFoldEngine == "scan"
    assert rls._lastFoldVectorized is True
    seq = RecursiveLeastSquaresFilter(1).setStateKeyCol("stateKey")
    seq._set("foldEngine", "sequential")
    seq.transform(df).count()
    assert (seq._lastFoldEngine, seq._lastFoldVectorized) == ("sequential", False)


# ---- n-D smoother scan ----------------------------------------------------


def _nd_smoother(engine, lag=6):
    from artan_spark.operators import LinearKalmanSmoother

    F2 = np.array([[1.0, 1.0], [0.0, 1.0]])  # local linear trend
    sm = (
        LinearKalmanSmoother(2, 1)
        .setStateKeyCol("stateKey")
        .setInitialStateMean(np.zeros(2))
        .setInitialStateCovariance(100.0 * np.eye(2))
        .setProcessModel(F2)
        .setProcessNoise(np.array([[0.2, 0.0], [0.0, 0.05]]))
        .setMeasurementModel(np.array([[1.0, 0.0]]))
        .setMeasurementNoise(np.array([[8.0]]))
        .setFixedLag(lag)
        .setVectorizedBatch(True)
    )
    sm._set("foldEngine", engine)
    return sm


@pytest.mark.parametrize("n_keys,missing", [(1, 0), (3, 5)])
def test_nd_smoother_scan_matches_sequential(spark, n_keys, missing):
    rows = _rows(n_keys, 150, missing_every=missing)
    df = spark.createDataFrame(rows, "stateKey string, measurement array<double>")
    proj = lambda sm: {  # noqa: E731
        (r.stateKey, r.stateIndex, r.stepIndex): (
            np.array(r.state.mean),
            np.array(r.state.covariance.values),
            np.array(r.rtsGain.values),
        )
        for r in sm.transform(df).collect()
    }
    seq = proj(_nd_smoother("sequential"))
    scan = proj(_nd_smoother("scan"))
    assert seq.keys() == scan.keys()
    for k in seq:
        for a, b in zip(seq[k], scan[k]):
            np.testing.assert_allclose(b, a, rtol=1e-7, atol=1e-9)


def test_nd_smoother_auto_stays_sequential(spark):
    """The n-D smoother scan is explicit opt-in (its forward pass is the
    n-D matrix scan, which loses 4-7x on many-key shapes); auto promotes
    only the scalar smoother."""
    rows = _rows(2, 40)
    df = spark.createDataFrame(rows, "stateKey string, measurement array<double>")
    sm = _nd_smoother("auto")
    sm._set("vectorizedBatch", False)  # the bare default path
    sm.transform(df).count()
    assert sm._lastFoldEngine == "sequential"
    # the scalar smoother DOES auto-promote on the same default path
    sc = _smoother("auto")
    sc._set("vectorizedBatch", False)
    sc.transform(df).count()
    assert sc._lastFoldEngine == "scan"


def test_nd_smoother_scan_breaks_rows_per_key_bound(spark):
    """One key, 30k rows, lag 6, 2-D state: the sequential fold walks 30k
    trigger windows; the scan runs log2(N)+lag batched passes. Bar: >=3x
    warmed (matrix passes amortize less than scalar ones)."""
    n = 30_000
    rng = np.random.RandomState(7)
    import pandas as pd

    pdf = pd.DataFrame(
        {"stateKey": ["k"] * n, "measurement": [[float(v)] for v in rng.normal(0, 1, n)]}
    )
    df = spark.createDataFrame(pdf).repartition(1).cache()
    df.count()

    def run(engine):
        t0 = time.perf_counter()
        _nd_smoother(engine).transform(df).select(F.sum(F.col("state.mean")[0])).collect()
        return time.perf_counter() - t0

    run("sequential")
    run("scan")
    t_seq = min(run("sequential") for _ in range(2))
    t_scan = min(run("scan") for _ in range(2))
    df.unpersist()
    assert t_scan * 3 <= t_seq, (t_seq, t_scan)
