"""Spark-free truth table for ``resolve_engine``: which engine, batched flag
and fold factory every (operator shape, foldEngine, vectorizedBatch,
batch/stream) case gets, and which cases raise.

The table in ``data/engine_truth_table.json`` was recorded by running each
case through ``transform()`` on the code before the resolver existed (one
engine switch per operator). ``tools/capture_engine_table.py`` rebuilds it
from a live Spark session; the truth-table tests need no JVM. The schema
test at the end runs each engine's plan on the shared local session."""

import json
import os

import numpy as np
import pytest

from artan_spark.operators import (
    BernoulliMixture,
    CubatureKalmanFilter,
    ExtendedKalmanFilter,
    LeastMeanSquaresFilter,
    LinearKalmanFilter,
    LinearKalmanSmoother,
    MultivariateGaussianMixture,
    PoissonMixture,
    RecursiveLeastSquaresFilter,
    UnscentedKalmanFilter,
)

TABLE = os.path.join(os.path.dirname(__file__), "data", "engine_truth_table.json")
PUBLIC_SCHEMAS = os.path.join(os.path.dirname(__file__), "data", "public_schemas.json")

F2 = np.array([[1.0, 1.0], [0.0, 1.0]])
H2 = np.array([[1.0, 0.0]])


def _batched_fx(m, _model):
    return m


def _batched_hx(m, _model):
    return m[:, :1]


def _kalman(cls, n=1, m=1, **params):
    op = cls(n, m).setStateKeyCol("stateKey").setEventTimeCol("ts")
    if n == 2:
        op.setProcessModel(F2).setMeasurementModel(H2)
    for k, v in params.items():
        op._set(k, v)
    return op


def _smoother(n=1, **params):
    return _kalman(LinearKalmanSmoother, n, 1, fixedLag=3, **params)


def _rls(n=1, **params):
    op = RecursiveLeastSquaresFilter(n).setStateKeyCol("stateKey").setEventTimeCol("ts")
    for k, v in params.items():
        op._set(k, v)
    return op


def _lms(init=None, **params):
    op = LeastMeanSquaresFilter().setStateKeyCol("stateKey").setEventTimeCol("ts")
    if init is not None:
        op.setInitialEstimate(np.array(init, dtype=np.float64))
    for k, v in params.items():
        op._set(k, v)
    return op


def _gmm(**params):
    op = (
        MultivariateGaussianMixture()
        .setInitialMeans([[0.0], [5.0]])
        .setInitialCovariances([[1.0], [1.0]])
        .setStateKeyCol("stateKey")
        .setEventTimeCol("ts")
    )
    for k, v in params.items():
        op._set(k, v)
    return op


def _scalar_mixture(cls, setter, init):
    op = getattr(cls(), setter)(init).setSampleCol("sampled")
    return op.setStateKeyCol("stateKey").setEventTimeCol("ts")


# operator shapes; each builds a fresh operator with foldEngine /
# vectorizedBatch left at their defaults
CASES = {
    "lkf1": lambda: _kalman(LinearKalmanFilter),
    "lkf1_fading": lambda: _kalman(LinearKalmanFilter, fadingFactor=1.1),
    "lkf1_sll": lambda: _kalman(
        LinearKalmanFilter, calculateSlidingLikelihood=True, slidingLikelihoodWindow=3
    ),
    "lkf1_mmae": lambda: _kalman(
        LinearKalmanFilter, multipleModelAdaptiveEstimationEnabled=True
    ),
    "lkf1_rowH": lambda: _kalman(LinearKalmanFilter, measurementModelCol="H1"),
    "lkf1_control": lambda: _kalman(
        LinearKalmanFilter, control=np.array([1.0]), controlFunction=np.eye(1)
    ),
    "lkf1_msp": lambda: _kalman(LinearKalmanFilter, multiStepPredict=2),
    "lkf1_osm": lambda: _kalman(LinearKalmanFilter, outputSystemMatrices=True),
    "lkf1_initdist": lambda: _kalman(
        LinearKalmanFilter, initialStateDistributionCol="initState"
    ),
    "lkf2": lambda: _kalman(LinearKalmanFilter, 2),
    "lkf2_rowH": lambda: _kalman(LinearKalmanFilter, 2, measurementModelCol="H2"),
    "lkf2_fading": lambda: _kalman(LinearKalmanFilter, 2, fadingFactor=1.1),
    "lkf2_sll": lambda: _kalman(LinearKalmanFilter, 2, calculateSlidingLikelihood=True),
    "ekf1": lambda: _kalman(ExtendedKalmanFilter),
    "ekf2_vecfn": lambda: _kalman(
        ExtendedKalmanFilter, 2, processFunction=_batched_fx, vectorizedFunctions=True
    ),
    "ekf2_fn": lambda: _kalman(ExtendedKalmanFilter, 2, processFunction=_batched_fx),
    "ukf1": lambda: _kalman(UnscentedKalmanFilter),
    "ukf2": lambda: _kalman(UnscentedKalmanFilter, 2),
    "ukf1_adaptive": lambda: _kalman(UnscentedKalmanFilter, adaptiveProcessNoise=True),
    "ukf2_vecfn": lambda: _kalman(
        UnscentedKalmanFilter,
        2,
        measurementFunction=_batched_hx,
        vectorizedFunctions=True,
    ),
    "ckf1": lambda: _kalman(CubatureKalmanFilter),
    "ckf2": lambda: _kalman(CubatureKalmanFilter, 2),
    "sm1": lambda: _smoother(),
    "sm1_fading": lambda: _smoother(fadingFactor=1.1),
    "sm1_initdist": lambda: _smoother(initialStateDistributionCol="initState"),
    "sm1_control": lambda: _smoother(control=np.array([1.0]), controlFunction=np.eye(1)),
    "sm2": lambda: _smoother(2),
    "sm2_rowH": lambda: _smoother(2, measurementModelCol="H2"),
    "rls1": lambda: _rls(1),
    "rls2": lambda: _rls(2),
    "rls1_initcol": lambda: _rls(1, initialStateMeanCol="initMean"),
    "lms_unknown": lambda: _lms(),
    "lms1": lambda: _lms([0.0]),
    "lms2": lambda: _lms([0.0, 0.0]),
    "lms1_initcol": lambda: _lms([0.0], initialStateCol="initMean"),
    "gmm": lambda: _gmm(),
    "gmm_rowstep": lambda: _gmm(stepSizeCol="stepSize"),
    "poisson": lambda: _scalar_mixture(PoissonMixture, "setInitialRates", [1.0, 4.0]),
    "bernoulli": lambda: _scalar_mixture(
        BernoulliMixture, "setInitialProbabilities", [0.2, 0.8]
    ),
}

FOLD_ENGINES = ("auto", "sequential", "scan", "distributedScan")


def case_keys():
    """(case, foldEngine, vectorizedBatch, mode) for every table row; the
    mixtures have no foldEngine param and get None."""
    for name, build in CASES.items():
        engines = FOLD_ENGINES if "foldEngine" in build()._paramMap else (None,)
        for fe in engines:
            for vb in (False, True):
                for mode in ("batch", "stream"):
                    yield name, fe, vb, mode


def configured(name, fe, vb):
    op = CASES[name]()
    if fe is not None:
        op._set("foldEngine", fe)
    op._set("vectorizedBatch", vb)
    return op


def row_id(name, fe, vb, mode):
    return f"{name}|{fe}|{int(vb)}|{mode}"


def _load_table():
    with open(TABLE) as f:
        return json.load(f)


def test_table_covers_every_case():
    assert sorted(_load_table()) == sorted(row_id(*k) for k in case_keys())


def transform_constants(op):
    """The constants transform() resolves against: MMAE forces sliding
    likelihood on for the duration of the call."""
    if op._paramMap.get("multipleModelAdaptiveEstimationEnabled"):
        op._set("calculateSlidingLikelihood", True)
    return op._constants()


@pytest.mark.parametrize("name", sorted(CASES))
def test_resolver_matches_recorded_table(name):
    from artan_spark.operators.base import resolve_engine

    table = _load_table()
    for key in case_keys():
        if key[0] != name:
            continue
        want = table[row_id(*key)]
        op = configured(*key[:3])
        streaming = key[3] == "stream"
        if "error" in want:
            with pytest.raises(ValueError) as exc:
                resolve_engine(op, transform_constants(op), streaming)
            assert str(exc.value) == want["error"], row_id(*key)
            continue
        plan = resolve_engine(op, transform_constants(op), streaming)
        got = {
            "engine": plan.engine,
            "vectorized": plan.vectorized,
            "factory": plan.factory.__name__,
        }
        assert got == want, row_id(*key)
        assert plan.reason, row_id(*key)


# ---- one public schema per operator, whichever engine ran ----------------

SCHEMA_CASES = (
    "lkf1", "lkf2", "ekf1", "ukf1", "ukf2", "ckf1", "sm1", "sm2",
    "rls1", "rls2", "lms1", "lms2", "gmm", "poisson", "bernoulli",
)


def pinned_schema_cases():
    """(name, operator, mode) of every pinned public schema: each
    SCHEMA_CASES shape on the sequential engine, a 2-state LKF emitting
    its system matrices and multi-step forecasts, and a streaming 1-D LKF.
    ``tools/capture_engine_table.py`` records them in PUBLIC_SCHEMAS."""
    for name in SCHEMA_CASES:
        has_fe = "foldEngine" in CASES[name]()._paramMap
        yield name, configured(name, "sequential" if has_fe else None, False), "batch"
    yield "lkf2_osm_msp", _kalman(
        LinearKalmanFilter, 2, outputSystemMatrices=True, multiStepPredict=2
    ), "batch"
    yield "lkf1_stream", _kalman(LinearKalmanFilter), "stream"


# distributedScan runs its first pass at transform time, so it is compared
# on one shape of each distributed family only
DIST_CASES = {"lkf1", "lkf2", "sm1", "rls1", "lms1"}

# shapes whose engines are also compared row by row (1e-9 relative, 1e-12
# absolute for the states near zero)
VALUE_CASES = ("ukf2_vecfn",)


def _frame_rows():
    """Three keys of 8 rows, plus one k0 row with a NaN measurement and
    label (``features2`` is the 2-D feature column of the rls2/lms2 runs)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (
            f"k{i % 3}",
            t0 + dt.timedelta(seconds=i),
            [float(i)],
            float(i),
            [1.0],
            [float(i)],
            float(i % 2),
            [1.0, float(i)],
        )
        for i in range(24)
    ]
    nan = float("nan")
    rows.append(("k0", t0 + dt.timedelta(seconds=24), [nan], nan, [1.0], [24.0], 0.0, [1.0, 24.0]))
    return rows


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        _frame_rows(),
        "stateKey string, ts timestamp, measurement array<double>, label double, "
        "features array<double>, sample array<double>, sampled double, "
        "features2 array<double>",
    )


@pytest.mark.parametrize("name", ["sm1", "sm2", "lkf2", "rls2", "lms2"])
def test_nan_input_completes(frame, name):
    """NaN arrives from Arrow as NULL; no public field may declare it
    impossible, or the job aborts reading the fold's output."""
    from collections import Counter

    op = configured(name, "sequential", False)
    if name in ("rls2", "lms2"):
        op._set("featuresCol", "features2")
    per_key = Counter(r[0] for r in _frame_rows()).values()
    lag = 3  # the smoother cases' fixedLag
    want = sum(max(0, k - lag + 1) * lag for k in per_key) if name.startswith("sm") else sum(per_key)
    assert len(op.transform(frame).collect()) == want


def test_short_feature_cells_raise_spark_free():
    from artan_spark.operators.vectorized import vec_cells_to_2d

    with pytest.raises(ValueError, match="expected 2 values per cell, got 1"):
        vec_cells_to_2d([[1.0], [2.0], [3.0]], 2)
    # mixed widths that total rows x width are not re-chunked across rows
    with pytest.raises(ValueError, match="expected 2 values per cell, got 1"):
        vec_cells_to_2d([[1.0], [2.0, 3.0, 4.0]], 2)


@pytest.mark.parametrize("fe,vb", [("sequential", False), ("sequential", True), ("scan", True)])
def test_short_feature_cells_raise(frame, fe, vb):
    """A 2-state RLS reading 1-element feature cells fails on every
    engine; the batched folds do not copy the one value into both slots."""
    op = configured("rls2", fe, vb)
    op._set("vectorizedBuckets", 2)  # no bucket-sizing job
    with pytest.raises(Exception, match="expected 2 values per cell, got 1"):
        op.transform(frame).collect()


# shape: the error every engine raises on 2-element feature cells
WIDE_CASES = {
    "rls1": "expected 1 values per cell, got 2",
    "lms1": "expected 1 values per cell, got 2",
}


@pytest.mark.parametrize("name", sorted(WIDE_CASES))
@pytest.mark.parametrize("fe,vb", [("sequential", False), ("sequential", True), ("scan", True)])
def test_wide_feature_cells_raise(frame, fe, vb, name):
    """A 1-state RLS or LMS reading 2-element feature cells fails on
    every engine: no fold reads only the first value of a wide cell."""
    message = WIDE_CASES[name]
    op = configured(name, fe, vb)
    op._set("featuresCol", "features2")
    op._set("vectorizedBuckets", 2)  # no bucket-sizing job
    with pytest.raises(Exception, match=message):
        op.transform(frame).collect()


def test_each_bucket_runs_in_its_own_task(spark):
    """``vectorizedBuckets`` is the task count: 64 keys in 4 buckets fold
    in 4 distinct partitions, none left empty or merged with another."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(f"k{i % 64}", t0 + dt.timedelta(seconds=i), [float(i)]) for i in range(128)],
        "stateKey string, ts timestamp, measurement array<double>",
    )
    op = configured("lkf1", "sequential", True)
    op._set("vectorizedBuckets", 4)
    out = op.transform(df)
    parts = out.select(F.spark_partition_id().alias("p"), "stateKey").distinct().collect()
    assert op._lastFoldVectorized
    assert len({r.stateKey for r in parts}) == 64
    assert len({r.p for r in parts}) == 4


def test_bucket_count_needs_no_job_on_few_partitions(spark, frame):
    """With at most 4 shuffle partitions the bucket count is the partition
    count, so resolving a bucketed plan runs no sizing job; with more it
    samples the keys."""
    from artan_spark.operators.base import resolve_engine

    sc = spark.sparkContext
    conf = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for par in (3, 4, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(par))
            op = configured("lkf1", "sequential", True)
            group = f"bucket-sizing-{par}"
            sc.setJobGroup(group, group)
            plan = resolve_engine(op, op._constants(), False, op._keyed(frame))
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            assert (len(jobs) > 0) == (par > 4), (par, jobs)
            assert plan.buckets == (par if par <= 4 else 4), par
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", conf)


def test_public_schemas_match_recorded(spark, frame):
    from pyspark.sql import functions as F

    stream = spark.readStream.format("rate").load().select(
        F.lit("k").alias("stateKey"),
        F.col("timestamp").alias("ts"),
        F.array(F.col("value").cast("double")).alias("measurement"),
    )
    with open(PUBLIC_SCHEMAS) as f:
        want = json.load(f)
    got = {
        name: json.loads(op.transform(stream if mode == "stream" else frame).schema.json())
        for name, op, mode in pinned_schema_cases()
    }
    assert got == want


def _states(df):
    """(key, index) and the state mean + covariance doubles of each row."""
    rows = sorted(df.collect(), key=lambda r: (r.stateKey, r.stateIndex))
    return [(r.stateKey, r.stateIndex) for r in rows], np.array(
        [[*r.state.mean, *r.state.covariance.values] for r in rows], dtype=np.float64
    )


@pytest.mark.parametrize("name", SCHEMA_CASES + VALUE_CASES)
def test_every_engine_emits_the_sequential_schema(spark, frame, name):
    has_fe = "foldEngine" in CASES[name]()._paramMap
    seq = configured(name, "sequential" if has_fe else None, False)
    want = seq.transform(frame).schema
    want_states = _states(seq.transform(frame)) if name in VALUE_CASES else None
    ran = {(seq._lastFoldEngine, seq._lastFoldVectorized)}
    engines = ("sequential", "scan") + (("distributedScan",) if name in DIST_CASES else ())
    for fe in engines if has_fe else (None,):
        op = configured(name, fe, True)
        op._set("vectorizedBuckets", 2)  # no bucket-sizing job
        try:
            out = op.transform(frame)
        except ValueError:
            continue  # the shape has no such engine
        ran.add((op._lastFoldEngine, op._lastFoldVectorized))
        assert out.schema == want, (name, fe)
        if want_states is not None:
            keys, values = _states(out)
            assert keys == want_states[0], (name, fe)
            np.testing.assert_allclose(values, want_states[1], rtol=1e-9, atol=1e-12, err_msg=f"{name} {fe}")
    assert len(ran) > 1, ran  # at least one batched engine was compared
