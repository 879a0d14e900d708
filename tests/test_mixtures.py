"""Mixture tests: recover ground-truth components within MAE bounds
(reference python/artan/tests/test_mixtures.py)."""

import numpy as np
import pytest

from artan_spark.operators import (
    BernoulliMixture,
    MultivariateGaussianMixture,
    PoissonMixture,
)


def _mae(a, b):
    return float(np.mean(np.abs(np.asarray(a) - np.asarray(b))))


WEIGHTS = [0.2, 0.3, 0.5]
MEANS = [[10.0, 2.0], [1.0, 4.0], [5.0, 3.0]]
COVS = [[[2.0, 1.0], [1.0, 2.0]], [[4.0, 0.0], [0.0, 4.0]], [[5.0, 3.0], [3.0, 5.0]]]


def _gaussian_samples(size, seed=0):
    rng = np.random.RandomState(seed)
    chunks = [
        rng.multivariate_normal(m, c, size=int(w * size))
        for w, m, c in zip(WEIGHTS, MEANS, COVS)
    ]
    samples = np.concatenate(chunks)
    rng.shuffle(samples)
    return samples


def test_online_gmm(spark):
    samples = _gaussian_samples(5000)
    df = spark.createDataFrame([(s.tolist(),) for s in samples], "sample array<double>")
    eye = np.eye(2).ravel().tolist()
    gmm = (
        MultivariateGaussianMixture()
        .setInitialWeights([0.33, 0.33, 0.33])
        .setInitialMeans([[9.0, 9.0], [1.0, 1.0], [5.0, 5.0]])
        .setInitialCovariances([eye, eye, eye])
        .setStepSize(0.01)
        .setMinibatchSize(1)
    )
    res = gmm.transform(df).filter("stateIndex = 5000").collect()[0]
    model = res.mixtureModel
    assert _mae(model.weights, WEIGHTS) < 0.2
    for i, dist in enumerate(model.distributions):
        assert _mae(list(dist.mean), MEANS[i]) < 4.0


def test_online_gmm_minibatch_semantics(spark):
    samples = _gaussian_samples(100)
    df = spark.createDataFrame([(s.tolist(),) for s in samples], "sample array<double>")
    eye = np.eye(2).ravel().tolist()
    gmm = (
        MultivariateGaussianMixture()
        .setInitialMeans([[9.0, 9.0], [1.0, 1.0], [5.0, 5.0]])
        .setInitialCovariances([eye, eye, eye])
        .setMinibatchSize(10)
    )
    out = gmm.transform(df)
    # one emission per completed minibatch
    assert out.count() == 10
    assert [r.stateIndex for r in out.orderBy("stateIndex").collect()] == list(range(1, 11))


def test_poisson_mixture(spark):
    rng = np.random.RandomState(0)
    rates = [5.0, 10.0, 30.0]
    weights = [0.2, 0.3, 0.5]
    chunks = [rng.poisson(r, size=int(w * 5000)) for r, w in zip(rates, weights)]
    samples = np.concatenate(chunks)
    rng.shuffle(samples)
    df = spark.createDataFrame([(int(s),) for s in samples], "sample long")
    pm = (
        PoissonMixture()
        .setInitialRates([1.0, 7.0, 40.0])
        .setMinibatchSize(30)
        .setStepSize(0.1)
        .setUpdateHoldout(1)
    )
    max_idx = len(samples) // 30
    res = pm.transform(df).filter(f"stateIndex = {max_idx}").collect()[0]
    model = res.mixtureModel
    est_rates = sorted(d.rate for d in model.distributions)
    assert _mae(est_rates, rates) < 2.0


def test_bernoulli_mixture(spark):
    # reference config (BernoulliMixtureSpec.scala:57-95): weights .4/.6,
    # probs .7/.9, init .4/.8, minibatch 30, step 0.1
    rng = np.random.RandomState(0)
    probs = [0.7, 0.9]
    weights = [0.4, 0.6]
    chunks = [rng.binomial(1, p, size=int(w * 10000)) for p, w in zip(probs, weights)]
    samples = np.concatenate(chunks)
    rng.shuffle(samples)
    df = spark.createDataFrame([(bool(s),) for s in samples], "sample boolean")
    bm = (
        BernoulliMixture()
        .setInitialWeights([0.5, 0.5])
        .setInitialProbabilities([0.4, 0.8])
        .setMinibatchSize(30)
        .setStepSize(0.1)
        .setUpdateHoldout(1)
    )
    max_idx = len(samples) // 30
    res = bm.transform(df).filter(f"stateIndex = {max_idx}").collect()[0]
    est = sorted(d.probability for d in res.mixtureModel.distributions)
    assert _mae(est, probs) < 0.1
    assert _mae(sorted(res.mixtureModel.weights), weights) < 0.1


def test_batch_em_gaussian(spark):
    samples = _gaussian_samples(600)
    df = spark.createDataFrame([("k", s.tolist()) for s in samples], "key string, sample array<double>")
    eye = np.eye(2).ravel().tolist()
    gmm = (
        MultivariateGaussianMixture()
        .setStateKeyCol("key")
        .setInitialMeans([[9.0, 9.0], [1.0, 1.0], [5.0, 5.0]])
        .setInitialCovariances([eye, eye, eye])
        .setStepSize(1.0)
        .setBatchTrainEnabled(True)
        .setBatchTrainMaxIter(15)
        .setBatchTrainTol(0.01)
    )
    rows = gmm.transform(df).collect()
    assert len(rows) == 1
    model = rows[0].mixtureModel
    means = sorted([list(d.mean) for d in model.distributions])
    expected = sorted(MEANS)
    assert _mae(np.array(means), np.array(expected)) < 1.0


def test_gmm_resume_from_output_model(spark):
    """Save/resume pattern for mixtures: feed the output mixtureModel back
    as initialMixtureModelCol; the resumed run must continue where the
    uninterrupted run was (reference initialMixtureModelCol path,
    MixtureBase.scala:212-225)."""
    from pyspark.sql import functions as F

    samples = _gaussian_samples(200)
    eye = np.eye(2).ravel().tolist()

    def mk():
        return (
            MultivariateGaussianMixture()
            .setInitialMeans([[9.0, 9.0], [1.0, 1.0], [5.0, 5.0]])
            .setInitialCovariances([eye, eye, eye])
            .setMinibatchSize(10)
            .setStepSize(0.1)
        )

    df_all = spark.createDataFrame([(s.tolist(),) for s in samples], "sample array<double>")
    full = mk().transform(df_all).filter("stateIndex = 20").collect()[0]

    df_head = spark.createDataFrame([(s.tolist(),) for s in samples[:100]], "sample array<double>")
    head_model = mk().transform(df_head).filter("stateIndex = 10").collect()[0].mixtureModel
    df_tail = (
        spark.createDataFrame([(s.tolist(),) for s in samples[100:]], "sample array<double>")
        .crossJoin(spark.createDataFrame([(head_model,)], ["initModel"]))
    )
    resumed = (
        mk()
        .setInitialMixtureModelCol("initModel")
        .transform(df_tail)
        .filter("stateIndex = 10")
        .collect()[0]
    )
    # NOTE: the resumed run restarts the summary model from the weighted
    # mixture (like the reference), so equality is approximate, not exact
    for d_full, d_res in zip(full.mixtureModel.distributions, resumed.mixtureModel.distributions):
        np.testing.assert_allclose(list(d_res.mean), list(d_full.mean), atol=1.0)


import pytest


@pytest.mark.parametrize("family", ["gaussian", "poisson", "bernoulli"])
def test_vectorized_mixture_matches_sequential(spark, family):
    """Batched multi-key stochastic-EM fold == sequential fold across all
    three families (ragged keys, leftover samples, decayed step size)."""
    import numpy as np

    from artan_spark.operators import (
        BernoulliMixture,
        MultivariateGaussianMixture,
        PoissonMixture,
    )

    rng = np.random.RandomState(11)
    rows = []
    for k in range(7):
        for i in range(43 + 5 * k):  # not a multiple of minibatch -> leftovers
            if family == "gaussian":
                v = [float(rng.normal(20 if i % 2 else 70, 8))]
            elif family == "poisson":
                v = float(rng.poisson(3 if i % 2 else 12))
            else:
                v = float(rng.binomial(1, 0.3))
            rows.append((f"key{k}", v))
    schema = "key string, sample array<double>" if family == "gaussian" else "key string, sample double"
    df = spark.createDataFrame(rows, schema)

    def mk(vectorized):
        if family == "gaussian":
            m = (
                MultivariateGaussianMixture()
                .setInitialMeans([[25.0], [75.0]])
                .setInitialCovariances([[100.0], [100.0]])
            )
        elif family == "poisson":
            m = PoissonMixture().setInitialRates([2.0, 9.0])
        else:
            m = BernoulliMixture().setInitialProbabilities([0.2, 0.8])
        return (
            m.setStateKeyCol("key")
            .setMinibatchSize(10)
            .setDecayRate(0.85)
            .setUpdateHoldout(1)
            .setVectorizedBatch(vectorized)
        )

    seq_op, vec_op = mk(False), mk(True)
    seq = seq_op.transform(df).collect()
    vec = vec_op.transform(df).collect()
    assert (seq_op._lastFoldEngine, seq_op._lastFoldVectorized) == ("sequential", False)
    assert (vec_op._lastFoldEngine, vec_op._lastFoldVectorized) == ("sequential", True)
    assert len(seq) == len(vec) > 0
    key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
    for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
        assert key_fn(rs) == key_fn(rv)
        np.testing.assert_allclose(rs.mixtureModel.weights, rv.mixtureModel.weights, atol=1e-9)
        np.testing.assert_allclose(rs.loglikelihood, rv.loglikelihood, atol=1e-7)
        for ds, dv in zip(rs.mixtureModel.distributions, rv.mixtureModel.distributions):
            if family == "gaussian":
                np.testing.assert_allclose(ds.mean, dv.mean, atol=1e-9)
                np.testing.assert_allclose(ds.covariance.values, dv.covariance.values, atol=1e-9)
            elif family == "poisson":
                np.testing.assert_allclose(ds.rate, dv.rate, atol=1e-9)
            else:
                np.testing.assert_allclose(ds.probability, dv.probability, atol=1e-9)


@pytest.mark.parametrize("vectorized", [False, True])
def test_gmm_minibatch_larger_than_group(spark, vectorized):
    """A group with fewer samples than one minibatch emits zero rows.

    Regression: the zero-emission frame used to reach Arrow with float64
    columns (pandas types empty columns float64) and crash with
    ArrowTypeError on the mixtureModel struct. Covers both the sequential
    and the vectorized multi-key fold paths.
    """
    samples = _gaussian_samples(8)
    df = spark.createDataFrame([(s.tolist(),) for s in samples], "sample array<double>")
    eye = np.eye(2).ravel().tolist()
    gmm = (
        MultivariateGaussianMixture()
        .setInitialMeans([[9.0, 9.0], [1.0, 1.0], [5.0, 5.0]])
        .setInitialCovariances([eye, eye, eye])
        .setMinibatchSize(50)
        .setVectorizedBatch(vectorized)
    )
    assert gmm.transform(df).count() == 0


def test_batch_em_bernoulli(spark):
    """Batch-EM driver loop on the Bernoulli family (Gaussian and Poisson
    variants covered above). A 2-component Bernoulli mixture over single
    binary draws is only identifiable up to its mixture mean (any (w, p)
    with the same w1*p1 + w2*p2 has identical likelihood), so the
    convergence assertion targets the identifiable quantity: the fitted
    mixture mean must match the sample mean, from an init far away from
    it."""
    rng = np.random.RandomState(2)
    probs, weights = [0.15, 0.85], [0.5, 0.5]
    chunks = [rng.binomial(1, p, size=int(w * 3000)) for p, w in zip(probs, weights)]
    samples = np.concatenate(chunks)
    rng.shuffle(samples)
    df = spark.createDataFrame([("k", bool(s)) for s in samples], "key string, sample boolean")
    bm = (
        BernoulliMixture()
        .setStateKeyCol("key")
        .setInitialProbabilities([0.05, 0.2])
        .setStepSize(1.0)
        .setBatchTrainEnabled(True)
        .setBatchTrainMaxIter(15)
        .setBatchTrainTol(0.001)
    )
    rows = bm.transform(df).collect()
    assert len(rows) == 1
    model = rows[0].mixtureModel
    w = np.asarray(model.weights)
    p = np.asarray([d.probability for d in model.distributions])
    assert abs(w.sum() - 1.0) < 1e-9
    fitted_mean = float((w * p).sum())
    assert abs(fitted_mean - samples.mean()) < 0.01


def test_vectorized_scalar_gmm_minibatch1_matches_sequential(spark):
    """The fused scalar fast path (gaussian, d=1, minibatch=1 — the
    per-row stochastic-EM shape of the gmm_events_value driver query) must
    reproduce the sequential fold within the same tolerance as the general
    vectorized fold. Ragged keys, decay, and holdout included."""
    import numpy as np

    from artan_spark.operators import MultivariateGaussianMixture

    rng = np.random.RandomState(23)
    rows = []
    for k in range(6):
        for i in range(31 + 11 * k):  # skewed lengths: the shape the fast path targets
            rows.append((f"key{k}", [float(rng.normal(20 if i % 2 else 70, 8))]))
    df = spark.createDataFrame(rows, "key string, sample array<double>")

    def mk(vectorized, holdout, decay):
        m = (
            MultivariateGaussianMixture()
            .setInitialMeans([[25.0], [75.0]])
            .setInitialCovariances([[100.0], [100.0]])
            .setStateKeyCol("key")
            .setMinibatchSize(1)
            .setStepSize(0.1)
            .setUpdateHoldout(holdout)
            .setVectorizedBatch(vectorized)
        )
        return m.setDecayRate(decay) if decay else m

    for holdout, decay in ((0, None), (2, 0.85)):
        seq = mk(False, holdout, decay).transform(df).collect()
        vec = mk(True, holdout, decay).transform(df).collect()
        assert len(seq) == len(vec) == len(rows)
        key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
        for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
            assert key_fn(rs) == key_fn(rv)
            np.testing.assert_allclose(
                rs.mixtureModel.weights, rv.mixtureModel.weights, atol=1e-9
            )
            np.testing.assert_allclose(rs.loglikelihood, rv.loglikelihood, atol=1e-7)
            for ds, dv in zip(rs.mixtureModel.distributions, rv.mixtureModel.distributions):
                np.testing.assert_allclose(ds.mean, dv.mean, atol=1e-9)
                np.testing.assert_allclose(ds.covariance.values, dv.covariance.values, atol=1e-9)


@pytest.mark.parametrize("family", ["poisson", "bernoulli"])
def test_vectorized_scalar_family_minibatch1_matches_sequential(spark, family):
    """The fused minibatch-1 fast path for the scalar families must match
    the sequential fold like the gaussian one does (ragged keys, decay,
    holdout)."""
    import numpy as np

    from artan_spark.operators import BernoulliMixture, PoissonMixture

    rng = np.random.RandomState(29)
    rows = []
    for k in range(6):
        for i in range(23 + 9 * k):
            if family == "poisson":
                v = float(rng.poisson(3 if i % 2 else 11))
            else:
                v = float(rng.binomial(1, 0.25 if i % 2 else 0.8))
            rows.append((f"key{k}", v))
    df = spark.createDataFrame(rows, "key string, sample double")

    def mk(vectorized, holdout, decay):
        if family == "poisson":
            m = PoissonMixture().setInitialRates([2.0, 9.0])
        else:
            m = BernoulliMixture().setInitialProbabilities([0.2, 0.8])
        m = (
            m.setStateKeyCol("key")
            .setMinibatchSize(1)
            .setStepSize(0.1)
            .setUpdateHoldout(holdout)
            .setVectorizedBatch(vectorized)
        )
        return m.setDecayRate(decay) if decay else m

    for holdout, decay in ((0, None), (2, 0.85)):
        seq = mk(False, holdout, decay).transform(df).collect()
        vec = mk(True, holdout, decay).transform(df).collect()
        assert len(seq) == len(vec) == len(rows)
        key_fn = lambda r: (r.stateKey, r.stateIndex)  # noqa: E731
        for rs, rv in zip(sorted(seq, key=key_fn), sorted(vec, key=key_fn)):
            assert key_fn(rs) == key_fn(rv)
            np.testing.assert_allclose(
                rs.mixtureModel.weights, rv.mixtureModel.weights, atol=1e-9
            )
            np.testing.assert_allclose(rs.loglikelihood, rv.loglikelihood, atol=1e-7)
            for ds, dv in zip(rs.mixtureModel.distributions, rv.mixtureModel.distributions):
                if family == "poisson":
                    np.testing.assert_allclose(ds.rate, dv.rate, atol=1e-9)
                else:
                    np.testing.assert_allclose(ds.probability, dv.probability, atol=1e-9)
