"""Online finite mixture models via stochastic EM (Cappé 2011), plus a
batch-EM driver loop.

Parity targets (math re-derived in numpy, vectorized across the minibatch):
- buffering + stochastic-update flow: /root/reference/src/main/scala/com/
  github/ozancicek/artan/ml/mixture/MixtureBase.scala:330-424
  (emit once per minibatch :346-361; decay stepSize pow(2+k,-rate) :393-396;
  updateHoldout :405-409)
- E-step responsibilities via stable log-sum-exp + sufficient-statistic
  summaries: .../stats/Distribution.scala:105-227
- Gaussian/Poisson/Bernoulli summarize/scal/axpy:
  .../stats/MultivariateGaussianDistribution.scala:49-76,
  PoissonDistribution.scala:36-48, BernoulliDistribution.scala:38-47
- batch EM driver (minibatch=group count join, localCheckpoint, loglikelihood
  tolerance): MixtureBase.scala:257-316
- param defaults: MixtureParams.scala:104-365 (stepSize 0.01, minibatchSize 1,
  updateHoldout 0, sampleCol 'sample', batchTrainMaxIter 30, batchTrainTol 0.1)

Poisson logpmf uses lgamma, not the reference's BigInteger factorial
(PoissonDistribution.scala:51-58) — documented overflow-safe deviation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from artan_spark import linalg
from artan_spark.operators.base import EVENT_TIME, STATE_KEY, StatefulTransformer
from artan_spark.operators.codec import gaussian, mixture_layout
from artan_spark.operators.vectorized import (
    supports_vectorized_mixture,
    vectorized_mixture_fold_factory,
)
from artan_spark.types import (
    GAUSSIAN_OUT,
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    mat_to_np,
    vec_to_np,
)

# ---------------------------------------------------------------------------
# family adapters: model = dict of numpy arrays; all static & picklable
# ---------------------------------------------------------------------------


class _Gaussian:
    """samples: (n, d) float; model: weights (k,), means (k, d), covs (k, d, d)."""

    name = "gaussian"

    @staticmethod
    def loglik_matrix(x, model):
        return np.stack(
            [linalg.mvn_logpdf_many(x, model["means"][j], model["covs"][j]) for j in range(len(model["means"]))],
            axis=1,
        )

    @staticmethod
    def summarize(model, resp, x):
        # sums scaled by 1/n, cov centered at the CURRENT mixture mean
        # (MultivariateGaussianDistribution.scala:49-59)
        n = x.shape[0]
        means = (resp.T @ x) / n  # (k, d), weight-scaled
        covs = np.empty_like(model["covs"])
        for j in range(resp.shape[1]):
            d = x - model["means"][j]
            covs[j] = (d * resp[:, j : j + 1]).T @ d / n
        return {"means": means, "covs": covs}

    @staticmethod
    def scal(model, w):
        return {"means": model["means"] * w[:, None], "covs": model["covs"] * w[:, None, None]}

    @staticmethod
    def blend(old, new, a):
        return {
            "means": (1 - a) * old["means"] + a * new["means"],
            "covs": (1 - a) * old["covs"] + a * new["covs"],
        }

    @staticmethod
    def inverse_scal(model, w):
        return {"means": model["means"] / w[:, None], "covs": model["covs"] / w[:, None, None]}

    @staticmethod
    def flat(params):
        # per component: the mean, then the covariance column-major
        return np.concatenate(
            [np.concatenate([m, cv.T.ravel()]) for m, cv in zip(params["means"], params["covs"])]
        )

    @staticmethod
    def from_struct(s):
        dists = s["distributions"] if isinstance(s, dict) else s.distributions
        weights = np.asarray(s["weights"] if isinstance(s, dict) else s.weights, dtype=np.float64)
        means = np.stack([vec_to_np(d["mean"] if isinstance(d, dict) else d.mean) for d in dists])
        covs = np.stack([mat_to_np(d["covariance"] if isinstance(d, dict) else d.covariance) for d in dists])
        return weights, {"means": means, "covs": covs}

    @staticmethod
    def prep_samples(cells):
        return np.stack([vec_to_np(v) for v in cells])

    @staticmethod
    def pack(params):
        k = params["means"].shape[0]
        return [np.concatenate([params["means"][j], params["covs"][j].ravel()]).tolist() for j in range(k)]

    @staticmethod
    def unpack(rows):
        means, covs = [], []
        for r in rows:
            r = np.asarray(r, dtype=np.float64)
            # d + d^2 = len(r)  =>  d = (-1 + sqrt(1+4L))/2
            d = int((-1 + np.sqrt(1 + 4 * len(r))) / 2)
            means.append(r[:d])
            covs.append(r[d:].reshape(d, d))
        return {"means": np.stack(means), "covs": np.stack(covs)}


class _Poisson:
    name = "poisson"

    @staticmethod
    def loglik_matrix(x, model):
        return np.stack([linalg.poisson_logpmf(x, r) for r in model["rates"]], axis=1)

    @staticmethod
    def summarize(model, resp, x):
        return {"rates": (resp * x[:, None]).sum(axis=0) / x.shape[0]}

    @staticmethod
    def scal(model, w):
        return {"rates": model["rates"] * w}

    @staticmethod
    def blend(old, new, a):
        return {"rates": (1 - a) * old["rates"] + a * new["rates"]}

    @staticmethod
    def inverse_scal(model, w):
        return {"rates": model["rates"] / w}

    @staticmethod
    def flat(params):
        return params["rates"]

    @staticmethod
    def from_struct(s):
        dists = s["distributions"] if isinstance(s, dict) else s.distributions
        weights = np.asarray(s["weights"] if isinstance(s, dict) else s.weights, dtype=np.float64)
        rates = np.asarray([d["rate"] if isinstance(d, dict) else d.rate for d in dists], dtype=np.float64)
        return weights, {"rates": rates}

    @staticmethod
    def prep_samples(cells):
        return np.asarray(cells, dtype=np.float64)

    @staticmethod
    def pack(params):
        return [[float(r)] for r in params["rates"]]

    @staticmethod
    def unpack(rows):
        return {"rates": np.asarray([r[0] for r in rows], dtype=np.float64)}


class _Bernoulli:
    name = "bernoulli"

    @staticmethod
    def loglik_matrix(x, model):
        return np.stack([linalg.bernoulli_logpmf(x, p) for p in model["probabilities"]], axis=1)

    @staticmethod
    def summarize(model, resp, x):
        return {"probabilities": (resp * x[:, None]).sum(axis=0) / x.shape[0]}

    @staticmethod
    def scal(model, w):
        return {"probabilities": model["probabilities"] * w}

    @staticmethod
    def blend(old, new, a):
        return {"probabilities": (1 - a) * old["probabilities"] + a * new["probabilities"]}

    @staticmethod
    def inverse_scal(model, w):
        return {"probabilities": model["probabilities"] / w}

    @staticmethod
    def flat(params):
        return params["probabilities"]

    @staticmethod
    def from_struct(s):
        dists = s["distributions"] if isinstance(s, dict) else s.distributions
        weights = np.asarray(s["weights"] if isinstance(s, dict) else s.weights, dtype=np.float64)
        probs = np.asarray([d["probability"] if isinstance(d, dict) else d.probability for d in dists], dtype=np.float64)
        return weights, {"probabilities": probs}

    @staticmethod
    def prep_samples(cells):
        return np.asarray(cells, dtype=np.float64)

    @staticmethod
    def pack(params):
        return [[float(p)] for p in params["probabilities"]]

    @staticmethod
    def unpack(rows):
        return {"probabilities": np.asarray([r[0] for r in rows], dtype=np.float64)}


_FAMILIES = {"gaussian": _Gaussian, "poisson": _Poisson, "bernoulli": _Bernoulli}


def _mixture_fold_factory(c: dict):
    fam = _FAMILIES[c["family"]]
    layout = mixture_layout(c)

    def new_state(i, init_col):
        if init_col is not None and init_col[i] is not None:
            weights, params = fam.from_struct(init_col[i])
        else:
            weights, params = c["initialWeights"].copy(), {k: v.copy() for k, v in c["initialParams"].items()}
        # summary model starts as the weight-scaled mixture
        # (MixtureBase.scala:365-375 getInitialState -> weightedMixture)
        return {
            "idx": 0,
            "samples": [],
            "sweights": weights.copy(),
            "sparams": fam.scal(params, weights),
            "weights": weights,
            "params": params,
            "ll": -np.inf,
        }

    def fold(pdf: pd.DataFrame, state):
        nrows = len(pdf)
        key = pdf[STATE_KEY].iloc[0] if nrows else ""
        samples = pdf["sample"].values
        ev = pdf[EVENT_TIME].values if EVENT_TIME in pdf.columns else None
        mb_col = pdf["minibatchSize"].values if "minibatchSize" in pdf.columns else None
        ss_col = pdf["stepSize"].values if "stepSize" in pdf.columns else None
        uh_col = pdf["updateHoldout"].values if "updateHoldout" in pdf.columns else None
        init_col = pdf["initialMixtureModel"].values if "initialMixtureModel" in pdf.columns else None

        out = ([], [], [], [], [])  # stateIndex, w, p, eventTime, loglikelihood
        for i in range(nrows):
            if state is None:
                state = new_state(i, init_col)
            state["samples"].append(samples[i])
            mb = int(mb_col[i]) if mb_col is not None else c["minibatchSize"]
            if len(state["samples"]) < mb:
                continue

            x = fam.prep_samples(state["samples"])
            if c["decayRate"] is not None:
                alpha = float((2.0 + state["idx"]) ** (-c["decayRate"]))
            else:
                alpha = float(ss_col[i]) if ss_col is not None else c["stepSize"]

            # E-step: responsibilities via log-sum-exp on the CURRENT model
            ll_mat = fam.loglik_matrix(x, state["params"]) + np.log(state["weights"])[None, :]
            norm = linalg.logsumexp(ll_mat, axis=1)
            resp = np.exp(ll_mat - norm[:, None])

            # stochastic sufficient-stats blend (Distribution.scala:186-203)
            sw_new = resp.mean(axis=0)
            sp_new = fam.summarize(state["params"], resp, x)
            state["sweights"] = (1 - alpha) * state["sweights"] + alpha * sw_new
            state["sparams"] = fam.blend(state["sparams"], sp_new, alpha)

            holdout = int(uh_col[i]) if uh_col is not None else c["updateHoldout"]
            if state["idx"] >= holdout:
                state["weights"] = state["sweights"].copy()
                state["params"] = fam.inverse_scal(state["sparams"], state["sweights"])

            # loglikelihood of the NEW model on the minibatch
            ll_new = fam.loglik_matrix(x, state["params"]) + np.log(np.maximum(state["weights"], 1e-300))[None, :]
            state["ll"] = float(np.sum(linalg.logsumexp(ll_new, axis=1)))
            state["idx"] += 1
            state["samples"] = []

            emitted = (
                state["idx"],
                state["weights"],
                fam.flat(state["params"]),
                ev[i] if ev is not None else None,
                state["ll"],
            )
            for o, v in zip(out, emitted):
                o.append(v)

        o_idx, o_w, o_p, o_ev, o_ll = out
        rows = len(o_idx)
        frame = layout.frame(
            rows,
            stateKey=key,
            stateIndex=np.array(o_idx, dtype=np.int64),
            w=np.reshape(o_w, (rows, layout.blocks["w"])),
            p=np.reshape(o_p, (rows, layout.blocks["p"])),
            eventTime=o_ev,
            loglikelihood=np.array(o_ll, dtype=np.float64),
        )
        return frame, state

    return fold


def _model_struct_schema(family: str) -> StructType:
    """Public mixtureModel type; nullability as the JVM-side reassembly of
    the vectorized fold builds it, so every engine emits the same type."""
    if family == "gaussian":
        dist = GAUSSIAN_OUT
    elif family == "poisson":
        dist = StructType([StructField("rate", DoubleType())])
    else:
        dist = StructType([StructField("probability", DoubleType())])
    return StructType(
        [
            StructField("weights", ArrayType(DoubleType()), False),
            StructField("distributions", ArrayType(dist, False), False),
        ]
    )


class FiniteMixtureBase(StatefulTransformer):
    _family = "gaussian"

    _defaults = {
        "sampleCol": "sample",
        "stepSize": 0.01,
        "stepSizeCol": None,
        "decayRate": None,
        "minibatchSize": 1,
        "minibatchSizeCol": None,
        "updateHoldout": 0,
        "updateHoldoutCol": None,
        "initialWeights": None,
        "initialMixtureModelCol": None,
        "batchTrainEnabled": False,
        "batchTrainMaxIter": 30,
        "batchTrainTol": 0.1,
        # API-parity with the reference's setMixtureCount (validated against
        # the concrete initial params at transform time)
        "mixtureCount": None,
        # multi-key batched fold (operators/vectorized.py); batch mode only
        "vectorizedBatch": False,
        "vectorizedBuckets": None,
    }

    # -- subclass hooks -----------------------------------------------------

    def _initialParams(self) -> dict:
        raise NotImplementedError

    def _mixtureCount(self) -> int:
        raise NotImplementedError

    # -----------------------------------------------------------------------

    def _stateSchema(self):
        sample_t = ArrayType(DoubleType()) if self._family == "gaussian" else DoubleType()
        return StructType(
            [
                StructField("stateIndex", LongType()),
                StructField("samples", ArrayType(sample_t)),
                StructField("sweights", ArrayType(DoubleType())),
                StructField("sparams", ArrayType(ArrayType(DoubleType()))),
                StructField("weights", ArrayType(DoubleType())),
                StructField("params", ArrayType(ArrayType(DoubleType()))),
                StructField("loglikelihood", DoubleType()),
            ]
        )

    def _constants(self):
        k = self._mixtureCount()
        weights = self.get("initialWeights")
        weights = np.full(k, 1.0 / k) if weights is None else np.asarray(weights, dtype=np.float64)
        return {
            "family": self._family,
            "initialWeights": weights,
            "initialParams": self._initialParams(),
            "stepSize": float(self.get("stepSize")),
            "decayRate": None if self.get("decayRate") is None else float(self.get("decayRate")),
            "minibatchSize": int(self.get("minibatchSize")),
            "updateHoldout": int(self.get("updateHoldout")),
            "hasPerRowCols": any(
                self.get(p)
                for p in ("stepSizeCol", "minibatchSizeCol", "updateHoldoutCol", "initialMixtureModelCol")
            ),
        }

    def _inputCols(self, df):
        from artan_spark.functions import auto_array

        cast = {"poisson": "double", "bernoulli": "double"}.get(self._family)
        sample = auto_array(df, self.get("sampleCol"))
        cols = [("sample", sample.cast(cast) if cast else sample)]
        for name, param in (
            ("stepSize", "stepSizeCol"),
            ("minibatchSize", "minibatchSizeCol"),
            ("updateHoldout", "updateHoldoutCol"),
            ("initialMixtureModel", "initialMixtureModelCol"),
        ):
            if self.get(param):
                cols.append((name, F.col(self.get(param))))
        return cols

    def _foldFactory(self):
        return _mixture_fold_factory

    def _packStateFamily(self):
        return _FAMILIES[self._family]

    @classmethod
    def _mk_pack(cls):
        fam = _FAMILIES[cls._family]
        is_gauss = cls._family == "gaussian"

        def pack(state):
            samples = [list(map(float, s)) for s in state["samples"]] if is_gauss else [float(s) for s in state["samples"]]
            return (
                int(state["idx"]),
                samples,
                state["sweights"].tolist(),
                fam.pack(state["sparams"]),
                state["weights"].tolist(),
                fam.pack(state["params"]),
                float(state["ll"]),
            )

        def unpack(packed):
            idx, samples, sweights, sparams, weights, params, ll = packed
            return {
                "idx": int(idx),
                "samples": [np.asarray(s, dtype=np.float64) for s in samples] if is_gauss else list(samples),
                "sweights": np.asarray(sweights, dtype=np.float64),
                "sparams": fam.unpack(sparams),
                "weights": np.asarray(weights, dtype=np.float64),
                "params": fam.unpack(params),
                "ll": float(ll),
            }

        return pack, unpack

    def transform(self, df: DataFrame) -> DataFrame:
        self._packState, self._unpackState = self._mk_pack()
        if self.get("batchTrainEnabled") and not df.isStreaming:
            return self._batchEM(df)
        return super().transform(df)

    def _bucketedFold(self, c: dict, engine: str):
        """Key-bucketed multi-key batched stochastic-EM fold (vectorized.py)."""
        return vectorized_mixture_fold_factory if supports_vectorized_mixture(c) else None

    def _outSchema(self):
        return mixture_layout(self._constants()).schema

    def _shapeOutput(self, df: DataFrame) -> DataFrame:
        """Reassemble the public mixtureModel struct JVM-side from the flat
        weight and parameter blocks (a Catalyst projection instead of
        per-row Python structs, which at minibatch 1 — one model row per
        input row — dominated the query wall)."""
        c = self._constants()
        layout = mixture_layout(c)
        k = len(c["initialWeights"])
        p = layout.cols("p")
        if self._family == "gaussian":
            d = int(np.asarray(c["initialParams"]["means"]).shape[1])
            span = d + d * d
            dists = [
                gaussian(F.array(*p[j * span : j * span + d]), F.array(*p[j * span + d : (j + 1) * span]), d)
                for j in range(k)
            ]
        else:
            field = "rate" if self._family == "poisson" else "probability"
            dists = [F.struct(p[j].alias(field)) for j in range(k)]
        model = F.struct(layout.vec("w").alias("weights"), F.array(*dists).alias("distributions"))
        df = df.select(STATE_KEY, "stateIndex", model.alias("mixtureModel"), EVENT_TIME, "loglikelihood")
        return df if self.get("eventTimeCol") else df.drop(EVENT_TIME)

    def _batchEM(self, df: DataFrame) -> DataFrame:
        """Driver-side EM loop (MixtureBase.scala:257-316): minibatch = per-key
        count, iterate stateful pass -> argmax-by-stateIndex model -> rebind as
        initial model; localCheckpoint each iter; stop on sum(ll) delta < tol."""
        online = self.copy()
        online._set("batchTrainEnabled", False)
        online._set("updateHoldout", 0)
        online._set("decayRate", None)
        key_col = self.get("stateKeyCol")

        counts = (
            df.groupBy(F.col(key_col).cast("string").alias("__key__")).agg(F.count("*").alias("__mb__"))
            if key_col
            else df.groupBy(F.lit("0").alias("__key__")).agg(F.count("*").alias("__mb__"))
        )
        keyed = df.withColumn("__key__", F.col(key_col).cast("string") if key_col else F.lit("0"))
        samples = keyed.join(F.broadcast(counts), "__key__", "left").localCheckpoint()

        online._set("stateKeyCol", "__key__")
        online._set("minibatchSizeCol", "__mb__")

        def em_iter(in_df):
            res = online.transform(in_df)
            model_state = F.struct("stateIndex", "mixtureModel", "loglikelihood")
            return (
                res.withColumn("modelState", model_state)
                .groupBy(STATE_KEY)
                .agg(F.max("modelState").alias("modelState"))
                .select(
                    F.col(STATE_KEY).alias("__key__"),
                    F.col("modelState.mixtureModel").alias("__initModel__"),
                    F.col("modelState.loglikelihood").alias("loglikelihood"),
                )
            )

        online._set("initialMixtureModelCol", "__initModel__")
        model = em_iter(samples.withColumn("__initModel__", F.lit(None).cast(_model_struct_schema(self._family)))).localCheckpoint()
        ll = model.agg(F.sum("loglikelihood")).collect()[0][0] or float("-inf")
        max_iter, tol = int(self.get("batchTrainMaxIter")), float(self.get("batchTrainTol"))
        iteration, delta = 1, float("inf")
        while iteration < max_iter and delta > tol:
            joined = samples.join(F.broadcast(model.drop("loglikelihood")), "__key__")
            model = em_iter(joined).localCheckpoint()
            cur = model.agg(F.sum("loglikelihood")).collect()[0][0] or float("-inf")
            delta, ll = cur - ll, cur
            iteration += 1
        return model.select(
            F.col("__key__").alias(STATE_KEY),
            F.col("__initModel__").alias("mixtureModel"),
            F.col("loglikelihood"),
        )


class MultivariateGaussianMixture(FiniteMixtureBase):
    """Parity: .../mixture/MultivariateGaussianMixture.scala:38-150."""

    _family = "gaussian"
    _defaults = {"initialMeans": None, "initialCovariances": None}

    def _mixtureCount(self):
        return len(self.get("initialMeans"))

    def _initialParams(self):
        means = np.atleast_2d(np.asarray(self.get("initialMeans"), dtype=np.float64))
        k, d = means.shape
        covs_in = self.get("initialCovariances")
        covs = np.stack([np.asarray(cv, dtype=np.float64).reshape(d, d) for cv in covs_in])
        return {"means": means, "covs": covs}


class PoissonMixture(FiniteMixtureBase):
    """Parity: .../mixture/PoissonMixture.scala:37-151."""

    _family = "poisson"
    _defaults = {"initialRates": None}

    def _mixtureCount(self):
        return len(self.get("initialRates"))

    def _initialParams(self):
        return {"rates": np.asarray(self.get("initialRates"), dtype=np.float64)}


class BernoulliMixture(FiniteMixtureBase):
    """Parity: .../mixture/BernoulliMixture.scala:38-160."""

    _family = "bernoulli"
    _defaults = {"initialProbabilities": None}

    def _mixtureCount(self):
        return len(self.get("initialProbabilities"))

    def _initialParams(self):
        return {"probabilities": np.asarray(self.get("initialProbabilities"), dtype=np.float64)}
