"""Classifier train / predict / evaluate implementations.

Training has two modes (op.mode):

* ``driver`` — collect the masked (X, y) to the driver and fit locally
  (probe-training data is small by construction; this is the reference's
  model, ``probe_implementations.py:123-182``). Uses sklearn when installed,
  else a deterministic numpy logistic regression.
* ``spark`` — fit distributed with ``pyspark.ml`` (the 100-TB path).

Prediction is a broadcast-model Arrow-batched pandas UDF over the vector
column (the idiomatic Spark "score every row" pattern). Evaluation groups by
split with ``applyInPandas`` so each split's metrics are computed with full
numpy exactness while splits parallelize across the cluster
(``probe_implementations.py:205-322``)."""

from __future__ import annotations

from typing import Any, Callable, Optional

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.metrics import evaluate_split
from ..operators.classifier_ops import (
    ClassifierEvaluationOp,
    ClassifierPredictOp,
    TrainClassifierOp,
)
from .plan import ArtifactPlan, ColumnPlan
from .spark_runner import SparkRunner

# ---------------------------------------------------------------------- #
# Classifier model registry (parity: probe_implementations.py:29-120)     #
# ---------------------------------------------------------------------- #

_CLASSIFIER_REGISTRY: dict[str, Callable[[int], Any]] = {}

#: The reference's full model-name surface (probe_implementations.py:63-120).
#: With sklearn installed every name is registered; the dependency-free
#: fallback branch registers the numpy subset.
ALL_CLASSIFIER_MODELS = (
    "logistic_regression",
    "linear_svc",
    "passive_aggressive",
    "rbf_nusvm",
    "rbf_svc",
    "calibrated_rbf_nusvm",
    "sgd",
    "sgd_nystroem",
    "sgd_nystroem_one_class_svm",
    "random_forest",
    "naive_bayes",
)


def register_classifier_model(name: str):
    def decorator(factory: Callable[[int], Any]):
        if name in _CLASSIFIER_REGISTRY:
            raise ValueError(f"Classifier model {name!r} already registered")
        _CLASSIFIER_REGISTRY[name] = factory
        return factory

    return decorator


def classifier_model(name: str, random_state: int) -> Any:
    try:
        factory = _CLASSIFIER_REGISTRY[name]
    except KeyError:
        raise ValueError(
            f"Unknown classifier model {name!r}; registered: "
            f"{sorted(_CLASSIFIER_REGISTRY)}"
        )
    return factory(random_state)


class NumpyLogisticRegression:
    """Deterministic L2-regularized logistic regression (full-batch gradient
    descent with backtracking step size). Dependency-free stand-in for
    sklearn's LogisticRegression when sklearn is unavailable."""

    def __init__(self, l2: float = 1.0, max_iter: int = 500, tol: float = 1e-8):
        self.l2 = l2
        self.max_iter = max_iter
        self.tol = tol
        self.coef_: Optional[np.ndarray] = None
        self.intercept_: float = 0.0

    def fit(self, X: np.ndarray, y: np.ndarray) -> "NumpyLogisticRegression":
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        n, d = X.shape
        w = np.zeros(d + 1)
        Xb = np.hstack([X, np.ones((n, 1))])
        reg = np.ones(d + 1) * self.l2 / max(n, 1)
        reg[-1] = 0.0  # don't regularize the intercept
        lr = 1.0
        prev_loss = np.inf
        for _ in range(self.max_iter):
            z = Xb @ w
            p = 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
            grad = Xb.T @ (p - y) / n + reg * w
            loss = (
                -np.mean(y * np.log(p + 1e-12) + (1 - y) * np.log(1 - p + 1e-12))
                + 0.5 * np.sum(reg * w * w)
            )
            if abs(prev_loss - loss) < self.tol:
                break
            # Backtracking line search keeps the solver stable without tuning.
            step = lr
            for _bt in range(30):
                w_new = w - step * grad
                z_new = Xb @ w_new
                p_new = 1.0 / (1.0 + np.exp(-np.clip(z_new, -35, 35)))
                loss_new = (
                    -np.mean(
                        y * np.log(p_new + 1e-12) + (1 - y) * np.log(1 - p_new + 1e-12)
                    )
                    + 0.5 * np.sum(reg * w_new * w_new)
                )
                if loss_new <= loss:
                    break
                step *= 0.5
            w = w - step * grad
            prev_loss = loss
        self.coef_ = w[:-1]
        self.intercept_ = float(w[-1])
        return self

    def decision_function(self, X: np.ndarray) -> np.ndarray:
        return np.asarray(X, dtype=np.float64) @ self.coef_ + self.intercept_

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        z = np.clip(self.decision_function(X), -35, 35)
        p = 1.0 / (1.0 + np.exp(-z))
        return np.stack([1 - p, p], axis=1)


class NearestCentroid:
    """Distance-to-centroid score: trivially distributable, no iterations."""

    def __init__(self):
        self.mu_pos: Optional[np.ndarray] = None
        self.mu_neg: Optional[np.ndarray] = None

    def fit(self, X: np.ndarray, y: np.ndarray) -> "NearestCentroid":
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=bool)
        self.mu_pos = X[y].mean(axis=0)
        self.mu_neg = X[~y].mean(axis=0)
        return self

    def decision_function(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        d_neg = np.linalg.norm(X - self.mu_neg, axis=1)
        d_pos = np.linalg.norm(X - self.mu_pos, axis=1)
        return d_neg - d_pos


try:  # Prefer sklearn's estimators when the library is installed.
    import sklearn.linear_model  # noqa: F401
    import sklearn.svm  # noqa: F401
    from sklearn.ensemble import RandomForestClassifier
    from sklearn.linear_model import (
        LogisticRegression,
        PassiveAggressiveClassifier,
        SGDClassifier,
    )
    from sklearn.naive_bayes import GaussianNB
    from sklearn.svm import SVC, LinearSVC, NuSVC

    @register_classifier_model("logistic_regression")
    def _lr(random_state: int):
        return LogisticRegression(random_state=random_state, max_iter=1000)

    @register_classifier_model("linear_svc")
    def _lsvc(random_state: int):
        return LinearSVC(random_state=random_state)

    @register_classifier_model("passive_aggressive")
    def _pa(random_state: int):
        return PassiveAggressiveClassifier(random_state=random_state)

    @register_classifier_model("rbf_svc")
    def _rbf(random_state: int):
        return SVC(kernel="rbf", probability=False, random_state=random_state)

    @register_classifier_model("rbf_nusvm")
    def _nusvm(random_state: int):
        return NuSVC(kernel="rbf", random_state=random_state)

    @register_classifier_model("sgd")
    def _sgd(random_state: int):
        return SGDClassifier(random_state=random_state)

    @register_classifier_model("random_forest")
    def _rf(random_state: int):
        return RandomForestClassifier(random_state=random_state)

    @register_classifier_model("naive_bayes")
    def _nb(random_state: int):
        return GaussianNB()

    from sklearn.calibration import CalibratedClassifierCV
    from sklearn.kernel_approximation import Nystroem
    from sklearn.linear_model import SGDOneClassSVM
    from sklearn.pipeline import make_pipeline

    @register_classifier_model("calibrated_rbf_nusvm")
    def _cal_nusvm(random_state: int):
        # Parity: probe_implementations.py:90-96.
        return CalibratedClassifierCV(
            NuSVC(kernel="rbf", random_state=random_state)
        )

    @register_classifier_model("sgd_nystroem")
    def _sgd_nystroem(random_state: int):
        # Parity: probe_implementations.py:102-107.
        return make_pipeline(
            Nystroem(random_state=random_state),
            SGDClassifier(random_state=random_state),
        )

    @register_classifier_model("sgd_nystroem_one_class_svm")
    def _sgd_nystroem_ocsvm(random_state: int):
        # Parity: probe_implementations.py:109-114.
        return make_pipeline(
            Nystroem(random_state=random_state),
            SGDOneClassSVM(random_state=random_state),
        )

except ImportError:  # dependency-free fallbacks

    @register_classifier_model("logistic_regression")
    def _np_lr(random_state: int):
        return NumpyLogisticRegression()

    @register_classifier_model("nearest_centroid")
    def _np_centroid(random_state: int):
        return NearestCentroid()


# ---------------------------------------------------------------------- #
# Preprocessing                                                            #
# ---------------------------------------------------------------------- #


class _Standardizer:
    def fit(self, X):
        self.mean = X.mean(axis=0)
        self.std = np.where(X.std(axis=0) == 0, 1.0, X.std(axis=0))
        return self

    def transform(self, X):
        return (X - self.mean) / self.std


class _Normalizer:
    def fit(self, X):
        return self

    def transform(self, X):
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        return X / np.where(norms == 0, 1.0, norms)


class TrainedProbe:
    """Persisted artifact: preprocessing + fitted model."""

    def __init__(self, model, preprocessor=None):
        self.model = model
        self.preprocessor = preprocessor

    def scores(self, X: np.ndarray) -> np.ndarray:
        if self.preprocessor is not None:
            X = self.preprocessor.transform(X)
        model = self.model
        # Reference behavior (probe_implementations.py:185-202): the decision
        # function wins whenever the estimator exposes one.
        if hasattr(model, "decision_function"):
            return np.asarray(model.decision_function(X), dtype=np.float64)
        if hasattr(model, "predict_proba"):
            return np.asarray(model.predict_proba(X)[:, 1], dtype=np.float64)
        raise TypeError(f"Model {type(model).__name__} exposes no scoring method")


# ---------------------------------------------------------------------- #
# Column alignment                                                         #
# ---------------------------------------------------------------------- #


def _aligned(runner: SparkRunner, **ops) -> tuple[DataFrame, dict[str, Column]]:
    """One frame holding the given column ops (``None`` ones skipped) row
    by row, through the runner's aligner; rows are the first op's."""
    ops = {k: v for k, v in ops.items() if v is not None}
    df, exprs = runner.align_columns(*(runner.column_plan(v) for v in ops.values()))
    return df, dict(zip(ops, exprs))


# ---------------------------------------------------------------------- #
# Implementations                                                         #
# ---------------------------------------------------------------------- #


@SparkRunner.implementation
def train_classifier(runner: SparkRunner, op: TrainClassifierOp) -> ArtifactPlan:
    df, c = _aligned(
        runner, x=op.x, pos=op.positives, neg=op.negatives, dom=op.train_domain
    )
    pos = c["pos"]
    neg = c.get("neg", ~pos)

    # The default negatives are ~pos, which cannot overlap: no job.
    if "neg" in c and df.filter(pos & neg).limit(1).count():
        raise ValueError("positives and negatives overlap")

    selected = df.filter((pos | neg) & c.get("dom", F.lit(True))).select(
        c["x"].alias("__x"), pos.alias("__y")
    )

    if op.mode == "spark":
        return _train_spark_ml(runner, op, selected)

    pdf = selected.toPandas()
    if pdf.empty:
        raise ValueError("No training rows selected (empty positives+negatives)")
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__x"]])
    y = pdf["__y"].to_numpy(dtype=bool)
    if not y.any():
        raise ValueError("No positive training examples")
    if y.all():
        raise ValueError("No negative training examples")

    preprocessor = None
    if op.preprocessing == "standardize":
        preprocessor = _Standardizer().fit(X)
        X = preprocessor.transform(X)
    elif op.preprocessing == "normalize":
        preprocessor = _Normalizer().fit(X)
        X = preprocessor.transform(X)

    model = classifier_model(op.model_type, op.random_state)
    model.fit(X, y)
    return ArtifactPlan(payload=TrainedProbe(model, preprocessor), kind="pickle")


def _train_spark_ml(runner: SparkRunner, op: TrainClassifierOp, selected):
    """Distributed fit with pyspark.ml — the path that survives 100 TB.

    ``op.preprocessing`` is honored (it is part of the op's content-addressed
    identity, so silently skipping it would cache a wrong artifact):
    standardize fits a distributed ``StandardScaler`` whose mean/std are then
    carried into the persisted :class:`TrainedProbe` so prediction applies
    the identical transform; normalize is stateless L2 row scaling.
    ``op.random_state`` needs no plumbing here — Spark ML's LBFGS logistic
    regression is deterministic."""
    from pyspark.ml.classification import LogisticRegression as MLLogisticRegression
    from pyspark.ml.feature import Normalizer as MLNormalizer
    from pyspark.ml.feature import StandardScaler as MLStandardScaler
    from pyspark.ml.functions import array_to_vector

    if op.model_type != "logistic_regression":
        raise ValueError(
            f"mode='spark' currently supports logistic_regression, got {op.model_type!r}"
        )

    train_df = selected.select(
        array_to_vector(F.col("__x").cast("array<double>")).alias("features"),
        F.col("__y").cast("double").alias("label"),
    )

    preprocessor = None
    fit_col = "features"
    if op.preprocessing == "standardize":
        scaler = MLStandardScaler(
            withMean=True, withStd=True, inputCol="features", outputCol="__scaled"
        ).fit(train_df)
        train_df = scaler.transform(train_df)
        fit_col = "__scaled"
        preprocessor = _Standardizer()
        preprocessor.mean = np.array(scaler.mean.toArray())
        # Spark's scaler divides by the sample std; reuse ITS values so the
        # persisted predict-side transform is bit-identical to training.
        std = np.array(scaler.std.toArray())
        preprocessor.std = np.where(std == 0, 1.0, std)
    elif op.preprocessing == "normalize":
        train_df = MLNormalizer(
            p=2.0, inputCol="features", outputCol="__scaled"
        ).transform(train_df)
        fit_col = "__scaled"
        preprocessor = _Normalizer()
    elif op.preprocessing not in (None, "none"):
        raise ValueError(
            f"mode='spark' does not support preprocessing={op.preprocessing!r}"
        )

    ml_model = MLLogisticRegression(maxIter=100, featuresCol=fit_col).fit(train_df)
    coef = np.array(ml_model.coefficients.toArray())
    intercept = float(ml_model.intercept)
    probe = NumpyLogisticRegression()
    probe.coef_, probe.intercept_ = coef, intercept
    return ArtifactPlan(payload=TrainedProbe(probe, preprocessor), kind="pickle")


@SparkRunner.implementation
def classifier_predict(runner: SparkRunner, op: ClassifierPredictOp) -> ColumnPlan:
    probe = runner.to_model(op.classifier)
    x = runner.column_plan(op.input_data)

    @F.pandas_udf(T.DoubleType())
    def score(vectors: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vectors])
        return pd.Series(probe.scores(X))

    return x.derive(score(x.expr.cast("array<double>")))


@SparkRunner.implementation
def classifier_evaluate(runner: SparkRunner, op: ClassifierEvaluationOp) -> ArtifactPlan:
    df, c = _aligned(
        runner,
        x=op.scores,
        pos=op.gt_positives,
        neg=op.gt_negatives,
        dom=op.predict_domain,
        split=op.split,
    )
    pos = c["pos"]
    neg = c.get("neg", ~pos)
    eligible = df.filter(c.get("dom", F.lit(True)) & (pos | neg)).select(
        c["x"].cast("double").alias("score"),
        pos.alias("label"),
        c.get("split", F.lit("all")).alias("split"),
    )

    threshold = op.threshold

    def metrics_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        import json

        report = evaluate_split(
            pdf["score"].to_numpy(dtype=np.float64),
            pdf["label"].to_numpy(dtype=bool),
            threshold,
        )
        return pd.DataFrame(
            {"split": [pdf["split"].iloc[0]], "report": [json.dumps(report)]}
        )

    rows = (
        eligible.groupBy("split")
        .applyInPandas(metrics_fn, schema="split string, report string")
        .collect()
    )
    import json

    payload = {row["split"]: json.loads(row["report"]) for row in rows}
    return ArtifactPlan(payload=payload, kind="json")
