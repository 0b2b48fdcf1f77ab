"""Spark-mode (pyspark.ml) classifier training parity with driver mode.

The op's content-addressed identity includes ``preprocessing``, so spark
mode must actually apply it (and persist the fitted transform for the
predict path) — silently training on raw features would cache a wrong
artifact under the preprocessed op's UUID.
"""

import random

import numpy as np
import pytest
from conftest import jobs_during


@pytest.fixture()
def sep_ds(lazy_runner):
    """Linearly separable data with wildly different feature scales, so a
    missing standardization is detectable."""
    rng = random.Random(11)
    vecs, labels = [], []
    for _ in range(200):
        y = rng.random() < 0.5
        # feature 0 is tiny-scale & informative; feature 1 is huge-scale noise
        vecs.append(
            [0.001 * (1 if y else -1) + rng.gauss(0, 0.0002), rng.gauss(0, 1000.0)]
        )
        labels.append("pos" if y else "neg")
    return lazy_runner, lazy_runner.from_inline_dataset(
        {"v": vecs, "label": labels}
    )


def _auc(scores, labels):
    pos = [s for s, y in zip(scores, labels) if y == "pos"]
    neg = [s for s, y in zip(scores, labels) if y == "neg"]
    wins = sum((p > n) + 0.5 * (p == n) for p in pos for n in neg)
    return wins / (len(pos) * len(neg))


@pytest.mark.parametrize("preprocessing", ["none", "standardize", "normalize"])
def test_spark_mode_trains_and_scores(sep_ds, preprocessing):
    runner, ds = sep_ds
    x = ds.col_vector("v")
    pos = ds.col_categorical("label").is_in({"pos"})
    clf = x.train_classifier(
        positives=pos,
        model_type="logistic_regression",
        mode="spark",
        preprocessing=preprocessing,
    )
    scores = runner.to_pandas(clf.predict(x))["value"].tolist()
    labels = runner.to_pandas(ds.col_categorical("label"))["label"].tolist()
    auc = _auc(scores, labels)
    if preprocessing == "standardize":
        # Standardized, the informative tiny-scale feature dominates.
        assert auc > 0.95, auc
    else:
        assert auc > 0.5, auc  # trained at all


def test_spark_standardize_persists_fitted_scaler(sep_ds):
    runner, ds = sep_ds
    x = ds.col_vector("v")
    pos = ds.col_categorical("label").is_in({"pos"})
    clf = x.train_classifier(
        positives=pos,
        model_type="logistic_regression",
        mode="spark",
        preprocessing="standardize",
    )
    probe = runner.to_model(clf)
    assert probe.preprocessor is not None
    vecs = np.stack(runner.to_pandas(x)["v"].to_numpy())
    # Spark's StandardScaler uses the sample std (ddof=1).
    np.testing.assert_allclose(probe.preprocessor.mean, vecs.mean(axis=0), rtol=1e-9)
    np.testing.assert_allclose(
        probe.preprocessor.std, vecs.std(axis=0, ddof=1), rtol=1e-9
    )


def test_spark_mode_unsupported_model_rejected(sep_ds):
    runner, ds = sep_ds
    x = ds.col_vector("v")
    pos = ds.col_categorical("label").is_in({"pos"})
    clf = x.train_classifier(positives=pos, model_type="random_forest", mode="spark")
    with pytest.raises(ValueError, match="supports logistic_regression"):
        runner.to_model(clf)


def test_registry_covers_reference_surface():
    from krnel_graph_spark.runners.classifier_impl import (
        ALL_CLASSIFIER_MODELS,
        _CLASSIFIER_REGISTRY,
    )

    assert len(ALL_CLASSIFIER_MODELS) == 11  # the reference's 11 names
    try:
        import sklearn  # noqa: F401

        # With sklearn installed every reference model must be registered.
        assert set(ALL_CLASSIFIER_MODELS) <= set(_CLASSIFIER_REGISTRY)
    except ImportError:
        # Dependency-free branch: the numpy subset only.
        assert set(_CLASSIFIER_REGISTRY) == {
            "logistic_regression",
            "nearest_centroid",
        }


def test_overlapping_explicit_negatives_rejected(sep_ds):
    runner, ds = sep_ds
    label = ds.col_categorical("label")
    clf = ds.col_vector("v").train_classifier(
        positives=label.is_in({"pos"}),
        negatives=label.is_in({"pos", "neg"}),
        model_type="logistic_regression",
    )
    with pytest.raises(ValueError, match="overlap"):
        runner.to_model(clf)


def test_default_negatives_skip_the_overlap_job(sep_ds):
    """Default negatives are the complement of the positives, which
    cannot overlap them: the overlap check runs only for explicit
    negatives."""
    runner, ds = sep_ds
    x = ds.col_vector("v")
    label = ds.col_categorical("label")
    pos = label.is_in({"pos"})
    default = x.train_classifier(positives=pos, model_type="logistic_regression")
    explicit = x.train_classifier(
        positives=pos,
        negatives=label.is_in({"neg"}),
        model_type="logistic_regression",
    )
    runner.plan(x)  # lower the shared inputs outside the counts
    runner.plan(pos)
    jobs_default = jobs_during(runner.spark, lambda: runner.to_model(default))
    jobs_explicit = jobs_during(runner.spark, lambda: runner.to_model(explicit))
    assert jobs_explicit == jobs_default + 1


def _odd_rows(runner, n_odd):
    """Labels from another dataset, masked to its first ``n_odd`` odd
    rows: ids 1, 3, 5, ... — not contiguous, not the vectors' ids."""
    other = runner.from_inline_dataset(
        {"k": [str(i) for i in range(16)], "y": [i >= 8 for i in range(16)]}
    )
    keep = {str(i) for i in range(1, 2 * n_odd, 2)}
    return other.mask_rows(other.col_categorical("k").is_in(keep))


def test_cross_dataset_labels_pair_by_position(lazy_runner):
    """Vectors of one 8-row dataset and labels of another 8-row dataset
    combine row by row, like every other positional op; joining on row
    ids would keep the 4 shared ids only (all negatives)."""
    runner = lazy_runner
    x = runner.from_inline_dataset({"v": [[float(i), 1.0] for i in range(8)]})
    x = x.col_vector("v")
    labels = _odd_rows(runner, 8).col_boolean("y")
    clf = x.train_classifier(positives=labels, model_type="logistic_regression")
    report = runner.to_json(clf.predict(x).evaluate(gt_positives=labels))["all"]
    assert (report["count"], report["n_true"]) == (8, 4)
    assert report["roc_auc"] == 1.0

    short = _odd_rows(runner, 6).col_boolean("y")
    with pytest.raises(ValueError, match="length"):
        runner.to_model(
            x.train_classifier(positives=short, model_type="logistic_regression")
        )
    with pytest.raises(ValueError, match="length"):
        runner.to_json(clf.predict(x).evaluate(gt_positives=short))
