"""M3/M4 real-library branches (train/models.py gradient_boosting) exercised
via import stubs: the sandbox lacks xgboost.spark / SynapseML, so without
stubs these param-mapping branches are import-gated dead code. A fake module
exposing the constructor surface is injected into sys.modules, and the tests
assert the reference's LightGBM knobs (training-config.yml:176-181 —
num_leaves, min_child_samples, scale_pos_weight, learning_rate, subsample)
land on the estimator under their native names per branch."""

from __future__ import annotations

import sys
import types

import pytest

from end_to_end_ml_spark.train import models


class _Recorder:
    """Stands in for an estimator class: records constructor kwargs."""

    def __init__(self, **kw):
        self.kw = kw


@pytest.fixture
def xgb_stub(monkeypatch):
    mod = types.ModuleType("xgboost")
    spark_mod = types.ModuleType("xgboost.spark")

    class SparkXGBClassifier(_Recorder):
        pass

    spark_mod.SparkXGBClassifier = SparkXGBClassifier
    mod.spark = spark_mod
    monkeypatch.setitem(sys.modules, "xgboost", mod)
    monkeypatch.setitem(sys.modules, "xgboost.spark", spark_mod)
    return SparkXGBClassifier


@pytest.fixture
def lgbm_stub(monkeypatch):
    synapse = types.ModuleType("synapse")
    ml = types.ModuleType("synapse.ml")
    lgbm = types.ModuleType("synapse.ml.lightgbm")

    class LightGBMClassifier(_Recorder):
        pass

    lgbm.LightGBMClassifier = LightGBMClassifier
    ml.lightgbm = lgbm
    synapse.ml = ml
    monkeypatch.setitem(sys.modules, "synapse", synapse)
    monkeypatch.setitem(sys.modules, "synapse.ml", ml)
    monkeypatch.setitem(sys.modules, "synapse.ml.lightgbm", lgbm)
    return LightGBMClassifier


def test_xgboost_branch_maps_reference_params(xgb_stub):
    est = models.gradient_boosting(
        n_estimators=200,
        max_depth=7,
        learning_rate=0.05,
        subsample=0.8,
        num_leaves=31,
        scale_pos_weight=3.5,
    )
    assert isinstance(est, xgb_stub)
    assert est.kw["n_estimators"] == 200
    assert est.kw["max_depth"] == 7
    assert est.kw["learning_rate"] == 0.05
    assert est.kw["subsample"] == 0.8
    assert est.kw["max_leaves"] == 31  # xgboost's name for num_leaves
    assert est.kw["scale_pos_weight"] == 3.5  # native knob, no weightCol
    assert "weightCol" not in est.kw
    assert est.kw["features_col"] == "features"
    assert est.kw["label_col"] == "label"


def test_xgboost_branch_omits_unset_optionals(xgb_stub):
    est = models.gradient_boosting()
    assert isinstance(est, xgb_stub)
    assert "max_leaves" not in est.kw
    assert "scale_pos_weight" not in est.kw


def test_lightgbm_branch_maps_reference_params(lgbm_stub):
    est = models.gradient_boosting(
        n_estimators=150,
        max_depth=6,
        learning_rate=0.1,
        subsample=0.9,
        min_child_samples=20,
        num_leaves=64,
        scale_pos_weight=2.0,
    )
    assert isinstance(est, lgbm_stub)
    assert est.kw["numIterations"] == 150
    assert est.kw["maxDepth"] == 6
    assert est.kw["learningRate"] == 0.1
    assert est.kw["baggingFraction"] == 0.9
    assert est.kw["minDataInLeaf"] == 20  # LightGBM's min_child_samples
    assert est.kw["numLeaves"] == 64
    # LightGBM-on-Spark has no scale_pos_weight: the ratio rides a
    # caller-built weight column
    assert est.kw["weightCol"] == "class_weight_spw"


def test_xgboost_preferred_over_lightgbm_when_both_present(xgb_stub, lgbm_stub):
    est = models.gradient_boosting()
    assert isinstance(est, xgb_stub)


def test_fallback_gbt_when_neither_installed(spark):
    # spark fixture: MLlib Params need a live SparkContext to instantiate
    from pyspark.ml.classification import GBTClassifier

    est = models.gradient_boosting(
        n_estimators=50,
        max_depth=10,
        num_leaves=31,
        min_child_samples=15,
        scale_pos_weight=4.0,
    )
    assert isinstance(est, GBTClassifier)
    assert est.getMaxIter() == 50
    # num_leaves=31 caps depth at ceil(log2(31)) = 5 (a depth-d tree has
    # at most 2^d leaves)
    assert est.getMaxDepth() == 5
    assert est.getMinInstancesPerNode() == 15
    assert est.getWeightCol() == "class_weight_spw"
