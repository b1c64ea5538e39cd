"""Distributed MLP classifier (ml/mlp.py) + autotuning (ml/catalog.py).

Reference shape: ml/ml-algo/src/main/java/org/neo4j/gds/ml/models/mlp/
MLPClassifierTrainer.java (ReLU hidden layers, softmax + cross-entropy,
Adam) and pipeline/.../AutoTuningConfig.java + RandomSearch.java
(maxTrials sampled configs over {"range": [lo, hi]} params)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.ml import mlp
from graph_data_science_spark.ml.catalog import (
    ModelCatalog,
    PipelineCatalog,
    _expand_candidates,
)


def test_backward_matches_finite_differences():
    rng = np.random.default_rng(3)
    x = rng.normal(size=(12, 4))
    y = rng.integers(0, 3, size=12)
    ws = mlp._init_weights([4, 5, 3], rng)
    grads, _ = mlp._backward(x, y, ws, 3)
    flat_w = mlp._pack(ws)
    flat_g = mlp._pack(grads)
    shapes = [(w.shape, b.shape) for w, b in ws]
    eps = 1e-6
    idx = rng.choice(len(flat_w), size=10, replace=False)
    for i in idx:
        for sign, store in ((1, "hi"), (-1, "lo")):
            w2 = flat_w.copy()
            w2[i] += sign * eps
            _, loss = mlp._backward(x, y, mlp._unpack(w2, shapes), 3)
            if store == "hi":
                hi = loss
            else:
                lo = loss
        num = (hi - lo) / (2 * eps)
        assert abs(num - flat_g[i]) < 1e-4 * max(1.0, abs(num)), (
            f"grad mismatch at {i}: analytic {flat_g[i]} vs numeric {num}"
        )


def test_mlp_fits_xor(spark):
    """XOR is not linearly separable — a fitted MLP proves the hidden
    layer is doing real work (a logistic head caps at ~50% here)."""
    rows = []
    rng = np.random.default_rng(7)
    for i in range(400):
        a, b = rng.uniform(-1, 1), rng.uniform(-1, 1)
        rows.append(([float(a), float(b)], float((a > 0) != (b > 0))))
    df = spark.createDataFrame(rows, "features array<double>, y double")
    model = mlp.fit_mlp_classifier(
        df, num_classes=2, hidden_layer_sizes=(16,), epochs=300,
        learning_rate=0.05, seed=1,
    )
    assert model.loss_per_epoch[-1] < model.loss_per_epoch[0] * 0.5
    pred = df.select(F.col("y"), "features").mapInPandas(
        mlp.predict_expr(model),
        "y double, predicted_class long, probabilities array<double>",
    )
    acc = pred.agg(
        F.avg((F.col("predicted_class") == F.col("y").cast("long")).cast("double"))
    ).collect()[0][0]
    assert acc > 0.9, f"XOR accuracy {acc}"


def test_mlp_l2_penalizes_weights_not_biases(spark):
    """MLPClassifier's penaltyForBatch sums squared weights only. With
    all-zero features the weights never reach the logits, so the biases
    must train identically with and without L2."""
    rows = [([0.0, 0.0], float(i % 3 == 0)) for i in range(12)]
    df = spark.createDataFrame(rows, "features array<double>, y double")
    fits = [
        mlp.fit_mlp_classifier(
            df, num_classes=2, hidden_layer_sizes=(), epochs=5,
            learning_rate=0.1, l2_penalty=l2, tolerance=0.0,
        )
        for l2 in (0.0, 1.0)
    ]
    (w0, b0), = fits[0].weights
    (w1, b1), = fits[1].weights
    assert np.any(b0 != 0.0)
    np.testing.assert_array_equal(b0, b1)
    assert not np.array_equal(w0, w1)  # the weights still decay


def test_node_classification_mlp_family(spark):
    from graph_data_science_spark.ml.pipelines import node_classification_train

    rows = []
    for vid in range(200):
        label = vid % 2
        feat = [1.0 + label, 2.0 - label, float(vid % 3)]
        rows.append((vid, feat, label))
    nodes = spark.createDataFrame(
        rows, "vid long, features array<double>, label long"
    )
    model = node_classification_train(
        nodes, test_fraction=0.3, model_family="mlp",
        hidden_layer_sizes=(8,), epochs=150, learning_rate=0.05,
    )
    assert model.model.kind == "mlp_class"
    assert model.test_metric > 0.9
    preds = model.predict(nodes.select("vid", "features")).collect()
    assert len(preds) == 200


def test_expand_candidates_semantics():
    # no candidates -> logistic default
    assert _expand_candidates([], 10, 42) == [{"model_family": "logistic"}]
    # concrete only -> unchanged, no trial cap applied
    concrete = [{"model_family": "logistic"}, {"model_family": "mlp"}]
    assert _expand_candidates(concrete, 1, 42) == concrete
    # tunable -> exactly max_trials sampled, deterministic in seed
    tunable = [{
        "model_family": "logistic",
        "learning_rate": {"range": [0.01, 1.0]},
        "epochs": {"range": [10, 20]},
    }]
    a = _expand_candidates(tunable, 4, 42)
    b = _expand_candidates(tunable, 4, 42)
    assert a == b and len(a) == 4
    for t in a:
        assert 0.01 <= t["learning_rate"] <= 1.0
        assert isinstance(t["epochs"], int) and 10 <= t["epochs"] <= 20
    # different seed -> different samples (overwhelmingly)
    c = _expand_candidates(tunable, 4, 43)
    assert c != a
    # concrete + tunable -> concrete preserved ahead of the trials
    mixed = concrete + tunable
    out = _expand_candidates(mixed, 3, 42)
    assert out[:2] == concrete and len(out) == 5


def test_autotuned_pipeline_trains_and_records_trials(spark):
    from tests.test_pipeline_catalog import _two_cliques

    g = _two_cliques(spark)
    nodes = g.nodes.withColumn("cls", (F.col("vid") >= 100).cast("long"))
    from graph_data_science_spark.plans.graph import Graph

    g2 = Graph(nodes=nodes, edges=g.edges, orientation=g.orientation)
    cat, models = PipelineCatalog(), ModelCatalog()
    pipe = (
        cat.create_node_classification("nc-tuned")
        .add_node_property("degree")
        .add_logistic_regression(
            learning_rate={"range": [0.05, 0.5]}, epochs=40
        )
        .configure_auto_tuning(max_trials=2)
    )
    model = pipe.train(g2, label_col="cls", model_name="nc-tuned-model",
                       model_catalog=models)
    assert models.exists("nc-tuned-model")
    trials = model.candidate_metrics
    assert len(trials) == 2
    lrs = [t["config"]["learning_rate"] for t in trials]
    assert lrs[0] != lrs[1]
    assert all(0.05 <= lr <= 0.5 for lr in lrs)
