"""Distributed MLP classifier — full-batch backprop partials.

Reference (specification, not implementation):
  ml/ml-algo/src/main/java/org/neo4j/gds/ml/models/mlp/
    MLPClassifier.java         (ReLU hidden layers, softmax output)
    MLPClassifierTrainer.java  (hiddenLayerSizes config, cross-entropy
                                loss, Adam optimizer)

Spark-first: the same protocol as logreg.fit — the (small) weight
stack ships to executors inside the mapInPandas closure each epoch,
every partition computes its LOCAL (gradient, loss, count) partial with
one numpy backprop pass over its rows, and the driver sums partials and
applies Adam. Driver traffic is O(partitions x params) per epoch,
independent of row count; features never leave the cluster. Gradients
are finite-difference-checked in tests/test_pipeline_catalog.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


@dataclass
class MLPModel:
    kind: str                        # "mlp_class"
    num_classes: int
    hidden_layer_sizes: tuple
    weights: list                    # [(W0, b0), (W1, b1), ...] np arrays
    loss_per_epoch: list[float] = field(default_factory=list)


def _init_weights(dims: list[int], rng: np.random.Generator) -> list:
    """He-normal init per layer; biases zero."""
    ws = []
    for i in range(len(dims) - 1):
        scale = np.sqrt(2.0 / dims[i])
        ws.append((rng.normal(scale=scale, size=(dims[i], dims[i + 1])),
                   np.zeros(dims[i + 1])))
    return ws


def _forward(x: np.ndarray, ws: list) -> tuple[list, np.ndarray]:
    """Returns (activations per layer incl. input, softmax probs)."""
    acts = [x]
    a = x
    for li, (w, b) in enumerate(ws):
        z = a @ w + b
        if li < len(ws) - 1:
            a = np.maximum(z, 0.0)          # ReLU hidden
            acts.append(a)
        else:
            z -= z.max(axis=1, keepdims=True)
            e = np.exp(z)
            p = e / e.sum(axis=1, keepdims=True)
    return acts, p


def _backward(x, y_int, ws, num_classes):
    """Cross-entropy gradient wrt every layer; returns (grads, loss)."""
    acts, p = _forward(x, ws)
    m = len(x)
    onehot = np.zeros_like(p)
    onehot[np.arange(m), y_int] = 1.0
    delta = p - onehot                       # (m, C)
    grads = [None] * len(ws)
    for li in range(len(ws) - 1, -1, -1):
        grads[li] = (acts[li].T @ delta, delta.sum(axis=0))
        if li > 0:
            delta = (delta @ ws[li][0].T) * (acts[li] > 0)
    loss = float(-np.sum(np.log(np.clip(p[np.arange(m), y_int], 1e-12, 1.0))))
    return grads, loss


def _pack(grads: list) -> np.ndarray:
    return np.concatenate([np.concatenate([w.ravel(), b.ravel()])
                           for w, b in grads])


def _unpack(flat: np.ndarray, shapes: list) -> list:
    out, off = [], 0
    for wshape, bshape in shapes:
        wn = int(np.prod(wshape))
        bn = int(np.prod(bshape))
        out.append((flat[off:off + wn].reshape(wshape),
                    flat[off + wn:off + wn + bn].reshape(bshape)))
        off += wn + bn
    return out


def fit_mlp_classifier(
    df: DataFrame,                   # (features array<double>, y double)
    num_classes: int,
    hidden_layer_sizes: tuple = (16,),
    epochs: int = 100,
    learning_rate: float = 0.01,
    l2_penalty: float = 0.0,
    tolerance: float = 1e-6,
    seed: int = 42,
) -> MLPModel:
    row = df.select("features").first()
    if row is None:
        raise ValueError("empty training set")
    d = len(row["features"])
    rng = np.random.default_rng(seed)
    dims = [d, *[int(h) for h in hidden_layer_sizes], num_classes]
    ws = _init_weights(dims, rng)
    shapes = [(w.shape, b.shape) for w, b in ws]
    # L2 penalizes weights only, never biases (MLPClassifier's
    # penaltyForBatch sums the squared weight matrices)
    l2_mask = _pack([(np.ones_like(w), np.zeros_like(b)) for w, b in ws])
    mom = np.zeros(sum(w.size + b.size for w, b in ws))
    vel = np.zeros_like(mom)
    b1, b2, eps = 0.9, 0.999, 1e-8
    losses: list[float] = []
    df = df.persist()
    df.count()
    flat_w = _pack(ws)
    nc = num_classes
    for t in range(1, epochs + 1):
        w_snapshot = flat_w.copy()

        def partial(iterator, _w=w_snapshot, _shapes=shapes, _nc=nc):
            lws = _unpack(_w, _shapes)
            g = np.zeros_like(_w)
            loss, m = 0.0, 0
            for pdf in iterator:
                if not len(pdf):
                    continue
                x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
                y = pdf["y"].to_numpy().astype(np.int64)
                grads, ls = _backward(x, y, lws, _nc)
                g += _pack(grads)
                loss += ls
                m += len(x)
            yield pd.DataFrame({"g": [g], "loss": [loss], "m": [m]})

        rows = df.mapInPandas(partial, "g array<double>, loss double, m long").collect()
        g = np.zeros_like(flat_w)
        loss, m = 0.0, 0
        for r in rows:
            g += np.asarray(r["g"])
            loss += r["loss"]
            m += int(r["m"])
        penalized = l2_mask * flat_w
        g = g / m + l2_penalty * penalized
        loss = loss / m + 0.5 * l2_penalty * float(penalized @ penalized)
        losses.append(loss)
        mom = b1 * mom + (1 - b1) * g
        vel = b2 * vel + (1 - b2) * g * g
        flat_w = flat_w - learning_rate * (mom / (1 - b1**t)) / (
            np.sqrt(vel / (1 - b2**t)) + eps)
        if len(losses) > 1 and abs(losses[-2] - losses[-1]) < tolerance:
            break
    df.unpersist()
    return MLPModel(kind="mlp_class", num_classes=num_classes,
                    hidden_layer_sizes=tuple(hidden_layer_sizes),
                    weights=_unpack(flat_w, shapes), loss_per_epoch=losses)


def predict_expr(model: MLPModel):
    """mapInPandas fn emitting predicted_class + probabilities (the same
    schema as the softmax/RF heads — pipelines dispatch uniformly)."""
    ws = [(w.copy(), b.copy()) for w, b in model.weights]

    def fn(iterator):
        for pdf in iterator:
            if not len(pdf):
                continue
            x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
            _, p = _forward(x, ws)
            out = pdf.drop(columns=["features"])
            out["predicted_class"] = p.argmax(axis=1).astype("int64")
            out["probabilities"] = list(p)
            yield out

    return fn
