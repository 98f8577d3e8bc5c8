"""Simultaneous multiclass linear SVM (SURVEY.md A10, multiclass case).

MLlib's ``OneVsRest(LinearSVC)`` trains k independent models, so a
k-class problem costs k full training runs over the data — at 100 TB
that is k× the scan volume, and on any cluster it is k× the scheduler
load (measured here: 10-class OvR at sf0.1 is ~12 s of mostly job
overhead).  This trainer instead optimizes all k one-vs-rest hinge
losses together, as one resident-shard AllReduce solve
(``psvm_spark.ml.allreduce``):

  - every rank loads its shard once (float64 rows plus the ±1 label
    matrix) and keeps it for the whole solve;
  - each round the driver sends W (k × d) to every rank, and every rank
    returns its partial sub-gradient for ALL classes, computed with two
    NumPy GEMMs per Arrow batch (scores = X Wᵀ,
    grad = -(Y∘1[margin<1])ᵀ X), plus its row count;
  - the driver sums the k×d partials and takes a deterministic
    gradient step (fixed learning rate + L2) — the same per-rank
    partial + AllReduce shape as the reference's IPM steps
    [psvm:pd_ipm.cc — SURVEY.md A10; file:line unavailable, §0.1].

The data is read once per solve, communication is k·d + 1 doubles per
rank per round (~5 KB here), and the whole solve is ONE Spark job (one
barrier stage) regardless of class count or iteration count.  No RNG
anywhere: W starts at zero, and the partials are summed in partition-id
order, so the result is bit-reproducible for a given partitioning.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from psvm_spark.ml import allreduce


def train_multiclass_hinge(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    n_classes: int,
    dim: int,
    n_iter: int = 8,
    lr: float = 0.5,
    reg: float = 1e-3,
) -> np.ndarray:
    """Full-batch sub-gradient descent on k simultaneous OvR hinge
    losses; returns W (k × d).  One Spark job for all iterations."""
    k = n_classes
    if n_iter <= 0:
        return np.zeros((k, dim))
    rows = allreduce.vector_loader()

    # Self-contained closures: executors can't import psvm_spark.
    def load(batch):
        import numpy as _np

        X = rows(batch)
        lab = batch.column(1).to_numpy(zero_copy_only=False).astype(_np.int64)
        Y = -_np.ones((len(X), k))
        Y[_np.arange(len(X)), lab] = 1.0
        return X, Y

    def partial(blocks, w):
        import numpy as _np

        Wv = w.reshape(k, -1)
        G = _np.zeros(Wv.shape)
        n = 0
        for X, Y in blocks:
            margins = Y * (X @ Wv.T)
            viol = (margins < 1.0).astype(_np.float64)
            G -= (Y * viol).T @ X
            n += len(X)
        return _np.append(G.ravel(), n)

    def solve(hub):
        W = np.zeros((k, dim))
        for _ in range(n_iter):
            g = hub(W)
            n = g[-1]
            if n == 0:
                break
            W -= lr * (g[:-1].reshape(k, dim) / n + reg * W)
        return W

    return allreduce.run(
        df.select(F.col(vec_col).alias("x"), F.col(label_col).alias("y")),
        load, partial, k * dim + 1, solve,
    )


def eval_multiclass(
    df: DataFrame, vec_col: str, label_col: str, W: np.ndarray
) -> DataFrame:
    """argmax_c w_c·x accuracy in one distributed pass."""
    import pandas as pd

    spark = df.sparkSession
    bW = spark.sparkContext.broadcast(np.asarray(W, dtype=np.float64))

    def score(batches):
        import numpy as _np

        correct = 0
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.stack(pdf["x"].to_numpy()).astype(_np.float64)
            pred = _np.argmax(X @ bW.value.T, axis=1)
            correct += int((pred == pdf["y"].to_numpy()).sum())
            n += len(X)
        yield pd.DataFrame({"correct": [correct], "n": [n]})

    parts = (
        df.select(F.col(vec_col).alias("x"), F.col(label_col).alias("y"))
        .mapInPandas(score, "correct long, n long")
    )
    return parts.agg(
        F.sum("correct").alias("n_correct"),
        F.sum("n").alias("n_test"),
        (F.sum("correct") / F.sum("n")).alias("accuracy"),
    )
