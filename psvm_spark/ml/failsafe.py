"""Failsafe checkpointing for driver-coordinated iterative solvers
(SURVEY.md A18 — psvm's ``-failsafe`` flag periodically persists IPM
state so training resumes after a machine failure).

Spark already gives task/stage-level recovery through lineage, and the
resident-shard AllReduce (``psvm_spark.ml.allreduce``) survives a rank
failure by relaunching its barrier stage and resending the iterate;
what neither gives is recovery of the *driver-side* iterate when the
driver itself dies (psvm's alpha/lambda/xi; here the eigenvector
estimate).  ``FailsafeState`` persists that iterate atomically every k
iterations; ``power_iteration`` is the demonstrator — a genuinely
distributed iterative algorithm (each step is one pass over the
resident shards + a per-dimension AllReduce, the same shape as an
IPM/OWLQN step), run as one Spark job per solve, that resumes mid-run
and produces the identical result (tests/test_ml.py).  The driver saves
the checkpoint from the hub loop, inside that one job.
"""

from __future__ import annotations

import json
import os
import tempfile

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from psvm_spark.ml import allreduce


class FailsafeState:
    """Atomic save/load of a named bundle of numpy arrays + step counter."""

    def __init__(self, ckpt_dir: str):
        self.dir = ckpt_dir
        os.makedirs(ckpt_dir, exist_ok=True)

    def save(self, step: int, arrays: dict[str, np.ndarray]) -> None:
        tmp = tempfile.NamedTemporaryFile(dir=self.dir, suffix=".tmp", delete=False)
        np.savez(tmp, **arrays)
        tmp.close()
        os.replace(tmp.name, os.path.join(self.dir, f"state_{step:08d}.npz"))
        meta_tmp = os.path.join(self.dir, "latest.json.tmp")
        with open(meta_tmp, "w") as f:
            json.dump({"step": step}, f)
        os.replace(meta_tmp, os.path.join(self.dir, "latest.json"))

    def load_latest(self) -> tuple[int, dict[str, np.ndarray]] | None:
        meta = os.path.join(self.dir, "latest.json")
        if not os.path.exists(meta):
            return None
        step = json.load(open(meta))["step"]
        with np.load(os.path.join(self.dir, f"state_{step:08d}.npz")) as z:
            return step, {k: z[k] for k in z.files}


def power_iteration(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_iter: int = 10,
    state: FailsafeState | None = None,
    checkpoint_every: int = 3,
) -> tuple[np.ndarray, float]:
    """Top eigenvector/eigenvalue of X^T X by power iteration, resumable.

    Returns (unit eigenvector, Rayleigh quotient).  With ``state`` set,
    restarting after any crash re-enters at the last checkpointed
    iteration and yields the identical result (deterministic start, no
    RNG).  All iterations run in one Spark job; a run that has nothing
    left to do starts none and returns (v, 0.0).
    """
    start = 0
    v = np.ones(dim) / np.sqrt(dim)
    if state is not None:
        restored = state.load_latest()
        if restored is not None:
            start, arrays = restored
            v = arrays["v"]
    if start >= n_iter:
        return v, 0.0

    # Self-contained closure: executors can't import psvm_spark.
    def partial(blocks, x):
        import numpy as _np

        acc = _np.zeros(len(x))
        for X in blocks:
            acc += X.T @ (X @ x)
        return acc

    def solve(hub):
        v_it, lam = v, 0.0
        for it in range(start, n_iter):
            w = hub(v_it)  # X^T (X v): per-rank partials, AllReduced
            lam = float(v_it @ w)
            nrm = float(np.linalg.norm(w))
            if nrm == 0.0:
                break
            v_it = w / nrm
            if state is not None and (it + 1) % checkpoint_every == 0:
                state.save(it + 1, {"v": v_it})
        return v_it, lam

    return allreduce.run(
        df.select(F.col(vec_col).alias("x")), allreduce.vector_loader(), partial, dim, solve
    )
