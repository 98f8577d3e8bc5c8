"""Workload definitions: query pools, the seeded sample, and the
``svm_train`` pipeline's op list.

The query pool is frozen in ``pool.json``: each query key with its
module and a warm cost estimate at the benchmark's data size, plus the
cost of each direct operator call.  A later change that adds or removes
registered queries cannot silently change what the workload runs: a
pooled key that disappears fails the run.
"""

from __future__ import annotations

import json
import os

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
POOL_FILE = os.path.join(HERE, "pool.json")

WORKLOADS = ("svm_train", "sql_analytics")

# sql_analytics: the query modules it samples and the queries per pass.
SQL_MODULES = ("relational", "joins", "aggregates", "windows", "scalars", "analytics", "graph")
SQL_SAMPLE_SIZE = 10
# Queries above this warm cost estimate (about twice that in a timed
# pass) stay out of the sample: one of them alone would set a pass's p90
# and make it swing from seed to seed by more than its bound.  bench.py's
# full sweep still runs them.
MAX_QUERY_COST_S = 1.0
# Queries whose result differs from their DuckDB oracle on generated
# catalogs (the repository's fixture tables do not show it).  They stay
# out of the sample so that every op the workload runs passes its check;
# the mismatch is the program's to fix, not the benchmark's to hide, so
# each entry names what it shows.
ORACLE_MISMATCH = {
    "agg_skew_kurtosis": "excess_kurtosis differs in the last digits (10 of 18 catalogs)",
    "ts_ewma_irregular": "an EWMA differs from the 3rd digit, 2.5327 vs 2.5166 (seed 2001)",
}

# svm_train: mixture size, solver budgets, kernel-map sizes.
SVM_ROWS = 10_000
SVM_DIM = 64
SVM_CLASSES = 10
SVM_MULTICLASS_ITERS = 8
SVM_LINEAR_MAX_ITER = 5
SVM_POWER_ITERS = 6
SVM_LANDMARKS = 200
SVM_RFF_DIM = 256
SVM_GAMMA = 1.0 / 300.0

# The operators called directly in sql_analytics, in pass order.
OPERATOR_OPS = (
    "band_join", "asof_join", "salted_groupby", "bucketed_join", "connected_components",
)


def load_pool() -> dict[str, dict]:
    with open(POOL_FILE) as fh:
        return json.load(fh)


def allocate(sizes: dict[str, int], n: int) -> dict[str, int]:
    """Split ``n`` picks over strata proportionally to their sizes, at
    least one each (largest-remainder rounding, ties by name)."""
    if n < len(sizes):
        raise ValueError(f"sample of {n} cannot cover {len(sizes)} modules")
    total = sum(sizes.values())
    base = {m: 1 for m in sizes}
    spare = n - len(sizes)
    quota = {m: spare * s / total for m, s in sizes.items()}
    for m in sizes:
        base[m] += int(quota[m])
    left = n - sum(base.values())
    order = sorted(sizes, key=lambda m: (-(quota[m] - int(quota[m])), m))
    for m in order[:left]:
        base[m] += 1
    return base


def _strata(queries: dict[str, dict]) -> list[list[str]]:
    """Module x cost strata: each module gets a share of the sample
    proportional to its pool size; its keys, ordered by estimated cost,
    are cut into that many contiguous strata."""
    by_module = {
        m: [
            k
            for c, k in sorted((v["cost_s"], k) for k, v in queries.items() if v["module"] == m)
            if c <= MAX_QUERY_COST_S and k not in ORACLE_MISMATCH
        ]
        for m in SQL_MODULES
    }
    picks = allocate({m: len(v) for m, v in by_module.items()}, SQL_SAMPLE_SIZE)
    return [
        [by_module[m][i] for i in idx]
        for m in SQL_MODULES
        for idx in np.array_split(np.arange(len(by_module[m])), picks[m])
    ]


def _profile(costs: list[float]) -> np.ndarray:
    return np.array([sum(costs), np.percentile(costs, 50), np.percentile(costs, 90)])


# Accepted distance of a pass's estimated (total, p50, p90) op cost from
# the typical pass's, as a share of the latter.
BALANCE_TOLERANCE = np.array([0.02, 0.03, 0.05])


# Strata whose key a seed redraws; the rest keep the core sample's key.
SEEDED_STRATA = 2


def sample_queries(seed: int, pool: dict | None = None) -> list[str]:
    """Seeded, module-stratified, cost-balanced sample of the sql_analytics pool.

    One key is drawn from each module x cost stratum (``_strata``).  A
    draw is kept only when the pass it makes (the drawn queries plus the
    fixed operator calls) has an estimated total, median and p90 op cost
    within ``BALANCE_TOLERANCE`` of the typical pass's (balanced
    sampling).  The first balanced draw of a fixed generator is the core
    sample; a seed redraws the keys of ``SEEDED_STRATA`` strata, chosen
    by the seed, until the pass is balanced again.  Every seed thus runs
    different queries with the same module mix and nearly the same cost
    profile.  Redrawing only part of the sample keeps the per-seed spread
    of the timings within their bounds: with all strata redrawn, each
    query's own deviation from its estimate moved op_p90_s by ~0.23 of
    its median across ten seeds, and with three redrawn op_p50_s still
    spread by ~0.12.
    """
    pool = load_pool() if pool is None else pool
    queries = pool["queries"]
    fixed = list(pool["operators"].values())
    strata = _strata(queries)

    def profile(keys: list[str]) -> np.ndarray:
        return _profile([queries[k]["cost_s"] for k in keys] + fixed)

    def balanced(rng: np.random.Generator, base: list[str], redraw: list[int]) -> list[str]:
        for _ in range(100_000):
            keys = list(base)
            for i in redraw:
                keys[i] = strata[i][int(rng.integers(len(strata[i])))]
            if np.all(np.abs(profile(keys) - target) <= BALANCE_TOLERANCE * target):
                return keys
        raise RuntimeError(f"no balanced sql_analytics sample for seed {seed}")

    typical_rng = np.random.default_rng(0)
    everything = list(range(len(strata)))
    target = np.median(
        [profile([s[int(typical_rng.integers(len(s)))] for s in strata]) for _ in range(500)],
        axis=0,
    )
    core = balanced(typical_rng, [s[0] for s in strata], everything)
    rng = np.random.default_rng([seed, 3])
    redraw = sorted(int(i) for i in rng.choice(len(strata), SEEDED_STRATA, replace=False))
    keys = balanced(rng, core, redraw)
    return [keys[i] for i in rng.permutation(len(keys))]
