"""Rebuild ``pool.json``: the frozen sql_analytics pool and its cost estimates.

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_DRIVER_MEM=3g python3 perfbench/calibrate.py

Run from the repository root.  Generates the catalog for seed 0 and
sweeps every registered query of the ``sql_analytics`` modules,
materialized to the noop sink, and every direct operator call twice:
the first sweep warms them up, the second times them.  As in a timed
pass, each op runs once after its own warm-up with other ops in
between.  The sampler uses the costs to order keys within a module and
to balance a pass's cost profile, so estimates from any quiet machine
serve.  A query that fails here is left out of the pool and reported.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import datagen  # noqa: E402
import workloads as W  # noqa: E402
from worker import OperatorCalls, hygiene, materialize  # noqa: E402


def main() -> int:
    from psvm_spark import registry
    from psvm_spark.session import get_spark

    spark = get_spark("perfbench_calibrate")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    modules = set(W.SQL_MODULES)
    queries: dict[str, dict] = {}
    operators: dict[str, float] = {}

    with tempfile.TemporaryDirectory(prefix="perfbench_cal_") as sf_dir:
        datagen.make_catalog(sf_dir, 0)
        calls = OperatorCalls(spark, sf_dir)
        ops = {
            key: (lambda fn=fn: materialize(fn(spark, sf_dir)))
            for key, fn in sorted(registry.QUERIES.items())
            if fn.__module__.rsplit(".", 1)[1] in modules
        }
        ops.update({name: (lambda name=name: calls(name)) for name in W.OPERATOR_OPS})
        costs: dict[str, float] = {}
        for sweep in range(2):
            for key, op in ops.items():
                if sweep and key not in costs:
                    continue
                t = time.perf_counter()
                try:
                    op()
                except Exception as ex:  # noqa: BLE001 - report, keep calibrating
                    print(f"left out {key}: {type(ex).__name__}", file=sys.stderr)
                    costs.pop(key, None)
                    continue
                costs[key] = round(time.perf_counter() - t, 3)
                hygiene(spark)
    for key, cost in costs.items():
        if key in W.OPERATOR_OPS:
            operators[key] = cost
        else:
            queries[key] = {"module": registry.QUERIES[key].__module__.rsplit(".", 1)[1],
                            "cost_s": cost}
    pool = {"queries": queries, "operators": operators}
    with open(W.POOL_FILE, "w") as fh:
        json.dump(pool, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(queries)} queries written to {W.POOL_FILE}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
