"""Benchmark entry point.

    python3 perfbench/run.py --workload svm_train --seed 1 --seconds 12 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed, sizes Spark to the machine, runs one worker process (``worker.py``)
and prints every metric by name and unit; the last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 1`` prints the per-layer metrics instead, from a
traced worker whose overhead is measured against an untraced run of the
same workload (``cached_untraced``).  Exits 1 when an output check fails
and 2 when the run could not complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads as W  # noqa: E402

WORKER_TIMEOUT_S = 170
WORK_DIR = ".perfbench_work"


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of physical memory, at most 2 GiB (the program's own
    16g default exceeds small machines)."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1024, min(2048, kb // 1024 // 4))}m"


def worker_env(run_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("OMP_NUM_THREADS", None)
    if trace:
        # The event log is switched on from outside the program.
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        env["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false "
            "pyspark-shell"
        )
    else:
        env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def stop_group(pgid: int) -> None:
    """Terminate every process left in the worker's session and wait
    until none remains."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_worker(root: str, args, data_dir: str, run_dir: str, trace: bool) -> dict | None:
    out = os.path.join(run_dir, "traced" if trace else "untraced")
    os.makedirs(out, exist_ok=True)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(int(trace)),
        "--data", data_dir, "--out", out, "--cpus", str(cpus()),
    ]
    env = worker_env(out, trace)
    log_path = os.path.join(out, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"worker timed out after {WORKER_TIMEOUT_S}s", file=sys.stderr)
        finally:
            stop_group(proc.pid)
            proc.wait()
    result_path = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        print(f"worker exited {proc.returncode}; log tail:\n{tail}", file=sys.stderr)
        return None
    with open(result_path) as fh:
        return json.load(fh)


def cached_untraced(cache_dir: str, args) -> dict | None:
    """The untraced result to measure tracing overhead against: this
    seed's, else the one with the median wall time among this workload's
    earlier untraced runs of the same length in this checkout."""
    if not os.path.isdir(cache_dir):
        return None
    prefix = f"{args.workload}-"
    suffix = f"-{args.seconds:g}.json"
    runs = {}
    for f in os.listdir(cache_dir):
        if f.startswith(prefix) and f.endswith(suffix):
            with open(os.path.join(cache_dir, f)) as fh:
                runs[f] = json.load(fh)
    same = f"{prefix}{args.seed}{suffix}"
    if same in runs:
        return runs[same]
    if not runs:
        return None
    ordered = sorted(runs.values(), key=lambda r: r["end_to_end"]["wall_s"])
    return ordered[len(ordered) // 2]


def make_inputs(workload: str, seed: int, data_dir: str) -> None:
    if workload == "svm_train":
        datagen.make_svm(data_dir, seed, W.SVM_ROWS)
    else:
        datagen.make_catalog(data_dir, seed)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "psvm_spark", "__init__.py")):
        print("psvm_spark/ not found: run from the repository root", file=sys.stderr)
        return 2
    spec = load_spec(root)
    work = os.path.join(root, WORK_DIR)
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    try:
        make_inputs(args.workload, args.seed, data_dir)
        cache_dir = os.path.join(work, "untraced")
        base = None
        if args.trace:
            base = cached_untraced(cache_dir, args)
        if base is None:
            base = run_worker(root, args, data_dir, run_dir, trace=False)
            if base is None:
                return 2
            os.makedirs(cache_dir, exist_ok=True)
            path = os.path.join(cache_dir, f"{args.workload}-{args.seed}-{args.seconds:g}.json")
            with open(path, "w") as fh:
                json.dump(base, fh)
        result = base
        if args.trace:
            result = run_worker(root, args, data_dir, run_dir, trace=True)
            if result is None:
                return 2
            layers = result["per_layer"]
            layers["trace.overhead_s"] = layers["trace.wall_s"] - base["end_to_end"]["wall_s"]
            traces = os.path.join(work, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(
                os.path.join(run_dir, "traced", "trace.json"),
                os.path.join(traces, f"{args.workload}-{args.seed}.json"),
            )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    env = result["env"]
    print(f"# workload={args.workload} seed={args.seed} cpus={env['cpus']} "
          f"driver_mem={env['driver_mem']} pyspark={env['pyspark']} java={env['java']} "
          f"numpy={env['numpy']}")
    print(f"# ops per pass: {' '.join(env['ops'])}")
    for msg in result["failures"]:
        print(f"# FAILED: {msg}")
    if args.trace:
        wanted = spec["per_layer"]
        values = result["per_layer"]
    else:
        wanted = spec["end_to_end"]
        values = result["end_to_end"]
        for k, v in result["extra"].items():
            print(f"{k} {v:.6g}")
    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"{m['name']} {values[m['name']]:.6g} {m['unit']}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
