"""Benchmark entry point.

    python3 perfbench/run.py --workload <kg_build|rules_small|rules_recursive>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Makes the workload's inputs from the seed,
runs the workload in its own worker process (one Spark session on
``local[<cores>]``), and prints as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it holds the run's details (op latencies, error rate, host steal
ticks). Everything a run writes goes under ``.perfbench_run/`` in the
repository root and is removed when the run ends, except a traced run's
spans, kept as ``.perfbench_run/spans/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("kg_build", "rules_small", "rules_recursive")
DRIVER_MEMORY = "2g"  # small enough for a shared 15 GB machine
WORKER_TIMEOUT_S = 150  # leaves time to clean up within 180 s


def end_to_end(r: dict) -> dict:
    lat = r["op_s"]
    return {
        "setup_s": {"value": r["setup_s"], "unit": "s"},
        "ops_per_s": {"value": len(lat) / sum(lat), "unit": "1/s"},
        "op_s_p50": {"value": statistics.median(lat), "unit": "s"},
        "py_peak_rss_mb": {"value": r["py_peak_rss_mb"], "unit": "MB"},
        "jvm_peak_rss_mb": {"value": r["jvm_peak_rss_mb"], "unit": "MB"},
    }


def tail(lat: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it, if any."""
    n = len(lat)
    if n < 11:
        return None
    pct = 100.0 * (n - 10) / n
    return {"percentile": pct, "value": sorted(lat)[n - 11], "samples": n}


def make_inputs(workload: str, seed: int, trace: bool, run_dir: str) -> dict:
    inputs: dict = {}
    if workload == "kg_build" or trace:
        n = gen.KG_TURNS if workload == "kg_build" else gen.KG_COMPANION_TURNS
        kg_dir = os.path.join(run_dir, "kg")
        os.makedirs(kg_dir)
        inputs["kg"] = {"dir": kg_dir, "turns": n, "expected": gen.write_kg_corpus(seed, n, kg_dir)}
    if workload == "rules_small":
        inputs["rules_small"] = gen.write_rules_small(seed, run_dir)
    if workload == "rules_recursive":
        inputs["rules_recursive"] = gen.write_rules_recursive(seed, run_dir)
    return inputs


def _group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes in a process group."""
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        if fields[0] != "Z" and int(fields[2]) == pgid:
            out.append(int(stat.split("/")[2]))
    return out


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left in the worker's process group (the worker, the
    JVM, Python workers) and wait until all of it has exited."""
    deadline = time.time() + 30
    while True:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        if not _group_members(proc.pid):
            return
        if time.time() > deadline:
            raise RuntimeError(f"process group {proc.pid} did not exit")
        time.sleep(0.1)


def _interrupted(signum, frame):
    raise KeyboardInterrupt(f"signal {signum}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    signal.signal(signal.SIGTERM, _interrupted)
    if not os.path.isfile(os.path.join(ROOT, "nemo_spark", "__init__.py")):
        print(f"perfbench: no nemo_spark package in {ROOT}; run from a checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        inputs = make_inputs(args.workload, args.seed, bool(args.trace), run_dir)
        with open(os.path.join(run_dir, "inputs.json"), "w") as f:
            json.dump(inputs, f)
        env = dict(os.environ)
        env.update(
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            PYSPARK_PYTHON=sys.executable,
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
            TMPDIR=tmp,
        )
        env.pop("SPARK_GRAFT_MASTER", None)
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload,
            "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--run-dir", run_dir,
        ]
        spawned = time.time()
        inputs_s = spawned - started
        proc = subprocess.Popen(
            cmd + ["--spawned-at", repr(spawned)],
            cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("perfbench: worker timed out", file=sys.stderr)
            code = None
        finally:
            # also on SIGTERM/SIGINT (raised as exceptions below): the worker
            # runs in its own session, so nothing else would stop it
            stop_group(proc)
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            r = json.load(f)
        if args.trace:
            keep = os.path.join(ROOT, ".perfbench_run", "spans")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.json"), os.path.join(keep, f"{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lat = r["op_s"]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "loop": "closed, 1 client",
        "cores": r["cores"],
        "ops": len(lat),
        "op_s": lat,
        "error_rate": r["failed"] / r["attempted"],
        "op_s_tail": tail(lat) or "omitted: fewer than 11 ops",
        "session_start_s": r["session_start_s"],
        "warmup_s": r["warmup_s"],
        "inputs_s": inputs_s,
        "stop_s": r["stop_s"],
        "steal_ticks": r["steal_ticks"],
    }
    if args.trace:
        detail["python_metrics_in_log"] = r.get("python_metrics_in_log")
    print(json.dumps({"detail": detail}))
    metrics = r.get("layers", {}) if args.trace else end_to_end(r)
    correct = r["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
