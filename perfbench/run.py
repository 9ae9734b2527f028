#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload relational --seed 7 --seconds 1 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json):
relational, llm_pipeline, mapreduce_prefix, stream_replay.

This process generates the seed's inputs (cached under .bench_work/),
then starts the measured process (worker.py) with `local[4]`, waits for
it, stops everything it left running and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, measured with
tracing off; with --trace 1 they are the per-layer ones from a traced
pass, run between two untraced passes of the same seed that give the
tracing overhead.
Span records of a traced run go to .bench_work/traces/.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("relational", "llm_pipeline", "mapreduce_prefix", "stream_replay")
DEADLINE_S = 160  # the worker's budget; stopping adds at most 15 s
MARK = "PERFBENCH_RUN"  # inherited by every process a run starts
NEEDED = ("BENCHMARK.json", "spark_graft/__init__.py", "scripts/gen_testdata.py", "tests/compare.py")


def main() -> int:
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a spark-graft checkout (missing {', '.join(missing)})", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".bench_work")
    seed_dir = inputs.ensure(os.path.join(work, "inputs"), a.seed, ROOT)

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    run_dir = os.path.join(work, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    result_path = os.path.join(run_dir, "result.json")
    # the program's own SPARK_GRAFT_* settings stay at their defaults,
    # except the core count
    env = dict(
        {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")},
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        SPARK_GRAFT_CPUS="4",
        **{MARK: run_id},
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join([
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    )
    args = {
        "workload": a.workload, "inputs": seed_dir, "work": run_dir, "seconds": a.seconds,
        "trace": a.trace, "run_id": run_id, "result": result_path,
        "trace_dir": os.path.join(work, "traces"), "spawn_time": time.time(),
    }
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(args)],
        cwd=run_dir, env=env, stdout=sys.stderr.fileno(),
    )
    try:
        rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        stop_all(proc, run_id)
    if rc != 0 or not os.path.exists(result_path):
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"perfbench: measured process {why}; no result", file=sys.stderr)
        return 1
    with open(result_path) as fh:
        res = json.load(fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    return report(a, spec, res)


def report(a, spec: dict, res: dict) -> int:
    for err in res["errors"]:
        print(f"FAILED {err}", file=sys.stderr)
    values = res["layers"] if a.trace else res["e2e"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 1
    print("# op latencies (s): " + " ".join(f"{n}={t:.3f}" for n, t in res["op_times"]), file=sys.stderr)
    print("# phases (s): " + " ".join(f"{k}={v:.2f}" for k, v in res["phases"].items()), file=sys.stderr)
    print(
        f"# {a.workload} seed={a.seed} passes={res['passes']} ops={res['n_ops']} "
        f"failed_ratio={res['failed']}/{res['attempted']} "
        f"(op_p90_s not reported: needs at least 100 ops, run has {res['n_ops']})"
    )
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


def stop_all(proc: subprocess.Popen, run_id: str) -> None:
    """Stop the measured process and everything it started, and wait
    until all have ended. They are found by the MARK variable each one
    inherits: the JVM, and the Python worker daemon, which moves itself
    to a process group of its own."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in marked(run_id) if sig else ():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        deadline = time.time() + 5
        while time.time() < deadline:
            if proc.poll() is not None and not marked(run_id):
                return
            time.sleep(0.05)
    proc.wait()


def marked(run_id: str) -> list[int]:
    """Live processes whose environment carries MARK=run_id."""
    tag = f"{MARK}={run_id}".encode()
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/environ", "rb") as fh:
                    if tag in fh.read().split(b"\0"):
                        out.append(int(entry))
            except OSError:
                continue
    return out


if __name__ == "__main__":
    sys.exit(main())
