#!/usr/bin/env python3
"""Connector benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload kv_lookup --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout.  The run generates its inputs
from ``--seed``, builds private keyed stores under
``.perfbench_work/`` (set-up, timed three times), warms up, then issues
ops one after another for ``--seconds`` on ``local[<nproc>]`` and checks
every answer.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(see METRICS.md).  Everything else, Spark's own logging included, goes
to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def isolate(work_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python workers
    into the run's private directory."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" if " " not in v else f'--conf "{k}={v}"' for k, v in confs.items()
    ) + " pyspark-shell"


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(d))
    return out


def _descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        for c in _children(todo.pop()):
            seen.append(c)
            todo.append(c)
    return seen


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_spark(spark) -> None:
    """Stop the session, the JVM and every Python worker under it, and
    wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = _descendants(proc.pid) if proc else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any failure to exit ends in a kill
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 20
        for pid in procs + _descendants(os.getpid()):
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "spark_dynamodb_spark")):
        log(f"no spark_dynamodb_spark package under {ROOT}: nothing to benchmark")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2

    # Keep stdout for the result line only: whatever Spark, py4j or a
    # library prints goes to stderr from here on.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    base = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    isolate(work_dir)
    try:
        from perfbench.bench import Run

        run = Run(args, work_dir, os.path.join(base, "traces"))
        try:
            out = run.execute()
        finally:
            run.close(shutdown_spark)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    result_out.write(json.dumps(out) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
