"""Benchmark entry point.

    python3 perfbench/run.py --workload light_sf0.01 --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. Pins the engine's
environment, runs one workload in a fresh worker process with one
SparkSession on the fixture tables in ``perfbench/data``, and prints
that process's JSON result as the last line.
With ``--trace 1`` the spans are written to ``.perfbench/traces``.
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
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKER_TIMEOUT_S = 170
HEAP, YOUNG = "3g", "768m"


def pinned_env(tmp: str) -> dict[str, str]:
    """The engine's own variables, pinned for a 4-vCPU host: no more
    Spark threads than CPUs, scratch and spill inside this run's
    directory, and a driver heap that leaves the host room."""
    env = dict(os.environ)
    cpus = min(os.cpu_count() or 1, 4)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "SPARK_GRAFT_SCRATCH_ROOT": os.path.join(tmp, "scratch"),
            "TMPDIR": tmp,
            "PYTHONPATH": ROOT,
            "PYTHONHASHSEED": "0",
            # A fixed heap and young generation: G1's adaptive sizing
            # otherwise moved the JVM's peak RSS by 30% between runs of
            # the same queries. No perf-data file in /tmp.
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.driver.extraJavaOptions="
                f"'-Xms{HEAP} -Xmn{YOUNG} -XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )
    env.pop("SPARK_GRAFT_CACHE", None)
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    env.pop("OMP_NUM_THREADS", None)
    return env


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "security_master_spark", "session.py")):
        print("perfbench: security_master_spark not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.makedirs(STATE, exist_ok=True)
    tmp = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "spark-local"))
    log_path = os.path.join(STATE, f"{args.workload}.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tmp", tmp,
    ]
    try:
        with open(log_path, "w") as log:
            t0 = time.time()
            proc = subprocess.Popen(
                cmd + ["--t0", repr(t0)], cwd=tmp, env=pinned_env(tmp),
                stdout=subprocess.PIPE, stderr=log, text=True,
                start_new_session=True,
            )
            for sig in (signal.SIGTERM, signal.SIGINT):
                signal.signal(sig, lambda *_: (_kill_group(proc), sys.exit(130)))
            try:
                out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                _kill_group(proc)
                print(f"perfbench: worker timed out; see {log_path}", file=sys.stderr)
                return 3
            _kill_group(proc)  # the JVM and Python workers it left, if any
        lines = [ln for ln in out.splitlines() if ln.strip()]
        for ln in lines[:-1]:
            print(ln)
        if proc.returncode != 0 or not lines:
            print(f"perfbench: worker exited {proc.returncode}; see {log_path}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        if args.trace:
            traces = os.path.join(STATE, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(
                os.path.join(tmp, "trace.json"),
                os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop every process of the worker's session (its JVM and Python
    workers included) and wait until all of them have ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main())
