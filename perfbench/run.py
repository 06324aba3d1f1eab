"""Benchmark entry point.

    python3 perfbench/run.py --workload {bulk_load,live_collection,query_mix}
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout.  Starts ONE driver process
(``perfbench.bench``) in its own process group with a fresh work
directory under ``.perfbench/``: its own ``TMPDIR`` (which also moves the
package's model store), ``SPARK_LOCAL_DIRS``, checkpoint and collection
directories.  Waits for every process of the group to end, removes the
work directory, and prints the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 1`` the metrics are the per-layer ones; spans and counters
are written to ``.perfbench/traces/``.  Exits non-zero, printing no
result, when the checkout lacks the package or the run fails.
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

ROOT = os.getcwd()
RUN_TIMEOUT_S = 160
DRIVER_MEM = "2g"


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _reap_group(pgid: int, wait_s: float) -> None:
    """Wait ``wait_s`` for every process of the group to end, then
    terminate, then kill, the stragglers, waiting after each signal."""
    for sig, grace in ((None, wait_s), (signal.SIGTERM, 5.0),
                       (signal.SIGKILL, 5.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.time() + grace
        while _group_alive(pgid):
            if time.time() >= deadline:
                break
            time.sleep(0.05)
        else:
            return


class _Stopped(Exception):
    pass


def _stop(signum, frame):
    raise _Stopped(signal.Signals(signum).name)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("bulk_load", "live_collection", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(
            ROOT, "arangodb_java_parquet_spark", "__init__.py")):
        print("perfbench: run from the root of a source checkout "
              "(arangodb_java_parquet_spark/ not found)", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "spark-local"))
    out = os.path.join(work, "result.json")
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ,
               TMPDIR=tmp,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_CPUS=cpus,
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join(
                   [ROOT] + [p for p in os.environ.get(
                       "PYTHONPATH", "").split(os.pathsep) if p]),
               # twice the JIT compiler threads the JVM picks for 4 CPUs:
               # the untimed warm-up then drains the compile queue, which
               # otherwise ran on at ~1.5 cores into the timed phase
               JAVA_TOOL_OPTIONS=(f"-XX:-UsePerfData -XX:CICompilerCount=6"
                                  f" -Djava.io.tmpdir={tmp}"),
               # a fixed, pre-touched driver heap: the resident set then
               # reflects the program's off-heap and Python memory, not
               # when the garbage collector chose to grow the heap
               PYSPARK_SUBMIT_ARGS=(f'--driver-java-options "-Xms{DRIVER_MEM}'
                                    f' -XX:+AlwaysPreTouch" pyspark-shell'),
               PYTHONDONTWRITEBYTECODE="1")
    env.pop("OMP_NUM_THREADS", None)
    cmd = [sys.executable, "-m", "perfbench.bench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    # a terminated benchmark still ends the driver process group it started
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except (subprocess.TimeoutExpired, _Stopped) as e:
        print(f"perfbench: run stopped ({e or 'timeout'})", file=sys.stderr)
        code = -1
        proc.kill()
        proc.wait()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
    _reap_group(proc.pid, wait_s=0.0 if code == -1 else 10.0)
    result = None
    if code == 0 and os.path.isfile(out):
        with open(out) as f:
            result = json.load(f)
        spans = os.path.join(work, "spans.json")
        if os.path.isfile(spans):
            traces = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(spans, os.path.join(
                traces, f"{args.workload}-seed{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"perfbench: driver exited with code {code}", file=sys.stderr)
        return 1
    info = result.pop("info")
    print(json.dumps(info, sort_keys=True))
    lat = info["op_s"]
    print(f"wall time per operation: p50 {lat['p50']:.4f} s, "
          f"p{lat['tail_pct']} {lat['tail']:.4f} s of {lat['n']} samples; "
          f"{info['ops_per_min']:.1f} operations/min")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
