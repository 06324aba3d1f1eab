"""One benchmark run inside one driver process (started by ``run.py``,
which owns the process tree, the environment and the work directory).

Flow: ``SETUP_ROUNDS`` set-up rounds, each starting a Spark session,
generating the inputs from the seed into a fresh directory and warming
the workload's path up (``setup_s`` is their median); the workload's
untimed preparation (the oracle pass of ``query_mix``); the timed phase;
the untimed output checks.  With ``--trace 1`` an untraced phase runs
first and a traced phase after it, so the per-layer numbers come with
the tracing overhead measured on the same inputs.

Writes the result JSON to ``--out``; ``run.py`` prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import time

from perfbench.tracing import (
    Tracer, footprint_mb, peak_rss_mb, steal_s, summarize)

SETUP_ROUNDS = 3


def make_workload(name: str, seed: int, work: str, seconds: float,
                  trace: bool):
    if name == "bulk_load":
        from perfbench.bulk_load import BulkLoad
        return BulkLoad(seed, work)
    if name == "live_collection":
        from perfbench.live_collection import LiveCollection
        return LiveCollection(seed, work, seconds, 2 if trace else 1)
    if name == "query_mix":
        from perfbench.query_mix import QueryMix
        return QueryMix(seed, work)
    raise SystemExit(f"unknown workload {name!r}")


def host_probe() -> dict:
    """Seconds a fixed Python loop takes, and the CPU time stolen from this
    machine so far: recorded at both ends of a run to tell a slow host
    from a slow program when runs disagree."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    loop_s = time.perf_counter() - t0
    return {"cpu_loop_s": loop_s, "steal_s": steal_s()}


def setup(wl, work: str, tracer: Tracer):
    """Run the set-up rounds; returns the session and per-round timings."""
    from arangodb_java_parquet_spark.session import get_spark
    spark, rounds, inputs = None, [], {}
    for r in range(SETUP_ROUNDS):
        out_dir = os.path.join(work, f"setup-{r}")
        os.makedirs(out_dir)
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            if spark is not None:
                spark.stop()
            spark = get_spark(app_name=f"perfbench-{wl.name}")
        t1 = time.perf_counter()
        with tracer.span("bench.datagen"):
            inputs = wl.generate(out_dir)
        t2 = time.perf_counter()
        with tracer.span("session.warmup"):
            wl.warmup(spark, out_dir)
        t3 = time.perf_counter()
        rounds.append({"start": t1 - t0, "datagen": t2 - t1,
                       "warmup": t3 - t2, "total": t3 - t0})
        if r:
            shutil.rmtree(os.path.join(work, f"setup-{r - 1}"),
                          ignore_errors=True)
    return spark, rounds, inputs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    t_start = time.perf_counter()
    load_avg = os.getloadavg()
    host_start = host_probe()
    wl = make_workload(args.workload, args.seed, args.work, args.seconds,
                       bool(args.trace))
    tracer = Tracer(enabled=bool(args.trace))
    spark, rounds, inputs = setup(wl, args.work, tracer)
    t0 = time.perf_counter()
    wl.prepare(spark)

    t1 = time.perf_counter()
    plain = wl.run(spark, args.seconds, Tracer(enabled=False), "plain")
    traced = (wl.run(spark, args.seconds, tracer, "traced")
              if args.trace else None)
    t2 = time.perf_counter()
    checks, failed = wl.verify(spark)
    rss = peak_rss_mb()
    host_end = host_probe()
    t3 = time.perf_counter()
    spark.stop()
    wl.cleanup()
    phases = {"setup": t0 - t_start,
              "prepare": t1 - t0, "run": t2 - t1, "verify": t3 - t2,
              "stop": time.perf_counter() - t3}

    ops = plain["op_s"]
    attempted = len(ops) + checks
    lat = summarize(ops)
    cpu_per_op = plain["cpu_s"] / len(ops)
    result = {
        "correct": failed == 0 and bool(ops),
        "attempted": attempted,
        "failed": failed,
        "metrics": {},
        "info": {
            "workload": args.workload, "seed": args.seed,
            "nproc": os.cpu_count(), "load_avg_start": load_avg,
            "host": {"start": host_start, "end": host_end},
            "inputs": inputs, "setup_rounds": rounds,
            "phases_s": phases, "ops": len(ops), "checks": checks,
            "failures": wl.failures[:20], "peak_rss_mb": rss,
            "op_s": lat, "ops_per_min": plain["ops_per_min"],
            "cpu_s": plain["cpu_s"], "trail": plain.get("trail"),
        },
    }
    if not args.trace:
        result["metrics"] = {
            "setup_s": (statistics.median(r["total"] for r in rounds), "s"),
            "cpu_s_per_op": (cpu_per_op, "s"),
            "peak_rss_mb": (footprint_mb(rss), "MB"),
        }
    else:
        with open("BENCHMARK.json") as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        t_cpu_per_op = traced["cpu_s"] / len(traced["op_s"])
        layers = dict.fromkeys(units, 0.0)
        layers.update(traced.get("layers", {}))
        layers.update({
            "session.start_s": statistics.median(r["start"] for r in rounds),
            "session.warmup_s": statistics.median(
                r["warmup"] for r in rounds),
            "bench.datagen_s": statistics.median(
                r["datagen"] for r in rounds),
            "bench.op_s_p50": lat["p50"],
            "bench.op_s_tail": lat["tail"],
            "bench.ops_per_min": plain["ops_per_min"],
            "bench.op_samples": lat["n"],
            "bench.op_tail_pct": lat["tail_pct"],
            "trace.cpu_s_per_op_untraced": cpu_per_op,
            "trace.cpu_s_per_op_traced": t_cpu_per_op,
            "trace.overhead_pct": 100.0 * (t_cpu_per_op / cpu_per_op - 1),
        })
        if args.workload == "query_mix":
            layers["models.fit_s"] = layers["session.warmup_s"]
        result["metrics"] = {n: (v, units[n]) for n, v in layers.items()}
        tracer.write(os.path.join(args.work, "spans.json"), layers)
        result["info"]["spans"] = len(tracer.spans)
    result["metrics"] = {n: {"value": v, "unit": u}
                         for n, (v, u) in result["metrics"].items()}
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
