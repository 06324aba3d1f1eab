"""``live_collection``: an open loop.  Generated nested documents arrive
as Parquet files at a fixed rate and are streamed into a collection by
``stream_load_to_collection(..., mode="reference", trigger_once=False)``,
while a second client thread reads the collection back with
``read_collection(schema=...)`` plus an aggregate at a fixed cadence.

The operation is one file drop; its latency is the freshness of its
rows: from when the drop was due to when the micro-batch holding it
committed (Spark's own trigger start + trigger duration).  The generator
moves pre-built files into the watched directory on schedule, whatever
the stream's progress, and records how late it ran.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import shutil
import threading
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arangodb_java_parquet_spark.functions.docjson import encode_documents
from arangodb_java_parquet_spark.sources.collections import LocalCollection
from arangodb_java_parquet_spark.sources.loader import ParquetLoader
from arangodb_java_parquet_spark.sources.readers import (
    read_collection, read_parquet)
from arangodb_java_parquet_spark.streaming.ingest import (
    stream_load_to_collection)
from perfbench import datagen
from perfbench.tracing import (
    CpuMeter, TimingCollection, call_accumulator, collection_stats,
    group_counts, job_group, mean, part_files, summarize)

# Files land in bursts, as an upstream writer drops a batch of part files.
# A burst becomes one micro-batch that takes well under INTERVAL_S, so
# freshness measures batch latency, not a queue a slow minute can build.
INTERVAL_S = 1.0        # one burst every INTERVAL_S seconds
FILES_PER_BURST = 2
ROWS_PER_FILE = 60      # +-20 % per file, seeded
WARM_BURSTS = 5         # untimed bursts at the same cadence before timing
READ_EVERY_S = 1.3      # reader client cadence
SAMPLE_DOCS = 64        # documents compared field by field after the run
LAYER_SAMPLES = 4       # traced: arrival files scanned, encoded and loaded
                        # alone to split a batch into its layers
# A file committed later than this after it was due missed the freshness
# limit and counts as failed.  Past it, bursts merge into larger batches
# that cost less CPU per file, so cpu_s_per_op holds only while the stream
# keeps up.
FRESHNESS_LIMIT_S = 5.0

# Schema of the documents as the reference encoder writes them: epoch
# microseconds for timestamps, binary as {"bytes": ...}.
DOC_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("ts", T.LongType()),
    T.StructField("title", T.StringType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("meta", T.StructType([
        T.StructField("src", T.StringType()),
        T.StructField("rank", T.IntegerType())])),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("tags", T.MapType(T.StringType(), T.LongType())),
    T.StructField("blob", T.StructType([
        T.StructField("bytes", T.StringType())])),
])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, name: str, fn) -> float:
    with tracer.span(name):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    out = {}
    for log in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(log, encoding="utf-8") as f:
            for line in f:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


class LiveCollection:
    name = "live_collection"

    def __init__(self, seed: int, work: str, seconds: float, phases: int):
        self.seed = seed
        self.work = work
        # one primer burst (the new query's first micro-batch) and the
        # warm-up bursts per phase
        self.files_per_phase = FILES_PER_BURST * (1 + WARM_BURSTS + int(
            math.ceil(seconds / INTERVAL_S)))
        self.phases = phases
        self.arrivals: list[dict] = []
        self.schema = None
        self.failures: list[str] = []
        self.checks = 0

    # -- setup ------------------------------------------------------------

    def generate(self, out_dir: str) -> dict:
        self.arrivals = datagen.write_arrivals(
            out_dir, self.seed, self.files_per_phase * self.phases,
            ROWS_PER_FILE)
        return {"arrivals": {
            "rows": sum(a["rows"] for a in self.arrivals),
            "bytes": sum(a["bytes"] for a in self.arrivals),
            "files": len(self.arrivals), "row_groups": len(self.arrivals)}}

    def warmup(self, spark, out_dir: str) -> None:
        """Drain one arrival-shaped file through a trigger-once stream with
        the fidelity encoder, then read it back."""
        src = os.path.join(out_dir, "warmup-in")
        os.makedirs(src)
        pq.write_table(datagen.nested_rows(
            np.random.default_rng([self.seed, 7]), 50, 0),
            os.path.join(src, "w.parquet"))
        self.schema = read_parquet(spark, src).schema
        col = LocalCollection(out_dir, "warmup")
        q = stream_load_to_collection(
            spark, src, col, schema=self.schema, mode="reference",
            checkpoint_dir=os.path.join(out_dir, "warmup-ckpt"))
        q.awaitTermination()
        n = read_collection(spark, col, schema=DOC_SCHEMA).count()
        if n != 50:
            raise RuntimeError(f"warm-up stream stored {n} of 50 rows")

    def prepare(self, spark) -> None:
        pass

    # -- timed loop -------------------------------------------------------

    def run(self, spark, seconds: float, tracer, phase: str) -> dict:
        k = 0 if phase == "plain" else 1
        files = self.arrivals[k * self.files_per_phase:
                              (k + 1) * self.files_per_phase]
        base = os.path.join(self.work, f"live-{phase}")
        watched = os.path.join(base, "in")
        ckpt = os.path.join(base, "ckpt")
        os.makedirs(watched)
        calls = call_accumulator(spark) if tracer.enabled else None
        col = (TimingCollection(base, "docs", calls) if tracer.enabled
               else LocalCollection(base, "docs"))
        query = stream_load_to_collection(
            spark, watched, col, schema=self.schema, mode="reference",
            checkpoint_dir=ckpt, trigger_once=False)
        drops: list[dict] = []
        reads: list[dict] = []
        stop_reading = threading.Event()
        errors: list[BaseException] = []

        def reader():
            t_next = time.time() + READ_EVERY_S
            try:
                while not stop_reading.wait(max(0.0, t_next - time.time())):
                    t_next += READ_EVERY_S
                    with tracer.span("readers.read_collection"):
                        n_parts = part_files(col)
                        t0 = time.perf_counter()
                        row = (read_collection(spark, col, schema=DOC_SCHEMA)
                               .agg(F.count(F.lit(1)).alias("n"),
                                    F.sum("meta.rank").alias("rank"))
                               .collect()[0])
                        reads.append({"s": time.perf_counter() - t0,
                                      "n": row["n"], "parts": n_parts,
                                      "dropped": sum(d["rows"]
                                                     for d in drops)})
            except BaseException as e:  # reported by the main thread
                errors.append(e)

        for a in files[:FILES_PER_BURST]:     # primer burst, not timed
            dest = os.path.join(watched, os.path.basename(a["path"]))
            os.rename(a["path"], dest)
            drops.append({"name": os.path.basename(dest), "primer": True,
                          "at": time.time(), "rows": a["rows"],
                          "id0": a["id0"], "path": dest})
        query.processAllAvailable()
        files = files[FILES_PER_BURST:]
        rd = threading.Thread(target=reader, daemon=True)
        progress: dict[int, dict] = {}
        meter = None            # CPU from the first timed burst on
        t_start = time.time() + 0.2
        rd.start()
        try:
            for i in range(0, len(files), FILES_PER_BURST):
                due = t_start + i // FILES_PER_BURST * INTERVAL_S
                time.sleep(max(0.0, due - time.time()))
                for a in files[i:i + FILES_PER_BURST]:
                    dest = os.path.join(watched, os.path.basename(a["path"]))
                    os.rename(a["path"], dest)
                    drops.append({"name": os.path.basename(dest),
                                  "due": due, "at": time.time(),
                                  "rows": a["rows"], "id0": a["id0"],
                                  "path": dest,
                                  "warm": i < WARM_BURSTS * FILES_PER_BURST})
                if i == WARM_BURSTS * FILES_PER_BURST:
                    meter = CpuMeter()
                elif meter is not None:
                    meter.read()
                for p in query.recentProgress:
                    progress[p["batchId"]] = p
            query.processAllAvailable()
            cpu_s = meter.read()
        finally:
            stop_reading.set()
            rd.join(timeout=60)
            for p in query.recentProgress:
                progress[p["batchId"]] = p
            query.stop()
        if errors:
            raise errors[0]
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        batches = _file_batches(ckpt)
        commit = {b: _epoch(p["timestamp"]) +
                  p["durationMs"]["triggerExecution"] / 1000.0
                  for b, p in progress.items()}
        timed = []
        for d in drops:
            if d.get("primer"):
                continue
            b = batches.get(d["name"])
            if b is None or b not in commit:
                self.failures.append(f"drop {d['name']} never committed")
                continue
            d["commit"] = commit[b]
            d["fresh"] = d["commit"] - d["due"]
            if not d["warm"]:
                timed.append(d)
                if d["fresh"] > FRESHNESS_LIMIT_S:
                    self.failures.append(
                        f"drop {d['name']} committed {d['fresh']:.2f} s "
                        f"after it was due (limit {FRESHNESS_LIMIT_S} s)")
        self._check_reads(reads)
        self._check_docs(col, drops)
        t_timed = t_start + WARM_BURSTS * INTERVAL_S
        out = {"op_s": [d["fresh"] for d in timed], "cpu_s": cpu_s,
               "rows": sum(d["rows"] for d in drops),
               "trail": [(batches.get(d["name"]), round(d["fresh"], 3))
                         for d in timed],
               "ops_per_min": 60.0 * len(timed) / (
                   max(d["commit"] for d in timed) - t_timed)}
        if tracer.enabled:
            out["layers"] = self._layers(spark, tracer, col, calls, drops,
                                         progress, reads)
        return out

    def _layers(self, spark, tracer, col, calls, drops, progress,
                reads) -> dict:
        busy = [p for p in progress.values() if p["numInputRows"] > 0]
        stats = collection_stats(calls.value)
        rows = sum(d["rows"] for d in drops)
        timed = [d for d in drops if "due" in d]
        backlog = 0
        for d in timed:
            backlog = max(backlog, sum(
                1 for e in timed if e["at"] <= d["at"]) - sum(
                1 for e in timed if e.get("commit", math.inf) <= d["at"]))
        t = {"scan": [], "reference": [], "spark": [], "load": [],
             "scan_tasks": []}
        loader = ParquetLoader(spark)
        scratch = os.path.join(self.work, "live-layers")
        for k, d in enumerate(drops[:LAYER_SAMPLES]):
            with job_group(spark, f"live-scan-{k}"):
                t["scan"].append(_timed(tracer, "readers.scan", lambda: _noop(
                    read_parquet(spark, d["path"]))))
            t["scan_tasks"].append(group_counts(spark, f"live-scan-{k}")[1])
            for mode in ("reference", "spark"):
                t[mode].append(_timed(
                    tracer, f"docjson.encode_{mode}", lambda: _noop(
                        encode_documents(read_parquet(spark, d["path"]),
                                         mode=mode))))
            t["load"].append(_timed(tracer, "loader.load", lambda: loader.load(
                d["path"], LocalCollection(scratch, f"s{k}"),
                mode="reference")))
        shutil.rmtree(scratch, ignore_errors=True)
        scan_s, ref_s = mean(t["scan"]), mean(t["reference"])
        rb = summarize([r["s"] for r in reads]) if reads else {
            "p50": 0.0, "tail": 0.0}
        return {
            "readers.scan_s": scan_s,
            "readers.scan_partitions": mean(t["scan_tasks"]),
            "readers.read_collection_s": mean([r["s"] for r in reads]),
            "readers.read_collection_files": mean([r["parts"]
                                                   for r in reads]),
            "docjson.encode_reference_s": max(0.0, ref_s - scan_s),
            "docjson.encode_spark_s": max(0.0, mean(t["spark"]) - scan_s),
            "loader.load_s": mean(t["load"]),
            "loader.sink_s": max(0.0, mean(t["load"]) - ref_s),
            "docjson.doc_bytes_mean": stats["bytes_written"] / max(1, rows),
            "loader.tasks": stats["tasks"] / max(1, len(busy)),
            "loader.partition_docs_skew": stats["skew"],
            "collections.insert_many_s": stats["insert_many_s"],
            "collections.insert_many_calls": stats["insert_many_calls"],
            "collections.docs_per_batch": stats["docs_per_batch"],
            "collections.part_files": part_files(col),
            "collections.bytes_written": stats["bytes_written"],
            "ingest.batch_s": mean([p["durationMs"]["triggerExecution"]
                                    for p in busy]) / 1000.0,
            "ingest.add_batch_s": mean([p["durationMs"].get("addBatch", 0)
                                        for p in busy]) / 1000.0,
            "ingest.plan_s": mean([p["durationMs"].get("queryPlanning", 0)
                                   for p in busy]) / 1000.0,
            "ingest.rows_per_batch": mean([p["numInputRows"]
                                           for p in busy]),
            "ingest.backlog_files_max": backlog,
            "ingest.generator_lag_s_max": max(d["at"] - d["due"]
                                              for d in timed),
            "bench.readback_s_p50": rb["p50"],
            "bench.readback_s_tail": rb["tail"],
        }

    # -- untimed output checks ----------------------------------------------

    def _check_reads(self, reads: list[dict]) -> None:
        """Each read-back sees a count between the previous read's count
        and the rows dropped by the time it ended."""
        last = 0
        for r in reads:
            self.checks += 1
            if not last <= r["n"] <= r["dropped"]:
                self.failures.append(
                    f"read-back saw {r['n']} rows after {last}, "
                    f"{r['dropped']} dropped")
            last = r["n"]

    def _check_docs(self, col: LocalCollection, drops: list[dict]) -> None:
        """Stored count equals the rows dropped; every stored line is JSON
        with the reference escaping; a seeded sample matches its source
        row field by field."""
        self.checks += 1
        docs = {}
        self.checks += 1    # every stored line parses, escaped
        for line in col.iter_documents():
            if "\u2003" in line or "\u2028" in line or "\x01" in line:
                self.failures.append(f"unescaped character in {line[:60]}")
            try:
                d = json.loads(line)
            except ValueError:
                self.failures.append(f"not JSON: {line[:60]}")
                continue
            docs[d["id"]] = d
        rows = sum(d["rows"] for d in drops)
        if len(docs) != rows or col.count() != rows:
            self.failures.append(
                f"collection holds {col.count()} docs ({len(docs)} ids), "
                f"{rows} rows dropped")
        rng = np.random.default_rng([self.seed, 8])
        for d in rng.choice(len(drops), min(8, len(drops)), replace=False):
            drop = drops[int(d)]
            src = pq.read_table(drop["path"]).to_pylist()
            for j in rng.choice(len(src), min(SAMPLE_DOCS // 8, len(src)),
                                replace=False):
                row = src[int(j)]
                self.checks += 1
                got = docs.get(row["id"])
                if got is None or not _doc_matches(got, row):
                    self.failures.append(f"doc {row['id']} differs: {got}")

    def verify(self, spark) -> tuple[int, int]:
        return self.checks, len(self.failures)

    def cleanup(self) -> None:
        for phase in ("plain", "traced"):
            shutil.rmtree(os.path.join(self.work, f"live-{phase}"),
                          ignore_errors=True)


def _num(x: float):
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    return x


def _doc_matches(doc: dict, row: dict) -> bool:
    ts = row["ts"]
    micros = (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    emb_ok = (len(doc["embedding"]) == len(row["embedding"]) and all(
        np.float32(a) == np.float32(b)
        for a, b in zip(doc["embedding"], row["embedding"])))
    return (doc["id"] == row["id"] and doc["ts"] == micros
            and doc["title"] == row["title"]
            and doc["score"] == _num(row["score"])
            and doc["meta"] == row["meta"] and emb_ok
            and doc["tags"] == dict(row["tags"])
            and doc["blob"] == {"bytes": row["blob"].decode("latin-1")})
