"""``bulk_load``: one client, closed loop, a seeded sequence of
``ParquetLoader.load(..., mode="spark")`` calls on generated flat
lineitem-like Parquet into fresh or appended ``LocalCollection``s.

The operation is one load; its latency is the wall time of ``load``.
Traced phases additionally time, outside each load, the scan alone
(``read_parquet`` -> noop) and scan + encode (``encode_documents`` ->
noop), so the fused sink is the remainder of the load.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.functions.docjson import encode_documents
from arangodb_java_parquet_spark.sources.collections import LocalCollection
from arangodb_java_parquet_spark.sources.loader import ParquetLoader
from arangodb_java_parquet_spark.sources.readers import (
    read_collection, read_parquet)
from perfbench import datagen
from perfbench.tracing import (
    CpuMeter, TimingCollection, call_accumulator, collection_stats,
    group_counts, job_group, mean, part_files)

# collections checked row-for-row (exceptAll) after the run
EXCEPT_ALL_CHECKS = 2


class BulkLoad:
    name = "bulk_load"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs: list[dict] = []
        self.collections: list[tuple[LocalCollection, list[int]]] = []
        self.failures: list[str] = []
        self.checks = 0

    # -- setup ------------------------------------------------------------

    def generate(self, out_dir: str) -> dict:
        self.inputs = datagen.write_load_inputs(out_dir, self.seed)
        return {i["name"]: {k: i[k] for k in
                            ("rows", "bytes", "files", "row_groups")}
                for i in self.inputs}

    def warmup(self, spark, out_dir: str) -> None:
        smallest = min(self.inputs, key=lambda i: i["rows"])
        col = LocalCollection(out_dir, "warmup")
        n = ParquetLoader(spark).load(smallest["path"], col, overwrite=True)
        if n != smallest["rows"]:
            raise RuntimeError(f"warm-up load returned {n}, "
                               f"expected {smallest['rows']}")

    def prepare(self, spark) -> None:
        pass

    # -- timed loop -------------------------------------------------------

    def run(self, spark, seconds: float, tracer, phase: str) -> dict:
        loader = ParquetLoader(spark)
        root = os.path.join(self.work, f"collections-{phase}")
        plan = datagen.load_plan(self.seed, 10_000, len(self.inputs))
        calls = call_accumulator(spark) if tracer.enabled else None
        lat, docs = [], 0
        meter, cpu_s = CpuMeter(), 0.0
        layer = {"scan": [], "encode": [], "scan_tasks": []}
        current: tuple[LocalCollection, list[int]] | None = None
        deadline = time.perf_counter() + seconds
        k = 0
        # whole blocks (every layout once), so each run loads the same mix
        while time.perf_counter() < deadline or k % len(self.inputs):
            idx, fresh = plan[k]
            src = self.inputs[idx]
            if fresh or current is None:
                name = f"c{k:05d}"
                col = (TimingCollection(root, name, calls) if tracer.enabled
                       else LocalCollection(root, name))
                current = (col, [])
                self.collections.append(current)
            col, members = current
            c0 = meter.read()
            with tracer.span("loader.load"):
                t0 = time.perf_counter()
                n = loader.load(src["path"], col, mode="spark")
                lat.append(time.perf_counter() - t0)
            cpu_s += meter.read() - c0
            members.append(idx)
            docs += n
            expect = sum(self.inputs[i]["rows"] for i in members)
            got = col.count()
            self.checks += 1
            if n != src["rows"] or got != expect:
                self.failures.append(
                    f"load {k}: returned {n}, source {src['rows']}, "
                    f"collection {got}, expected {expect}")
            if tracer.enabled:
                self._trace_layers(spark, src["path"], tracer, layer, k)
            k += 1
        out = {"op_s": lat, "cpu_s": cpu_s, "docs": docs,
               "ops_per_min": 60.0 * len(lat) / sum(lat)}
        if tracer.enabled:
            stats = collection_stats(calls.value)
            load_s = mean(lat)
            scan_s, enc_s = mean(layer["scan"]), mean(layer["encode"])
            out["layers"] = {
                "readers.scan_s": scan_s,
                "readers.scan_partitions": mean(layer["scan_tasks"]),
                "docjson.encode_spark_s": max(0.0, enc_s - scan_s),
                "docjson.doc_bytes_mean": stats["bytes_written"] / max(
                    1, docs),
                "loader.load_s": load_s,
                "loader.sink_s": max(0.0, load_s - enc_s),
                "loader.tasks": stats["tasks"] / max(1, len(lat)),
                "loader.partition_docs_skew": stats["skew"],
                "collections.insert_many_s": stats["insert_many_s"],
                "collections.insert_many_calls": stats["insert_many_calls"],
                "collections.docs_per_batch": stats["docs_per_batch"],
                "collections.part_files": sum(
                    part_files(c) for c, _ in self.collections
                    if c.root == root),
                "collections.bytes_written": stats["bytes_written"],
            }
        return out

    def _trace_layers(self, spark, path, tracer, layer, k) -> None:
        group = f"scan-{k}"
        with tracer.span("readers.scan"), job_group(spark, group):
            t0 = time.perf_counter()
            df = read_parquet(spark, path)
            df.write.format("noop").mode("overwrite").save()
            layer["scan"].append(time.perf_counter() - t0)
        layer["scan_tasks"].append(group_counts(spark, group)[1])
        with tracer.span("docjson.encode_spark"):
            t0 = time.perf_counter()
            (encode_documents(read_parquet(spark, path), mode="spark")
             .write.format("noop").mode("overwrite").save())
            layer["encode"].append(time.perf_counter() - t0)

    # -- untimed output checks ----------------------------------------------

    def verify(self, spark) -> tuple[int, int]:
        """Row-for-row check of a seeded sample of collections: a sample of
        the rows read back through ``read_collection(schema=source)`` must
        ``exceptAll`` to empty against the same sample of the sources."""
        import numpy as np
        rng = np.random.default_rng([self.seed, 6])
        picks = rng.choice(len(self.collections),
                           min(EXCEPT_ALL_CHECKS, len(self.collections)),
                           replace=False)
        bucket = self.seed % 16
        for i in picks:
            col, members = self.collections[int(i)]
            src = None
            for m in members:
                df = read_parquet(spark, self.inputs[m]["path"])
                src = df if src is None else src.unionByName(df)
            back = read_collection(spark, col, schema=src.schema)
            keep = F.col("l_orderkey") % 16 == bucket
            s, b = src.filter(keep), back.filter(keep)
            self.checks += 1
            diff = (s.exceptAll(b).withColumn("side", F.lit("missing"))
                    .unionByName(b.exceptAll(s)
                                 .withColumn("side", F.lit("unexpected")))
                    .groupBy("side").count().collect())
            if diff:
                self.failures.append(
                    f"collection {col.name}: read-back sample differs "
                    f"from its sources {[tuple(r) for r in diff]}")
        return self.checks, len(self.failures)

    def cleanup(self) -> None:
        for col, _ in self.collections:
            shutil.rmtree(col.path, ignore_errors=True)
