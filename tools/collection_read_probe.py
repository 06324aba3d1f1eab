"""Collection read-cost probe: CPU seconds and Spark jobs of one
``read_collection(...).agg(...)`` as a LocalCollection grows past Spark's
parallel-listing threshold.

Arrival-shaped nested parquet files (the live_collection benchmark's
generator) are loaded one by one into a scratch LocalCollection through
``ParquetLoader`` (fidelity encoder, one part file per arrival). At each
checkpoint size the probe times ``--repeats`` reads of

    read_collection(spark, col, schema=DOC_SCHEMA)
        .agg(count(1), sum(meta.rank)).collect()

and, for comparison, the same aggregate over a ``<collection>/part-*.jsonl``
path glob. A glob expands to one path per file, and once that exceeds
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) Spark lists
the paths in a separate job of one task per file, on every read. The
directory-rooted ``read_collection`` should show a flat job count at every
size, the glob read one extra job above 32 files.

CPU is the process group's (driver, JVM, Python workers) from /proc, so
run the probe from its own shell job.

Usage: python tools/collection_read_probe.py [--sizes 8,16,32,40,64]
           [--repeats 3] [--seed 1] [--work DIR]
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.session import get_spark
from arangodb_java_parquet_spark.sources.collections import (
    PART_GLOB, LocalCollection)
from arangodb_java_parquet_spark.sources.loader import ParquetLoader
from arangodb_java_parquet_spark.sources.readers import read_collection
from perfbench.datagen import write_arrivals
from perfbench.live_collection import DOC_SCHEMA, ROWS_PER_FILE
from perfbench.tracing import CpuMeter, group_counts, job_group, part_files


def _measure(spark, read, tag: str, repeats: int) -> tuple[float, int, int]:
    """(median CPU s, median jobs, rows) of ``repeats`` aggregate reads;
    the read itself runs inside the job group, as listing happens there."""
    cpu, jobs, rows = [], [], 0
    for r in range(repeats):
        group = f"probe-{tag}-{r}"
        meter = CpuMeter()
        with job_group(spark, group):
            rows = (read().agg(F.count(F.lit(1)).alias("n"),
                               F.sum("meta.rank").alias("rank"))
                    .collect()[0]["n"])
        cpu.append(meter.read())
        jobs.append(group_counts(spark, group)[0])
    return statistics.median(cpu), int(statistics.median(jobs)), rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sizes", default="8,16,32,40,64",
                    help="part-file counts to probe, ascending")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--work", default=None,
                    help="scratch directory (default: a new temp dir)")
    args = ap.parse_args()
    sizes = sorted(int(s) for s in args.sizes.split(","))

    work = tempfile.mkdtemp(prefix="collection_read_probe_", dir=args.work)
    spark = get_spark(app_name="collection_read_probe")
    try:
        arrivals = write_arrivals(os.path.join(work, "arrivals"), args.seed,
                                  sizes[-1], ROWS_PER_FILE)
        col = LocalCollection(work, "docs")
        col.ensure(overwrite=True)
        loader = ParquetLoader(spark)
        # warm the read path once so the first size carries no JIT start-up
        loader.load(arrivals[0]["path"], col, mode="reference")
        _measure(spark, lambda: read_collection(spark, col,
                                                schema=DOC_SCHEMA),
                 "warm", 2)

        print(f"{'parts':>5} {'rows':>6} | {'read_collection cpu_s':>21} "
              f"{'jobs':>4} | {'path-glob cpu_s':>15} {'jobs':>4}")
        loaded, expected = 1, arrivals[0]["rows"]
        for size in sizes:
            for a in arrivals[loaded:size]:
                loader.load(a["path"], col, mode="reference")
                expected += a["rows"]
            loaded = max(loaded, size)
            parts = part_files(col)
            d_cpu, d_jobs, d_rows = _measure(
                spark, lambda: read_collection(spark, col,
                                               schema=DOC_SCHEMA),
                f"dir-{size}", args.repeats)
            g_cpu, g_jobs, g_rows = _measure(
                spark, lambda: spark.read.schema(DOC_SCHEMA).json(
                    os.path.join(col.path, PART_GLOB)),
                f"glob-{size}", args.repeats)
            if d_rows != expected or g_rows != expected:
                raise SystemExit(f"read {d_rows}/{g_rows} rows, "
                                 f"loaded {expected}")
            print(f"{parts:>5} {expected:>6} | {d_cpu:>21.3f} {d_jobs:>4} "
                  f"| {g_cpu:>15.3f} {g_jobs:>4}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
