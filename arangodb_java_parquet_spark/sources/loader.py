"""ParquetLoader — the reference's public API surface, Spark-first.

Reference: ``ParquetArangoLoader`` (ParquetArangoLoader.java:85-269) reads one
Parquet file row-at-a-time on one thread, JSON-encodes each row, and inserts
fixed-size batches into an ArangoDB collection, optionally async with at most
``maxParallelBatches`` (+1, ``>`` vs ``>=`` — ParquetArangoLoader.java:244)
in-flight insert requests.

Spark re-expression (SURVEY.md §2.1 #1,2,6,7):
  * scan        -> ``spark.read.parquet`` (distributed, vectorized, multi-file,
                   column-pruned — strictly more general than the reference's
                   single-file row loop at ParquetArangoLoader.java:139-150)
  * encode      -> Column-expression ``to_json`` fast path or reference-fidelity
                   ``mapInArrow`` path (functions/docjson.py)
  * batch+sink  -> ``foreachPartition``: each task batches its iterator into
                   ``batch_size`` chunks and calls ``collection.insert_many``.
                   Task parallelism IS the async model: N parallel partition
                   tasks ≈ the reference's ``maxParallelBatches`` in-flight
                   requests, minus the 10 ms busy-wait poll
                   (ParquetArangoLoader.java:239-250) which Spark's scheduler
                   replaces outright.

Scale posture: no driver-side collect anywhere; memory per task is
O(batch_size); works identically on a 1000-executor cluster writing to a
shared filesystem or a server-backed collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from arangodb_java_parquet_spark.functions.docjson import (
    DOC_COL,
    encode_documents,
)
from arangodb_java_parquet_spark.shipping import ensure_package_shipped
from arangodb_java_parquet_spark.sources.collections import Collection, batched

DEFAULT_BATCH_SIZE = 1000          # ParquetArangoLoader.java:35
DEFAULT_MAX_PARALLEL_BATCHES = 10  # ParquetArangoLoader.java:36


class ParquetLoader:
    """Load Parquet data into a document collection.

    ``type_converters`` maps a Spark DataType simple-string (``"timestamp"``,
    ``"date"``, ``"binary"``, ``"decimal(10,2)"``, ...) to a
    ``Column -> Column`` function — the Spark analog of the reference's
    per-Avro-LogicalType converter registry
    (ParquetArangoLoader.java:34,56-58,74-76).
    """

    def __init__(self, spark: SparkSession, type_converters: dict | None = None):
        self.spark = spark
        self.type_converters = dict(type_converters or {})

    def add_type_converter(self, type_simple_string: str, fn) -> None:
        """Register ``fn: Column -> Column`` for all top-level fields of the
        given type (ParquetArangoLoader.java:74-76)."""
        self.type_converters[type_simple_string] = fn

    # -- read + encode ------------------------------------------------------

    def read(self, path: str) -> DataFrame:
        """Distributed Parquet scan; accepts file, directory, or glob."""
        return self.spark.read.parquet(path)

    def encode(self, df: DataFrame, mode: str = "spark") -> DataFrame:
        return encode_documents(df, mode=mode, converters=self.type_converters)

    # -- load (sync entry point parity) -------------------------------------

    def load(self, path: str, collection: Collection, *,
             overwrite: bool = False,
             batch_size: int = DEFAULT_BATCH_SIZE,
             mode: str = "spark",
             max_parallel_batches: int | None = None) -> int:
        """Load a Parquet path into ``collection``; returns rows loaded.

        Parity with ``loadParquetFileIntoArango`` /
        ``loadParquetFileIntoArangoAsync`` (ParquetArangoLoader.java:122-157,
        213-269): append semantics, ``overwrite`` drops and recreates the
        collection first, every batch holds at most ``batch_size`` documents,
        batch-size validation raises like the reference
        (ParquetArangoLoader.java:123-125).

        ``max_parallel_batches`` maps to write-task parallelism
        (``repartition``) — a documented approximation of the reference's
        bounded in-flight async requests (SURVEY.md §7 hard part 4). ``None``
        keeps the scan's natural partitioning (best at scale: no extra
        shuffle).
        """
        df = self.read(path)
        return self.load_dataframe(
            df, collection, overwrite=overwrite, batch_size=batch_size,
            mode=mode, max_parallel_batches=max_parallel_batches)

    def load_dataframe(self, df: DataFrame, collection: Collection, *,
                       overwrite: bool = False,
                       batch_size: int = DEFAULT_BATCH_SIZE,
                       mode: str = "spark",
                       max_parallel_batches: int | None = None) -> int:
        """Encode ``df`` rows as JSON documents and bulk-insert them.

        Returns the number of documents SENT to the sink, counted by an
        accumulator on the write action itself (no second scan of the
        input). Contract caveat: under task retries or speculative
        execution, a re-run partition both re-inserts its documents and
        re-adds to the accumulator, so the return can EXCEED ``df``'s row
        count — it is "documents delivered" (at-least-once, matching the
        sink's contents), not "distinct rows of df". Callers needing an
        exact row count should count ``df`` separately or reconcile
        against a distinct-key count in the sink; key-based sinks
        (overwrite mode) dedup on insert, so their stored count stays
        exact either way.

        Validation lives here (not just in ``load``) because this is the
        public API the streaming ``foreachBatch`` path calls directly —
        batch_size < 1 must raise like the reference
        (ParquetArangoLoader.java:123-125), never silently mis-batch.
        """
        if batch_size < 1:
            raise ValueError("batch size must be >= 1")
        if max_parallel_batches is not None and max_parallel_batches < 1:
            raise ValueError("max parallel batches must be >= 1")
        ensure_package_shipped(self.spark)
        collection.ensure(overwrite=overwrite)

        docs = self.encode(df, mode=mode)
        if max_parallel_batches is not None:
            docs = docs.repartition(max_parallel_batches)

        # foreachPartition: executor-side batched insert, O(batch_size) memory
        # per task — the distributed analog of the reference's chunk loop
        # (ParquetArangoLoader.java:142-154; ChunkedParquetReaderIterator.java).
        bs = batch_size
        sink = collection
        # rows-loaded via accumulator: counted on the SAME action as the
        # write (no second scan). Task retries could over-count, but a
        # retried partition also re-inserts — the count stays truthful to
        # documents actually sent to the sink.
        n_loaded = self.spark.sparkContext.accumulator(0)

        def write_partition(rows) -> None:
            n = 0
            for batch in batched((r[DOC_COL] for r in rows), bs):
                sink.insert_many(batch)
                n += len(batch)
            n_loaded.add(n)

        docs.foreachPartition(write_partition)
        return n_loaded.value
