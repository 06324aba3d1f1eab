"""Benchmark of the arangodb_java_parquet_spark package: see README.md."""
