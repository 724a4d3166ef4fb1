"""frinesis_spark — a PySpark-native analytics + streaming-egress engine.

Re-expresses the capability surface of the reference library
(``qntfy/frinesis``, an AWS Kinesis batching sink for the Frizzle
message bus — see ``/root/reference/sink.go``,
``/root/reference/batchproducer/batchproducer.go``) on top of Apache
Spark, and adds the batch analytics / LLM-data-pipeline query layer
mandated by BASELINE.json, designed for 100 TB scale:

- ``frinesis_spark.session``   — SparkSession factory (AQE on, UTC, Arrow).
- ``frinesis_spark.catalog``   — parquet table loaders for the test schema.
- ``frinesis_spark.operators`` — relational, dedup, similarity, text,
  multimodal query builders (each with a DuckDB oracle).
- ``frinesis_spark.streaming`` — event-time windows, watermarking,
  stateful dedup (batch-equivalent + true Structured Streaming forms).
- ``frinesis_spark.sinks``     — the Kinesis batched sink port
  (reference semantics A1–A17: batching, retry, backoff, shedding, drain).
- ``frinesis_spark.registry``  — the queries()/oracle_sql() contract
  consumed by ``__spark_entry__.py``.
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # PEP 562 lazy export: ``session`` pulls in pyspark and numpy, which
    # the Kinesis sink and other Spark-free modules must not pay for
    # just by importing a submodule of this package.
    if name == "get_spark":
        from frinesis_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
