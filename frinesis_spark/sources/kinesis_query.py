"""``source_kinesis_read`` — full write→read roundtrip as a
driver-checkable query.

Pushes the events table through the batched sink (mock client, no fail
injection) into a per-run store, then reads every stream back with the
shard-parallel source and aggregates per topic. Because delivery is
exactly-everything here, the read-back counts and payload-length sums
are pure functions of the input — a plain SQL oracle verifies the
entire egress+ingest pipeline (chunking, batching, shard drain) end to
end. The Spark analog of the reference's TestSend round trip
(integration_test.go:159-173).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frinesis_spark.catalog import table
from frinesis_spark.sinks.kinesis import KinesisBatchWriter
from frinesis_spark.sinks.mock import MockClientFactory
from frinesis_spark.sources.kinesis import read_kinesis


def _detach(out: DataFrame) -> DataFrame:
    """Materialize the tiny per-topic aggregate (eager local
    checkpoint) and return a frame over those blocks, detaching the
    plan from the mock store the caller is about to rmtree — without
    routing rows through the driver as Python objects (the
    collect-detach this replaces, r7 verdict item 7). The blocks live
    in the session's block manager, so no temp directory is left
    behind."""
    return out.localCheckpoint(eager=True)


def _union_and_aggregate(streams: list) -> DataFrame:
    """ONE definition of the roundtrip aggregate for both queries (r9
    review wave 10 — the two copies had to stay in lockstep with the
    shared oracle shape by hand). Raises a clear error on an empty
    topic list instead of IndexError."""
    if not streams:
        raise RuntimeError(
            "kinesis roundtrip: no topics to read back — the fixture's "
            "event_type domain is empty (or no longer contains the "
            "query's filtered types)"
        )
    union = streams[0]
    for s in streams[1:]:
        union = union.unionByName(s)
    return union.groupBy(F.col("stream").alias("topic")).agg(
        F.count(F.lit(1)).alias("n_read"),
        F.sum(F.length(F.col("data").cast("string"))).alias(
            "sum_payload_len"
        ),
    )


def q_source_kinesis_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    msgs = e.select(
        F.col("event_type").alias("topic"),
        F.encode(F.col("props"), "utf-8").alias("data"),
        F.expr("uuid()").alias("partition_key"),
    )
    store = tempfile.mkdtemp(prefix="kinesis_roundtrip_")
    try:
        factory = MockClientFactory(store_dir=store)
        # write_batch is eager since r9; a flush-deadline shortfall
        # must surface HERE as the writer's own undelivered error, not
        # downstream as a confusing hash mismatch (r9 review wave 10).
        stats = KinesisBatchWriter(factory).write_batch(msgs).collect()
        undelivered = sum(r.n_remaining for r in stats)
        if undelivered:
            raise RuntimeError(
                f"{undelivered} records undelivered after flush deadline"
            )

        # The writer's stats rows name every topic it wrote, so the
        # read-back needs no further pass over events.
        topics = sorted({r.topic for r in stats})
        streams = [read_kinesis(spark, factory, t) for t in topics]
        out = _union_and_aggregate(streams)
        return _detach(out)
    finally:
        shutil.rmtree(store, ignore_errors=True)


_DS_TOPICS = ("purchase", "view")


def q_source_kinesis_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same roundtrip through the registered `kinesis_frinesis` Python
    Data Source format (kinesis_datasource.py): ``df.write.format``
    drives the BatchProducer per task, ``spark.read.format`` drains
    shard-parallel — the connector-contract packaging of the pipeline,
    verified by the identical oracle."""
    from frinesis_spark.sources.kinesis_datasource import (
        FORMAT_NAME,
        KinesisDataSource,
    )

    spark.dataSource.register(KinesisDataSource)
    # Two topics keep the multi-stream union semantics while halving
    # the fixed per-scan cost of the Python-data-source path (each
    # .load() spins its own Python planner + worker set); the oracle
    # applies the same filter.
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin(*_DS_TOPICS)
    )
    msgs = e.select(
        F.col("event_type").alias("stream"),
        F.encode(F.col("props"), "utf-8").alias("data"),
        F.expr("uuid()").alias("partition_key"),
    )
    store = tempfile.mkdtemp(prefix="kinesis_ds_roundtrip_")
    try:
        (
            msgs.write.format(FORMAT_NAME)
            .option("stream", "unused-default")
            .option("mock_store_dir", store)
            .mode("append")
            .save()
        )
        # The filter names the topics, so no distinct() job finds
        # them: a topic with no rows reads an empty stream and yields
        # no group, the same as the oracle's GROUP BY.
        streams = [
            spark.read.format(FORMAT_NAME)
            .option("stream", t)
            .option("mock_store_dir", store)
            .load()
            for t in _DS_TOPICS
        ]
        out = _union_and_aggregate(streams)
        return _detach(out)
    finally:
        shutil.rmtree(store, ignore_errors=True)


QUERIES = {
    "source_kinesis_read": q_source_kinesis_read,
    "source_kinesis_datasource": q_source_kinesis_datasource,
}

ORACLE = {
    "source_kinesis_datasource": """
        SELECT event_type AS topic,
               COUNT(*) AS n_read,
               -- COALESCE: a NULL props row is DELIVERED as an empty payload
               -- (read-back length 0); bare SUM(LENGTH) would skip it
               -- and NULL an all-NULL-props topic (r9 wave 10)
               CAST(SUM(LENGTH(COALESCE(props, ''))) AS BIGINT) AS sum_payload_len
        FROM events
        WHERE event_type IN ('view', 'purchase')
        GROUP BY event_type
    """,
    "source_kinesis_read": """
        SELECT event_type AS topic,
               COUNT(*) AS n_read,
               -- COALESCE: a NULL props row is DELIVERED as an empty payload
               -- (read-back length 0); bare SUM(LENGTH) would skip it
               -- and NULL an all-NULL-props topic (r9 wave 10)
               CAST(SUM(LENGTH(COALESCE(props, ''))) AS BIGINT) AS sum_payload_len
        FROM events
        GROUP BY event_type
    """,
}
