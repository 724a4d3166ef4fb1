"""Tests for the Kinesis shard-parallel source.

Round-trip assertions mirror the reference's integration tests: write
through the sink, read back through the source, compare unordered
multisets of payloads (integration_test.go:151-157, :159-173).
"""

from __future__ import annotations

import collections
import glob
import os
import tempfile
import threading

from frinesis_spark.sinks import mock
from frinesis_spark.sinks.kinesis import KinesisBatchWriter
from frinesis_spark.sinks.mock import MockClientFactory, MockKinesisClient
from frinesis_spark.sources.kinesis import (
    _drain_shard,
    list_shard_ids,
    read_kinesis,
)


def _fill(store, stream, payloads):
    client = MockKinesisClient(store_dir=store)
    client.put_records(
        Records=[
            {"Data": p.encode(), "PartitionKey": f"pk{i}"}
            for i, p in enumerate(payloads)
        ],
        StreamName=stream,
    )
    return client


def test_drain_shard_pages_through(tmp_path):
    store = str(tmp_path / "store")
    client = _fill(store, "s1", [f"m{i}" for i in range(25)])
    [shard] = list_shard_ids(client, "s1")
    recs = list(_drain_shard(client, "s1", shard, limit_per_call=10))
    assert len(recs) == 25  # 3 GetRecords pages
    assert sorted(r[4].decode() for r in recs) == sorted(
        f"m{i}" for i in range(25)
    )


def test_read_kinesis_empty_stream(spark, tmp_path):
    factory = MockClientFactory(store_dir=str(tmp_path / "store"))
    df = read_kinesis(spark, factory, "nothing-here")
    assert df.count() == 0
    assert df.columns == [
        "stream", "shard_id", "sequence_number", "partition_key", "data",
    ]


def test_sink_source_roundtrip_multiset(spark, tmp_path):
    """TestSend analog: Spark write → Spark read → multiset equality."""
    store = str(tmp_path / "store")
    df = spark.range(0, 500).selectExpr(
        "concat('stream_', id % 2) AS topic",
        "cast(concat('payload_', id) as binary) AS data",
        "uuid() AS partition_key",
    )
    factory = MockClientFactory(store_dir=store)
    KinesisBatchWriter(factory).write_batch(df).collect()

    got = []
    for stream in ("stream_0", "stream_1"):
        rows = read_kinesis(spark, factory, stream).collect()
        got += [(r["stream"], bytes(r["data"]).decode()) for r in rows]
    assert sorted(got) == sorted(
        (f"stream_{i % 2}", f"payload_{i}") for i in range(500)
    )


def test_mock_client_parses_each_call_file_once(tmp_path, monkeypatch):
    """One client's multi-call drain opens each immutable call file
    once, not once per GetRecords."""
    store = str(tmp_path / "store")
    for c in range(3):
        _fill(store, "s1", [f"c{c}m{i}" for i in range(10)])
    opened = collections.Counter()
    real_open = open

    def counting_open(path, *a, **kw):
        opened[os.path.basename(path)] += 1
        return real_open(path, *a, **kw)

    monkeypatch.setattr(mock, "open", counting_open, raising=False)
    client = MockKinesisClient(store_dir=store)
    [shard] = list_shard_ids(client, "s1")
    recs = list(_drain_shard(client, "s1", shard, limit_per_call=4))
    assert len(recs) == 30  # 9 GetRecords calls
    assert opened == {n: 1 for n in os.listdir(store)}
    assert len(opened) == 3


def test_mock_client_log_follows_the_store(tmp_path):
    """The parse cache never hides a change of the store: a new call
    file appears and a deleted one drops out of the next read."""
    store = str(tmp_path / "store")
    _fill(store, "s1", ["a0", "a1"])
    _fill(store, "s2", ["b0"])
    client = MockKinesisClient(store_dir=store)
    assert [r["data"] for r in client._shard_log("s1")] == [b"a0", b"a1"]
    _fill(store, "s1", ["a2"])
    assert [r["data"] for r in client._shard_log("s1")] == [
        b"a0", b"a1", b"a2",
    ]
    first = sorted(os.listdir(store))[0]
    os.remove(os.path.join(store, first))
    assert [r["data"] for r in client._shard_log("s1")] == [b"a2"]
    assert [r["data"] for r in client._shard_log("s2")] == [b"b0"]


def test_mock_put_publishes_call_file_atomically(tmp_path):
    """A reader in the middle of a put_records write sees none or all
    of that call's records, never a prefix."""
    store = str(tmp_path / "store")
    mid_write = threading.Event()
    release = threading.Event()

    class Payload:
        def __init__(self, i):
            self.i = i

        def __bytes__(self):
            if self.i == 1:  # record 0 is already written
                mid_write.set()
                assert release.wait(30)
            return bytes([65 + self.i]) * 20_000  # > the write buffer

    writer = MockKinesisClient(store_dir=store)
    t = threading.Thread(
        target=writer.put_records,
        kwargs=dict(
            Records=[
                {"Data": Payload(i), "PartitionKey": f"pk{i}"}
                for i in range(3)
            ],
            StreamName="s1",
        ),
    )
    t.start()
    try:
        assert mid_write.wait(30)
        reader = MockKinesisClient(store_dir=store)
        seen_mid = len(reader._shard_log("s1"))
    finally:
        release.set()
        t.join(30)
    assert seen_mid in (0, 3)
    assert len(reader._shard_log("s1")) == 3


def test_roundtrip_queries_leave_no_detach_dirs(spark, sf_dir):
    """The roundtrip queries detach their result from the mock store
    without leaving a temp directory behind per call."""
    from frinesis_spark.sources.kinesis_query import QUERIES

    pattern = os.path.join(tempfile.gettempdir(), "kinesis_detach_*")
    before = set(glob.glob(pattern))
    results = collections.defaultdict(list)
    for _ in range(2):
        for name in ("source_kinesis_read", "source_kinesis_datasource"):
            rows = QUERIES[name](spark, sf_dir).collect()
            results[name].append(sorted(tuple(r) for r in rows))
    assert set(glob.glob(pattern)) - before == set()
    for runs in results.values():
        assert runs[0] == runs[1] and runs[0]


def test_read_roundtrip_reads_topics_from_writer_stats(spark, sf_dir):
    """source_kinesis_read takes the topics to read back from the
    writer's collected stats rows: its jobs are the sink write, the
    shard drains and the detach, with no distinct() scan of events."""
    from frinesis_spark.sources.kinesis_query import QUERIES

    sc = spark.sparkContext
    group = "kinesis_read_roundtrip_jobs"
    sc.setJobGroup(group, "source_kinesis_read job count")
    try:
        QUERIES["source_kinesis_read"](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # A distinct() over events to find the topics would add 2 jobs.
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 6


def test_datasource_roundtrip_topic_with_no_rows(spark, sf_dir, tmp_path):
    """A filtered topic with no events reads back an empty stream and
    yields no group — the oracle's GROUP BY, not an error."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from frinesis_spark.sources.kinesis_query import ORACLE, QUERIES

    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    assert pc.any(pc.equal(events["event_type"], "purchase")).as_py()
    events = events.filter(pc.not_equal(events["event_type"], "purchase"))
    path = str(tmp_path / "events.parquet")
    pq.write_table(events, path)
    got = sorted(
        tuple(r)
        for r in QUERIES["source_kinesis_datasource"](
            spark, str(tmp_path)
        ).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    want = sorted(con.execute(ORACLE["source_kinesis_datasource"]).fetchall())
    assert [g[0] for g in got] == ["view"]
    assert got == want
