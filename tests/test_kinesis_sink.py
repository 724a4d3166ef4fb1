"""Unit + end-to-end tests for the Kinesis sink port.

Ports the reference's unit-test scenarios (SURVEY.md §5.1,
batchproducer/batchproducer_test.go) onto :class:`BatchProducer` /
:class:`KinesisBatchWriter` with the same mocked-client tricks: the
``should_err`` whole-call failure knob, latency injection on a fake
clock, and the magic ``"fail"`` partition key for per-record errors
(batchproducer_test.go:810-842). The end-to-end test mirrors the
integration tests' order-insensitive multiset comparison of sent vs
received (integration_test.go:151-157).
"""

from __future__ import annotations

import threading

import pytest

from frinesis_spark.sinks.kinesis import (
    EVENTS_MAXLEN,
    MAX_KINESIS_BATCH_SIZE,
    MAX_REQUEST_BYTES,
    PIPELINE_WIDTH,
    BatchProducer,
    BufferFullError,
    ConfigError,
    KinesisBatchWriter,
    KinesisSinkConfig,
)
from frinesis_spark.sinks.mock import (
    FAIL_KEY,
    MockClientFactory,
    MockKinesisClient,
    read_back,
)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def advance(self, s):
        self.t += s


def make_producer(client=None, clock=None, **cfg_kwargs):
    client = client if client is not None else MockKinesisClient()
    clock = clock or FakeClock()
    cfg = KinesisSinkConfig(**cfg_kwargs)
    prod = BatchProducer(
        client, "test-stream", cfg, clock=clock, sleep=clock.advance
    )
    return prod, client, clock


# -- config validation (batchproducer_test.go:22-74) -------------------

@pytest.mark.parametrize(
    "kwargs",
    [
        {"batch_size": 0},
        {"batch_size": MAX_KINESIS_BATCH_SIZE + 1},
        {"buffer_size": 0},
        {"flush_interval_s": 0.01},
        {"max_attempts_per_record": 0},
    ],
)
def test_config_validation_rejects(kwargs):
    with pytest.raises(ConfigError):
        KinesisSinkConfig(**kwargs).validate()


def test_config_from_env():
    cfg = KinesisSinkConfig.from_env(
        {"KINESIS_FLUSH_TIMEOUT": "5", "KINESIS_BATCH_SIZE": "100"}
    )
    assert cfg.flush_timeout_s == 5.0
    assert cfg.batch_size == 100
    # defaults mirror the reference (batchproducer.go:118-121, sink.go:19)
    d = KinesisSinkConfig()
    assert (d.buffer_size, d.max_attempts_per_record, d.flush_timeout_s) == (
        10_000, 10, 30.0,
    )


# -- happy path: size-chunked egress (A4/A6) ---------------------------

def test_flush_chunks_at_500():
    together = threading.Barrier(3, timeout=5)
    passed = []

    class RoundClient(MockKinesisClient):
        def put_records(self, Records, StreamName):  # noqa: N803
            # passes only if all three requests are in flight together
            try:
                together.wait()
                passed.append(True)
            except threading.BrokenBarrierError:
                passed.append(False)
            return super().put_records(Records, StreamName)

    prod, client, _ = make_producer(client=RoundClient(), buffer_size=2000)
    for i in range(1200):
        prod.add(f"m{i}".encode())
    sent, remaining = prod.flush()
    assert (sent, remaining) == (1200, 0)
    # ≤500-record PutRecords chunks (batchproducer.go:15), sent as one
    # drain round, so their completion order is not fixed
    assert sorted(client.calls) == [200, 500, 500]
    assert passed == [True, True, True]
    assert prod.stats.records_sent == 1200


# -- A3: buffer-full policy (batchproducer_test.go:659-702) ------------

def test_add_errors_when_buffer_full():
    prod, _, _ = make_producer(buffer_size=3)
    for i in range(3):
        prod.add(b"x")
    with pytest.raises(BufferFullError):
        prod.add(b"overflow")


def test_add_blocks_drains_when_buffer_full():
    prod, client, _ = make_producer(
        buffer_size=3, batch_size=2, add_blocks_when_buffer_full=True
    )
    for i in range(10):
        prod.add(b"x")
    # inline drains made room; nothing lost
    sent, remaining = prod.flush()
    assert prod.stats.records_sent == 10
    assert remaining == 0


# -- A7: whole-batch error + exponential backoff (test.go:312-356) -----

def test_whole_batch_error_backoff_and_requeue():
    prod, client, clock = make_producer(buffer_size=100)
    client.should_err = True
    for i in range(5):
        prod.add(b"x")
    t0 = clock()
    assert prod._send_batch(500) == 0  # requeued, nothing left for good
    assert prod.consecutive_errors == 1
    assert prod.stats.kinesis_errors == 1
    assert len(prod._buffer) == 5  # requeued at the back
    prod._send_batch(500)  # second failure → 50ms backoff slept
    assert prod.consecutive_errors == 2
    assert clock() - t0 == pytest.approx(0.05)
    prod._send_batch(500)  # third → 100ms more (50 * 2^1)
    assert clock() - t0 == pytest.approx(0.15)
    # recovery resets the error run (batchproducer.go:367-368)
    client.should_err = False
    prod._send_batch(500)
    assert prod.consecutive_errors == 0
    assert prod.stats.records_sent == 5


# -- A8: per-record retry then drop (test.go:358-383) ------------------

def test_partial_failure_retries_then_drops():
    prod, client, _ = make_producer(max_attempts_per_record=3)
    prod.add(b"good1")
    prod.add(b"poison", partition_key="fail")
    prod.add(b"good2")
    sent, remaining = prod.flush()
    assert remaining == 0
    assert prod.stats.records_sent == 2
    assert prod.stats.records_dropped == 1
    # retried (max_attempts - 1) times before the drop
    assert prod.stats.retries == 2
    assert any("dropped record" in e for e in prod.stats.events)


# -- A9: overload shedding (batchproducer.go:354-357) ------------------

def test_shed_after_persistent_errors_with_full_buffer():
    prod, client, _ = make_producer(buffer_size=20, batch_size=5)
    client.should_err = True
    prod.consecutive_errors = 5  # already in a persistent error run
    for i in range(20):  # buffer exactly full → ≥95%
        prod._buffer.append((b"x", "pk", 0))
    done = prod._send_batch(5)
    assert done == 5  # in-flight batch shed, not requeued
    assert prod.stats.records_shed == 5
    assert len(prod._buffer) == 15


# -- A10: flush deadline (test.go:704-808) -----------------------------

def test_flush_timeout_leaves_remainder():
    clock = FakeClock()
    client = MockKinesisClient(sleep_for_s=1.0, advance_clock=clock.advance)
    prod, _, _ = make_producer(client=client, clock=clock, buffer_size=5000)
    for i in range(5000):
        prod.add(b"x")
    # each 500-chunk put costs 1s of fake time (a round of 4 costs 4s);
    # the deadline is checked before each round: rounds start at t=0
    # and t=4 < 5, the third would start at t=8 → 8 chunks
    sent, remaining = prod.flush(timeout_s=5.0)
    assert sent == 4000
    assert remaining == 1000


def test_flush_no_timeout_drains_fully():
    prod, _, _ = make_producer(buffer_size=5000)
    for i in range(1234):
        prod.add(b"x")
    sent, remaining = prod.flush()
    assert (sent, remaining) == (1234, 0)


# -- A15: stats emission ----------------------------------------------

def test_stats_receiver_called_on_flush():
    seen = []
    clock = FakeClock()
    cfg = KinesisSinkConfig()
    prod = BatchProducer(
        MockKinesisClient(), "s", cfg,
        stat_receiver=seen.append, clock=clock, sleep=clock.advance,
    )
    prod.add(b"x")
    prod.flush(send_stats=True)
    assert len(seen) == 1 and seen[0].records_sent == 1


# -- end-to-end over Spark (A1/A2/A11 + multiset delivery check) -------

def test_writer_end_to_end_multiset(spark, tmp_path):
    store = str(tmp_path / "delivered")
    df = spark.range(0, 1000).selectExpr(
        "concat('topic_', id % 3) AS topic",
        "cast(concat('payload_', id) as binary) AS data",
        "uuid() AS partition_key",
    )
    writer = KinesisBatchWriter(MockClientFactory(store_dir=store))
    stats = {r["topic"]: r for r in writer.write_batch(df).collect()}
    assert sum(r["n_sent"] for r in stats.values()) == 1000
    assert all(r["n_remaining"] == 0 for r in stats.values())
    # order-insensitive multiset compare (integration_test.go:151-157)
    delivered = read_back(store)
    assert sorted(d["data"].decode() for d in delivered) == sorted(
        f"payload_{i}" for i in range(1000)
    )
    # per-topic stream routing (A1): payload i went to stream i%3
    assert {(d["stream"], d["data"].decode()) for d in delivered} == {
        (f"topic_{i % 3}", f"payload_{i}") for i in range(1000)
    }


def test_writer_raises_on_undelivered(spark):
    df = spark.range(0, 10).selectExpr(
        "'t' AS topic",
        "cast(cast(id as string) as binary) AS data",
        "uuid() AS partition_key",
    )
    # every call errors; tiny deadline → records remain → batch must fail
    writer = KinesisBatchWriter(
        MockClientFactory(should_err=True),
        KinesisSinkConfig(
            flush_timeout_s=0.2,
            backoff_initial_s=0.05,
            # the writer REQUIRES the blocking policy (it rejects a
            # guaranteed-failure non-blocking config at construction)
            add_blocks_when_buffer_full=True,
        ),
    )
    with pytest.raises(Exception, match="undelivered"):
        writer(df, epoch_id=0)


def test_streaming_restart_from_checkpoint(spark, tmp_path):
    """A12: restart a stopped query from the same checkpoint and keep
    delivering (sink.go:130-140 ≙ checkpoint-restart, SURVEY §1.3)."""
    src = str(tmp_path / "src")
    store = str(tmp_path / "delivered")
    ckpt = str(tmp_path / "ckpt")
    df0 = spark.range(0, 50).selectExpr(
        "'t' AS topic",
        "cast(cast(id as string) as binary) AS data",
        "uuid() AS partition_key",
    )
    df0.write.parquet(src + "/b0")

    writer = KinesisBatchWriter(MockClientFactory(store_dir=store))
    schema = "topic string, data binary, partition_key string"

    def run_once():
        q = (
            spark.readStream.schema(schema).parquet(src + "/*")
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert len(read_back(store)) == 50
    # new data lands while "stopped"; restart picks up only the delta
    spark.range(50, 80).selectExpr(
        "'t' AS topic",
        "cast(cast(id as string) as binary) AS data",
        "uuid() AS partition_key",
    ).write.parquet(src + "/b1")
    run_once()
    assert len(read_back(store)) == 80


def test_stats_ticker_emits_during_slow_drain():
    """A15 periodic emission (StatInterval, batchproducer.go:235-239,
    :458-470): a long drain surfaces >= 2 snapshots WHILE running, not
    just the end-of-flush one — ported from the stats-timing scenarios
    of batchproducer_test.go:385-571."""
    snapshots = []
    clock = FakeClock()
    client = MockKinesisClient(sleep_for_s=0.7, advance_clock=clock.advance)
    cfg = KinesisSinkConfig(buffer_size=5000, stat_interval_s=1.0)
    prod = BatchProducer(
        client,
        "t",
        cfg,
        stat_receiver=lambda s: snapshots.append(s.records_sent),
        clock=clock,
        sleep=clock.advance,
    )
    for i in range(3000):  # 6 put calls x 0.7s = 4.2s of drain
        prod.add(b"x")
    sent, remaining = prod.flush()  # no end-of-flush emission (send_stats off)
    assert (sent, remaining) == (3000, 0)
    # ticks at t>=1.0, >=2.1, >=3.5 → at least 2 mid-drain snapshots,
    # with strictly growing progress visible to the consumer
    assert len(snapshots) >= 2
    assert snapshots == sorted(snapshots)
    assert snapshots[-1] < 3000 or len(snapshots) > 1


def test_backoff_is_capped():
    """Uncapped 0.05*2^(n-1) reaches 25.6s at n=10; the cap bounds any
    single backoff sleep at backoff_max_s."""
    prod, client, clock = make_producer(buffer_size=100, backoff_max_s=2.0)
    client.should_err = True
    prod.add(b"x")
    for _ in range(12):
        prod._send_batch(500)
    t0 = clock()
    prod._send_batch(500)  # 13th failure: uncapped would be ~204s
    assert clock() - t0 == pytest.approx(2.0)


def test_backoff_clamped_to_flush_deadline():
    """A deep error run must not sleep past the drain deadline: flush()
    with timeout_s returns within ~the budget even while every call
    fails (the deadline is real, not advisory)."""
    prod, client, clock = make_producer(buffer_size=100, backoff_max_s=60.0)
    client.should_err = True
    prod.consecutive_errors = 10  # next uncapped delay: 25.6s
    for i in range(5):
        prod.add(b"x")
    t0 = clock()
    sent, remaining = prod.flush(timeout_s=3.0)
    assert sent == 0 and remaining == 5
    # slept at most to the deadline + one final (unslept) attempt
    assert clock() - t0 <= 3.0 + 1e-6


def test_malformed_response_requeues_batch():
    """PutRecords answering fewer results than request records is a
    broken client contract: the batch must be requeued (counted as a
    call failure), never zip-truncated into silent loss."""

    class ShortResponseClient:
        def __init__(self):
            self.calls = 0

        def put_records(self, Records, StreamName):  # noqa: N803
            self.calls += 1
            if self.calls == 1:
                return {
                    "FailedRecordCount": 1,
                    "Records": [
                        {"ErrorCode": "InternalFailure", "ErrorMessage": "x"}
                    ],  # 1 result for len(Records) records
                }
            return {
                "FailedRecordCount": 0,
                "Records": [
                    {"SequenceNumber": "1", "ShardId": "shard-0"}
                    for _ in Records
                ],
            }

    clock = FakeClock()
    client = ShortResponseClient()
    prod = BatchProducer(
        client, "t", KinesisSinkConfig(), clock=clock, sleep=clock.advance
    )
    for i in range(5):
        prod.add(f"m{i}".encode())
    assert prod._send_batch(500) == 0  # malformed → whole-call failure
    assert prod.stats.kinesis_errors == 1
    assert prod.consecutive_errors == 1
    assert len(prod._buffer) == 5  # all requeued, nothing lost
    assert any("malformed" in e for e in prod.stats.events)
    sent, remaining = prod.flush()
    assert (sent, remaining) == (5, 0)  # healthy retry delivers all


# -- observed-log assertions (batchproducer_test.go:573-657) -----------
# The reference pins its zap log text with an observed logger; the
# Python port pins the same three messages through caplog on the
# frinesis_spark.sinks.kinesis logger (r6 verdict "missing" #4).


def test_log_message_when_kinesis_succeeds(caplog):
    """≙ TestLogMessageWhenKinesisSucceeds (test:573-589)."""
    import logging

    prod, client, _ = make_producer()
    for _ in range(20):
        prod.add(b"payload")
    # Debug, matching the reference's level for the hot-path success
    # line (batchproducer.go:372).
    with caplog.at_level(logging.DEBUG, logger="frinesis_spark.sinks.kinesis"):
        sent, remaining = prod.flush(timeout_s=5)
    assert sent == 20 and remaining == 0
    assert any(
        "PutRecords request succeeded: sent 20 records to Kinesis stream"
        in r.message
        for r in caplog.records
    ), [r.message for r in caplog.records]


def test_log_message_when_kinesis_errors(caplog):
    """≙ TestReturnEventWhenKinesisReturnsError (test:592-607): the
    'oh noes' failure surfaces on BOTH channels — the stats events
    list (already covered elsewhere) and the log line pinned here."""
    import logging

    prod, client, _ = make_producer(
        client=MockKinesisClient(should_err=True),
        max_attempts_per_record=1,
        flush_timeout_s=1,
    )
    prod.add(b"payload")
    with caplog.at_level(logging.ERROR, logger="frinesis_spark.sinks.kinesis"):
        prod.flush(timeout_s=1)
    assert any(
        "PutRecords request failed" in r.message and "oh noes" in r.message
        for r in caplog.records
    ), [r.message for r in caplog.records]


def test_log_message_when_some_records_fail(caplog):
    """≙ TestLogMessageWhenSomeRecordsFail (test:609-642): a batch with
    one magic fail-key record logs the partial-success line with the
    split counts."""
    import logging

    prod, client, _ = make_producer(max_attempts_per_record=2)
    for _ in range(19):
        prod.add(b"payload")
    prod.add(b"payload", partition_key=FAIL_KEY)
    with caplog.at_level(
        logging.DEBUG, logger="frinesis_spark.sinks.kinesis"
    ):
        prod.flush(timeout_s=5)
    assert any(
        "Partial success when sending a PutRecords request" in r.message
        and "19 succeeded, 1 failed" in r.message
        for r in caplog.records
    ), [r.message for r in caplog.records]


def test_log_message_when_record_dropped(caplog):
    """≙ the reference's pinned drop message (batchproducer.go:450-452,
    test:609-657): permanent data loss must reach the LOG, not only
    stats.events."""
    import logging

    prod, client, _ = make_producer(max_attempts_per_record=1)
    prod.add(b"payload", partition_key=FAIL_KEY)
    with caplog.at_level(logging.ERROR, logger="frinesis_spark.sinks.kinesis"):
        prod.flush(timeout_s=5)
    assert prod.stats.records_dropped == 1
    assert any(
        "Dropping failed record; it has hit 1 attempts which is the maximum"
        in r.message
        for r in caplog.records
    ), [r.message for r in caplog.records]


def test_flush_timeout_zero_means_no_deadline():
    """The reference contract: 'A timeout value of 0 means no timeout'
    (batchproducer.go:39) — flush(0) drains FULLY instead of creating
    an already-expired deadline that sends nothing."""
    prod, client, _ = make_producer()
    for _ in range(7):
        prod.add(b"payload")
    sent, remaining = prod.flush(timeout_s=0)
    assert sent == 7 and remaining == 0


def test_writer_rejects_non_blocking_config():
    """A custom config without the blocking buffer policy is a
    guaranteed-failure setup in the synchronous writer (no concurrent
    drainer) — rejected at construction like the reference's New()
    validation (batchproducer.go:147-149)."""
    import pytest as _pytest

    from frinesis_spark.sinks.kinesis import ConfigError

    with _pytest.raises(ConfigError, match="add_blocks_when_buffer_full"):
        KinesisBatchWriter(
            MockClientFactory(), KinesisSinkConfig(batch_size=100)
        )


def test_stat_snapshots_do_not_alias():
    """Each stats emission is a BY-VALUE snapshot: a monitoring
    consumer that stores every snapshot must see the per-emit values,
    not three references to one mutating object."""
    snaps = []
    prod, client, _ = make_producer()
    prod.stat_receiver = snaps.append
    prod.add(b"a")
    prod.flush(timeout_s=5, send_stats=True)
    prod.add(b"b")
    prod.add(b"c")
    prod.flush(timeout_s=5, send_stats=True)
    assert len(snaps) == 2
    assert snaps[0].records_sent == 1  # frozen at first emission
    assert snaps[1].records_sent == 3


def test_payload_type_dispatch():
    """String payloads encode UTF-8; integer columns fail loudly
    instead of fabricating zero bytes."""
    import pytest as _pytest

    from frinesis_spark.sinks.kinesis import _payload_bytes

    assert _payload_bytes(None) == b""
    assert _payload_bytes("héllo") == "héllo".encode()
    assert _payload_bytes(b"\x00raw") == b"\x00raw"
    assert _payload_bytes(bytearray(b"ba")) == b"ba"
    with _pytest.raises(TypeError, match="int"):
        _payload_bytes(7)


# -- drain rounds: up to PIPELINE_WIDTH requests in flight together ----


def test_round_bounds_requests_and_bytes_in_flight():
    """No round has more than PIPELINE_WIDTH requests or more than
    MAX_REQUEST_BYTES of payload in flight. Each call waits at a gate
    until the round's other requests can join it (or 50 ms pass), so
    the counting client sees every request a round keeps in flight."""
    gate = threading.Condition()
    state = {"n": 0, "bytes": 0, "max_n": 0, "max_bytes": 0}

    class CountingClient(MockKinesisClient):
        def put_records(self, Records, StreamName):  # noqa: N803
            size = sum(len(r["Data"]) + len(r["PartitionKey"]) for r in Records)
            with gate:
                state["n"] += 1
                state["bytes"] += size
                state["max_n"] = max(state["max_n"], state["n"])
                state["max_bytes"] = max(state["max_bytes"], state["bytes"])
                gate.notify_all()
                gate.wait_for(lambda: state["n"] >= PIPELINE_WIDTH, timeout=0.05)
            try:
                return super().put_records(Records, StreamName)
            finally:
                with gate:
                    state["n"] -= 1
                    state["bytes"] -= size

    prod, client, _ = make_producer(client=CountingClient(), buffer_size=10_000)
    for i in range(5000):  # ten 500-record requests: rounds of 4, 4, 2
        prod.add(b"s" * 100, f"k{i}")
    for i in range(20):  # 20 × 0.6 MB: one request (~4.8 MB) per round
        prod.add(b"L" * 600_000, f"L{i}")
    sent, remaining = prod.flush(timeout_s=60)
    assert (sent, remaining) == (5020, 0)
    assert state["max_n"] == PIPELINE_WIDTH
    assert 4_000_000 < state["max_bytes"] <= MAX_REQUEST_BYTES
    assert len(client.calls) == 10 + 3  # the round cap split no request


def test_shed_counts_round_in_flight_records():
    """A9 fullness counts every record of the round not settled yet:
    when the first of four failed requests is handled, the other three
    are still in flight, so the buffer counts as full and that request
    is shed — exactly what four serial calls would have done."""
    prod, client, _ = make_producer(buffer_size=20)
    client.should_err = True
    prod.consecutive_errors = 5  # already in a persistent error run
    for i in range(20):  # buffer exactly full → ≥95%
        prod._buffer.append((b"x", f"pk{i}", 0))
    assert prod._send_batch(5, width=4) == 5
    assert len(client.calls) == 4
    assert prod.stats.records_shed == 5
    # the other three failed requests were requeued, in order
    assert [pk for _, pk, _ in prod._buffer] == [f"pk{i}" for i in range(5, 20)]


def test_requeue_order_does_not_depend_on_completion_order():
    """Responses are handled in submission order, so the requeued
    records land at the back in the same order however the concurrent
    calls happen to finish."""
    import time

    def run(delays):
        class SlowClient(MockKinesisClient):
            def put_records(self, Records, StreamName):  # noqa: N803
                time.sleep(delays[int(Records[0]["Data"][1:]) // 500])
                return super().put_records(Records, StreamName)

        prod, _, _ = make_producer(client=SlowClient(), buffer_size=10_000)
        for i in range(2000):
            prod.add(b"x", FAIL_KEY if i % 7 == 0 else f"k{i}")
        # tag the failing records so their order is visible
        prod._buffer = [
            (f"m{i}".encode(), pk, a) for i, (_, pk, a) in enumerate(prod._buffer)
        ]
        assert prod._send_batch(500, width=4) == 2000 - 286
        return [(data, attempts) for data, _, attempts in prod._buffer]

    expected = [(f"m{i}".encode(), 1) for i in range(0, 2000, 7)]
    assert run([0.0, 0.01, 0.02, 0.03]) == expected
    assert run([0.03, 0.02, 0.01, 0.0]) == expected


def test_no_put_starts_after_flush_deadline():
    """The deadline is checked before each round and again after its
    backoff sleep: a backoff clamped to the deadline sends nothing."""
    clock = FakeClock()
    starts = []

    class FailingClient:
        def put_records(self, Records, StreamName):  # noqa: N803
            starts.append(clock())
            raise RuntimeError("oh noes")

    prod, _, _ = make_producer(
        client=FailingClient(), clock=clock, buffer_size=5000, backoff_max_s=2.0
    )
    for i in range(2000):
        prod.add(b"x")
    sent, remaining = prod.flush(timeout_s=3.0)
    assert (sent, remaining) == (0, 2000)
    # rounds at t=0, t=0.4 (50ms·2³ backoff) and t=2.4 (capped 2s); the
    # fourth round's backoff is clamped to 0.6s and ends at the deadline
    assert starts == pytest.approx([0.0] * 4 + [0.4] * 4 + [2.4] * 4)
    assert clock() == pytest.approx(3.0)


def test_events_stay_bounded_under_sustained_throttling():
    """ProducerStats.events keeps the newest EVENTS_MAXLEN messages
    while the counters stay exact; every tick's snapshot is bounded."""
    snaps = []
    prod, client, clock = make_producer(buffer_size=100, backoff_max_s=2.0)
    prod.stat_receiver = snaps.append
    client.should_err = True
    for i in range(5):
        prod.add(b"x")
    n = EVENTS_MAXLEN + 500
    for _ in range(n):
        prod._send_batch(500)
    s = prod.stats
    assert s.put_calls == s.kinesis_errors == n
    assert s.events_total == 2 * n - 1  # an error per call, a backoff per retry
    assert len(s.events) == EVENTS_MAXLEN
    assert s.events[-1] == "put_records error: oh noes"
    assert len(snaps) >= n - 10  # the capped 2s backoff ticks every round
    assert max(len(snap.events) for snap in snaps) == EVENTS_MAXLEN
    assert snaps[-1].events_total <= s.events_total
    assert len(prod._buffer) == 5 and s.records_shed == 0


def _child_flush() -> None:
    prod, _, _ = make_producer(buffer_size=2000)
    for i in range(1200):
        prod.add(b"x")
    assert prod.flush(timeout_s=10) == (1200, 0)


def test_forked_child_flushes_after_parent_fanned_out():
    """A child forked after the parent used the shared put pool must
    not inherit a pool whose threads did not survive the fork: with the
    pool at full size and idle, its executor would start no thread for
    the child's requests and the child's flush would wait forever."""
    import multiprocessing
    import time

    class SlowClient(MockKinesisClient):
        def put_records(self, Records, StreamName):  # noqa: N803
            time.sleep(0.02)  # overlapping calls bring the pool to full size
            return super().put_records(Records, StreamName)

    prod, client, _ = make_producer(client=SlowClient(), buffer_size=2000)
    for i in range(2000):
        prod.add(b"x")
    assert prod.flush() == (2000, 0)
    assert len(client.calls) == PIPELINE_WIDTH  # one round
    child = multiprocessing.get_context("fork").Process(target=_child_flush)
    child.start()
    child.join(timeout=30)
    if child.exitcode is None:
        child.kill()
        child.join()
        pytest.fail("forked child hung in flush")
    assert child.exitcode == 0


def test_concurrent_producers_share_the_put_pool():
    """More producer threads than cores drain at once through the one
    shared pool, with a short switch interval; every producer's own
    counters stay exact because only put_records leaves its thread."""
    import sys

    def drain(i, out):
        prod, client, _ = make_producer(
            buffer_size=3000, max_attempts_per_record=2
        )
        for j in range(2000 + i):
            prod.add(b"x", FAIL_KEY if j % 10 == 0 else f"k{j}")
        out[i] = (prod.flush(timeout_s=60), prod.stats, client.calls)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out: dict = {}
        threads = [
            threading.Thread(target=drain, args=(i, out)) for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    for i in range(8):
        (sent, remaining), stats, calls = out[i]
        n_fail = len(range(0, 2000 + i, 10))
        assert (sent, remaining) == (2000 + i - n_fail, 0)
        assert stats.records_dropped == stats.retries == n_fail
        assert sum(calls) == 2000 + i + n_fail
        assert stats.put_calls == len(calls)
