"""Kinesis batched sink — the PySpark port of the reference library's
entire capability surface (SURVEY.md §2A, A1–A17).

The reference is a Go Kinesis sink for the Frizzle bus: per-topic
producers buffer opaque byte records and flush them via ``PutRecords``
with size+time batching, retry, backoff, shedding and a drain deadline
(/root/reference/sink.go, /root/reference/batchproducer/batchproducer.go).

Spark mapping (SURVEY.md §1.3, §3.4):

- the hand-rolled run loop / goroutines (A13) → Structured Streaming's
  micro-batch loop + executor parallelism; the drain goroutine's
  overlap of network waits with buffering → drain rounds, up to
  ``PIPELINE_WIDTH`` PutRecords requests in flight at once (see
  :class:`BatchProducer`; the client must be safe to call from several
  threads, which boto3 low-level clients are);
- time-triggered flush (A5) → ``trigger(processingTime=...)``;
- everything PutRecords-specific (A4, A6–A11) lives in
  :class:`BatchProducer` below — plain Python running inside
  ``foreachPartition``-style tasks, because Spark task retry cannot
  express per-record retry/backoff/shedding semantics;
- partition-key generation (A16) → ``uuid()`` column;
- client construction + endpoint override (A17) → env-configured
  boto3 factory with a localstack-style ``endpoint_url``.

Delivery semantics are the reference's: **at-least-once, unordered**
(random partition keys + requeue-at-back, batchproducer.go:360,
:425-426); foreachBatch replays on failure give exactly the same
guarantee — documented, not fought.
"""

from __future__ import annotations

import dataclasses
import logging
import os
import threading
import time
import uuid
from collections import deque
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

# Task-local logger mirroring the reference's zap logger surface
# (batchproducer.go logs alongside the Events channel; its observed-
# logger tests pin the message text — batchproducer_test.go:573-657).
# The three pinned messages below keep the same key phrases so an
# operator grepping either engine's logs finds the same lines.
_LOG = logging.getLogger(__name__)

# Kinesis hard API cap, mirrored by the reference
# (batchproducer.go:15, validated :143-145).
MAX_KINESIS_BATCH_SIZE = 500

# PutRecords API byte limits: 1 MiB per record (data + partition key),
# 5 MiB per request. Without byte accounting an oversize batch fails
# ValidationException on EVERY attempt and is requeued with attempts
# unchanged — a deterministic retry livelock the record-count cap
# cannot prevent (r9 review wave 8). A single record over the 1 MiB
# limit can never be delivered at all: it is dropped with the same
# data-loss logging as the max-attempts drop path.
MAX_RECORD_BYTES = 1_048_576
MAX_REQUEST_BYTES = 5 * 1_048_576

# PutRecords requests one flush round keeps in flight (the caller's
# thread sends one, the shared pool the rest). A round also stops at
# MAX_REQUEST_BYTES of total payload, which bounds the bytes in flight.
PIPELINE_WIDTH = 4

# Newest event messages a producer keeps (ProducerStats.events).
EVENTS_MAXLEN = 1000


class BufferFullError(RuntimeError):
    """Raised by Add when the buffer is full and AddBlocksWhenBufferFull
    is false (batchproducer.go:197-202)."""


class ConfigError(ValueError):
    """Invalid producer configuration (batchproducer.go:143-153)."""


@dataclass
class KinesisSinkConfig:
    """Producer configuration — field-for-field port of the reference's
    ``batchproducer.Config`` defaults (batchproducer.go:74-121) plus the
    sink-level flush timeout (sink.go:19, :44-47)."""

    batch_size: int = MAX_KINESIS_BATCH_SIZE
    buffer_size: int = 10_000
    flush_interval_s: float = 1.0
    max_attempts_per_record: int = 10
    add_blocks_when_buffer_full: bool = False
    flush_timeout_s: float = 30.0
    # A9 shedding knobs (hardcoded in the reference, batchproducer.go:354-357).
    shed_after_consecutive_errors: int = 5
    shed_buffer_ratio: float = 0.95
    # A7 backoff (batchproducer.go:334-344). Capped: uncapped doubling
    # reaches 25.6s at 10 consecutive errors and would blow straight
    # through any drain deadline.
    backoff_initial_s: float = 0.05
    backoff_max_s: float = 2.0
    # A15: periodic stats emission during drains (StatInterval,
    # batchproducer.go:235-239, :458-470).
    stat_interval_s: float = 1.0
    # r15: fallback partition-key strategy when the caller supplies no
    # key. "uuid" is the reference's only behavior (A16 — a fresh
    # UUIDv4 per record, sink.go:76 / utils.go:16-19), which spreads
    # shards evenly only IN EXPECTATION. "round_robin" cycles a fixed
    # per-topic pool of ``round_robin_width`` keys deterministically —
    # exactly-even traffic per key, bounded key cardinality (what
    # KPL-style per-key aggregation and per-key throughput metrics
    # want), and replay-stable keys. Valid ONLY under the orderless
    # delivery contract this sink already declares: records for one
    # entity land on rotating shards, so any per-key ordering
    # requirement must pass explicit keys instead.
    partition_key_mode: str = "uuid"
    round_robin_width: int = 64

    def validate(self) -> None:
        if self.partition_key_mode not in ("uuid", "round_robin"):
            raise ConfigError(
                "partition_key_mode must be 'uuid' (A16 per-record "
                f"UUIDv4) or 'round_robin', got {self.partition_key_mode!r}"
            )
        if self.round_robin_width < 1:
            raise ConfigError("round_robin_width must be >= 1")
        if not 1 <= self.batch_size <= MAX_KINESIS_BATCH_SIZE:
            raise ConfigError(
                f"batch_size must be in [1, {MAX_KINESIS_BATCH_SIZE}]"
            )
        if self.buffer_size < 1:
            raise ConfigError("buffer_size must be >= 1")
        if self.flush_interval_s < 0.05:
            raise ConfigError("flush_interval_s must be >= 50ms")
        if self.max_attempts_per_record < 1:
            raise ConfigError("max_attempts_per_record must be >= 1")
        if self.flush_timeout_s < 0:
            raise ConfigError(
                "flush_timeout_s must be >= 0 (0 = no deadline, the "
                "reference's 'timeout value of 0 means no timeout')"
            )
        if self.stat_interval_s <= 0:
            raise ConfigError("stat_interval_s must be > 0")
        if self.shed_after_consecutive_errors < 1:
            raise ConfigError("shed_after_consecutive_errors must be >= 1")
        if not 0 < self.shed_buffer_ratio <= 1:
            raise ConfigError("shed_buffer_ratio must be in (0, 1]")
        if self.backoff_initial_s <= 0:
            raise ConfigError("backoff_initial_s must be > 0")
        if self.backoff_max_s < self.backoff_initial_s:
            raise ConfigError("backoff_max_s must be >= backoff_initial_s")

    @classmethod
    def from_env(cls, env: dict | None = None) -> "KinesisSinkConfig":
        """Env-based config mirroring the reference's Viper keys
        (utils.go:23-46; README.md config table)."""
        e = os.environ if env is None else env
        cfg = cls()
        if "KINESIS_FLUSH_TIMEOUT" in e:
            cfg.flush_timeout_s = float(e["KINESIS_FLUSH_TIMEOUT"])
        if "KINESIS_BATCH_SIZE" in e:
            cfg.batch_size = int(e["KINESIS_BATCH_SIZE"])
        if "KINESIS_BUFFER_SIZE" in e:
            cfg.buffer_size = int(e["KINESIS_BUFFER_SIZE"])
        if "KINESIS_MAX_ATTEMPTS" in e:
            cfg.max_attempts_per_record = int(e["KINESIS_MAX_ATTEMPTS"])
        cfg.validate()
        return cfg


def make_boto3_client_factory(env: dict | None = None) -> Callable[[], object]:
    """A17 port: build a boto3 kinesis client from env config.

    ``AWS_REGION_NAME`` is required (utils.go:24-26); an optional
    ``KINESIS_ENDPOINT`` (localstack) gets ``http://`` defaulting and
    dummy credentials (utils.go:33-37, :57-73). Returned as a factory
    so each executor task builds its own client lazily (A2's
    one-producer-per-topic becomes one-client-per-task).
    """
    e = dict(os.environ if env is None else env)

    def factory():
        try:
            import boto3  # noqa: PLC0415
        except ImportError as exc:  # pragma: no cover - env without boto3
            raise RuntimeError(
                "boto3 is not installed; inject a client_factory (e.g. the "
                "mock in frinesis_spark.sinks.mock) instead"
            ) from exc

        region = e.get("AWS_REGION_NAME")
        if not region:
            raise ConfigError("AWS_REGION_NAME is required")
        endpoint = e.get("KINESIS_ENDPOINT")
        kwargs: dict = {"region_name": region}
        if endpoint:
            if "://" not in endpoint:
                endpoint = "http://" + endpoint
            kwargs.update(
                endpoint_url=endpoint,
                aws_access_key_id="dummy",
                aws_secret_access_key="dummy",
            )
        return boto3.client("kinesis", **kwargs)

    return factory


def generate_partition_key() -> str:
    """A16 port: fresh UUIDv4 per record (utils.go:16-19)."""
    return str(uuid.uuid4())


@dataclass
class ProducerStats:
    """StatsBatch port (batchproducer.go:58-66) + event log (A14/A15).

    ``events`` keeps the newest ``EVENTS_MAXLEN`` messages, so a
    long-lived producer under sustained failure holds bounded memory and
    every stats snapshot copies a bounded log; ``events_total`` counts
    every event ever recorded."""

    records_sent: int = 0
    records_dropped: int = 0
    records_shed: int = 0
    kinesis_errors: int = 0
    put_calls: int = 0
    retries: int = 0
    buffer_size: int = 0
    events: deque = field(default_factory=lambda: deque(maxlen=EVENTS_MAXLEN))
    events_total: int = 0


def _put_pool() -> ThreadPoolExecutor:
    """The process-wide pool that runs a drain round's requests beyond
    the first, created on first use. Process-wide, not per producer:
    producers have no close(), and a Spark task makes one per topic, so
    per-producer pools would leave threads behind."""
    global _pool
    with _pool_lock:
        if _pool is None:
            _pool = ThreadPoolExecutor(
                max_workers=PIPELINE_WIDTH - 1, thread_name_prefix="kinesis-put"
            )
        return _pool


def _forget_pool_in_child() -> None:
    # A forked child (a Spark Python worker, a multiprocessing producer)
    # inherits the pool object but none of its threads: submitted work
    # would queue forever. The child builds its own pool on first use.
    global _pool, _pool_lock
    _pool = None
    _pool_lock = threading.Lock()


_pool: ThreadPoolExecutor | None = None
_pool_lock = threading.Lock()
os.register_at_fork(after_in_child=_forget_pool_in_child)


class BatchProducer:
    """Port of the reference's buffered batch producer
    (batchproducer/batchproducer.go).

    The Go original drains on a background goroutine while ``Add``
    keeps buffering (A13). Under Spark the micro-batch scheduler
    decides when to drain, so this port drains from the caller's
    thread: ``add`` buffers (A3), ``flush`` drains with an optional
    deadline (A10). The goroutine's overlap survives as *drain rounds*:
    each round takes up to ``PIPELINE_WIDTH`` requests off the buffer
    (≤500 records and ≤5 MiB each, and ≤5 MiB for the whole round) and
    keeps them in flight together. The caller's thread sends the first
    request and a small shared pool sends the rest; only
    ``client.put_records`` runs off the caller's thread. Responses are
    handled on the caller's thread in submission order, so the buffer,
    stats, events and logs are only ever touched by one thread.
    ``_handle_response`` implements the partial-failure split (A6),
    exponential backoff accounting (A7), per-record retry/drop (A8) and
    overload shedding (A9). ``add``'s blocking drain is a round of
    width 1.

    Client contract: ``client.put_records`` must be safe to call from
    several threads at once. boto3 low-level clients are.

    ``clock``/``sleep`` are injectable for deterministic tests — the
    same trick as the reference's mocked client + latency knobs
    (batchproducer_test.go:810-842).
    """

    def __init__(
        self,
        client,
        stream_name: str,
        config: KinesisSinkConfig | None = None,
        stat_receiver: Callable[[ProducerStats], None] | None = None,
        clock: Callable[[], float] = time.monotonic,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.config = config or KinesisSinkConfig()
        self.config.validate()
        self.client = client
        self.stream_name = stream_name
        self.stat_receiver = stat_receiver
        self.clock = clock
        self.sleep = sleep
        # buffered records: (data: bytes, partition_key: str, attempts: int)
        self._buffer: list[tuple[bytes, str, int]] = []
        self.consecutive_errors = 0
        self.stats = ProducerStats()
        # A15 ticker: last periodic stats emission (clock units).
        self._last_stat_emit = self.clock()
        # r15 round-robin key fallback: per-producer (= per-topic)
        # cycle position; keys are a pure function of (topic, slot) so
        # a foreachBatch replay regenerates the identical key stream.
        self._rr_slot = 0

    # -- A3: buffered ingest with backpressure policy ------------------
    def add(self, data: bytes, partition_key: str | None = None) -> None:
        if partition_key is None:
            if self.config.partition_key_mode == "round_robin":
                partition_key = (
                    f"rr-{self.stream_name}-"
                    f"{self._rr_slot % self.config.round_robin_width}"
                )
                self._rr_slot += 1
            else:
                partition_key = generate_partition_key()
        if len(self._buffer) >= self.config.buffer_size:
            if not self.config.add_blocks_when_buffer_full:
                raise BufferFullError(
                    f"buffer full ({self.config.buffer_size} records)"
                )
            # "Blocking" in the synchronous port = drain one batch inline
            # (the goroutine that would drain concurrently is replaced by
            # the caller's thread; semantics: add() returns only once
            # capacity exists, same as batchproducer.go:199-201).
            while len(self._buffer) >= self.config.buffer_size:
                self._send_batch(self.config.batch_size)
        self._buffer.append((data, partition_key, 0))

    # -- A10: drain with deadline --------------------------------------
    def flush(
        self, timeout_s: float | None = None, send_stats: bool = False
    ) -> tuple[int, int]:
        """Send rounds of max-size batches until empty or deadline;
        returns (records_sent_now, records_remaining) — Flush's contract
        (batchproducer.go:290-319). A timeout of 0 — like None — means
        NO deadline (the reference: 'A timeout value of 0 means no
        timeout', batchproducer.go:39); an un-deadlined flush retries
        with backoff indefinitely under persistent failure, exactly
        like the reference's drain loop, with the A9 shed path as the
        only give-up (callers wanting bounded time pass a deadline,
        as the Spark writer always does)."""
        deadline = None if not timeout_s else self.clock() + timeout_s
        sent_before = self.stats.records_sent
        while self._buffer:
            if deadline is not None and self.clock() >= deadline:
                break
            self._send_batch(
                MAX_KINESIS_BATCH_SIZE, deadline=deadline, width=PIPELINE_WIDTH
            )
        if send_stats:
            self._emit_stats()
        return self.stats.records_sent - sent_before, len(self._buffer)

    # -- A4/A7: one drain round of PutRecords round-trips ---------------
    def _send_batch(
        self, batch_size: int, deadline: float | None = None, width: int = 1
    ) -> int:
        """One drain round: up to ``width`` requests of ≤batch_size
        records in flight together. Returns how many records left the
        buffer for good (sent or dropped). ``deadline`` (clock units)
        bounds the backoff sleep, and no request starts once it has
        passed, so a drain deadline stays a real deadline."""
        if not self._buffer:
            return 0

        # A7: exponential backoff while in an error run
        # (batchproducer.go:334-344): 50ms doubling per consecutive
        # error, capped at backoff_max_s, and clamped to the remaining
        # flush deadline — a deep error run must not sleep past it. The
        # exponent stops at 1023, the largest a float power of two takes:
        # past ~1025 consecutive errors 2 ** n no longer converts.
        if self.consecutive_errors > 0:
            delay = min(
                self.config.backoff_initial_s
                * 2.0 ** min(self.consecutive_errors - 1, 1023),
                self.config.backoff_max_s,
            )
            if deadline is not None:
                delay = min(delay, max(0.0, deadline - self.clock()))
            self._event(
                f"backoff {delay * 1000:.0f}ms after "
                f"{self.consecutive_errors} consecutive errors"
            )
            if delay > 0:
                self.sleep(delay)
            if deadline is not None and self.clock() >= deadline:
                return 0

        # A15: tick at the start of every round and after every handled
        # response (success or error run), so slow AND failing drains
        # both surface periodic snapshots.
        self._tick_stats()

        batches, done = self._take_round(batch_size, width)
        if not batches:
            # Everything taken was oversize: nothing to send, but the
            # drops left the buffer for good.
            return done
        requests = [
            [{"Data": data, "PartitionKey": pk} for data, pk, _ in batch]
            for batch in batches
        ]
        self.stats.put_calls += len(batches)
        others = [_put_pool().submit(self._put, r) for r in requests[1:]]
        in_flight = sum(len(batch) for batch in batches)
        for i, batch in enumerate(batches):
            resp, exc = self._put(requests[0]) if i == 0 else others[i - 1].result()
            in_flight -= len(batch)
            done += self._handle_response(batch, resp, exc, in_flight)
            self._tick_stats()
        return done

    def _put(self, records: list[dict]) -> tuple[dict | None, Exception | None]:
        """The only step of a round that may run off the caller's thread."""
        try:
            return self.client.put_records(
                Records=records, StreamName=self.stream_name
            ), None
        except Exception as exc:  # whole-call failure, handled by the caller
            return None, exc

    def _take_round(
        self, batch_size: int, width: int
    ) -> tuple[list[list[tuple[bytes, str, int]]], int]:
        """Take up to ``width`` requests off the front of the buffer;
        returns them and the number of oversize records dropped. The
        round stops before a request that would push the round's total
        payload past MAX_REQUEST_BYTES; that request stays at the front
        of the buffer for the next round."""
        batches: list = []
        dropped = 0
        round_bytes = 0
        while self._buffer and len(batches) < width:
            batch, used_bytes, n_dropped = self._take(batch_size)
            dropped += n_dropped
            if not batch:
                continue
            if batches and round_bytes + used_bytes > MAX_REQUEST_BYTES:
                self._buffer[:0] = batch
                break
            batches.append(batch)
            round_bytes += used_bytes
        return batches, dropped

    def _take(self, batch_size: int) -> tuple[list, int, int]:
        """Byte-aware take of one request (r9 review wave 8): respect
        BOTH PutRecords limits while taking — ≤500 records AND ≤5 MiB
        per request; an over-1-MiB record is undeliverable and drops
        here with the data-loss log line (the ValidationException it
        would cause fails the WHOLE call and livelocks the retry loop).
        Returns (batch, its payload bytes, records dropped)."""
        take_n = min(batch_size, len(self._buffer), MAX_KINESIS_BATCH_SIZE)
        batch: list = []
        consumed = 0
        used_bytes = 0
        for data, pk, attempts in self._buffer[:take_n]:
            rec_bytes = len(data) + len(pk or "")
            if rec_bytes > MAX_RECORD_BYTES:
                consumed += 1
                self.stats.records_dropped += 1
                self._event(
                    f"dropped oversize record ({rec_bytes} bytes > "
                    f"{MAX_RECORD_BYTES} PutRecords limit)"
                )
                _LOG.error(
                    "Dropping undeliverable record: %d bytes exceeds "
                    "the %d-byte PutRecords record limit (stream %s)",
                    rec_bytes,
                    MAX_RECORD_BYTES,
                    self.stream_name,
                )
                continue
            if batch and used_bytes + rec_bytes > MAX_REQUEST_BYTES:
                break  # request full — the rest stays buffered
            batch.append((data, pk, attempts))
            used_bytes += rec_bytes
            consumed += 1
        del self._buffer[:consumed]
        return batch, used_bytes, consumed - len(batch)

    # -- A6/A7/A8/A9: one PutRecords response ---------------------------
    def _handle_response(
        self,
        batch: list[tuple[bytes, str, int]],
        resp: dict | None,
        exc: Exception | None,
        in_flight: int,
    ) -> int:
        """Settle one request's records: sent, requeued or dropped.
        ``in_flight`` counts the round's records whose responses are
        not handled yet. Returns how many left the buffer for good."""
        if exc is not None:  # whole-call failure (A7 path)
            self.stats.kinesis_errors += 1
            self.consecutive_errors += 1
            self._event(f"put_records error: {exc}")
            # ≙ TestReturnEventWhenKinesisReturnsError (test:592-607):
            # the failure surfaces on the event/log channel, verbatim.
            _LOG.error("PutRecords request failed: %s", exc)
            # A9: shed the failed batch under persistent failure with
            # a (nearly) full buffer (batchproducer.go:354-357, :387-389).
            # Fullness counts every record of the round not settled
            # yet — they came out of the buffer and may go right back.
            if (
                self.consecutive_errors
                >= self.config.shed_after_consecutive_errors
                and len(self._buffer) + len(batch) + in_flight
                >= self.config.shed_buffer_ratio * self.config.buffer_size
            ):
                self.stats.records_shed += len(batch)
                self._event(f"shed {len(batch)} records")
                # Data loss MUST hit the log, not just stats.events
                # (the reference's shed path logs at Error,
                # batchproducer.go:354-357).
                _LOG.error(
                    "Shedding %d records: %d consecutive errors with a "
                    "nearly full buffer (stream %s)",
                    len(batch),
                    self.consecutive_errors,
                    self.stream_name,
                )
                return len(batch)
            self._requeue(batch)
            return 0

        self.consecutive_errors = 0  # reset on success (:367-368)

        failed = resp.get("FailedRecordCount", 0)
        records = resp.get("Records", [])
        if not failed:
            self.stats.records_sent += len(batch)
            # ≙ TestLogMessageWhenKinesisSucceeds (test:573-589) —
            # Debug like the reference (batchproducer.go:372): success
            # lines on the hot path scale with throughput.
            _LOG.debug(
                "PutRecords request succeeded: sent %d records to "
                "Kinesis stream %s",
                len(batch),
                self.stream_name,
            )
            return len(batch)

        # API contract guard: PutRecords must answer one result per
        # request record. zip() would silently truncate on a short
        # Records array — records that already left the buffer would be
        # neither sent, dropped, nor requeued (silent loss). Treat a
        # malformed response as a whole-call failure and requeue.
        if len(records) != len(batch):
            self.stats.kinesis_errors += 1
            self.consecutive_errors += 1
            self._event(
                f"malformed put_records response: {len(records)} results "
                f"for {len(batch)} records; requeued batch"
            )
            self._requeue(batch)
            return 0

        # A6/A8: partial failure — split success/failed, requeue failed
        # with attempt accounting, drop at max attempts
        # (batchproducer.go:370-381, :438-456).
        # ≙ TestLogMessageWhenSomeRecordsFail (test:609-642) — Debug
        # like the reference (batchproducer.go:377).
        _LOG.debug(
            "Partial success when sending a PutRecords request: "
            "%d succeeded, %d failed (stream %s)",
            len(batch) - failed,
            failed,
            self.stream_name,
        )
        done = 0
        requeue: list[tuple[bytes, str, int]] = []
        for (data, pk, attempts), result in zip(batch, records):
            if result.get("ErrorCode"):
                attempts += 1
                if attempts >= self.config.max_attempts_per_record:
                    self.stats.records_dropped += 1
                    self._event(
                        f"dropped record after {attempts} attempts: "
                        f"{result.get('ErrorCode')}"
                    )
                    # ≙ the reference's pinned drop message
                    # (batchproducer.go:450-452, test:609-657) — the
                    # OTHER data-loss path that must reach the log.
                    _LOG.error(
                        "Dropping failed record; it has hit %d attempts "
                        "which is the maximum (stream %s, error %s)",
                        attempts,
                        self.stream_name,
                        result.get("ErrorCode"),
                    )
                    done += 1
                else:
                    self.stats.retries += 1
                    requeue.append((data, pk, attempts))
            else:
                self.stats.records_sent += 1
                done += 1
        self._requeue(requeue)
        return done

    def _requeue(self, records: Iterable[tuple[bytes, str, int]]) -> None:
        # Requeue at the back — explicitly ordering-unsafe, like the
        # reference (batchproducer.go:360, :425-426, :434-437).
        self._buffer.extend(records)

    def _event(self, message: str) -> None:
        self.stats.events.append(message)
        self.stats.events_total += 1

    def _tick_stats(self) -> None:
        """A15 periodic ticker: emit a stats snapshot once per
        ``stat_interval_s`` while batches are moving, so a monitoring
        consumer sees progress DURING a long drain, not only at its end
        (StatInterval loop, batchproducer.go:235-239, :458-470)."""
        now = self.clock()
        if now - self._last_stat_emit >= self.config.stat_interval_s:
            self._last_stat_emit = now
            self._emit_stats()

    def _emit_stats(self) -> None:
        self.stats.buffer_size = len(self._buffer)
        if self.stat_receiver is not None:
            # BY-VALUE snapshot: the reference sends a StatsBatch copy
            # per Receive (batchproducer.go:467-469); handing out the
            # live object would alias every stored snapshot to one
            # mutating instance. Deviation: counters stay CUMULATIVE
            # (the reference resets after each send) — deltas are
            # derivable from consecutive snapshots, the reverse is not.
            snap = dataclasses.replace(self.stats)
            snap.events = self.stats.events.copy()
            self.stat_receiver(snap)


def _payload_bytes(data) -> bytes:
    """Typed payload conversion: bytes-like passes through, str encodes
    UTF-8, None is empty. A bare ``bytes(data)`` raised a cryptic
    TypeError on string columns and — worse — fabricated n ZERO BYTES
    from an integer column; anything else now fails with the column
    type named."""
    if data is None:
        return b""
    if isinstance(data, (bytes, bytearray, memoryview)):
        return bytes(data)
    if isinstance(data, str):
        return data.encode("utf-8")
    raise TypeError(
        f"data column must be binary or string, got {type(data).__name__}"
    )


class KinesisBatchWriter:
    """foreachBatch writer: A1/A2's per-topic producer registry over a
    micro-batch DataFrame.

    Each executor task (partition) lazily creates one
    :class:`BatchProducer` per topic it sees (sink.go:79-104's
    double-checked registry collapses to a dict — tasks are
    single-threaded), drains it with the configured deadline, and
    returns per-topic delivery stats as rows. Per-topic partition
    isolation comes from ``repartition(topic)`` before the write —
    the Spark analogue of one-goroutine-per-topic (sink.go:26).
    """

    #: schema of the stats rows returned by write_batch
    STATS_SCHEMA = (
        "topic string, n_sent long, n_dropped long, n_shed long, "
        "n_retries long, n_put_calls long, n_remaining long"
    )

    def __init__(
        self,
        client_factory: Callable[[], object],
        config: KinesisSinkConfig | None = None,
        topic_col: str = "topic",
        data_col: str = "data",
        partition_key_col: str | None = "partition_key",
    ):
        self.client_factory = client_factory
        # Spark-writer default: BLOCKING buffer policy. The reference's
        # non-blocking default works because a concurrent goroutine
        # drains the buffer (batchproducer.go:199-201 vs :244-261); a
        # synchronous foreachBatch task has no concurrent drainer, so
        # the equivalent composition is add() draining inline when full
        # — otherwise any task with >buffer_size rows dies on
        # BufferFullError (seen at sf0.1: 100k events, 10k buffer).
        if config is None:
            config = KinesisSinkConfig(add_blocks_when_buffer_full=True)
        elif not config.add_blocks_when_buffer_full:
            # The reference validates guaranteed-failure configs at
            # New() (batchproducer.go:147-149); the synchronous-writer
            # analogue is a non-blocking buffer, which deterministically
            # dies on any task with >buffer_size rows and then crash-
            # loops on foreachBatch replay.
            raise ConfigError(
                "KinesisBatchWriter requires "
                "add_blocks_when_buffer_full=True: the synchronous "
                "foreachBatch task has no concurrent drainer, so a "
                "non-blocking buffer guarantees BufferFullError on any "
                "task with more than buffer_size rows"
            )
        config.validate()
        self.config = config
        self.topic_col = topic_col
        self.data_col = data_col
        self.partition_key_col = partition_key_col

    def _write_partition(self, rows: Iterator) -> Iterator[tuple]:
        client = self.client_factory()  # A2: lazy, one per task
        producers: dict[str, BatchProducer] = {}
        for row in rows:
            topic = row[self.topic_col]
            prod = producers.get(topic)
            if prod is None:  # A1/A2: create on first use
                prod = BatchProducer(client, topic, self.config)
                producers[topic] = prod
            data = row[self.data_col]
            # Column-presence fallback (r9 review wave 8): the default
            # partition_key_col on a frame WITHOUT that column raised
            # per row instead of falling back to the advertised A16
            # UUID generation (the DataSource writer's d.get path).
            pk = None
            if self.partition_key_col is not None and (
                self.partition_key_col in (getattr(row, "__fields__", ()) or ())
            ):
                pk = row[self.partition_key_col]
            prod.add(_payload_bytes(data), pk)  # A3 (+A16 inside add)
        for topic, prod in producers.items():  # A11: flush every topic
            _sent, remaining = prod.flush(
                timeout_s=self.config.flush_timeout_s, send_stats=True
            )
            s = prod.stats
            yield (
                topic,
                s.records_sent,
                s.records_dropped,
                s.records_shed,
                s.retries,
                s.put_calls,
                remaining,
            )

    def write_batch(self, batch_df, epoch_id: int | None = None):
        """Run one micro-batch; returns the per-topic stats DataFrame.

        Scale: records shuffle once on the topic key (so one task owns
        a topic's traffic, mirroring the per-topic producer) and the
        only driver-side data is the tiny stats rows.
        """
        spark = batch_df.sparkSession
        routed = batch_df.repartition(self.topic_col)
        stats_rdd = routed.rdd.mapPartitions(self._write_partition)
        # EAGER (r9 review wave 8): the side effect must not ride on
        # lazy evaluation — an un-actioned return value silently sent
        # nothing, and every re-evaluation re-sent every record. The
        # collected stats are one tiny row per topic; the returned
        # frame is a local relation that can be re-used freely.
        stats_rows = stats_rdd.collect()
        return spark.createDataFrame(stats_rows, self.STATS_SCHEMA)

    def __call__(self, batch_df, epoch_id):
        """foreachBatch entry point (A5's time trigger is configured on
        the StreamingQuery; A11's close-with-error surfaces here)."""
        stats = self.write_batch(batch_df, epoch_id).collect()
        undelivered = sum(r.n_remaining for r in stats)
        if undelivered:
            # Close() errors when messages remain (sink.go:121-123);
            # raising fails the micro-batch → at-least-once replay.
            raise RuntimeError(
                f"{undelivered} records undelivered after flush deadline"
            )
        return stats


def stream_to_kinesis(
    stream_df,
    client_factory: Callable[[], object],
    config: KinesisSinkConfig | None = None,
    checkpoint_dir: str | None = None,
    trigger_seconds: float = 1.0,
    **writer_cols,
):
    """writeStream wiring: A5's 1-second flush interval becomes the
    processing-time trigger; A12 (Restart) is checkpoint-restart."""
    writer = KinesisBatchWriter(client_factory, config, **writer_cols)
    builder = (
        stream_df.writeStream.foreachBatch(writer)
        .outputMode("update")
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )
    if checkpoint_dir:
        builder = builder.option("checkpointLocation", checkpoint_dir)
    return builder.start()
