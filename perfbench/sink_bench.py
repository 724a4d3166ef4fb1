"""``sink_putrecords``: one synchronous ``BatchProducer`` against the
HTTP Kinesis stub in its own process. No Spark runs.

One op is the per-task shape of ``KinesisBatchWriter``: ``add()`` of a
burst of a few thousand records, then ``flush()``. Payload sizes are
seeded so that most PutRecords requests fill up at 500 records and the
bursts that carry a block of large records fill up at 5 MiB first.
"""

from __future__ import annotations

import json
import math
import os
import random
import subprocess
import sys
import time

from perfbench.stats import percentile, summarize, tree_peak_rss_mb
from perfbench.stub_server import record_checksum

STREAM = "perfbench.sink"
CALL_LATENCY_S = 0.015
FAIL_EVERY_NTH_RECORD = 10
SETUP_REPS = 3
WARM_BURSTS = 2
TRACE_BURSTS = 40
BURST_RECORDS = (1000, 2000)
SMALL_BYTES = (64, 2048)  # log-uniform
LARGE_EVERY = 20  # every twentieth burst carries a large block
LARGE_BLOCK = 6  # six records of ~1 MB overflow one 5 MiB request
LARGE_BYTES = (900_000, 1_000_000)

PER_LAYER = (
    "sinks.kinesis.add_ms",
    "sinks.kinesis.flush_ms",
    "sinks.kinesis.put_calls",
    "sinks.kinesis.put_ms_p50",
    "sinks.kinesis.put_ms_p90",
    "sinks.kinesis.put_ms_total",
    "sinks.kinesis.backoff_ms",
    "sinks.kinesis.self_ms",
    "sinks.kinesis.retries",
    "sinks.kinesis.sent_per_entry",
    "sinks.kinesis.records_per_call",
    "sinks.kinesis.events_len",
    "trace.overhead_s",
    "trace.overhead_share",
)


class StubDied(RuntimeError):
    pass


class StubProcess:
    """The stub server child; ``report`` returns its stored-record tally."""

    def __init__(self):
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "stub_server.py")
        self.proc = subprocess.Popen(
            [sys.executable, script, str(CALL_LATENCY_S), str(FAIL_EVERY_NTH_RECORD)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline()
        if not line:
            self.close()
            raise StubDied("stub process exited before serving")
        self.endpoint = json.loads(line)["endpoint"]

    def report(self) -> dict:
        if self.proc.poll() is not None:
            raise StubDied(f"stub process died with code {self.proc.returncode}")
        self.proc.stdin.write("report\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise StubDied("stub process died before reporting")
        return json.loads(line)

    def close(self) -> None:
        try:
            self.proc.stdin.close()
        except OSError:
            pass  # already gone
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


class Bursts:
    """Seeded bursts of (data, partition key); payloads are slices of
    one seeded byte pool, so building a burst costs little."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.pool = self.rng.randbytes(2 * LARGE_BYTES[1])
        self.made = 0

    def _size(self) -> int:
        lo, hi = SMALL_BYTES
        return int(math.exp(self.rng.uniform(math.log(lo), math.log(hi))))

    def next(self) -> list[tuple[bytes, str]]:
        rng = self.rng
        sizes = [self._size() for _ in range(rng.randint(*BURST_RECORDS))]
        self.made += 1
        if self.made % LARGE_EVERY == 0:
            at = rng.randrange(len(sizes))
            sizes[at:at] = [rng.randint(*LARGE_BYTES) for _ in range(LARGE_BLOCK)]
        burst = []
        for size in sizes:
            off = rng.randrange(len(self.pool) - size)
            data = self.pool[off : off + size]
            pk = f"pk-{rng.getrandbits(48):012x}"
            burst.append((data, pk))
        return burst


class TimedClient:
    """Wraps the boto3 client; times each PutRecords call."""

    def __init__(self, client):
        self._client = client
        self.put_ms: list[float] = []
        self.entries = 0

    def put_records(self, **kw):
        t0 = time.perf_counter()
        try:
            return self._client.put_records(**kw)
        finally:
            self.put_ms.append((time.perf_counter() - t0) * 1000)
            self.entries += len(kw["Records"])


class TimedSleep:
    def __init__(self):
        self.ms = 0.0

    def __call__(self, seconds: float) -> None:
        t0 = time.perf_counter()
        time.sleep(seconds)
        self.ms += (time.perf_counter() - t0) * 1000


def _setup_once():
    from frinesis_spark.sinks.kinesis import make_boto3_client_factory

    stub = StubProcess()
    try:
        client = make_boto3_client_factory(
            {"AWS_REGION_NAME": "us-east-1", "KINESIS_ENDPOINT": stub.endpoint}
        )()
        client.create_stream(StreamName=STREAM, ShardCount=4)
    except BaseException:
        stub.close()
        raise
    return stub, client


class _Run:
    def __init__(self, prod, bursts: Bursts):
        self.prod = prod
        self.bursts = bursts
        self.attempted = 0
        self.failed = 0
        self.added = 0
        self.checksum = 0

    def op(self, timing: dict | None = None) -> float:
        """One add+flush burst; returns its wall seconds."""
        burst = self.bursts.next()
        self.added += len(burst)
        for data, pk in burst:
            self.checksum = (self.checksum + record_checksum(pk, data)) & (2**64 - 1)
        s = self.prod.stats
        lost_before = s.records_dropped + s.records_shed
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            for data, pk in burst:
                self.prod.add(data, pk)
            t1 = time.perf_counter()
            _sent, remaining = self.prod.flush(timeout_s=self.prod.config.flush_timeout_s)
        except Exception as exc:  # a failed op is counted, the run goes on
            print(f"sink op failed: {exc!r}", file=sys.stderr)
            self.failed += 1
            return time.perf_counter() - t0
        t2 = time.perf_counter()
        if remaining or s.records_dropped + s.records_shed != lost_before:
            self.failed += 1
        if timing is not None:
            timing["add_ms"] += (t1 - t0) * 1000
            timing["flush_ms"] += (t2 - t1) * 1000
        return t2 - t0


def run(seed: int, seconds: float, trace: bool) -> tuple[dict, dict, dict]:
    """Returns (result counts, metrics, run-record extras)."""
    from frinesis_spark.sinks.kinesis import BatchProducer, KinesisSinkConfig

    setup_times = []
    stub = client = None
    for _ in range(SETUP_REPS):
        if stub is not None:
            stub.close()
        t0 = time.perf_counter()
        stub, client = _setup_once()
        setup_times.append(time.perf_counter() - t0)
    try:
        prod = BatchProducer(
            client, STREAM, KinesisSinkConfig(add_blocks_when_buffer_full=True)
        )
        r = _Run(prod, Bursts(seed))
        for _ in range(WARM_BURSTS):
            r.op()
        extras = {"setup_reps_s": [round(x, 4) for x in setup_times]}
        if trace:
            metrics = _traced(r, prod, client, seed)
        else:
            metrics = _timed(r, seconds, setup_times)
            metrics["peak_rss_mb"] = tree_peak_rss_mb(
                os.getpid(), exclude=frozenset({stub.proc.pid})
            )
        report = stub.report()
    finally:
        stub.close()
    r.attempted += 1  # the delivery check
    delivered_ok = (
        report["stored"] == r.added
        and report["checksum"] == r.checksum
        and prod.stats.records_dropped == 0
        and prod.stats.records_shed == 0
    )
    if not delivered_ok:
        r.failed += 1
    extras.update(
        records_added=r.added,
        stub_report=report,
        producer={
            "sent": prod.stats.records_sent,
            "dropped": prod.stats.records_dropped,
            "shed": prod.stats.records_shed,
            "retries": prod.stats.retries,
            "put_calls": prod.stats.put_calls,
        },
    )
    counts = {"correct": delivered_ok and r.failed == 0, "attempted": r.attempted, "failed": r.failed}
    return counts, metrics, extras


def _timed(r: _Run, seconds: float, setup_times: list[float]) -> dict:
    lat: list[float] = []
    sent_before = r.prod.stats.records_sent
    t_begin = time.perf_counter()
    while time.perf_counter() - t_begin < seconds:
        lat.append(r.op())
    wall = sum(lat)
    sent = r.prod.stats.records_sent - sent_before
    ms = [x * 1000 for x in lat]
    p50, p90 = summarize(ms, 0.5), summarize(ms, 0.9)
    return {
        "setup_s": percentile(setup_times, 0.5),
        "records_per_s": sent / wall,
        "queries_per_min": 60 * len(lat) / wall,
        "op_p50_ms": p50["value"],
        "op_p90_ms": p90["value"],
        "_percentiles": {"op_p50_ms": p50, "op_p90_ms": p90},
    }


def _pass(r: _Run, n: int, timing: dict | None = None) -> float:
    return sum(r.op(timing) for _ in range(n))


def _traced(r: _Run, prod, client, seed: int) -> dict:
    """The same fixed bursts untraced, traced through timing proxies on
    the client and the backoff sleep, and untraced again. The tracing
    overhead is the traced wall minus the mean untraced wall."""
    r.bursts = Bursts(seed + 1)
    untraced = _pass(r, TRACE_BURSTS)
    r.bursts = Bursts(seed + 1)
    s = prod.stats
    put_calls0, retries0, sent0 = s.put_calls, s.retries, s.records_sent
    tclient, tsleep = TimedClient(client), TimedSleep()
    prod.client, prod.sleep = tclient, tsleep
    timing = {"add_ms": 0.0, "flush_ms": 0.0}
    try:
        traced = _pass(r, TRACE_BURSTS, timing)
    finally:
        prod.client, prod.sleep = client, time.sleep
    calls = s.put_calls - put_calls0
    retries = s.retries - retries0
    sent = s.records_sent - sent0
    r.bursts = Bursts(seed + 1)
    untraced = (untraced + _pass(r, TRACE_BURSTS)) / 2
    put_total = sum(tclient.put_ms)
    return {
        "sinks.kinesis.add_ms": timing["add_ms"],
        "sinks.kinesis.flush_ms": timing["flush_ms"],
        "sinks.kinesis.put_calls": calls,
        "sinks.kinesis.put_ms_p50": percentile(tclient.put_ms, 0.5),
        "sinks.kinesis.put_ms_p90": percentile(tclient.put_ms, 0.9),
        "sinks.kinesis.put_ms_total": put_total,
        "sinks.kinesis.backoff_ms": tsleep.ms,
        "sinks.kinesis.self_ms": timing["add_ms"] + timing["flush_ms"] - put_total - tsleep.ms,
        "sinks.kinesis.retries": retries,
        "sinks.kinesis.sent_per_entry": sent / tclient.entries,
        "sinks.kinesis.records_per_call": tclient.entries / calls,
        "sinks.kinesis.events_len": len(s.events),
        "trace.overhead_s": traced - untraced,
        "trace.overhead_share": (traced - untraced) / untraced,
    }
