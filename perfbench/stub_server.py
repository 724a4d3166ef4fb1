"""Host ``tests.kinesis_stub.KinesisStub`` in a process of its own.

Usage: ``python3 perfbench/stub_server.py <call_latency_s> <fail_every_nth_record>``

Prints ``{"endpoint": "host:port"}`` once serving. Each ``report`` line
on stdin is answered with one JSON line of the stored-record tally;
end of input stops the server.

Shards keep a tally instead of the records themselves, so a long run
holds no payload memory: the count, the bytes and an order-free
checksum of (partition key, data) are enough to check delivery.
"""

from __future__ import annotations

import json
import os
import sys
import zlib


def record_checksum(partition_key: str, data: bytes) -> int:
    return zlib.crc32(data, zlib.crc32(partition_key.encode()))


class _Tally:
    """Stands in for a shard's record list on the PutRecords path."""

    def __init__(self):
        self.count = 0
        self.bytes = 0
        self.checksum = 0

    def append(self, record: tuple) -> None:
        _seq, pk, data, _ts = record
        self.count += 1
        self.bytes += len(data)
        self.checksum = (self.checksum + record_checksum(pk, data)) & (2**64 - 1)

    def __len__(self) -> int:
        return self.count


def main() -> None:
    latency, nth = float(sys.argv[1]), int(sys.argv[2])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from tests import kinesis_stub

    class TallyShard(kinesis_stub._Shard):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.records = _Tally()

    kinesis_stub._Shard = TallyShard
    with kinesis_stub.KinesisStub(
        fail_every_nth_record=nth, call_latency_s=latency
    ) as stub:
        print(json.dumps({"endpoint": stub.endpoint}), flush=True)
        for line in sys.stdin:
            if line.strip() != "report":
                continue
            with stub.state.lock:
                shards = [s for ss in stub.state.streams.values() for s in ss]
                report = {
                    "stored": sum(s.records.count for s in shards),
                    "bytes": sum(s.records.bytes for s in shards),
                    "checksum": sum(s.records.checksum for s in shards)
                    & (2**64 - 1),
                    "put_calls": stub.state.put_calls,
                }
            print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()
