"""Load generator: a separate process that hosts the Kafka broker.

The system under test never shares this interpreter (or its GIL). The
generator rebuilds the documents from the seed, encodes every payload
before the first command arrives, and produces over one connection.

Protocol: the plan is one JSON argument; commands arrive as JSON lines
on stdin and each gets one JSON line on stdout.

* ``{"cmd": "produce", "segment": k}`` — produce segment ``k`` at once.
* ``{"cmd": "open", "segment": k, "t0": epoch_s, "rate": r}`` — produce
  segment ``k`` on an open-loop schedule: document ``i`` is due at
  ``t0 + i / r`` and carries that time as its Kafka CreateTime. The
  reply comes when the last document is sent and reports how many
  documents were sent and how late the generator ran.
* ``{"cmd": "stop"}`` — stop the broker and exit.
"""

from __future__ import annotations

import json
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from aether_firebase_consumer_spark.sources.avro_codec import (  # noqa: E402
    encode_record,
)
from aether_firebase_consumer_spark.sources.kafka_wire import (  # noqa: E402
    KafkaWireClient,
    MiniKafkaBroker,
)

from perfbench.workload import AVSC, TOPICS, partition_of  # noqa: E402
from perfbench.workload import DocStream  # noqa: E402

#: open-loop scheduler tick: documents due within one tick share a
#: produce request per partition
TICK_S = 0.01


def build_segments(plan: dict) -> list[list[dict]]:
    """The plan's segments as source dicts, in production order. The
    harness calls this too, so both sides see the same documents. A
    segment with a ``topic`` is one new document of that topic."""
    stream = DocStream(plan["seed"])
    out = []
    for s in plan["segments"]:
        if "topic" in s:
            out.append([stream.new_of_topic(s["topic"])])
        else:
            out.append(stream.take(s["n"], s.get("update_share", 0.0),
                                   s.get("redeliver_share", 0.0)))
    return out


class Generator:
    def __init__(self, plan: dict):
        self.plan = plan
        self.partitions = plan["partitions"]
        self.segments = build_segments(plan)
        # (topic, partition, key, payload) per document, encoded up front
        self.encoded = [
            [(d["topic"], partition_of(d["id"], self.partitions),
              d["id"].encode(), encode_record(AVSC, d)) for d in seg]
            for seg in self.segments]
        self.broker = MiniKafkaBroker()
        self.broker.start()
        for topic in TOPICS:
            self.broker.create_topic(topic, partitions=self.partitions)
        self.client = KafkaWireClient(self.broker.host, self.broker.port)

    def _send(self, docs, ts_ms) -> None:
        groups: dict[tuple[str, int], list] = {}
        for (topic, part, key, value), ts in zip(docs, ts_ms):
            groups.setdefault((topic, part), []).append((key, value, ts))
        for (topic, part), msgs in groups.items():
            self.client.produce_records(topic, part, msgs)

    def produce(self, k: int) -> dict:
        docs = self.encoded[k]
        t = time.time()
        chunk = 500
        for lo in range(0, len(docs), chunk):
            part = docs[lo:lo + chunk]
            self._send(part, [int(time.time() * 1000)] * len(part))
        return {"sent": len(docs), "seconds": time.time() - t}

    def open_loop(self, k: int, t0: float, rate: float) -> dict:
        docs = self.encoded[k]
        n = len(docs)
        i = 0
        late_max = 0.0
        while i < n:
            now = time.time()
            due_i = t0 + i / rate
            if due_i > now:
                time.sleep(min(due_i - now, TICK_S))
                continue
            j = min(n, int((now - t0) * rate) + 1)
            self._send(docs[i:j],
                       [int((t0 + m / rate) * 1000) for m in range(i, j)])
            late_max = max(late_max, time.time() - due_i)
            i = j
        return {"sent": i, "late_max_s": late_max}

    def close(self) -> None:
        self.client.close()
        self.broker.stop()


def main() -> None:
    gen = Generator(json.loads(sys.argv[1]))
    out = sys.stdout
    out.write(json.dumps({"bootstrap": gen.broker.bootstrap}) + "\n")
    out.flush()
    try:
        while True:
            line = sys.stdin.readline()
            if not line:
                break
            cmd = json.loads(line)
            if cmd["cmd"] == "stop":
                break
            if cmd["cmd"] == "produce":
                reply = gen.produce(cmd["segment"])
            elif cmd["cmd"] == "open":
                reply = gen.open_loop(cmd["segment"], cmd["t0"], cmd["rate"])
            else:
                reply = {"error": f"unknown command {cmd['cmd']!r}"}
            out.write(json.dumps(reply) + "\n")
            out.flush()
    finally:
        gen.close()


if __name__ == "__main__":
    main()
