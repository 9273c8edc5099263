"""Seeded inputs for the streaming workloads and their reference result.

Shared by the generator process (which encodes and produces the
documents) and the harness (which recomputes the expected store from
the same source dicts). Nothing here imports Spark.

Document shape: an Aether-annotated survey record with private and
public fields, spread over three topics of which one (``t1.admin``) is
filtered out, routed by two subscriptions.
"""

from __future__ import annotations

import hashlib
import random
import zlib

TENANT = "t1"
TOPICS = ("t1.visits", "t1.labs", "t1.admin")
#: the filter keeps these; ``t1.admin`` documents never reach the store
PASS_TOPICS = ("t1.visits", "t1.labs")
TOPIC_WEIGHTS = (0.45, 0.35, 0.20)
PRIVATE = ("patient_name", "phone")
#: (subscription id, topic pattern, target path template); the first
#: match by sorted id wins, so ``labs`` is routed before the catch-all
SUBSCRIPTIONS = (("s1", "labs", "clinical/{topic}/records"),
                 ("s2", "*", "_aether/entities/{topic}"))

AVSC = {
    "type": "record", "name": "Visit",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "topic", "type": "string"},
        {"name": "seq", "type": "long"},
        {"name": "patient_name", "type": "string",
         "@aether_masking": "private"},
        {"name": "phone", "type": "string", "@aether_masking": "private"},
        {"name": "ward", "type": "string", "@aether_masking": "public"},
        {"name": "age", "type": "int"},
        {"name": "visited_at", "type": "string",
         "@aether_extended_type": "dateTime"},
        {"name": "notes", "type": "string"},
    ],
}
#: columns of the document store, in the order the pipeline emits them
STORE_COLUMNS = ("id", "topic", "seq", "ward", "age", "visited_at", "notes",
                 "target_path")

_WORDS = ("fever cough rash clinic ward follow referral stable improved "
          "dose review lab sample negative positive pending home visit "
          "nurse doctor chart note urgent routine").split()
_NAMES = ("Amina Kofi Zanele Tunde Wanjiru Musa Fatou Jabari Nia Sekou "
          "Imani Chidi Ayo Thandiwe Kwame Zola").split()


def doc_id(n: int) -> str:
    return f"d{n:07d}"


def topic_of(ident: str) -> str:
    """A document keeps its topic across versions: it is a function of
    the id."""
    r = (zlib.crc32(ident.encode()) % 1000) / 1000.0
    acc = 0.0
    for topic, w in zip(TOPICS, TOPIC_WEIGHTS):
        acc += w
        if r < acc:
            return topic
    return TOPICS[-1]


def partition_of(ident: str, partitions: int) -> int:
    """Key partitioning: every version of a document lands in one
    partition, so offset order is version order."""
    return zlib.crc32(ident.encode()) % partitions


def _version(rng: random.Random, ident: str, seq: int) -> dict:
    return {
        "id": ident,
        "topic": topic_of(ident),
        "seq": seq,
        "patient_name": f"{rng.choice(_NAMES)} {rng.choice(_NAMES)}",
        "phone": f"+254{rng.randrange(10**8, 10**9)}",
        "ward": f"w{rng.randrange(12)}",
        "age": rng.randrange(0, 99),
        "visited_at": (f"2024-{rng.randrange(1, 13):02d}-"
                       f"{rng.randrange(1, 29):02d}T"
                       f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:00"),
        "notes": " ".join(rng.choice(_WORDS) for _ in range(14)),
    }


class DocStream:
    """Deterministic document sequence for one seed.

    ``take(n, update_share, redeliver_share)`` returns the next ``n``
    documents in production order. A document is a new id, an update (new
    content, higher ``seq``) of an existing id, or a byte-identical
    redelivery of an id's current latest version.
    """

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seq = 0
        self.next_id = 0
        self.latest: dict[str, dict] = {}
        self.ids: list[str] = []

    def _new(self) -> dict:
        ident = doc_id(self.next_id)
        self.next_id += 1
        self.ids.append(ident)
        return self._emit(ident)

    def _emit(self, ident: str) -> dict:
        d = _version(self.rng, ident, self.seq)
        self.seq += 1
        self.latest[ident] = d
        return d

    def new_of_topic(self, topic: str) -> dict:
        """The next new document whose id maps to ``topic``; the ids
        skipped on the way are never sent."""
        while True:
            d = self._new()
            if d["topic"] == topic:
                return d

    def take(self, n: int, update_share: float = 0.0,
             redeliver_share: float = 0.0) -> list[dict]:
        out = []
        rng = self.rng
        for _ in range(n):
            r = rng.random()
            if self.ids and r < redeliver_share:
                out.append(self.latest[rng.choice(self.ids)])
            elif self.ids and r < redeliver_share + update_share:
                out.append(self._emit(rng.choice(self.ids)))
            else:
                out.append(self._new())
        return out


def target_path(topic: str) -> str | None:
    name = topic[len(TENANT) + 1:] if topic.startswith(TENANT + ".") else topic
    for _sid, pattern, template in sorted(SUBSCRIPTIONS):
        if pattern == "*" or pattern == name:
            return template.replace("{topic}", name)
    return None


def store_row(d: dict) -> tuple:
    """A source dict as the store should hold it, every value rendered
    the way Spark casts it to string: private fields masked, the
    ``dateTime`` field as a timestamp, the route attached."""
    return (d["id"], d["topic"], str(d["seq"]), d["ward"], str(d["age"]),
            d["visited_at"].replace("T", " "), d["notes"],
            target_path(d["topic"]))


def expected_store(docs) -> dict[str, tuple]:
    """Reference pipeline in plain Python: filter → mask → route →
    latest version per key (by ``seq``, the producer's sequence, which
    orders versions exactly as their offsets do)."""
    latest: dict[str, dict] = {}
    for d in docs:
        if d["topic"] not in PASS_TOPICS:
            continue
        cur = latest.get(d["id"])
        if cur is None or d["seq"] >= cur["seq"]:
            latest[d["id"]] = d
    return {k: store_row(d) for k, d in latest.items()}


def compare_store(expected: dict[str, tuple], got_rows) -> dict:
    """Missing, extra and wrong documents of a store against the
    reference; ``got_rows`` are tuples in ``STORE_COLUMNS`` order."""
    got: dict[str, tuple] = {}
    dup = 0
    for row in got_rows:
        if row[0] in got:
            dup += 1
        got[row[0]] = tuple(row)
    missing = sum(1 for k in expected if k not in got)
    extra = sum(1 for k in got if k not in expected) + dup
    wrong = sum(1 for k, v in expected.items() if k in got and got[k] != v)
    return {"missing": missing, "extra": extra, "wrong": wrong,
            "expected": len(expected), "value_hash": value_hash(got.values()),
            "expected_value_hash": value_hash(expected.values())}


def value_hash(rows) -> str:
    """Order-insensitive hash of a row multiset."""
    acc = 0
    for row in rows:
        digest = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8)
        acc = (acc + int.from_bytes(digest.digest(), "big")) % (1 << 64)
    return f"{acc:016x}"
