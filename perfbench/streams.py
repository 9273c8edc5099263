"""The streaming workload: Kafka → Avro decode → filter/mask/route →
hash-gated upsert, driven through the package's public entry points.

``ingest_drain`` runs two phases on one warm stream. First an open loop
at a fixed rate into uncompressed topics; latency is measured per
document from its due time to the end of the micro-batch that decided
it. Then, in each of a few rounds, the stream is paused, a backlog is
produced at once, and the stream drains it in one micro-batch;
throughput is the median over the rounds of backlog over drain time.
"""

from __future__ import annotations

import ast
import bisect
import json
import os
import shutil
import threading
import time

from perfbench import common
from perfbench.generator import build_segments
from perfbench.workload import (
    AVSC,
    PASS_TOPICS,
    PRIVATE,
    STORE_COLUMNS,
    SUBSCRIPTIONS,
    TENANT,
    TOPICS,
    compare_store,
    expected_store,
    partition_of,
)

AVSC_JSON = json.dumps(AVSC)
FILTERED_TOPIC = next(t for t in TOPICS if t not in PASS_TOPICS)

#: Workload parameters; BENCHMARK.json states the same numbers. The
#: store is pre-populated by the first micro-batch, which reads the
#: ``prepop`` documents produced during set-up (the reader does not cap
#: a fresh start's first batch). The open-loop rate is about a third of
#: the rate phase 2 drains at, far enough below saturation that batch
#: sizes, and so latency, do not swing with the box's speed. The drain
#: is repeated ``drain_rounds`` times and reported as the median, so one
#: slow batch does not move it.
SPEC = {
    "partitions": 2, "prepop": 20000,
    "rate": 300.0, "warm_s": 6.0,
    "update_share": 0.2, "redeliver_share": 0.1,
    "backlog": 3000, "drain_rounds": 3,
}
#: a run whose generator fell this far behind its schedule is invalid
MAX_LATE_S = 0.5


def plan_for(seed: int, seconds: float) -> dict:
    """The generator's plan: segment 0 pre-populates the store, segment 1
    is the open loop (warm phase and window), then each drain round has
    two segments: the probe document that starts the paused batch (a new
    id of the filtered-out topic, so its batch writes nothing) and the
    backlog."""
    mix = {"update_share": SPEC["update_share"],
           "redeliver_share": SPEC["redeliver_share"]}
    n_open = int(SPEC["rate"] * (SPEC["warm_s"] + seconds)) + 1
    rounds = [[{"n": 1, "topic": FILTERED_TOPIC},
               {"n": SPEC["backlog"], **mix}]] * SPEC["drain_rounds"]
    return {"seed": seed, "partitions": SPEC["partitions"],
            "segments": [{"n": SPEC["prepop"]}, {"n": n_open, **mix}]
            + [seg for r in rounds for seg in r]}


def pipeline_config(classifications: dict):
    from aether_firebase_consumer_spark.operators.filtering import FilterConfig
    from aether_firebase_consumer_spark.operators.masking import MaskConfig
    from aether_firebase_consumer_spark.operators.routing import Subscription
    from aether_firebase_consumer_spark.streaming.pipeline import (
        PipelineConfig,
    )
    return PipelineConfig(
        tenant=TENANT,
        filter_config=FilterConfig("topic", list(PASS_TOPICS)),
        mask_config=MaskConfig(["public", "private"], "public"),
        classifications=classifications,
        subscriptions=[Subscription(id=i, topic_pattern=p, target_path=t)
                       for i, p, t in SUBSCRIPTIONS],
        sync_mode="sync", seq_col="seq")


def decode_frames(spark, payloads):
    from aether_firebase_consumer_spark.sources.avro_codec import (
        decode_avro_docs_py,
    )
    frames = spark.createDataFrame([(p,) for p in payloads], "value binary")
    return decode_avro_docs_py(frames, AVSC_JSON)


def read_store(doc_table) -> list[tuple]:
    from pyspark.sql import functions as F
    df = doc_table.read()
    if df is None:
        return []
    return [tuple(r) for r in
            df.select(*[F.col(c).cast("string") for c in STORE_COLUMNS])
            .collect()]


def column_mismatch(doc_table) -> int:
    """Columns the store has but should not (a private field that was not
    masked) plus columns it lacks."""
    df = doc_table.read()
    cols = set(df.columns) if df is not None else set()
    return len(cols ^ set(STORE_COLUMNS))


def _end_offsets(progress: dict) -> dict:
    end = progress["sources"][0]["endOffset"]
    if isinstance(end, str):
        # the Python data source's offset dict arrives as its repr
        return ast.literal_eval(end)
    return end or {}


def _covers(progress: dict, target: dict) -> bool:
    end = _end_offsets(progress)
    return all(end.get(k, 0) >= v for k, v in target.items())


def offsets_of(docs, partitions: int, base: dict | None = None) -> list:
    """(topic-partition key, offset) of each produced document, in
    production order: one producer, so each partition's offsets follow
    the order documents were sent."""
    nxt = dict(base or {})
    out = []
    for d in docs:
        key = f"{d['topic']},{partition_of(d['id'], partitions)}"
        off = nxt.get(key, 0)
        nxt[key] = off + 1
        out.append((key, off))
    return out


class StreamRun:
    """One run: set-up, latency window, drain, checks."""

    def __init__(self, seed: int, seconds: float, tracer, t_start: float,
                 workdir: str):
        self.parts = SPEC["partitions"]
        self.seconds = seconds
        self.tracer = tracer
        self.t_start = t_start
        self.workdir = workdir
        self.plan = plan_for(seed, seconds)
        #: batch id -> time its process_batch returned
        self.batch_end: dict[int, float] = {}
        self.batch_failures = 0
        #: when set, the next batch waits on ``resume`` before it runs
        self.pause_next = False
        self.paused = threading.Event()
        self.resume = threading.Event()
        self.query = None

    def setup(self) -> None:
        from aether_firebase_consumer_spark.sinks.upsert import (
            HashStateTable,
            ParquetUpsertTable,
        )
        from aether_firebase_consumer_spark.sources.avro_codec import (
            decode_avro_docs_py,
        )
        from aether_firebase_consumer_spark.sources.kafka_pysource import (
            register_kafka_py,
        )
        from aether_firebase_consumer_spark.streaming.pipeline import (
            StreamingUpsertJob,
        )
        self.gen = common.GeneratorProc(self.plan)
        self.gen.send(cmd="produce", segment=0)
        self.segments = build_segments(self.plan)
        self.spark = common.spark_session(
            event_log_dir=self.tracer.event_log_dir if self.tracer else None)
        register_kafka_py(self.spark)
        reader = (self.spark.readStream.format("kafka_py")
                  .option("bootstrap", self.gen.bootstrap())
                  .option("subscribe", ",".join(TOPICS)))
        decoded = decode_avro_docs_py(reader.load(), AVSC_JSON)
        # masking classifications come from the schema's annotations
        self.cfg = pipeline_config({
            f.name: f.metadata["masking"] for f in decoded.schema.fields
            if f.metadata.get("masking")})
        if not set(PRIVATE) <= set(self.cfg.classifications):
            raise RuntimeError("decoded schema lost its masking annotations")
        self.doc_table = ParquetUpsertTable(
            self.spark, os.path.join(self.workdir, "docs"), ["id"])
        self.hash_table = HashStateTable(
            self.spark, os.path.join(self.workdir, "hashes"))
        self.job = StreamingUpsertJob(self.cfg, self.doc_table,
                                      self.hash_table)
        if self.tracer:
            self.tracer.instrument_job(self.job)
        self._wrap_process_batch()
        self.gen.reply()                        # pre-population produced
        self.query = self.job.writer(
            decoded, os.path.join(self.workdir, "ckpt")).start()
        self._wait(lambda: 0 in self.batch_end, "the pre-population batch")

    def _wrap_process_batch(self) -> None:
        inner = self.job.process_batch

        def process_batch(batch, epoch_id):
            if self.pause_next:
                self.pause_next = False
                self.paused.set()
                self.resume.wait()
            try:
                inner(batch, epoch_id)
            except Exception:
                self.batch_failures += 1
                raise
            self.batch_end[epoch_id] = time.time()

        self.job.process_batch = process_batch

    def _reached(self, target: dict) -> bool:
        """Whether the last batch this job processed ended at or past
        ``target`` on every topic-partition."""
        done = [p for p in self.progress() if p["batchId"] in self.batch_end]
        return bool(done) and _covers(done[-1], target)

    def log_end(self) -> dict:
        from aether_firebase_consumer_spark.sources.kafka_wire import (
            LATEST,
            KafkaWireClient,
        )
        host, port = self.gen.bootstrap().rsplit(":", 1)
        parts = list(range(self.parts))
        with KafkaWireClient(host, int(port)) as c:
            ends = c.list_offsets_bulk({t: parts for t in TOPICS}, LATEST)
        return {f"{t},{p}": off for (t, p), off in ends.items()}

    def progress(self) -> list[dict]:
        out = [json.loads(p.json) if hasattr(p, "json") else p
               for p in self.query.recentProgress]
        return sorted({p["batchId"]: p for p in out}.values(),
                      key=lambda p: p["batchId"])

    def _wait(self, done, what: str, timeout: float = 90.0) -> None:
        deadline = time.time() + timeout
        while not done():
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.time() > deadline:
                raise RuntimeError(f"timed out waiting for {what}")
            time.sleep(0.05)

    def wait_reached(self, target: dict) -> None:
        self._wait(lambda: self._reached(target), "the target offsets")

    def stop_query(self) -> None:
        self.resume.set()
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def run(self) -> dict:
        try:
            self.setup()
            with common.RssSampler({self.gen.proc.pid}) as rss:
                out = self._ingest()
                out.update(self._drain())
            self.stop_query()
            out["peak_rss_mb"] = rss.peak
            out["progress"] = self.progress()
            out["check"] = self._check()
            out["doc_table_rows"] = out["check"]["rows"]
            return out
        finally:
            self.stop_query()
            if hasattr(self, "gen"):
                self.gen.close()

    def _ingest(self) -> dict:
        """The open loop: warm phase, then the latency window. The
        schedule's last document is due at the end of the window."""
        rate = SPEC["rate"]
        docs = self.segments[1]
        offsets = offsets_of(docs, self.parts,
                             self._ends_after(self.segments[0]))
        t0 = time.time() + 0.2
        w0 = t0 + SPEC["warm_s"]
        w1 = w0 + self.seconds
        self.gen.send(cmd="open", segment=1, t0=t0, rate=rate)
        common.wait_until(w0)
        setup_s = time.time() - self.t_start
        gen_rep = self.gen.reply()
        if gen_rep["late_max_s"] > MAX_LATE_S:
            raise RuntimeError(
                f"invalid run: the generator ran {gen_rep['late_max_s']:.2f}"
                " s behind its schedule")
        prog = self.progress()
        planned = _end_offsets(prog[-1]) if prog else {}
        log_end = self.log_end()
        end_lag = sum(v - planned.get(k, 0) for k, v in log_end.items())
        self.wait_reached(log_end)
        batch_of = self._batch_map(self.progress(), offsets)
        lat = []
        for i, b in enumerate(batch_of):
            due = t0 + i / rate
            if w0 <= due < w1:
                lat.append(self.batch_end[b] - due)
        self.produced = self.segments[0] + docs
        return {"setup_s": setup_s, "latencies": lat,
                "end_lag_docs": end_lag, "gen": gen_rep, "window": (w0, w1)}

    def _drain(self) -> dict:
        """The drain rounds. In each, with the stream idle, the probe
        document starts a batch that pauses before it runs; the backlog
        is produced behind it, so the next batch is planned on the whole
        backlog and reads it in one go."""
        rates, batches = [], []
        for seg in range(2, len(self.segments), 2):
            self.paused.clear()
            self.resume.clear()
            self.pause_next = True
            self.gen.send(cmd="produce", segment=seg)
            self.gen.reply()
            self._wait(self.paused.is_set, "the probe batch")
            self.gen.send(cmd="produce", segment=seg + 1)
            self.gen.reply()
            target = self.log_end()
            self.resume.set()
            self.wait_reached(target)
            self.produced += self.segments[seg] + self.segments[seg + 1]
            last = [p for p in self.progress()
                    if p["batchId"] in self.batch_end][-1]
            if last["numInputRows"] != SPEC["backlog"]:
                raise RuntimeError(
                    f"a drain batch read {last['numInputRows']} documents,"
                    f" not the {SPEC['backlog']} of the backlog")
            rates.append(SPEC["backlog"]
                         / (last["durationMs"]["triggerExecution"] / 1000.0))
            batches.append(last["batchId"])
        return {"docs_per_s": common.median(rates), "drain_rates": rates,
                "drain_batches": batches}

    def _ends_after(self, docs) -> dict:
        out = {}
        for k, off in offsets_of(docs, self.parts):
            out[k] = off + 1
        return out

    def _batch_map(self, prog: list[dict], offsets: list) -> list[int]:
        """Batch id that read each (topic-partition, offset)."""
        ends_by_tp: dict[str, tuple[list[int], list[int]]] = {}
        for p in prog:
            for k, v in _end_offsets(p).items():
                offs, ids = ends_by_tp.setdefault(k, ([], []))
                offs.append(v)
                ids.append(p["batchId"])
        out = []
        for k, off in offsets:
            offs, ids = ends_by_tp[k]
            out.append(ids[bisect.bisect_right(offs, off)])
        return out

    def _check(self) -> dict:
        """The store against the reference over every produced document:
        the drain ends with the whole log read."""
        expected = expected_store(self.produced)
        store = read_store(self.doc_table)
        cmp = compare_store(expected, store)
        cmp["rows"] = len(store)
        cmp["column_mismatch"] = column_mismatch(self.doc_table)
        hash_ids = {r[0] for r in
                    self.hash_table.table.read().select("id").collect()}
        cmp["hash_ids_mismatch"] = len(hash_ids ^ set(expected))
        cmp["batch_failures"] = self.batch_failures
        cmp["attempted"] = len(self.produced)
        return cmp


def run(seed: int, seconds: float, tracer, t_start: float) -> dict:
    workdir = os.path.join(common.ROOT, ".perfbench_work",
                           f"stream-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    try:
        return StreamRun(seed, seconds, tracer, t_start, workdir).run()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
