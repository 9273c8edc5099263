"""The E1 data path as a Structured Streaming pipeline (SURVEY.md §3).

Reference flow (``firebase/app/artifacts.py:263-327,382-406``):
poll → Avro-decode → filter (O3) → mask (O4) → route (O5/O6/O7) →
sync-mode gate (O8) → hash-gated (O10) batched upsert (O12).

Here the *same operator expressions* used by the batch queries are
applied to a streaming DataFrame; delivery is checkpoint + idempotent
MERGE in ``foreachBatch`` — the effectively-once upgrade of the
reference's manual-offset-commit + idempotent-set
(``firebase/conf/consumer/kafka.json:5``, ``artifacts.py:405-406``).

The source is pluggable (Kafka in production — same expressions after
``from_avro``/``from_json``; file/rate/memory sources in tests, since
the v1 image has no broker).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from typing import Sequence

from pyspark import InheritableThread
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aether_firebase_consumer_spark.functions.hashing import content_hash_expr
from aether_firebase_consumer_spark.operators.filtering import FilterConfig, apply_filter
from aether_firebase_consumer_spark.operators.masking import MaskConfig, apply_mask
from aether_firebase_consumer_spark.operators.routing import Subscription, route_topics
from aether_firebase_consumer_spark.sinks.upsert import HashStateTable, ParquetUpsertTable
from aether_firebase_consumer_spark.streaming.schema_drift import SchemaDriftDetector


@dataclass
class PipelineConfig:
    """One subscription's worth of pipeline configuration (the
    Subscription resource, ``firebase/app/fixtures/schemas.py:128-296``)."""

    tenant: str
    filter_config: FilterConfig | None = None
    mask_config: MaskConfig | None = None
    classifications: dict | None = None
    subscriptions: Sequence[Subscription] = field(default_factory=tuple)
    topic_col: str = "topic"
    id_col: str = "id"
    sync_mode: str = "forward"  # forward | sync | consume (helpers.py:42-46)
    #: ordering column (e.g. Kafka offset) used to pick the LATEST
    #: version when one micro-batch carries several versions of a doc;
    #: None falls back to an arbitrary-but-single survivor
    seq_col: str | None = None


def transform(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Apply filter → mask → route to a (batch or streaming) DataFrame.
    Identical expressions either way — this is the single definition of
    the pipeline's semantics."""
    out = df
    if cfg.filter_config is not None:
        out = apply_filter(out, cfg.filter_config)
    if cfg.mask_config is not None:
        out = apply_mask(out, cfg.mask_config, cfg.classifications)
    if cfg.subscriptions:
        out = route_topics(out, cfg.topic_col, cfg.subscriptions, cfg.tenant)
        out = out.filter(F.col("target_path").isNotNull())
    return out


class StreamingUpsertJob:
    """foreachBatch sink: sync-mode gate (O8) + hash-gated change
    detection (O10) + MERGE upsert (O12) + schema drift log (O14).

    Each batch's two merges overlap: the document merge runs on the
    ``foreachBatch`` thread and the hash-state merge on one
    ``InheritableThread``, whose Spark jobs keep the batch's local
    properties (the job group ``query.stop()`` cancels, the streaming
    batch id). Each merge's change recording costs ∝ batch (see
    :meth:`ParquetUpsertTable.merge`). The hash state's commit is
    ordered AFTER the document commit and tagged ``{"doc_version":
    v}``: a stored hash suppresses its document on redelivery, so it
    must never be visible before that document is. A failed document
    merge aborts the hash commit, and the batch's replay rewrites the
    documents."""

    def __init__(self, cfg: PipelineConfig, doc_table: ParquetUpsertTable,
                 hash_table: HashStateTable):
        self.cfg = cfg
        self.doc_table = doc_table
        self.hash_table = hash_table
        self.drift = SchemaDriftDetector()
        self.batches_seen = 0

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.batches_seen += 1
        self.drift.observe(batch)
        mode = self.cfg.sync_mode
        if mode in ("consume", "none"):
            # CONSUME/NONE: read and drop (firebase/app/artifacts.py:390-394)
            return
        hashed = batch.withColumn("hash", content_hash_expr(batch))
        if self.cfg.id_col != "id":
            hashed = hashed.withColumnRenamed(self.cfg.id_col, "id")
        # collapse to ONE version per id BEFORE anything downstream:
        # doc merge and hash record must see the SAME survivor, or the
        # doc table can hold v1 while the hash table records v2 and the
        # anti-join then suppresses v2 forever. With seq_col the
        # survivor is the latest by offset; without, it is arbitrary
        # but consistently shared by both writes.
        if self.cfg.seq_col is not None:
            from aether_firebase_consumer_spark.sinks.upsert import (
                latest_per_key,
            )
            hashed = latest_per_key(hashed, ["id"], self.cfg.seq_col)
        else:
            hashed = hashed.dropDuplicates(["id"])
        if mode == "sync":
            to_write = self.hash_table.needs_update(hashed)
        else:  # forward: unconditional
            to_write = hashed
        # cache: the anti-join result feeds two writes
        to_write = to_write.persist()
        try:
            # an empty gated batch (nothing changed / empty trigger) must
            # be a NO-OP: ParquetUpsertTable.merge on an empty frame
            # would rewrite the whole table into a new version —
            # O(table) per idle micro-batch at scale
            if to_write.isEmpty():
                return
            self._merge(to_write)
        finally:
            to_write.unpersist()

    def _merge(self, to_write: DataFrame) -> None:
        """The document merge here and the hash-state merge on a
        helper thread, the hash commit held until the documents have
        committed (see the class docstring)."""
        doc_version: list[int] = []
        doc_done = threading.Event()
        hash_error: list[BaseException] = []

        def after_docs() -> dict:
            doc_done.wait()
            if not doc_version:
                raise RuntimeError("document merge failed; the hash "
                                   "state is not committed")
            return {"doc_version": doc_version[0]}

        def record_hashes() -> None:
            try:
                self.hash_table.record(to_write, commit_meta=after_docs)
            except BaseException as e:  # re-raised on this thread
                hash_error.append(e)

        helper = InheritableThread(target=record_hashes, daemon=True)
        helper.start()
        try:
            doc_version.append(self.doc_table.merge(to_write.drop("hash")))
        finally:
            doc_done.set()
            helper.join()
        if hash_error:
            raise hash_error[0]

    def writer(self, stream: DataFrame, checkpoint: str):
        # observe(): per-batch row count + distinct-path reach computed
        # INSIDE the streaming plan (no extra pass) and surfaced in
        # every StreamingQueryProgress under observedMetrics — the
        # counterpart of the reference's every-100-messages report
        # counter (firebase/app/artifacts.py:305,322,327), but pulled
        # from the engine, not hand-tallied in a loop
        metrics = [F.count(F.lit(1)).alias("rows_out")]
        if self.cfg.subscriptions:  # target_path only exists when routed
            metrics.append(F.approx_count_distinct("target_path")
                           .alias("paths_reached"))
        observed = transform(stream, self.cfg).observe(
            "afcs_pipeline", *metrics)
        return (observed
                .writeStream
                .foreachBatch(self.process_batch)
                .option("checkpointLocation", checkpoint)
                .outputMode("update"))
