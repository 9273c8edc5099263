"""End-to-end Structured Streaming tests: the E1 pipeline over a file
stream into the MERGE upsert sink, hash-gated idempotence (O10), schema
drift (O14), and a windowed streaming agg vs its batch twin.

Mirrors the reference's integration strategy (produce docs → consume →
assert docs at the routed path, ``firebase/tests/test_integration.py:57-77``)
with the file source standing in for Kafka (no broker in the image).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from aether_firebase_consumer_spark.operators.filtering import FilterConfig
from aether_firebase_consumer_spark.operators.masking import MaskConfig
from aether_firebase_consumer_spark.operators.routing import Subscription
from aether_firebase_consumer_spark.sinks.kv import KVStore
from aether_firebase_consumer_spark.sinks.upsert import HashStateTable, ParquetUpsertTable
from aether_firebase_consumer_spark.streaming.pipeline import (
    PipelineConfig,
    StreamingUpsertJob,
    transform,
)
from aether_firebase_consumer_spark.streaming.schema_drift import SchemaDriftDetector
from aether_firebase_consumer_spark.tables import normalize_event_ts

SF = "/root/testdata/sf0.001"


def _stream_events_dir(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir(exist_ok=True)
    shutil.copy(f"{SF}/events.parquet", src / "part-0.parquet")
    src = str(src)
    schema = spark.read.parquet(src).schema
    return normalize_event_ts(spark.readStream.schema(schema).parquet(src))


def _docs(spark, tmp_path):
    """Events as documents: id + topic + payload."""
    stream = _stream_events_dir(spark, tmp_path)
    return stream.select(
        F.col("event_id").cast("string").alias("id"),
        F.concat(F.lit("t1."), "event_type").alias("topic"),
        "user_id", "value", "props")


def _cfg(sync_mode="forward"):
    return PipelineConfig(
        tenant="t1",
        filter_config=FilterConfig("topic", ["t1.click", "t1.view"]),
        mask_config=MaskConfig(["public", "private"], "public"),
        classifications={"props": "private"},
        subscriptions=[Subscription(id="s1", topic_pattern="*")],
        sync_mode=sync_mode,
    )


def _run_job(spark, tmp_path, tag, sync_mode="forward"):
    doc_table = ParquetUpsertTable(spark, str(tmp_path / f"docs_{tag}"), ["id"])
    hash_table = HashStateTable(spark, str(tmp_path / f"hashes_{tag}"))
    job = StreamingUpsertJob(_cfg(sync_mode), doc_table, hash_table)
    stream = _docs(spark, tmp_path)
    q = job.writer(stream, str(tmp_path / f"ckpt_{tag}")).start()
    q.processAllAvailable()
    q.stop()
    return doc_table, hash_table, job


def test_streaming_pipeline_filters_masks_routes(spark, tmp_path):
    doc_table, hash_table, job = _run_job(spark, tmp_path, "a")
    out = doc_table.read()
    assert out is not None
    rows = out.collect()
    assert len(rows) > 0
    # filter applied: only click/view topics
    topics = {r["topic"] for r in rows}
    assert topics == {"t1.click", "t1.view"}
    # mask applied: private column props is gone
    assert "props" not in out.columns
    # route applied: default template path
    paths = {r["target_path"] for r in rows}
    assert paths == {"_aether/entities/click", "_aether/entities/view"}
    # batch-vs-stream parity: same transform on the batch frame
    batch = spark.read.parquet(str(tmp_path / "stream_src")).select(
        F.col("event_id").cast("string").alias("id"),
        F.concat(F.lit("t1."), "event_type").alias("topic"),
        "user_id", "value", "props")
    expected = transform(batch, _cfg()).count()
    assert len(rows) == expected


def test_sync_mode_hash_gating_idempotent(spark, tmp_path):
    doc_table, hash_table, job = _run_job(spark, tmp_path, "b", "sync")
    v1 = doc_table.table.current_version() if hasattr(doc_table, "table") \
        else doc_table.current_version()
    n1 = doc_table.read().count()
    assert n1 > 0
    # run the same data again in a new job (fresh checkpoint, same sinks):
    # every doc's hash is already stored → anti-join drops everything
    job2 = StreamingUpsertJob(_cfg("sync"), doc_table, hash_table)
    stream = _docs(spark, tmp_path)
    q = job2.writer(stream, str(tmp_path / "ckpt_b2")).start()
    q.processAllAvailable()
    q.stop()
    assert doc_table.read().count() == n1  # no new/changed rows written


def test_consume_mode_writes_nothing(spark, tmp_path):
    doc_table, _, _ = _run_job(spark, tmp_path, "c", "consume")
    assert doc_table.read() is None


def test_schema_drift_detector(spark):
    d = SchemaDriftDetector()
    df1 = spark.createDataFrame([(1, "x")], ["a", "b"])
    df2 = spark.createDataFrame([(1, "x", 2.0)], ["a", "b", "c"])
    assert d.observe(df1, "t") is False      # first sight: cached
    assert d.observe(df1, "t") is False      # unchanged
    assert d.observe(df2, "t") is True       # drift
    assert len(d.changes) == 1


def test_streaming_window_agg_matches_batch(spark, tmp_path):
    stream = _stream_events_dir(spark, tmp_path)
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour"), "event_type")
           .agg(F.count("*").alias("n")))
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("win_out").start())
    q.processAllAvailable()
    q.stop()
    got = {(r["window"]["start"], r["event_type"]): r["n"]
           for r in spark.sql("SELECT * FROM win_out").collect()}
    batch = normalize_event_ts(spark.read.parquet(str(tmp_path / "stream_src")))
    expected = {(r["window"]["start"], r["event_type"]): r["n"]
                for r in batch.groupBy(F.window("ts", "1 hour"), "event_type")
                .agg(F.count("*").alias("n")).collect()}
    assert got == expected


def test_kv_store_golden_roundtrip(spark, tmp_path):
    # reference round-trip values: firebase/tests/test_unit.py:57-60
    kv = KVStore(spark, str(tmp_path / "kv"))
    for i, value in enumerate([1, 1.0, "a", [1, 2, 3], {"a": "b"}]):
        kv.set(f"some/path/{i}", value)
    for i, value in enumerate([1, 1.0, "a", [1, 2, 3], {"a": "b"}]):
        assert kv.get(f"some/path/{i}") == value
    # overwrite wins
    kv.set("some/path/0", {"new": [4, 5]})
    assert kv.get("some/path/0") == {"new": [4, 5]}
    # delete removes
    kv.delete("some/path/0")
    assert kv.get("some/path/0") is None
    assert kv.get("missing/path") is None


def test_upsert_merge_semantics(spark, tmp_path):
    t = ParquetUpsertTable(spark, str(tmp_path / "up"), ["id"])
    t.merge(spark.createDataFrame([("a", 1), ("b", 2)], ["id", "v"]))
    t.merge(spark.createDataFrame([("b", 20), ("c", 3)], ["id", "v"]))
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {"a": 1, "b": 20, "c": 3}
    t.delete_keys(spark.createDataFrame([("a",)], ["id"]))
    assert {r["id"] for r in t.read().collect()} == {"b", "c"}


def test_upsert_merge_schema_evolution(spark, tmp_path):
    """A batch adding a new column (O14 drift) merges: old rows read
    NULL in the new column; a batch missing an old column writes NULL
    there (full-document set semantics, like the reference batch.set)."""
    t = ParquetUpsertTable(spark, str(tmp_path / "evo_up"), ["id"])
    t.merge(spark.createDataFrame([("a", 1), ("b", 2)], ["id", "v"]))
    t.merge(spark.createDataFrame([("b", 20, "x"), ("c", 3, "y")],
                                  ["id", "v", "extra"]))
    got = {r["id"]: (r["v"], r["extra"]) for r in t.read().collect()}
    assert got == {"a": (1, None), "b": (20, "x"), "c": (3, "y")}
    # batch without the original column: set semantics → v becomes null
    t.merge(spark.createDataFrame([("a", "z")], ["id", "extra"]))
    got = {r["id"]: (r["v"], r["extra"]) for r in t.read().collect()}
    assert got == {"a": (None, "z"), "b": (20, "x"), "c": (3, "y")}


def test_stateful_change_detect_across_restarts(spark, tmp_path):
    """applyInPandasWithState hash gate: batch 1 emits everything (new
    ids); after a restart from the same checkpoint, batch 2 emits ONLY
    the docs whose content hash changed — state survives the restart."""
    from aether_firebase_consumer_spark.streaming.stateful import (
        change_detect_stream,
    )
    src = tmp_path / "cd_src"
    src.mkdir()
    ckpt = str(tmp_path / "cd_ckpt")

    base = spark.createDataFrame(
        [(str(i), f"text-{i}") for i in range(20)], "id string, text string")
    base.coalesce(1).write.parquet(str(src / "b1"))
    schema = "id string, text string, hash string"

    def run_once():
        stream = (spark.readStream.schema("id string, text string")
                  .option("maxFilesPerTrigger", "1000")
                  .parquet(str(src) + "/*")
                  .withColumn("hash", F.md5("text")))
        out = change_detect_stream(stream, "id", "hash")
        q = (out.writeStream.format("parquet")
             .option("path", str(tmp_path / "cd_out"))
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    first = spark.read.schema(schema).parquet(str(tmp_path / "cd_out"))
    assert first.count() == 20  # every id is new

    # batch 2: 5 changed, 15 identical, 2 brand new
    changed = spark.createDataFrame(
        [(str(i), f"text-{i}-v2") for i in range(5)]
        + [(str(i), f"text-{i}") for i in range(5, 20)]
        + [(str(i), f"text-{i}") for i in (100, 101)],
        "id string, text string")
    changed.coalesce(1).write.parquet(str(src / "b2"))
    run_once()
    out = spark.read.schema(schema).parquet(str(tmp_path / "cd_out"))
    assert out.count() == 20 + 5 + 2
    emitted_v2 = {r["id"] for r in out.filter(
        F.col("text").endswith("-v2")).collect()}
    assert emitted_v2 == {"0", "1", "2", "3", "4"}


def test_stateful_change_detect_seq_order(spark, tmp_path):
    """A micro-batch carrying several versions of one id must fold in
    explicit seq order (the reference's Kafka-offset semantics), not
    whatever intra-group order the shuffle produced: the final state is
    the max-seq hash, and consecutive-duplicate suppression follows seq
    order."""
    from aether_firebase_consumer_spark.streaming.stateful import (
        change_detect_stream,
    )
    src = tmp_path / "seq_src"
    src.mkdir()
    ckpt = str(tmp_path / "seq_ckpt")
    # id "a": seq order h1,h1,h2 → emits seq 1 (new) and seq 3 (changed);
    # written SHUFFLED (3,1,2) so arrival order would emit differently
    spark.createDataFrame(
        [("a", 3, "h2"), ("a", 1, "h1"), ("a", 2, "h1"), ("b", 1, "h9")],
        "id string, seq int, hash string") \
        .coalesce(1).write.parquet(str(src / "b1"))

    def run_once():
        stream = (spark.readStream
                  .schema("id string, seq int, hash string")
                  .parquet(str(src) + "/*"))
        out = change_detect_stream(stream, "id", "hash", seq_col="seq")
        q = (out.writeStream.format("parquet")
             .option("path", str(tmp_path / "seq_out"))
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    got = {(r["id"], r["seq"], r["hash"]) for r in spark.read
           .schema("id string, seq int, hash string")
           .parquet(str(tmp_path / "seq_out")).collect()}
    assert got == {("a", 1, "h1"), ("a", 3, "h2"), ("b", 1, "h9")}

    # batch 2: same hash as the max-seq state → nothing emitted for "a"
    spark.createDataFrame([("a", 4, "h2")],
                          "id string, seq int, hash string") \
        .coalesce(1).write.parquet(str(src / "b2"))
    run_once()
    n = spark.read.schema("id string, seq int, hash string") \
        .parquet(str(tmp_path / "seq_out")).count()
    assert n == 3  # state held h2, so seq 4 was suppressed


def test_schema_evolution_restart_choreography(spark, tmp_path):
    """detect -> stop -> merge -> restart: files with a new column widen
    the stream schema on the next pass; offsets carry over (no
    re-emission); old rows read as NULL in the new column."""
    from aether_firebase_consumer_spark.streaming.schema_drift import (
        SchemaDriftDetector,
        evolved_pass,
    )
    src = tmp_path / "evo_src"
    src.mkdir()
    out, ckpt = str(tmp_path / "evo_out"), str(tmp_path / "evo_ckpt")
    det = SchemaDriftDetector()

    spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int") \
        .coalesce(1).write.parquet(str(src / "b1"))
    fp1 = evolved_pass(spark, str(src), ckpt, out, det)
    assert not det.changes

    # new files carry an extra column → drift detected, schema widens
    spark.createDataFrame([("c", 3, "x")], "id string, v int, extra string") \
        .coalesce(1).write.parquet(str(src / "b2"))
    fp2 = evolved_pass(spark, str(src), ckpt, out, det)
    assert fp1 != fp2 and len(det.changes) == 1

    result = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(result.columns) == {"id", "v", "extra"}
    rows = {r["id"]: r for r in result.collect()}
    assert len(rows) == 3  # offsets carried over: no duplicates
    assert rows["a"]["extra"] is None and rows["c"]["extra"] == "x"


def test_watermark_drops_late_events(spark, tmp_path):
    """Event-time watermark: an event arriving after the watermark has
    passed its window must be dropped; the finalized window count
    excludes it."""
    src = tmp_path / "wm_src"
    src.mkdir()
    out, ckpt = str(tmp_path / "wm_out"), str(tmp_path / "wm_ckpt")

    def run_once():
        stream = spark.readStream.schema("ts timestamp, k string") \
            .option("recursiveFileLookup", "true").parquet(str(src))
        agg = (stream.withWatermark("ts", "30 minutes")
               .groupBy(F.window("ts", "1 hour"), "k")
               .agg(F.count("*").alias("n"))
               .select(F.col("window.start").alias("w"), "k", "n"))
        q = (agg.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    import datetime as dt
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    # batch 1: two in-window events + one far-future event that pushes
    # the watermark past the 10:00 window
    spark.createDataFrame([(t(10, 0), "a"), (t(10, 10), "a"), (t(13, 50), "a")],
                          "ts timestamp, k string") \
        .coalesce(1).write.parquet(str(src / "b1"))
    run_once()
    # batch 2: a LATE event for the already-finalized 10:00 window
    # (watermark is 13:20) plus a fresh one
    spark.createDataFrame([(t(10, 20), "a"), (t(14, 5), "a")],
                          "ts timestamp, k string") \
        .coalesce(1).write.parquet(str(src / "b2"))
    run_once()
    # batch 3: push watermark far ahead so every remaining window closes
    spark.createDataFrame([(t(20, 0), "a")], "ts timestamp, k string") \
        .coalesce(1).write.parquet(str(src / "b3"))
    run_once()

    got = {(r["w"].hour, r["n"]) for r in
           spark.read.parquet(out).filter(F.col("k") == "a").collect()}
    # 10:00 window finalized with 2 — the 10:20 late arrival was dropped
    assert (10, 2) in got, got
    assert (13, 1) in got and (14, 1) in got, got


def test_partitioned_merge_prunes_untouched_partitions(spark, tmp_path):
    """A merge touching one target_path partition must NOT rewrite the
    others: untouched partition files carry over as hardlinks (same
    inode), and results stay correct — O(touched partitions) per merge."""
    import os
    t = ParquetUpsertTable(spark, str(tmp_path / "pt"), ["id"],
                           partition_col="target_path")
    base = spark.createDataFrame(
        [("1", "_aether/entities/click", "a"),
         ("2", "_aether/entities/click", "b"),
         ("3", "_aether/entities/view", "c")],
        "id string, target_path string, payload string")
    t.merge(base)
    v0 = t.current_version()
    view_dir_v0 = None
    for name in os.listdir(t._data_dir(v0)):
        if "view" in name:
            view_dir_v0 = os.path.join(t._data_dir(v0), name)
    inodes_before = {fn: os.stat(os.path.join(view_dir_v0, fn)).st_ino
                     for fn in os.listdir(view_dir_v0)
                     if os.path.isfile(os.path.join(view_dir_v0, fn))}

    # merge touches only the click partition
    t.merge(spark.createDataFrame(
        [("1", "_aether/entities/click", "a2"),
         ("9", "_aether/entities/click", "z")],
        "id string, target_path string, payload string"))
    v1 = t.current_version()
    assert v1 == v0 + 1
    view_dir_v1 = None
    for name in os.listdir(t._data_dir(v1)):
        if "view" in name:
            view_dir_v1 = os.path.join(t._data_dir(v1), name)
    inodes_after = {fn: os.stat(os.path.join(view_dir_v1, fn)).st_ino
                    for fn in os.listdir(view_dir_v1)
                    if os.path.isfile(os.path.join(view_dir_v1, fn))}
    assert inodes_after == inodes_before  # hardlinked, not rewritten

    rows = {r["id"]: (r["target_path"], r["payload"])
            for r in t.read().collect()}
    assert rows == {
        "1": ("_aether/entities/click", "a2"),
        "2": ("_aether/entities/click", "b"),
        "3": ("_aether/entities/view", "c"),
        "9": ("_aether/entities/click", "z"),
    }


def test_partitioned_merge_bool_partition_values(spark, tmp_path):
    """Hive writes bool partitions as pc=true/false; Python str(True) is
    'True'. The old str() canonicalization hardlinked the stale partition
    ALONGSIDE the merged one → duplicate keys. Must not happen."""
    t = ParquetUpsertTable(spark, str(tmp_path / "bp"), ["id"],
                           partition_col="flag")
    t.merge(spark.createDataFrame(
        [("1", True, "a"), ("2", False, "b")],
        "id string, flag boolean, payload string"))
    # touch only the flag=true partition
    t.merge(spark.createDataFrame(
        [("1", True, "a2")], "id string, flag boolean, payload string"))
    # Spark's partition-type inference reads bool partition values back
    # as the Hive strings 'true'/'false' — normalize for the assert.
    rows = sorted((r["id"], str(r["flag"]).lower(), r["payload"])
                  for r in t.read().collect())
    assert rows == [("1", "true", "a2"), ("2", "false", "b")]  # no dup "1"
    t.delete_keys(spark.createDataFrame([("2", False)], "id string, flag boolean"))
    assert [(r["id"], r["payload"]) for r in t.read().collect()] == [("1", "a2")]


def test_partitioned_merge_null_and_date_partition_values(spark, tmp_path):
    """Null partition values live in __HIVE_DEFAULT_PARTITION__ and
    isin() never matches null — both paths must merge correctly:
    no stale rows, no dropped rows, no duplicate keys."""
    import datetime as dt
    t = ParquetUpsertTable(spark, str(tmp_path / "np"), ["id"],
                           partition_col="day")
    d1, d2 = dt.date(2001, 5, 1), dt.date(2001, 5, 2)
    t.merge(spark.createDataFrame(
        [("1", d1, "a"), ("2", d2, "b"), ("3", None, "c")],
        "id string, day date, payload string"))
    # touch the null partition and one date partition
    t.merge(spark.createDataFrame(
        [("3", None, "c2"), ("4", None, "d"), ("1", d1, "a2")],
        "id string, day date, payload string"))
    rows = sorted((r["id"], r["day"], r["payload"])
                  for r in t.read().collect())
    assert rows == [("1", d1, "a2"), ("2", d2, "b"),
                    ("3", None, "c2"), ("4", None, "d")]
    ids = [r[0] for r in rows]
    assert len(ids) == len(set(ids))  # no duplicate keys
    t.delete_keys(spark.createDataFrame([("3", None)], "id string, day date"))
    assert sorted(r["id"] for r in t.read().collect()) == ["1", "2", "4"]


def test_commit_retry_backoff():
    """Transient store failures retry with exponential backoff; success
    returns the attempt count; exhausted retries re-raise; non-transient
    errors propagate immediately."""
    from aether_firebase_consumer_spark.sinks.connector import (
        DocumentStoreConnector,
        TransientStoreError,
        commit_with_retry,
    )

    class Flaky(DocumentStoreConnector):
        def __init__(self, fail_times, exc=TransientStoreError):
            self.fail_times, self.exc, self.calls = fail_times, exc, 0
            self.written = []

        def write_batch(self, docs):
            self.calls += 1
            if self.calls <= self.fail_times:
                raise self.exc("boom")
            self.written.extend(docs)

    sleeps = []
    store = Flaky(2)
    n = commit_with_retry(store, [("a/1", {"v": 1})],
                          base_backoff=0.1, sleep=sleeps.append)
    assert n == 2 and store.calls == 3 and store.written
    assert sleeps == [0.1, 0.2]  # exponential

    import pytest as _pytest
    sleeps.clear()
    with _pytest.raises(TransientStoreError):
        commit_with_retry(Flaky(99), [("a/1", {})], max_retries=3,
                          base_backoff=0.1, sleep=sleeps.append)
    assert sleeps == [0.1, 0.2, 0.4]

    with _pytest.raises(ValueError):  # non-transient: no retry
        commit_with_retry(Flaky(1, exc=ValueError), [("a/1", {})],
                          sleep=sleeps.append)


def test_foreach_batch_document_writer_e2e(spark, tmp_path):
    """Stream → foreachBatch → document store: every row lands at
    {target_path}/{id}.json (the reference's cfs_ref addressing), and
    replaying the same micro-batch converges (idempotent set-by-path)."""
    import os
    from aether_firebase_consumer_spark.sinks.connector import (
        FileSystemDocumentStore,
        foreach_batch_document_writer,
    )
    src = tmp_path / "conn_src"
    src.mkdir()
    root = str(tmp_path / "store")
    os.makedirs(root)
    spark.createDataFrame(
        [(str(i), "_aether/entities/click" if i % 2 else
          "_aether/entities/view", f"p{i}") for i in range(120)],
        "id string, target_path string, payload string") \
        .coalesce(2).write.parquet(str(src / "b1"))

    def run(ckpt):
        stream = (spark.readStream
                  .schema("id string, target_path string, payload string")
                  .parquet(str(src) + "/*"))
        q = (stream.writeStream
             .foreachBatch(foreach_batch_document_writer(
                 lambda: FileSystemDocumentStore(root),
                 max_per_commit=50))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run(str(tmp_path / "conn_ckpt"))
    store = FileSystemDocumentStore(root)
    assert store.read("_aether/entities/view/0") == {
        "id": "0", "target_path": "_aether/entities/view", "payload": "p0"}
    n_docs = sum(len(fs) for _, _, fs in os.walk(root))
    assert n_docs == 120

    # replay the same files from a FRESH checkpoint → same 120 docs
    run(str(tmp_path / "conn_ckpt2"))
    assert sum(len(fs) for _, _, fs in os.walk(root)) == 120
    assert store.read("_aether/entities/click/119")["payload"] == "p119"


def test_subscription_reconcile_restart_choreography(spark, tmp_path):
    """The reference reconciles subscriptions per poll and resubscribes
    on a symmetric diff (artifacts.py:287-300). Spark-first that is:
    stop the query, rebuild it with the new subscription set, restart
    from the SAME checkpoint — offsets carry (no re-emission of already-
    processed files), and only the new config routes the new topics."""
    src = tmp_path / "rec_src"
    src.mkdir()
    ckpt = str(tmp_path / "rec_ckpt")
    doc_table = ParquetUpsertTable(spark, str(tmp_path / "rec_docs"), ["id"])
    hash_table = HashStateTable(spark, str(tmp_path / "rec_hash"))

    def cfg(subs):
        return PipelineConfig(tenant="t1", subscriptions=subs)

    def run(subs):
        job = StreamingUpsertJob(cfg(subs), doc_table, hash_table)
        stream = (spark.readStream
                  .schema("id string, topic string, payload string")
                  .parquet(str(src) + "/*"))
        q = job.writer(stream, ckpt).start()
        q.processAllAvailable()
        q.stop()

    spark.createDataFrame(
        [("1", "t1.click", "a"), ("2", "t1.lab", "b")],
        "id string, topic string, payload string") \
        .coalesce(1).write.parquet(str(src / "b1"))
    subs_v1 = [Subscription(id="s1", topic_pattern="click",
                            target_path="v1/{topic}")]
    run(subs_v1)
    rows = {r["id"]: r["target_path"] for r in doc_table.read().collect()}
    assert rows == {"1": "v1/click"}  # t1.lab unrouted → dropped

    # reconcile: add a lab subscription, restart from the same checkpoint
    spark.createDataFrame(
        [("3", "t1.lab", "c"), ("4", "t1.click", "d")],
        "id string, topic string, payload string") \
        .coalesce(1).write.parquet(str(src / "b2"))
    subs_v2 = subs_v1 + [Subscription(id="s2", topic_pattern="lab",
                                      target_path="v2/{topic}")]
    run(subs_v2)
    rows = {r["id"]: r["target_path"] for r in doc_table.read().collect()}
    # doc 2 was consumed under v1 (offsets carried — NOT re-read), docs
    # 3/4 routed under the reconciled set
    assert rows == {"1": "v1/click", "3": "v2/lab", "4": "v1/click"}


def test_hive_partition_value_matches_spark_directories(spark, tmp_path):
    """hive_partition_value must reproduce the exact directory value
    Spark writes for every partition-value type the sink supports —
    the contract the hardlink carry-over depends on."""
    import datetime as dt
    import os
    from urllib.parse import unquote
    from aether_firebase_consumer_spark.sinks.upsert import (
        hive_partition_value,
    )
    cases = [
        ("boolean", True), ("boolean", False),
        ("int", 42), ("string", "plain"),
        ("string", "with space"), ("string", "a/b"),
        ("date", dt.date(2001, 5, 1)),
        ("string", None),
    ]
    for i, (typ, val) in enumerate(cases):
        path = str(tmp_path / f"hv_{i}")
        spark.createDataFrame([(1, val)], f"id int, pc {typ}") \
            .write.partitionBy("pc").parquet(path)
        dirs = [d for d in os.listdir(path) if d.startswith("pc=")]
        assert len(dirs) == 1, (typ, val, dirs)
        got = unquote(dirs[0].split("=", 1)[1])
        assert got == hive_partition_value(val), (typ, val, got)


@pytest.mark.parametrize("dtype,vals,touch", [
    ("int", [0, 1, 2, 3], [1, 3]),
    ("boolean", [True, False, None], [True, None]),
    ("string", ["plain", "with space", "a/b", "x=y", "%20", None],
     ["a/b", "x=y", None]),
    ("date", ["2001-05-01", "2020-12-31", "1970-01-01"],
     ["2020-12-31"]),
    ("decimal(7,2)", ["1.50", "-3.25", "100.00"], ["-3.25"]),
], ids=["int", "bool_null", "string_special", "date", "decimal"])
def test_merge_prunes_exactly_touched_partitions(spark, tmp_path,
                                                 dtype, vals, touch):
    """The pruning property behind the partitioned MERGE, per partition
    value type (incl. hive-escaped specials, bool, null, date,
    decimal): after merging a batch touching subset T of partitions,
    (a) the result equals the upsert semantics, (b) every partition
    NOT in T was carried over as hardlinks (same inodes — zero rewrite
    work), (c) every partition in T was freshly written. A
    hive_partition_value mismatch for any type breaks (b) by
    hardlinking the stale partition alongside the merged one."""
    import datetime as dt
    import decimal as dec
    import os

    def conv(v):
        if v is None or dtype in ("int", "boolean"):
            return v
        if dtype == "date":
            return dt.date.fromisoformat(v)
        if dtype.startswith("decimal"):
            return dec.Decimal(v)
        return v

    def inodes(version_dir):
        out = {}
        for name in os.listdir(version_dir):
            sub = os.path.join(version_dir, name)
            if os.path.isdir(sub) and "=" in name:
                out[name] = {os.stat(os.path.join(sub, f)).st_ino
                             for f in os.listdir(sub)
                             if f.endswith(".parquet")}
        return out

    t = ParquetUpsertTable(spark, str(tmp_path / "pp"), ["id"],
                           partition_col="pc")
    seed = [(f"k{i}", conv(v), 0) for i, v in enumerate(vals)]
    t.merge(spark.createDataFrame(seed, f"id string, pc {dtype}, v int"))
    v0 = inodes(t._data_dir(0))
    assert len(v0) == len(vals)

    batch = [(f"k{vals.index(x)}", conv(x), 1) for x in touch]
    t.merge(spark.createDataFrame(batch, f"id string, pc {dtype}, v int"))
    v1 = inodes(t._data_dir(1))
    assert set(v1) == set(v0)  # same partition set, no stale duplicates

    from aether_firebase_consumer_spark.sinks.upsert import (
        hive_partition_value,
    )
    touched_names = {f"pc={hive_partition_value(conv(x))}" for x in touch}
    for name, ino in v1.items():
        from urllib.parse import unquote
        unescaped = f"pc={unquote(name.split('=', 1)[1])}"
        if unescaped in touched_names:
            assert ino.isdisjoint(v0[name]), f"{name} not rewritten"
        else:
            assert ino == v0[name], f"{name} rewritten, not hardlinked"

    got = {r["id"]: r["v"] for r in t.read().collect()}
    expect = {f"k{i}": (1 if v in touch else 0)
              for i, v in enumerate(vals)}
    assert got == expect


def test_stateful_change_detect_state_ttl_eviction(spark, tmp_path):
    """With a state TTL, a key idle past the TTL is evicted (timeout
    path) and re-seen content re-emits as NEW — at-least-once in the
    safe direction; without eviction the same hash would be suppressed.
    Bounds state size for unbounded doc-id spaces.

    TTL mode needs a continuously-running query (see the operator
    docstring: processing-time timeouts never terminate under
    availableNow), so this test drives ONE long-lived processingTime
    query and stops it explicitly."""
    import time as _time
    from aether_firebase_consumer_spark.streaming.stateful import (
        change_detect_stream,
    )
    src = tmp_path / "ttl_src"
    src.mkdir()

    def feed(rows, name):
        spark.createDataFrame(rows, "id string, hash string") \
            .coalesce(1).write.parquet(str(src / name))

    def rows_out(out_dir):
        try:
            return sorted((r["id"], r["hash"]) for r in spark.read
                          .schema("id string, hash string")
                          .parquet(out_dir).collect())
        except Exception:          # no files committed yet
            return []

    def await_rows(out_dir, n, timeout_s=60):
        deadline = _time.monotonic() + timeout_s
        while _time.monotonic() < deadline:
            got = rows_out(out_dir)
            if len(got) >= n:
                return got
            _time.sleep(0.25)
        raise AssertionError(
            f"timed out waiting for {n} rows, have {rows_out(out_dir)}")

    out_dir = str(tmp_path / "ttl_out")
    stream = (spark.readStream.schema("id string, hash string")
              .parquet(str(src) + "/*"))
    out = change_detect_stream(stream, "id", "hash", state_ttl_ms=1500)
    q = (out.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ttl_ckpt"))
         .outputMode("append")
         .trigger(processingTime="500 milliseconds").start())
    try:
        feed([("a", "h1")], "b1")
        await_rows(out_dir, 1)                  # a/h1 emits as new
        # Idle well past the 1500 ms TTL so an intervening no-data
        # batch fires the timeout and evicts 'a' BEFORE b2 arrives (a
        # group with new data in the same batch is invoked with
        # hasTimedOut=False, which would mask the eviction).
        _time.sleep(4.0)
        # same hash again: suppressed if state had survived eviction
        feed([("a", "h1"), ("b", "h9")], "b2")
        got = await_rows(out_dir, 3)
    finally:
        q.stop()
    assert got == [("a", "h1"), ("a", "h1"), ("b", "h9")]  # re-emitted


def test_ttl_with_run_to_completion_trigger_raises(spark, tmp_path):
    """state_ttl_ms + availableNow/once never terminates (the timeout
    always schedules another batch) — the guard must refuse the
    combination up front instead of letting the query spin."""
    from aether_firebase_consumer_spark.streaming.stateful import (
        start_change_detect_query,
        validate_ttl_trigger,
    )
    with pytest.raises(ValueError, match="run-to-completion"):
        validate_ttl_trigger(1000, availableNow=True)
    with pytest.raises(ValueError, match="run-to-completion"):
        validate_ttl_trigger(1000, once=True)
    # valid combinations pass through unchanged
    assert validate_ttl_trigger(1000, processingTime="1 second") == \
        {"processingTime": "1 second"}
    assert validate_ttl_trigger(None, availableNow=True) == \
        {"availableNow": True}
    # the query starter enforces the same guard before starting anything
    (tmp_path / "guard_src").mkdir()
    stream = (spark.readStream.schema("id string, hash string")
              .parquet(str(tmp_path / "guard_src")))
    with pytest.raises(ValueError, match="run-to-completion"):
        start_change_detect_query(stream, str(tmp_path / "o"),
                                  str(tmp_path / "c"),
                                  state_ttl_ms=1000, availableNow=True)


def test_start_change_detect_query_runs_drain(spark, tmp_path):
    """The starter works end-to-end for the legal drain combination
    (no TTL + availableNow)."""
    from aether_firebase_consumer_spark.streaming.stateful import (
        start_change_detect_query,
    )
    src = tmp_path / "sq_src"
    src.mkdir()
    spark.createDataFrame([("a", "h1"), ("a", "h1"), ("b", "h2")],
                          "id string, hash string") \
        .coalesce(1).write.parquet(str(src / "b1"))
    stream = (spark.readStream.schema("id string, hash string")
              .parquet(str(src) + "/*"))
    q = start_change_detect_query(stream, str(tmp_path / "sq_out"),
                                  str(tmp_path / "sq_ckpt"),
                                  availableNow=True)
    q.awaitTermination(120)
    got = sorted((r["id"], r["hash"]) for r in spark.read
                 .schema("id string, hash string")
                 .parquet(str(tmp_path / "sq_out")).collect())
    assert got == [("a", "h1"), ("b", "h2")]


def test_time_travel_and_change_feed(spark, tmp_path):
    """Delta-style snapshot reads + CDF over the version-swap table:
    retained versions are readable as-of, each version's key-level
    diff classifies insert/update/delete, and GC'd versions raise."""
    t = ParquetUpsertTable(spark, str(tmp_path / "tt"), ["id"],
                           retain_versions=4)
    t.merge(spark.createDataFrame([("a", 1), ("b", 2)], ["id", "v"]))   # v0
    t.merge(spark.createDataFrame([("b", 20), ("c", 3)], ["id", "v"]))  # v1
    t.delete_keys(spark.createDataFrame([("a",)], ["id"]))              # v2

    assert t.versions() == [0, 1, 2]
    assert {r["id"]: r["v"] for r in t.read_version(0).collect()} == \
        {"a": 1, "b": 2}
    assert {r["id"]: r["v"] for r in t.read_version(1).collect()} == \
        {"a": 1, "b": 20, "c": 3}
    assert {r["id"]: r["v"] for r in t.read_version(2).collect()} == \
        {"b": 20, "c": 3}

    assert {(r["id"], r["change_type"]) for r in t.changes(0).collect()} == \
        {("a", "insert"), ("b", "insert")}
    assert {(r["id"], r["change_type"]) for r in t.changes(1).collect()} == \
        {("b", "update"), ("c", "insert")}
    assert {(r["id"], r["change_type"]) for r in t.changes(2).collect()} == \
        {("a", "delete")}

    # unchanged rows never appear in the feed
    t.merge(spark.createDataFrame([("b", 20), ("d", 4)], ["id", "v"]))  # v3
    assert {(r["id"], r["change_type"]) for r in t.changes(3).collect()} == \
        {("d", "insert")}

    # retention: v0 is GC'd after the 5th commit
    t.merge(spark.createDataFrame([("e", 5)], ["id", "v"]))             # v4
    assert t.versions() == [1, 2, 3, 4]
    with pytest.raises(ValueError, match="not retained"):
        t.read_version(0)
    # the commit-time RECORDING keeps v1's changes readable even with
    # v0 gone (r11: changes() needs no predecessor)...
    assert {(r["id"], r["change_type"]) for r in t.changes(1).collect()} == \
        {("b", "update"), ("c", "insert")}
    # ...but without the recording the diff fallback needs v0: loud error
    shutil.rmtree(os.path.join(t._data_dir(1), "_changes"))
    with pytest.raises(ValueError, match="vacuumed"):
        t.changes(1)


def test_vacuum_reclaims_history_keeps_current(spark, tmp_path):
    """10 merges at wide retention → vacuum(2) keeps the newest two
    versions only; the current read is unchanged (hardlink-shared files
    survive removal of old version dirs on a PARTITIONED table), and
    reaching vacuumed history raises a clear 'vacuumed' error."""
    t = ParquetUpsertTable(spark, str(tmp_path / "vac"), ["id"],
                           partition_col="pc", retain_versions=100)
    for i in range(10):
        t.merge(spark.createDataFrame([(f"k{i}", i, i % 3)],
                                      "id string, v int, pc int"))
    assert t.versions() == list(range(10))
    removed = t.vacuum(2)
    assert removed == list(range(8))
    assert t.versions() == [8, 9]
    # current snapshot intact — including rows living in partitions
    # untouched (hardlinked) since early versions
    assert {r["id"]: r["v"] for r in t.read().collect()} == \
        {f"k{i}": i for i in range(10)}
    with pytest.raises(ValueError, match="vacuumed"):
        t.read_version(0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.change_feed(0)
    # the surviving tail of the feed still works
    assert {r["version"] for r in t.change_feed(9).collect()} == {9}
    with pytest.raises(ValueError, match="keep_last_n"):
        t.vacuum(0)


def test_retain_versions_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="retain_versions"):
        ParquetUpsertTable(spark, str(tmp_path / "x"), ["id"],
                           retain_versions=1)


def test_empty_merge_and_delete_are_noops(spark, tmp_path):
    """Merging or deleting an EMPTY frame must never write a version:
    against an existing table the rewrite would copy everything per
    idle micro-batch, and a FIRST-ever empty merge could write a
    version with no parquet files at all when the frame arrives with
    zero partitions (AQE-coalesced filter results), bricking reads.
    Deleting every row, by contrast, must leave a READABLE empty
    table."""
    t = ParquetUpsertTable(spark, str(tmp_path / "noop"), ["id"])
    empty = spark.createDataFrame([], "id string, v int")
    t.merge(empty)                       # no-op: table not created
    assert t.current_version() == -1 and t.read() is None
    t.merge(spark.createDataFrame([("a", 1)], ["id", "v"]))   # v0
    v = t.current_version()
    t.merge(empty)                       # no-op
    t.delete_keys(spark.createDataFrame([], "id string"))     # no-op
    assert t.current_version() == v
    assert {r["id"] for r in t.read().collect()} == {"a"}
    # delete-all: a new version, readable, zero rows (not bricked)
    t.delete_keys(spark.createDataFrame([("a",)], ["id"]))
    assert t.current_version() == v + 1
    assert t.read().count() == 0
    # and the table accepts new data afterwards
    t.merge(spark.createDataFrame([("b", 2)], ["id", "v"]))
    assert {r["id"] for r in t.read().collect()} == {"b"}


def test_change_feed_concatenates_versions(spark, tmp_path):
    t = ParquetUpsertTable(spark, str(tmp_path / "cf"), ["id"],
                           retain_versions=4)
    t.merge(spark.createDataFrame([("a", 1)], ["id", "v"]))            # v0
    t.merge(spark.createDataFrame([("a", 2), ("b", 1)], ["id", "v"]))  # v1
    t.delete_keys(spark.createDataFrame([("a",)], ["id"]))             # v2
    feed = {(r["version"], r["id"], r["change_type"])
            for r in t.change_feed().collect()}
    assert feed == {(0, "a", "insert"),
                    (1, "a", "update"), (1, "b", "insert"),
                    (2, "a", "delete")}
    # partial catch-up
    tail = {(r["version"], r["id"], r["change_type"])
            for r in t.change_feed(from_version=2).collect()}
    assert tail == {(2, "a", "delete")}
    with pytest.raises(ValueError, match="no versions"):
        t.change_feed(from_version=9)


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark (Spark 3.5+): duplicates of a key
    arriving within the watermark delay are dropped even when their
    event times differ (the at-least-once-source dedup shape that
    plain dropDuplicates([id, ts]) can't express); once the watermark
    passes a key's event time + delay the state evicts, so a
    re-arrival far later is treated as new — bounded state by
    construction, the only dedup that survives an unbounded key space
    at 100 TB."""
    src = tmp_path / "ddw_src"
    src.mkdir()
    out, ckpt = str(tmp_path / "ddw_out"), str(tmp_path / "ddw_ckpt")

    def run_once():
        stream = spark.readStream.schema("ts timestamp, id string") \
            .option("recursiveFileLookup", "true").parquet(str(src))
        dedup = (stream.withWatermark("ts", "30 minutes")
                 .dropDuplicatesWithinWatermark(["id"]))
        q = (dedup.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    import datetime as dt
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    # batch 1: two keys + a watermark pusher (wm -> 10:30 after batch)
    spark.createDataFrame(
        [(t(10, 0), "k1"), (t(10, 5), "k2"), (t(11, 0), "adv1")],
        "ts timestamp, id string").coalesce(1).write.parquet(str(src / "b1"))
    run_once()
    # batch 2 (wm currently 10:30): k2 re-arrives at a DIFFERENT event
    # time but within the delay -> must be dropped; wm then -> 11:30
    spark.createDataFrame(
        [(t(10, 40), "k2"), (t(12, 0), "adv2")],
        "ts timestamp, id string").coalesce(1).write.parquet(str(src / "b2"))
    run_once()
    # batch 3 (wm 11:30 > k1's 10:00+30min): k1's state is evicted, a
    # late re-arrival ABOVE the watermark is new again
    spark.createDataFrame(
        [(t(11, 45), "k1")],
        "ts timestamp, id string").coalesce(1).write.parquet(str(src / "b3"))
    run_once()

    from collections import Counter
    got = Counter(r["id"] for r in spark.read.parquet(out).collect())
    assert got["k2"] == 1, got        # within-watermark duplicate dropped
    assert got["k1"] == 2, got        # re-emitted after state eviction
    assert got["adv1"] == got["adv2"] == 1, got


def test_pipeline_observed_metrics(spark, tmp_path):
    """observe(): rows_out and paths_reached computed inside the
    streaming plan and surfaced in StreamingQueryProgress — the
    engine-side replacement for the reference's hand-tallied
    report counter (artifacts.py:305,322,327)."""
    from aether_firebase_consumer_spark.sinks.upsert import (
        HashStateTable,
        ParquetUpsertTable,
    )
    from aether_firebase_consumer_spark.streaming.pipeline import (
        StreamingUpsertJob,
    )
    doc_table = ParquetUpsertTable(spark, str(tmp_path / "docs_om"), ["id"])
    hash_table = HashStateTable(spark, str(tmp_path / "hashes_om"))
    job = StreamingUpsertJob(_cfg(), doc_table, hash_table)
    stream = _docs(spark, tmp_path)
    q = job.writer(stream, str(tmp_path / "ckpt_om")).start()
    q.processAllAvailable()
    progress = q.lastProgress
    q.stop()
    om = progress["observedMetrics"]["afcs_pipeline"]
    assert om["rows_out"] == doc_table.read().count()
    assert om["paths_reached"] >= 1  # click + view routes (HLL approx)


def test_streaming_soak_many_triggers_bounded_versions(spark, tmp_path):
    """Sustained ingestion: 12 availableNow triggers through the full
    pipeline; the doc table must stay exactly-once correct (every id
    present once, latest value wins) and version GC must hold storage
    BOUNDED (retain_versions dirs, not one per trigger)."""
    import os

    from aether_firebase_consumer_spark.sinks.upsert import (
        HashStateTable,
        ParquetUpsertTable,
    )
    from aether_firebase_consumer_spark.streaming.pipeline import (
        StreamingUpsertJob,
    )
    src = tmp_path / "soak_src"
    src.mkdir()
    doc_table = ParquetUpsertTable(
        spark, str(tmp_path / "soak_docs"), ["id"], retain_versions=3)
    hash_table = HashStateTable(spark, str(tmp_path / "soak_hashes"))
    job = StreamingUpsertJob(_cfg("sync"), doc_table, hash_table)
    ckpt = str(tmp_path / "soak_ckpt")

    expected = {}
    for trig in range(12):
        # each trigger: 2 new ids + 1 update of an old id + 1 unchanged
        rows = [(f"id{trig}a", "t1.click", trig),
                (f"id{trig}b", "t1.view", trig),
                (f"id{max(0, trig - 1)}a", "t1.click", trig + 100),
                ("id0b", "t1.view", 0)]
        spark.createDataFrame(rows, "id string, topic string, value int") \
            .coalesce(1).write.parquet(str(src / f"b{trig}"))
        for (i, t, v) in rows:
            expected[i] = v
        stream = (spark.readStream.schema("id string, topic string, value int")
                  .option("recursiveFileLookup", "true").parquet(str(src)))
        q = job.writer(stream, ckpt).trigger(availableNow=True).start()
        q.awaitTermination()

    got = {r["id"]: r["value"] for r in doc_table.read().collect()}
    assert got == expected
    # GC: at most retain_versions version dirs remain
    vdirs = [d for d in os.listdir(str(tmp_path / "soak_docs"))
             if d.startswith("v")]
    assert len(vdirs) <= 3, vdirs


def test_multi_version_batch_consistent_survivor(spark, tmp_path):
    """One micro-batch carrying several versions of a doc: with
    seq_col the LATEST version lands in the doc table AND its hash in
    the hash table (same survivor for both writes), so the next
    arrival of that version is correctly suppressed and an older one
    correctly ignored — the divergence the review flagged."""
    from aether_firebase_consumer_spark.sinks.upsert import (
        HashStateTable,
        ParquetUpsertTable,
    )
    from aether_firebase_consumer_spark.streaming.pipeline import (
        PipelineConfig,
        StreamingUpsertJob,
    )
    cfg = PipelineConfig(tenant="t1", sync_mode="sync", seq_col="offset")
    doc_table = ParquetUpsertTable(spark, str(tmp_path / "mv_docs"), ["id"])
    hash_table = HashStateTable(spark, str(tmp_path / "mv_hashes"))
    job = StreamingUpsertJob(cfg, doc_table, hash_table)

    b1 = spark.createDataFrame(
        [("x", "v1", 1), ("x", "v2", 2), ("y", "w1", 5)],
        "id string, payload string, offset long")
    job.process_batch(b1, 0)
    got = {r["id"]: r["payload"] for r in doc_table.read().collect()}
    assert got == {"x": "v2", "y": "w1"}

    # re-delivery of the surviving version: hash-gated no-op
    v_before = doc_table.current_version()
    job.process_batch(spark.createDataFrame(
        [("x", "v2", 2)], "id string, payload string, offset long"), 1)
    assert doc_table.current_version() == v_before

    # a genuinely new version updates
    job.process_batch(spark.createDataFrame(
        [("x", "v3", 3)], "id string, payload string, offset long"), 2)
    got = {r["id"]: r["payload"] for r in doc_table.read().collect()}
    assert got == {"x": "v3", "y": "w1"}


def _sync_job(spark, tmp_path, tag):
    cfg = PipelineConfig(tenant="t1", sync_mode="sync", seq_col="offset")
    doc_table = ParquetUpsertTable(spark, str(tmp_path / f"{tag}_docs"),
                                   ["id"])
    hash_table = HashStateTable(spark, str(tmp_path / f"{tag}_hashes"))
    return doc_table, hash_table, StreamingUpsertJob(cfg, doc_table,
                                                     hash_table)


def _staged_dirs(*tables):
    return [n for t in tables for n in os.listdir(t.path)
            if n.startswith("_staged-")]


def test_failed_doc_merge_aborts_the_hash_commit(spark, tmp_path):
    """The hash-state merge overlaps the document merge but commits
    after it: a document merge that raises leaves the hash table at
    its version with no staged leftovers in either table, so the
    replayed batch is not suppressed by hashes of unwritten documents
    and writes them."""
    doc_table, hash_table, job = _sync_job(spark, tmp_path, "abort")
    schema = "id string, payload string, offset long"
    job.process_batch(spark.createDataFrame([("x", "v1", 1)], schema), 0)
    doc_v = doc_table.current_version()
    hash_v = hash_table.table.current_version()
    assert hash_table.table.commit_meta() == {"doc_version": doc_v}

    def fail(*args, **kwargs):
        raise RuntimeError("injected document-merge failure")

    # fails after the document data is staged, before its commit
    doc_table._write_changes = fail
    batch = spark.createDataFrame([("x", "v2", 2), ("y", "w1", 3)], schema)
    with pytest.raises(RuntimeError, match="injected"):
        job.process_batch(batch, 1)
    assert doc_table.current_version() == doc_v
    assert hash_table.table.current_version() == hash_v
    assert _staged_dirs(doc_table, hash_table.table) == []

    del doc_table._write_changes
    job.process_batch(batch, 1)  # the replay
    got = {r["id"]: r["payload"] for r in doc_table.read().collect()}
    assert got == {"x": "v2", "y": "w1"}
    assert hash_table.table.commit_meta() == {
        "doc_version": doc_table.current_version()}
    assert {r["id"] for r in hash_table.table.read().collect()} == \
        {"x", "y"}


def test_hash_merge_thread_keeps_local_properties(spark, tmp_path):
    """The hash-state merge runs on a helper thread; its Spark jobs
    must carry the caller's local properties (the job group a query
    stop cancels, the streaming batch id), so a property set on the
    calling thread is visible inside HashStateTable.record."""
    import threading

    doc_table, hash_table, job = _sync_job(spark, tmp_path, "props")
    record = hash_table.record
    seen = {}

    def spy(*args, **kwargs):
        seen["thread"] = threading.get_ident()
        seen["prop"] = spark.sparkContext.getLocalProperty(
            "afcs.test.batch")
        return record(*args, **kwargs)

    hash_table.record = spy
    sc = spark.sparkContext
    sc.setLocalProperty("afcs.test.batch", "7")
    try:
        job.process_batch(spark.createDataFrame(
            [("x", "v1", 1)], "id string, payload string, offset long"), 7)
    finally:
        sc.setLocalProperty("afcs.test.batch", None)
    assert seen["thread"] != threading.get_ident()
    assert seen["prop"] == "7"


def test_http_document_store_e2e_with_injected_transient_failures(
        spark, tmp_path):
    """O12's connector contract against a real NETWORK store: a REST
    document server that 503s the first commit of every batch window;
    foreachBatch partitions retry with backoff and converge — every
    doc lands exactly once by path, and replaying the micro-batch from
    a fresh checkpoint is idempotent (set-by-path). This is the
    reference's MAX_SUBMIT + unreachable-store behavior
    (artifacts.py:302-327) over the generic protocol a hosted document
    store fronts."""
    import http.server
    import json as _json
    import threading

    from aether_firebase_consumer_spark.sinks.connector import (
        HttpDocumentStore,
        TransientStoreError,
        foreach_batch_document_writer,
    )

    docs: dict[str, dict] = {}
    state = {"batch_calls": 0, "writes": 0, "fail_every": 3}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def do_GET(self):
            self.send_response(200 if self.path == "/health" else 404)
            self.end_headers()

        def do_POST(self):
            if self.path != "/batch":
                self.send_response(404)
                self.end_headers()
                return
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with lock:
                state["batch_calls"] += 1
                # every 3rd commit attempt fails transiently BEFORE
                # applying — the retry must re-send the same batch
                if state["batch_calls"] % state["fail_every"] == 1:
                    self.send_response(503)
                    self.end_headers()
                    return
                for item in _json.loads(body):
                    docs[item["path"]] = item["doc"]
                    state["writes"] += 1
            self.send_response(200)
            self.end_headers()

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        # direct contract check: 503 maps to TransientStoreError
        import pytest as _pytest
        state["fail_every"] = 10**9   # next call is %...==1 → fails
        state["batch_calls"] = 0
        with _pytest.raises(TransientStoreError, match="503"):
            HttpDocumentStore(url).write_batch([("probe/1", {"v": 1})])
        state["fail_every"] = 3

        src = tmp_path / "http_src"
        src.mkdir()
        spark.createDataFrame(
            [(str(i), "_aether/entities/doc", f"p{i}") for i in range(120)],
            "id string, target_path string, payload string") \
            .coalesce(2).write.parquet(str(src / "b1"))

        def run(ckpt):
            stream = (spark.readStream
                      .schema("id string, target_path string, "
                              "payload string")
                      .parquet(str(src) + "/*"))
            q = (stream.writeStream
                 .foreachBatch(foreach_batch_document_writer(
                     lambda: HttpDocumentStore(url),
                     max_per_commit=50, base_backoff=0.01))
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()

        run(str(tmp_path / "http_ckpt"))
        with lock:
            assert len(docs) == 120           # all present, by path
            assert state["writes"] >= 120     # retries re-sent batches
            retried = state["batch_calls"] - state["writes"] // 50
        assert retried >= 1                   # failures really happened
        assert docs["_aether/entities/doc/7"]["payload"] == "p7"

        # replay from a fresh checkpoint → idempotent convergence
        run(str(tmp_path / "http_ckpt2"))
        with lock:
            assert len(docs) == 120
    finally:
        server.shutdown()
        server.server_close()
