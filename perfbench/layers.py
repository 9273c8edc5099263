"""Runs a workload and turns its observations into metrics.

End-to-end metrics come from untraced runs only. A traced run wraps the
public calls into each layer on the job's instances, turns on the Spark
event log, and then runs the isolated layer passes on inputs generated
from the same seed. Every per-layer metric is reported on every traced
run; a layer a workload never reaches reports 0.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from perfbench import common, corpus, streams, trace
from perfbench.common import median, quantile

CODECS = ("none", "gzip", "snappy", "lz4", "zstd")

#: name -> unit, in BENCHMARK.json order
PER_LAYER = {
    "engine.batches": "count",
    "engine.trigger_ms_p50": "ms",
    "engine.add_batch_ms_p50": "ms",
    "engine.query_planning_ms_p50": "ms",
    "engine.wal_commit_ms_p50": "ms",
    "engine.commit_offsets_ms_p50": "ms",
    "engine.jobs_per_batch": "count",
    "engine.driver_only_s_per_batch": "s",
    "engine.executor_run_s_per_batch": "s",
    "engine.gc_s_per_batch": "s",
    "engine.shuffle_mb_per_batch": "MB",
    "kafka_pysource.latest_offset_ms_p50": "ms",
    "kafka_pysource.end_lag_docs": "count",
    "kafka_wire.fetch_mb_per_s": "MB/s",
    **{f"kafka_wire.decode_mb_per_s.{c}": "MB/s" for c in CODECS},
    "avro_codec.decode_record_docs_per_s": "docs/s",
    "avro_codec.decode_docs_py_s": "s",
    "transform.s": "s",
    "transform.pass_ratio": "ratio",
    "pipeline.process_batch_s_p50": "s",
    "pipeline.upstream_self_s_p50": "s",
    "pipeline.docs_per_batch_p50": "count",
    "pipeline.write_ratio": "ratio",
    "upsert.doc_merge_s_p50": "s",
    "upsert.hash_record_s_p50": "s",
    "upsert.needs_update_s_p50": "s",
    "upsert.bytes_written_per_doc": "bytes",
    "upsert.doc_table_rows": "count",
    "drain.process_batch_s_p50": "s",
    "drain.doc_merge_s_p50": "s",
    **{f"corpus.{q}_s": "s" for q in corpus.QUERIES},
    **{f"corpus.{q}.jobs": "count" for q in corpus.QUERIES},
    "corpus.shuffle_mb": "MB",
    "corpus.gc_s": "s",
    "gen.late_max_s": "s",
    "gen.docs_sent": "count",
    "mem.peak_rss_mb": "MB",
    "trace.setup_s": "s",
    "trace.latency_p50_s": "s",
    "trace.docs_per_s": "docs/s",
}

#: documents in each isolated layer pass
ISOLATED_DOCS = 5000


def run_workload(name: str, seed: int, seconds: float, traced: bool,
                 t_start: float) -> dict:
    work = os.path.join(common.ROOT, ".perfbench_work", f"run-{os.getpid()}")
    tracer = trace.Tracer(os.path.join(work, "eventlog")) if traced else None
    try:
        if name == "corpus_dedup":
            res = corpus.run(seed, seconds, tracer, t_start)
            out = _corpus_result(res)
        else:
            res = streams.run(seed, seconds, tracer, t_start)
            out = _stream_result(res)
        if traced:
            layer = dict.fromkeys(PER_LAYER, 0.0)
            _isolated_passes(seed, layer)
            _stop_spark()
            jobs = trace.job_stats(trace.read_event_log(tracer.event_log_dir))
            if name == "corpus_dedup":
                _corpus_layers(res, jobs, layer)
            else:
                _stream_layers(res, tracer, jobs, layer)
            for k in ("setup_s", "latency_p50_s", "docs_per_s"):
                layer[f"trace.{k}"] = out["metrics"][k][0]
            layer["mem.peak_rss_mb"] = res["peak_rss_mb"]
            spans_dir = os.path.join(common.ROOT, ".perfbench_out")
            tracer.write(os.path.join(spans_dir, f"spans-{name}-{seed}.json"))
            summary = _self_time_summary(tracer)
            with open(os.path.join(spans_dir,
                                   f"selftime-{name}-{seed}.json"), "w") as f:
                json.dump(summary, f, indent=1)
            for k, v in sorted(summary.items()):
                out["report"][f"self_s_p50.{k}"] = (v["self_s_p50"], "s")
            out["metrics"] = {k: (v, PER_LAYER[k]) for k, v in layer.items()}
        return out
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def _stop_spark() -> None:
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# -- end-to-end ---------------------------------------------------------------

def _verdict(failed: int, attempted: int, detail: dict) -> None:
    if failed:
        raise SystemExit(
            f"perfbench: output check failed ({failed} of {attempted} "
            f"wrong): {json.dumps(detail, default=str)}")


def _stream_result(res: dict) -> dict:
    chk = res["check"]
    failed = (chk["missing"] + chk["extra"] + chk["wrong"]
              + chk["column_mismatch"] + chk["hash_ids_mismatch"]
              + chk["batch_failures"])
    attempted = chk["attempted"]
    lat = res["latencies"]
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "latency_p50_s": (quantile(lat, 0.5), "s"),
        "latency_p99_s": (quantile(lat, 0.99), "s"),
        "docs_per_s": (res["docs_per_s"], "docs/s"),
    }
    report = dict(metrics)
    report["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    report["latency_samples"] = (len(lat), "count")
    report["drain_docs_per_s"] = (res["docs_per_s"], "docs/s")
    report["gen.late_max_s"] = (res["gen"].get("late_max_s", 0.0), "s")
    report["error_rate"] = (failed / attempted, "ratio")
    _verdict(failed, attempted, chk)
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics, "report": report}


def _corpus_result(res: dict) -> dict:
    bad = [q for q, ok in res["oracle_ok"].items() if not ok]
    passes = res["passes"]
    walls = [p["wall"] for p in passes]
    job_s = median(walls)
    rows = corpus.N_DOCS * 3 + corpus.N_VECS    # three text queries, one vector
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "latency_p50_s": (job_s, "s"),
        "latency_p99_s": (quantile(walls, 0.99), "s"),
        "docs_per_s": (rows / job_s, "docs/s"),
    }
    report = dict(metrics)
    report["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    report["corpus_job_s"] = (job_s, "s")
    report["latency_samples"] = (len(walls), "count")
    report["error_rate"] = (len(bad) / len(corpus.QUERIES), "ratio")
    _verdict(len(bad), len(corpus.QUERIES), res["oracle_ok"])
    return {"correct": not bad,
            "attempted": len(corpus.QUERIES) * (len(passes) + 1),
            "failed": len(bad), "metrics": metrics, "report": report}


# -- per-layer ----------------------------------------------------------------

def _p50(xs) -> float:
    return median(xs) if xs else 0.0


def _stream_layers(res: dict, tracer, jobs: dict, layer: dict) -> None:
    w0, w1 = res["window"]
    prog = [p for p in res["progress"] if p["batchId"] >= 1]
    ends = {s["batch"]: s["end"] for s in tracer.spans
            if s["name"] == "pipeline.process_batch"}
    # the measured batches: those whose process_batch ended in the window
    prog = [p for p in prog if w0 <= ends.get(p["batchId"], 0) <= w1]
    batches = {p["batchId"] for p in prog}
    dur = [p["durationMs"] for p in prog]
    layer["engine.batches"] = float(len(prog))
    for key, metric in (("triggerExecution", "engine.trigger_ms_p50"),
                        ("addBatch", "engine.add_batch_ms_p50"),
                        ("queryPlanning", "engine.query_planning_ms_p50"),
                        ("walCommit", "engine.wal_commit_ms_p50"),
                        ("commitOffsets", "engine.commit_offsets_ms_p50"),
                        ("latestOffset",
                         "kafka_pysource.latest_offset_ms_p50")):
        layer[metric] = float(_p50([d.get(key, 0) for d in dur]))
    layer["kafka_pysource.end_lag_docs"] = float(res.get("end_lag_docs", 0))
    layer["gen.late_max_s"] = res["gen"].get("late_max_s", 0.0)
    layer["gen.docs_sent"] = float(res["gen"]["sent"])
    layer["pipeline.docs_per_batch_p50"] = float(
        _p50([p["numInputRows"] for p in prog]))

    selfs = tracer.times(batches)
    pb = selfs.get("pipeline.process_batch", [])
    layer["pipeline.process_batch_s_p50"] = _p50([d for d, _ in pb])
    layer["pipeline.upstream_self_s_p50"] = _p50([s for _, s in pb])
    for span, metric in (("upsert.doc_merge", "upsert.doc_merge_s_p50"),
                         ("upsert.hash_record", "upsert.hash_record_s_p50"),
                         ("upsert.needs_update", "upsert.needs_update_s_p50")):
        layer[metric] = _p50([d for d, _ in selfs.get(span, [])])

    rows_out = 0
    for p in prog:
        obs = (p.get("observedMetrics") or {}).get("afcs_pipeline") or {}
        rows_out += int(obs.get("rows_out", 0))
    written = sum(tracer.written.get(b, 0) for b in batches)
    layer["pipeline.write_ratio"] = written / rows_out if rows_out else 0.0
    layer["upsert.doc_table_rows"] = float(res["doc_table_rows"])

    drain = set(res["drain_batches"])
    dselfs = tracer.times(drain)
    layer["drain.process_batch_s_p50"] = _p50(
        [d for d, _ in dselfs.get("pipeline.process_batch", [])])
    layer["drain.doc_merge_s_p50"] = _p50(
        [d for d, _ in dselfs.get("upsert.doc_merge", [])])

    merges = [(s["start"], s["end"]) for s in tracer.spans
              if s["name"] == "upsert.doc_merge" and s["batch"] in batches]
    out_bytes = sum(j["output_bytes"] for j in jobs.values()
                    if any(a <= j["start"] <= b for a, b in merges))
    layer["upsert.bytes_written_per_doc"] = out_bytes / written if written else 0.0
    per_batch = {b: [j for j in jobs.values() if j["batch"] == b]
                 for b in batches}
    trig = {p["batchId"]: p["durationMs"]["triggerExecution"] / 1000.0
            for p in prog}
    if per_batch:
        layer["engine.jobs_per_batch"] = float(
            _p50([len(v) for v in per_batch.values()]))
        layer["engine.driver_only_s_per_batch"] = _p50(
            [trig[b] - trace.active_time((j["start"], j["end"]) for j in v)
             for b, v in per_batch.items()])
        layer["engine.executor_run_s_per_batch"] = _p50(
            [sum(j["run_s"] for j in v) for v in per_batch.values()])
        layer["engine.gc_s_per_batch"] = _p50(
            [sum(j["gc_s"] for j in v) for v in per_batch.values()])
        layer["engine.shuffle_mb_per_batch"] = _p50(
            [sum(j["shuffle_bytes"] for j in v) / 1e6
             for v in per_batch.values()])


def _corpus_layers(res: dict, jobs: dict, layer: dict) -> None:
    passes = res["passes"]
    for q in corpus.QUERIES:
        layer[f"corpus.{q}_s"] = median([p["queries"][q] for p in passes])
    by_group: dict[str, list[dict]] = {}
    for j in jobs.values():
        by_group.setdefault(j["group"] or "", []).append(j)
    for q in corpus.QUERIES:
        layer[f"corpus.{q}.jobs"] = float(len(by_group.get(f"perfbench:p0:{q}", [])))
    shuffle, gc = [], []
    for i in range(len(passes)):
        js = [j for q in corpus.QUERIES
              for j in by_group.get(f"perfbench:p{i}:{q}", [])]
        shuffle.append(sum(j["shuffle_bytes"] for j in js) / 1e6)
        gc.append(sum(j["gc_s"] for j in js))
    layer["corpus.shuffle_mb"] = median(shuffle)
    layer["corpus.gc_s"] = median(gc)


def _self_time_summary(tracer) -> dict:
    out = {}
    for name, spans in tracer.times().items():
        selfs = [own for _, own in spans]
        out[name] = {"spans": len(selfs), "self_s_p50": median(selfs),
                     "self_s_total": sum(selfs)}
    return out


def _isolated_passes(seed: int, layer: dict) -> None:
    """Each layer alone, on documents generated from the same seed."""
    from pyspark.sql import SparkSession

    from aether_firebase_consumer_spark.sources.avro_codec import (
        decode_record,
        encode_record,
    )
    from aether_firebase_consumer_spark.sources.kafka_wire import (
        EARLIEST,
        KafkaWireClient,
        MiniKafkaBroker,
        decode_record_batches,
        encode_record_batch,
    )
    from aether_firebase_consumer_spark.streaming.pipeline import transform
    from perfbench.workload import AVSC, DocStream
    docs = DocStream(seed).take(ISOLATED_DOCS, 0.2, 0.1)
    payloads = [encode_record(AVSC, d) for d in docs]
    entries = [(i, 0, d["id"].encode(), p)
               for i, (d, p) in enumerate(zip(docs, payloads))]
    raw_mb = sum(len(k) + len(v) for _, _, k, v in entries) / 1e6

    # kafka_wire: the records as one fetch response batch per codec
    for codec in CODECS:
        batch = encode_record_batch(entries,
                                    codec=None if codec == "none" else codec)
        t = time.perf_counter()
        got = decode_record_batches(batch)
        layer[f"kafka_wire.decode_mb_per_s.{codec}"] = \
            raw_mb / (time.perf_counter() - t)
        if len(got) != len(entries):
            raise SystemExit(f"perfbench: {codec} batch decoded short")
    with MiniKafkaBroker() as broker:
        broker.create_topic("iso", partitions=1)
        with KafkaWireClient(broker.host, broker.port) as c:
            for lo in range(0, len(entries), 1000):
                c.produce_records("iso", 0, [(k, v, 0) for _, _, k, v
                                             in entries[lo:lo + 1000]])
            off = c.list_offsets_bulk({"iso": [0]}, EARLIEST)[("iso", 0)]
            t = time.perf_counter()
            n = 0
            while n < len(entries):
                recs = c.fetch_records("iso", 0, off + n)
                n += len(recs)
            layer["kafka_wire.fetch_mb_per_s"] = \
                raw_mb / (time.perf_counter() - t)

    # avro_codec, pure Python and through mapInPandas
    t = time.perf_counter()
    for p in payloads:
        decode_record(AVSC, p)
    layer["avro_codec.decode_record_docs_per_s"] = \
        len(payloads) / (time.perf_counter() - t)
    spark = SparkSession.getActiveSession() or common.spark_session()
    decoded = streams.decode_frames(spark, payloads)
    t = time.perf_counter()
    decoded.write.format("noop").mode("overwrite").save()
    layer["avro_codec.decode_docs_py_s"] = time.perf_counter() - t

    # operators via transform, on a static frame
    static = decoded.localCheckpoint()
    cfg = streams.pipeline_config({
        f.name: f.metadata["masking"] for f in static.schema.fields
        if f.metadata.get("masking")})
    out = transform(static, cfg)
    t = time.perf_counter()
    out.write.format("noop").mode("overwrite").save()
    layer["transform.s"] = time.perf_counter() - t
    layer["transform.pass_ratio"] = out.count() / static.count()
