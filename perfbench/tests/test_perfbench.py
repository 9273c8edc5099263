"""Fast checks of the benchmark itself.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import layers, run, streams  # noqa: E402
from perfbench.generator import build_segments  # noqa: E402
from perfbench.workload import (  # noqa: E402
    AVSC,
    DocStream,
    compare_store,
    expected_store,
)

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic_per_seed():
    from aether_firebase_consumer_spark.sources.avro_codec import encode_record
    plan = streams.plan_for(7, 2.0)
    a, b = build_segments(plan), build_segments(plan)
    assert a == b
    assert [len(seg) for seg in a] == [n["n"] for n in plan["segments"]]
    assert ([encode_record(AVSC, d) for seg in a[1:] for d in seg]
            == [encode_record(AVSC, d) for seg in b[1:] for d in seg])
    # every drain round starts with a probe that the filter drops
    assert all(a[k][0]["topic"] == streams.FILTERED_TOPIC
               for k in range(2, len(a), 2))
    other = build_segments(streams.plan_for(8, 2.0))
    assert other[1] != a[1]


def test_doc_mix_has_updates_and_redeliveries():
    docs = DocStream(3).take(2000, 0.2, 0.1)
    ids = [d["id"] for d in docs]
    assert len(set(ids)) < len(ids)
    seen, redelivered = {}, 0
    for d in docs:
        if d["id"] in seen and seen[d["id"]] == d:
            redelivered += 1
        seen[d["id"]] = d
    assert redelivered > 0


def test_metric_names_are_well_formed():
    bench = _benchmark()
    names = ([m["name"] for m in bench["end_to_end"]]
             + [m["name"] for m in bench["per_layer"]]
             + [w["name"] for w in bench["workloads"]])
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m


def test_every_declared_metric_is_emitted():
    bench = _benchmark()
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(layers.PER_LAYER)
    for m in bench["end_to_end"]:
        assert run.END_TO_END[m["name"]] == m["unit"]
    for m in bench["per_layer"]:
        assert layers.PER_LAYER[m["name"]] == m["unit"]
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    stream = layers._stream_result({
        "check": {"missing": 0, "extra": 0, "wrong": 0,
                  "column_mismatch": 0, "hash_ids_mismatch": 0,
                  "batch_failures": 0, "attempted": 10},
        "latencies": [1.0, 2.0, 3.0], "setup_s": 1.0, "docs_per_s": 5.0,
        "peak_rss_mb": 100.0,
        "gen": {"late_max_s": 0.01, "sent": 3}})
    batch = layers._corpus_result({
        "oracle_ok": {"q": True}, "setup_s": 1.0, "peak_rss_mb": 1.0,
        "passes": [{"wall": 2.0, "queries": {"q": 2.0}}]})
    for out in (stream, batch):
        assert list(out["metrics"]) == list(run.END_TO_END)
        assert all(v > 0 for v, _ in out["metrics"].values())


def test_stop_processes_waits_for_orphans():
    """A process orphaned below the run (as Spark's Python workers are
    once the JVM exits) is stopped and waited for, not left to init."""
    script = (
        "import subprocess\n"
        "from perfbench import common\n"
        "common.become_subreaper()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'],"
        " capture_output=True, text=True).stdout\n"
        "print(out.strip(), flush=True)\n"
        "common.stop_processes(timeout=5)\n")
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    orphan = int(out.stdout.split()[0])
    assert not os.path.exists(f"/proc/{orphan}")


def test_a_wrong_store_fails_the_run():
    docs = DocStream(5).take(50)
    expected = expected_store(docs)
    rows = list(expected.values())
    assert compare_store(expected, rows)["wrong"] == 0
    broken = [rows[0][:2] + ("999",) + rows[0][3:]] + rows[2:]
    cmp = compare_store(expected, broken)
    assert (cmp["wrong"], cmp["missing"]) == (1, 1)
    with pytest.raises(SystemExit):
        layers._verdict(2, 50, cmp)


@pytest.fixture(scope="module")
def spark():
    from perfbench import common
    return common.spark_session()


def test_reference_agrees_with_the_pipeline(spark, tmp_path):
    """~100 documents in two micro-batches through transform and
    StreamingUpsertJob give exactly the plain-Python reference store."""
    from aether_firebase_consumer_spark.sinks.upsert import (
        HashStateTable,
        ParquetUpsertTable,
    )
    from aether_firebase_consumer_spark.sources.avro_codec import encode_record
    from aether_firebase_consumer_spark.streaming.pipeline import (
        StreamingUpsertJob,
        transform,
    )
    stream = DocStream(11)
    first = stream.take(60, 0.2, 0.1)
    second = stream.take(50, 0.4, 0.2)
    cfg = streams.pipeline_config(
        {"patient_name": "private", "phone": "private", "ward": "public"})
    doc_table = ParquetUpsertTable(spark, str(tmp_path / "docs"), ["id"])
    job = StreamingUpsertJob(cfg, doc_table,
                             HashStateTable(spark, str(tmp_path / "hashes")))
    for epoch, docs in enumerate((first, second)):
        frame = streams.decode_frames(
            spark, [encode_record(AVSC, d) for d in docs])
        job.process_batch(transform(frame, cfg), epoch)
    expected = expected_store(first + second)
    cmp = compare_store(expected, streams.read_store(doc_table))
    assert (cmp["missing"], cmp["extra"], cmp["wrong"]) == (0, 0, 0)
    assert cmp["value_hash"] == cmp["expected_value_hash"]
    assert streams.column_mismatch(doc_table) == 0
    # a store that kept the private fields fails the column check
    leaky = ParquetUpsertTable(spark, str(tmp_path / "leaky"), ["id"])
    leaky.merge(streams.decode_frames(
        spark, [encode_record(AVSC, d) for d in first]))
    assert streams.column_mismatch(leaky) > 0
