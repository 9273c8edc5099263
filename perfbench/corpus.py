"""``corpus_dedup``: the batch dedup workload.

A seeded documents-and-embeddings corpus with planted near-duplicates
is written as a temporary sf directory and run through four registered
dedup queries, each to completion through the noop sink. Each query's
result is checked against its registered DuckDB oracle over the same
parquet files.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import random
import shutil
import threading
import time

from perfbench import common

QUERIES = ("dedup_ngram_jaccard", "dedup_editdist_full",
           "dedup_incremental_lsh", "dedup_semantic_semdedup_trained")
N_DOCS = 1000
N_VECS = 1000
DIM = 64
#: share of documents / vectors that are near-copies of an earlier one
DUP_SHARE = 0.15
#: untimed noop passes before the window, after the collecting pass
#: that feeds the oracle check
WARM_PASSES = 3

_VOCAB = ("the fast key order sort table scan merge part window small hash "
          "join batch stream spark dup group query row data slow filter "
          "customer line value column big agg vector a").split()
_LANGS = ("en", "es", "de", "fr", "zh", "sw")


def write_corpus(seed: int, sf_dir: str) -> None:
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding, label), the fixture schemas."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    texts: list[str] = []
    for _ in range(N_DOCS):
        if texts and rng.random() < DUP_SHARE:
            words = rng.choice(texts).split()
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
        else:
            words = [rng.choice(_VOCAB) for _ in range(rng.randint(6, 30))]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in texts],
        "source": [f"src{rng.randrange(8)}" for _ in texts],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(16, DIM))
    vecs = np.empty((N_VECS, DIM), dtype=np.float32)
    labels = np.empty(N_VECS, dtype=np.int32)
    for i in range(N_VECS):
        if i and nrng.random() < DUP_SHARE:
            j = int(nrng.integers(i))
            vecs[i] = vecs[j] + nrng.normal(scale=1e-3, size=DIM)
            labels[i] = labels[j]
        else:
            c = int(nrng.integers(16))
            vecs[i] = centers[c] + nrng.normal(scale=0.6, size=DIM)
            labels[i] = c
    emb = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bool):
        return f"bool:{v}"
    return f"{type(v).__name__}:{v}"


def value_hash(rows, cols) -> str:
    """Order-insensitive value hash over columns sorted by name, exact on
    floats (the registered oracles are written to be bit-exact)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.md5()
    for r in sorted("|".join(_canon(row[i]) for i in order) for row in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def spark_hashes(spark, sf_dir: str) -> dict[str, str]:
    """Each query's collected result as a value hash."""
    from aether_firebase_consumer_spark.plans import REGISTRY
    out = {}
    for q in QUERIES:
        sdf = REGISTRY[q].builder(spark, sf_dir)
        out[q] = value_hash([tuple(r) for r in sdf.collect()], sdf.columns)
    return out


def oracle_hashes(sf_dir: str) -> dict[str, str]:
    """Each query's registered DuckDB oracle over the same parquet."""
    import duckdb

    from aether_firebase_consumer_spark.plans import all_oracles
    oracles = all_oracles()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in QUERIES:
            cur = con.execute(oracles[q])
            cols = [d[0] for d in cur.description]
            out[q] = value_hash(cur.fetchall(), cols)
        return out
    finally:
        con.close()


def one_pass(spark, sf_dir: str, tag: str) -> dict[str, float]:
    """Each query once, to completion through the noop sink; wall time
    per query. Jobs carry a ``perfbench:<tag>:<query>`` group."""
    from aether_firebase_consumer_spark.plans import REGISTRY
    times = {}
    sc = spark.sparkContext
    for q in QUERIES:
        sc.setJobGroup(f"perfbench:{tag}:{q}", q)
        t = time.perf_counter()
        REGISTRY[q].builder(spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
        times[q] = time.perf_counter() - t
    sc.setJobGroup("perfbench:other", "")
    return times


def run(seed: int, seconds: float, tracer, t_start: float) -> dict:
    from aether_firebase_consumer_spark.plans import _load_all
    sf_dir = os.path.join(common.ROOT, ".perfbench_work",
                          f"corpus-{os.getpid()}")
    try:
        write_corpus(seed, sf_dir)
        _load_all()
        # the oracles run while the JVM starts; DuckDB releases the GIL
        oracle: dict = {}
        errors: list[BaseException] = []

        def oracles() -> None:
            try:
                oracle.update(oracle_hashes(sf_dir))
            except Exception as e:      # re-raised on the main thread
                errors.append(e)

        worker = threading.Thread(target=oracles)
        worker.start()
        spark = common.spark_session(
            event_log_dir=tracer.event_log_dir if tracer else None)
        got = spark_hashes(spark, sf_dir)
        for i in range(WARM_PASSES):
            one_pass(spark, sf_dir, f"warm{i}")
        worker.join()
        if errors:
            raise errors[0]
        setup_s = time.time() - t_start
        passes = []
        with common.RssSampler(set()) as rss:
            t_end = time.time() + seconds
            # a pass starts only if one more as long as the last still
            # ends inside the window
            while not passes or time.time() + passes[-1]["wall"] <= t_end:
                t = time.perf_counter()
                per_query = one_pass(spark, sf_dir, f"p{len(passes)}")
                passes.append({"wall": time.perf_counter() - t,
                               "queries": per_query})
        return {"setup_s": setup_s, "passes": passes,
                "peak_rss_mb": rss.peak,
                "oracle_ok": {q: got[q] == oracle.get(q) for q in QUERIES}}
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
