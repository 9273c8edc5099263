"""Optimistic-concurrency commit protocol of ParquetUpsertTable
(round 10, VERDICT r9 item 2): the version-file swap alone assumed a
single writer — two jobs sharing a table (an ingest trigger racing an
optimize()/reshard()) could silently drop one writer's commit. The
protocol is now stage-to-unique-dir + atomic marker CAS + roll-forward
(sinks/upsert.py — the local-FS form of Delta's LogStore
put-if-absent); these tests pin: no lost update under real thread
races, loud retryable failure for the loser, crash roll-forward, and
the stale-writer guard past the marker retention window.
"""

from __future__ import annotations

import json
import os
import threading

import pytest

from aether_firebase_consumer_spark.sinks.upsert import (
    ConcurrentCommitError,
    ParquetUpsertTable,
)


def _df(spark, ids, val):
    return spark.createDataFrame([(i, val) for i in ids],
                                 "id bigint, v string")


def _stage(spark, t, ids, val):
    """A fully-staged (un-published) version dir, as _publish expects."""
    target = t._stage_dir()
    _df(spark, ids, val).write.mode("overwrite").parquet(target)
    return target


def test_publish_cas_exactly_one_winner(spark, tmp_path):
    """Two fully-staged writes derived against the same parent: the
    first _publish wins, the second raises ConcurrentCommitError and
    its staged data is cleaned up — the deterministic unit form of the
    race."""
    t = ParquetUpsertTable(spark, str(tmp_path / "cas"), ["id"])
    t.merge(_df(spark, [1], "base"))
    parent = t.current_version()
    a = _stage(spark, t, [2], "a")
    b = _stage(spark, t, [3], "b")
    t._publish(a, parent)
    with pytest.raises(ConcurrentCommitError):
        t._publish(b, parent)
    assert t.current_version() == parent + 1
    assert not os.path.isdir(b)  # loser's scratch reclaimed
    assert [r["v"] for r in t.read().where("id = 2").collect()] == ["a"]


def test_raising_commit_meta_removes_the_staged_dir(spark, tmp_path):
    """A commit_meta callable that raises aborts the commit before the
    CAS: the version stays, and the staged data is removed rather than
    left behind as an orphan until a vacuum."""
    t = ParquetUpsertTable(spark, str(tmp_path / "meta"), ["id"])
    t.merge(_df(spark, [1], "base"))
    parent = t.current_version()

    def boom():
        raise RuntimeError("meta refused")

    staged = _stage(spark, t, [2], "a")
    with pytest.raises(RuntimeError, match="meta refused"):
        t._publish(staged, parent, commit_meta=boom)
    assert not os.path.isdir(staged)
    with pytest.raises(RuntimeError, match="meta refused"):
        t.merge(_df(spark, [3], "b"), commit_meta=boom)
    assert t.current_version() == parent
    assert [n for n in os.listdir(t.path) if n.startswith("_staged-")] \
        == []


def test_concurrent_merges_both_land(spark, tmp_path):
    """The VERDICT done-criterion: two threads committing concurrently
    — both commits land (via the automatic re-derive retry) or fail
    loudly; never a silent lost update."""
    path = str(tmp_path / "race")
    # two independent table handles, like two separate jobs; this is
    # SUSTAINED contention (every attempt overlaps the other thread's
    # commit), far hotter than the occasional trigger-vs-maintenance
    # race the default retry budget is sized for — give it headroom
    ta = ParquetUpsertTable(spark, path, ["id"], retain_versions=50,
                            commit_retries=30)
    tb = ParquetUpsertTable(spark, path, ["id"], retain_versions=50,
                            commit_retries=30)
    errs = []

    def run(t, lo, hi, val):
        try:
            for i in range(lo, hi):
                t.merge(_df(spark, [i], val))
        except Exception as e:  # noqa: BLE001 - recorded for the assert
            errs.append(e)

    th1 = threading.Thread(target=run, args=(ta, 0, 8, "a"))
    th2 = threading.Thread(target=run, args=(tb, 100, 108, "b"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert errs == []
    rows = {r["id"]: r["v"] for r in ta.read().collect()}
    assert set(rows) == set(range(8)) | set(range(100, 108))
    assert all(rows[i] == "a" for i in range(8))
    assert all(rows[i] == "b" for i in range(100, 108))
    # every merge produced exactly one version — none overwrote another
    assert ta.current_version() == 15


def test_touch_retries_past_concurrent_merge(spark, tmp_path):
    """Round 14: touch() (the metadata-only commit behind the top-k
    bench stamp) rides the same retry loop as every write — losing
    the CAS to a concurrent merge re-derives against the NEW parent,
    so the re-published version carries the merge's data AND the
    touch's meta; the merge is never silently shadowed by a
    stale-parent hardlink copy."""
    t = ParquetUpsertTable(spark, str(tmp_path / "t"), ["id"])
    t.merge(_df(spark, [1], "base"))
    real_link = t._link_files_except
    raced = {"done": False}

    def sneaky_link(prev_dir, target, skip_rels):
        # a competing writer lands AFTER touch picked its parent but
        # BEFORE it publishes — the classic lost-update window
        if not raced["done"]:
            raced["done"] = True
            t2 = ParquetUpsertTable(spark, str(tmp_path / "t"), ["id"])
            t2.merge(_df(spark, [2], "sneak"))
        return real_link(prev_dir, target, skip_rels)

    t._link_files_except = sneaky_link
    v_before = t.current_version()
    t.touch(commit_meta={"cdf_cursor": 42})
    assert raced["done"]
    # merge (v+1) and the retried touch (v+2) BOTH landed
    assert t.current_version() == v_before + 2
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows == {1: "base", 2: "sneak"}
    assert t.commit_meta() == {"cdf_cursor": 42}
    assert t.changes(t.current_version()).isEmpty()


def test_concurrent_overlapping_merges_converge(spark, tmp_path):
    """Overlapping key ranges from two writers: after both finish, each
    key holds one of the two written values (MERGE semantics, one row
    per key) and no key is lost."""
    path = str(tmp_path / "overlap")
    ta = ParquetUpsertTable(spark, path, ["id"], retain_versions=50)
    tb = ParquetUpsertTable(spark, path, ["id"], retain_versions=50)
    errs = []

    def run(t, ids, val):
        try:
            t.merge(_df(spark, ids, val))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th1 = threading.Thread(target=run, args=(ta, list(range(0, 10)), "a"))
    th2 = threading.Thread(target=run, args=(tb, list(range(5, 15)), "b"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert errs == []
    rows = {r["id"]: r["v"] for r in ta.read().collect()}
    assert set(rows) == set(range(15))
    assert all(rows[i] == "a" for i in range(0, 5))
    assert all(rows[i] == "b" for i in range(10, 15))
    assert all(rows[i] in ("a", "b") for i in range(5, 10))


def test_no_retries_fails_loudly(spark, tmp_path):
    """commit_retries=0: the conflict escapes as ConcurrentCommitError
    instead of being absorbed — the fail-loud configuration."""
    path = str(tmp_path / "noretry")
    t = ParquetUpsertTable(spark, path, ["id"], commit_retries=0)
    t.merge(_df(spark, [1], "x"))
    parent = t.current_version()
    # occupy the next version number out from under the table handle
    t._publish(_stage(spark, t, [2], "w"), parent)
    staged = _stage(spark, t, [3], "l")
    with pytest.raises(ConcurrentCommitError):
        t._publish(staged, parent)


def test_crash_after_marker_rolls_forward(spark, tmp_path):
    """A writer that crashed between its marker link and the pointer
    swap: the commit IS durable (the marker is written only after the
    data is fully staged) — the next reader completes it."""
    t = ParquetUpsertTable(spark, str(tmp_path / "crash"), ["id"])
    t.merge(_df(spark, [1], "base"))
    parent = t.current_version()
    # a staged dir is a COMPLETE next version (merge output), not a
    # delta — stage the full post-merge content
    staged = _stage(spark, t, [1, 2], "crashed")
    # simulate the crash: marker linked, rename + pointer swap never ran
    with open(t._marker(parent + 1), "w") as fh:
        json.dump({"staged": os.path.basename(staged)}, fh)
    assert t.current_version() == parent + 1  # rolled forward
    assert os.path.isdir(t._data_dir(parent + 1))
    assert not os.path.isdir(staged)
    assert {r["id"] for r in t.read().collect()} == {1, 2}
    # and the table keeps working normally afterwards
    t.merge(_df(spark, [3], "next"))
    assert t.current_version() == parent + 2


def test_stale_writer_past_marker_retention_rejected(spark, tmp_path):
    """A writer so stale that its target version number was already
    used AND GC'd (marker gone): the marker CAS alone would 'succeed'
    invisibly — the pointer guard must reject it loudly instead."""
    t = ParquetUpsertTable(spark, str(tmp_path / "stale"), ["id"],
                           retain_versions=2, commit_retries=0)
    for i in range(6):
        t.merge(_df(spark, [i], f"v{i}"))
    assert t.current_version() == 5
    assert not os.path.exists(t._marker(1))  # GC'd with its version
    staged = _stage(spark, t, [99], "stale")
    with pytest.raises(ConcurrentCommitError):
        t._publish(staged, 0)  # derived against long-gone v0
    assert t.current_version() == 5
    assert 99 not in {r["id"] for r in t.read().collect()}


def test_vacuum_reclaims_stale_scratch_only(spark, tmp_path):
    """Crashed writers leave orphan _staged-* dirs; vacuum reclaims
    them once stale, but never a fresh (possibly live) one."""
    t = ParquetUpsertTable(spark, str(tmp_path / "scratch"), ["id"])
    t.merge(_df(spark, [1], "x"))
    t.merge(_df(spark, [2], "y"))
    old = _stage(spark, t, [3], "orphan")
    fresh = _stage(spark, t, [4], "live")
    aged = os.path.getmtime(old) - 7200
    os.utime(old, (aged, aged))
    t.vacuum(keep_last_n=2)
    assert not os.path.isdir(old)
    assert os.path.isdir(fresh)


def test_retry_backoff_exhaustion(spark, tmp_path, monkeypatch):
    """merge() under a permanently-conflicting table re-raises after
    commit_retries attempts instead of looping forever."""
    t = ParquetUpsertTable(spark, str(tmp_path / "exh"), ["id"],
                           commit_retries=2)
    t.merge(_df(spark, [1], "x"))
    calls = []
    orig = ParquetUpsertTable._publish

    def always_conflict(self, staged, parent, commit_meta=None):
        calls.append(parent)
        import shutil
        shutil.rmtree(staged, ignore_errors=True)
        raise ConcurrentCommitError("injected")

    monkeypatch.setattr(ParquetUpsertTable, "_publish", always_conflict)
    monkeypatch.setattr("time.sleep", lambda s: None)
    with pytest.raises(ConcurrentCommitError):
        t.merge(_df(spark, [2], "y"))
    assert len(calls) == 3  # initial + 2 retries
    monkeypatch.setattr(ParquetUpsertTable, "_publish", orig)


def test_ingest_triggers_race_optimize(spark, tmp_path):
    """The scenario the commit guard exists for (VERDICT r9 item 2
    verbatim): an ingest job's triggers racing a maintenance
    optimize() on the SAME table. Every merged document must survive
    into the final table — no commit silently dropped on either side —
    and the table must still be readable and mergeable afterwards."""
    import random

    from aether_firebase_consumer_spark.operators.dedup import (
        id_partition,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "shared")
    ingest_t = ParquetUpsertTable(spark, path, ["id"],
                                  partition_col="idp",
                                  retain_versions=60, commit_retries=30)
    maint_t = ParquetUpsertTable(spark, path, ["id"],
                                 partition_col="idp",
                                 retain_versions=60, commit_retries=30)
    errs = []

    def with_idp(df):
        return df.withColumn("idp", id_partition(F.col("id"), 4))

    def ingest():
        try:
            for i in range(6):
                ingest_t.merge(with_idp(_df(spark, [i * 2, i * 2 + 1],
                                             f"batch{i}")))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def maintain():
        try:
            for _ in range(3):
                maint_t.optimize(num_files=2)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    random.seed(7)
    t1 = threading.Thread(target=ingest)
    t2 = threading.Thread(target=maintain)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert errs == []
    rows = {r["id"]: r["v"] for r in ingest_t.read().collect()}
    assert set(rows) == set(range(12))   # every merge landed
    assert all(rows[i * 2] == f"batch{i}" for i in range(6))
    # table still fully operational
    ingest_t.merge(with_idp(_df(spark, [99], "after")))
    assert ingest_t.read().where("id = 99").count() == 1
