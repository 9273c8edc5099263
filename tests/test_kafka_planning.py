"""``kafka_py`` task planning: how a batch's offset ranges become Spark
tasks. Pure planner checks — no Spark session, no broker."""

from __future__ import annotations

from aether_firebase_consumer_spark.sources.kafka_pysource import (
    TASK_OFFSETS,
    _plan_tasks,
)


def _loads(plan):
    return [sum(e - s for _, _, s, e in task) for task in plan]


def _assert_covers(plan, ranges):
    """Every offset of every range is read exactly once, and reading
    the tasks in order reads each partition in offset order."""
    read: dict = {}
    for task in plan:
        for topic, part, s, e in task:
            assert s < e
            read.setdefault((topic, part), []).extend(range(s, e))
    assert read == {(t, p): list(range(s, e)) for t, p, s, e in ranges
                    if e > s}


def test_small_batch_over_six_partitions_is_one_task():
    ranges = [(t, p, 100, 100 + 190 + 7 * p)
              for t in ("a", "b", "c") for p in (0, 1)]
    plan = _plan_tasks(ranges, None)
    assert len(plan) == 1
    assert sorted(plan[0]) == sorted(ranges)


def test_every_offset_is_read_once_in_partition_order():
    ranges = [("a", 0, 0, 9000), ("a", 1, 40, 3100),
              ("b", 0, 7, 8), ("c", 2, 500, 11_000)]
    for min_partitions in (None, 1, 3, 7, 12):
        plan = _plan_tasks(ranges, min_partitions)
        _assert_covers(plan, ranges)
        for task in plan:  # one range per partition within a task
            assert len({(t, p) for t, p, _, _ in task}) == len(task)


def test_skewed_single_range_splits_into_balanced_pieces():
    n = 4 * TASK_OFFSETS + 3
    ranges = [("hot", 0, 1000, 1000 + n)]
    plan = _plan_tasks(ranges, None)
    assert len(plan) == 5
    loads = _loads(plan)
    assert sum(loads) == n
    assert max(loads) - min(loads) < len(plan)
    assert max(loads) <= TASK_OFFSETS
    _assert_covers(plan, ranges)


def test_min_partitions_plans_exactly_that_many_tasks():
    ranges = [("t", p, 0, 100) for p in range(3)]
    plan = _plan_tasks(ranges, 4)
    assert len(plan) == 4
    assert _loads(plan) == [75, 75, 75, 75]
    _assert_covers(plan, ranges)
    # never more tasks than offsets
    assert len(_plan_tasks([("t", 0, 0, 3)], 8)) == 3


def test_empty_batch_plans_no_task():
    assert _plan_tasks([], 4) == []
