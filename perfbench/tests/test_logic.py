"""Unit tests of the benchmark's own arithmetic: order statistics, span
self time, the driver-gap union and stage classification. No JVM needed.

    python3 -m pytest perfbench/tests/test_logic.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from measure import driver_memory_mb, median, tail  # noqa: E402
from spans import (  # noqa: E402
    Span,
    classify,
    covered,
    layer_metrics,
    parse_event_log,
    self_time,
)

RECORDED_LOG = os.path.join(HERE, "data", "knn_call_eventlog.jsonl")


# ---- order statistics -------------------------------------------------------


def test_median_odd_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


@pytest.mark.parametrize(
    "n, index, pct",
    [
        (11, 0, 100.0 * 1 / 11),
        (20, 9, 50.0),
        (25, 14, 60.0),
        (100, 89, 90.0),
        (1000, 989, 99.0),
    ],
)
def test_tail_leaves_ten_samples_beyond(n, index, pct):
    values = [float(v) for v in range(n)]
    value, p = tail(list(reversed(values)))
    assert value == values[index]
    assert p == pytest.approx(pct)
    assert sum(v > value for v in values) == 10


@pytest.mark.parametrize("n", [1, 4, 10])
def test_tail_with_ten_or_fewer_samples_is_the_max(n):
    values = [float(v) for v in range(n)]
    assert tail(values) == (float(n - 1), 100.0)


def test_driver_memory_is_clamped():
    assert driver_memory_mb(2_000) == 1024
    assert driver_memory_mb(32_000) == 2000
    assert driver_memory_mb(128_000) == 4096


# ---- spans ------------------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    # [1,3] and [2,4] overlap -> [1,4]; [6,8] is clipped to [6,7]
    assert covered([(2, 4), (1, 3), (6, 8)], 0, 7) == pytest.approx(4.0)
    assert covered([], 0, 5) == 0.0
    assert covered([(10, 12)], 0, 5) == 0.0
    # a child entirely covering the span
    assert covered([(-1, 9)], 0, 5) == pytest.approx(5.0)
    # touching intervals do not double count
    assert covered([(0, 1), (1, 2)], 0, 2) == pytest.approx(2.0)


def test_self_time_is_the_uncovered_part():
    # span [0, 10]; stages [1,3], [2,5] (overlapping: concurrent stages),
    # [7,8] -> covered 5, self 5
    assert self_time(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5.0)
    assert self_time(0, 10, []) == pytest.approx(10.0)


def test_layer_metrics_driver_gap_and_totals():
    from spans import Stage

    span = Span(3, "joins.call", 100.0, 110.0, 0)
    g = span.group

    def stage(sid, a, b, nodes, **m):
        return Stage(sid, 0, g, a, b, 4, nodes, m)

    stages = [
        stage(1, 101.0, 103.0, [("ObjectHashAggregate", "ObjectHashAggregate(keys=[_cell], functions=[collect_list(...)])")],
              **{"internal.metrics.shuffle.write.bytesWritten": 2 * 2**20}),
        stage(2, 102.0, 106.0, [("FlatMapCoGroupsInPandas", "FlatMapCoGroupsInPandas [...]")],
              **{"time to run Python workers": 1500.0,
                 "data sent to Python workers": 3 * 2**20,
                 "internal.metrics.executorCpuTime": 2.5e9}),
        Stage(9, 0, "perfbench-99", 100.0, 110.0, 8, [], {}),  # another span's stage
    ]
    m = layer_metrics(span, stages, {g: 2})
    assert m["wall_s"] == pytest.approx(10.0)
    assert m["driver_gap_s"] == pytest.approx(10.0 - 5.0)
    assert m["kernel_stage_s"] == pytest.approx(4.0)
    assert m["pack_stage_s"] == pytest.approx(2.0)
    assert m["jobs"] == 2 and m["tasks"] == 8
    assert m["python_run_s"] == pytest.approx(1.5)
    assert m["python_in_mb"] == pytest.approx(3.0)
    assert m["shuffle_write_mb"] == pytest.approx(2.0)
    assert m["executor_cpu_s"] == pytest.approx(2.5)


# ---- stage classification ---------------------------------------------------


@pytest.mark.parametrize(
    "nodes, cls",
    [
        ([("FlatMapCoGroupsInPandas", ""), ("ObjectHashAggregate", "collect_list")], "kernel"),
        ([("Window", "Window [row_number()]"), ("Sort", "")], "window"),
        ([("WindowGroupLimit", "")], "window"),
        ([("Generate", "Generate explode(kring(...))"), ("ObjectHashAggregate", "collect_list(...)")], "halo"),
        ([("Generate", "Generate posexplode(arrays_zip(...))")], "other"),
        ([("ObjectHashAggregate", "ObjectHashAggregate(functions=[partial_collect_list(...)])")], "pack"),
        ([("HashAggregate", "HashAggregate(functions=[count(1)])")], "other"),
        ([], "other"),
    ],
)
def test_classify(nodes, cls):
    assert classify(nodes) == cls


def _recorded():
    with open(RECORDED_LOG) as f:
        return [json.loads(line) for line in f]


def test_recorded_knn_call_stage_classes():
    """One knn_join call (2,000 uniform rows, k=10) recorded under job
    group perfbench-1: its stages fall into pack, halo and kernel classes,
    the kernel stages are exactly the ones that ran the cogroup UDF, and the
    Python boundary metrics land on them."""
    stages, jobs = parse_event_log(_recorded())
    own = [s for s in stages if s.group == "perfbench-1"]
    assert own and jobs["perfbench-1"] >= 3
    classes = {s.cls for s in own}
    assert {"kernel", "pack", "halo"} <= classes
    for s in own:
        ran_udf = any(n == "FlatMapCoGroupsInPandas" for n, _ in s.nodes)
        assert (s.cls == "kernel") == ran_udf
        if s.cls == "kernel":
            assert s.metrics.get("data sent to Python workers", 0) > 0
            assert s.metrics.get("data returned from Python workers", 0) > 0
        else:
            assert "time to run Python workers" not in s.metrics
