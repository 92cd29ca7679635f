"""Event-log parsing, self-time arithmetic and the tail rule."""

import os

import pytest

from harness import tail
from spans import Span, covered, parse_event_log, self_time

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


def test_parser_attributes_jobs_stages_and_tasks_to_job_groups():
    with open(LOG) as f:
        stats = parse_event_log(f)
    call, action = stats["wl:1:op:call"], stats["wl:1:op:action"]
    # one aggregate job of two stages, two tasks each
    assert (call["jobs"], call["stages"], call["skipped_stages"], call["tasks"]) == (1, 2, 0, 4)
    # the same shuffle collected twice: the second job reuses the map stage
    assert (action["jobs"], action["stages"], action["skipped_stages"], action["tasks"]) == (2, 3, 1, 6)
    assert call["failed_tasks"] == action["failed_tasks"] == 0
    assert call["shuffle_write_bytes"] == call["shuffle_read_bytes"] > 0
    assert action["task_run_s"] == pytest.approx(5.423)
    assert call["task_wait_s"] > 0
    assert [round(b - a, 3) for a, b in action["job_intervals"]] == [2.547, 0.383]


def test_covered_merges_overlaps_and_clips_to_the_span():
    assert covered(0, 10, [(1, 3), (2, 4), (5, 6), (9, 12), (-5, -1)]) == 5
    assert covered(0, 10, []) == 0


def test_self_time_subtracts_children_and_jobs_once():
    parent = Span(0, None, "call", 0.0, 10.0)
    kids = [Span(1, 0, "a", 1.0, 3.0), Span(2, 0, "b", 2.0, 4.0)]
    # a job overlapping a child is not subtracted twice
    assert self_time(parent, kids, [(3.5, 6.0), (9.0, 12.0)]) == pytest.approx(10 - 3 - 2 - 1)
    assert self_time(parent, [], []) == 10


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    v, pct, n = tail([float(i) for i in range(30)])
    assert (v, n) == (19.0, 30) and pct == pytest.approx(100 * 20 / 30)
    assert sum(x > v for x in range(30)) == 10
    # too few samples for any such percentile: the median stands in
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)
