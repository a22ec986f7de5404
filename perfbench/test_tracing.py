"""Tests for the benchmark's own accounting: the per-job-group rollup of a
synthesized event log, span self time, and job-group scoping. No Spark
session is needed.

  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracing import Span, Tracer, job_group, rollup_groups  # noqa: E402


def _job(job_id: int, stages: list[int], group: str | None) -> dict:
    props = {"spark.jobGroup.id": group} if group is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props}


def _task(stage: int, launch_s: float, finish_s: float, reason: str = "Success",
          speculative: bool = False, shuffle_read: int = 0, shuffle_write: int = 0,
          spill: int = 0, gc_ms: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {
            "Launch Time": int(launch_s * 1e3),
            "Finish Time": int(finish_s * 1e3),
            "Speculative": speculative,
        },
        "Task Metrics": {
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }


@pytest.fixture()
def events(tmp_path):
    """Written to disk and read back the way the benchmark reads a log."""
    evs = [
        _job(0, [0, 1], "mentions"),
        _task(0, 10.0, 11.0, shuffle_write=2_000_000),
        _task(0, 10.0, 12.0, shuffle_write=1_000_000),
        _task(1, 12.0, 18.0, shuffle_read=3_000_000, spill=5_000_000, gc_ms=1500),
        _task(1, 12.0, 30.0, reason="TaskKilled"),            # excluded
        _task(1, 12.0, 30.0, speculative=True),               # excluded
        _job(1, [2], "links"),
        _job(2, [3], "links"),
        _task(2, 20.0, 20.5),
        _task(3, 21.0, 21.5),
        _task(3, 21.0, 21.5),
        _job(3, [4], None),                                   # no group
        _task(4, 0.0, 4.0),
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in evs) + "\n")
    from bionext_spark.sparklog import iter_events

    return list(iter_events(str(tmp_path)))


def test_task_core_seconds_per_group(events):
    g = rollup_groups(events)
    assert g["mentions"]["task_core_s"] == pytest.approx(1.0 + 2.0 + 6.0)
    assert g["links"]["task_core_s"] == pytest.approx(1.5)
    assert g[""]["task_core_s"] == pytest.approx(4.0)


def test_jobs_counted_per_group(events):
    g = rollup_groups(events)
    assert (g["mentions"]["jobs"], g["links"]["jobs"], g[""]["jobs"]) == (1, 2, 1)


def test_task_skew_is_max_over_median(events):
    g = rollup_groups(events)
    # durations 1, 2, 6 -> median 2, max 6
    assert g["mentions"]["task_skew"] == pytest.approx(3.0)
    assert g["links"]["task_skew"] == pytest.approx(1.0)


def test_shuffle_spill_and_gc(events):
    g = rollup_groups(events)
    assert g["mentions"]["shuffle_mb"] == pytest.approx(6.0)  # 3 MB written + 3 MB read
    assert g["mentions"]["spill_mb"] == pytest.approx(5.0)
    assert g["mentions"]["gc_s"] == pytest.approx(1.5)
    assert g["links"]["shuffle_mb"] == 0.0


def test_self_time_subtracts_union_of_children():
    t = Tracer()
    t.spans = [
        Span("rep", 0.0, 10.0, None),
        Span("a", 1.0, 4.0, 0),
        Span("b", 3.0, 6.0, 0),      # overlaps a: union of children is 1..6
        Span("c", 5.0, 5.5, 2),      # grandchild: not subtracted from rep
    ]
    assert t.self_time(0) == pytest.approx(5.0)
    assert t.self_time(2) == pytest.approx(2.5)
    assert t.total("a") == pytest.approx(3.0)


def test_span_records_parent():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert t.spans[0].end >= t.spans[1].end >= t.spans[1].start >= t.spans[0].start


class _FakeContext:
    def __init__(self) -> None:
        self.props: dict[str, str] = {}

    def setJobGroup(self, group_id: str, description: str) -> None:
        self.props["spark.jobGroup.id"] = group_id

    def setLocalProperty(self, key: str, value) -> None:
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def test_job_group_cleared_after_block_even_on_error():
    sc = _FakeContext()
    with job_group(sc, "links"):
        assert sc.props["spark.jobGroup.id"] == "links"
    assert "spark.jobGroup.id" not in sc.props
    with pytest.raises(RuntimeError):
        with job_group(sc, "pairs"):
            raise RuntimeError("stage failed")
    assert "spark.jobGroup.id" not in sc.props
