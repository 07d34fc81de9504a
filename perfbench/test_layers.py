"""Tests of the fold from Spark event log and spans to per-layer metrics.

The fixture under fixtures/ is a real event log (trimmed of fields the
fold does not read) of pricing_summary and histogram_family at sf0.1 on
local[4], recorded by ``python3 perfbench/record.py fixture``. The query
name was set as job group on the calling thread, as
``tools/profile_queries.py`` does.

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os

import pytest

import layers
import record
import run
from spans import Span, fold_spans, union_length

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def fixture_log():
    events = layers.read_events(os.path.join(FIXTURES, "eventlog.json.gz"))
    with open(os.path.join(FIXTURES, "windows.json")) as f:
        windows = {r["name"]: r for r in json.load(f)}
    return events, windows


def jobs_by_group(events: list[dict], group: str) -> int:
    return sum(
        1 for ev in events
        if ev["Event"] == "SparkListenerJobStart"
        and ev.get("Properties", {}).get("spark.jobGroup.id") == group
    )


def test_facet_thread_jobs_are_attributed_by_window(fixture_log):
    events, windows = fixture_log
    m = layers.fold_events(events, [windows["histogram_family"]], cores=4)
    assert m["spark.jobs"] == 33
    # the facet threads' jobs carry no job group: counting by group
    # misses them
    assert jobs_by_group(events, "histogram_family") == 25


def test_every_job_of_the_log_lands_in_one_window(fixture_log):
    events, windows = fixture_log
    both = layers.fold_events(events, list(windows.values()), cores=4)
    per_query = [layers.fold_events(events, [w], cores=4) for w in windows.values()]
    assert both["spark.jobs"] == sum(m["spark.jobs"] for m in per_query)
    assert both["spark.tasks"] == sum(m["spark.tasks"] for m in per_query)
    total_jobs = sum(1 for ev in events if ev["Event"] == "SparkListenerJobStart")
    # the rest are the session warm-up before the first window
    assert both["spark.jobs"] + both["spark.unattributed_jobs"] == total_jobs


def test_query_wall_splits_into_build_exec_and_gaps(fixture_log):
    events, windows = fixture_log
    for w in windows.values():
        m = layers.fold_events(events, [w], cores=4)
        parts = ("queries.build.driver_s", "queries.build.job_s",
                 "queries.exec.job_s", "queries.exec.gap_s")
        assert all(m[p] >= 0 for p in parts)
        assert math.isclose(sum(m[p] for p in parts), w["end"] - w["start"], abs_tol=1e-6)
        assert math.isclose(
            m["spark.job_gap_s"], m["queries.build.driver_s"] + m["queries.exec.gap_s"]
        )


def test_engine_metrics_of_the_fixture(fixture_log):
    events, windows = fixture_log
    m = layers.fold_events(events, [windows["pricing_summary"]], cores=4)
    assert m["scan.rows"] > 0 and m["scan.time_s"] > 0
    assert m["shuffle.write_bytes"] > 0
    assert m["spark.tasks_failed"] == 0
    assert 0 < m["spark.slot_util"] <= 1
    assert m["spark.task_cpu_s"] <= m["spark.task_s"] + m["spark.tasks"] * 1e-3


def test_stages_skipped_of_the_facet_thread_query(fixture_log):
    events, windows = fixture_log
    m = layers.fold_events(events, [windows["histogram_family"]], cores=4)
    # each of the 33 jobs runs one stage; the 36 others listed by the jobs
    # are shuffles that an earlier job already wrote
    assert m["spark.stages"] == 33
    assert m["spark.stages_skipped"] == 36


def job_events(job_id, submitted_ms, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id,
         "Submission Time": submitted_ms, "Stage IDs": stages},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id,
         "Completion Time": submitted_ms + 500},
    ]


def stage_submitted(stage, submitted_ms):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage, "Submission Time": submitted_ms}}


def test_a_stage_run_by_an_earlier_job_is_skipped_under_its_own_id():
    window = {"start": 0.0, "build_end": 0.5, "end": 10.0}
    events = [
        *job_events(0, 1000, [0]), stage_submitted(0, 1001),
        # job 1 reuses stage 0 while job 0 is still active, runs stage 1
        # and lists stage 2, which never runs
        *job_events(1, 1200, [0, 1, 2]), stage_submitted(1, 1201),
    ]
    m = layers.fold_events(events, [window], cores=4)
    assert m["spark.stages"] == 2
    assert m["spark.stages_skipped"] == 2


def test_a_job_with_no_job_end_is_an_error():
    window = {"start": 0.0, "build_end": 0.5, "end": 10.0}
    events = job_events(0, 1000, [0])[:1]
    with pytest.raises(ValueError, match="no JobEnd"):
        layers.fold_events(events, [window], cores=4)


def span(i, parent, layer, start, end):
    return Span(i, parent, layer, layer, start, end)


def test_self_time_subtracts_the_union_of_overlapping_children():
    spans = [
        span(0, None, "queries", 0.0, 10.0),
        span(1, 0, "oracle_prep", 1.0, 9.0),
        # two facet threads under the same builder, overlapping
        span(2, 1, "operators.histogram", 2.0, 6.0),
        span(3, 1, "operators.histogram", 4.0, 8.0),
        # a same-layer call inside a same-layer call counts once inclusive
        span(4, 2, "operators.histogram", 3.0, 5.0),
    ]
    out = fold_spans(spans)
    assert out["oracle_prep"] == {"calls": 1, "s": 8.0, "self_s": 2.0}
    hist = out["operators.histogram"]
    assert hist["calls"] == 3
    assert hist["s"] == 8.0
    assert hist["self_s"] == 2.0 + 4.0 + 2.0


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4


def test_spec_files_agree():
    bench = run.load_json("../BENCHMARK.json")
    spec = run.load_json("workloads.json")
    expected = run.load_json("expected.json")
    assert [w["name"] for w in bench["workloads"]] == list(spec["workloads"])
    for wl in spec["workloads"].values():
        assert set(wl["queries"]) <= set(expected[wl["sf"]])
    table = spec["per_layer"]
    assert [m["name"] for m in bench["per_layer"]] == list(table)
    wall = {w: table["queries.wall_s"]["per_pass"][w] for w in spec["workloads"]}
    for name, row in table.items():
        assert list(row["per_pass"]) == list(spec["workloads"]), name
        # the labels are derived from the measured figures beside them
        assert (row["mostly_in"], row["little_in"]) == record.where(
            name, row["per_pass"], wall), name


def test_where_a_layer_is_mostly():
    wall = {"a": 10.0, "b": 5.0}
    assert record.where("x.s", {"a": 3.0, "b": 1.0}, wall) == ("a", "b")
    assert record.where("x.s", {"a": 3.0, "b": 2.5}, wall) == ("both", "none")
    # 0.15 s is under 2% of a's 10 s wall but not of b's 5 s
    assert record.where("x.s", {"a": 0.15, "b": 0.12}, wall) == ("b", "a")
    assert record.where("x.s", {"a": 0.1, "b": 0.05}, wall) == ("neither", "both")
    assert record.where("x.calls", {"a": 0.0, "b": 1.0}, wall) == ("b", "a")
    assert record.where("x.calls", {"a": 0.0, "b": 0.0}, wall) == ("neither", "both")
