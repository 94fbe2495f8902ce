"""Event-log parsing and per-op job attribution.

``data/eventlog_small.jsonl`` is a Spark 4 event log recorded from a
two-op session (fields the parser does not read stripped): op ``opA`` ran
a mapInPandas + groupBy collect (2 jobs), op ``opB`` a localCheckpoint, a
parquet write and a read-back count (5 jobs).
"""

from __future__ import annotations

import os

import pytest

from perfbench import tracing

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _spans():
    a = tracing.Span("opA", 0, 1792186159000, 1792186165100, 1792186159000, "opA")
    b = tracing.Span("opB", 0, 1792186165120, 1792186167700, 1792186165120, "opB")
    return a, b


def test_recorded_log_attributes_work_to_each_op():
    a, b = _spans()
    got = tracing.attribute(tracing.read_events(LOG), [a, b])
    ma, mb = got["per_span"][id(a)], got["per_span"][id(b)]
    assert (ma["driver.jobs"], ma["driver.stages"], ma["driver.tasks"]) == (2, 2, 5)
    assert (mb["driver.jobs"], mb["driver.stages"], mb["driver.tasks"]) == (5, 5, 8)
    assert (ma["driver.sql_executions"], mb["driver.sql_executions"]) == (1, 3)
    assert ma["arrow.bytes_to_python"] == 4 * 41440
    assert "arrow.bytes_to_python" not in mb
    assert mb["artifact.bytes_written"] == 2491 + 2486
    assert ma["_rdds"] == set() and mb["_rdds"] == {12}
    assert got["group_check"] == {"agree": 7, "ungrouped": 0, "disagree": 0, "unattributed": 0}


def test_job_time_and_gap_from_recorded_log():
    a, b = _spans()
    m = tracing.attribute(tracing.read_events(LOG), [a, b])["per_span"][id(a)]
    assert m["driver.job_s"] == pytest.approx((3561 + 188) / 1e3)
    assert m["driver.gap_s"] == pytest.approx((6100 - 3561 - 188) / 1e3)


def test_rolling_log_directory_reads_parts_in_order(tmp_path):
    lines = open(LOG).read().splitlines()
    half = len(lines) // 2
    # events_10 sorts before events_2 as text; the reader orders by number.
    (tmp_path / "events_2_app").write_text("\n".join(lines[half:]) + "\n")
    (tmp_path / "events_1_app").write_text("\n".join(lines[:half]) + "\n")
    assert tracing.read_events(str(tmp_path)) == tracing.read_events(LOG)


def _job(job_id, t, group, result="JobSucceeded", dur=10):
    start = {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t,
             "Stage IDs": [], "Properties": {"spark.jobGroup.id": group} if group else {}}
    end = {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": t + dur,
           "Job Result": {"Result": result}}
    return [start, end]


def test_attribution_by_interval_cross_checked_with_job_group():
    s1 = tracing.Span("a", 0, 100, 200, 150, "a")
    s2 = tracing.Span("b", 0, 300, 400, 300, "b")
    events = (
        _job(1, 110, "a")  # build phase of "a"
        + _job(2, 160, None)  # from a pool thread: no group
        + _job(3, 310, "a", result="JobFailed")  # group leaked from an earlier op
        + _job(4, 250, "a")  # between ops
    )
    got = tracing.attribute(events, [s1, s2])
    m1, m2 = got["per_span"][id(s1)], got["per_span"][id(s2)]
    assert m1["driver.jobs"] == 2 and m1["pipeline.build_jobs"] == 1
    assert m2["driver.jobs"] == 1 and m2["driver.failed_jobs"] == 1
    assert got["group_check"] == {"agree": 1, "ungrouped": 1, "disagree": 1, "unattributed": 1}


def test_gap_counts_overlapping_jobs_once():
    s = tracing.Span("a", 0, 0, 100, 0, "a")
    events = _job(1, 10, "a", dur=40) + _job(2, 30, "a", dur=40)
    m = tracing.attribute(events, [s])["per_span"][id(s)]
    assert m["driver.job_s"] == pytest.approx(0.08)
    assert m["driver.gap_s"] == pytest.approx((100 - 60) / 1e3)


def test_pass_metrics_sum_ops_and_take_medians_over_passes():
    spans = [
        tracing.Span("a", p, 1000 * p, 1000 * p + 100, 1000 * p, "a", {"pipeline.build_s": 0.5})
        for p in range(3)
    ]
    events = []
    for p, n in enumerate((1, 3, 2)):
        for j in range(n):
            events += _job(10 * p + j, 1000 * p + 10 + j, "a")
    got = tracing.attribute(events, spans)
    per_pass = tracing.pass_metrics(spans, got["per_span"])
    assert [per_pass[p]["driver.jobs"] for p in range(3)] == [1, 3, 2]
    med = tracing.median_over_passes(per_pass)
    assert med["driver.jobs"] == 2
    assert med["pipeline.build_s"] == 0.5
    assert set(med) == {name for name, _ in tracing.PER_PASS}
