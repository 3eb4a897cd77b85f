"""Pure logic of the benchmark (no Spark): run with
``python3 -m pytest perfbench/tests -q`` from the repository root."""

import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402


def test_quartiles_match_statistics_quantiles():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    q1, med, q3 = M.quartiles(vals)
    assert (q1, med, q3) == tuple(statistics.quantiles(vals, n=4))
    assert med == statistics.median(vals)


def test_quartiles_of_one_value_and_empty():
    assert M.quartiles([2.5]) == (2.5, 2.5, 2.5)
    with pytest.raises(ValueError):
        M.quartiles([])


def test_unattributed_is_wall_minus_blocking_phases():
    timings = {"schedule": 1.0, "fetch": 2.0, "bloom_standing": 0.5,
               "bloom_delta": 0.4,  # inside bloom_standing: not added
               "discover_dedup": 1.5, "unseen_seq": 1.0,
               "bloom_delta_submit": 0.0, "next_frontier": 0.0,
               "state_writes": 0.25,
               "write_documents": 3.0}  # background write: not added
    assert M.attributed_s(timings) == pytest.approx(6.25)
    assert M.unattributed_s(7.0, timings) == pytest.approx(0.75)
    # engine rounds phases to 1 ms: a sum just over the wall clamps to 0
    assert M.unattributed_s(6.2499, timings) == 0.0


def test_failed_share():
    assert M.failed_share(200, 5) == 0.025
    assert M.failed_share(1, 0) == 0.0
    with pytest.raises(ValueError):
        M.failed_share(0, 0)


def _events():
    def task(stage, start, end, run_ms, cpu_ns, sw=0, sr=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Stage Attempt ID": 0,
                "Task Info": {"Launch Time": start, "Finish Time": end},
                "Task Metrics": {
                    "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                    "JVM GC Time": 10, "Memory Bytes Spilled": 0,
                    "Disk Bytes Spilled": 0,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                    "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                             "Local Bytes Read": sr}}}

    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1900},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1000,
            "Completion Time": 1900, "Number of Tasks": 2}},
        task(0, 1000, 1500, 500, 400_000_000, sw=2_000_000),
        task(0, 1000, 1900, 900, 800_000_000, sw=1_000_000),
        # a job of the second window
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 2100},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 2100,
            "Completion Time": 2600, "Number of Tasks": 1}},
        task(1, 2100, 2600, 500, 500_000_000, sr=3_000_000),
        "not json",
    ]


def test_event_log_windows_attribute_by_start_time():
    lines = [e if isinstance(e, str) else json.dumps(e) for e in _events()]
    log = M.parse_event_log(lines)
    assert len(log["tasks"]) == 3 and len(log["jobs"]) == 2
    w1, w2 = M.attribute_windows(log, [(1.0, 2.0), (2.0, 3.0)], n_slots=2)
    assert (w1["jobs"], w1["stages"], w1["tasks"]) == (1, 1, 2)
    assert w1["run_s"] == pytest.approx(1.4)
    assert w1["cpu_s"] == pytest.approx(1.2)
    assert w1["shuffle_write_mb"] == pytest.approx(3.0)
    # busy 0.5 + 0.9 task-seconds over 2 slots x 1 s
    assert w1["idle_share"] == pytest.approx(0.3)
    assert (w2["jobs"], w2["tasks"]) == (1, 1)
    assert w2["shuffle_read_mb"] == pytest.approx(3.0)
    assert w2["idle_share"] == pytest.approx(0.75)
    # stage 0: max 0.9 s over median 0.7 s; one-task stages are skipped
    skews = M.stage_skew(log, w1["stage_keys"] | w2["stage_keys"])
    assert skews == [pytest.approx(0.9 / 0.7)]


def test_schedule_oracle_rejects_a_dropped_row():
    oracle = [(0, 0, "https://a/1"), (0, 1, "https://b/1"),
              (1, 2, "https://a/2")]
    assert M.schedule_mismatch(list(reversed(oracle)), oracle) is None
    msg = M.schedule_mismatch(oracle[:2], oracle)
    assert msg is not None and "first missing [(1, 2, 'https://a/2')]" in msg
    assert M.schedule_mismatch(oracle[:2] + [(1, 3, "https://a/2")],
                               oracle) is not None


def test_set_and_span_comparisons():
    assert M.set_mismatch("seen", {"a"}, {"a"}) is None
    assert "1 missing" in M.set_mismatch("seen", {"a"}, {"a", "b"})
    spans = [{"kind": "text", "text": "x", "media_ref": "", "offset": 0},
             {"kind": "media", "text": "", "media_ref": "m", "offset": 1}]
    assert M.spans_key(spans) == (("text", "x", "", 0), ("media", "", "m", 1))
