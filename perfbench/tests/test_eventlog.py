"""Event-log parser and job attribution.

``data/traced_query.eventlog`` is a Spark 4 event log captured from one
traced query: ``sim_normalize_embeddings`` built inside span ``t/0`` and
written to a noop sink inside span ``t/1`` (a pandas UDF over the 500-row
embeddings table), followed by an untagged ``spark.range(100).count()``.
It keeps the job-start, stage and task-end events; properties are cut to
the job ones, and stage call sites, stage accumulables, RDD details and
task accumulables other than the Python-worker ones are dropped.
"""

import json
from pathlib import Path

import pytest

from eventlog import read_events, sum_groups, totals_by_group

LOG = Path(__file__).parent / "data" / "traced_query.eventlog"


@pytest.fixture(scope="module")
def by_group():
    return totals_by_group(read_events(str(LOG)))


def test_jobs_are_attributed_to_their_span(by_group):
    assert set(by_group) == {"t/0", "t/1", None}
    assert (by_group["t/0"].jobs, by_group["t/1"].jobs, by_group[None].jobs) == (1, 1, 2)
    assert (by_group["t/1"].stages, by_group["t/1"].tasks) == (1, 1)
    assert (by_group[None].stages, by_group[None].tasks) == (2, 5)


def test_task_metrics_of_the_noop_write(by_group):
    t = by_group["t/1"]
    assert t.input_rows == 500
    assert t.input_bytes == 865
    assert t.python_bytes == 392464
    assert t.task_s == pytest.approx(3.479)
    assert (t.shuffle_write_bytes, t.spill_bytes, t.source_tasks) == (0, 0, 0)


def test_totals_add_up_to_the_log(by_group):
    events = [json.loads(line) for line in LOG.read_text().splitlines()]
    ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in ends)
    total = sum_groups(by_group, by_group)
    assert total.tasks == len(ends)
    assert total.task_s == pytest.approx(run_ms / 1e3)
    assert total.jobs == sum(e["Event"] == "SparkListenerJobStart" for e in events)


def _job(job, group, stages):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job,
        "Stage Infos": [{"Stage ID": s, "RDD Info": []} for s in stages],
        "Properties": {"spark.jobGroup.id": group},
    }


def _stage(stage, group, rdds=()):
    info = {"Stage ID": stage, "RDD Info": [{"Name": r} for r in rdds]}
    return [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": info,
         "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": info},
    ]


def _task(stage, run_ms):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms}}


def test_a_reused_stage_stays_with_the_job_that_ran_it():
    # Job 1 (group b) lists stage 0 of job 0 (group a) as a skipped parent.
    events = [
        _job(0, "a", [0]), *_stage(0, "a"), _task(0, 100),
        _job(1, "b", [0, 1]), *_stage(1, "b"), _task(1, 50),
    ]
    by = totals_by_group(events)
    assert (by["a"].jobs, by["a"].stages, by["a"].tasks) == (1, 1, 1)
    assert (by["b"].jobs, by["b"].stages, by["b"].tasks) == (1, 1, 1)
    assert by["b"].task_s == pytest.approx(0.05)


def test_data_source_tasks_are_counted():
    events = [_job(0, "g", [0]), *_stage(0, "g", ["DataSourceRDD"]),
              _task(0, 1), _task(0, 1)]
    assert totals_by_group(events)["g"].source_tasks == 2


def test_compressed_logs_are_refused(tmp_path):
    (tmp_path / "app.zstd").write_bytes(b"\x28\xb5")
    with pytest.raises(ValueError, match="compress"):
        list(read_events(str(tmp_path)))
