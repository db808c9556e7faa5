from __future__ import annotations

import pytest

from statusstore import EvictedError, StatusReader, check_complete, sum_work


def _job(i, group, stages):
    return {"jobId": i, "jobGroup": group, "stageIds": stages}


def _stage(i, status="COMPLETE", **kw):
    base = {
        "stageId": i,
        "attemptId": 0,
        "status": status,
        "numCompleteTasks": 2,
        "executorCpuTime": 5 * 10**8,
        "executorRunTime": 10 * i,
        "shuffleWriteBytes": 100,
        "inputBytes": 7,
        "diskBytesSpilled": 0,
    }
    return {**base, **kw}


def test_guard_passes_when_everything_is_present():
    check_complete([_job(3, "g", [5]), _job(4, "g", [6])], [_stage(5), _stage(6)], 3)


def test_guard_fires_on_an_evicted_job():
    with pytest.raises(EvictedError, match=r"jobs evicted.*\[4\]"):
        check_complete([_job(3, "g", [5]), _job(5, "g", [7])], [_stage(5), _stage(7)], 3)


def test_guard_fires_on_an_evicted_stage():
    with pytest.raises(EvictedError, match=r"stages evicted.*\[6\]"):
        check_complete([_job(3, "g", [5, 6])], [_stage(5)], 3)


def test_sum_work_counts_a_shared_stage_once():
    jobs = [_job(1, "g", [1, 2]), _job(2, "g", [2, 3]), _job(3, "other", [4])]
    stages = [_stage(1), _stage(2), _stage(3), _stage(4)]
    w = sum_work(jobs, stages, "g")
    assert (w.jobs, w.tasks, w.shuffle_write_bytes) == (2, 6, 300)
    assert w.executor_cpu_s == pytest.approx(1.5)
    assert w.heaviest_stage == (3, 0)


def test_reader_counts_a_group_and_fires_after_eviction(spark):
    sc = spark.sparkContext
    reader = StatusReader(spark)
    sc.setJobGroup("one", "one")
    df = spark.range(1000)
    df.groupBy((df.id % 7).alias("k")).count().collect()
    (w,) = reader.read("one")
    assert w.jobs >= 1 and w.tasks >= 1 and w.shuffle_write_bytes > 0
    sc.setJobGroup("many", "many")
    for _ in range(30):  # three times spark.ui.retainedJobs
        spark.range(10).collect()
    with pytest.raises(EvictedError):
        reader.read("many")
