"""Job-interval union and stage aggregation over status-store records."""

from __future__ import annotations

from perfbench.sparkstats import job_wall, jobs_within, summarize


def job(jid, submit, complete, stages):
    return {"id": jid, "submit": submit, "complete": complete, "stages": stages}


def stage(tasks, run_s=0.0, output_records=0.0):
    return {
        "executor_run_s": run_s, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "output_mb": 0.0, "output_records": output_records, "tasks": float(tasks),
    }


def test_job_wall_is_the_union_of_job_intervals():
    jobs = [
        job(1, 10.0, 12.0, []),
        job(2, 11.0, 13.0, []),  # overlaps job 1 (concurrent targets)
        job(3, 20.0, 21.5, []),
        job(4, 30.0, None, []),  # never completed: no interval
    ]
    assert job_wall(jobs) == 4.5
    assert job_wall([]) == 0.0


def test_summarize_counts_only_stages_that_ran():
    jobs = [job(1, 0.0, 1.0, [1, 2]), job(2, 1.0, 2.0, [3, 2])]
    stages = {1: stage(4, 1.5), 2: stage(0), 3: stage(2, 0.5)}  # 2 was skipped
    out = summarize(jobs, stages)
    assert out["jobs"] == 2 and out["stages"] == 2
    assert out["tasks"] == 6 and out["executor_run_s"] == 2.0
    assert out["job_wall_s"] == 2.0


def test_jobs_within_matches_submission_times():
    jobs = [job(1, 1.0, 2.0, []), job(2, 5.0, 6.0, []), job(3, None, None, [])]
    assert [j["id"] for j in jobs_within(jobs, [(0.5, 1.5), (4.0, 5.0)])] == [1, 2]
    assert jobs_within(jobs, []) == []
