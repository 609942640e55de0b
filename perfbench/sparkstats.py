"""Job and stage metrics from Spark's status store.

``sc._jsc.sc().statusStore()`` is filled by the listener bus whether or
not the web UI runs, so it works with ``spark.ui.enabled=false``. The
benchmark notes which job ids exist before an operation, and afterwards
sums the stage metrics of the jobs that are new.
"""

from __future__ import annotations

from perfbench.trace import union_length

MB = 1024.0 * 1024.0


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def drain(spark) -> None:
    """Wait until the listener bus has delivered every pending event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _items(seq) -> list:
    """The elements of a Scala ``Seq`` seen through py4j."""
    return [seq.apply(i) for i in range(seq.size())]


def job_ids(spark) -> set[int]:
    drain(spark)
    return {int(j.jobId()) for j in _items(_store(spark).jobsList(None))}


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) / 1000.0 if opt.isDefined() else None


def new_jobs(spark, before: set[int]) -> list[dict]:
    """Jobs not in ``before``: id, submit/complete epoch seconds, stage ids."""
    drain(spark)
    out = []
    for j in _items(_store(spark).jobsList(None)):
        jid = int(j.jobId())
        if jid in before:
            continue
        stages = j.stageIds()
        out.append(
            {
                "id": jid,
                "submit": _opt_ms(j.submissionTime()),
                "complete": _opt_ms(j.completionTime()),
                "stages": [int(s) for s in _items(stages)],
            }
        )
    return out


_STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / MB),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / MB),
    "spill_mb": (("memoryBytesSpilled", "diskBytesSpilled"), 1 / MB),
    "output_mb": ("outputBytes", 1 / MB),
    "output_records": ("outputRecords", 1.0),
    "tasks": ("numCompleteTasks", 1.0),
}


def stage_metrics(spark, stage_ids: set[int]) -> dict[int, dict[str, float]]:
    """Metrics of the last attempt of each stage in ``stage_ids``; stages
    the store does not know (never submitted) are left out."""
    store = _store(spark)
    out: dict[int, dict[str, float]] = {}
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — NoSuchElementException via py4j
            continue
        out[sid] = {
            key: sum(float(getattr(st, g)()) for g in (getters if isinstance(getters, tuple) else (getters,))) * scale
            for key, (getters, scale) in _STAGE_FIELDS.items()
        }
    return out


def summarize(jobs: list[dict], stages: dict[int, dict[str, float]]) -> dict[str, float]:
    """Workload-level Spark metrics for one operation."""
    run_stages = set().union(*(j["stages"] for j in jobs)) if jobs else set()
    ran = [s for s in run_stages if s in stages and stages[s]["tasks"] > 0]
    out = {
        "jobs": float(len(jobs)),
        "stages": float(len(ran)),
        "job_wall_s": job_wall(jobs),
    }
    for key in _STAGE_FIELDS:
        out[key] = sum(stages[s][key] for s in ran)
    return out


def job_wall(jobs: list[dict]) -> float:
    """Seconds during which at least one of ``jobs`` was running."""
    return union_length(
        [(j["submit"], j["complete"]) for j in jobs if j["submit"] is not None and j["complete"] is not None]
    )


def jobs_within(jobs: list[dict], intervals: list[tuple[float, float]]) -> list[dict]:
    """Jobs submitted inside any of ``intervals`` (epoch seconds)."""
    return [
        j for j in jobs
        if j["submit"] is not None and any(a <= j["submit"] <= b for a, b in intervals)
    ]


def storage_mb(spark) -> float:
    """Memory plus disk held by cached/checkpointed RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum((float(r.memSize()) + float(r.diskSize())) / MB for r in infos)
