"""Observability (reference C16, OutputFormatterInterface.php:12-81 /
ConsoleOutputFormatter.php:108-189) — Spark-native replacement.

The reference renders nested per-row progress bars; per-row echo is an
anti-pattern at distributed scale. The Spark-idiomatic equivalents:

* ``Observation`` — row metrics piggybacked on an existing action
  (zero extra jobs): the executor counts rows_in on the same pass that
  materializes the entity batch, where the reference walks the rows.
* Job-group metrics — every migration RUN has its own
  ``a2b:<name>:<run id>`` job group (runner.py); ``job_group_metrics``
  aggregates job/stage/task counts from the driver's status tracker
  after the run, the numbers a progress UI or scheduler dashboard
  wants.
* The Spark UI itself carries the live fine-grained progress under the
  same job-group labels.
"""

from __future__ import annotations

from typing import Optional

from pyspark import SparkContext


def job_group_metrics(sc: SparkContext, group: str) -> dict:
    """Aggregate job/stage/task counts for one job group from the
    driver's status tracker (public monitoring API — no listener
    registration, works identically on a real cluster)."""
    st = sc.statusTracker()
    n_jobs = n_stages = n_tasks = n_failed = 0
    seen_stages: set[int] = set()
    for job_id in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job_id)
        if info is None:
            continue
        n_jobs += 1
        for stage_id in info.stageIds:
            if stage_id in seen_stages:
                # stages reused/skipped across jobs in the group would
                # otherwise be counted once per referencing job
                continue
            seen_stages.add(stage_id)
            si = st.getStageInfo(stage_id)
            if si is None:
                continue
            n_stages += 1
            n_tasks += si.numTasks
            n_failed += si.numFailedTasks
    return {
        "jobs": n_jobs,
        "stages": n_stages,
        "tasks": n_tasks,
        "failed_tasks": n_failed,
    }
