"""Spark job, stage and SQL-execution counters, read from outside the program.

Two sources, both live with the web UI disabled:

* the application status store (``SparkContext.statusStore``): per-job
  group, submission/completion time and stage ids; per-stage task count,
  executor run and CPU time, shuffle bytes and spill;
* the SQL status store (``SharedState.statusStore``): SQL executions,
  counted per span through their descriptions.

The stores keep only the most recent jobs, stages and executions
(``spark.ui.retained*``); ``RETENTION_CONF`` raises those limits so a
whole run stays attributable. Reads go through py4j, one call per field,
so they are batched at the end of a run instead of taken per call.
"""

from __future__ import annotations

from dataclasses import dataclass

RETENTION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


@dataclass
class JobStats:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    tasks: int = 0
    stage_run_s: float = 0.0
    stage_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def _opt(option):
    return option.get() if option.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class SparkCounters:
    """Reads the status stores of one SparkContext."""

    def __init__(self, spark):
        self._scala_sc = spark.sparkContext._jsc.sc()
        self._store = self._scala_sc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()

    def jobs_submitted(self) -> int:
        """Jobs submitted so far; job ids are 0 .. n-1 in submission order."""
        return self._scala_sc.dagScheduler().numTotalJobs()

    def jobs(self, job_ids) -> dict[int, JobStats]:
        """Per-job stats for finished jobs among ``job_ids``."""
        out: dict[int, JobStats] = {}
        stages_seen: set[int] = set()
        for job_id in job_ids:
            try:
                data = self._store.job(job_id)
            except Exception:  # noqa: BLE001 - evicted or still unknown
                continue
            submitted, completed = _opt(data.submissionTime()), _opt(data.completionTime())
            if submitted is None or completed is None:
                continue
            job = JobStats(job_id, _opt(data.jobGroup()), submitted.getTime() / 1e3,
                           completed.getTime() / 1e3)
            for stage_id in _seq(data.stageIds()):
                if stage_id in stages_seen:  # a stage reused by a later job counts once
                    continue
                stages_seen.add(stage_id)
                stage = self._store.lastStageAttempt(stage_id)
                if str(stage.status()) == "SKIPPED":
                    continue
                job.tasks += stage.numTasks()
                job.stage_run_s += stage.executorRunTime() / 1e3
                job.stage_cpu_s += stage.executorCpuTime() / 1e9
                job.shuffle_read_bytes += stage.shuffleReadBytes()
                job.shuffle_write_bytes += stage.shuffleWriteBytes()
                job.spill_bytes += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            out[job_id] = job
        return out

    def executions_by_span(self, prefix: str) -> dict[int, int]:
        """SQL executions per span id. An execution takes its description
        from the submitting thread's job description, which the tracer sets
        to ``prefix`` + span id, so executions that ran no job (a ``count``
        answered from a local relation) count too."""
        out: dict[int, int] = {}
        executions = self._sql_store.executionsList()
        for i in range(executions.size()):
            description = executions.apply(i).description()
            if description and description.startswith(prefix):
                span_id = int(description[len(prefix):])
                out[span_id] = out.get(span_id, 0) + 1
        return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())
