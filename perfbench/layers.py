"""Per-layer signals of one op execution, read from Spark's own trackers.

Every reader here observes the engine from outside: the Catalyst phase
tracker of the returned DataFrame, the job group the op ran under (the
status tracker lists its jobs, the status store holds each stage's task
metrics; both work with the UI off), and the streaming progress events a
``StreamingQueryListener`` receives.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener

CATALYST_PHASES = {
    "analysis": "catalyst.analysis_ms",
    "optimization": "catalyst.optimization_ms",
    "planning": "catalyst.planning_ms",
}

# progress.durationMs key -> metric name
STREAM_DURATIONS = {
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}

# Counts that must repeat exactly for an op from round to round and run to
# run; a drift is flagged, because a later change may claim on them.
COUNTS = ("exec.jobs", "exec.stages", "exec.tasks", "streaming.microbatches")


class StreamProgress(StreamingQueryListener):
    """Collects the progress of every micro-batch since the last ``take``."""

    def __init__(self) -> None:
        self.events: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list:
        events, self.events = self.events, []
        return events


def drain_listener_bus(spark) -> None:
    """Block until Spark has delivered every pending listener event, so the
    status store holds final stage metrics and stream progress has arrived."""
    spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty()


def catalyst(df) -> dict[str, float]:
    """Analysis, optimization and physical-planning time of ``df``."""
    out = dict.fromkeys(CATALYST_PHASES.values(), 0.0)
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        metric = CATALYST_PHASES.get(kv._1())
        if metric:
            out[metric] = float(kv._2().durationMs())
    return out


def jobs(spark, group: str) -> dict[str, float]:
    """Job, stage and task totals of the jobs launched under ``group``.

    Skipped stages (shuffle output reused) did no work and are not counted.
    Micro-batches of a streaming query run under the stream's own job group,
    so they show in the ``streaming.*`` metrics, not here.
    """
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = spark._jsparkSession.sparkContext().statusStore()
    out = {
        "exec.jobs": float(len(job_ids)),
        "exec.stages": 0.0,
        "exec.tasks": 0.0,
        "exec.task_run_ms": 0.0,
        "exec.task_cpu_ms": 0.0,
        "exec.gc_ms": 0.0,
        "exec.shuffle_write_bytes": 0.0,
        "exec.input_bytes": 0.0,
    }
    for stage_id in stage_ids:
        stage = store.lastStageAttempt(stage_id)
        if stage.status().toString() == "SKIPPED":
            continue
        out["exec.stages"] += 1
        out["exec.tasks"] += stage.numTasks()
        out["exec.task_run_ms"] += stage.executorRunTime()
        out["exec.task_cpu_ms"] += stage.executorCpuTime() / 1e6
        out["exec.gc_ms"] += stage.jvmGcTime()
        out["exec.shuffle_write_bytes"] += stage.shuffleWriteBytes()
        out["exec.input_bytes"] += stage.inputBytes()
    return out


def streaming(progress: list) -> dict[str, float]:
    """Micro-batch count and summed phase times of the given progress events."""
    out = {
        "streaming.microbatches": float(len(progress)),
        "streaming.state_commit_ms": 0.0,
        "streaming.input_rows": 0.0,
        **dict.fromkeys(STREAM_DURATIONS.values(), 0.0),
    }
    for p in progress:
        out["streaming.input_rows"] += p.numInputRows
        for key, metric in STREAM_DURATIONS.items():
            out[metric] += p.durationMs.get(key, 0)
        for op in p.stateOperators:
            out["streaming.state_commit_ms"] += op.commitTimeMs
    return out
