"""Per-operation attribution of Spark work, read from Spark's own stores.

Every traced operation phase runs under its own job group. Afterwards
the listener bus is drained and the group's jobs, and every stage those
jobs list, are read from the ``AppStatusStore`` (filled even with the
UI disabled). Structured-streaming micro-batches run on the query's own
thread under a job group named after the query's run id; a
``StreamingQueryListener`` registered here records those run ids and
each batch's progress, so batch jobs land on the operation that started
the query.

Stages are read right after each operation, long before the store's
retention limits evict them, and the read is checked: the stages found
must be exactly the stage ids of the group's jobs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024

# counters summed over an operation's executed (non-skipped) stages
STAGE_FIELDS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / MB),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / MB),
    "spill_mb": ("diskBytesSpilled", 1 / MB),
    "input_mb": ("inputBytes", 1 / MB),
    "input_rows": ("inputRecords", 1),
    "output_mb": ("outputBytes", 1 / MB),
    "output_rows": ("outputRecords", 1),
}


class TraceIncomplete(AssertionError):
    """The status store no longer holds stages a traced job ran."""


class _StreamCounter(StreamingQueryListener):
    def __init__(self) -> None:
        self.run_ids: list[str] = []
        self.batches: list[tuple[int, int]] = []  # (input rows, trigger ms)

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append((p.numInputRows, p.durationMs.get("triggerExecution", 0)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@dataclass
class OpTrace:
    jobs_build: int = 0
    jobs: int = 0
    stages: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    job_spans_ms: list[tuple[int, int]] = field(default_factory=list)
    batches: list[tuple[int, int]] = field(default_factory=list)
    totals: dict[str, float] = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0))


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sqm = spark.streams
        self._streams = _StreamCounter()
        self._runs_seen = 0
        self._batches_seen = 0

    def attach(self) -> None:
        self._sqm.addListener(self._streams)

    def detach(self) -> None:
        self._sqm.removeListener(self._streams)

    def phase(self, tag: str) -> None:
        self.sc.setJobGroup(tag, tag)

    def collect(self, build_tag: str, exec_tag: str) -> OpTrace:
        """Drain the listener bus and read the operation's jobs/stages."""
        self.sc._jsc.clearJobGroup()
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stream_groups = self._streams.run_ids[self._runs_seen:]
        self._runs_seen = len(self._streams.run_ids)
        build_jobs = set(tracker.getJobIdsForGroup(build_tag))
        for g in stream_groups:  # queries started by this op run its batches
            build_jobs.update(tracker.getJobIdsForGroup(g))
        jobs = build_jobs | set(tracker.getJobIdsForGroup(exec_tag))

        t = OpTrace(jobs_build=len(build_jobs), jobs=len(jobs))
        t.batches = self._streams.batches[self._batches_seen:]
        self._batches_seen = len(self._streams.batches)
        stage_ids: set[int] = set()
        for jid in jobs:
            jd = self._store.job(jid)
            ids = jd.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                t.job_spans_ms.append((sub.get().getTime(), done.get().getTime()))
        found = set()
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:
                continue
            found.add(sid)
            if str(sd.status()) == "SKIPPED":
                t.stages_skipped += 1
                continue
            t.stages += 1
            t.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
            for key, (attr, scale) in STAGE_FIELDS.items():
                t.totals[key] += getattr(sd, attr)() * scale
        if found != stage_ids:
            raise TraceIncomplete(
                f"{build_tag}: status store lost stages {sorted(stage_ids - found)[:10]}"
            )
        return t


def union_s(spans_ms: list[tuple[int, int]]) -> float:
    """Seconds covered by at least one of the ``[start, end]`` spans."""
    total, end = 0, None
    for a, b in sorted(spans_ms):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000
