"""Traced run: per-layer figures read from outside the program.

Every figure comes from the benchmark's own calls into a layer or from
Spark's own bookkeeping, never from spans inside the engine:

- jobs are attributed to the builder call or to the noop write through
  a job group the benchmark sets around each call; jobs of neither group
  started inside the execution are streaming micro-batches, which run
  on the stream's own thread and group, and count toward the builder
  that started the stream;
- stage metrics come from ``AppStatusStore`` ``StageData``, read after
  the listener bus drains and after every execution, because the store
  keeps only ``spark.ui.retainedStages`` stages;
- micro-batch durations and state-store sizes come from a
  ``StreamingQueryListener`` registered here.
"""

from __future__ import annotations

import threading
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener

_MB = 1024 * 1024

#: StageData field -> (metric suffix, scale). Summed over a phase's stages.
_STAGE_SUMS = {
    "numCompleteTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "executorRunTime": ("task_run_s", 1e-3),
    "inputBytes": ("input_mb", 1 / _MB),
    "outputBytes": ("output_mb", 1 / _MB),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / _MB),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / _MB),
    "diskBytesSpilled": ("spill_mb", 1 / _MB),
}


class _StreamProgress(StreamingQueryListener):
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        states = [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators]
        with self._lock:
            self._events.append((str(p.id), dict(p.durationMs), states))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list:
        with self._lock:
            events, self._events = self._events, []
        return events


def stream_figures(events: list) -> dict[str, float]:
    """Sum micro-batch figures; state rows are the final size of each
    query's state, memory the largest seen."""
    final_rows: dict[str, int] = {}
    out = dict.fromkeys(
        ("stream.batches", "stream.trigger_s", "stream.commit_s", "stream.state_mem_mb"), 0.0
    )
    for query_id, durations, states in events:
        out["stream.batches"] += 1
        out["stream.trigger_s"] += durations.get("triggerExecution", 0) / 1e3
        out["stream.commit_s"] += (
            durations.get("walCommit", 0) + durations.get("commitOffsets", 0)
        ) / 1e3
        final_rows[query_id] = sum(rows for rows, _ in states)
        mem = sum(m for _, m in states) / _MB
        out["stream.state_mem_mb"] = max(out["stream.state_mem_mb"], mem)
    out["stream.state_rows"] = float(sum(final_rows.values()))
    return out


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = self._sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        self._streams = _StreamProgress()
        spark.streams.addListener(self._streams)
        self._next_job = 0
        self.skip_to_now()

    def skip_to_now(self) -> None:
        """Forget the jobs and stream events so far."""
        self._bus.waitUntilEmpty()
        self._new_jobs()
        self._streams.take()

    def _new_jobs(self) -> list:
        """Jobs started since the last call. Job ids are consecutive; a
        short run of missing ids is tolerated before stopping."""
        tracker = self._sc.statusTracker()
        jobs, misses, jid = [], 0, self._next_job
        while misses < 3:
            info = tracker.getJobInfo(jid)
            if info is None:
                misses += 1
            else:
                misses = 0
                jobs.append(info)
                self._next_job = jid + 1
            jid += 1
        return jobs

    def _stage_figures(self, stage_ids: set[int], prefix: str) -> dict[str, float]:
        out = Counter({f"{prefix}.{name}": 0.0 for name, _ in _STAGE_SUMS.values()})
        out[f"{prefix}.stages"] = 0.0
        out[f"{prefix}.peak_exec_mem_mb"] = 0.0
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, self._no_status, False, self._no_quantiles)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                out[f"{prefix}.stages"] += 1
                for field, (name, scale) in _STAGE_SUMS.items():
                    out[f"{prefix}.{name}"] += getattr(s, field)() * scale
                peak = s.peakExecutionMemory() / _MB
                out[f"{prefix}.peak_exec_mem_mb"] = max(out[f"{prefix}.peak_exec_mem_mb"], peak)
        return dict(out)

    def collect(self, build_group: str, exec_group: str) -> dict[str, float]:
        """Figures of the execution that ran under the two job groups."""
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        exec_ids = set(tracker.getJobIdsForGroup(exec_group))
        build_ids = set(tracker.getJobIdsForGroup(build_group))
        stages: dict[str, set[int]] = {"build": set(), "exec": set()}
        jobs = Counter({"build": 0, "exec": 0})
        stream_jobs = 0
        for info in self._new_jobs():
            # a job of neither group is a stream micro-batch, started by
            # the builder
            phase = "exec" if info.jobId in exec_ids else "build"
            stream_jobs += info.jobId not in exec_ids | build_ids
            jobs[phase] += 1
            stages[phase].update(info.stageIds)
        out: dict[str, float] = {"stream.jobs": float(stream_jobs)}
        for phase in ("build", "exec"):
            out[f"{phase}.jobs"] = float(jobs[phase])
            out.update(self._stage_figures(stages[phase], phase))
        out.update(stream_figures(self._streams.take()))
        return out
