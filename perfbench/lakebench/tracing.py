"""Spans around the benchmark's calls into the program, with Spark counters.

A span records name, start, end, parent and run id, and is kept in memory;
``Tracer.dump`` writes them out when the run ends. While a span is open its
id is the Spark job group, so the jobs it started can be listed afterwards.
Their stage metrics are read from the application status store right after
the span closes: the store keeps only the last 1000 stages, so reading later
would lose the early ones of a long pass. The store is filled from Spark's
listener bus, so the tracer first waits until the bus has delivered every
event of the span's jobs. A stage that an adaptive query's final job skips
is counted once, by the job that ran it.

A disabled tracer records nothing and sets no job group; the end-to-end
metrics are measured with it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

# StageData accessor -> counter name; times are converted to seconds
STAGE_COUNTERS = (
    ("numTasks", "tasks", 1),
    ("numFailedTasks", "failed_tasks", 1),
    ("inputBytes", "input_bytes", 1),
    ("outputBytes", "output_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}:{len(self.spans)}", name,
                 parent.id if parent else None, self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(s.id, name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.id, parent.name)
            else:
                sc._jsc.clearJobGroup()
            s.counters = self._job_counters(s.id)

    def _job_counters(self, group: str) -> dict[str, float]:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0}
        for _, name, _ in STAGE_COUNTERS:
            out[name] = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            out["jobs"] += 1
            for stage_id in (info.stageIds if info else ()):
                try:
                    data = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 - a skipped stage never ran
                    continue
                if data.numCompleteTasks() == 0 and data.numFailedTasks() == 0:
                    continue
                out["stages"] += 1
                for accessor, name, scale in STAGE_COUNTERS:
                    out[name] += getattr(data, accessor)() * scale
        return out

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        body = dict(extra, spans=[asdict(s) for s in self.spans])
        path.write_text(json.dumps(body, indent=1))
