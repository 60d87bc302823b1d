"""In-memory spans around the benchmark's calls into each layer.

Each span records name, start, end, parent span and run id. Spans that run
Spark jobs tag them with a job group, so the public ``statusTracker()``
yields stage and task counts per span once the run is over."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from .stats import Span, self_times


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.groups: dict[int, str] = {}  # span_id → Spark job group
        self._stack: list[int] = []
        self._next_id = 0
        self.sc = None  # set once a SparkContext exists

    @contextmanager
    def span(self, name: str):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        if self.sc is not None:
            self.groups[sid] = f"perfbench-{self.run_id}-{sid}"
            self.sc.setJobGroup(self.groups[sid], name)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                outer = next((self.groups[s] for s in reversed(self._stack) if s in self.groups), None)
                self.sc.setLocalProperty("spark.jobGroup.id", outer)
            self.spans.append(Span(sid, parent, name, start, end, self.run_id))

    def last(self, name: str) -> Span:
        return next(s for s in reversed(self.spans) if s.name == name)

    def _own_counts(self, timeout: float = 10.0) -> dict[int, dict[str, int]]:
        """Stage/task counts of the jobs each span itself launched. Job end
        events reach the status store asynchronously, so wait until no
        tagged job is still running."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        while True:
            counts, pending = {}, False
            for sid, group in self.groups.items():
                c = {"stages": 0, "tasks": 0, "tasks_failed": 0}
                for jid in tracker.getJobIdsForGroup(group):
                    job = tracker.getJobInfo(jid)
                    if job is None:
                        continue
                    pending |= job.status not in ("SUCCEEDED", "FAILED")
                    for stage_id in job.stageIds:
                        st = tracker.getStageInfo(stage_id)
                        if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                            continue  # skipped stage
                        pending |= st.numActiveTasks > 0
                        c["stages"] += 1
                        c["tasks"] += st.numCompletedTasks
                        c["tasks_failed"] += st.numFailedTasks
                counts[sid] = c
            if not pending or time.monotonic() > deadline:
                return counts
            time.sleep(0.1)

    def spark_counts(self) -> dict[int, dict[str, int]]:
        """span_id → stage/task counts of the span and its descendants."""
        own = self._own_counts() if self.sc is not None and self.groups else {}
        zero = {"stages": 0, "tasks": 0, "tasks_failed": 0}
        total = {s.span_id: dict(own.get(s.span_id, zero)) for s in self.spans}
        parent = {s.span_id: s.parent_id for s in self.spans}
        for sid, c in own.items():
            p = parent.get(sid)
            while p is not None:
                for k in zero:
                    total[p][k] += c[k]
                p = parent.get(p)
        return total

    def write(self, path: str, extra: dict, counts: dict[int, dict[str, int]]) -> None:
        """Write every span with its self time and ``counts`` (from
        ``spark_counts``; spans missing there count zero) as JSON."""
        selfs = self_times(self.spans)
        zero = {"stages": 0, "tasks": 0, "tasks_failed": 0}
        spans = [
            {
                "id": s.span_id,
                "parent": s.parent_id,
                "name": s.name,
                "run_id": s.run_id,
                "start": s.start,
                "end": s.end,
                "duration_s": s.duration,
                "self_s": selfs[s.span_id],
                **counts.get(s.span_id, zero),
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": spans}, f, indent=1)
        os.replace(tmp, path)
