"""Per-layer spans, recorded from outside the program.

``Tracer.wrap(owner, attr, name)`` replaces one public function in the
namespace its caller looks it up in (for example ``plans.pipeline`` for
``write_wide_csvs_bulk``) with a wrapper that times the call and sets a
Spark job group for its duration. After a pass, ``collect()`` asks
``statusTracker`` for each span's jobs and the status store for their
stages, so every job is charged to the innermost span that launched it.

Lazy frames run inside whichever call triggers their action: a span's
job metrics are the work its own actions ran, not the work its code
planned.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

STATS = (
    "calls", "wall_s", "self_s", "jobs", "stages", "tasks", "exec_run_s",
    "exec_cpu_s", "shuffle_bytes", "spill_bytes", "driver_gap_s",
)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start_ms, end_ms] intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.stats: dict[str, dict[str, float]] = {}
        self._stack: list[dict] = []
        self._done: list[dict] = []  # closed spans awaiting job metrics
        self._patches: list[tuple] = []
        self._seq = 0

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _set_group(self, frame: dict | None) -> None:
        if frame is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(frame["group"], frame["name"])

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        frame = {"name": name, "group": f"perfbench-{self._seq}", "child_s": 0.0}
        parent = self._stack[-1] if self._stack else None
        self._stack.append(frame)
        self._set_group(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self._stack.pop()
            self._set_group(parent)
            if parent is not None:
                parent["child_s"] += wall
            frame["wall_s"] = wall
            frame["self_s"] = wall - frame["child_s"]
            self._done.append(frame)

    def add(self, name: str, stat: str, value: float) -> None:
        s = self.stats.setdefault(name, dict.fromkeys(STATS, 0))
        s[stat] += value

    def collect(self, timeout_s: float = 10.0) -> None:
        """Fold closed spans and their jobs' stage metrics into ``stats``.

        The status store is fed by the listener bus, which runs behind the
        actions; wait until every job of the spans has completed there."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        deadline = time.monotonic() + timeout_s
        for frame in self._done:
            name = frame["name"]
            self.add(name, "calls", 1)
            self.add(name, "wall_s", frame["wall_s"])
            self.add(name, "self_s", frame["self_s"])
            intervals = []
            for jid in tracker.getJobIdsForGroup(frame["group"]):
                job = store.job(jid)
                while job.completionTime().isEmpty() and time.monotonic() < deadline:
                    time.sleep(0.05)
                    job = store.job(jid)
                if job.completionTime().isEmpty() or job.submissionTime().isEmpty():
                    continue
                intervals.append((
                    job.submissionTime().get().getTime(),
                    job.completionTime().get().getTime(),
                ))
                self.add(name, "jobs", 1)
                for sid in tracker.getJobInfo(jid).stageIds:
                    self._add_stage(name, store, sid)
            self.add(name, "driver_gap_s", frame["self_s"] - _union_s(intervals))
        self._done.clear()

    def _add_stage(self, name: str, store, sid: int) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never attempted (skipped, or evicted)
            return
        if st.status().toString() != "COMPLETE":
            return  # skipped: its shuffle output was reused
        self.add(name, "stages", 1)
        self.add(name, "tasks", st.numCompleteTasks())
        self.add(name, "exec_run_s", st.executorRunTime() / 1e3)
        self.add(name, "exec_cpu_s", st.executorCpuTime() / 1e9)
        self.add(
            name, "shuffle_bytes", st.shuffleReadBytes() + st.shuffleWriteBytes()
        )
        self.add(
            name, "spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled()
        )
