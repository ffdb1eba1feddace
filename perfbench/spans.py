"""Outside-in counters for the benchmark: spans, py4j round trips,
Spark job/stage statistics per span, and a peak-memory sampler.

Nothing here is imported by the program under test. Spans wrap calls
into the program's public layer functions from the benchmark's side:

- ``Py4JCounter`` wraps ``ClientServerConnection.send_command`` (every
  driver -> JVM round trip passes through it) with a counter.
- ``Tracer`` keeps spans (name, layer, start, end, parent, run id) in
  memory. While a span is open its id is the thread's Spark job group,
  so every job the span's own code submits is attributed to it; the
  stage statistics are read back from the status store
  (``statusTracker`` + ``statusStore().lastStageAttempt``) after the
  timed region.
- ``PssSampler`` polls /proc for the proportional set size of this
  process and all its descendants (the JVM and the Python workers).
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class Py4JCounter:
    """Counts py4j round trips made by this process."""

    def __init__(self):
        self.count = 0
        self._lock = threading.Lock()
        self._orig = None

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        counter = self

        def send_command(conn, command, *args, **kwargs):
            with counter._lock:
                counter.count += 1
            return orig(conn, command, *args, **kwargs)

        self._orig = orig
        ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.clientserver import ClientServerConnection

            ClientServerConnection.send_command = self._orig
            self._orig = None


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    rpcs: int = 0
    error: str | None = None
    extra: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store. ``enabled=False`` makes ``span`` a no-op
    context (the untraced run)."""

    def __init__(self, sc, counter: Py4JCounter, run_id: str, enabled: bool):
        self.sc = sc
        self.counter = counter
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    def _group(self, sid: int | None) -> str:
        return f"pb-{self.run_id}-{sid}" if sid is not None else f"pb-{self.run_id}"

    @contextmanager
    def span(self, name: str, layer: str):
        """Time a call, count its round trips and make it the job group
        of the jobs it submits."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(next(self._ids), name, layer, self.run_id, parent, 0.0)
        self._stack.append(s)
        self.spans.append(s)
        self.sc.setJobGroup(self._group(s.sid), name)
        s.rpcs = -self.counter.count
        s.start = time.time()
        try:
            yield s
        except BaseException as e:
            s.error = f"{type(e).__name__}: {e}"[:300]
            raise
        finally:
            s.end = time.time()
            s.rpcs += self.counter.count
            self._stack.pop()
            self.sc.setJobGroup(self._group(parent), "bench")

    def record(self, name: str, layer: str, start: float, end: float, rpcs: int) -> Span:
        """A span measured by the caller (no job group: e.g. session
        creation, before any SparkContext exists)."""
        s = Span(next(self._ids), name, layer, self.run_id, None, start, end, rpcs)
        s.extra.update(jobs=0, tasks=0, failed_tasks=0, shuffle_write_bytes=0,
                       executor_cpu_s=0.0, rows_out=0, intervals=[])
        self.spans.append(s)
        return s

    # -- stage statistics --------------------------------------------------
    def stage_stats(self, group: str) -> dict:
        """Jobs/tasks/shuffle/cpu and the stage intervals of one job
        group, from the status store (call after the work)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "shuffle_write_bytes": 0,
               "executor_cpu_s": 0.0, "rows_out": 0, "intervals": []}
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage: never attempted
                    continue
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["rows_out"] += st.outputRecords()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["intervals"].append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
        return out

    def finish(self) -> None:
        """Attach stage statistics to every span that has none yet.
        Must run while the spans' SparkContext is alive."""
        for s in self.spans:
            if "jobs" not in s.extra:
                s.extra.update(self.stage_stats(self._group(s.sid)))

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "layer": s.layer, "run_id": s.run_id,
                    "parent": s.parent, "start": s.start, "end": s.end, "rpcs": s.rpcs,
                    "error": s.error, **s.extra,
                }) + "\n")


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Total length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children_map() -> dict[int, list[int]]:
    """ppid -> child pids, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read().decode("ascii", "replace")
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


class PssSampler:
    """Peak proportional set size (MB) of a process tree, sampled every
    ``interval`` seconds on a daemon thread. PSS, not RSS: pages the
    Python daemon shares with the workers it forks count once, so the
    figure does not jump with the number of idle workers alive."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="pss-sampler", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> float:
        kids = children_map()
        todo, total_kb = [self.root], 0
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                    for line in f:
                        if line.startswith(b"Pss:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                pass
            todo.extend(kids.get(pid, ()))
        mb = total_kb / 1000
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)
