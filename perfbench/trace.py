"""Tracing for the benchmark, measured from outside the engine package.

- ``Phases`` records the wall-clock span of every call the benchmark makes
  (one query's build call, its execution, one lifecycle call) and, when
  tracing, tags the Spark jobs the call submits with ``setJobGroup``.
- ``fold_event_log`` reads the Spark event log of a traced run and folds
  jobs, stages, task metrics, SQL metrics of the pandas-UDF nodes and the
  streaming progress events into per-phase records. Jobs that run on a
  stream's own thread carry that stream's job group, not the caller's, so
  jobs are attributed to the phase whose wall-clock span holds their
  submission time when their group names no phase.
- ``TimedCatalog`` and ``TimedRegistry`` wrap the objects injected into the
  engine and time the calls made on them, delegating unchanged.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Phase:
    id: str
    kind: str  # "build", "exec" or a lifecycle call name
    name: str  # query name or lifecycle call name
    start_ms: float
    end_ms: float = 0.0

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Phases:
    """Ordered record of the benchmark's calls, tagging their jobs when
    ``spark_context`` is given."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.items: list[Phase] = []

    def start(self, kind: str, name: str) -> Phase:
        ph = Phase(f"pb{len(self.items)}:{kind}:{name}", kind, name, time.time() * 1000)
        if self.sc is not None:
            self.sc.setJobGroup(ph.id, ph.id)
        self.items.append(ph)
        return ph

    def end(self, ph: Phase) -> float:
        ph.end_ms = time.time() * 1000
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return ph.wall_s


@dataclass
class Fold:
    """What the event log says about one phase."""

    jobs: int = 0
    stages: int = 0
    job_spans: list = field(default_factory=list)
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_sent: int = 0
    python_returned: int = 0
    # (stage wall s, longest task s) per completed stage
    stage_walls: list = field(default_factory=list)
    progress: list = field(default_factory=list)

    def driver_s(self, phase: Phase) -> float:
        """Phase wall time minus the part covered by its Spark jobs."""
        spans = sorted(
            (max(a, phase.start_ms), min(b, phase.end_ms)) for a, b in self.job_spans
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return max(0.0, phase.wall_s - covered / 1000.0)


def max_task_share(stage_walls: list) -> float:
    """Longest task of the slowest stage divided by that stage's wall time,
    from ``(stage wall s, longest task s)`` pairs."""
    wall, longest = max(stage_walls, default=(0.0, 0.0))
    return longest / wall if wall > 0 else 0.0


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def read_events(log_dir: str) -> list[dict]:
    """All events of the (single) application log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    with open(files[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def fold_event_log(events: list[dict], phases: list[Phase]) -> dict[str, Fold]:
    """Fold events into one ``Fold`` per phase id."""
    by_id = {p.id: p for p in phases}
    spans = sorted((p.start_ms, p.end_ms, p.id) for p in phases)
    folds = {p.id: Fold() for p in phases}

    def at(ms: float) -> str | None:
        for a, b, pid in spans:
            if a <= ms <= b:
                return pid
        return None

    job_phase, job_start, stage_phase, stage_tasks = {}, {}, {}, {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            pid = group if group in by_id else at(ev["Submission Time"])
            if pid is None:
                continue
            job_phase[ev["Job ID"]] = pid
            job_start[ev["Job ID"]] = ev["Submission Time"]
            folds[pid].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_phase[sid] = pid
        elif kind == "SparkListenerJobEnd":
            pid = job_phase.get(ev["Job ID"])
            if pid is not None:
                folds[pid].job_spans.append((job_start[ev["Job ID"]], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            pid = stage_phase.get(ev["Stage ID"])
            if pid is None:
                continue
            f, info = folds[pid], ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            f.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            f.gc_s += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            f.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            f.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            f.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PY_SENT:
                    f.python_sent += _int(acc.get("Update"))
                elif acc.get("Name") == PY_RETURNED:
                    f.python_returned += _int(acc.get("Update"))
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            stage_tasks[key] = max(stage_tasks.get(key, 0.0), dur)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            pid = stage_phase.get(si["Stage ID"])
            if pid is None or "Completion Time" not in si:
                continue
            folds[pid].stages += 1
            wall = (si["Completion Time"] - si.get("Submission Time", si["Completion Time"])) / 1000.0
            longest = stage_tasks.get((si["Stage ID"], si.get("Stage Attempt ID", 0)), 0.0)
            folds[pid].stage_walls.append((wall, longest))
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            progress = ev["progress"]
            pid = at(_progress_ms(progress))
            if pid is not None:
                folds[pid].progress.append(progress)
    return folds


def _progress_ms(progress: dict) -> float:
    """Epoch ms of a progress event's trigger start."""
    from datetime import datetime

    ts = progress["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp() * 1000


class _Timed:
    """Delegates every attribute to ``inner``; calls to the named methods
    are timed into ``self.calls[name]`` (seconds per call)."""

    TIMED: tuple[str, ...] = ()

    def __init__(self, inner):
        self._inner = inner
        self._lock = threading.Lock()
        self.calls: dict[str, list[float]] = {m: [] for m in self.TIMED}

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name not in self.TIMED:
            return attr

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return attr(*args, **kwargs)
            finally:
                with self._lock:
                    self.calls[name].append(time.perf_counter() - t0)

        return timed


class TimedCatalog(_Timed):
    TIMED = ("append_raw", "overwrite_current", "append_batch_partition", "append_stats")


class TimedRegistry(_Timed):
    TIMED = ("log", "load")
