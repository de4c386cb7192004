"""Per-layer tracing from outside the program.

Two sources:

- ``Spans``: wrappers installed around the public functions the catalog
  layer exposes (the ``Warehouse`` listing and write methods).  Every
  call records ``(layer, start, end)``; write calls also record the files
  and bytes they left under the table's directory.  Installed for the
  whole of a traced run, and for the untimed collect pass of
  ``registry_mix`` (its stored bytes).
- ``fold_event_log``: reads a Spark event log (JSON lines, uncompressed)
  and attributes jobs, stages and tasks to benchmark steps by time: a job
  belongs to the step whose wall-clock window contains its submission
  time, a stage or task to the window containing its own start.  Job
  groups are not used because jobs submitted from plain
  ``ThreadPoolExecutor`` threads do not inherit the caller's group.
"""

from __future__ import annotations

import inspect
import json
import time
from dataclasses import dataclass, field
from pathlib import Path

from .measure import files_since

LIST_METHODS = ("latest_partition", "exists")
WRITE_METHODS = ("append", "overwrite_partitions", "overwrite_table",
                 "write_bucketed", "write_version")


@dataclass
class Span:
    layer: str
    start: float  # time.time() seconds
    end: float
    files: int = 0
    bytes: int = 0


@dataclass
class Spans:
    """Records spans from wrapped functions; ``uninstall`` restores them."""

    spans: list[Span] = field(default_factory=list)
    _undo: list = field(default_factory=list)

    def _wrap(self, owner, attr: str, layer: str, meter_writes: bool = False):
        orig = getattr(owner, attr)
        sig = inspect.signature(orig)
        spans = self.spans

        def wrapper(*args, **kwargs):
            t0, t0_ns = time.time(), time.time_ns()
            try:
                return orig(*args, **kwargs)
            finally:
                span = Span(layer, t0, time.time())
                if meter_writes:
                    a = sig.bind(*args, **kwargs).arguments
                    root = Path(a["self"].path(a["layer"], a["table"]))
                    if root.exists():
                        span.files, span.bytes = files_since(root, t0_ns)
                spans.append(span)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install_catalog(self) -> None:
        from bigdata_scala_offline_data_clean_spark.sources.catalog import Warehouse

        for m in LIST_METHODS:
            self._wrap(Warehouse, m, "catalog.list")
        for m in WRITE_METHODS:
            self._wrap(Warehouse, m, "catalog.write", meter_writes=True)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def within(self, layer: str, start: float, end: float) -> list[Span]:
        return [s for s in self.spans
                if s.layer == layer and start <= s.start and s.end <= end]


# ---------------------------------------------------------------------------
# Event-log folding
# ---------------------------------------------------------------------------


@dataclass
class StepFold:
    jobs: int = 0
    stages: int = 0
    stages_listed: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    job_busy_s: float = 0.0  # union of the step's job spans, clipped to it


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _step_of(windows: list[tuple[float, float]], t: float) -> int | None:
    for i, (s, e) in enumerate(windows):
        if s <= t <= e:
            return i
    return None


def fold_event_log(lines, windows: list[tuple[float, float]]) -> list[StepFold]:
    """Fold event-log JSON lines into one ``StepFold`` per window.

    ``windows`` are ``(start, end)`` in epoch seconds; event times are
    epoch milliseconds.  Events outside every window are ignored.
    """
    folds = [StepFold() for _ in windows]
    jobs: dict[int, dict] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "submit": ev["Submission Time"] / 1000.0,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            t = info.get("Submission Time")
            if t is not None:
                stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = t / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if key not in stage_submit and info.get("Submission Time") is not None:
                stage_submit[key] = info["Submission Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            ti = ev.get("Task Info", {})
            i = _step_of(windows, ti.get("Launch Time", 0) / 1000.0)
            if i is None:
                continue
            f = folds[i]
            f.tasks += 1
            reason = ev.get("Task End Reason", {}).get("Reason", "Success")
            if ti.get("Failed") or reason != "Success":
                f.tasks_failed += 1
            m = ev.get("Task Metrics") or {}
            f.run_s += m.get("Executor Run Time", 0) / 1000.0
            f.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics", {})
            f.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            f.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            f.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    submitted_by_stage: dict[int, list[float]] = {}
    for (sid, _), t in stage_submit.items():
        submitted_by_stage.setdefault(sid, []).append(t)
        i = _step_of(windows, t)
        if i is not None:
            folds[i].stages += 1

    spans: list[list[tuple[float, float]]] = [[] for _ in windows]
    for job in jobs.values():
        i = _step_of(windows, job["submit"])
        if i is None:
            continue
        f = folds[i]
        f.jobs += 1
        end = job.get("end", windows[i][1])
        spans[i].append((max(job["submit"], windows[i][0]), min(end, windows[i][1])))
        for sid in job["stages"]:
            f.stages_listed += 1
            ran = any(job["submit"] <= t <= end for t in submitted_by_stage.get(sid, ()))
            if not ran:
                f.stages_skipped += 1
    for f, sp in zip(folds, spans):
        f.job_busy_s = _union_length(sp)
    return folds


def read_event_log(directory: Path) -> list[str]:
    """Lines of the single application log Spark wrote under ``directory``."""
    logs = [p for p in directory.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {len(logs)}")
    return logs[0].read_text().splitlines()


def event_log_conf(directory: Path) -> dict[str, str]:
    """Session confs that switch the event log on (uncompressed: Spark 4.1
    defaults to zstd, which Python here cannot decode)."""
    directory.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": directory.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",  # one plain file per app
    }


def spark_layer_metrics(folds: list[StepFold], walls: list[float]) -> dict[str, float]:
    """Per-step means of the folded event log, plus waste ratios."""
    n = max(len(folds), 1)
    listed = sum(f.stages_listed for f in folds)
    run = sum(f.run_s for f in folds)
    cpu = sum(f.cpu_s for f in folds)
    return {
        "spark.jobs_per_step": sum(f.jobs for f in folds) / n,
        "spark.stages_per_step": sum(f.stages for f in folds) / n,
        "spark.tasks_per_step": sum(f.tasks for f in folds) / n,
        "spark.driver_gap_s": sum(
            max(0.0, w - f.job_busy_s) for f, w in zip(folds, walls)
        ) / n,
        "spark.executor_run_s": run / n,
        "spark.executor_cpu_s": cpu / n,
        "spark.python_wait_s": max(0.0, run - cpu) / n,
        "spark.shuffle_read_bytes": sum(f.shuffle_read for f in folds) / n,
        "spark.shuffle_write_bytes": sum(f.shuffle_write for f in folds) / n,
        "spark.spill_bytes": sum(f.spill for f in folds) / n,
        "spark.tasks_failed": float(sum(f.tasks_failed for f in folds)),
        "spark.stages_skipped_ratio": (
            sum(f.stages_skipped for f in folds) / listed if listed else 0.0
        ),
    }
