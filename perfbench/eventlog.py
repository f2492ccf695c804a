"""Fold a Spark event log into per-job-group numbers.

The traced run tags every operation with ``setJobGroup(<op id>)``; this
module reads the uncompressed, non-rolling JSON-lines log Spark writes under
``spark.eventLog.dir`` and returns, per job group: jobs started, the stage
intervals those jobs ran (for wall time not covered by any stage) and the
shuffle bytes their tasks wrote. Job counts come from the log rather than
``statusTracker()``, which keeps only the last ``spark.ui.retainedJobs``.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    stage_spans: list[tuple[float, float]] = field(default_factory=list)
    shuffle_write_bytes: int = 0


def _log_files(log_dir: str) -> list[str]:
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not p.endswith(".inprogress")]
    return sorted(files)


def fold(log_dir: str, windows: dict[str, tuple[float, float]]) -> dict[str, GroupStats]:
    """Per job group of ``windows``: jobs, stage (submit, complete) spans in
    epoch seconds, and shuffle bytes written.

    ``windows`` maps each group the benchmark set to the (start, end) epoch
    seconds of its call. A job under another group, or none, is charged to
    the window its submission falls in: a streaming query runs its
    micro-batches on its own thread under its own job group (the run id),
    and the benchmark runs one call at a time, so the window names the
    call that started it. Jobs outside every window are not counted."""
    def owner(group: str | None, submitted_ms: float) -> str | None:
        if group in windows:
            return group
        t = submitted_ms / 1000
        return next((g for g, (a, b) in windows.items() if a <= t <= b), None)

    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = owner((ev.get("Properties") or {}).get("spark.jobGroup.id"),
                                  ev.get("Submission Time", 0))
                    if group is None:
                        continue
                    groups.setdefault(group, GroupStats()).jobs += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None or "Submission Time" not in info:
                        continue
                    stats = groups[group]
                    stats.stage_spans.append(
                        (info["Submission Time"] / 1000, info["Completion Time"] / 1000)
                    )
                    for acc in info.get("Accumulables", ()):
                        if acc.get("Name") == "internal.metrics.shuffle.write.bytesWritten":
                            stats.shuffle_write_bytes += int(acc.get("Value", 0))
    return groups


def covered(spans: list[tuple[float, float]], start: float, end: float) -> float:
    """Seconds of [start, end] covered by the union of ``spans``."""
    total, cursor = 0.0, start
    for a, b in sorted(spans):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            total += b - a
            cursor = b
    return total
