"""Memory and disk measured from outside the program, through ``/proc`` and
the filesystem: no engine code is asked for its own numbers."""

from __future__ import annotations

import os
import threading


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the parent pid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class PeakRss:
    """Peak over time of the summed ``VmHWM`` of this process and its live
    descendants (driver JVM, Python workers, stub server). A background
    thread samples every ``interval`` seconds; a worker that has exited no
    longer counts, so workers the engine restarts are not added up."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kb = sum(_status_kb(pid, "VmHWM") for pid in descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024


def tree_usage(*roots: str) -> tuple[int, int]:
    """(bytes, files) under the given directories, symlinks not followed."""
    total = files = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for name in names:
                try:
                    total += os.lstat(os.path.join(dirpath, name)).st_size
                except OSError:
                    continue
                files += 1
    return total, files
