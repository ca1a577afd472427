"""CPU time and memory of a process tree, read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return text[text.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int], with_children: bool = True) -> float:
    """User plus system CPU of ``pids``; with ``with_children`` also the
    CPU of their exited, reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat(pid)
        if fields:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            ticks += int(fields[11]) + int(fields[12])
            if with_children:
                ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


def pss_bytes(pids: list[int]) -> int:
    """Proportional set size of ``pids``: resident memory with each
    shared page split among the processes that map it, so forked Python
    workers do not count their parent's pages again."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


def find_jvm(root: int) -> int | None:
    """The first java process below ``root`` (the Spark driver JVM)."""
    for pid in descendants(root)[1:]:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            return pid
    return None


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for base, _, names in os.walk(path):
        for name in names:
            try:
                size += os.lstat(os.path.join(base, name)).st_size
                files += 1
            except OSError:
                pass
    return files, size


class PeakMemory:
    """Samples the proportional set size of a process tree on a thread
    and keeps the highest sum seen."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-memory", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak = max(self.peak, pss_bytes(descendants(self.root)))

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
