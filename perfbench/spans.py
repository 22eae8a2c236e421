"""In-memory spans and a process-tree memory sampler for the benchmark.

Spans are recorded only in a traced run, kept in memory, and written out
once at the end.  Each span has a name, start/end (``perf_counter`` seconds),
the id of the span that caused it and the id of the trace (one workload
phase) it belongs to.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "trace": trace,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _children(pid: int) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided among
    the processes sharing it, so forked Python workers are not counted once
    per fork for the pages they share with their parent."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # exited while sampled
    return 0


def process_tree(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root`` and its descendants, minus the subtrees rooted at ``exclude``."""
    kids = _children(root)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in exclude:
            tree.append(pid)
            todo.extend(kids.get(pid, []))
    return tree


def tree_pss_mb(root: int, exclude: set[int]) -> float:
    """Memory of ``root`` and its descendants (this process, the JVM and its
    Python workers), minus the subtrees rooted at ``exclude`` (the load
    generator is not part of the engine)."""
    return sum(_pss_kb(pid) for pid in process_tree(root, exclude)) / 1024.0


class PeakMemory:
    """Samples :func:`tree_pss_mb` of this process every ``interval`` seconds
    on a background thread; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval):
                return

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_pss_mb(os.getpid(), self.exclude))

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
