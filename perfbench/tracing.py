"""Measurement helpers that observe the program from outside.

- :class:`Tracer` keeps spans (name, start, end, parent, request id) in
  memory and writes them out once, at the end of a run.
- :class:`JobCounter` counts the Spark jobs one call launches, through
  the status tracker.
- :func:`dir_snapshot` / :func:`written_since` diff an index-dir listing
  to count the files and bytes one call wrote.
- :class:`TreeCpu` reads the CPU time of the whole process tree.
- :class:`ServingCpu` reads the CPU time of the processes that serve a
  search.
- :class:`RssSampler` polls the resident memory of the whole process
  tree (this process, the Spark JVM, Python workers) and keeps the peak.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile of a non-empty list, q in [0, 100]."""
    vals = sorted(values)
    rank = max(1, -(-len(vals) * q // 100))
    return vals[int(rank) - 1]


class Tracer:
    """In-memory span recorder.  Disabled, :meth:`span` costs one
    attribute test and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_req = 0
        self.req: int | None = None

    def new_request(self) -> int:
        self._next_req += 1
        self.req = self._next_req
        return self.req

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "req": self.req,
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
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_ms(self, span: dict) -> float:
        """Self time of ``span``: its duration minus the part its direct
        children cover (children run sequentially)."""
        children = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == span["id"])
        return (span["end"] - span["start"] - children) * 1000.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JobCounter:
    """Spark jobs launched by one call, from the status tracker: each
    counted call runs under its own job group."""

    def __init__(self, sc):
        self._sc = sc
        self._n = 0

    @contextlib.contextmanager
    def count(self, out: dict, key: str = "jobs"):
        self._n += 1
        group = f"perfbench-{self._n}"
        self._sc.setJobGroup(group, "perfbench counted call")
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            out[key] = len(self._sc.statusTracker().getJobIdsForGroup(group))


def dir_snapshot(root: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of every file under ``root``."""
    snap = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


def written_since(before: dict, root: str) -> tuple[int, int]:
    """(files, bytes) under ``root`` that are new or changed since
    ``before``."""
    files = nbytes = 0
    for rel, (size, mtime) in dir_snapshot(root).items():
        if before.get(rel) != (size, mtime):
            files += 1
            nbytes += size
    return files, nbytes


def _stat_fields(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name, which may
    hold spaces: field 3 of stat(5) is element 0."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(f"/proc/{entry}/stat")[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


class TreeCpu:
    """CPU seconds (user + system) used so far by this process and its
    descendants (the Spark JVM and its Python workers), including
    their reaped children.  Reads the cached process list; call
    :meth:`refresh` after processes may have started."""

    def __init__(self):
        self._tick = os.sysconf("SC_CLK_TCK")
        self.refresh()

    def refresh(self) -> None:
        self._pids = process_tree(os.getpid())

    def read(self) -> float:
        total = 0
        for pid in self._pids:
            try:
                # utime, stime, cutime, cstime: fields 14-17 of stat(5)
                total += sum(int(x) for x in _stat_fields(f"/proc/{pid}/stat")[11:15])
            except OSError:
                continue
        return total / self._tick


class ServingCpu:
    """CPU seconds of the two processes that serve a search: this
    process (the client and the engine's driver-side code) and the Spark
    JVM, leaving out the JVM's JIT compiler threads.

    Unlike :class:`TreeCpu` it ignores idle Spark Python workers, whose
    exit (and reaping) mid-loop would move CPU in or out of the total.
    The compiler threads are listed once: the JVM is started with a
    fixed number of them."""

    def __init__(self, jvm_pid: int):
        self._tick = os.sysconf("SC_CLK_TCK")
        self._jvm = jvm_pid
        self._jit = []
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            try:
                with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                    if "CompilerThre" in f.read():
                        self._jit.append(f"/proc/{jvm_pid}/task/{tid}/stat")
            except OSError:  # a thread that has just exited
                continue

    def read(self) -> tuple[float, float]:
        """(CPU seconds served so far, of which JIT compiler threads)."""
        # utime, stime: fields 14-15 of stat(5)
        jvm = sum(int(x) for x in _stat_fields(f"/proc/{self._jvm}/stat")[11:13])
        jit = sum(sum(int(x) for x in _stat_fields(p)[11:13]) for p in self._jit)
        return time.process_time() + (jvm - jit) / self._tick, jit / self._tick


class RssSampler:
    """Background thread that samples the RSS of this process tree and
    keeps the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        """Stop sampling (if started) and return the peak in bytes."""
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=10)
            self.sample()
        return self.peak_bytes


def median(values: list[float]) -> float:
    return float(statistics.median(values))
