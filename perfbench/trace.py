"""Spans, layer wrappers, Spark event-log attribution and /proc sampling.

Nothing here edits the program: a traced run replaces the public
functions and methods of each layer module with wrappers, from the
benchmark's side, and puts the originals back when it ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import threading
import time
from dataclasses import dataclass

# layer name -> modules whose public functions and methods are wrapped
LAYERS = {
    "codec": ["crawlspark.codec"],
    "fetch": ["crawlspark.fetch"],
    "snaptable": ["crawlspark.snaptable"],
    "engine": ["crawlspark.engine"],
    "urlseen": ["crawlspark.urlseen"],
    "politeness": ["crawlspark.politeness"],
    "ops": [
        "crawlspark.ops.dedup",
        "crawlspark.ops.imageops",
        "crawlspark.ops.similarity",
        "crawlspark.ops.relational",
        "crawlspark.ops.crawlops",
        "crawlspark.ops.text",
        "crawlspark.ops.multimodal",
    ],
}


# ------------------------------------------------------------ intervals
def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


# ---------------------------------------------------------------- spans
@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float | None
    parent: int | None
    thread: int
    run_id: str


class Tracer:
    """In-memory span recorder. A span opened on a thread with no open
    span of its own (a worker of the engine's round thread pool) takes
    the innermost open span of the thread that opened the trace as its
    parent, so round self time subtracts work fanned out to workers."""

    def __init__(self, run_id: str, sc=None) -> None:
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span:
        st = self._stack()
        if st:
            parent = st[-1].sid
        else:
            main = self._main_stack
            parent = main[-1].sid if main else None
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), None, parent,
                      threading.get_ident(), self.run_id)
            self.spans.append(sp)
        st.append(sp)
        if self.sc is not None:
            self.sc.setJobDescription(name)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        st.pop()
        if self.sc is not None:
            self.sc.setJobDescription(st[-1].name if st else None)

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    # ------------------------------------------------------- wrapping
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return wrapper

    def instrument(self) -> None:
        """Wrap every public function and method of the LAYERS modules,
        including the names other crawlspark modules imported them as."""
        import sys

        originals: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for mname in mods:
                mod = importlib.import_module(mname)
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(obj, "__module__", None) != mname:
                        continue
                    if inspect.isfunction(obj):
                        w = self._wrap(obj, f"{layer}.{attr}")
                        originals[id(obj)] = w
                        self._set(mod, attr, w)
                    elif inspect.isclass(obj):
                        for mattr, m in list(vars(obj).items()):
                            if mattr.startswith("_") or not inspect.isfunction(m):
                                continue
                            self._set(obj, mattr, self._wrap(m, f"{layer}.{attr}.{mattr}"))
        # rebind `from .fetch import fetch_images`-style aliases
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("crawlspark") or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and getattr(mod, attr) is not w:
                    self._set(mod, attr, w)

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -------------------------------------------------------- queries
    def closed(self, prefix: str = "") -> list[Span]:
        return [s for s in self.spans if s.end is not None and s.name.startswith(prefix)]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid and s.end is not None]

    def span_self_time(self, sp: Span) -> float:
        return self_time(sp.start, sp.end, [(c.start, c.end) for c in self.children(sp)])

    def busy(self, suffix: str) -> float:
        """Summed duration of the outermost spans whose name ends with
        ``suffix`` (a nested span with the same suffix counts once)."""
        by_id = {s.sid: s for s in self.spans}
        total = 0.0
        for s in self.closed():
            if not s.name.endswith(suffix):
                continue
            p = s.parent
            while p is not None and not by_id[p].name.endswith(suffix):
                p = by_id[p].parent
            if p is None:
                total += s.end - s.start
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "thread": s.thread, "run_id": s.run_id,
                }) + "\n")


# ------------------------------------------------------------ event log
@dataclass
class JobStats:
    description: str
    submitted: float  # epoch seconds
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_bytes: int = 0
    shuffle_records: int = 0
    bytes_written: int = 0
    rows_written: int = 0


def read_event_log(log_dir: str) -> list[JobStats]:
    """Per-job task metrics from an uncompressed Spark event log."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = JobStats(
                        props.get("spark.job.description") or "",
                        ev.get("Submission Time", 0) / 1000.0,
                    )
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if j is None:
                        continue
                    j.tasks += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        j.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    j.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
                    j.shuffle_records += sw.get("Shuffle Records Written", 0)
                    out = m.get("Output Metrics") or {}
                    j.bytes_written += out.get("Bytes Written", 0)
                    j.rows_written += out.get("Records Written", 0)
    return list(jobs.values())


# ----------------------------------------------------------------- /proc
def _tree(root: int) -> dict[int, int]:
    """pid -> parent pid for ``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = {root: 0}, [root]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out[c] = p
            todo.append(c)
    return out


def tree_pids(root: int) -> list[int]:
    return list(_tree(root))


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of the live process tree. The JVM starts helper
    processes with posix_spawn; between clone and exec such a child
    still runs the JVM's executable and shares all of its pages, so a
    child running its parent's java executable is not counted again."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p, parent in _tree(root).items():
        exe = _exe(p)
        if exe and os.path.basename(exe) == "java" and exe == _exe(parent):
            continue
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the live process tree."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


class RssSampler:
    """Samples the summed RSS of this process tree until stopped."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
