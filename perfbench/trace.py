"""In-memory span recorder that wraps the engine's public functions
from outside, plus the /proc probes (memory, CPU) and Spark job
accounting the benchmark reports.

Spans wrap attributes on classes and modules, so calls the engine makes
to its own public methods (``self.read_corpus()`` inside ``search``)
are recorded too. Nothing is written until ``Tracer.dump``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans {name, start, end, parent, call}. ``parent`` is the
    index of the enclosing span; ``call`` is the id of the benchmark
    call the span belongs to. Single-threaded: the benchmark drives the
    engine from one thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.call = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None,
                           "parent": self._stack[-1] if self._stack
                           else None,
                           "call": self.call})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper (a
        classmethod stays a classmethod). No-op when disabled."""
        if not self.enabled:
            return
        raw = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        if isinstance(raw, classmethod):
            new = classmethod(self._wrap(raw.__func__, name))
        else:
            new = self._wrap(raw, name)
        self._patched.append((owner, attr, raw))
        setattr(owner, attr, new)

    def unpatch(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s}) + "\n")


# ------------------------------------------------------------ /proc
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def is_running(pid: int) -> bool:
    """False once ``pid`` has exited (gone or a zombie)."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def process_tree() -> list[int]:
    """This process and all its live descendants (the JVM and the
    Python workers it forks)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_seconds() -> float:
    """User + system CPU of the process tree, including children that
    have already exited and been reaped."""
    total = 0
    for p in process_tree():
        f = _stat_fields(p)
        if f is not None:
            # utime stime cutime cstime: fields 14-17 (1-based)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def cpu_ticks() -> dict:
    """Machine-wide CPU time by state from /proc/stat (the first line),
    in clock ticks: time taken by other guests shows as ``steal``."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    names = ("user", "nice", "system", "idle", "iowait", "irq",
             "softirq", "steal")
    return dict(zip(names, f))


def tree_rss_bytes() -> int:
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread keeping the peak summed RSS of the tree,
    sampled every 0.2 s."""

    PERIOD_S = 0.2

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())


# ------------------------------------------------------------ Spark
# job and stage records the status store keeps: enough for every call
# of a traced run, so none is evicted before it is counted
RETAINED = 100_000


def drain_listener_bus(sc, timeout_ms: int = 60_000) -> None:
    """Block until every event posted so far has reached the status
    store (job and stage ends included)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def job_counts(sc, group: str) -> dict:
    """Jobs, tasks run and tasks failed for one job group, from the
    status tracker (tasks of skipped stages are not counted). Call it
    after ``drain_listener_bus``."""
    tracker = sc.statusTracker()
    jobs = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            raise RuntimeError(f"job {jid} of group {group} is no "
                               f"longer in the status store")
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
    return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}
