"""Shared helpers: statistics, process-tree memory sampling, the environment
every system-under-test process gets, and the span recorder."""

from __future__ import annotations

import math
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager

# The tail percentile of every *_tail_ms metric, fixed once for all
# workloads. notebook_gateway keeps more than ten samples beyond it (46
# statements a run); the in-process workloads run 4-6 entries, so their
# tail is the slowest entries' wall and the report says how many lie beyond.
TAIL_PCT = 75

WORK_DIR = ".perfbench_work"


def pct(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> float:
    return pct(xs, TAIL_PCT)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def beyond_tail(n: int) -> int:
    """Samples strictly above the tail percentile's rank."""
    return n - 1 - math.floor((n - 1) * TAIL_PCT / 100.0)


# ---- memory of a process tree, sampled from outside -----------------------

def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM starts Python workers
    from threads other than its main one)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


class RssSampler:
    """Samples the resident memory of a process tree on a background thread
    and keeps the peak, until the block exits or ``until()`` turns true."""

    def __init__(self, pid: int, interval_s: float = 0.1, until=lambda: False):
        self.pid, self.interval_s, self.until = pid, interval_s, until
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set() and not self.until():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---- stopping every process a run starts ------------------------------------

def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``). PySpark's Python worker daemon moves to a
    process group of its own and outlives the JVM that started it for a
    moment; as an orphan it becomes this process's child, so
    ``stop_descendants`` can still find, stop and wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # 36: PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants(root: int) -> list[int]:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def stop_descendants(timeout_s: float = 60.0) -> None:
    """SIGKILL every descendant of this process and reap each one, until
    none is left."""
    deadline = time.time() + timeout_s
    while True:
        pids = _descendants(os.getpid())
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:  # reap the children that have ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        if not pids:
            return
        if time.time() > deadline:
            raise RuntimeError(f"processes {pids} did not end")
        time.sleep(0.05)


# ---- system-under-test processes -------------------------------------------

def sut_env(root: str, work: str, cpus: int, event_log: str | None = None,
            delay_ms: float = 0.0) -> dict[str, str]:
    """Environment for a process that runs the engine.

    ``PYTHONPATH`` points at the checkout so the engine's Python workers can
    import it from any working directory; scratch, shuffle and temp files go
    under ``work`` inside the checkout. The Spark event log is switched on
    from outside, through the submit arguments, only when ``event_log`` is
    given."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    ephemeral = os.path.join(work, "ephemeral")
    for d in (tmp, local, ephemeral):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH", "")) if p
        ),
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_GRAFT_EPHEMERAL_DIR=ephemeral,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONUNBUFFERED="1",
        TZ="UTC",
        # a 4 GB driver heap keeps the footprint small on a shared host
        SPARK_DRIVER_MEMORY="4g",
        PERFBENCH_DELAY_MS=str(delay_ms),
    )
    confs = [f"--conf spark.local.dir={local}"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{os.path.abspath(event_log)}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(confs + ["pyspark-shell"])
    return env


# ---- spans -----------------------------------------------------------------

class Tracer:
    """In-memory span recorder. A span is (id, parent, name, start, end,
    stmt, attrs); the parent is the innermost open span on the same thread.
    Spans stay in memory; the process writes them out when it ends."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, stmt: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            self._next += 1
            sid = self._next
        sp = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "name": name,
            "stmt": stmt if stmt is not None else (parent or {}).get("stmt"),
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        st.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            st.pop()
            with self._lock:
                self.spans.append(sp)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (children are merged, so overlapping
    children are not subtracted twice)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def covered_wall(spans: list[dict], lo: float, hi: float) -> float:
    """Length of the union of the given spans' intervals, clipped to
    [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for s in sorted(spans, key=lambda s: s["start"]):
        a, b = max(s["start"], lo), min(s["end"], hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
