"""Operation runner, process watchdog and span recorder.

Every timed or checked call into the program goes through :meth:`Ops.run`,
which counts it as attempted, turns an exception, a timeout or a stalled JVM
into a failed op, and (in a traced run) records it as a span.

The watchdog samples the Spark JVM and its descendants (the PySpark worker
daemon and its Python workers) from ``/proc`` once a second.  It keeps the
peak resident set sizes and flags the host's stuck-JVM regime: 1-minute load
average below 0.1 while the process tree's CPU time stays flat for
``stall_s`` seconds.  A flagged or overdue op has its Spark jobs cancelled, so
it fails instead of hanging the run.
"""
from __future__ import annotations

import os
import threading
import time
import traceback
from dataclasses import dataclass, field

OP_TIMEOUT_S = 120.0

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])  # utime + stime
    except (OSError, IndexError, ValueError):
        return 0


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class Watchdog:
    def __init__(self, spark, jvm_pid: int, stall_s: float = 10.0, period_s: float = 1.0) -> None:
        self._sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.stall_s = stall_s
        self.period_s = period_s
        self.worker_hwm = 0
        self._lock = threading.Lock()
        self._op_deadline: float | None = None
        self._op_flag: str | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-watchdog", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def begin(self, timeout_s: float) -> None:
        with self._lock:
            self._op_deadline = time.monotonic() + timeout_s
            self._op_flag = None

    def end(self) -> str | None:
        """Close the op window; returns 'timeout' or 'stalled' if flagged."""
        with self._lock:
            self._op_deadline = None
            return self._op_flag

    def tree(self) -> list[int]:
        return _tree(self.jvm_pid)

    def jvm_hwm(self) -> int:
        return _hwm_bytes(self.jvm_pid)

    def sample(self) -> int:
        """One /proc pass: update the worker peak, return tree CPU ticks."""
        pids = _tree(self.jvm_pid)
        for pid in pids[1:]:
            self.worker_hwm = max(self.worker_hwm, _hwm_bytes(pid))
        return sum(_cpu_ticks(p) for p in pids)

    def _loop(self) -> None:
        last_cpu, flat_since = -1, time.monotonic()
        while not self._stop.wait(self.period_s):
            cpu = self.sample()
            now = time.monotonic()
            if cpu != last_cpu:
                last_cpu, flat_since = cpu, now
            with self._lock:
                if self._op_deadline is None or self._op_flag is not None:
                    continue
                if now > self._op_deadline:
                    self._op_flag = "timeout"
                elif now - flat_since >= self.stall_s and os.getloadavg()[0] < 0.1:
                    self._op_flag = "stalled"
                else:
                    continue
            self._sc.cancelAllJobs()


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL what is left after the timeout."""
    import signal

    t_end = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > t_end:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            t_end = time.monotonic() + 5.0
        time.sleep(0.2)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return False


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    attrs: dict = field(default_factory=dict)


class Ops:
    """Runs operations, counts failures, and records spans when tracing."""

    def __init__(self, watchdog: Watchdog, deadline: float, trace: bool) -> None:
        self.watchdog = watchdog
        self.deadline = deadline  # monotonic time after which ops are refused
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spans: list[Span] = []
        self._next_op = 0

    def check(self, what: str, ok: bool) -> bool:
        """Count one correctness check."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check {what}")
        return ok

    def run(self, name: str, fn):
        """Run ``fn()``; returns (ok, value, wall seconds, span index)."""
        self.attempted += 1
        left = self.deadline - time.monotonic()
        if left <= 0:
            self.failed += 1
            self.failures.append(f"{name}: run deadline passed")
            return False, None, 0.0, None
        op_id = self._next_op
        self._next_op += 1
        self.watchdog.begin(min(OP_TIMEOUT_S, left))
        t0 = time.time()
        p0 = time.perf_counter()
        value, error = None, None
        try:
            value = fn()
        except Exception:  # a failed op is a result, not a crash
            error = traceback.format_exc(limit=3)
        wall = time.perf_counter() - p0
        flag = self.watchdog.end()
        if flag is not None:
            error = f"{flag} (jobs cancelled)"
        idx = None
        if self.trace:
            idx = len(self.spans)
            self.spans.append(Span(name, t0, t0 + wall, None, op_id))
        if error is not None:
            self.failed += 1
            self.failures.append(f"{name}: {error}")
            return False, None, wall, idx
        return True, value, wall, idx
