"""Span tracing for the traced run.

Spans are recorded around calls into the program's public entry points by
wrapping them from here (``instrument``); nothing inside the package is
changed. Each span has a name, start, end, parent and an operation ID
shared by every span of one operation. Spans stay in memory and are
written out once, at the end of the run.

Every span runs its Spark jobs under its own job group, so the status
store (``sc._jsc.sc().statusStore()``, which works with the UI off) can
attach jobs, stages, tasks, executor time, shuffle and spill bytes to the
innermost span that launched them.

A request served by ``KVService`` runs on a server thread, not on the
client's. The client span records its socket address while it waits; the
server thread learns its peer address from ``process_request_thread``,
so the store spans it opens get the client span as parent.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import socketserver
import threading
import time

_NULL = contextlib.nullcontext({})

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    """Records spans when enabled; a disabled tracer costs one attribute
    check per ``span`` call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._peers: dict = {}  # client socket address -> open client span
        self._undo: list = []
        self.sc = None

    def attach(self, sc) -> None:
        """Tag Spark jobs with span job groups from now on."""
        self.sc = sc

    def span(self, name: str, jobs: bool = True, **attrs):
        """Context manager recording one span. ``jobs=False`` marks a span
        whose own code runs no Spark jobs (client-side spans), which skips
        its two job-group calls into the JVM."""
        if not self.enabled:
            return _NULL
        return self._span(name, jobs, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, jobs: bool, attrs: dict):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        if stack:
            parent = stack[-1]
        else:
            parent = self._peers.get(getattr(self._local, "peer", None))
        rec = {
            "id": sid,
            "op": parent["op"] if parent else sid,
            "parent": parent["id"] if parent else None,
            "name": name,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(),
            "end": None,
            "group": f"pb-{sid}" if jobs and self.sc is not None else None,
            **attrs,
        }
        if rec["group"]:
            self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if rec["group"]:
                # hand the thread back to the nearest enclosing group
                outer = next((s["group"] for s in reversed(stack) if s["group"]), None)
                self.sc.setLocalProperty("spark.jobGroup.id", outer)
            with self._lock:
                self.spans.append(rec)

    # ------------------------------------------------------ instrumentation
    def instrument(self, cls, method: str, name: str, result=None) -> None:
        """Wrap ``cls.method`` in a span; ``result(value)`` may return extra
        span attributes computed from the return value."""
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if result is not None:
                    rec.update(result(out))
                return out

        setattr(cls, method, wrapper)
        self._undo.append((cls, method, orig))

    def instrument_client(self, cls, method: str, name: str) -> None:
        """Like ``instrument``, and publish the span under the client's
        socket address so the server thread can find its parent."""
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def wrapper(client, *args, **kwargs):
            if client._sock is None:
                client._connect()
            addr = client._sock.getsockname()[:2]
            with tracer.span(name, jobs=False) as rec:
                tracer._peers[addr] = rec
                try:
                    return orig(client, *args, **kwargs)
                finally:
                    tracer._peers.pop(addr, None)

        setattr(cls, method, wrapper)
        self._undo.append((cls, method, orig))

    def instrument_server_threads(self) -> None:
        """Record each server thread's peer address for parent lookup."""
        orig = socketserver.ThreadingMixIn.process_request_thread
        local = self._local

        def wrapper(server, request, client_address):
            local.peer = tuple(client_address[:2])
            return orig(server, request, client_address)

        socketserver.ThreadingMixIn.process_request_thread = wrapper
        self._undo.append((socketserver.ThreadingMixIn, "process_request_thread", orig))

    def uninstrument(self) -> None:
        while self._undo:
            cls, method, orig = self._undo.pop()
            setattr(cls, method, orig)

    # ------------------------------------------------------------ counters
    def collect_spark_counters(self) -> None:
        """Attach status-store counters to every span (its own jobs only)."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if not rec["group"]:
                continue
            c = dict.fromkeys(COUNTERS, 0)
            c["job_names"] = []
            seen: set = set()
            for job_id in sorted(tracker.getJobIdsForGroup(rec["group"])):
                c["jobs"] += 1
                job = store.job(job_id)
                c["job_names"].append(f"{job_id}:{job.name()}:{job.status()}")
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    sid = stage_ids.apply(i)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numTasks()
                    c["executor_run_s"] += sd.executorRunTime() / 1e3
                    c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            rec["spark"] = c


def self_times(spans: list) -> None:
    """Set ``self_s`` on every span: its duration minus the part of its
    interval that its child spans cover (children on any thread)."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            a, b = max(c["start"], lo), min(c["end"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        s["self_s"] = (hi - lo) - covered


def inclusive(spans: list, key: str) -> dict:
    """span id -> counter ``key`` summed over the span and its descendants."""
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    memo: dict = {}

    def total(s):
        if s["id"] not in memo:
            own = s.get("spark", {}).get(key, 0)
            memo[s["id"]] = own + sum(total(c) for c in by_parent.get(s["id"], ()))
        return memo[s["id"]]

    return {s["id"]: total(s) for s in spans}
