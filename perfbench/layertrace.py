"""Per-layer tracing from outside the program.

Spans are recorded around the calls into each layer's public functions
(name, start, end, parent), kept in memory and written out when the run
ends. Spark work is attributed to layers through the job group: every
wrapper sets a Spark job group named after its layer, and the Spark
event log (enabled through ``get_spark(extra_conf=...)``) is read back
after the session stops to sum stage and task metrics per group.

Two kinds of span:

* a *scoped* span (``Tracer.span``) covers exactly its call and restores
  the caller's job group on exit;
* a *sticky* span (``Tracer.sticky``) stays open after the
  wrapped call returns, until the next span under the same parent
  starts or the parent ends. The engine's operators return lazy
  DataFrames that Spark executes at the next barrier, so the work an
  operator defines runs after it returns; the sticky span (and its job
  group) keeps covering it until the next operator is entered.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    # seconds the tracer spent setting and restoring this span's job
    # group; kept outside [start, end] where the span is scoped
    overhead: float = 0.0


@dataclass
class _Frame:
    span: int
    entry_group: str | None
    sticky_child: int | None = None


class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job
    group each span sets; ``None`` records spans without job groups
    (used by the benchmark's own tests).

    The current job group is tracked per thread on the Python side (the
    program itself sets none), so a span that sets no group makes no
    call into the JVM, and one that does makes one call on entry and one
    on exit."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    # --- job group ---------------------------------------------------

    def _group(self) -> str | None:
        return getattr(self._local, "group", None)

    def _set_group(self, group: str | None) -> float:
        """Make ``group`` this thread's job group; returns the seconds
        the JVM call took."""
        self._local.group = group
        if self.sc is None:
            return 0.0
        t0 = time.perf_counter()
        if group is None:
            self.sc.setLocalProperty(GROUP_KEY, None)
        else:
            self.sc.setJobGroup(group, group)
        return time.perf_counter() - t0

    # --- spans -------------------------------------------------------

    def _stack(self) -> list[_Frame]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _new(self, name: str, start: float) -> int:
        stack = self._stack()
        parent = stack[-1].span if stack else None
        with self._lock:
            self.spans.append(Span(name, start, None, parent))
            return len(self.spans) - 1

    def _close_sticky(self, frame: _Frame, now: float) -> None:
        if frame.sticky_child is not None:
            self.spans[frame.sticky_child].end = now
            frame.sticky_child = None

    @contextmanager
    def span(self, name: str, set_group: bool = True):
        """A scoped span covering exactly the body; with ``set_group``
        its name is the job group of the Spark work started inside it.
        The job-group calls fall outside the span (into ``overhead``)."""
        stack = self._stack()
        entry = self._group()
        cost = self._set_group(name) if set_group else 0.0
        now = time.perf_counter()
        if stack:
            self._close_sticky(stack[-1], now)
        idx = self._new(name, now)
        frame = _Frame(idx, entry)
        stack.append(frame)
        try:
            yield idx
        finally:
            now = time.perf_counter()
            self._close_sticky(frame, now)
            stack.pop()
            self.spans[idx].end = now
            if self._group() != entry:  # set here or by a sticky child
                cost += self._set_group(entry)
            self.spans[idx].overhead = cost

    def sticky(self, name: str, set_group: bool = True) -> None:
        """Open a sticky span under the current scoped span; with
        ``set_group`` its layer also becomes the job group until the
        next span starts or the scoped span ends."""
        stack = self._stack()
        if not stack:
            return
        frame = stack[-1]
        now = time.perf_counter()
        self._close_sticky(frame, now)
        idx = self._new(name, now)
        frame.sticky_child = idx
        if set_group:
            self.spans[idx].overhead = self._set_group(name)

    # --- read-out ----------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time covered by child
        spans (children of one span never overlap within a thread)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None and s.end is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.end is None:
                continue
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time[i]
        return out

    def totals(self) -> dict[str, float]:
        """Per span name: summed duration (children included)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.end is not None:
                out[s.name] = out.get(s.name, 0.0) + s.end - s.start
        return out

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0) + 1
        return out

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "name": s.name,
                        "start": round(s.start - t0, 6),
                        "end": None if s.end is None else round(s.end - t0, 6),
                        "parent": s.parent,
                        "overhead": round(s.overhead, 6),
                    }
                    for s in self.spans
                ],
                f,
            )


@contextmanager
def null_span(name: str):
    """Stand-in for ``Tracer.span`` when tracing is off."""
    yield None


def wrap(
    tracer: Tracer,
    module,
    attr: str,
    layer: str,
    sticky: bool = False,
    set_group: bool = True,
):
    """Replace ``module.attr`` by a traced wrapper; returns an undo callable.

    Patching the name in the *calling* module's namespace (e.g.
    ``grebi_spark.pipeline.build_groups``) traces exactly the calls that
    module makes, which is how a layer is attributed from outside."""
    fn = getattr(module, attr)

    if sticky:
        def traced(*a, **kw):
            tracer.sticky(layer, set_group)
            return fn(*a, **kw)
    else:
        def traced(*a, **kw):
            with tracer.span(layer, set_group):
                return fn(*a, **kw)

    traced.__wrapped__ = fn
    setattr(module, attr, traced)
    return lambda: setattr(module, attr, fn)


# --- Spark event log -----------------------------------------------------

@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    stage_ids: set = field(default_factory=set)


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Sum jobs, stages and task metrics per Spark job group from the
    lines of one event log. Work outside any group lands under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}

    def g(name: str | None) -> GroupStats:
        return out.setdefault(name or "", GroupStats())

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g((ev.get("Properties") or {}).get(GROUP_KEY)).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            st = g(stage_group.get(sid))
            if sid not in st.stage_ids:
                st.stage_ids.add(sid)
                st.stages += 1
        elif kind == "SparkListenerTaskEnd":
            st = g(stage_group.get(ev.get("Stage ID")))
            st.tasks += 1
            m = ev.get("Task Metrics") or {}
            st.executor_ms += m.get("Executor Run Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
    return out


def read_event_logs(log_dir: str) -> dict[str, GroupStats]:
    """Parse every uncompressed event log under ``log_dir`` (Spark writes
    one directory of rolled ``events_*`` files per application)."""

    def lines():
        for root, _dirs, files in sorted(os.walk(log_dir)):
            for name in sorted(files):
                if name.startswith(("events_", "local-", "app-")):
                    with open(os.path.join(root, name)) as f:
                        yield from f

    return parse_event_log(lines())
