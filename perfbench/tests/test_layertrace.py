"""Span recording and the Spark event-log parser."""

import os
import shutil
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layertrace  # noqa: E402
from layertrace import Tracer, parse_event_log, read_event_logs, wrap  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


def test_parser_sums_a_recorded_log_per_job_group():
    # recorded from a real Spark 4.1 run (build + first fold), trimmed to
    # the fields the parser reads; the sums below were read off that run
    with open(LOG) as f:
        st = parse_event_log(f)
    assert set(st) == {"build", "fold0"}
    b = st["build"]
    assert (b.jobs, b.stages, b.tasks) == (7, 7, 15)
    assert (b.executor_ms, b.gc_ms) == (6003, 174)
    assert (b.shuffle_write_bytes, b.shuffle_read_bytes, b.spill_bytes) == (93197, 78435, 0)
    f0 = st["fold0"]
    assert (f0.jobs, f0.stages, f0.tasks, f0.shuffle_write_bytes) == (2, 2, 3, 1998)


def test_skipped_stages_are_not_counted():
    # jobs list stages they skip (already computed); only submitted
    # stages count, each once
    with open(LOG) as f:
        st = parse_event_log(f)
    assert st["build"].stage_ids == {0, 1, 2, 3, 4, 6, 9}


def test_reader_walks_rolled_event_log_dirs(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    shutil.copy(LOG, d / "events_1_local-1")
    (d / "appstatus_local-1").write_text("")
    assert read_event_logs(str(tmp_path))["build"].jobs == 7


def test_sticky_spans_cover_lazy_work_and_self_times_add_up():
    tr = Tracer()
    mod = types.SimpleNamespace(a=lambda: "frame-a", b=lambda: "frame-b")
    undo = [wrap(tr, mod, "a", "la", sticky=True), wrap(tr, mod, "b", "lb", sticky=True)]
    with tr.span("op"):
        mod.a()
        time.sleep(0.02)  # "the barrier that runs a's frame"
        mod.b()
        time.sleep(0.01)
    for u in undo:
        u()
    assert mod.a() == "frame-a" and not hasattr(mod.a, "__wrapped__")
    names = [s.name for s in tr.spans]
    assert names == ["op", "la", "lb"]
    op, la, lb = tr.spans
    assert la.parent == 0 and lb.parent == 0
    # a sticky span ends where the next one starts, the last at its parent's end
    assert la.end == lb.start and lb.end == op.end
    assert la.end - la.start >= 0.02
    st = tr.self_times()
    assert abs(st["op"] + st["la"] + st["lb"] - (op.end - op.start)) < 1e-9


def test_scoped_span_nests_and_closes_open_sticky_sibling():
    tr = Tracer()
    with tr.span("op"):
        tr.sticky("lazy")
        with tr.span("eager"):
            pass
    op, lazy, eager = tr.spans
    assert lazy.end == eager.start  # the eager call ends the sticky span
    assert eager.parent == 0 and eager.end <= op.end
    assert tr.counts() == {"op": 1, "lazy": 1, "eager": 1}


def test_spans_are_written_out(tmp_path):
    tr = Tracer()
    with tr.span("op"):
        pass
    path = tmp_path / "spans.json"
    tr.write(str(path))
    import json

    (s,) = json.loads(path.read_text())
    assert s["name"] == "op" and s["parent"] is None and s["end"] >= s["start"] == 0


def test_null_span_is_a_context_manager():
    with layertrace.null_span("x") as v:
        assert v is None


class _FakeContext:
    """Counts the job-group calls a span makes into the JVM."""

    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, _desc):  # noqa: N802
        self.calls.append(group)

    def setLocalProperty(self, key, value):  # noqa: N802
        self.calls.append(value)


def test_span_without_group_makes_no_jvm_call():
    sc = _FakeContext()
    tr = Tracer(sc)
    with tr.span("kv.get", set_group=False):
        pass
    tr.sticky("core.read", set_group=False)
    assert sc.calls == [] and tr.spans[0].overhead == 0.0


def test_group_is_set_outside_the_span_and_restored():
    sc = _FakeContext()
    tr = Tracer(sc)
    with tr.span("api.search"):
        with tr.span("kv.get", set_group=False):
            pass
        with tr.span("inner"):
            pass
    # set api.search; set inner, restore api.search; clear at the end
    assert sc.calls == ["api.search", "inner", "api.search", None]
    assert tr.spans[0].overhead >= 0.0 and tr._group() is None
