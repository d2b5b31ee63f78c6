import threading

import pytest

from perfbench import trace


class FakeContext:
    """SparkContext stand-in: thread-local properties, as in pinned
    thread mode."""

    def __init__(self):
        self._tls = threading.local()

    def _props(self):
        return self._tls.__dict__.setdefault("props", {})

    def getLocalProperty(self, key):
        return self._props().get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self._props().pop(key, None)
        else:
            self._props()[key] = value


def test_span_sets_and_restores_the_job_group():
    sc = FakeContext()
    rec = trace.Recorder(sc, "r1")
    with rec.span("outer") as outer:
        assert sc.getLocalProperty(trace.JOB_GROUP) == rec.group_of(outer)
        with rec.span("inner") as inner:
            assert sc.getLocalProperty(trace.JOB_GROUP) == rec.group_of(inner)
        assert sc.getLocalProperty(trace.JOB_GROUP) == rec.group_of(outer)
    assert sc.getLocalProperty(trace.JOB_GROUP) is None
    spans = {s.name: s for s in rec.spans}
    assert spans["inner"].parent == spans["outer"].id
    assert spans["outer"].parent is None


def test_span_parents_are_per_thread():
    rec = trace.Recorder(FakeContext(), "r1")
    with rec.span("main"):
        t = threading.Thread(target=lambda: _enter_exit(rec, "bg"))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    spans = {s.name: s for s in rec.spans}
    assert spans["bg"].parent is None


def _enter_exit(rec, name):
    with rec.span(name):
        pass


def test_span_is_recorded_when_the_call_raises():
    rec = trace.Recorder(FakeContext(), "r1")
    with pytest.raises(RuntimeError):
        with rec.span("boom"):
            raise RuntimeError
    assert [s.name for s in rec.spans] == ["boom"]


def _span(i, name, start, end, parent=None):
    return trace.Span(i, name, start, end, parent, "MainThread", None, "r")


def test_walls_by_name_counts_a_layer_once():
    spans = [
        _span(1, "crawl", 0, 100),
        _span(2, "crawl_round.run_round", 0, 30, 1),
        _span(3, "fetch.plan", 10, 12, 2),
        _span(4, "catalog.commit", 40, 50, 1),
        _span(5, "catalog.read", 41, 42, 4),   # inside a catalog call
        _span(6, "catalog.read", 60, 63, 1),
    ]
    walls = trace.walls_by_name(spans)
    assert walls["crawl_round.run_round"] == 30
    assert walls["fetch.plan"] == 2
    assert walls["catalog.commit"] == 10
    assert walls["catalog.read"] == 3
    assert trace.children_wall(spans, 1) == 30 + 10 + 3
    # unattributed main-thread wall = root wall minus its direct children
    assert spans[0].wall - trace.children_wall(spans, 1) == 57


def test_instrumented_catalog_names_delta_writes_by_table():
    class Cat:
        def write_delta(self, df, table, round_no):
            return 7

    rec = trace.Recorder(FakeContext(), "r1")
    cat = Cat()
    for m in trace.CATALOG_SPANS:
        setattr(cat, m, lambda *a, **k: None)
    trace.instrument_catalog(cat, rec)
    assert cat.write_delta(None, "docs", 3) == 7
    cat.write_delta(None, "frontier", 4)
    cat.write_delta(None, "url_extra", 4)
    cat.commit_round(4, {})
    got = [(s.name, s.round) for s in rec.spans]
    assert got == [("catalog.write_docs", 3), ("catalog.write_frontier", 4),
                   ("catalog.write_url_extra", 4), ("catalog.commit", None)]


def test_commit_clock_records_each_commit():
    class Cat:
        def __init__(self):
            self.done = []

        def commit_round(self, round_no, tables):
            self.done.append(round_no)

    cat, clock = Cat(), trace.CommitClock()
    clock.install(cat)
    cat.commit_round(0, {})
    cat.commit_round(1, {})
    assert cat.done == [0, 1]
    assert [r for r, _ in clock.commits] == [0, 1]
    assert clock.commits[0][1] <= clock.commits[1][1]
