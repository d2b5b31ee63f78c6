"""Spans recorded from outside the engine.

The benchmark wraps the public calls a crawl makes -- the methods of its
`Catalog` instance, its fetcher's `fetch`, and `plans.scheduler.run_round`
-- and each query of the frontier-ops list.  A span holds name, start,
end, parent span, thread, crawl round and run id; spans stay in memory
and are written out when the run ends.

Every span also sets the calling thread's Spark job group to its own id,
so the event-log parser (eventlog.py) can attribute executor work to the
span that launched it.  `pyspark.InheritableThread` children copy the
group they were started under: the checkpoint materializations that
`run_round` starts in background threads are charged to `run_round`.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from dataclasses import asdict, dataclass

JOB_GROUP = "spark.jobGroup.id"

# Catalog method -> span name.  write_delta is named per table below.
CATALOG_SPANS = {
    "write_round_log": "catalog.write_round_log",
    "write_bloom_local": "catalog.seen_fold",
    "write_cuckoo_local": "catalog.seen_fold",
    "write_budget_state_row_local": "catalog.budget_fold",
    "write_metrics_row": "catalog.commit",
    "commit_round": "catalog.commit",
    "read_manifest": "catalog.read",
    "read_table": "catalog.read",
    "read_round_log_delta": "catalog.read",
}
DELTA_SPANS = {
    "frontier": "catalog.write_frontier",
    "docs": "catalog.write_docs",
    "bloom": "catalog.seen_fold",
    "cuckoo": "catalog.seen_fold",
    "budget_state": "catalog.budget_fold",
    "budgets": "catalog.budget_fold",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str
    round: int | None
    run_id: str

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span store; one per run."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self.round: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()

    def group_of(self, span_id: int) -> str:
        return f"{self.run_id}-{span_id}"

    @contextlib.contextmanager
    def span(self, name: str, round_no: int | None = None):
        stack = self._tls.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        round_no = self.round if round_no is None else round_no
        prev_group = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, self.group_of(sid))
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev_group)
            span = Span(sid, name, start, end, parent,
                        threading.current_thread().name, round_no, self.run_id)
            with self._lock:
                self.spans.append(span)

    def wrap(self, fn, name_of, round_of=None):
        """fn wrapped in a span named name_of(*args, **kwargs); round_of
        reads the crawl round from the arguments (default: the round
        the crawl is in)."""
        def traced(*args, **kwargs):
            round_no = round_of(*args, **kwargs) if round_of is not None else None
            with self.span(name_of(*args, **kwargs), round_no):
                return fn(*args, **kwargs)
        return traced

    def as_dicts(self) -> list[dict]:
        with self._lock:
            return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


class CommitClock:
    """Times each `commit_round` of a catalog; the only hook an untraced
    run installs (one clock read per round)."""

    def __init__(self):
        self.commits: list[tuple[int, float]] = []

    def install(self, catalog) -> None:
        commit = catalog.commit_round

        def timed_commit(round_no, tables):
            commit(round_no, tables)
            self.commits.append((round_no, time.perf_counter()))

        catalog.commit_round = timed_commit


def instrument_catalog(catalog, rec: Recorder) -> None:
    """Wrap the public calls the crawl makes on this Catalog instance.
    (Install the CommitClock first, so commit spans cover its clock read.)"""
    for method, name in CATALOG_SPANS.items():
        setattr(catalog, method,
                rec.wrap(getattr(catalog, method), lambda *a, _n=name, **k: _n))

    def delta_name(df, table, round_no):
        return DELTA_SPANS.get(table, f"catalog.write_{table}")

    catalog.write_delta = rec.wrap(catalog.write_delta, delta_name,
                                   lambda df, table, round_no: round_no)


def instrument_fetcher(fetcher, rec: Recorder) -> None:
    fetcher.fetch = rec.wrap(fetcher.fetch, lambda *a, **k: "fetch.plan")


@contextlib.contextmanager
def traced_run_round(rec: Recorder):
    """Wrap plans.scheduler.run_round (the name the scheduler calls) for
    the duration of the block; the span carries the round number."""
    from newscrawler_spark.plans import scheduler

    original = scheduler.run_round

    def run_round(*args, **kwargs):
        round_no = args[6] if len(args) > 6 else kwargs["round_no"]
        rec.round = round_no
        with rec.span("crawl_round.run_round", round_no):
            return original(*args, **kwargs)

    scheduler.run_round = run_round
    try:
        yield
    finally:
        scheduler.run_round = original


def children_wall(spans: list[Span], parent: int) -> float:
    return sum(s.wall for s in spans if s.parent == parent)


def walls_by_name(spans: list[Span]) -> dict[str, float]:
    """Summed wall per span name.  A span nested in a span of the same
    layer (the name's first dotted part, e.g. a catalog read inside a
    catalog commit) is part of the outer span and not counted again."""
    by_id = {s.id: s for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        layer = s.name.split(".", 1)[0]
        p = by_id.get(s.parent)
        while p is not None and p.name.split(".", 1)[0] != layer:
            p = by_id.get(p.parent)
        if p is None:
            out[s.name] = out.get(s.name, 0.0) + s.wall
    return out
