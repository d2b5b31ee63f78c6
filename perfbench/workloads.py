"""The two workload units and their output checks.

crawl-wide: one batch crawl over the synthetic web, checked against
oracle.simulator.simulate_crawl.  frontier-ops: one pass over the
frontier-side registry queries, each checked against its DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from . import fixtures, host, stats, trace

# crawl-wide: a 4x synthetic web, seeds/8 budget capacity; partition
# counts sized to the host (2 x cores) like the session's shuffle width
N_PAGES = 2000
N_SEEDS = 500
ROUNDS = 3
CAPACITY = N_SEEDS // 8
SETUP_REPS = 3

# frontier-ops: the sf0.1 documents row count of TESTDATA.md, and one
# registry query per frontier operator: canonical identity (three
# projections), within-round dedup, the cuckoo seen filter (the crawl
# runs the bloom one) and the politeness schedule
N_DOCS = 5000
QUERY_NAMES = (
    "url_canonicalize", "frontier_classify", "kind_prioritize", "frontier_dedup",
    "seen_cuckoo", "politeness_schedule",
)

# an untimed run of the first query before the timed passes: it takes
# the run's first-query costs (imports, the first plans through the
# identity projection every frontier query shares, first codegen)
WARM_UP_QUERIES = QUERY_NAMES[:1]

EXTRACT_SAMPLE = 300
EXTRACT_MIN_S = 0.5


@dataclass
class Unit:
    """One workload iteration's outcome."""
    figures: dict
    problems: list[str]
    spans_root: int | None = None
    extra: dict = field(default_factory=dict)


# -- crawl-wide ---------------------------------------------------------------

class CrawlInputs:
    """Set-up of the crawl workload: tables and the fixture fetcher."""

    def __init__(self, spark, web: Path, seed: int, work: Path):
        from newscrawler_spark.sources.fetch import FixtureFetcher
        from newscrawler_spark.synth import synth_budgets, synth_robots

        self.web = web
        # from the host, not the session: a --cores run executes the same job
        self.partitions = 2 * host.cores()
        self.seeds_path = fixtures.seeds(self.web, N_SEEDS, seed, work / "seeds.parquet")
        self.seed = seed
        self.setup_walls, self.fetcher_walls = [], []
        self.fetcher = None
        for _ in range(SETUP_REPS):
            if self.fetcher is not None:
                self.fetcher.close()
            t0 = time.perf_counter()
            self.pages = spark.read.parquet(str(self.web / "pages"))
            self.seed_df = spark.read.parquet(str(self.seeds_path))
            self.budgets = synth_budgets(spark, capacity_default=CAPACITY)
            self.robots = synth_robots(spark)
            t1 = time.perf_counter()
            self.fetcher = FixtureFetcher(self.pages, corpus_partitions=self.partitions)
            t2 = time.perf_counter()
            self.setup_walls.append(t2 - t0)
            self.fetcher_walls.append(t2 - t1)

    def oracle(self) -> dict:
        """The simulator's crawl for these inputs (cached, untimed)."""
        import pyarrow.parquet as pq

        from newscrawler_spark.oracle.simulator import simulate_crawl
        from newscrawler_spark.plans.crawl_round import RoundConfig

        budgets = {r["domain"]: (r["capacity"], r["window_s"]) for r in self.budgets.collect()}
        robots = [(r["domain"], r["path_prefix"], r["allow"], r["crawl_delay_s"] or 0.0)
                  for r in self.robots.collect()]
        max_depth = RoundConfig().max_depth

        def compute():
            seeds = pq.read_table(self.seeds_path).to_pylist()
            pages = {
                r["url"]: (r["status"], r["html"], list(r["out_links"] or []))
                for r in pq.read_table(self.web / "pages").to_pylist()
            }
            return simulate_crawl(seeds, pages, budgets, robots,
                                  max_rounds=ROUNDS, max_depth=max_depth)

        key = {"web": self.web.name, "seed": self.seed, "n_seeds": N_SEEDS,
               "rounds": ROUNDS, "budgets": sorted(budgets.items()),
               "robots": sorted(robots), "max_depth": max_depth}
        return fixtures.crawl_oracle(key, compute)

def crawl_once(spark, inputs: CrawlInputs, cat_dir: Path, oracle: dict,
               rec: trace.Recorder | None) -> Unit:
    from newscrawler_spark.plans.crawl_round import RoundConfig
    from newscrawler_spark.plans.scheduler import crawl, seed_frontier
    from newscrawler_spark.sources.catalog import Catalog

    shutil.rmtree(cat_dir, ignore_errors=True)
    cat = Catalog(cat_dir)
    clock = trace.CommitClock()
    clock.install(cat)
    if rec is not None:
        trace.instrument_catalog(cat, rec)
        trace.instrument_fetcher(inputs.fetcher, rec)
    root_span = rec.span("crawl") if rec is not None else contextlib.nullcontext()
    hook = trace.traced_run_round(rec) if rec is not None else contextlib.nullcontext()
    t_start = time.perf_counter()
    with root_span as root_id:
        seed_frontier(cat, inputs.seed_df)
        t_call = time.perf_counter()
        with hook:
            totals = crawl(spark, cat, inputs.fetcher, inputs.budgets, inputs.robots,
                           max_rounds=ROUNDS, conf=RoundConfig(n_partitions=inputs.partitions))
    t_end = time.perf_counter()
    if rec is not None:
        # instance attributes shadow the class methods; drop the wrappers
        del inputs.fetcher.fetch
    scheduled = {r: c["scheduled"] for r, c in totals.items()}
    figures = stats.crawl_clock(t_call, t_start, t_end, clock.commits, scheduled)
    problems = check_crawl(spark, cat, oracle)
    extra = {"totals": {str(r): c for r, c in totals.items()}, "catalog": str(cat_dir)}
    return Unit(figures, problems, root_id, extra)


def check_crawl(spark, cat, oracle: dict) -> list[str]:
    """fetch_order, url_seen, quarantine and the docs' span sequences
    against the simulator (the comparisons of tests/test_crawl.py)."""
    problems = []
    order = {(r["round"], r["domain"], r["rank"], r["canonical_url"])
             for r in cat.read_table(spark, "fetch_order").collect()}
    if order != set(oracle["fetch_order"]):
        problems.append(f"fetch_order: {len(order ^ set(oracle['fetch_order']))} rows differ")
    seen_rows = [r["canonical_url"] for r in cat.read_table(spark, "url_seen").collect()]
    if set(seen_rows) != oracle["seen"] or len(seen_rows) != len(set(seen_rows)):
        problems.append("url_seen differs from the simulator's seen set")
    quarantine = {(r["url"], r["round"], r["error"])
                  for r in cat.read_table(spark, "quarantine").collect()}
    if quarantine != {tuple(q) for q in oracle["quarantine"]}:
        problems.append("quarantine differs")
    docs = {r["doc_id"]: r for r in cat.read_table(spark, "docs").collect()}
    want = oracle["docs"]
    if set(docs) != set(want):
        problems.append(f"docs: {len(set(docs) ^ set(want))} doc ids differ")
    bad = 0
    for doc_id in set(docs) & set(want):
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in docs[doc_id]["spans"]]
        ref = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in want[doc_id]["spans"]]
        bad += spans != ref or docs[doc_id]["title"] != want[doc_id]["title"]
    if bad:
        problems.append(f"docs: {bad} documents' spans or titles differ")
    return problems


def crawl_layers(spans: list[trace.Span], root_id: int, unit: Unit) -> dict[str, float]:
    """Per-layer walls and ratios of one traced crawl."""
    import pyarrow.parquet as pq

    root = next(s for s in spans if s.id == root_id)
    walls = trace.walls_by_name(spans)
    out = {
        "crawl_round.run_round_s": walls.get("crawl_round.run_round", 0.0),
        "catalog.write_round_log_s": walls.get("catalog.write_round_log", 0.0),
        "catalog.write_frontier_s": walls.get("catalog.write_frontier", 0.0),
        "catalog.write_docs_s": walls.get("catalog.write_docs", 0.0),
        "catalog.seen_fold_s": walls.get("catalog.seen_fold", 0.0),
        "catalog.budget_fold_s": walls.get("catalog.budget_fold", 0.0),
        "catalog.commit_s": walls.get("catalog.commit", 0.0),
        "catalog.read_s": walls.get("catalog.read", 0.0),
        "fetch.plan_s": walls.get("fetch.plan", 0.0),
        "scheduler.unattributed_s": root.wall - trace.children_wall(spans, root_id),
        "scheduler.first_commit_s": unit.figures["first_commit_s"],
        "scheduler.round_s.p50": stats.median(unit.figures["round_s"]),
    }
    plans = {s.round: s for s in spans if s.name == "crawl_round.run_round"}
    docs = [s for s in spans if s.name == "catalog.write_docs"]
    hidden = sum(stats.overlap((d.start, d.end), (plans[d.round + 1].start, plans[d.round + 1].end))
                 for d in docs if d.round + 1 in plans)
    out["scheduler.docs_overlap_ratio"] = hidden / max(1e-9, sum(d.wall for d in docs))

    totals = {int(r): c for r, c in unit.extra["totals"].items()}
    cat = Path(unit.extra["catalog"])
    offered = dropped = 0
    for r, c in sorted(totals.items()):
        n_in = pq.read_table(cat / "frontier" / f"round={r}").num_rows
        nxt = pq.read_table(cat / "frontier" / f"round={r + 1}", columns=["round_added"])
        deferred = sum(1 for a in nxt.column("round_added").to_pylist() if a <= r)
        offered += n_in
        dropped += n_in - c["new_seen"] - deferred
    out["scheduler.schedule_ratio"] = sum(c["scheduled"] for c in totals.values()) / offered
    out["seen.drop_ratio"] = dropped / offered
    return out


def extract_pages_per_s(web: Path) -> float:
    """Single-threaded extract_one over a fixed sample of the web's pages
    (the first EXTRACT_SAMPLE 200-status pages in url order); median of
    three timed passes of at least EXTRACT_MIN_S each."""
    import pyarrow.parquet as pq

    from newscrawler_spark.canonical import detect_platform_py
    from newscrawler_spark.functions.extract import extract_one

    rows = sorted((r["url"], r["html"]) for r in pq.read_table(
        web / "pages", columns=["url", "status", "html"]).to_pylist() if r["status"] == 200)
    sample = [(u, h, detect_platform_py(u)) for u, h in rows[:EXTRACT_SAMPLE]]
    rates = []
    for _ in range(3):
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < EXTRACT_MIN_S:
            for url, html, platform in sample:
                extract_one(html, url, platform)
            n += len(sample)
        rates.append(n / (time.perf_counter() - t0))
    return stats.median(rates)


def udf_profile(spark, out_dir: Path) -> dict[str, float]:
    """Python time inside the UDFs profiled since the last clear, and the
    part of it spent in extract_one (the dialect walk); the rest is the
    UDF's pandas/Arrow handling."""
    import pstats

    spark.profile.dump(str(out_dir))
    total = walk = 0.0
    for p in out_dir.glob("udf_*_perf.pstats"):
        st = pstats.Stats(str(p))
        total += st.total_tt
        walk += sum(v[3] for k, v in st.stats.items() if k[2] == "extract_one")
    return {"extract.udf_python_s": total, "extract.udf_walk_s": walk}


# -- frontier-ops ---------------------------------------------------------------

def queries_once(spark, docs_dir: Path, rec: trace.Recorder | None, oracle: dict,
                 names: tuple[str, ...] = QUERY_NAMES) -> Unit:
    """One pass over `names`; `oracle` caches each query's DuckDB rows
    across the passes of a run."""
    from newscrawler_spark.queries import QUERIES

    walls, results = {}, {}
    for name in names:
        span = rec.span(f"query.{name}") if rec is not None else contextlib.nullcontext()
        t0 = time.perf_counter()
        with span:
            results[name] = QUERIES[name](spark, str(docs_dir)).toPandas()
        walls[name] = time.perf_counter() - t0
    total = sum(walls.values())
    rows = N_DOCS * len(names)
    # "steady": without the first query, which in a cold JVM takes the
    # first-query costs the way round 0 does in a crawl (an untraced run
    # warms it up first)
    rest = [walls[n] for n in names[1:]] or [total]
    figures = {
        "wall_s": total,
        "urls": rows,
        "urls_per_s": rows / total,
        "steady_urls_per_s": N_DOCS * len(rest) / sum(rest),
        "query_s": walls,
    }
    return Unit(figures, check_queries(docs_dir, results, oracle))


def check_queries(docs_dir: Path, results: dict, oracle: dict) -> list[str]:
    """Each query's rows against its DuckDB oracle, normalised as
    tools/compare_oracle.py does.  Oracle rows are computed once per
    query and kept in `oracle`."""
    from newscrawler_spark.queries import ORACLES
    from tools.compare_oracle import compare

    missing = [n for n in results if n not in oracle]
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet'")
            for name in missing:
                oracle[name] = con.sql(ORACLES[name]).df()
        finally:
            con.close()
    return [f"{name}: {p}" for name, got in results.items() for p in compare(got, oracle[name])]
