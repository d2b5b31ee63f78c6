"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl-wide --seed 1 --seconds 10 --trace 0

Runs one workload on local[nproc] in one process, checks every output
against the repo's oracles and prints, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}.  --trace 0
reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (see perfbench/README.md).  Everything the run writes --
fixture cache, artifacts, Spark scratch -- goes under .perfbench/ in the
checkout; each run leaves an artifact directory in .perfbench/runs/.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import eventlog, fixtures, host, session, stats, trace, workloads  # noqa: E402

WORKLOADS = ("crawl-wide", "frontier-ops")
MB = 1024.0 * 1024.0


def spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _median(units: list[workloads.Unit], key: str) -> float:
    return stats.median([u.figures[key] for u in units])


def _measure(unit_fn, seconds: float) -> list[workloads.Unit]:
    """Closed loop, one client: repeat the unit until `seconds` have
    passed (at least once)."""
    units, t0 = [], time.perf_counter()
    while not units or time.perf_counter() - t0 < seconds:
        units.append(unit_fn(len(units)))
    return units


def end_to_end(units: list[workloads.Unit], setup_s: float,
               sampler: host.TreeSampler) -> tuple[dict, dict]:
    """(metrics, details) for an untraced run."""
    metrics = {
        "urls_per_s": _median(units, "urls_per_s"),
        "steady_urls_per_s": _median(units, "steady_urls_per_s"),
        "wall_s": _median(units, "wall_s"),
        "setup_s": setup_s,
        "peak_rss_mb": sampler.peak_rss / MB,
    }
    details: dict = {"units": [u.figures for u in units]}
    rounds = [x for u in units for x in u.figures.get("round_s", [])]
    if rounds:
        details["round_s"] = {"p50": stats.median(rounds), "tail": stats.tail(rounds),
                              "samples": rounds}
    return metrics, details


def _exec_layers(groups: dict, spans: list[trace.Span], rec: trace.Recorder) -> dict:
    """Event-log totals of the spans of each name, as `<name>.<field>`."""
    by_name: dict[str, dict[str, float]] = {}
    for s in spans:
        acc = by_name.setdefault(s.name, dict.fromkeys(eventlog.FIELDS, 0.0))
        g = groups.get(rec.group_of(s.id))
        if g is None:
            continue
        for k in eventlog.FIELDS:
            acc[k] += g[k]
    return {f"{name}.{k}": v for name, acc in by_name.items() for k, v in acc.items()}


class Run:
    """One benchmark run: set-up, the workload's units and, when traced,
    the other workload's unit too, so that every layer is measured."""

    def __init__(self, args, run_dir: Path, tmp: Path):
        self.args, self.run_dir, self.tmp = args, run_dir, tmp
        self.traced = args.trace == 1
        self.order = ["crawl", "queries"] if args.workload == "crawl-wide" else ["queries", "crawl"]
        if not self.traced:
            self.order = self.order[:1]
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.units: dict[str, list[workloads.Unit]] = {}
        self.warm_up: list[dict] = []
        self.layers: dict[str, float] = {}
        self.marks: list[tuple[str, float]] = []
        self._t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        self.marks.append((phase, time.perf_counter() - self._t0))

    def set_up(self, spark) -> None:
        """Load the inputs SETUP_REPS times (timed; the last set is kept)
        and compute the crawl oracle (untimed)."""
        self.inputs = self.oracle = None
        if "crawl" in self.order:
            self.inputs = workloads.CrawlInputs(spark, self.web, self.args.seed, self.tmp)
            self.oracle = self.inputs.oracle()
        if "queries" in self.order:
            self.load_walls = []
            for _ in range(workloads.SETUP_REPS):
                t0 = time.perf_counter()
                spark.read.parquet(str(self.docs_dir / "documents.parquet")).count()
                self.load_walls.append(time.perf_counter() - t0)

    def run_units(self, spark, rec: trace.Recorder | None) -> None:
        for kind in self.order:
            if kind == "crawl":
                if rec is not None:
                    spark.profile.clear()

                def fn(i):
                    return workloads.crawl_once(spark, self.inputs, self.tmp / f"catalog-{i}",
                                                self.oracle, rec)
            else:
                oracle: dict = {}

                def fn(i, names=workloads.QUERY_NAMES):
                    return workloads.queries_once(spark, self.docs_dir, rec, oracle, names)
            warm: list[workloads.Unit] = []
            try:
                if kind == "queries" and rec is None:
                    # untimed but checked: see WARM_UP_QUERIES
                    warm.append(fn(-1, workloads.WARM_UP_QUERIES))
                    self.mark("warm-up")
                self.units[kind] = _measure(fn, 0 if rec is not None else self.args.seconds)
            except Exception:  # a unit that raises counts as failed; the run goes on
                self.attempted += 1
                self.failed += 1
                self.problems.append(f"{kind} raised:\n{traceback.format_exc()}")
            self.mark(kind)
            self.warm_up.extend(u.figures for u in warm)
            for u in warm + self.units.get(kind, []):
                self.attempted += 1
                self.failed += bool(u.problems)
                self.problems.extend(f"{kind}: {p}" for p in u.problems)
            if rec is not None and kind in self.units:
                self.unit_layers(spark, kind, rec)

    def unit_layers(self, spark, kind: str, rec: trace.Recorder) -> None:
        u = self.units[kind][0]
        if kind == "crawl":
            self.layers.update(workloads.crawl_layers(rec.spans, u.spans_root, u))
            self.layers.update(workloads.udf_profile(spark, self.run_dir / "udf"))
            self.layers["extract.pages_per_s"] = workloads.extract_pages_per_s(self.web)
        else:
            self.layers.update({f"query.{n}_s": w for n, w in u.figures["query_s"].items()})

    def execute(self) -> tuple[dict, dict]:
        from newscrawler_spark.session import get_spark

        args = self.args
        n_cores = args.cores or host.cores()
        heap = host.heap_gb(n_cores)
        session.configure_env(self.tmp)
        event_dir = self.tmp / "eventlog" if self.traced else None
        # inputs that need no session (a web cache miss runs its own Spark
        # process, so it must finish before this run's JVM starts)
        self.web = fixtures.web(workloads.N_PAGES) if "crawl" in self.order else None
        self.docs_dir = (fixtures.documents(workloads.N_DOCS, args.seed)
                         if "queries" in self.order else None)
        artifact: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                          "cores": n_cores, "heap_gb": heap,
                          "memory_limit_gb": host.memory_limit_bytes() / 2**30,
                          "engine_hash": fixtures.engine_hash(),
                          "bench_hash": fixtures.bench_hash()}
        noise0 = host.noise_snapshot()
        self.mark("inputs")
        rec = None
        with host.TreeSampler() as sampler:
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}", n_cores,
                              extra_conf=session.conf(self.tmp, heap, event_dir))
            session_s = time.perf_counter() - t0
            self.mark("session")
            try:
                artifact["spark_conf"] = dict(sorted(spark.sparkContext.getConf().getAll()))
                if self.traced:
                    rec = trace.Recorder(spark.sparkContext, f"r{os.getpid()}")
                self.set_up(spark)
                self.mark("setup")
                self.run_units(spark, rec)
                if self.inputs is not None:
                    self.inputs.fetcher.close()
                if rec is not None:
                    self.layers["jvm.gc_s"] = sum(
                        b.getCollectionTime()
                        for b in spark.sparkContext._jvm.java.lang.management.ManagementFactory
                        .getGarbageCollectorMXBeans()) / 1e3
                sampler.sample()
            finally:
                session.stop(spark)
                self.mark("stop")
        artifact.update({"noise": host.noise_between(noise0, host.noise_snapshot()),
                         "problems": self.problems, "phases": self.marks,
                         "warm_up_units": self.warm_up,
                         "peak_rss_procs": sampler.peak_procs})
        main_kind = self.order[0]
        if main_kind not in self.units:
            raise RuntimeError("the workload's unit did not complete:\n"
                               + "\n".join(self.problems))
        reps = self.inputs.setup_walls if main_kind == "crawl" else self.load_walls
        artifact["setup"] = {"session_s": session_s, "reps_s": reps}
        if rec is None:
            metrics, details = end_to_end(self.units[main_kind],
                                          session_s + stats.median(reps), sampler)
            artifact.update(details)
        else:
            metrics = self.traced_metrics(rec, event_dir, sampler)
            artifact["spans"] = rec.as_dicts()
            artifact["tracing_overhead_s"] = tracing_overhead(
                artifact, self.units[main_kind][0].figures["wall_s"])
        result = {"correct": not self.problems, "attempted": self.attempted,
                  "failed": self.failed, "metrics": metrics}
        return result, artifact

    def traced_metrics(self, rec: trace.Recorder, event_dir: Path,
                       sampler: host.TreeSampler) -> dict:
        cpu = sampler.cpu_s()
        groups = eventlog.parse(eventlog.find_log(event_dir))
        tot = eventlog.total(groups)
        layers = dict(self.layers)
        layers.update(_exec_layers(groups, rec.spans, rec))
        log = (self.run_dir / "run.log").read_text(errors="replace")
        layers.update({
            "fetch.init_s": stats.median(self.inputs.fetcher_walls),
            "jvm.exec_task_s": tot["exec_task_s"],
            "jvm.exec_cpu_s": tot["exec_cpu_s"],
            "jvm.driver_cpu_s": cpu["jvm_cpu_s"] - tot["exec_cpu_s"],
            "python.worker_cpu_s": cpu["python_worker_cpu_s"],
            "jvm.error_lines": len(re.findall(r"\bERROR\b", log)),
        })
        return layers


def tracing_overhead(artifact: dict, traced_wall: float) -> dict | None:
    """Traced minus untraced wall of the workload's unit, against the
    median of this checkout's untraced runs of the same workload, engine
    and benchmark code (None when there are none yet)."""
    walls = []
    for p in session.RUNS.glob(f"{artifact['workload']}-*-t0-*/artifact.json"):
        try:
            other = json.loads(p.read_text())
            if all(other[k] == artifact[k] for k in ("engine_hash", "bench_hash")):
                walls.extend(u["wall_s"] for u in other["units"])
        except (OSError, ValueError, KeyError):
            continue
    if not walls:
        return None
    base = stats.median(walls)
    return {"traced_s": traced_wall, "untraced_median_s": base, "n_untraced": len(walls),
            "overhead_s": traced_wall - base}


def shape(result: dict, trace_on: bool) -> dict:
    """Metrics in BENCHMARK.json order, each with its declared unit."""
    wanted = spec()["per_layer" if trace_on else "end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    result["metrics"] = {m["name"]: {"value": float(got[m["name"]]), "unit": m["unit"]}
                         for m in wanted}
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int,
                    help="run at local[N] instead of local[nproc] (scaling diagnostic)")
    args = ap.parse_args()
    try:
        import newscrawler_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    lock = host.RunLock(session.WORK / "run.lock")
    if not lock.acquire():
        print("perfbench: another benchmark run holds the lock; refusing to start",
              file=sys.stderr)
        return 3
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    run_dir = session.RUNS / f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    tmp = session.WORK / "tmp" / f"run-{os.getpid()}"
    run_dir.mkdir(parents=True)
    # the JVM inherits fds 1 and 2: its log goes to run.log, and stdout
    # keeps only what this script prints
    out = os.fdopen(os.dup(1), "w")
    err = os.fdopen(os.dup(2), "w")
    with open(run_dir / "run.log", "w") as log:
        os.dup2(log.fileno(), 1)
        os.dup2(log.fileno(), 2)
    try:
        result, artifact = Run(args, run_dir, tmp).execute()
        result = shape(result, args.trace == 1)
    except Exception:
        sys.stdout.flush()
        traceback.print_exc()
        print(f"perfbench: run failed; see {run_dir / 'run.log'}\n{traceback.format_exc()}",
              file=err)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        lock.release()
    artifact["result"] = result
    (run_dir / "artifact.json").write_text(json.dumps(artifact, indent=1, default=str))
    for p in artifact["problems"]:
        print(f"check failed: {p}", file=err)
    if artifact.get("tracing_overhead_s"):
        print(f"tracing overhead: {json.dumps(artifact['tracing_overhead_s'])}", file=out)
    print(json.dumps(result), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
