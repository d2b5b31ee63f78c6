"""Host-sized Spark sessions that keep every file inside the checkout."""

from __future__ import annotations

import os
from pathlib import Path

from . import host

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"          # caches, run artifacts, scratch (git-ignored)
CACHE = WORK / "cache"
RUNS = WORK / "runs"


def configure_env(tmp: Path) -> None:
    """Before the JVM starts: make the engine importable by Spark's
    Python workers wherever the run was started from, and keep the
    JVM's, Spark's and Python's scratch files inside `tmp`."""
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    # PerfDisableSharedMem: no hsperfdata file in the system temp dir
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"


def conf(tmp: Path, heap: int, event_dir: Path | None = None) -> dict[str, str]:
    """Session conf the benchmark passes through get_spark(extra_conf=).
    event_dir turns on the event log and the UDF perf profiler (traced
    sessions only)."""
    out = {
        "spark.driver.memory": f"{heap}g",
        "spark.local.dir": str(tmp / "spark-local"),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        out.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    return out


def stop(spark) -> None:
    """Stop the session, shut the JVM down and wait for it and its
    Python workers to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    host.reap_children()

