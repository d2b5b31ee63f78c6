"""Benchmark inputs and their oracles, cached in the checkout.

The synthetic web (pages + the full frontier it was drawn from) is keyed
by (synth seed, page count, hash of synth.py and schema.py), generated in
a separate Spark process -- so generating it neither counts in set-up
time nor warms the measured JVM -- into a temporary directory that is
renamed into place once complete.  A run's crawl seeds are a
`--seed`-chosen sample of that frontier; the engine receives only the
generated tables.

Run as `python -m perfbench.fixtures DEST N_PAGES SYNTH_SEED` to
generate one web (run.py does this on a cache miss).
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import shutil
import subprocess
import sys
import uuid
from pathlib import Path

from .session import CACHE, ROOT

SYNTH_SEED = 42
GEN_TIMEOUT_S = 300


def source_hash(*rel_paths: str) -> str:
    h = hashlib.sha256()
    for rel in rel_paths:
        h.update((ROOT / rel).read_bytes())
    return h.hexdigest()[:12]


def engine_hash() -> str:
    """Hash of every engine source file: a cached oracle is only valid
    for the engine that computed it."""
    pkg = ROOT / "newscrawler_spark"
    return source_hash(*sorted(str(p.relative_to(ROOT)) for p in pkg.rglob("*.py")))


def bench_hash() -> str:
    return source_hash(*sorted(str(p.relative_to(ROOT))
                               for p in (ROOT / "perfbench").glob("*.py")))


def _publish(tmp: Path, final: Path) -> None:
    """Atomic rename into place; a concurrent writer that got there
    first wins and this copy is dropped."""
    try:
        os.rename(tmp, final)
    except OSError:
        if not final.exists():
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def _tmp_path(final: Path) -> Path:
    return final.with_name(f".tmp-{final.name}-{os.getpid()}-{uuid.uuid4().hex[:8]}")


def web(n_pages: int, synth_seed: int = SYNTH_SEED) -> Path:
    """Directory holding pages/ and frontier/ parquet for this web."""
    key = f"web-s{synth_seed}-p{n_pages}-{source_hash('newscrawler_spark/synth.py', 'newscrawler_spark/schema.py')}"
    final = CACHE / key
    if not final.exists():
        CACHE.mkdir(parents=True, exist_ok=True)
        with open(CACHE / f"{key}.log", "w") as log:
            subprocess.run(
                [sys.executable, "-m", "perfbench.fixtures", str(final), str(n_pages),
                 str(synth_seed)],
                cwd=ROOT, check=True, timeout=GEN_TIMEOUT_S, stdout=log, stderr=log,
            )
    return final


def _generate_web(final: Path, n_pages: int, synth_seed: int) -> None:
    from newscrawler_spark import synth
    from newscrawler_spark.session import get_spark

    from . import host, session

    tmp = _tmp_path(final)
    scratch = session.WORK / "tmp" / f"gen-{os.getpid()}"
    session.configure_env(scratch)
    n_cores = host.cores()
    spark = get_spark("perfbench-fixture", n_cores,
                      extra_conf=session.conf(scratch, host.heap_gb(n_cores)))
    try:
        synth.synth_pages(spark, n_pages, seed=synth_seed).write.parquet(str(tmp / "pages"))
        synth.synth_frontier(spark, n_pages, seed=synth_seed).coalesce(1).write.parquet(
            str(tmp / "frontier"))
    finally:
        session.stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    _publish(tmp, final)


def seeds(web_dir: Path, n: int, seed: int, out: Path) -> Path:
    """A `seed`-chosen sample of n rows of the web's full frontier,
    written as one parquet file (kept in frontier order)."""
    import pyarrow.parquet as pq

    frontier = pq.read_table(web_dir / "frontier")
    rows = sorted(random.Random(seed).sample(range(frontier.num_rows), n))
    out.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(frontier.take(rows), out)
    return out


def crawl_oracle(key: dict, compute) -> dict:
    """simulate_crawl's result for this key, computed once and cached."""
    digest = hashlib.sha256(repr(sorted(key.items())).encode()).hexdigest()[:16]
    path = CACHE / f"oracle-{engine_hash()}-{digest}.pkl"
    if path.exists():
        with open(path, "rb") as f:
            return pickle.load(f)
    result = compute()
    CACHE.mkdir(parents=True, exist_ok=True)
    tmp = _tmp_path(path)
    with open(tmp, "wb") as f:
        pickle.dump(result, f)
    _publish(tmp, path)
    return result


def documents(n_docs: int, seed: int) -> Path:
    """A `documents` table shaped like TESTDATA.md's, with n_docs
    contiguous doc ids from a seed-chosen offset.  The frontier-side
    registry queries read only doc_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    offset = (seed % 1000) * n_docs
    final = CACHE / f"docs-n{n_docs}-o{offset}"
    if final.exists():
        return final
    ids = list(range(offset, offset + n_docs))
    texts = [f"synthetic document {i}" for i in ids]
    table = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(["en"] * n_docs, type=pa.string()),
        "source": pa.array(["synthetic"] * n_docs, type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    tmp = _tmp_path(final)
    tmp.mkdir(parents=True)
    pq.write_table(table, tmp / "documents.parquet")
    _publish(tmp, final)
    return final


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    _generate_web(Path(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]))
