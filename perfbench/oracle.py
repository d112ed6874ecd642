"""Input and oracle-answer cache.

Per scale factor the benchmark keeps the generated tables in
``unpermuted/``, one directory per seed with that seed's permuted copy,
and ``oracle.json``: the DuckDB answer of
every registry query it has run, keyed by query id, canonicalized with
``tools/check.py:canon_df``. Answers are stored as JSON, so a Spark
result is compared by canonicalizing it the same way and round-tripping
it through JSON.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pyarrow.parquet as pq

from . import gen

KEEP_SEEDS = 4  # seed directories kept per scale factor (least recently used go)


def _canon_df():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        from check import canon_df
    finally:
        sys.path.pop(0)
    return canon_df


def canonical(pdf) -> dict:
    """JSON-normal canonical form of a pandas result: sorted columns and rows."""
    return json.loads(json.dumps(
        {"columns": sorted(pdf.columns), "rows": _canon_df()(pdf)}
    ))


def registry_name(qid: str) -> str:
    """Full registry name of a query id such as ``q01``."""
    from etl_everywhere_hub_spark.queries import REGISTRY

    return next(n for n in REGISTRY if n.split("_")[0] == qid)


def oracle_answers(data_dir: str, ids: list[str]) -> dict[str, dict]:
    import duckdb

    from etl_everywhere_hub_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in gen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {q: canonical(con.sql(REGISTRY[registry_name(q)].oracle).df()) for q in ids}
    finally:
        con.close()


def prepare(cache_root: str, sf: float, seed: int, ids: list[str]) -> tuple[str, str]:
    """Return (input dir for this seed, path of the oracle answers),
    generating and caching whatever is missing.

    A seed only permutes rows, and SQL answers do not depend on row
    order, so the answers are computed once per scale factor, on the
    unpermuted tables, and every seed's Spark answers are checked
    against them. A query whose answer changes with the input order
    therefore fails verification."""
    sf_root = os.path.join(cache_root, f"sf{sf:g}")
    base = os.path.join(sf_root, "unpermuted")
    if not os.path.isdir(base):
        os.makedirs(sf_root, exist_ok=True)
        _fill(base, lambda d: gen.write(gen.content(sf), None, d))
    seed_dir = os.path.join(sf_root, f"seed{seed}")
    if not os.path.isdir(seed_dir):
        tables = {t: pq.read_table(os.path.join(base, f"{t}.parquet")) for t in gen.TABLES}
        _fill(seed_dir, lambda d: gen.write(tables, seed, d))
    ans_path = os.path.join(sf_root, "oracle.json")
    answers: dict[str, dict] = {}
    if os.path.isfile(ans_path):
        with open(ans_path) as fh:
            answers = json.load(fh)
    missing = [q for q in ids if q not in answers]
    if missing:
        answers.update(oracle_answers(base, missing))
        with open(ans_path + ".tmp", "w") as fh:
            json.dump(answers, fh)
        os.replace(ans_path + ".tmp", ans_path)
    os.utime(seed_dir)
    _evict(sf_root, keep=seed_dir)
    return seed_dir, ans_path


def _fill(target: str, write) -> None:
    """Build a cache directory under a temporary name, then rename it."""
    tmp = f"{target}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    os.replace(tmp, target)


def _evict(sf_root: str, keep: str) -> None:
    """Drop the least recently used seed directories, and half-written
    ones that a killed run left more than an hour ago."""
    seeds = []
    for d in os.listdir(sf_root):
        p = os.path.join(sf_root, d)
        if ".tmp" in d:
            if time.time() - os.path.getmtime(p) > 3600:
                shutil.rmtree(p, ignore_errors=True)
        elif d.startswith("seed") and p != keep:
            seeds.append(p)
    seeds.sort(key=os.path.getmtime, reverse=True)
    for p in seeds[KEEP_SEEDS - 1:]:
        shutil.rmtree(p, ignore_errors=True)
