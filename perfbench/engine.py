"""The measured process of one benchmark run.

``run.py`` starts this module as a fresh Python process inside the run's
own scratch directory, with the session shape already in its
environment. It imports the registry, starts the session, reads every
input the workload uses once, runs one verification pass (each query
collected and compared with the cached oracle answer; it doubles as the
JIT warm-up), then a fixed number of timed passes that take about
``--seconds`` on a 4-core host (at least two). Each timed query is
materialized through the ``noop`` sink, as ``bench.py`` does.

With ``--trace 1`` it alternates plain and traced passes, starting and
ending with a plain one. A traced pass labels every call with a Spark
job group ``<workload>/<pass>/<query>/<phase>`` and splits each query
into build (``Query.spark``), plan
(``plans.explain.physical_plan``) and exec (the noop write). The spans
of the run go to ``spans.json`` for ``trace.py``, which joins them with
Spark's event log after the session has stopped.

It writes ``result.json`` in the working directory and exits 0, or
exits non-zero if the program cannot be imported or started.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

NOOP = "noop"


class Spans:
    """Spans kept in memory: name, layer, start, end, parent, run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        self.items.append({
            "id": len(self.items), "name": name, "layer": layer, "start": start,
            "end": end, "parent": parent, "run": self.run_id, **attrs,
        })
        return len(self.items) - 1

    def open(self, name: str, layer: str, parent: int | None, **attrs) -> int:
        now = time.time()
        return self.add(name, layer, now, now, parent, **attrs)

    def close(self, sid: int) -> float:
        self.items[sid]["end"] = time.time()
        return self.items[sid]["end"] - self.items[sid]["start"]


def _python_nodes(plan: str) -> int:
    return sum(plan.count(m) for m in (
        "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
        "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
        "WindowInPandas", "PythonMapInArrow",
    ))


def _new_commits(root: str, seen: set) -> int:
    """Deltalite commit files under ``root`` not in ``seen`` (by path and
    mtime, since the queries wipe and rebuild their tables); adds them."""
    n = 0
    for dirpath, _dirs, files in os.walk(root):
        if os.path.basename(dirpath) == "_delta_log":
            for f in files:
                if f.endswith(".json") and f[:20].isdigit():
                    path = os.path.join(dirpath, f)
                    key = (path, os.stat(path).st_mtime_ns)
                    if key not in seen:
                        seen.add(key)
                        n += 1
    return n


def decode_probe(seed: int, size: int = 1 << 17) -> dict[str, float]:
    """Single-thread MB/s of the program's pure-Python decoders on a
    seeded payload encoded by stdlib or pyarrow; output must be equal."""
    import bz2
    import lzma
    import random
    import zlib

    import pyarrow as pa

    from etl_everywhere_hub_spark.multimodal import bzip2, deflate, lz4, snappy, xz, zstd

    rnd = random.Random(seed)
    words = [bytes(rnd.choices(b"abcdefghijklmnopqrstuvwxyz", k=rnd.randint(2, 9)))
             for _ in range(400)]
    payload = b" ".join(rnd.choice(words) for _ in range(size // 5))[:size]

    def raw_deflate(b: bytes) -> bytes:
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        return c.compress(b) + c.flush()

    cases = {
        "inflate": (raw_deflate, lambda b: deflate.inflate(b)[0]),
        "bzip2": (bz2.compress, bzip2.decompress),
        "xz": (lambda b: lzma.compress(b, format=lzma.FORMAT_XZ), xz.decompress),
        "zstd": (lambda b: pa.Codec("zstd").compress(b, asbytes=True), zstd.decompress),
        "lz4": (lambda b: pa.Codec("lz4").compress(b, asbytes=True), lz4.decompress),
        "snappy": (lambda b: pa.Codec("snappy").compress(b, asbytes=True),
                   snappy.snappy_decompress_raw),
    }
    out = {}
    for name, (enc, dec) in cases.items():
        blob = enc(payload)
        t0 = time.perf_counter()
        got = bytes(dec(blob))
        dt = time.perf_counter() - t0
        if got != payload:
            raise RuntimeError(f"{name} decoder output differs from the input payload")
        out[name] = len(payload) / dt / 1e6
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--oracle", required=True, help="cached oracle answers (JSON)")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True, help="parent's spawn time")
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    from perfbench.gen import TABLES
    from perfbench.oracle import canonical, registry_name
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[a.workload]
    with open(a.oracle) as fh:
        answers = json.load(fh)
    spans = Spans(f"{a.workload}-{a.seed}-{os.getpid()}")
    run_sid = spans.add("run", "run", a.t0, a.t0, None)
    setup_sid = spans.add("setup", "setup", a.t0, a.t0, run_sid)

    sid = spans.open("import", "session", setup_sid)
    from etl_everywhere_hub_spark import catalog
    from etl_everywhere_hub_spark.plans.explain import physical_plan
    from etl_everywhere_hub_spark.queries import REGISTRY
    from etl_everywhere_hub_spark.session import get_spark
    import_s = spans.close(sid)

    names = [registry_name(q) for q in wl.queries]

    sid = spans.open("get_spark", "session", setup_sid)
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = spans.close(sid)
    sc = spark.sparkContext

    # read every input file the workload uses once, so the OS cache starts
    # the same way in every run, then load each table through the catalog
    sid = spans.open("load", "catalog", setup_sid)
    load_ms, splits = [], 0
    for t in TABLES:
        if not any(re.search(rf"\b{t}\b", REGISTRY[n].oracle) for n in names):
            continue
        with open(os.path.join(a.data, f"{t}.parquet"), "rb") as fh:
            while fh.read(1 << 20):
                pass
        t1 = time.perf_counter()
        df = catalog.load_table(spark, a.data, t)
        load_ms.append((time.perf_counter() - t1) * 1e3)
        if a.trace:
            splits += catalog.estimated_scan_splits(df)
    spans.close(sid)

    # verification pass: collect each answer and compare with the oracle
    sid = spans.open("verify", "queries", setup_sid)
    attempted = failed = 0
    failures: list[str] = []
    verify_s: dict[str, float] = {}
    for n in names:
        t1 = time.time()
        attempted += 1
        if a.trace:
            sc.setJobGroup(f"{a.workload}/verify/{n}/collect", n)
        try:
            got = canonical(REGISTRY[n].spark(spark, a.data).toPandas())
        except Exception as e:  # a raising query is a failed query
            failed += 1
            failures.append(f"{n}: raised {type(e).__name__}: {str(e)[:200]}")
            continue
        finally:
            spark.catalog.clearCache()
            verify_s[n] = time.time() - t1
        if got != answers[n.split("_")[0]]:
            failed += 1
            failures.append(f"{n}: answer differs from the oracle")
    spans.close(sid)
    t_first = time.time()
    spans.items[setup_sid]["end"] = t_first

    passes: list[float] = []  # plain passes
    sequence: list[float] = []  # every pass in order; odd ones are traced with --trace 1
    per_query: dict[str, list[float]] = {n: [] for n in names}
    plan_stats: dict[str, dict] = {}
    commits: list[int] = []  # deltalite commits made in each traced pass
    seen_commits: set = set()
    tmp = os.environ.get("TMPDIR", ".")
    # A fixed number of passes, not a deadline: passes are still getting
    # faster after the verification pass, so a count that varied with the
    # host's speed would move the median along the warm-up curve.
    n_passes = max(2, round(a.seconds / wl.pass_s))
    if a.trace:  # plain, traced, plain, ...: an odd count of at least three
        n_passes = max(3, n_passes | 1)
    for p in range(n_passes):
        trace_this = bool(a.trace) and p % 2 == 1
        if trace_this:
            commits.append(0)
        pass_sid = spans.open(f"pass{p}", "pass", run_sid, traced=trace_this)
        for n in names:
            q_sid = spans.open(n, "query", pass_sid)
            try:
                if trace_this:
                    sc.setJobGroup(f"{a.workload}/{p}/{n}/build", n)
                    s = spans.open("build", "queries", q_sid)
                    df = REGISTRY[n].spark(spark, a.data)
                    spans.close(s)
                    sc.setJobGroup(f"{a.workload}/{p}/{n}/plan", n)
                    s = spans.open("plan", "plans", q_sid)
                    plan = physical_plan(df)
                    spans.close(s)
                    plan_stats[n] = {
                        "shuffle_exchanges": plan.count("Exchange hashpartitioning")
                        + plan.count("Exchange rangepartitioning"),
                        "python_evals": _python_nodes(plan),
                    }
                    sc.setJobGroup(f"{a.workload}/{p}/{n}/exec", n)
                    s = spans.open("exec", "queries", q_sid)
                    df.write.mode("overwrite").format(NOOP).save()
                    spans.close(s)
                else:
                    if a.trace:
                        sc.setJobGroup(f"{a.workload}/{p}/{n}/plain", n)
                    REGISTRY[n].spark(spark, a.data).write.mode("overwrite").format(NOOP).save()
            except Exception as e:
                failed += 1
                failures.append(f"{n}: raised {type(e).__name__} in pass {p}: {str(e)[:200]}")
            finally:
                spark.catalog.clearCache()
                attempted += 1
            per_query[n].append(spans.close(q_sid))
            if trace_this:
                commits[-1] += _new_commits(tmp, seen_commits)
        wall = spans.close(pass_sid)
        if not trace_this:
            passes.append(wall)
        sequence.append(wall)
    spans.items[run_sid]["end"] = time.time()

    result = {
        "workload": a.workload,
        "setup_s": t_first - a.t0,
        "passes": passes,
        "pass_sequence": sequence,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "query_s": {n: statistics.median(v) for n, v in per_query.items() if v},
        "query_passes_s": per_query,
        "query_verify_s": verify_s,
        "setup_phases_s": {s["name"]: s["end"] - s["start"] for s in spans.items
                           if s["parent"] == setup_sid},
        "session_import_s": import_s,
        "session_start_s": start_s,
        "load_table_ms": statistics.median(load_ms),
        "settings": {
            "master": sc.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory", ""),
            "driver_java_options": sc.getConf().get("spark.driver.extraJavaOptions", ""),
            "pythonpath": os.environ.get("PYTHONPATH", ""),
        },
    }
    if a.trace:
        result.update({
            "scan_splits": splits,
            "plans": plan_stats,
            "deltalite_commits": statistics.median(commits),
            "decode_mb_s": decode_probe(a.seed),
            "event_log_dir": sc.getConf().get("spark.eventLog.dir", ""),
            "app_id": sc.applicationId,
        })
    spark.stop()
    if a.trace:
        with open("spans.json", "w") as fh:
            json.dump(spans.items, fh)
    result["t_end"] = time.time()
    with open("result.json", "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
