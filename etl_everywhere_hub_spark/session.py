"""SparkSession factory + session hygiene for oracle-stable results.

The reference runs one record at a time on AWS Lambda
(/root/reference/task.ts:103-115); our engine runs the same semantics
on Spark. These settings are the scale posture (SURVEY.md §4, §6):

- AQE on: runtime coalescing of shuffle partitions + skew-join
  handling means the same plan survives sf0.001 → 100 TB.
- UTC session timezone: timestamp canonicalization so the DuckDB
  oracle (naive timestamps) and Spark agree bit-for-bit.
- ``nanosAsLong``: the ``events`` fixture carries parquet
  TIMESTAMP(NANOS) which Spark's vectorized reader does not map to a
  native type; we read the raw int64 and convert to TIMESTAMP_NTZ in
  the catalog (see catalog.load_table).
"""

from __future__ import annotations

import os
import re
import site
import weakref

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session we are handed (the
# correctness driver owns its own SparkSession; these are all dynamic
# SQL confs so they can be applied after the fact).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce to the advisory partition SIZE, not to cluster
    # parallelism (the Spark-docs-recommended production setting):
    # tiny shuffles collapse to a handful of tasks instead of one per
    # core, and at 100 TB the same rule yields ~target-sized
    # partitions regardless of over-partitioned inputs.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Prefer hash joins over sort-merge when a side's per-partition
    # build fits the size gate (autoBroadcastJoinThreshold x shuffle
    # partitions — Spark's canBuildLocalHashMap): skips the sort of
    # both shuffled sides, the same choice an in-process columnar
    # engine makes. Falls back to SMJ automatically when neither side
    # passes the gate (the 100 TB big-big case), SHJ spills since
    # Spark 3.1, and AQE's skew splitter handles both node types.
    # Measured at sf1.0: q105 star join 3.61 -> 2.72 s (round 9).
    "spark.sql.join.preferSortMergeJoin": "false",
    # 64 MB broadcast threshold (round 11): the 10 MB default predates
    # modern executor sizing — with 4-8 GB executors a 64 MB hash
    # relation is the standard production ceiling, and a STATIC
    # broadcast decision skips the AQE stage boundary (shuffle write +
    # driver re-plan) that a runtime conversion still pays. At 100 TB
    # the fact tables are orders of magnitude over ANY threshold, so
    # the scale plan (SMJ/SHJ on natural keys) is unchanged; only
    # bounded dims/stat tables move earlier. Measured on the headline
    # six at sf0.1: ~5% total wall in a same-session interleaved A/B.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for pandas UDF / toPandas boundaries (the only sanctioned
    # Python touchpoints).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Skip Catalyst's constraint inference (round 11). The pass is
    # O(expressions^2) per plan node and dominates DRIVER time on deep
    # plans (measured at sf0.1: q139's 3-iteration join chain plans in
    # 0.57 s vs 2.17 s with it on; q105 0.09 s vs 0.55 s; end-to-end
    # exec mins −10-20% across the headline set). What it buys —
    # inferred IS NOT NULL / transitively-copied predicates on join
    # inputs — is redundant for this engine's surface: every registry
    # query states its scan-side filters explicitly (the oracle
    # contract forces explicit null semantics), so the inferred
    # duplicates only cost planning time. Inner-join null-key rows
    # never match regardless, so results are identical; this is the
    # standard production knob for wide/iterative plans. A cluster
    # deployment that relies on inferred cross-side pushdown can
    # re-enable per-session.
    "spark.sql.constraintPropagation.enabled": "false",
}


# Sessions already configured by configure_session. Round 12: every
# load_table call re-ran the 13 conf.set py4j round trips — on a host
# with ms-scale py4j latency that was 30-100 ms of pure driver chatter
# PER TABLE LOAD inside the bench's timed region. Round 13 (ADVICE
# r12): a WeakSet instead of a bare id() set — a stopped, GC'd
# session's address can be reused by a new SparkSession object, which
# would then silently skip the correctness-relevant confs (UTC tz,
# nanosAsLong); holding weak references makes the memo track object
# LIFETIME, not address, with zero py4j traffic on the hot path.
_CONFIGURED_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply oracle/scale hygiene to an existing session (idempotent,
    memoized per session object)."""
    if spark in _CONFIGURED_SESSIONS:
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-fatal: a locked-down conf just means the session owner
            # already chose a value.
            pass
    _CONFIGURED_SESSIONS.add(spark)
    return spark


def _daemon_confs(master: str) -> dict[str, str]:
    """The worker-daemon conf for a ``local`` / ``local[N]`` master whose
    workers can import this package (see get_spark); none otherwise."""
    if not re.fullmatch(r"local(\[[^\]]*\])?", master.strip()):
        return {}
    # the daemon is `python -m` in the driver's cwd with its PYTHONPATH
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    paths += site.getsitepackages() + [site.getusersitepackages()]
    if not any(p and os.path.abspath(p) == root for p in paths):
        return {}
    return {"spark.python.daemon.module": "etl_everywhere_hub_spark.pyworker_daemon"}


def get_spark(
    app_name: str = "etl-everywhere-hub-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build the engine's session.

    ``local[$SPARK_GRAFT_CPUS]`` in this container; on a real cluster the
    master comes from the environment and everything else is unchanged —
    the engine never assumes single-node.

    A ``local`` / ``local[N]`` master also gets
    ``spark.python.daemon.module`` = ``pyworker_daemon``: on CPython < 3.12
    each task's ``importlib.invalidate_caches()`` otherwise re-reads the
    whole directory of pyspark.zip, the py4j zip and the spark-core jar
    (about 0.1 s per task, even on a reused worker). Measured on a 4-core
    host, 3 task slots: a trivial 1-task Python job 0.21-0.25 -> 0.11 s,
    an 8-task one 0.58-0.66 -> 0.21 s, q50's 8-task stateful stage
    1.38-1.65 -> 0.66-0.95 s. Only local masters get it, and only
    when the package is importable from the driver's cwd, PYTHONPATH or
    site-packages: that is where their daemon, started on the driver's
    host, looks for it. Executors of any other master may receive the
    package only through ``--py-files``, which the worker adds to its path
    after the daemon has started, so they keep the stock daemon.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # Match parallelism at test scale; AQE coalesces below this and
        # a cluster deployment overrides via SPARK_SHUFFLE_PARTITIONS.
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in {**_RUNTIME_CONFS, **_daemon_confs(master)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return configure_session(spark)
