from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from etl_everywhere_hub_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def multisplit_parquet(spark, tmp_path_factory) -> str:
    """A single ~33 MB incompressible parquet file whose scan yields
    >= defaultParallelism splits under the default 128 MB/4 MB split
    confs (maxSplitBytes = (S+4M)/parallelism for S this size, so the
    file splits into ~parallelism chunks). Used by the spread-guard
    no-op tests: tiny multi-FILE layouts cannot exceed parallelism —
    openCost packing asymptotes below it — so a big splittable file is
    the honest at-scale shape."""
    from pyspark.sql import functions as F

    path = str(tmp_path_factory.mktemp("bigscan") / "big.parquet")
    (
        spark.range(4_400_000)
        .select("id", F.rand(seed=7).alias("x"), F.randn(seed=11).alias("y"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "critical: fast driver-verifiable gate (VERDICT r12 #7) — entry "
        "contract, headline-query oracle, plan gates, LSH caps, spread "
        "guards. `pytest -m critical` finishes well inside the driver's "
        "verify window (<5 min), unlike the full Spark-heavy suite.",
    )


def pytest_collection_modifyitems(config, items):
    """Mark the HEADLINE subset of the full oracle sweep as critical —
    the 19 bench queries vs DuckDB at sf0.001 — so `-m critical`
    carries real differential coverage without the 379-query cost."""
    from etl_everywhere_hub_spark.queries import REGISTRY

    headline = {n for n, q in REGISTRY.items() if q.headline}
    for item in items:
        if getattr(item, "originalname", None) == "test_query_matches_oracle":
            params = getattr(item, "callspec", None)
            if params is not None and params.params.get("name") in headline:
                item.add_marker(pytest.mark.critical)


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Env-blocked skips must be LOUD (VERDICT r7 item #8): a plain
    's' in the progress bar hides that a whole verification path did
    not run. Print each skip with its reason."""
    skipped = terminalreporter.stats.get("skipped", [])
    if not skipped:
        return
    terminalreporter.section("environment-blocked skips (NOT verified here)")
    for rep in skipped:
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else rep.longrepr
        terminalreporter.write_line(f"SKIPPED {rep.nodeid}")
        terminalreporter.write_line(f"    {reason}")
