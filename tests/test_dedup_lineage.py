"""MinHash near-dup materializes ONE per-document frame through
lineage.truncate: one eager job while the query is built, no cached
subtree in the plan, and the reliable checkpoint when a checkpoint
directory is set — with answers identical on every path."""

from __future__ import annotations

import os

import pytest

from etl_everywhere_hub_spark.catalog import load_table
from etl_everywhere_hub_spark.operators.dedup import (
    await_cap_accounting,
    minhash_near_dup,
)
from etl_everywhere_hub_spark.operators.lineage import truncate
from etl_everywhere_hub_spark.plans import explain as X

pytestmark = pytest.mark.critical

# Adaptive execution runs each shuffle stage as its own job, named after
# the thread-capture call site; every other job is an action.
_AQE_STAGE_JOB = "$anonfun$withThreadLocalCaptured"


def _action_stage_names(spark, group: str) -> list[str]:
    """Result-stage name of every non-AQE job fired under ``group``
    (a job's result stage is its highest-numbered stage)."""
    st = spark.sparkContext.statusTracker()
    names = []
    for jid in st.getJobIdsForGroup(group):
        last = st.getStageInfo(max(st.getJobInfo(jid).stageIds))
        if not last.name.startswith(_AQE_STAGE_JOB):
            names.append(last.name)
    return names


def _build_under_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _pairs(df) -> list[tuple]:
    return sorted((r["a"], r["b"], round(r["jaccard"], 12)) for r in df.collect())


@pytest.fixture()
def checkpoint_dir(spark, tmp_path):
    """Set the context's checkpoint directory for one test, then unset
    it (PySpark has no public unset)."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        yield tmp_path / "ckpt"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
        assert sc.getCheckpointDir() is None


def test_collapse_build_fires_one_materialization(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    out = _build_under_group(
        spark,
        "test-minhash-collapse-build",
        lambda: minhash_near_dup(
            d, collapse_exact=True, threshold=0.8, max_bucket_size=1000
        ),
    )
    await_cap_accounting()  # its job runs on another thread, outside the group
    actions = _action_stage_names(spark, "test-minhash-collapse-build")
    assert len(actions) == 1 and actions[0].startswith("localCheckpoint"), actions
    # the lineage is cut: no cached subtree, so no InMemoryTableScan
    plan = X.physical_plan(out)
    assert "InMemoryTableScan" not in plan, plan[:3000]
    assert "Scan ExistingRDD" in plan


def test_truncate_writes_to_checkpoint_dir(spark, checkpoint_dir):
    df = spark.range(50).selectExpr("id", "id * 3 AS v")
    out = _build_under_group(
        spark, "test-truncate-reliable", lambda: truncate(df)
    )
    actions = _action_stage_names(spark, "test-truncate-reliable")
    assert len(actions) == 1 and actions[0].startswith("checkpoint"), actions
    written = [f for _, _, fs in os.walk(checkpoint_dir) for f in fs]
    assert any(f.startswith("part-") for f in written), written
    assert sorted(map(tuple, out.collect())) == [(i, 3 * i) for i in range(50)]


@pytest.fixture()
def local_answers(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return {
        c: _pairs(minhash_near_dup(d, collapse_exact=c, threshold=0.5))
        for c in (False, True)
    }


def test_near_dup_same_answer_with_reliable_checkpoint(
    spark, sf_dir, local_answers, checkpoint_dir
):
    assert local_answers[False] == local_answers[True] and local_answers[True]
    d = load_table(spark, sf_dir, "documents")
    for c in (False, True):
        got = _pairs(minhash_near_dup(d, collapse_exact=c, threshold=0.5))
        assert got == local_answers[c]
    assert os.listdir(checkpoint_dir)
