"""Lineage truncation shared by the operators.

An operator whose intermediate feeds several consumers (a signature
chain and two verification joins, a graph round's next iteration)
materializes it once and cuts the lineage there, so each consumer
reads the stored rows instead of re-planning and re-running the
upstream DAG, and downstream plans stop embedding its subtree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and return a frame over the stored rows.

    With a checkpoint directory set (``sparkContext.setCheckpointDir``)
    this is the reliable ``checkpoint(eager=True)``: the rows are
    written to that directory and survive the loss of the executor
    that computed them. Without one it is ``localCheckpoint(eager=True)``
    (executor block storage, no extra write; a lost executor fails the
    query instead of recomputing). Either way the returned frame's
    plan is a scan of the materialized rows."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
