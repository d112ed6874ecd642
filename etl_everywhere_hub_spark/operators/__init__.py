from etl_everywhere_hub_spark.operators import (
    asof,
    dedup,
    graph,
    lineage,
    sampling,
    similarity,
    skew,
    windows,
)

__all__ = ["asof", "dedup", "graph", "lineage", "sampling", "similarity", "skew", "windows"]
