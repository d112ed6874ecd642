"""The benchmark's workloads: which registry queries run, at what size, and why.

Each workload is one client in a closed loop: a pass runs the query list
once, in order, each query materialized before the next starts.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]  # registry ids, e.g. "q01"
    sf: float  # scale factor of the generated inputs
    pass_s: float  # typical warm pass on a 4-core host; sets the number of timed passes
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational",
            ("q01", "q105", "q29", "q34", "q127", "q156"),
            0.01,
            2.5,
            "JVM scan, star join, window, device-cache and geo joins; almost no "
            "Python-boundary work, so a codec or streaming change should not move it",
        ),
        Workload(
            "llm_text",
            ("q39", "q41", "q116", "q43"),
            0.01,
            3.5,
            "string shuffles and eager jobs fired while a query is built: the "
            "q41/q116/q39 hot spots plus q43 cosine top-k",
        ),
        Workload(
            "stream_lake",
            ("q50", "q346"),
            0.01,
            5.5,
            "streaming micro-batches with state-store checkpoints (the push/poll "
            "device cache) and deltalite commits: the only workload that writes",
        ),
    )
}
