"""Engine-portable deterministic hashing.

Everything here is expressible identically in Spark SQL and ANSI-ish
SQL (DuckDB), which is what makes MinHash/SimHash/fingerprints
oracle-checkable: both engines agree on md5 hex, so any hash derived
from md5 text is bit-identical across engines. xxhash64/crc32 exist in
Spark but hash differently elsewhere — we use them only for internal
partitioning, never in results.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column) -> Column:
    """First 15 hex chars of md5 as a non-negative int64 (60 bits).

    Portable: DuckDB spells it ('0x' || substr(md5(x),1,15))::BIGINT.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def seeded_md5(col: Column, seed: int | Column) -> Column:
    """md5(x || '|' || seed) — a cheap family of independent hash fns."""
    seed_col = F.lit(str(seed)) if isinstance(seed, int) else seed.cast("string")
    return F.md5(F.concat(col, F.lit("|"), seed_col))


def stable_bucket(col: Column, n_buckets: int) -> Column:
    """Deterministic bucket id in [0, n_buckets) — portable pmod of md5."""
    return F.pmod(md5_long(col), F.lit(n_buckets)).cast("int")
