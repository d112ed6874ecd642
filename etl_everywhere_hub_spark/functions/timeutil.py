"""Time conversions mirroring the reference's wire conventions.

The reference carries epoch-milliseconds integers on the wire
(trackPoint.time, /root/reference/task.ts:20) and converts with
``new Date(ms).toISOString()`` (task.ts:129-130,136) — i.e. UTC
ISO-8601 with milliseconds and a literal Z. We reproduce that exact
string shape so downstream TAK consumers see identical payloads.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ISO_MILLIS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def epoch_ms_to_ts(col: Column) -> Column:
    """epoch millis (int64) → TIMESTAMP (UTC instant)."""
    return F.timestamp_millis(col.cast("long"))


def epoch_ms_to_iso(col: Column) -> Column:
    """epoch millis → 'YYYY-MM-DDTHH:mm:ss.sssZ' exactly like
    Date.prototype.toISOString (task.ts:129)."""
    return F.date_format(epoch_ms_to_ts(col), ISO_MILLIS_FMT)
