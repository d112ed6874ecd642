"""Parquet footer statistics from a file TAIL, decoded by pyarrow.

Why this belongs in the engine: at 100 TB the mechanism that makes
queries cheap is not reading data — it's NOT reading data, and the
thing that decides is the parquet FOOTER: per-row-group, per-column
min/max/null-count statistics plus page offsets. Spark's scan uses
them internally, but an engine that plans its own file skipping
(deltalite's add-stats pruning, a catalog sweep over millions of
files, a "which shards could hold key K" planner) needs to read
footers WITHOUT launching a JVM scan per file — a footer is a ~KB
range request at the file tail, the canonical object-store pattern.

- Framing, from the parquet format: the trailing PAR1 magic and the
  4-byte little-endian footer length, so a tail too short for its
  footer fails with a widen-the-range message.
- The Thrift FileMetaData is decoded by pyarrow
  (``pq.read_metadata`` over the tail buffer); ``footer_stats``
  flattens it to one dict per column chunk with the statistics in
  their plain physical values (min_value/max_value, falling back to
  the legacy min/max as pyarrow does).

Foreign pins (tests/test_parquet_meta.py): DuckDB's
``parquet_metadata()`` table function over the SAME files — every
offset, size, count, codec, encoding list, and rendered stat value
matches row for row — plus files written by Spark itself, DuckDB, and
pyarrow (the engine writes parquet through Spark).

Scale posture: ``footer_stats`` needs only the file TAIL (footer
length + 8 bytes; a 1 MiB tail covers every real footer we've seen
and the reader tells you loudly when it doesn't). A catalog sweep is
then: list files, range-read tails in parallel tasks, decode
worker-side — bytes moved are O(files x footer), not O(data). The
q372 query does exactly that shape over the testdata tables and
proves the decoded stats against the data itself relationally.
"""
from __future__ import annotations

import json
import struct

_MAGIC = b"PAR1"
_UNITS = {"milliseconds": "MILLIS", "microseconds": "MICROS",
          "nanoseconds": "NANOS"}
# pyarrow names codecs by its own enum: parquet's LZ4_RAW is its 'LZ4',
# and parquet's Hadoop-framed LZ4 has no pyarrow name at all
_CODECS = {"LZ4": "LZ4_RAW", "UNKNOWN": "LZ4"}


def _read_metadata(data: bytes):
    """pyarrow FileMetaData of the footer at the end of ``data`` (the
    whole file or a tail slice holding footer length + 8 bytes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if len(data) < 12:
        raise ValueError("parquet: shorter than the minimal file")
    if data[-4:] != _MAGIC:
        raise ValueError("parquet: missing trailing PAR1 magic")
    meta_len = struct.unpack("<I", data[-8:-4])[0]
    if meta_len + 8 > len(data):
        raise ValueError(
            f"parquet: footer is {meta_len} bytes but only "
            f"{len(data) - 8} tail bytes were provided — widen the "
            "tail range request"
        )
    try:
        return pq.read_metadata(pa.BufferReader(data))
    except OSError as e:
        raise ValueError(f"parquet: {str(e).strip()}") from None


def parse_footer(data: bytes) -> dict:
    """num_rows and created_by of the footer at the end of ``data``
    (the whole file or a tail slice)."""
    md = _read_metadata(data)
    return {"num_rows": md.num_rows, "created_by": md.created_by or ""}


def _logical(lt) -> str | None:
    """Label of a leaf's LogicalType (pyarrow folds legacy converted
    types into it): STRING, DATE, DECIMAL, ..., TIMESTAMP(MICROS),
    INTEGER(16,signed); None for an unannotated column."""
    t = lt.type
    if t == "NONE":
        return None
    if t in ("TIMESTAMP", "TIME", "INT"):
        j = json.loads(lt.to_json())
        if t == "INT":
            return "INTEGER(%d,%s)" % (
                j["bitWidth"], "signed" if j["isSigned"] else "unsigned")
        return f"{t}({_UNITS.get(j['timeUnit'], '?')})"
    return t


def _plain(v, ptype: str):
    """A raw statistics value as the engine reads it: BYTE_ARRAY and
    FIXED_LEN_BYTE_ARRAY render as UTF-8 text (all engine uses are
    string columns). INT96 has no defined stats order, so pyarrow
    reports no statistics for it."""
    if ptype in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
        return v.decode("utf-8", "replace")
    return v


def footer_stats(data: bytes) -> list:
    """Flatten the footer into one dict per (row group, column chunk):
    path, physical type, logical annotation, codec, encodings,
    num_values, sizes, page offsets, and statistics (null/distinct
    counts, min/max). This is the file-skipping planner's input."""
    md = _read_metadata(data)
    logical = [_logical(md.schema.column(i).logical_type)
               for i in range(md.num_columns)]
    out = []
    for rg_ix in range(md.num_row_groups):
        rg = md.row_group(rg_ix)
        for ci in range(rg.num_columns):
            cc = rg.column(ci)
            st = cc.statistics
            mm = st is not None and st.has_min_max
            out.append({
                "row_group": rg_ix,
                "rg_num_rows": rg.num_rows,
                "path": cc.path_in_schema,
                "type": cc.physical_type,
                "logical": logical[ci],
                "codec": _CODECS.get(cc.compression, cc.compression),
                "encodings": sorted(cc.encodings),
                "num_values": cc.num_values,
                "total_uncompressed_size": cc.total_uncompressed_size,
                "total_compressed_size": cc.total_compressed_size,
                "data_page_offset": cc.data_page_offset,
                "dictionary_page_offset": cc.dictionary_page_offset,
                "null_count": st.null_count if st is not None else None,
                "distinct_count": st.distinct_count if st is not None else None,
                "min": _plain(st.min_raw, cc.physical_type) if mm else None,
                "max": _plain(st.max_raw, cc.physical_type) if mm else None,
            })
    return out


def read_footer_tail(path: str, tail: int = 1 << 20) -> bytes:
    """The range-request shape: read at most ``tail`` bytes from the
    file end — what an object-store catalog sweep issues per file.
    parse_footer raises with a widen-the-range message if the footer
    is larger."""
    import os

    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        if size > tail:
            fh.seek(size - tail)
        return fh.read()
