"""Parquet footer reader (sources/parquet_meta.py): PAR1 framing and
loud failure on truncated or corrupt Thrift footers, then the footer
layer pinned against THREE foreign writers/readers — DuckDB's
parquet_metadata() over every testdata table (field-for-field),
pyarrow's metadata API on multi-row-group files with nulls, and
Spark's own parquet writer under gzip/zstd."""
from __future__ import annotations

import datetime
import struct

import duckdb
import numpy as np
import pytest

from etl_everywhere_hub_spark.sources.parquet_meta import (
    footer_stats,
    parse_footer,
    read_footer_tail,
)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# ------------------------------------------------------------ framing

def _cut_footer_blobs():
    """pyarrow-written footers with valid PAR1 framing around Thrift
    bytes cut short at every length, plus one with a wire type that
    does not exist (0xD)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.table({"k": [1, 2, 3], "s": ["a", "b", None]}), buf)
    data = buf.getvalue()
    n = struct.unpack("<I", data[-8:-4])[0]
    footer = data[-8 - n:-8]
    for keep in range(n):
        yield b"PAR1" + footer[:keep] + struct.pack("<I", keep) + b"PAR1"
    yield b"PAR1" + b"\x1D" + footer[1:] + struct.pack("<I", n) + b"PAR1"


def test_thrift_truncation_is_loud():
    """A footer whose Thrift FileMetaData is truncated or carries an
    unknown wire type raises a ValueError naming parquet — from
    parse_footer and footer_stats alike, never a partial answer."""
    for blob in _cut_footer_blobs():
        for read in (parse_footer, footer_stats):
            with pytest.raises(ValueError, match="^parquet: "):
                read(blob)


def test_footer_frame_errors():
    with pytest.raises(ValueError, match="trailing PAR1"):
        parse_footer(b"x" * 16)
    with pytest.raises(ValueError, match="widen the tail"):
        parse_footer(b"\x00" * 4 + struct.pack("<I", 10 ** 6) + b"PAR1")
    with pytest.raises(ValueError, match="shorter than"):
        parse_footer(b"PAR1")


# -------------------------------------------------- duckdb foreign pin

def _render(s, v):
    """Render a decoded stat the way DuckDB's parquet_metadata prints
    it (temporal units from the footer's own LogicalType, float32
    repr for FLOAT columns)."""
    if v is None:
        return None
    lg = s["logical"] or ""
    if lg.startswith("TIMESTAMP"):
        div = {"MILLIS": 1, "MICROS": 1000, "NANOS": 1000000}[lg[10:-1]]
        return str(datetime.datetime(1970, 1, 1)
                   + datetime.timedelta(microseconds=v * 1000 // div))
    if lg == "DATE":
        return str(datetime.date(1970, 1, 1) + datetime.timedelta(days=v))
    if s["type"] == "FLOAT":
        return repr(np.float32(v))
    if isinstance(v, float):
        return repr(v)
    return str(v)


@pytest.mark.parametrize("table", TABLES)
def test_duckdb_parquet_metadata_pin(table, sf_dir):
    """Every field of every column chunk of every testdata table:
    counts, offsets, sizes, codec, encodings, null counts, and
    decoded min/max (incl. temporal and float32 rendering) must match
    DuckDB's own parquet reader exactly."""
    f = f"{sf_dir}/{table}.parquet"
    ours = {(s["row_group"], s["path"]): s
            for s in footer_stats(read_footer_tail(f))}
    d = duckdb.sql(
        "select row_group_id, path_in_schema, num_values,"
        " stats_min_value, stats_max_value, stats_null_count,"
        " compression, encodings, data_page_offset,"
        " dictionary_page_offset, total_compressed_size,"
        " total_uncompressed_size"
        f" from parquet_metadata('{f}')").df()
    assert len(d) == len(ours) > 0
    for _, r in d.iterrows():
        s = ours[(r.row_group_id, r.path_in_schema.replace(", ", "."))]
        assert s["codec"] == r.compression
        assert s["encodings"] == sorted(
            x.strip() for x in r.encodings.split(","))
        for key, b in [
            ("num_values", r.num_values),
            ("data_page_offset", r.data_page_offset),
            ("dictionary_page_offset", r.dictionary_page_offset),
            ("total_compressed_size", r.total_compressed_size),
            ("total_uncompressed_size", r.total_uncompressed_size),
            ("null_count", r.stats_null_count),
        ]:
            want = int(b) if b == b else None  # NaN -> absent
            assert s[key] == want, (s["path"], key, s[key], b)
        if r.stats_min_value is None:
            assert s["min"] is None
        else:
            assert _render(s, s["min"]) == str(r.stats_min_value), s["path"]
            assert _render(s, s["max"]) == str(r.stats_max_value), s["path"]


def test_multi_row_group_with_nulls(tmp_path):
    """pyarrow writes 5 row groups with nulls and string stats; our
    per-row-group decode matches BOTH pyarrow's metadata API and
    DuckDB, and per-group min/max tighten (the pruning story)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 1000
    tbl = pa.table({
        "k": pa.array([None if i % 7 == 0 else i for i in range(n)],
                      type=pa.int64()),
        "s": pa.array(["w%04d" % (i * 13 % n) for i in range(n)]),
    })
    f = str(tmp_path / "mrg.parquet")
    pq.write_table(tbl, f, row_group_size=200)
    stats = footer_stats(read_footer_tail(f))
    ks = [s for s in stats if s["path"] == "k"]
    ss = [s for s in stats if s["path"] == "s"]
    assert len(ks) == 5 == len(ss)
    md = pq.ParquetFile(f).metadata
    for rg in range(5):
        pk = md.row_group(rg).column(0).statistics
        assert ks[rg]["min"] == pk.min and ks[rg]["max"] == pk.max
        assert ks[rg]["null_count"] == pk.null_count
        assert ks[rg]["num_values"] == md.row_group(rg).num_rows
        ps = md.row_group(rg).column(1).statistics
        assert ss[rg]["min"] == ps.min and ss[rg]["max"] == ps.max
    # per-group ranges tighten vs the file-global range: row group 2
    # cannot contain k=999, so a k=999 probe prunes 4/5 of the file
    assert ks[2]["min"] > 0 and ks[2]["max"] < 999
    d = duckdb.sql(
        f"select row_group_id, stats_min_value, stats_null_count "
        f"from parquet_metadata('{f}') where path_in_schema='k' "
        f"order by row_group_id").fetchall()
    for rg, mn, nc in d:
        assert str(ks[rg]["min"]) == mn and ks[rg]["null_count"] == nc


def test_spark_written_parquet(spark, tmp_path):
    """Spark's own parquet writer under gzip and zstd: our footer
    decode attributes the codec and totals num_values correctly."""
    import glob

    df = spark.range(5000).selectExpr("id", "id % 13 as m",
                                      "repeat('x', 20) as s")
    for codec in ("gzip", "zstd"):
        out = str(tmp_path / codec)
        df.coalesce(1).write.option("compression", codec).parquet(out)
        f = glob.glob(out + "/part-*.parquet")[0]
        stats = footer_stats(read_footer_tail(f))
        assert {s["codec"] for s in stats} == {codec.upper()
                                               if codec == "gzip"
                                               else "ZSTD"}
        id_chunks = [s for s in stats if s["path"] == "id"]
        assert sum(s["num_values"] for s in id_chunks) == 5000
        assert min(s["min"] for s in id_chunks) == 0
        assert max(s["max"] for s in id_chunks) == 4999
        footer = parse_footer(read_footer_tail(f))
        assert footer["num_rows"] == 5000
        assert "parquet-mr" in footer["created_by"]


def test_tail_range_request_shape(sf_dir):
    """read_footer_tail with a tight budget still decodes (footers
    here are KBs); an absurdly small one fails LOUDLY with the widen
    message, never a wrong answer."""
    f = f"{sf_dir}/lineitem.parquet"
    full = footer_stats(open(f, "rb").read())
    tail = footer_stats(read_footer_tail(f, tail=1 << 16))
    assert full == tail
    with pytest.raises(ValueError, match="widen the tail"):
        parse_footer(read_footer_tail(f, tail=16))


def test_deltalite_logged_stats_match_our_footer_decode(spark, tmp_path):
    """Three layers meet: deltalite harvests per-file stats through
    pyarrow at commit time (sources/deltalite.py:_harvest_stats);
    this reader decodes the SAME files from their footer tails alone.
    They must agree on every file — the engine's pruning metadata
    being provably what the files actually say."""
    import glob
    import json as _json

    from etl_everywhere_hub_spark.sources.deltalite import DeltaliteTable

    t = DeltaliteTable(spark, str(tmp_path / "tbl"))
    df = spark.range(2000).selectExpr(
        "id as k", "id * 7 % 1000 as v",
        "concat('s', lpad(cast(id % 50 as string), 3, '0')) as s")
    t.create(df.repartition(4))
    checked = 0
    for f in glob.glob(str(tmp_path / "tbl") + "/**/*.parquet",
                       recursive=True):
        if "_delta_log" in f or "_staging" in f:
            continue
        stats = footer_stats(read_footer_tail(f))
        by_col = {}
        for s in stats:
            c = by_col.setdefault(s["path"], {
                "n": 0, "nulls": 0, "min": None, "max": None})
            c["n"] += s["num_values"]
            c["nulls"] += s["null_count"] or 0
            c["min"] = s["min"] if c["min"] is None else min(
                c["min"], s["min"])
            c["max"] = s["max"] if c["max"] is None else max(
                c["max"], s["max"])
        rel = f.split("tbl/")[-1]
        snap = t.snapshot()
        add = snap.files.get(rel)
        assert add is not None, rel
        logged = _json.loads(add["stats"])
        assert logged["numRecords"] == by_col["k"]["n"]
        for col in ("k", "v", "s"):
            assert logged["minValues"][col] == by_col[col]["min"], col
            assert logged["maxValues"][col] == by_col[col]["max"], col
            assert logged["nullCount"][col] == by_col[col]["nulls"], col
        checked += 1
    assert checked == 4


def test_sized_int_logical_annotation(tmp_path):
    """Round-12 review regression: LogicalType union id 10 is
    INTEGER (IntType), not UUID; sized signed ints must stay
    prunable in the catalog sweep, unsigned must not decode as
    signed longs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "i16": pa.array([-5, 0, 7], type=pa.int16()),
        "u32": pa.array([1, 2, 3], type=pa.uint32()),
    })
    f = str(tmp_path / "sized.parquet")
    pq.write_table(tbl, f)
    stats = {s["path"]: s for s in footer_stats(read_footer_tail(f))}
    assert stats["i16"]["logical"] == "INTEGER(16,signed)"
    assert stats["u32"]["logical"] == "INTEGER(32,unsigned)"
    assert stats["i16"]["min"] == -5 and stats["i16"]["max"] == 7
