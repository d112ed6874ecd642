"""DEFLATE/gzip/WARC codec tests (multimodal/deflate.py, warc.py):
block-type matrix roundtrips, zlib/gzip FOREIGN interop both
directions, error paths, member walks, WARC grammar."""

from __future__ import annotations

import gzip as stdlib_gzip
import struct
import zlib

import pytest

from etl_everywhere_hub_spark.multimodal.deflate import (
    deflate,
    gunzip_member,
    gunzip_members,
    gzip_member,
    inflate,
)
from etl_everywhere_hub_spark.multimodal.warc import (
    build_warc_gz,
    build_warc_record,
    parse_warc_record,
    parse_warc_records,
    read_warc_gz,
)

CASES = [
    b"",
    b"a",
    b"abcabcabcabcabc" * 20,
    bytes(range(256)) * 5,
    b"the quick brown fox " * 100,
    bytes((i * 7 + (i >> 3)) % 256 for i in range(5000)),  # pseudo-random
]


@pytest.mark.parametrize("btype", [0, 1, 2])
@pytest.mark.parametrize("bs", [None, 37, 1000])
def test_deflate_roundtrip_matrix(btype, bs):
    for d in CASES:
        enc = deflate(d, btype=btype, block_size=bs)
        dec, end = inflate(enc)
        assert dec == d and end == len(enc)
        # foreign decoder accepts our stream
        assert zlib.decompress(enc, wbits=-15) == d


@pytest.mark.parametrize("level", [0, 1, 6, 9])
def test_inflate_decodes_zlib_streams(level):
    for d in CASES:
        raw = zlib.compress(d, level)[2:-4]  # strip zlib wrapper+adler
        dec, _ = inflate(raw)
        assert dec == d


def test_stored_block_long_input_splits():
    d = bytes(i % 251 for i in range(70000))  # > 65535 forces 2 blocks
    enc = deflate(d, btype=0)
    assert inflate(enc)[0] == d
    assert zlib.decompress(enc, wbits=-15) == d


def test_window_spans_block_boundaries():
    # a match in block 2 referencing bytes emitted in block 1
    d = b"0123456789abcdef" * 8
    enc = deflate(d, btype=2, block_size=16)
    assert inflate(enc)[0] == d


def test_inflate_error_paths():
    with pytest.raises(ValueError, match="truncated"):
        inflate(b"")
    with pytest.raises(ValueError, match="invalid block type"):
        inflate(bytes([0b111]))  # bfinal=1 btype=3
    # stored LEN/NLEN mismatch
    bad = bytes([0b001]) + struct.pack("<HH", 5, 5)
    with pytest.raises(ValueError, match="invalid stored block lengths"):
        inflate(bad)
    # distance beyond window start
    good = deflate(b"abcabc", btype=1)
    dec, _ = inflate(good)
    assert dec == b"abcabc"


@pytest.mark.parametrize("max_len", [7, 15])
def test_depth_limited_codes_are_complete(max_len):
    # Frequencies whose plain Huffman tree is deeper than the cap force
    # the depth repair; its lengths must still form a COMPLETE prefix
    # code (Kraft sum exactly 1), or zlib rejects the block header with
    # "invalid code lengths set" (max_len 7 is the code-length code).
    from etl_everywhere_hub_spark.multimodal.deflate import _limited_huffman

    fib = [1, 1]
    while len(fib) < 24:
        fib.append(fib[-1] + fib[-2])
    for shape in (fib, [2 ** i for i in range(20)]):
        for n in range(max_len + 2, len(shape) + 1):
            lens = _limited_huffman(dict(enumerate(shape[:n])), max_len)
            assert max(lens) <= max_len
            assert sum(2 ** (max_len - x) for x in lens if x) == 2 ** max_len


def test_gzip_member_fields_and_crc():
    d = b"payload" * 50
    g = gzip_member(d, name="f.warc", extra=b"XX", comment="hi",
                    fhcrc=True, mtime=99)
    m = gunzip_member(g)
    assert m["payload"] == d
    assert m["name"] == "f.warc" and m["extra"] == b"XX"
    assert m["comment"] == "hi" and m["mtime"] == 99
    assert m["member_end"] == len(g)
    # stdlib accepts ours, we accept stdlib's
    assert stdlib_gzip.decompress(g) == d
    assert gunzip_member(stdlib_gzip.compress(d, 7))["payload"] == d


def test_gzip_error_paths():
    d = b"x" * 100
    g = bytearray(gzip_member(d))
    with pytest.raises(ValueError, match="magic"):
        gunzip_member(b"\x1f\x8c" + bytes(g[2:]))
    with pytest.raises(ValueError, match="compression method"):
        gunzip_member(b"\x1f\x8b\x07" + bytes(g[3:]))
    bad_crc = bytes(g[:-8]) + struct.pack("<II", 0, len(d))
    with pytest.raises(ValueError, match="CRC32"):
        gunzip_member(bad_crc)
    bad_size = bytes(g[:-4]) + struct.pack("<I", 1)
    with pytest.raises(ValueError, match="ISIZE"):
        gunzip_member(bad_size)
    with pytest.raises(ValueError, match="truncated"):
        gunzip_member(bytes(g[:-3]))
    # FHCRC corruption
    gh = bytearray(gzip_member(d, fhcrc=True))
    gh[10] ^= 0xFF
    with pytest.raises(ValueError, match="FHCRC"):
        gunzip_member(bytes(gh))


def test_multi_member_walk_offsets():
    blobs = [b"first" * 10, b"", b"third" * 33]
    data = b"".join(gzip_member(b, btype=i % 3) for i, b in enumerate(blobs))
    ms = gunzip_members(data)
    assert [m["payload"] for m in ms] == blobs
    # contiguous, exhaustive member ranges
    assert ms[0]["member_start"] == 0
    for a, b in zip(ms, ms[1:]):
        assert a["member_end"] == b["member_start"]
    assert ms[-1]["member_end"] == len(data)
    with pytest.raises(ValueError, match="magic"):
        gunzip_members(data + b"garbage")


def test_warc_record_roundtrip():
    rec = build_warc_record(
        "response", b"<html>hi</html>", "id-1",
        uri="http://example.com/a", extra_headers=[("Content-Type", "text/html")],
    )
    parsed, end = parse_warc_record(rec)
    assert end == len(rec)
    assert parsed["type"] == "response"
    assert parsed["uri"] == "http://example.com/a"
    assert parsed["payload"] == b"<html>hi</html>"
    assert ("Content-Type", "text/html") in parsed["headers"]
    # concatenated records
    two = rec + build_warc_record("request", b"GET /", "id-2")
    rs = parse_warc_records(two)
    assert [r["type"] for r in rs] == ["response", "request"]


def test_warc_grammar_errors():
    with pytest.raises(ValueError, match="version"):
        parse_warc_record(b"HTTP/1.1 200\r\n\r\n")
    rec = build_warc_record("response", b"abc", "x")
    with pytest.raises(ValueError, match="payload truncated"):
        parse_warc_record(rec[:-5])
    # strip terminator
    with pytest.raises(ValueError, match="terminator"):
        parse_warc_record(rec[:-4] + b"XXXX")
    # remove Content-Length
    no_cl = rec.replace(b"Content-Length: 3\r\n", b"")
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc_record(no_cl)


def test_warc_gz_end_to_end():
    recs = [
        build_warc_record("warcinfo", b"software: test", "w0"),
        build_warc_record("request", b"GET /x", "r1", uri="http://e.com/x"),
        build_warc_record("response", b"B" * 500, "r2", uri="http://e.com/x"),
    ]
    gz = build_warc_gz(recs)
    out = read_warc_gz(gz)
    assert [r["type"] for r in out] == ["warcinfo", "request", "response"]
    assert out[2]["payload"] == b"B" * 500
    assert out[0]["member_start"] == 0 and out[-1]["member_end"] == len(gz)
    # stdlib gzip agrees the stream is a valid multi-member file
    assert stdlib_gzip.decompress(gz) == b"".join(recs)
    # a member with two records violates splittability
    two_in_one = gzip_member(recs[0] + recs[1])
    with pytest.raises(ValueError, match="not a record-splittable|holds 2"):
        read_warc_gz(two_in_one)
