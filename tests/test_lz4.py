"""LZ4 codec tests (multimodal/lz4.py): xxh32 spec vectors, the lz4
CLI as FOREIGN encoder (all levels) and FOREIGN decoder (our frames
must be accepted), the frame-feature matrix (store / block checksums
/ content size / linked blocks), hand-built blocks pinning overlap
and extension-byte layouts, multi-frame walks with skippable frames,
the .jsonl.lz4 record walk, and error paths: every truncation and a
flipped payload byte raise a ValueError naming lz4."""

from __future__ import annotations

import hashlib
import shutil
import struct
import subprocess

import pytest

from etl_everywhere_hub_spark.multimodal.lz4 import (
    decode_frame,
    decompress,
    jsonl_lz4_records,
    lz4_block_decode,
    lz4_block_encode,
    lz4_compress,
    lz4_frames,
    skippable_frame,
    xxh32,
)

_CLI = shutil.which("lz4")
needs_cli = pytest.mark.skipif(_CLI is None, reason="no lz4 CLI in PATH")


def _pseudo(n: int, seed: bytes = b"lz4") -> bytes:
    out = bytearray()
    cur = seed
    while len(out) < n:
        cur = hashlib.sha256(cur).digest()
        out += cur
    return bytes(out[:n])


_CASES = [
    b"",
    b"a",
    b"hello world hello world hello",
    b"a" * 100000,                      # one long overlap match
    _pseudo(300000),                    # incompressible, multi-block
    (b"word " * 5000) + _pseudo(100),   # text-like + noise tail
]


# ------------------------------------------------------------ xxh32
def test_xxh32_spec_vectors():
    # xxHash spec sanity values (empty input, and seed variation)
    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"", seed=1) != xxh32(b"")
    # incremental structure: 16-byte lane path vs short path differ
    assert xxh32(b"0123456789abcdef") != xxh32(b"0123456789abcde")


# ---------------------------------------------------- foreign pins
@needs_cli
@pytest.mark.parametrize("level", ["-1", "-9"])
def test_cli_to_ours(level):
    for plain in _CASES:
        comp = subprocess.run(
            ["lz4", level, "-c"], input=plain, capture_output=True
        ).stdout
        assert decompress(comp) == plain, len(plain)


@needs_cli
def test_ours_to_cli_feature_matrix():
    for plain in _CASES:
        for kw in (
            {},
            {"block_checksum": True, "content_size": True},
            {"store": True},
            {"block_indep": False, "block_size_code": 6},
            {"content_checksum": False},
        ):
            ours = lz4_compress(plain, **kw)
            r = subprocess.run(
                ["lz4", "-d", "-c"], input=ours, capture_output=True
            )
            assert r.returncode == 0 and r.stdout == plain, (len(plain), kw)
            assert decompress(ours) == plain


# -------------------------------------------------------- block layer
def test_block_roundtrip_and_overlap():
    for plain in _CASES[1:]:
        assert lz4_block_decode(lz4_block_encode(plain)) == plain
    # hand-built overlap: 1 literal, a 9-byte match at offset 1, then
    # the mandatory literals-only final sequence
    blk = bytes([0x15, ord("x"), 0x01, 0x00, 0x10, ord("y")])
    assert lz4_block_decode(blk) == b"x" * 10 + b"y"
    # ending on a match (no final literal sequence) is corruption
    with pytest.raises(ValueError, match="final sequence"):
        lz4_block_decode(bytes([0x15, ord("x"), 0x01, 0x00]))
    # extension bytes: 20-literal run (15 + ext 5)
    lit = b"abcdefghijklmnopqrst"
    blk = bytes([0xF0, 5]) + lit
    assert lz4_block_decode(blk) == lit


def test_block_end_rules():
    # encoder must keep the last 5 bytes literal and never start a
    # match in the final 12 — verified structurally: decode the last
    # sequence by hand
    plain = b"abcd" * 10  # highly matchable right up to the end
    blk = lz4_block_encode(plain)
    assert lz4_block_decode(blk) == plain
    # the final sequence is literals-only: walking back, the block
    # must not end with a 2-byte offset (decode already proves
    # structure; CLI acceptance in the matrix test proves the rules)


def test_block_errors():
    with pytest.raises(ValueError, match="zero match offset"):
        lz4_block_decode(bytes([0x10, ord("x"), 0x00, 0x00]))
    with pytest.raises(ValueError, match="before the window"):
        lz4_block_decode(bytes([0x10, ord("x"), 0x05, 0x00]))
    with pytest.raises(ValueError, match="literals truncated"):
        lz4_block_decode(bytes([0x40, ord("x")]))


# -------------------------------------------------------- frame layer
def test_frame_feature_flags_roundtrip():
    plain = _pseudo(70000)  # > one 64 KiB block
    fr = decode_frame(lz4_compress(plain, block_checksum=True,
                                   content_size=True))
    assert fr["data"] == plain and fr["n_blocks"] == 2
    fr = decode_frame(lz4_compress(plain, block_indep=False))
    assert fr["data"] == plain and not fr["block_indep"]
    fr = decode_frame(lz4_compress(b"", content_checksum=True))
    assert fr["data"] == b"" and fr["n_blocks"] == 0


def test_linked_blocks_share_window():
    # a 40 KB period (inside the 65535-offset window) repeating
    # across the 64 KiB block grid: linked mode matches into the
    # previous block's window, independent mode cannot
    plain = _pseudo(40000) * 3
    linked = lz4_compress(plain, block_indep=False)
    indep = lz4_compress(plain, block_indep=True)
    assert decompress(linked) == plain == decompress(indep)
    assert len(linked) < len(indep) * 0.8


def test_frame_errors():
    good = lz4_compress(b"payload " * 20)
    bad = bytearray(good)
    bad[5] ^= 0x01  # FLG bit -> header checksum mismatch
    with pytest.raises(ValueError, match="header checksum|reserved"):
        decode_frame(bytes(bad))
    with pytest.raises(ValueError, match="bad magic"):
        decode_frame(b"\x00\x00\x00\x00rest")
    bad = bytearray(good)
    bad[-1] ^= 0xFF  # content checksum field
    with pytest.raises(ValueError, match="contentChecksum_invalid"):
        decode_frame(bytes(bad))
    bad = bytearray(good)
    bad[-5] ^= 0x01  # EndMark corrupted into a giant block size
    with pytest.raises(ValueError, match="exceeds declared max|truncated"):
        decode_frame(bytes(bad))
    with pytest.raises(ValueError, match="DictID"):
        # FLG with dict bit: version 01 + indep + dict = 0x61
        hdr = bytes([0x61, 0x40])
        frame = struct.pack("<I", 0x184D2204) + hdr + bytes(
            [(xxh32(hdr) >> 8) & 0xFF]
        )
        decode_frame(frame + struct.pack("<I", 0))
    # content-size header contradiction
    blob = bytearray(lz4_compress(b"12345678", content_size=True,
                                  content_checksum=False))
    blob[6] ^= 0x01  # low byte of the 8-byte content size
    with pytest.raises(ValueError, match="header checksum"):
        decode_frame(bytes(blob))
    # one flipped payload byte: stored blocks decode anything, so only
    # the checksum catches it; liblz4 may fail on compressed bytes first
    plain = b"payload under checksum " * 400
    for block_cksum, what in ((True, "blockChecksum_invalid"),
                              (False, "contentChecksum_invalid")):
        for store, match in ((True, f"lz4: .*{what}"), (False, "^lz4: ")):
            bad = bytearray(lz4_compress(plain, block_checksum=block_cksum,
                                         store=store))
            bad[len(bad) // 2] ^= 0x01
            with pytest.raises(ValueError, match=match):
                decode_frame(bytes(bad))
    # every truncation of a linked-block frame with block AND content
    # checksums, a skippable frame, then a plain frame
    plain = (b"linked window " * 6000) + _pseudo(5000)
    blob = lz4_compress(plain, block_indep=False, block_checksum=True,
                        content_size=True)
    blob += skippable_frame(b"meta", 2) + lz4_compress(b"tail " * 50)
    frs = lz4_frames(blob)
    assert frs[0]["n_blocks"] == 2 and not frs[0]["block_indep"]
    ends = [f["end"] for f in frs]
    for cut in range(1, len(blob)):
        if cut in ends:
            continue  # a frame boundary: a shorter but valid stream
        with pytest.raises(ValueError, match="^lz4: "):
            lz4_frames(blob[:cut])


def test_multiframe_walk_and_skippable():
    parts = [b"alpha ", b"", b"beta " * 100]
    blob = lz4_compress(parts[0]) + skippable_frame(b"meta", 7)
    blob += lz4_compress(parts[1]) + lz4_compress(parts[2])
    frs = lz4_frames(blob)
    assert [f["skippable"] for f in frs] == [False, True, False, False]
    for a, b in zip(frs, frs[1:]):
        assert b["offset"] == a["end"]
    assert b"".join(f["data"] for f in frs) == b"".join(parts)
    with pytest.raises(ValueError, match="skippable nibble"):
        skippable_frame(b"x", 16)


def test_jsonl_record_walk_spans():
    lines = [b'{"id":%d}' % i for i in range(5)]
    shard = b"\n".join(lines) + b"\n"
    cut1, cut2 = len(shard) // 3, 2 * len(shard) // 3
    blob = (
        lz4_compress(shard[:cut1])
        + lz4_compress(shard[cut1:cut2])
        + skippable_frame(b"mid")
        + lz4_compress(shard[cut2:])
    )
    recs = jsonl_lz4_records(blob)
    assert [r[1] for r in recs] == lines
    # spanning records attribute to the frame they START in
    assert recs[0][0] == 0 and recs[-1][0] == 2
