"""XZ stream walk tests (multimodal/xz.py) and the ustar walk
(multimodal/tar.py): liblzma-written streams across presets / check
types / explicit lc-lp-pb / filter chains, the xz CLI, per-stream
block counts, multistream walks with padding, multi-chunk LZMA2
inputs, tar member walks incl. through .tar.xz, and tampered-stream
error paths."""

from __future__ import annotations

import hashlib
import io
import lzma
import shutil
import subprocess
import tarfile

import pytest

from etl_everywhere_hub_spark.multimodal.tar import tar_members
from etl_everywhere_hub_spark.multimodal.xz import (
    decode_stream,
    decompress,
    xz_streams,
)

_CLI = shutil.which("xz")
needs_cli = pytest.mark.skipif(_CLI is None, reason="no xz CLI in PATH")


def _pseudo(n: int, seed: bytes = b"xz") -> bytes:
    out = bytearray()
    cur = seed
    while len(out) < n:
        cur = hashlib.sha256(cur).digest()
        out += cur
    return bytes(out[:n])


_CASES = [
    b"",
    b"a",
    b"hello world " * 40,
    b"a" * 5000,
    _pseudo(60000),
    (b"token " * 3000) + _pseudo(64),
]


# ------------------------------------------------------ foreign pins
@pytest.mark.parametrize("preset", [0, 1, 6, 9 | lzma.PRESET_EXTREME])
def test_preset_matrix(preset):
    for plain in _CASES:
        comp = lzma.compress(plain, format=lzma.FORMAT_XZ, preset=preset)
        assert decompress(comp) == plain, (preset, len(plain))


@pytest.mark.parametrize(
    "check", [lzma.CHECK_NONE, lzma.CHECK_CRC32, lzma.CHECK_CRC64,
              lzma.CHECK_SHA256]
)
def test_check_types(check):
    plain = (b"the quick brown fox " * 500) + _pseudo(2000)
    comp = lzma.compress(plain, format=lzma.FORMAT_XZ, check=check)
    st = decode_stream(comp)
    assert st["data"] == plain
    assert st["check"] == {0: "none", 1: "crc32", 4: "crc64",
                           10: "sha256"}[check]


@pytest.mark.parametrize("lclppb", [(0, 2, 1), (4, 0, 0), (1, 3, 4),
                                    (0, 0, 2), (3, 1, 0)])
def test_literal_context_overrides(lclppb):
    lc, lp, pb = lclppb
    plain = (b"structured structured data " * 400) + _pseudo(1000)
    filt = [{"id": lzma.FILTER_LZMA2, "preset": 6,
             "lc": lc, "lp": lp, "pb": pb}]
    comp = lzma.compress(plain, format=lzma.FORMAT_XZ, filters=filt)
    assert decompress(comp) == plain


def test_multi_chunk_lzma2():
    # > 2 MiB forces multiple LZMA2 chunks in one block
    plain = _pseudo(3 * 1024 * 1024) + b"x" * 100000
    comp = lzma.compress(plain, preset=1)
    st = decode_stream(comp)
    assert st["data"] == plain and st["n_blocks"] >= 1


@needs_cli
def test_cli_both_directions():
    plain = (b"cli interop payload " * 200) + _pseudo(512)
    comp = subprocess.run(["xz", "-c", "-6"], input=plain,
                          capture_output=True).stdout
    assert decompress(comp) == plain
    # the CLI reads nothing from us (no encoder here by design) —
    # but it must agree with liblzma output we decode
    r = subprocess.run(["xz", "-d", "-c"],
                       input=lzma.compress(plain), capture_output=True)
    assert r.returncode == 0 and r.stdout == plain


# ------------------------------------------------- multistream walk
def test_multistream_walk_and_padding():
    parts = [b"first", b"second" * 100, b""]
    blob = (
        lzma.compress(parts[0], preset=1)
        + b"\x00" * 8
        + lzma.compress(parts[1], preset=9)
        + lzma.compress(parts[2], preset=0)
    )
    sts = xz_streams(blob)
    assert [st["data"] for st in sts] == parts
    assert sts[0]["offset"] == 0
    assert sts[1]["offset"] == sts[0]["end"] + 8
    assert sts[2]["offset"] == sts[1]["end"]
    with pytest.raises(ValueError, match="padding not 4-aligned"):
        xz_streams(lzma.compress(b"x") + b"\x00" * 3 + lzma.compress(b"y"))


# ------------------------------------------------------- error paths
def test_tampered_streams():
    plain = b"tamper target " * 100
    good = lzma.compress(plain, check=lzma.CHECK_CRC32)
    with pytest.raises(ValueError, match="format not supported"):
        decode_stream(b"\x00" + good[1:])
    bad = bytearray(good)
    bad[8] ^= 0x01  # stream header CRC field
    with pytest.raises(ValueError, match="Corrupt input data"):
        decode_stream(bytes(bad))
    bad = bytearray(good)
    bad[-1] ^= 0xFF  # footer magic 'YZ'
    with pytest.raises(ValueError, match="Corrupt input data"):
        decode_stream(bytes(bad))
    # flip one payload byte: either the LZMA stream degenerates or
    # the block check catches it — silence is the only wrong answer
    bad = bytearray(good)
    bad[len(bad) // 2] ^= 0x10
    with pytest.raises(ValueError):
        decode_stream(bytes(bad))
    with pytest.raises(ValueError, match="truncated|overread|ran off|footer"):
        decode_stream(good[: len(good) - 8])


def test_delta_filter_chain_decodes():
    # liblzma decodes every filter chain the format defines, so a
    # delta + LZMA2 stream decodes like a plain one
    plain = b"abcdef" * 100
    filt = [{"id": lzma.FILTER_DELTA, "dist": 1},
            {"id": lzma.FILTER_LZMA2, "preset": 1}]
    comp = lzma.compress(plain, format=lzma.FORMAT_XZ, filters=filt)
    st = decode_stream(comp)
    assert st["data"] == plain and st["end"] == len(comp)


def test_reserved_check_id_is_loud():
    # liblzma decodes a reserved check type without verifying it; the
    # walk refuses instead of returning unverified bytes. Check id 2 is
    # reserved with a 4-byte field, the CRC32 layout, so only the flag
    # (header and footer) and the two CRCs over it change.
    import struct
    import zlib

    bad = bytearray(lzma.compress(b"unverified " * 50,
                                  check=lzma.CHECK_CRC32))
    flags = b"\x00\x02"
    bad[6:8] = flags
    bad[8:12] = struct.pack("<I", zlib.crc32(flags))
    bad[-4:-2] = flags
    bad[-12:-8] = struct.pack("<I", zlib.crc32(bytes(bad[-8:-2])))
    with pytest.raises(ValueError, match="unsupported check id 2"):
        decode_stream(bytes(bad))


def test_block_count_from_the_index():
    # one block per 1 KiB of input: n_blocks comes from the index
    # record count, located through the footer's backward size
    plain = _pseudo(6 * 1024)
    filt = [{"id": lzma.FILTER_LZMA2, "preset": 1}]
    comp = lzma.compress(plain, format=lzma.FORMAT_XZ, filters=filt)
    assert decode_stream(comp)["n_blocks"] == 1
    if _CLI is None:
        pytest.skip("no xz CLI in PATH")
    comp = subprocess.run(["xz", "-c", "-1", "-T1", "--block-size=1024"],
                          input=plain, capture_output=True).stdout
    st = decode_stream(comp)
    assert st["data"] == plain and st["n_blocks"] == 6


# ---------------------------------------------------------- tar walk
def test_tar_members_ustar_and_gnu():
    contents = [b"alpha", b"b" * 600, b"", b"gamma gamma"]
    for fmt in (tarfile.USTAR_FORMAT, tarfile.GNU_FORMAT):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=fmt) as tf:
            for i, c in enumerate(contents):
                ti = tarfile.TarInfo(name=f"d/p{i}.txt")
                ti.size = len(c)
                tf.addfile(ti, io.BytesIO(c))
        ms = tar_members(buf.getvalue())
        assert [m["data"] for m in ms] == contents
        assert [m["name"] for m in ms] == [f"d/p{i}.txt" for i in range(4)]
        # offsets point at the member bodies inside the archive
        raw = buf.getvalue()
        for m in ms:
            assert raw[m["offset"] : m["offset"] + m["size"]] == m["data"]


def test_tar_through_xz():
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        ti = tarfile.TarInfo(name="corpus/doc.txt")
        ti.size = 11
        tf.addfile(ti, io.BytesIO(b"hello world"))
    ms = tar_members(decompress(lzma.compress(buf.getvalue())))
    assert ms[0]["name"] == "corpus/doc.txt" and ms[0]["data"] == b"hello world"


def test_tar_errors():
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        ti = tarfile.TarInfo(name="x.txt")
        ti.size = 4
        tf.addfile(ti, io.BytesIO(b"data"))
    good = bytearray(buf.getvalue())
    bad = bytearray(good)
    bad[0] ^= 0x01  # name byte -> checksum mismatch
    with pytest.raises(ValueError, match="checksum mismatch"):
        tar_members(bytes(bad))
    with pytest.raises(ValueError, match="terminator|truncated"):
        tar_members(bytes(good[:512]))
    with pytest.raises(ValueError, match="terminator"):
        tar_members(bytes(good[:1024]))  # body but no zero blocks
    # non-regular members refuse loudly
    buf2 = io.BytesIO()
    with tarfile.open(fileobj=buf2, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        ti = tarfile.TarInfo(name="link")
        ti.type = tarfile.SYMTYPE
        ti.linkname = "target"
        tf.addfile(ti)
    with pytest.raises(ValueError, match="non-regular"):
        tar_members(buf2.getvalue())
