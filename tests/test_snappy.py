"""Snappy codec tests (multimodal/snappy.py): CRC32-C polynomial
pin, raw-block roundtrips incl. overlap copies and all three copy
tag forms, Hadoop block-stream framing BOTH DIRECTIONS against
Spark's own JVM SnappyCodec (the in-container foreign encoder/
decoder), the sNaPpY framing format with masked checksums and
skippable chunks, sniffer routing, and error paths."""

from __future__ import annotations

import glob
import hashlib
import os
import struct

import pytest

from etl_everywhere_hub_spark.multimodal.sniff import decode_auto, sniff_codec
from etl_everywhere_hub_spark.multimodal.snappy import (
    crc32c,
    framed_snappy_compress,
    framed_snappy_decompress,
    hadoop_snappy_compress,
    hadoop_snappy_decompress,
    snappy_compress_raw,
    snappy_decompress_raw,
)


def _pseudo(n: int, seed: bytes = b"snappy") -> bytes:
    out = bytearray()
    cur = seed
    while len(out) < n:
        cur = hashlib.sha256(cur).digest()
        out += cur
    return bytes(out[:n])


_CASES = [
    b"",
    b"a",
    b"hello hello hello hello",
    b"a" * 100000,
    _pseudo(300000),
    (b"word " * 5000) + _pseudo(99),
]


def test_crc32c_polynomial_pin():
    # CRC-32/ISCSI published check value
    assert crc32c(b"123456789") == 0xE3069283


def test_raw_roundtrips_and_hand_vectors():
    for c in _CASES:
        assert snappy_decompress_raw(snappy_compress_raw(c)) == c, len(c)
    # hand-built: preamble 5, literal 'ab', 1-byte-offset copy len 3+...
    # overlap copy: literal 'x' then copy(off=1, len=9) -> 'x'*10
    blk = bytes([10, 0x00, ord("x"), 1 | ((9 - 4) << 2) | (0 << 5), 1])
    assert snappy_decompress_raw(blk) == b"x" * 10
    # 2-byte-offset copy form (200 = 0xC8 0x01 as a varint)
    lit = bytes(range(100))
    blk = bytearray(b"\xc8\x01")  # 100 lit + 100 copy
    blk += bytes([(59 + 1) << 2, 99]) + lit  # extended literal length
    blk += bytes([2 | ((64 - 1) << 2)]) + struct.pack("<H", 100)
    blk += bytes([2 | ((36 - 1) << 2)]) + struct.pack("<H", 100)
    assert snappy_decompress_raw(bytes(blk)) == lit + lit


def test_raw_errors():
    with pytest.raises(ValueError, match="Corrupt snappy"):
        snappy_decompress_raw(bytes([4, 0x00, ord("x"), 1 | (0 << 2), 9]))
    with pytest.raises(ValueError, match="Corrupt snappy"):
        snappy_decompress_raw(bytes([9, 0x00, ord("x")]))
    with pytest.raises(ValueError, match="Corrupt snappy"):
        snappy_decompress_raw(bytes([9, 0x08, ord("x")]))


def test_raw_hostile_preamble_is_refused():
    # A 5-byte preamble claiming 4 GiB - 1 in front of a 2-byte body:
    # refused before the codec allocates the claimed size.
    with pytest.raises(ValueError, match="preamble says 4294967295 bytes"):
        snappy_decompress_raw(b"\xff\xff\xff\xff\x0f" + b"\x00x")
    # The densest valid block still decodes: one literal, then 3-byte
    # copies of 64 bytes each, right at the expansion bound.
    def uvarint(v: int) -> bytes:
        out = bytearray()
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        return bytes(out + bytes([v]))

    k = 1000
    body = bytes([0x00, ord("x")]) + bytes([2 | (63 << 2), 1, 0]) * k
    n = 1 + 64 * k
    assert snappy_decompress_raw(uvarint(n) + body) == b"x" * n
    # one more byte than the bound allows is refused
    over = len(body) * 64 // 3 + 1
    with pytest.raises(ValueError, match=f"preamble says {over} bytes"):
        snappy_decompress_raw(uvarint(over) + body)


def test_hadoop_roundtrip_multi_block():
    plain = (b"block walk " * 1000) + _pseudo(512)
    blob = hadoop_snappy_compress(plain, block_size=256)
    assert blob.count(struct.pack(">I", 256)) >= 1
    assert hadoop_snappy_decompress(blob) == plain
    for c in _CASES:
        assert hadoop_snappy_decompress(hadoop_snappy_compress(c)) == c


def test_hadoop_vs_spark_jvm_codec(spark, tmp_path):
    """Spark's JVM SnappyCodec is the foreign pin: we decode its
    .snappy text output byte-for-byte, and it reads ours back."""
    lines = ["line %d payload payload payload" % i for i in range(5000)]
    out = str(tmp_path / "out")
    (spark.createDataFrame([(l,) for l in lines], "value string")
     .coalesce(1).write.option("compression", "snappy").text(out))
    f = glob.glob(out + "/*.snappy")[0]
    plain = hadoop_snappy_decompress(open(f, "rb").read())
    assert plain.decode().splitlines() == lines
    ours = hadoop_snappy_compress(("\n".join(lines) + "\n").encode())
    os.makedirs(str(tmp_path / "in"))
    with open(str(tmp_path / "in" / "part-0.txt.snappy"), "wb") as fh:
        fh.write(ours)
    back = [r.value for r in spark.read.text(str(tmp_path / "in")).collect()]
    assert back == lines


def test_framed_roundtrip_and_sniff():
    for c in _CASES:
        blob = framed_snappy_compress(c, chunk=4096)
        assert framed_snappy_decompress(blob) == c, len(c)
        if c:
            assert sniff_codec(blob) == "snappy-framed"
            assert decode_auto(blob) == ("snappy-framed", c)


def test_framed_checksums_and_chunk_types():
    plain = b"checksummed chunk " * 100
    blob = bytearray(framed_snappy_compress(plain, chunk=512))
    # skippable chunk passes
    skip = bytes([0x80]) + (4).to_bytes(3, "little") + b"meta"
    assert framed_snappy_decompress(bytes(blob) + skip) == plain
    # flip a tail byte: either the raw codec chokes on the mangled
    # tag or the CRC32-C catches a clean-but-wrong decode — loud
    # either way, silence is the only wrong answer
    blob[-1] ^= 0xFF
    with pytest.raises(ValueError):
        framed_snappy_decompress(bytes(blob))
    # flip INSIDE a literal run so the decode stays well-formed and
    # only the checksum can catch it
    blob2 = bytearray(framed_snappy_compress(b"A" * 10 + b"unique literal tail",
                                             chunk=65536))
    blob2[-2] ^= 0x01
    with pytest.raises(ValueError, match="CRC32-C mismatch"):
        framed_snappy_decompress(bytes(blob2))
    # reserved unskippable chunk refuses
    bad = framed_snappy_compress(plain) + bytes([0x02, 1, 0, 0, 0])
    with pytest.raises(ValueError, match="reserved unskippable"):
        framed_snappy_decompress(bad)
    with pytest.raises(ValueError, match="stream identifier"):
        framed_snappy_decompress(b"not a stream")
