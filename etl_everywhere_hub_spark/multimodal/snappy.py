"""Snappy codec: raw block format, Hadoop block-stream framing, and
the sNaPpY framing format.

Why this belongs in the engine: HDFS-resident corpora are full of
``.snappy`` files — it has been Hadoop/Spark's default intermediate
codec for a decade — and the engine until now could only read them
THROUGH Spark's JVM codec, not inspect/route them itself (the sniff
front door, byte-range readers, non-Spark tooling). Three layers,
each described by its public format document:

- RAW snappy (the ``format_description.txt`` shipped with
  google/snappy): varint uncompressed-length preamble, then tagged
  elements — 2-bit tag 00 literals (6-bit or 1-4 extra length
  bytes), 01 copies with 3-bit length / 11-bit offset, 10 copies
  with 2-byte LE offset, 11 copies with 4-byte LE offset. Decoded by
  ``pyarrow.Codec("snappy")``; this module reads the preamble and
  bounds it before the codec allocates.
- HADOOP block-stream framing, from spec (what
  ``org.apache.hadoop.io.compress.BlockCompressorStream`` writes,
  i.e. what a ``.snappy`` file on HDFS actually contains): repeated
  [4-byte BE uncompressed block length, then per chunk: 4-byte BE
  compressed length + raw-snappy chunk] — the layer Spark's own
  SnappyCodec emits, which doubles as this container's FOREIGN
  encoder/decoder (tests write .snappy text with Spark's JVM codec
  and decode the bytes here, then the reverse).
- The sNaPpY FRAMING format, from spec (framing_format.txt;
  no installed library exposes it or the Hadoop layer): 0xFF stream
  identifier chunk, 0x00 compressed / 0x01 uncompressed chunks,
  each carrying a MASKED CRC32-C (Castagnoli, reflected poly
  0x82F63B78; mask = rotr15 + 0xA282EAD8) of the UNCOMPRESSED data,
  skippable 0x80-0xFD chunks, reserved-unskippable 0x02-0x7F
  refusal — the ``.sz`` container snappy-tools emit.

Encoder: greedy single-probe hash-table raw compressor (the LZ4
shape at snappy's tag granularity) + both framings, so fixtures are
self-hosted AND Spark's JVM codec accepts our .snappy files — the
both-directions pin.

Scale posture: identical to the codec family — Hadoop blocks and
framing chunks are the split units, walks return offsets, decode
runs worker-side per Arrow batch.
"""
from __future__ import annotations

import struct

import pyarrow as pa


def _make_crc32c_table() -> list:
    tab = []
    for b in range(256):
        c = b
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        tab.append(c)
    return tab


_CRC32C_TAB = _make_crc32c_table()


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC-32/Castagnoli — the framing format's checksum."""
    crc ^= 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TAB[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _mask_crc(crc: int) -> int:
    """framing_format.txt masking: rotate right 15, add a constant —
    so checksums of checksum-bearing data stay well-distributed."""
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ------------------------------------------------------- raw blocks
def _read_uvarint(data: bytes, pos: int) -> tuple:
    out = 0
    for i in range(5):
        if pos >= len(data):
            raise ValueError("snappy: varint truncated")
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            return out, pos
    raise ValueError("snappy: varint longer than 5 bytes (>32 bits)")


def snappy_decompress_raw(data: bytes) -> bytes:
    """One raw snappy block (preamble + tagged elements), decoded by
    the snappy library inside pyarrow."""
    n, pos = _read_uvarint(data, 0)
    # The codec allocates the preamble's n bytes up front, so refuse a
    # preamble this block cannot expand to: the densest element is a
    # 3-byte copy that emits 64 bytes. Without this bound a 5-byte
    # hostile block could ask for 4 GiB.
    if n > (len(data) - pos) * 64 // 3:
        raise ValueError(
            f"snappy: preamble says {n} bytes, more than a "
            f"{len(data) - pos}-byte block can expand to"
        )
    try:
        return pa.Codec("snappy").decompress(
            data, decompressed_size=n, asbytes=True
        )
    except OSError as e:
        raise ValueError(f"snappy: {e}") from None


def _emit_uvarint(out: bytearray, v: int) -> None:
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def snappy_compress_raw(src: bytes) -> bytes:
    """Greedy single-probe hash-table compressor emitting the three
    copy tag forms as offsets require; literals use the extended
    length bytes when needed."""
    out = bytearray()
    _emit_uvarint(out, len(src))
    n = len(src)
    table: dict = {}
    anchor = 0
    i = 0

    def flush_literal(upto: int) -> None:
        nonlocal anchor, out
        while anchor < upto:
            ln = min(upto - anchor, 65536)
            if ln <= 60:
                out.append((ln - 1) << 2)
            else:
                nb = (ln - 1).bit_length() + 7 >> 3
                out.append((59 + nb) << 2)
                out += (ln - 1).to_bytes(nb, "little")
            out += src[anchor : anchor + ln]
            anchor += ln

    while i + 4 <= n:
        key = src[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is None or src[cand : cand + 4] != key:
            i += 1
            continue
        mend = i + 4
        cend = cand + 4
        while mend < n and src[mend] == src[cend]:
            mend += 1
            cend += 1
        flush_literal(i)
        off = i - cand
        mlen = mend - i
        while mlen:
            if mlen <= 11 and off < 2048:
                out.append(1 | ((mlen - 4) << 2) | ((off >> 8) << 5))
                out.append(off & 0xFF)
                break
            ln = min(mlen, 64)
            if mlen - ln in (1, 2, 3):
                ln = mlen - 4  # keep a >=4 tail for the next tag
            if off <= 0xFFFF:
                out.append(2 | ((ln - 1) << 2))
                out += struct.pack("<H", off)
            else:
                out.append(3 | ((ln - 1) << 2))
                out += struct.pack("<I", off)
            mlen -= ln
        anchor = mend
        i = mend
    flush_literal(n)
    return bytes(out)


# ------------------------------------------------ hadoop block file
def hadoop_snappy_decompress(data: bytes) -> bytes:
    """A Hadoop .snappy file (BlockCompressorStream layout): repeated
    [BE32 uncompressed block size, then BE32-prefixed raw-snappy
    chunks until the block is complete]."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 4 > n:
            raise ValueError("hadoop-snappy: block length truncated")
        remaining = struct.unpack_from(">I", data, pos)[0]
        pos += 4
        while remaining > 0:
            if pos + 4 > n:
                raise ValueError("hadoop-snappy: chunk length truncated")
            clen = struct.unpack_from(">I", data, pos)[0]
            pos += 4
            chunk = data[pos : pos + clen]
            if len(chunk) != clen:
                raise ValueError("hadoop-snappy: chunk body truncated")
            pos += clen
            plain = snappy_decompress_raw(chunk)
            if len(plain) > remaining:
                raise ValueError("hadoop-snappy: chunk overruns its block")
            out += plain
            remaining -= len(plain)
    return bytes(out)


def hadoop_snappy_compress(data: bytes, block_size: int = 262144) -> bytes:
    out = bytearray()
    for i in range(0, len(data), block_size) if data else [0]:
        blk = data[i : i + block_size]
        comp = snappy_compress_raw(blk)
        out += struct.pack(">I", len(blk))
        if blk:
            out += struct.pack(">I", len(comp)) + comp
    return bytes(out)


# --------------------------------------------------- framing format
_STREAM_ID = b"\xff\x06\x00\x00sNaPpY"


def framed_snappy_decompress(data: bytes) -> bytes:
    """The sNaPpY framing format (.sz): stream-identifier chunk, then
    compressed/uncompressed chunks each carrying a masked CRC32-C of
    the plaintext; skippable 0x80-0xFD chunks pass, reserved
    UNskippable 0x02-0x7F refuse."""
    if data[: len(_STREAM_ID)] != _STREAM_ID:
        raise ValueError("snappy-framed: missing sNaPpY stream identifier")
    pos = len(_STREAM_ID)
    out = bytearray()
    n = len(data)
    while pos < n:
        if pos + 4 > n:
            raise ValueError("snappy-framed: chunk header truncated")
        ctype = data[pos]
        clen = int.from_bytes(data[pos + 1 : pos + 4], "little")
        pos += 4
        body = data[pos : pos + clen]
        if len(body) != clen:
            raise ValueError("snappy-framed: chunk body truncated")
        pos += clen
        if ctype == 0xFF:
            if body != _STREAM_ID[4:]:
                raise ValueError("snappy-framed: bad repeated stream id")
            continue
        if 0x80 <= ctype <= 0xFD:
            continue  # skippable
        if ctype in (0x00, 0x01):
            want = struct.unpack_from("<I", body, 0)[0]
            plain = (
                snappy_decompress_raw(body[4:])
                if ctype == 0x00
                else body[4:]
            )
            if _mask_crc(crc32c(plain)) != want:
                raise ValueError("snappy-framed: chunk CRC32-C mismatch")
            out += plain
            continue
        raise ValueError(
            f"snappy-framed: reserved unskippable chunk {ctype:#04x}"
        )
    return bytes(out)


def framed_snappy_compress(data: bytes, chunk: int = 65536) -> bytes:
    out = bytearray(_STREAM_ID)
    for i in range(0, len(data), chunk) if data else []:
        blk = data[i : i + chunk]
        comp = snappy_compress_raw(blk)
        crc = struct.pack("<I", _mask_crc(crc32c(blk)))
        if len(comp) < len(blk):
            body = crc + comp
            out += bytes([0x00]) + len(body).to_bytes(3, "little") + body
        else:
            body = crc + blk
            out += bytes([0x01]) + len(body).to_bytes(3, "little") + body
    return bytes(out)
