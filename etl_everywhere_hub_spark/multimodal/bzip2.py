"""bzip2 multistream walk: stream and block layout from the format,
payload decode by libbzip2 (stdlib ``bz2``).

Why this belongs in the engine: the Wikipedia dumps — one of the
most-used public LLM pretraining corpora — ship as MULTISTREAM
``.xml.bz2``: a concatenation of independent bzip2 streams, each
holding ~100 articles, designed so a distributed reader can fan out
on the byte-aligned stream boundaries (the companion index file is
literally ``offset:page_id:title`` lines). An ingestion layer that
reads WARC.gz (q352/q353) and .jsonl.zst (q357/q362) but not .bz2
cannot touch a Wikipedia dump.

- Stream header ``BZh`` + level digit '1'..'9' (block size = level x
  100000 bytes), checked from the format.
- Payload decode: one ``bz2.BZ2Decompressor`` per stream (libbzip2
  verifies every block CRC and the combined stream CRC); the stream's
  ``end`` is where its ``unused_data`` starts — the next stream's
  ``BZh`` offset.
- Block walk, header-only: everything inside a stream is one
  MSB-first bitstream, so blocks start at arbitrary bit offsets. The
  48-bit block magic 0x314159265359 is found with ``bytes.find`` at
  all 8 bit shifts; each block magic is followed by that block's
  CRC32 and the deprecated ``randomized`` bit (1 is refused). The
  stream footer (magic 0x177245385090 + combined CRC, zero-padded to
  the byte boundary) ends the stream. The combined CRC recomputed
  from the found blocks' CRCs (rotate-left-1, XOR) must equal the
  footer's, so a false magic match inside Huffman data fails loudly
  instead of miscounting ``n_blocks``.

Fixtures come from stdlib ``bz2`` (libbzip2) as a FOREIGN encoder;
tests/test_bzip2.py hand-tampers streams for the corners libbzip2
never emits (randomized bit, bad magics, CRC tampering).

Scale posture: per-stream decode is sequential by construction (one
bitstream); the WHOLE POINT of the multistream layout is that a
100 TB dump is millions of independent streams — ``bzip2_streams``
returns the per-stream byte offsets a distributed reader fans out
on, the same contract as ``zstd_frames`` / the WARC member walk.
Inside the engine the decode runs worker-side per Arrow batch
(mapInPandas), never on the driver.
"""
from __future__ import annotations

import bz2

from etl_everywhere_hub_spark.multimodal.deflate import decode_until_eof

_BLOCK_MAGIC = 0x314159265359
_FOOTER_MAGIC = 0x177245385090
_M32 = 0xFFFFFFFF


def _crc_table() -> list:
    tab = []
    for b in range(256):
        c = b << 24
        for _ in range(8):
            c = ((c << 1) ^ 0x04C11DB7) if (c & 0x80000000) else (c << 1)
        tab.append(c & _M32)
    return tab


_CRC_TAB = _crc_table()


def bzip2_crc32(data: bytes, crc: int = 0xFFFFFFFF) -> int:
    """bzip2's CRC32: MSB-first feed of poly 0x04C11DB7 — the
    bit-reversed cousin of the zlib CRC; the two never agree."""
    for byte in data:
        crc = ((crc << 8) & _M32) ^ _CRC_TAB[((crc >> 24) ^ byte) & 0xFF]
    return crc


def _bits(data: bytes, bit: int, n: int) -> int:
    """``n`` bits of the MSB-first bitstream from absolute bit ``bit``."""
    k = bit >> 3
    nbytes = ((bit & 7) + n + 7) >> 3
    v = int.from_bytes(data[k : k + nbytes], "big")
    return (v >> (nbytes * 8 - (bit & 7) - n)) & ((1 << n) - 1)


def _block_bits(data: bytes, lo: int, hi: int) -> list:
    """Sorted bit offsets of every block magic in ``data`` that starts
    in [lo, hi) bits. For a magic at bit shift ``s`` in its first byte,
    the next five bytes are fixed, so one ``bytes.find`` per shift
    finds the candidates and a 48-bit compare confirms each."""
    found = []
    for s in range(8):
        pattern = (_BLOCK_MAGIC << (8 - s)).to_bytes(7, "big")[1:6]
        m = data.find(pattern, max(0, (lo >> 3) - 1) + 1, (hi >> 3) + 6)
        while m >= 0:
            bit = (m - 1) * 8 + s
            if lo <= bit < hi and _bits(data, bit, 48) == _BLOCK_MAGIC:
                found.append(bit)
            m = data.find(pattern, m + 1, (hi >> 3) + 6)
    return sorted(found)


def _footer_bit(data: bytes, pos: int, end: int) -> int:
    """Bit offset of the footer magic of the stream [pos, end): the
    footer's 80 bits end 0..7 zero pad bits before ``end``."""
    for pad in range(8):
        bit = end * 8 - pad - 80
        if (bit >= (pos + 4) * 8 and _bits(data, bit, 48) == _FOOTER_MAGIC
                and _bits(data, end * 8 - pad, pad) == 0):
            return bit
    raise ValueError(f"bzip2: no stream footer before byte {end}")


def decode_stream(data: bytes, pos: int = 0) -> dict:
    """Decode ONE bzip2 stream starting at byte ``pos``. Returns
    {data, offset, end, level, n_blocks, crc} where ``end`` is the
    byte just past this stream — the next stream's ``BZh`` offset in
    a multistream file (the Wikipedia-dump split-point contract)."""
    if data[pos : pos + 3] != b"BZh":
        raise ValueError(f"bzip2: bad stream header at byte {pos}")
    if pos + 4 > len(data):
        raise ValueError(f"bzip2: stream at byte {pos} truncated")
    level = data[pos + 3] - 0x30
    if not (1 <= level <= 9):
        raise ValueError(f"bzip2: bad level digit {data[pos + 3]:#04x}")
    if pos + 10 > len(data):
        raise ValueError(f"bzip2: stream at byte {pos} truncated")
    # the first block (or the footer) is byte-aligned right after the
    # header: refuse what libbzip2 would misread before decoding
    magic = _bits(data, (pos + 4) * 8, 48)
    if magic not in (_BLOCK_MAGIC, _FOOTER_MAGIC):
        raise ValueError(f"bzip2: bad block magic {magic:#014x}")
    if magic == _BLOCK_MAGIC:
        _check_not_randomized(data, (pos + 4) * 8)
    out, end = decode_until_eof(bz2.BZ2Decompressor(), data, pos, "bzip2")
    footer = _footer_bit(data, pos, end)
    blocks = _block_bits(data, (pos + 4) * 8, footer)
    combined = 0
    for bit in blocks:
        _check_not_randomized(data, bit)
        combined = ((combined << 1) | (combined >> 31)) & _M32
        combined ^= _bits(data, bit + 48, 32)
    want = _bits(data, footer + 48, 32)
    if combined != want:
        raise ValueError(
            f"bzip2: block walk of stream at byte {pos} found "
            f"{len(blocks)} blocks whose CRCs combine to {combined:#010x}, "
            f"footer says {want:#010x}"
        )
    return {
        "data": out,
        "offset": pos,
        "end": end,
        "level": level,
        "n_blocks": len(blocks),
        "crc": combined,
    }


def _check_not_randomized(data: bytes, block_bit: int) -> None:
    if _bits(data, block_bit + 80, 1):
        raise ValueError(
            "bzip2: randomized block (deprecated in the format, never "
            "emitted by any maintained encoder) — refusing"
        )


def bzip2_streams(data: bytes) -> list:
    """Walk a multistream .bz2 (the Wikipedia dump layout): decode
    every byte-aligned stream back to back, returning the per-stream
    dicts of decode_stream. Trailing garbage raises — a dump shard
    is streams and nothing else."""
    out = []
    pos = 0
    while pos < len(data):
        st = decode_stream(data, pos)
        out.append(st)
        pos = st["end"]
    return out


def decompress(data: bytes) -> bytes:
    """All streams' plaintext concatenated — the semantics of
    ``bz2.decompress`` on multistream input."""
    return b"".join(st["data"] for st in bzip2_streams(data))
