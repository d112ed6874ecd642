"""XZ container decode through stdlib ``lzma`` (liblzma).

Why this belongs in the engine: the corpus-codec family now covers
gzip (WARC/Common Crawl, q352/q353), zstd (.jsonl.zst releases,
q357/q362), bzip2 (Wikipedia multistream, q363) and LZ4 (q365); the
remaining compression a 100 TB text-ingestion layer meets is ``.xz``
— OpenWebText ships as .tar.xz parts, Wikimedia publishes .xz
mirrors of several dump families, and academic corpus drops default
to it for its ratio.

- Each stream is decoded by one ``lzma.LZMADecompressor(FORMAT_XZ)``.
  liblzma validates the whole stream: header and footer (magic,
  flags, CRC32, backward size), every block header and filter chain,
  every block check (None / CRC32 / CRC64 / SHA-256) and the index.
  Any corruption raises ``ValueError``.
- ``decode_stream`` returns {data, offset, end, check, n_blocks}:
  ``end`` is just past the stream footer (from the decompressor's
  ``unused_data``), ``check`` is the stream's check type, and
  ``n_blocks`` is the record count of the stream index, located
  through the footer's backward size.
- ``xz_streams`` walks concatenated streams plus the 4-byte-aligned
  zero padding between them and returns per-stream offsets — the
  multistream fan-out contract shared with zstd_frames /
  bzip2_streams / lz4_frames.

Scale posture: identical to the codec family — a stream decodes
sequentially by construction, the corpus layout is many independent
members/shards, the walk returns byte offsets to fan out on, decode
runs worker-side per Arrow batch, never on the driver.
"""
from __future__ import annotations

import lzma
import struct

from etl_everywhere_hub_spark.multimodal.deflate import decode_until_eof

_CHECKS = {lzma.CHECK_NONE: "none", lzma.CHECK_CRC32: "crc32",
           lzma.CHECK_CRC64: "crc64", lzma.CHECK_SHA256: "sha256"}


def _index_record_count(data: bytes, end: int) -> int:
    """Number of records (= blocks) in the index of the stream ending
    at ``end``. The 12-byte footer holds CRC32, backward size, flags
    and 'YZ'; the index is (backward size + 1) * 4 bytes ending where
    the footer starts, and opens with a 0x00 indicator followed by the
    record count as an xz varint (7 bits per byte, LSB first)."""
    (back,) = struct.unpack_from("<I", data, end - 8)
    pos = end - 12 - (back + 1) * 4 + 1
    n = shift = 0
    while True:
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if b < 0x80:
            return n
        shift += 7


def decode_stream(data: bytes, pos: int = 0) -> dict:
    """Decode ONE xz stream starting at byte ``pos``. Returns {data,
    offset, end, check, n_blocks} with ``end`` just past the stream
    footer — the next stream (or its 4-aligned padding) starts
    there: the multistream split-point contract."""
    dec = lzma.LZMADecompressor(lzma.FORMAT_XZ)
    out, end = decode_until_eof(dec, data, pos, "xz")
    check = _CHECKS.get(dec.check)
    if check is None:
        # liblzma decodes reserved check types without verifying them
        raise ValueError(f"xz: unsupported check id {dec.check}")
    return {
        "data": out,
        "offset": pos,
        "end": end,
        "check": check,
        "n_blocks": _index_record_count(data, end),
    }


def xz_streams(data: bytes) -> list:
    """Walk concatenated xz streams (plus 4-aligned zero padding
    between them), returning decode_stream dicts with offsets —
    the multistream fan-out contract."""
    out = []
    pos = 0
    while pos < len(data):
        if data[pos] == 0:
            # stream padding: zeros to a 4-byte boundary
            pad_start = pos
            while pos < len(data) and data[pos] == 0:
                pos += 1
            if (pos - pad_start) % 4:
                raise ValueError("xz: stream padding not 4-aligned")
            if pos >= len(data):
                break
        st = decode_stream(data, pos)
        out.append(st)
        pos = st["end"]
    return out


def decompress(data: bytes) -> bytes:
    return b"".join(st["data"] for st in xz_streams(data))
