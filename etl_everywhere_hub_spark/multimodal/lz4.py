"""LZ4 frames (frame walk from spec, payload decode by liblz4) and raw
LZ4 blocks.

Why this belongs in the engine: after gzip (WARC/Common Crawl,
q352/q353), zstd (.jsonl.zst releases, q357/q362) and bzip2
(Wikipedia multistream dumps, q363), LZ4 is the remaining
compression a corpus-ingestion layer meets in the wild — long the
default codec of Hadoop/Spark shuffle and event-log pipelines, and
``.jsonl.lz4`` shards appear in public corpus mirrors that optimize
for decode speed over ratio. Sources: the LZ4 Frame Format and LZ4
Block Format specifications and the xxHash spec (Yann Collet); the
``lz4`` CLI pins interop as a foreign encoder/decoder in
tests/test_lz4.py.

- Frame walk, from spec, header-only: magic 0x184D2204, FLG (version
  01, block independence, block checksums, content size, content
  checksum, DictID — refused), BD max-block-size codes 4..7, the
  header-checksum byte (xxh32 >> 8 & 0xFF), the data-block sizes with
  their high-bit uncompressed flag, the 0x00000000 EndMark and the
  optional checksum fields. Skippable frames 0x184D2A50..5F. The walk
  returns per-frame byte offsets — the split points a distributed
  ``.jsonl.lz4`` reader fans out on (``lz4_frames``) — and every
  truncation raises ``ValueError``.
- Payload decode: each walked frame is decoded by pyarrow's bundled
  liblz4 (``multimodal/deflate.py:arrow_decode``), which verifies
  the block and content xxh32 checksums and follows linked blocks.
- Raw blocks (``lz4_block_decode``), from spec: the one decoder for
  the headerless blocks inside Hadoop SequenceFiles and ORC streams
  (a raw block carries no decoded size, which pyarrow's raw codec
  needs up front). Token byte (literal length / match length - 4
  nibbles), 255-saturated length extensions, 2-byte match offsets
  (offset 0 is corruption), overlapping-match copies, final
  literals-only sequence.
- ``xxh32`` (xxHash spec): the frame format's checksum primitive,
  used by the encoder and the header-checksum check.

Encoder (complete enough that the CLI accepts everything we emit):
greedy single-probe hash-table match finder (the classic LZ4-fast
shape), the block-format end rules (last 5 bytes literal, no match
starting within the final 12), incompressible blocks stored raw,
all FLG feature bits emittable. Fixtures in oracle-checked queries
use THIS encoder; the CLI pins foreign interop in tests and
cluster_smoke on equipped hosts.

Scale posture: identical to the codec family — a frame decodes
sequentially by construction, the corpus layout is many independent
frames/shards, the walk returns the offsets to fan out on, and
decode runs worker-side per Arrow batch (mapInPandas), never on the
driver.
"""
from __future__ import annotations

import struct

from etl_everywhere_hub_spark.multimodal.deflate import arrow_decode

_MAGIC = 0x184D2204
_SKIP_LO = 0x184D2A50
_SKIP_HI = 0x184D2A5F

_P1, _P2, _P3, _P4, _P5 = (
    2654435761, 2246822519, 3266489917, 668265263, 374761393,
)
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash-32 (xxHash spec, Yann Collet) — the LZ4 frame format's
    checksum for header byte, block checksums and content checksum."""
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        while i + 16 <= n:
            for _v in range(4):
                lane = struct.unpack_from("<I", data, i)[0]
                if _v == 0:
                    v1 = (_rotl32((v1 + lane * _P2) & _M32, 13) * _P1) & _M32
                elif _v == 1:
                    v2 = (_rotl32((v2 + lane * _P2) & _M32, 13) * _P1) & _M32
                elif _v == 2:
                    v3 = (_rotl32((v3 + lane * _P2) & _M32, 13) * _P1) & _M32
                else:
                    v4 = (_rotl32((v4 + lane * _P2) & _M32, 13) * _P1) & _M32
                i += 4
        acc = (
            _rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12) + _rotl32(v4, 18)
        ) & _M32
    else:
        acc = (seed + _P5) & _M32
    acc = (acc + n) & _M32
    while i + 4 <= n:
        acc = (acc + struct.unpack_from("<I", data, i)[0] * _P3) & _M32
        acc = (_rotl32(acc, 17) * _P4) & _M32
        i += 4
    while i < n:
        acc = (acc + data[i] * _P5) & _M32
        acc = (_rotl32(acc, 11) * _P1) & _M32
        i += 1
    acc ^= acc >> 15
    acc = (acc * _P2) & _M32
    acc ^= acc >> 13
    acc = (acc * _P3) & _M32
    acc ^= acc >> 16
    return acc


# ------------------------------------------------------ block codec
def lz4_block_decode(src: bytes, prefix: bytes = b"") -> bytes:
    """One LZ4 block. ``prefix`` is the already-decoded window a
    LINKED block's matches may reach back into (empty for
    independent blocks)."""
    out = bytearray(prefix)
    base = len(prefix)
    i = 0
    n = len(src)
    while True:
        if i >= n:
            raise ValueError("lz4: block ends without a final sequence")
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                if i >= n:
                    raise ValueError("lz4: literal length truncated")
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        if i + lit > n:
            raise ValueError("lz4: literals truncated")
        out += src[i : i + lit]
        i += lit
        if i == n:
            break  # final sequence: literals only
        if i + 2 > n:
            raise ValueError("lz4: match offset truncated")
        off = src[i] | (src[i + 1] << 8)
        i += 2
        if off == 0:
            raise ValueError("lz4: zero match offset is corruption")
        mlen = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                if i >= n:
                    raise ValueError("lz4: match length truncated")
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        start = len(out) - off
        if start < 0:
            raise ValueError("lz4: match offset reaches before the window")
        for _ in range(mlen):  # byte-wise: overlap replication semantics
            out.append(out[start])
            start += 1
    return bytes(out[base:])


def lz4_block_encode(src: bytes, prefix: bytes = b"") -> bytes:
    """Greedy single-probe hash-table compressor (the LZ4-fast
    shape), honoring the block end rules: the last 5 bytes are
    literals and no match starts within the final 12. ``prefix`` is
    the previous blocks' window in LINKED mode — matches may reach
    back into it (offsets still capped at 65535)."""
    data = prefix + src
    base = len(prefix)
    n = len(data)
    out = bytearray()
    table: dict = {}
    for j in range(max(0, base - 3)):  # seed the window's positions
        table[data[j : j + 4]] = j
    anchor = base
    i = base
    limit = n - 12  # no match may start beyond this
    while i <= limit:
        key = data[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is None or i - cand > 65535 or data[cand : cand + 4] != key:
            i += 1
            continue
        # extend the match, but leave the final 5 bytes literal
        mend = i + 4
        cend = cand + 4
        stop = n - 5
        while mend < stop and data[mend] == data[cend]:
            mend += 1
            cend += 1
        lit = data[anchor:i]
        mlen = mend - i - 4
        _emit_sequence(out, lit, i - cand, mlen)
        anchor = mend
        i = mend
    # final literals-only sequence
    lit = data[anchor:]
    ll = len(lit)
    token = min(ll, 15) << 4
    out.append(token)
    _emit_ext(out, ll - 15 if ll >= 15 else -1)
    out += lit
    return bytes(out)


def _emit_ext(out: bytearray, rest: int) -> None:
    if rest < 0:
        return
    while rest >= 255:
        out.append(255)
        rest -= 255
    out.append(rest)


def _emit_sequence(out: bytearray, lit: bytes, off: int, mlen_m4: int) -> None:
    token = (min(len(lit), 15) << 4) | min(mlen_m4, 15)
    out.append(token)
    _emit_ext(out, len(lit) - 15 if len(lit) >= 15 else -1)
    out += lit
    out += struct.pack("<H", off)
    _emit_ext(out, mlen_m4 - 15 if mlen_m4 >= 15 else -1)


# ------------------------------------------------------ frame codec
_BD_SIZES = {4: 1 << 16, 5: 1 << 18, 6: 1 << 20, 7: 1 << 22}


def _need(data: bytes, pos: int, n: int, what: str) -> None:
    if pos + n > len(data):
        raise ValueError(f"lz4: truncated {what} at byte {pos}")


def decode_frame(data: bytes, pos: int = 0) -> dict:
    """Decode ONE frame starting at byte ``pos``. Returns {data,
    offset, end, skippable, n_blocks, block_indep, checksummed}.
    Skippable frames return data=b'' with their payload skipped."""
    _need(data, pos, 4, "magic")
    magic = struct.unpack_from("<I", data, pos)[0]
    if _SKIP_LO <= magic <= _SKIP_HI:
        _need(data, pos, 8, "skippable frame header")
        size = struct.unpack_from("<I", data, pos + 4)[0]
        _need(data, pos + 8, size, "skippable frame")
        return {"data": b"", "offset": pos, "end": pos + 8 + size,
                "skippable": True, "n_blocks": 0, "block_indep": True,
                "checksummed": False}
    if magic != _MAGIC:
        raise ValueError(f"lz4: bad magic {magic:#010x} at byte {pos}")
    p = pos + 4
    _need(data, p, 2, "frame descriptor")
    flg = data[p]
    bd = data[p + 1]
    if (flg >> 6) != 0b01:
        raise ValueError("lz4: unsupported frame version")
    if flg & 0x02:
        raise ValueError("lz4: reserved FLG bit set")
    if flg & 0x01:
        raise ValueError("lz4: DictID frames unsupported (stated boundary)")
    block_indep = bool(flg & 0x20)
    block_cksum = bool(flg & 0x10)
    content_cksum = bool(flg & 0x04)
    bs_code = (bd >> 4) & 0x7
    if bd & 0x8F:
        raise ValueError("lz4: reserved BD bits set")
    if bs_code not in _BD_SIZES:
        raise ValueError(f"lz4: bad max-block-size code {bs_code}")
    p += 2
    if flg & 0x08:  # liblz4 checks the declared content size
        _need(data, p, 8, "content size")
        p += 8
    _need(data, p, 1, "header checksum")
    if data[p] != ((xxh32(data[pos + 4 : p]) >> 8) & 0xFF):
        raise ValueError("lz4: frame header checksum mismatch")
    p += 1
    n_blocks = 0
    while True:
        _need(data, p, 4, "block size")
        bsz = struct.unpack_from("<I", data, p)[0]
        p += 4
        if bsz == 0:
            break  # EndMark
        bsz &= 0x7FFFFFFF  # the high bit flags an uncompressed block
        if bsz > _BD_SIZES[bs_code]:
            raise ValueError("lz4: block exceeds declared max size")
        _need(data, p, bsz + 4 * block_cksum, "block")
        p += bsz + 4 * block_cksum
        n_blocks += 1
    if content_cksum:
        _need(data, p, 4, "content checksum")
        p += 4
    return {"data": arrow_decode("lz4", data, pos, p), "offset": pos,
            "end": p, "skippable": False,
            "n_blocks": n_blocks, "block_indep": block_indep,
            "checksummed": content_cksum}


def lz4_frames(data: bytes) -> list:
    """Multi-frame walk with per-frame offsets — the .jsonl.lz4
    split-point contract (mirrors zstd_frames / bzip2_streams)."""
    out = []
    pos = 0
    while pos < len(data):
        fr = decode_frame(data, pos)
        out.append(fr)
        pos = fr["end"]
    return out


def decompress(data: bytes) -> bytes:
    return b"".join(fr["data"] for fr in lz4_frames(data))


def jsonl_lz4_records(data: bytes) -> list:
    """(first_frame_index, line_bytes) per JSONL record across a
    multi-frame shard, reassembling records cut mid-line at frame
    boundaries — same contract as zstd.jsonl_zst_records."""
    recs = []
    carry = b""
    carry_frame = None
    fi = -1
    for fr in lz4_frames(data):
        if fr["skippable"]:
            continue
        fi += 1
        chunk = fr["data"]
        start = 0
        while True:
            nl = chunk.find(b"\n", start)
            if nl < 0:
                break
            line = carry + chunk[start:nl]
            recs.append(
                (carry_frame if carry_frame is not None else fi, line)
            )
            carry = b""
            carry_frame = None
            start = nl + 1
        rest = chunk[start:]
        if rest:
            if carry_frame is None:
                carry_frame = fi
            carry += rest
    if carry:
        recs.append((carry_frame, carry))
    return recs


def lz4_compress(
    data: bytes,
    block_size_code: int = 4,
    block_indep: bool = True,
    block_checksum: bool = False,
    content_checksum: bool = True,
    content_size: bool = False,
    store: bool = False,
) -> bytes:
    """Frame-format encoder over lz4_block_encode. ``store`` forces
    raw (uncompressed-flag) blocks; otherwise each block keeps
    whichever of compressed/raw is smaller, as the spec directs."""
    if block_size_code not in _BD_SIZES:
        raise ValueError("lz4: bad max-block-size code")
    bmax = _BD_SIZES[block_size_code]
    flg = (0b01 << 6) | (0x20 if block_indep else 0)
    flg |= 0x10 if block_checksum else 0
    flg |= 0x08 if content_size else 0
    flg |= 0x04 if content_checksum else 0
    hdr = bytearray([flg, block_size_code << 4])
    if content_size:
        hdr += struct.pack("<Q", len(data))
    out = bytearray(struct.pack("<I", _MAGIC))
    out += hdr
    out.append((xxh32(bytes(hdr)) >> 8) & 0xFF)
    for i in range(0, len(data), bmax):
        blk = data[i : i + bmax]
        window = b"" if (block_indep or store) else data[max(0, i - 65536) : i]
        comp = None if store else lz4_block_encode(blk, prefix=window)
        if comp is not None and len(comp) < len(blk):
            out += struct.pack("<I", len(comp))
            payload = comp
        else:
            out += struct.pack("<I", len(blk) | 0x80000000)
            payload = blk
        out += payload
        if block_checksum:
            out += struct.pack("<I", xxh32(payload))
    out += struct.pack("<I", 0)  # EndMark
    if content_checksum:
        out += struct.pack("<I", xxh32(data))
    return bytes(out)


def skippable_frame(payload: bytes, nibble: int = 0) -> bytes:
    if not 0 <= nibble <= 15:
        raise ValueError("lz4: skippable nibble out of 0..15")
    return struct.pack("<II", _SKIP_LO + nibble, len(payload)) + payload
