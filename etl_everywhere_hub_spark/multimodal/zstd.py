"""Zstandard (RFC 8878): frame walk from spec, payload decode by libzstd.

Why this belongs in the engine: gzip covered the WARC/Common Crawl
layout (multimodal/deflate.py, q352/q353), but the dominant
compression of CURRENT public LLM corpus releases (RedPajama, Dolma,
most HF text dumps) is ``.jsonl.zst`` — an ingestion layer that reads
WARC.gz but not zstd misses the majority of modern corpus drops.

- Frame walk, from spec, header-only (no entropy decode): magic
  0xFD2FB528, Frame_Header_Descriptor (FCS field sizes 0/1/2/4/8 with
  the +256 bias on the 2-byte form, Single_Segment, Content_Checksum,
  Dictionary_ID 0/1/2/4, reserved-bit check), Window_Descriptor
  exponent/mantissa, the 3-byte block headers (Raw / RLE / Compressed,
  21-bit Block_Size, Last_Block) and the 4-byte checksum trailer.
  Skippable frames (§3.1.2) 0x184D2A50..5F return their user data.
  The walk yields exact per-frame byte ranges — the split points a
  distributed .jsonl.zst reader fans out on — and every truncation
  raises ``ValueError``.
- Payload decode: each walked frame is decoded by pyarrow's bundled
  libzstd (``multimodal/deflate.py:arrow_decode``), which also
  verifies the XXH64 content checksum and the declared content size.
- Dictionaries (§5) are not decoded: a frame declaring a non-zero
  Dictionary_ID is refused with ``requires dictionary N``.

Encoder (honest subset — enough to build spec-valid fixtures without
the CLI): Raw and RLE blocks, Huffman-compressed literals with a
zero-sequence section (direct-weight trees, 1-stream and 4-stream,
length-limited Kraft-exact code construction), single-segment and
windowed headers, FCS, content checksums (``xxh64``), skippable
frames. It does NOT emit LZ sequences, FSE-compressed weights or
dictionary frames; tests/test_zstd.py pins it against the ``zstd`` CLI
as a foreign decoder, and the CLI as a foreign encoder covers those
decode paths.

Scale shape: like gzip members (deflate.py), the FRAME is the
parallel unit — corpus releases shard into many .zst files/frames; a
worker decodes its batch's frames independently, no cross-worker
state (q357)."""

from __future__ import annotations

import struct

from etl_everywhere_hub_spark.multimodal.deflate import arrow_decode

_MAGIC = 0xFD2FB528
_SKIP_LO, _SKIP_HI = 0x184D2A50, 0x184D2A5F
_MASK64 = (1 << 64) - 1

# ------------------------------------------------------------ xxh64
# xxHash spec (Yann Collet, github.com/Cyan4973/xxHash/doc — public);
# RFC 8878 §3.1.1 defines Content_Checksum as the low 4 bytes of
# XXH64(content, seed=0), little-endian.
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _xxh_round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _MASK64
    return (_rotl64(acc, 31) * _P1) & _MASK64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 from the public xxHash spec (steps 1-7 verbatim)."""
    n = len(data)
    i = 0
    if n >= 32:
        a1 = (seed + _P1 + _P2) & _MASK64
        a2 = (seed + _P2) & _MASK64
        a3 = seed & _MASK64
        a4 = (seed - _P1) & _MASK64
        while i + 32 <= n:
            l1, l2, l3, l4 = struct.unpack_from("<QQQQ", data, i)
            a1 = _xxh_round(a1, l1)
            a2 = _xxh_round(a2, l2)
            a3 = _xxh_round(a3, l3)
            a4 = _xxh_round(a4, l4)
            i += 32
        acc = (
            _rotl64(a1, 1) + _rotl64(a2, 7) + _rotl64(a3, 12) + _rotl64(a4, 18)
        ) & _MASK64
        for a in (a1, a2, a3, a4):
            acc = ((acc ^ _xxh_round(0, a)) * _P1 + _P4) & _MASK64
    else:
        acc = (seed + _P5) & _MASK64
    acc = (acc + n) & _MASK64
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        acc = ((_rotl64(acc ^ _xxh_round(0, lane), 27) * _P1) + _P4) & _MASK64
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        acc = ((_rotl64(acc ^ ((lane * _P1) & _MASK64), 23) * _P2) + _P3) & _MASK64
        i += 4
    while i < n:
        acc = (_rotl64(acc ^ ((data[i] * _P5) & _MASK64), 11) * _P1) & _MASK64
        i += 1
    acc = ((acc ^ (acc >> 33)) * _P2) & _MASK64
    acc = ((acc ^ (acc >> 29)) * _P3) & _MASK64
    return acc ^ (acc >> 32)


# ----------------------------------------------------------- frames
def _need(data: bytes, pos: int, n: int, what: str) -> None:
    if pos + n > len(data):
        raise ValueError(f"zstd: truncated {what} at byte {pos}")


def _walk_frame(data: bytes, pos: int = 0) -> dict:
    """Header-only walk of ONE frame starting at ``pos``: the
    decode_frame dict without ``payload`` for zstd frames (skippable
    frames carry their raw user data as ``payload``)."""
    start = pos
    _need(data, pos, 4, "frame magic")
    (magic,) = struct.unpack_from("<I", data, pos)
    pos += 4
    if _SKIP_LO <= magic <= _SKIP_HI:
        _need(data, pos, 4, "skippable frame size")
        (fsize,) = struct.unpack_from("<I", data, pos)
        pos += 4
        _need(data, pos, fsize, "skippable frame")
        return {
            "frame_start": start,
            "frame_end": pos + fsize,
            "kind": "skippable",
            "payload": bytes(data[pos : pos + fsize]),
            "magic_nibble": magic - _SKIP_LO,
        }
    if magic != _MAGIC:
        raise ValueError(f"zstd: bad magic 0x{magic:08X} at {start}")
    _need(data, pos, 1, "frame header")
    fhd = data[pos]
    pos += 1
    if fhd & 0x08:
        raise ValueError("zstd: reserved frame-header bit set")
    single_segment = bool(fhd & 0x20)
    checksum_present = bool(fhd & 0x04)
    did_len = (0, 1, 2, 4)[fhd & 3]
    fcs_len = (1 if single_segment else 0, 2, 4, 8)[fhd >> 6]
    _need(data, pos, (0 if single_segment else 1) + did_len + fcs_len,
          "frame header")
    window_size = None
    if not single_segment:
        exponent, mantissa = data[pos] >> 3, data[pos] & 7
        pos += 1
        base = 1 << (10 + exponent)
        window_size = base + (base >> 3) * mantissa
    dict_id = int.from_bytes(data[pos : pos + did_len], "little")
    pos += did_len
    if dict_id:
        raise ValueError(f"zstd: frame requires dictionary {dict_id}; "
                         "dictionary frames are not decoded")
    content_size = None
    if fcs_len:
        content_size = int.from_bytes(data[pos : pos + fcs_len], "little")
        if fcs_len == 2:
            content_size += 256
        pos += fcs_len
    if single_segment:
        window_size = content_size
    n_blocks = 0
    last = 0
    while not last:
        _need(data, pos, 3, "block header")
        bh = int.from_bytes(data[pos : pos + 3], "little")
        pos += 3
        last = bh & 1
        btype = (bh >> 1) & 3
        if btype == 3:
            raise ValueError("zstd: reserved block type")
        # an RLE block stores one byte; Block_Size is its repeat count
        size = 1 if btype == 1 else bh >> 3
        _need(data, pos, size, "block")
        pos += size
        n_blocks += 1
    if checksum_present:
        _need(data, pos, 4, "content checksum")
        pos += 4
    return {
        "frame_start": start,
        "frame_end": pos,
        "kind": "zstd",
        "window_size": window_size,
        "content_size": content_size,
        "checksum_present": checksum_present,
        "n_blocks": n_blocks,
        "single_segment": single_segment,
    }


def decode_frame(data: bytes, pos: int = 0) -> dict:
    """Decode ONE frame starting at ``pos``. Returns a dict with
    frame_start / frame_end / kind ('zstd' | 'skippable') / payload
    (decoded bytes; skippable frames carry their raw user data) plus,
    for zstd frames: window_size, content_size (declared, or None),
    checksum_present, checksum_ok (None when absent; a mismatch
    raises), n_blocks, single_segment."""
    f = _walk_frame(data, pos)
    if f["kind"] == "zstd":
        f["payload"] = arrow_decode("zstd", data, f["frame_start"], f["frame_end"])
        f["checksum_ok"] = True if f["checksum_present"] else None
    return f


def zstd_frames(data: bytes) -> list:
    """Multi-frame walk: decode every frame (zstd + skippable) in a
    concatenated stream, returning per-frame dicts with exact byte
    ranges — the split points a distributed reader fans out on, the
    same role gunzip_members plays for WARC.gz."""
    frames = []
    pos = 0
    while pos < len(data):
        f = decode_frame(data, pos)
        frames.append(f)
        pos = f["frame_end"]
    return frames


def decompress(data: bytes) -> bytes:
    """Concatenated-frame decompress (what `zstd -d` does): zstd
    frame payloads concatenate, skippable frames contribute
    nothing."""
    return b"".join(f["payload"] for f in zstd_frames(data) if f["kind"] == "zstd")


def jsonl_zst_records(data: bytes) -> list:
    """.jsonl.zst corpus walk: decode the frame sequence and split
    the concatenated text on newlines, tolerating records that span
    frame boundaries (frames are byte-oriented, not line-aligned).
    Returns (frame_index_of_record_start, line_bytes) pairs; a
    trailing line without a newline is returned too (corpus shards
    are routinely truncated at distribution boundaries)."""
    records = []
    carry = b""
    carry_frame = 0
    for fi, f in enumerate(zstd_frames(data)):
        if f["kind"] != "zstd":
            continue
        buf = carry + f["payload"]
        lines = buf.split(b"\n")
        for line in lines[:-1]:
            records.append((carry_frame, line))
            carry_frame = fi  # subsequent whole lines start in this frame
        carry = lines[-1]
        if not carry:
            carry_frame = fi
    if carry:
        records.append((carry_frame, carry))
    return records


# ---------------------------------------------------------- encoder
class _BackBitWriter:
    """Writer for the backward bitstream: a decoder reads from the end,
    so groups added LAST are read FIRST and callers add in reverse
    decode order. close() appends the 1-marker above the top bit
    (§3.1.1.3.2.1.1)."""

    def __init__(self):
        self.acc = 0
        self.nbits = 0

    def add(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n

    def close(self) -> bytes:
        self.acc |= 1 << self.nbits
        self.nbits += 1
        return self.acc.to_bytes((self.nbits + 7) >> 3, "little")


def _huf_weights(freq: dict) -> list | None:
    """Code lengths for the literal alphabet with EXACT Kraft
    equality (the decode-table fill requires Σ2^(w-1) to be a power
    of two) and the 11-bit zstd cap. Plain two-queue Huffman is
    Kraft-exact by construction; the depth-limit repair re-levels in
    integer units of 2^-11 and restores equality before returning.
    None when the alphabet cannot be expressed (max symbol > 127 —
    the direct-weight header's own bound — or < 2 symbols)."""
    if not freq or max(freq) > 127 or len(freq) < 2:
        return None
    import heapq

    heap = [(f, s, (s,)) for s, f in sorted(freq.items())]
    heapq.heapify(heap)
    depth = {s: 0 for s in freq}
    uid = 256
    while len(heap) > 1:
        f1, _u1, s1 = heapq.heappop(heap)
        f2, _u2, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, uid, s1 + s2))
        uid += 1
    if max(depth.values()) > 11:
        for s in depth:
            depth[s] = min(depth[s], 11)
        # units of 2^-11; target exactly 2048
        S = sum(1 << (11 - d) for d in depth.values())
        by_freq_asc = sorted(depth, key=lambda s: (freq[s], s))
        while S > 2048:
            for s in by_freq_asc:
                if depth[s] < 11:
                    S -= 1 << (11 - depth[s] - 1)
                    depth[s] += 1
                    break
            else:
                raise ValueError("zstd: kraft repair failed (over)")
        for s in sorted(depth, key=lambda s: (-freq[s], s)):
            while depth[s] > 1 and S + (1 << (11 - depth[s])) <= 2048:
                S += 1 << (11 - depth[s])
                depth[s] -= 1
        if S != 2048:
            raise ValueError("zstd: kraft repair failed (under)")
    lengths = [0] * (max(freq) + 1)
    for s, d in depth.items():
        lengths[s] = d
    return lengths


def _huf_codes(lengths: list) -> tuple:
    """Canonical code values in the §4.2.1.3 order (codes assigned
    from the lowest weight upward, ascending symbol within a weight):
    returns ({symbol: (code, nbits)}, max_bits)."""
    max_bits = max(lengths)
    weights = [max_bits + 1 - n if n else 0 for n in lengths]
    total = sum((1 << (w - 1)) for w in weights if w)
    if total != (1 << max_bits):
        raise ValueError("zstd: encoder weights not Kraft-exact")
    codes = {}
    posn = 0
    for w in range(1, max(weights) + 1):
        for sym, sw in enumerate(weights):
            if sw != w:
                continue
            nb = max_bits + 1 - w
            codes[sym] = (posn >> (w - 1), nb)
            posn += 1 << (w - 1)
    return codes, max_bits


def _huf_stream(chunk: bytes, codes: dict) -> bytes:
    """One Huffman bitstream: the decoder emits front-to-back, so the
    encoder adds codes back-to-front (reference HUF encodes from the
    tail for the same reason)."""
    w = _BackBitWriter()
    for b in reversed(chunk):
        c, nb = codes[b]
        w.add(c, nb)
    return w.close()


def _encode_huffman_literals(lits: bytes) -> bytes | None:
    """A Literals_Section of type Compressed_Literals_Block with a
    direct-weight tree, or None when Huffman can't win / can't
    express the alphabet (caller falls back to a raw block)."""
    from collections import Counter

    freq = Counter(lits)
    lengths = _huf_weights(freq)
    if lengths is None:
        return None
    codes, _mb = _huf_codes(lengths)
    # direct-weight description: weights for symbols 0..N-1, symbol N
    # implied (§4.2.1.1). N = highest present symbol.
    n_weights = max(freq)
    max_bits = max(lengths)
    tree = bytearray([127 + n_weights])
    nibbles = [max_bits + 1 - lengths[s] if lengths[s] else 0
               for s in range(n_weights)]
    if len(nibbles) % 2:
        nibbles.append(0)
    for i in range(0, len(nibbles), 2):
        tree.append((nibbles[i] << 4) | nibbles[i + 1])
    rsize = len(lits)
    if rsize <= 1023:
        streams = _huf_stream(lits, codes)
        csize = len(tree) + len(streams)
        if csize > 1023 or csize >= rsize:
            return None
        h = 2 | (0 << 2) | (rsize << 4) | (csize << 14)  # Size_Format 00
        return bytes([h & 0xFF, (h >> 8) & 0xFF, (h >> 16) & 0xFF]) + tree + streams
    # 4-stream split: streams 1-3 regenerate (r+3)/4 each
    part = (rsize + 3) >> 2
    chunks = [lits[:part], lits[part : 2 * part], lits[2 * part : 3 * part],
              lits[3 * part :]]
    enc = [_huf_stream(c, codes) for c in chunks]
    if any(len(e) > 0xFFFF for e in enc[:3]):
        return None
    jump = struct.pack("<HHH", len(enc[0]), len(enc[1]), len(enc[2]))
    body = tree + jump + b"".join(enc)
    csize = len(body)
    if csize >= rsize:
        return None
    if rsize <= 0x3FFF and csize <= 0x3FFF:
        h = 2 | (2 << 2) | (rsize << 4) | (csize << 18)  # Size_Format 10
        return h.to_bytes(4, "little") + body
    if rsize <= 0x3FFFF and csize <= 0x3FFFF:
        h = 2 | (3 << 2) | (rsize << 4) | (csize << 22)  # Size_Format 11
        return h.to_bytes(5, "little") + body
    return None


def _block(btype: int, content: bytes, rsize: int, last: bool) -> bytes:
    bh = (1 if last else 0) | (btype << 1) | (
        (rsize if btype == 1 else len(content)) << 3
    )
    return bh.to_bytes(3, "little") + content


def zstd_compress(
    data: bytes,
    mode: str = "auto",
    block_size: int = 128 * 1024,
    checksum: bool = True,
    single_segment: bool | None = None,
    fcs: bool = True,
) -> bytes:
    """Build a spec-valid zstd frame. ``mode``: 'store' (raw blocks),
    'rle' (RLE where a block is one repeated byte, else raw), 'auto'
    (RLE, else Huffman-compressed literals with a zero-sequence
    compressed block, else raw). No LZ sequences are emitted — see
    the module docstring for the honest encoder boundary."""
    if block_size <= 0 or block_size > (1 << 21) - 1:
        raise ValueError("zstd: block_size out of range")
    if single_segment is None:
        single_segment = len(data) <= 128 * 1024
    out = bytearray(struct.pack("<I", _MAGIC))
    fhd = (0x20 if single_segment else 0) | (0x04 if checksum else 0)
    n = len(data)
    if single_segment:  # FCS mandatory
        if n <= 255:
            fcs_flag, fcs_bytes = 0, n.to_bytes(1, "little")
        elif n <= 65535 + 256:
            fcs_flag, fcs_bytes = 1, (n - 256).to_bytes(2, "little")
        elif n < 1 << 32:
            fcs_flag, fcs_bytes = 2, n.to_bytes(4, "little")
        else:
            fcs_flag, fcs_bytes = 3, n.to_bytes(8, "little")
        out.append(fhd | (fcs_flag << 6))
        out += fcs_bytes
    else:
        if fcs and n >= 256:
            fcs_flag, fcs_bytes = (1, (n - 256).to_bytes(2, "little")) if (
                n <= 65535 + 256
            ) else (2, n.to_bytes(4, "little"))
        elif fcs:
            fcs_flag, fcs_bytes = 2, n.to_bytes(4, "little")
        else:
            fcs_flag, fcs_bytes = 0, b""
        out.append(fhd | (fcs_flag << 6))
        # window: smallest power-of-two >= max(1 KiB, min(n, 8 MiB))
        need = max(1024, min(n or 1, 8 << 20))
        wlog = max(10, (need - 1).bit_length())
        out.append((wlog - 10) << 3)
        out += fcs_bytes
    blocks = [data[i : i + block_size] for i in range(0, n, block_size)] or [b""]
    for bi, chunk in enumerate(blocks):
        last = bi == len(blocks) - 1
        if mode in ("rle", "auto") and chunk and chunk.count(chunk[0]) == len(chunk):
            out += _block(1, chunk[:1], len(chunk), last)
            continue
        if mode == "auto" and len(chunk) >= 32:
            lit = _encode_huffman_literals(chunk)
            if lit is not None:
                out += _block(2, lit + b"\x00", 0, last)  # 0 sequences
                continue
        out += _block(0, chunk, 0, last)
    if checksum:
        out += struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
    return bytes(out)


def skippable_frame(payload: bytes, nibble: int = 0) -> bytes:
    """§3.1.2: user-data frame a decoder must skip (corpus releases
    use these for shard metadata)."""
    if not 0 <= nibble <= 15:
        raise ValueError("zstd: skippable nibble out of range")
    return struct.pack("<II", _SKIP_LO + nibble, len(payload)) + payload
