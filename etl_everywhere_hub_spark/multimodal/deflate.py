"""DEFLATE (RFC 1951) + gzip (RFC 1952) codec.

Why this belongs in the engine: the dominant on-disk format of real
web-crawl corpora is not parquet but gzip — Common Crawl's WARC/WET
archives are CONCATENATED GZIP MEMBERS, one per record, precisely so
a reader can split and inflate records independently. An engine that
claims 100 TB crawl ingestion (SURVEY §2 multimodal/text surface;
reference ingest analog task.ts:103-115) needs the member framing
and the split points, and the container ships no fixture archives,
so the encoder is implemented from the RFCs too.

- Decode: the DEFLATE payload is inflated by stdlib ``zlib``
  (``decompressobj(-15)``, raw RFC 1951); ``inflate`` keeps the
  (bytes, end offset) contract the member walks fan out on.
  ``decode_until_eof`` is the shared stream-to-end driver that
  multimodal/xz.py and multimodal/bzip2.py use for liblzma and
  libbzip2 too; ``arrow_decode`` is its twin for the zstd and LZ4
  frames multimodal/zstd.py and multimodal/lz4.py walk.
- RFC 1952 framing, from spec: member header (magic/CM/FLG/MTIME/
  XFL/OS), FEXTRA / FNAME / FCOMMENT / FHCRC optional fields, CRC32 +
  ISIZE trailer validation, and MULTI-MEMBER walks returning
  per-member offsets — the split points a distributed reader fans
  out on. RFC 1950 wrapping (``zlib_unwrap``) likewise keeps its own
  header checks and adler32 validation.
- Encoders, from spec: greedy hash-chain LZ77 matcher (min match 3,
  32 KiB window), stored/fixed/dynamic block writers (dynamic builds
  depth-limited canonical Huffman codes and RLE-codes the
  code-length sequence), gzip member writer with every optional
  field. Queries pin the block types and sizes this writer emits;
  tests/test_deflate_warc.py pins it against zlib as the foreign
  decoder.

Scale shape: inflate is sequential WITHIN a member by design — the
parallel unit is the member (record), exactly how WARC is laid out;
the engine runs one worker per batch of members (q352/q353)."""

from __future__ import annotations

import lzma
import struct
import zlib

from binascii import crc32

# RFC 1951 §3.2.5 — length codes 257..285: (base, extra bits)
_LENGTH_TABLE = [
    (3, 0), (4, 0), (5, 0), (6, 0), (7, 0), (8, 0), (9, 0), (10, 0),
    (11, 1), (13, 1), (15, 1), (17, 1), (19, 2), (23, 2), (27, 2), (31, 2),
    (35, 3), (43, 3), (51, 3), (59, 3), (67, 4), (83, 4), (99, 4), (115, 4),
    (131, 5), (163, 5), (195, 5), (227, 5), (258, 0),
]
# distance codes 0..29
_DIST_TABLE = [
    (1, 0), (2, 0), (3, 0), (4, 0), (5, 1), (7, 1), (9, 2), (13, 2),
    (17, 3), (25, 3), (33, 4), (49, 4), (65, 5), (97, 5), (129, 6),
    (193, 6), (257, 7), (385, 7), (513, 8), (769, 8), (1025, 9),
    (1537, 9), (2049, 10), (3073, 10), (4097, 11), (6145, 11),
    (8193, 12), (12289, 12), (16385, 13), (24577, 13),
]
# §3.2.7 — transmission order of code-length-code lengths
_CLC_ORDER = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15]


class _LsbWriter:
    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def bits(self, v: int, n: int) -> None:
        for i in range(n):
            self.cur |= ((v >> i) & 1) << self.nbits
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.cur)
                self.cur = 0
                self.nbits = 0

    def code(self, code: int, length: int) -> None:
        """Huffman codes go MSB-first (§3.1.1 packing rule)."""
        for i in range(length - 1, -1, -1):
            self.bits((code >> i) & 1, 1)

    def align_byte(self) -> None:
        if self.nbits:
            self.out.append(self.cur)
            self.cur = 0
            self.nbits = 0

    def getvalue(self) -> bytes:
        self.align_byte()
        return bytes(self.out)


def _canonical_codes(lengths: list) -> dict:
    """§3.2.2 — canonical Huffman assignment. Returns
    {symbol: (code, length)} for symbols with non-zero length."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for b in range(1, max_len + 1):
        code = (code + bl_count[b - 1]) << 1
        next_code[b] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


def _fixed_lit_lengths() -> list:
    return [8] * 144 + [9] * 112 + [7] * 24 + [8] * 8


_FEED = 1 << 16  # input bytes per decompress call


def decode_until_eof(dec, data: bytes, pos: int, codec: str) -> tuple:
    """Feed ``data[pos:]`` to a stdlib ``zlib``/``lzma``/``bz2``
    decompressor object until its stream ends. Returns (decoded bytes,
    byte position just past the stream). The input goes in slices:
    ``unused_data`` is a copy of whatever followed the stream in the
    last slice, so a walk over many concatenated members stays linear
    in the buffer."""
    view = memoryview(data)
    parts = []
    p = pos
    try:
        while not dec.eof and p < len(data):
            parts.append(dec.decompress(view[p : p + _FEED]))
            p += _FEED
    except (zlib.error, lzma.LZMAError, OSError) as e:
        raise ValueError(f"{codec}: {e} (stream at byte {pos})") from None
    if not dec.eof:
        raise ValueError(f"{codec}: stream at byte {pos} truncated")
    return b"".join(parts), min(p, len(data)) - len(dec.unused_data)


def arrow_decode(codec: str, data: bytes, start: int, end: int) -> bytes:
    """Decode the complete zstd or LZ4 frame ``data[start:end]`` with
    pyarrow's bundled library. ``codec`` is 'zstd' or 'lz4'; the
    library also verifies the frame's own checksums."""
    import pyarrow as pa

    try:
        return pa.CompressedInputStream(
            pa.BufferReader(data[start:end]), codec).read()
    except OSError as e:
        raise ValueError(f"{codec}: {e} (frame at byte {start})") from None


def inflate(data: bytes, pos: int = 0) -> tuple:
    """Inflate one raw DEFLATE stream starting at byte ``pos``. Returns
    (decompressed bytes, byte position just past the stream)."""
    return decode_until_eof(zlib.decompressobj(-15), data, pos, "deflate")


# --------------------------------------------------------------- LZ77

_MIN_MATCH, _MAX_MATCH, _WINDOW = 3, 258, 32768


def _lz77(data: bytes) -> list:
    """Greedy hash-chain matcher → [(literal byte) | (length, dist)]."""
    tokens: list = []
    head: dict = {}
    i, n = 0, len(data)
    while i < n:
        best_len, best_dist = 0, 0
        if i + _MIN_MATCH <= n:
            key = data[i : i + _MIN_MATCH]
            for j in reversed(head.get(key, ())):
                if i - j > _WINDOW:
                    break
                ln = 0
                while (
                    i + ln < n
                    and ln < _MAX_MATCH
                    and data[j + ln] == data[i + ln]
                ):
                    ln += 1
                if ln > best_len:
                    best_len, best_dist = ln, i - j
                    if ln >= 64:  # good enough — greedy cutoff
                        break
        if best_len >= _MIN_MATCH:
            tokens.append((best_len, best_dist))
            for k in range(i, min(i + best_len, n - _MIN_MATCH + 1)):
                head.setdefault(data[k : k + _MIN_MATCH], []).append(k)
            i += best_len
        else:
            tokens.append(data[i])
            if i + _MIN_MATCH <= n:
                head.setdefault(key, []).append(i)
            i += 1
    return tokens


def _length_code(ln: int) -> tuple:
    for ci in range(len(_LENGTH_TABLE) - 1, -1, -1):
        base, extra = _LENGTH_TABLE[ci]
        if ln >= base and (ci == 28 or ln < _LENGTH_TABLE[ci + 1][0]):
            # code 285 (base 258) has no extra bits; 284 covers 227..257
            return 257 + ci, ln - base, extra
    raise ValueError(f"bad match length {ln}")


def _dist_code(d: int) -> tuple:
    for ci in range(len(_DIST_TABLE) - 1, -1, -1):
        base, extra = _DIST_TABLE[ci]
        if d >= base:
            return ci, d - base, extra
    raise ValueError(f"bad distance {d}")


def _limited_huffman(freqs: dict, max_len: int) -> list:
    """Canonical code lengths (list over the alphabet) with depth cap.
    Plain two-queue Huffman, then the standard shallow-rebalance when
    a depth exceeds the cap (fixture-scale data never triggers it,
    but the guard keeps the encoder spec-valid unconditionally)."""
    n = max(freqs) + 1 if freqs else 0
    alive = [(f, (s,)) for s, f in sorted(freqs.items()) if f > 0]
    if not alive:
        return [0] * n
    if len(alive) == 1:
        lengths = [0] * n
        lengths[alive[0][1][0]] = 1
        return lengths
    import heapq

    heap = [(f, i, syms) for i, (f, syms) in enumerate(alive)]
    heapq.heapify(heap)
    depth = dict.fromkeys((s for _f, _i, ss in heap for s in ss), 0)
    uid = len(heap)
    while len(heap) > 1:
        f1, _i1, s1 = heapq.heappop(heap)
        f2, _i2, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, uid, s1 + s2))
        uid += 1
    if max(depth.values()) > max_len:
        # kraft-repair: clamp and re-level (rare; correctness over optimality)
        for s in depth:
            depth[s] = min(depth[s], max_len)
        syms = sorted(depth, key=lambda s: (depth[s], s))
        while sum(2 ** (max_len - depth[s]) for s in syms) > 2 ** max_len:
            for s in sorted(syms, key=lambda s: -depth[s]):
                if depth[s] < max_len:
                    depth[s] += 1
                    break
            else:
                raise ValueError("kraft repair failed")
        # the lengthening can overshoot into an INCOMPLETE code, which
        # RFC 1951 decoders (zlib) reject: hand the slack back to the
        # deepest codes. Every term divides the slack, so this ends
        # at exactly 2**max_len.
        kraft = sum(2 ** (max_len - depth[s]) for s in syms)
        while kraft < 2 ** max_len:
            s = max(syms, key=lambda s: depth[s])
            kraft += 2 ** (max_len - depth[s])
            depth[s] -= 1
    lengths = [0] * n
    for s, d in depth.items():
        lengths[s] = d
    return lengths


def deflate(data: bytes, btype: int = 2, block_size: int | None = None) -> bytes:
    """Compress with a single strategy: 0 stored, 1 fixed-Huffman,
    2 dynamic-Huffman. ``block_size`` splits the output into multiple
    blocks — each with its own header (and, for dynamic, its own code
    tables); the LZ77 window intentionally DOES span block boundaries,
    as §3.2 allows (matches may reference any prior output byte)."""
    w = _LsbWriter()
    if btype == 0:
        # one stored BLOCK per slice: LEN/NLEN belongs to exactly one
        # block header (a single header followed by several LEN parts
        # is not a spec shape — caught by the roundtrip smoke)
        step = min(block_size or 65535, 65535)
        parts = [data[i : i + step] for i in range(0, len(data), step)] or [b""]
        for bi, part in enumerate(parts):
            w.bits(1 if bi == len(parts) - 1 else 0, 1)
            w.bits(0, 2)
            w.align_byte()
            w.out += struct.pack("<HH", len(part), len(part) ^ 0xFFFF) + part
        return w.getvalue()
    # tokenize ONCE over the whole input, then cut token-aligned blocks
    # (re-tokenizing per chunk would misalign matches straddling cuts)
    tokens = _lz77(data)
    groups: list = [[]]
    acc = 0
    for t in tokens:
        ln = t[0] if isinstance(t, tuple) else 1
        if block_size is not None and acc >= block_size and groups[-1]:
            groups.append([])
            acc = 0
        groups[-1].append(t)
        acc += ln
    for bi, g in enumerate(groups):
        _write_huff_block(w, g, 1 if bi == len(groups) - 1 else 0, btype)
    return w.getvalue()


def _write_huff_block(w: _LsbWriter, tokens: list, final: int, btype: int):
    w.bits(final, 1)
    w.bits(btype, 2)
    if btype == 1:
        lit_codes = _canonical_codes(_fixed_lit_lengths())
        dist_codes = _canonical_codes([5] * 30)
    else:
        lit_freq: dict = {256: 1}
        dist_freq: dict = {}
        for t in tokens:
            if isinstance(t, tuple):
                lc, _e, _n = _length_code(t[0])
                dc, _e2, _n2 = _dist_code(t[1])
                lit_freq[lc] = lit_freq.get(lc, 0) + 1
                dist_freq[dc] = dist_freq.get(dc, 0) + 1
            else:
                lit_freq[t] = lit_freq.get(t, 0) + 1
        lit_lens = _limited_huffman(lit_freq, 15)
        lit_lens += [0] * (257 - len(lit_lens))
        if not dist_freq:
            dist_lens = [1, 1]  # §3.2.7: at least one distance code
        else:
            dist_lens = _limited_huffman(dist_freq, 15)
            if sum(1 for x in dist_lens if x) == 1:
                # a single 1-length code is incomplete; pad a sibling
                pad = 0 if dist_lens[0] == 0 else 1
                while pad < len(dist_lens) and dist_lens[pad]:
                    pad += 1
                if pad == len(dist_lens):
                    dist_lens.append(1)
                else:
                    dist_lens[pad] = 1
        hlit = max(257, len(lit_lens))
        hdist = len(dist_lens)
        all_lens = lit_lens[:hlit] + dist_lens
        # RLE-code the length sequence (§3.2.7: 16=repeat-prev 3-6,
        # 17=zeros 3-10, 18=zeros 11-138), runs never crossing the
        # hlit/hdist boundary is NOT required by spec — we emit over
        # the concatenated sequence exactly as the reader consumes it
        cl_syms: list = []
        i = 0
        while i < len(all_lens):
            v = all_lens[i]
            run = 1
            while i + run < len(all_lens) and all_lens[i + run] == v:
                run += 1
            take = run
            if v == 0:
                while take >= 11:
                    r = min(take, 138)
                    cl_syms.append((18, r - 11, 7))
                    take -= r
                if take >= 3:
                    cl_syms.append((17, take - 3, 3))
                    take = 0
                cl_syms += [(0, None, 0)] * take
            else:
                cl_syms.append((v, None, 0))
                take -= 1
                while take >= 3:
                    r = min(take, 6)
                    cl_syms.append((16, r - 3, 2))
                    take -= r
                cl_syms += [(v, None, 0)] * take
            i += run
        clc_freq: dict = {}
        for s, _ex, _eb in cl_syms:
            clc_freq[s] = clc_freq.get(s, 0) + 1
        clc_lens = _limited_huffman(clc_freq, 7)
        clc_lens += [0] * (19 - len(clc_lens))
        if sum(1 for x in clc_lens if x) == 1:
            only = next(i for i, x in enumerate(clc_lens) if x)
            clc_lens[(only + 1) % 19] = 1
        hclen = 19
        while hclen > 4 and clc_lens[_CLC_ORDER[hclen - 1]] == 0:
            hclen -= 1
        w.bits(hlit - 257, 5)
        w.bits(hdist - 1, 5)
        w.bits(hclen - 4, 4)
        for k in range(hclen):
            w.bits(clc_lens[_CLC_ORDER[k]], 3)
        clc_codes = _canonical_codes(clc_lens)
        for s, ex, ebits in cl_syms:
            c, ln = clc_codes[s]
            w.code(c, ln)
            if ex is not None:
                w.bits(ex, ebits)
        lit_codes = _canonical_codes(lit_lens)
        dist_codes = _canonical_codes(dist_lens)
    for t in tokens:
        if isinstance(t, tuple):
            lc, lex, lebits = _length_code(t[0])
            c, ln = lit_codes[lc]
            w.code(c, ln)
            if lebits:
                w.bits(lex, lebits)
            dc, dex, debits = _dist_code(t[1])
            c, ln = dist_codes[dc]
            w.code(c, ln)
            if debits:
                w.bits(dex, debits)
        else:
            c, ln = lit_codes[t]
            w.code(c, ln)
    c, ln = lit_codes[256]
    w.code(c, ln)


# ---------------------------------------------------------------- gzip


def gzip_member(
    data: bytes,
    btype: int = 2,
    name: str | None = None,
    extra: bytes | None = None,
    comment: str | None = None,
    fhcrc: bool = False,
    mtime: int = 0,
    block_size: int | None = None,
) -> bytes:
    """One RFC 1952 member wrapping ``deflate(data, btype)``."""
    flg = (
        (4 if extra is not None else 0)
        | (8 if name is not None else 0)
        | (16 if comment is not None else 0)
        | (2 if fhcrc else 0)
    )
    hdr = bytearray(struct.pack("<2sBBIBB", b"\x1f\x8b", 8, flg, mtime, 0, 255))
    if extra is not None:
        hdr += struct.pack("<H", len(extra)) + extra
    if name is not None:
        hdr += name.encode("latin-1") + b"\x00"
    if comment is not None:
        hdr += comment.encode("latin-1") + b"\x00"
    if fhcrc:
        hdr += struct.pack("<H", crc32(bytes(hdr)) & 0xFFFF)
    body = deflate(data, btype=btype, block_size=block_size)
    trailer = struct.pack("<II", crc32(data) & 0xFFFFFFFF, len(data) & 0xFFFFFFFF)
    return bytes(hdr) + body + trailer


def gunzip_member(data: bytes, pos: int = 0) -> tuple:
    """Parse ONE member at ``pos``. Returns a dict (payload, name,
    extra, comment, mtime, member_start, member_end) with CRC32/ISIZE
    validated — loud errors, no silent resync."""
    start = pos
    if data[pos : pos + 2] != b"\x1f\x8b":
        raise ValueError("bad gzip magic")
    if data[pos + 2] != 8:
        raise ValueError(f"unsupported compression method {data[pos + 2]}")
    flg = data[pos + 3]
    if flg & 0xE0:
        raise ValueError("reserved FLG bits set")
    (mtime,) = struct.unpack_from("<I", data, pos + 4)
    pos += 10
    extra = name = comment = None
    if flg & 4:
        (xlen,) = struct.unpack_from("<H", data, pos)
        extra = data[pos + 2 : pos + 2 + xlen]
        pos += 2 + xlen
    if flg & 8:
        end = data.index(b"\x00", pos)
        name = data[pos:end].decode("latin-1")
        pos = end + 1
    if flg & 16:
        end = data.index(b"\x00", pos)
        comment = data[pos:end].decode("latin-1")
        pos = end + 1
    if flg & 2:
        (hcrc,) = struct.unpack_from("<H", data, pos)
        if hcrc != (crc32(data[start:pos]) & 0xFFFF):
            raise ValueError("FHCRC mismatch")
        pos += 2
    payload, pos = inflate(data, pos)
    if pos + 8 > len(data):
        raise ValueError("gzip trailer truncated")
    want_crc, want_size = struct.unpack_from("<II", data, pos)
    if want_crc != (crc32(payload) & 0xFFFFFFFF):
        raise ValueError("CRC32 mismatch")
    if want_size != len(payload) & 0xFFFFFFFF:
        raise ValueError("ISIZE mismatch")
    return {
        "payload": payload,
        "name": name,
        "extra": extra,
        "comment": comment,
        "mtime": mtime,
        "member_start": start,
        "member_end": pos + 8,
    }


def gunzip_members(data: bytes) -> list:
    """Walk a concatenation of gzip members (the WARC layout) to the
    end of the buffer; any trailing garbage raises."""
    out = []
    pos = 0
    while pos < len(data):
        m = gunzip_member(data, pos)
        out.append(m)
        pos = m["member_end"]
    return out


def zlib_unwrap(data: bytes) -> bytes:
    """RFC 1950: 2-byte header (CM/CINFO + FCHECK/FDICT/FLEVEL), raw
    DEFLATE body, big-endian adler32 — the wrapping PDF FlateDecode
    and Hadoop's DefaultCodec both use. One implementation (round-12
    review: pdf.py and seqfile.py had drifted copies; the seqfile
    copy had dropped the FDICT refusal). adler32 comes from the
    stdlib as a checksum utility, like crc32 for gzip."""
    if len(data) < 6:
        raise ValueError("zlib: stream too short")
    cmf, flg = data[0], data[1]
    if cmf & 0x0F != 8:
        raise ValueError("zlib: CM != deflate")
    if (cmf * 256 + flg) % 31 != 0:
        raise ValueError("zlib: header check failed")
    if flg & 0x20:
        raise ValueError("zlib: preset dictionary unsupported")
    out, end = inflate(data, 2)
    if end + 4 > len(data):
        raise ValueError("zlib: truncated adler32 trailer")
    (want,) = struct.unpack_from(">I", data, end)
    if zlib.adler32(out) & 0xFFFFFFFF != want:
        raise ValueError("zlib: adler32 mismatch")
    return out


def zlib_wrap(data: bytes) -> bytes:
    return (b"\x78\x01" + deflate(data)
            + struct.pack(">I", zlib.adler32(data) & 0xFFFFFFFF))
