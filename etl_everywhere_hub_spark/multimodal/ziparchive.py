"""ZIP archive walk (APPNOTE.TXT format).

Why this belongs in the engine: ZIP is the most common "here is a
dataset" container on the public internet — Kaggle exports, agency
open-data portals, xlsx/docx (which ARE zips) — and an ingestion
layer that reads tarballs (multimodal/tar.py) and every modern codec
but not .zip stops at the most ordinary delivery format there is.
Reference analog: none — north-star ingestion surface.

Implemented from the public PKWARE APPNOTE (the ZIP format
specification):
- End of Central Directory (EOCD, PK\\x05\\x06) located by a
  bounded backward scan tolerating a trailing comment; ZIP64 EOCD
  locator (PK\\x06\\x07) + ZIP64 EOCD (PK\\x06\\x06) when any
  16/32-bit field saturates.
- Central directory entries (PK\\x01\\x02): compression method,
  CRC-32, compressed/uncompressed sizes, local-header offsets, ZIP64
  extra fields (0x0001) overriding saturated sizes/offsets, the
  UTF-8 filename flag (bit 11) vs CP437 legacy names.
- Local headers (PK\\x03\\x04) re-verified per member (name and
  method must agree with the directory — an inconsistent pair is how
  zip-slip/smuggling bugs hide, so it REFUSES); data descriptors
  (bit 3) tolerated since sizes come from the directory.
- Methods: 0 stored, 8 DEFLATE (stdlib ``zlib`` through
  multimodal/deflate.py inflate), 12 bzip2 (multimodal/bzip2.py) and
  14 LZMA (raw LZMA1 through stdlib ``lzma``, as CPython's zipfile
  decodes it). Anything else refuses loudly.
- CRC-32 (the IEEE polynomial, stdlib ``zlib.crc32``) verified on
  every decoded member — silence is the only wrong answer.

The CENTRAL DIRECTORY is why ZIP matters at scale: unlike tar, the
member list lives at the FILE TAIL with absolute offsets, so a
distributed reader range-reads the tail once, then hands (offset,
compressed size) slices to workers — random access per member, no
sequential walk. ``zip_entries`` decodes only the directory;
``zip_member`` decodes one member from its own slice. Both halves
are exercised independently in tests and in q377's in-task asserts.

Foreign pins (tests/test_zip.py): stdlib ``zipfile`` writes (stored
+ deflated, with and without ZIP64, unicode names) decode exactly,
and stdlib reads this module's writer back; corruption matrix (CRC,
method mismatch, truncated EOCD) is loud.
"""
from __future__ import annotations

import lzma
import struct
from zlib import crc32

_EOCD = b"PK\x05\x06"
_Z64_LOC = b"PK\x06\x07"
_Z64_EOCD = b"PK\x06\x06"
_CDIR = b"PK\x01\x02"
_LOCAL = b"PK\x03\x04"

METHODS = {0: "stored", 8: "deflate", 12: "bzip2", 14: "lzma"}


def _find_eocd(data: bytes) -> int:
    """EOCD ends the file, possibly followed by a comment up to
    65535 bytes; scan backward for the signature."""
    lo = max(0, len(data) - 22 - 65535)
    at = data.rfind(_EOCD, lo)
    if at < 0:
        raise ValueError("zip: no End of Central Directory signature")
    return at


def zip_entries(data: bytes) -> list:
    """Decode the central directory WITHOUT touching member data:
    one dict per member {name, method, crc32, compressed_size,
    uncompressed_size, offset, is_dir}. Handles ZIP64 EOCD and
    per-entry ZIP64 extra fields; rejects unsupported methods at
    decode time (zip_member), not here — the directory walk itself
    is method-agnostic by design (a catalog can list what it cannot
    yet decode)."""
    at = _find_eocd(data)
    (n_total, cd_size, cd_off) = struct.unpack_from("<HII", data, at + 10)
    n_entries = n_total
    if n_total == 0xFFFF or cd_off == 0xFFFFFFFF or \
            cd_size == 0xFFFFFFFF:
        loc = data.rfind(_Z64_LOC, 0, at)
        if loc < 0:
            raise ValueError("zip: saturated EOCD without ZIP64 locator")
        (z64_at,) = struct.unpack_from("<Q", data, loc + 8)
        if data[z64_at:z64_at + 4] != _Z64_EOCD:
            raise ValueError("zip: ZIP64 EOCD signature missing")
        n_entries, cd_size, cd_off = struct.unpack_from(
            "<QQQ", data, z64_at + 32)[0], \
            struct.unpack_from("<Q", data, z64_at + 40)[0], \
            struct.unpack_from("<Q", data, z64_at + 48)[0]
    out = []
    pos = cd_off
    for _ in range(n_entries):
        if data[pos:pos + 4] != _CDIR:
            raise ValueError("zip: central directory entry corrupt")
        (flags, method, _t, _d, crc, csize, usize, nlen, elen, clen,
         _disk, _ia, _ea, off) = struct.unpack_from(
            "<HHHHIIIHHHHHII", data, pos + 8)
        name_raw = data[pos + 46:pos + 46 + nlen]
        name = name_raw.decode(
            "utf-8" if flags & (1 << 11) else "cp437")
        extra = data[pos + 46 + nlen:pos + 46 + nlen + elen]
        # ZIP64 extra field overrides saturated 32-bit values, in
        # the fixed order usize, csize, offset — only for those
        # fields that ARE saturated
        ep = 0
        while ep + 4 <= len(extra):
            (eid, esz) = struct.unpack_from("<HH", extra, ep)
            if eid == 0x0001:
                body = extra[ep + 4:ep + 4 + esz]
                bp = 0
                if usize == 0xFFFFFFFF:
                    (usize,) = struct.unpack_from("<Q", body, bp)
                    bp += 8
                if csize == 0xFFFFFFFF:
                    (csize,) = struct.unpack_from("<Q", body, bp)
                    bp += 8
                if off == 0xFFFFFFFF:
                    (off,) = struct.unpack_from("<Q", body, bp)
                    bp += 8
            ep += 4 + esz
        out.append({
            "name": name, "method": METHODS.get(method, method),
            "crc32": crc, "compressed_size": csize,
            "uncompressed_size": usize, "offset": off,
            "is_dir": name.endswith("/"),
        })
        pos += 46 + nlen + elen + clen
    return out


def zip_member(data: bytes, entry: dict) -> bytes:
    """Decode ONE member from its directory entry — the worker-side
    unit (at scale, ``data`` is a range read of
    [offset, offset + header + compressed_size)). Verifies the local
    header agrees with the directory and the CRC-32 of the decoded
    bytes."""
    off = entry["offset"]
    if off + 30 > len(data):
        raise ValueError("zip: truncated member header")
    if data[off:off + 4] != _LOCAL:
        raise ValueError("zip: local header signature missing")
    (flags, method, _t, _d, _crc, _cs, _us, nlen, elen) = \
        struct.unpack_from("<HHHHIIIHH", data, off + 6)
    if off + 30 + nlen + elen > len(data):
        raise ValueError("zip: truncated member header fields")
    name = data[off + 30:off + 30 + nlen].decode(
        "utf-8" if flags & (1 << 11) else "cp437")
    if name != entry["name"]:
        raise ValueError(
            f"zip: local header name {name!r} != directory "
            f"{entry['name']!r} — refusing inconsistent archive")
    if METHODS.get(method, method) != entry["method"]:
        raise ValueError("zip: local/directory method mismatch")
    start = off + 30 + nlen + elen
    raw = data[start:start + entry["compressed_size"]]
    if len(raw) != entry["compressed_size"]:
        raise ValueError("zip: truncated member data")
    if entry["method"] == "stored":
        plain = raw
    elif entry["method"] == "deflate":
        from etl_everywhere_hub_spark.multimodal.deflate import inflate
        plain, _ = inflate(raw)
    elif entry["method"] == "bzip2":
        from etl_everywhere_hub_spark.multimodal.bzip2 import decompress
        plain = decompress(raw)
    elif entry["method"] == "lzma":
        # APPNOTE 5.8: 2-byte version, 2-byte props size, then the
        # LZMA properties (lc/lp/pb byte + LE32 dict size) and a raw
        # LZMA1 stream; the directory's uncompressed size bounds the
        # decode exactly, so the optional end-of-stream marker (flag
        # bit 1) never needs consuming
        if len(raw) < 9:
            raise ValueError("zip: lzma member too short")
        (psize,) = struct.unpack_from("<H", raw, 2)
        if psize != 5:
            raise ValueError(f"zip: lzma props size {psize} != 5")
        props, dict_size = struct.unpack_from("<BI", raw, 4)
        if props >= 9 * 5 * 5:
            raise ValueError("zip: invalid lzma properties byte")
        lzma1 = {"id": lzma.FILTER_LZMA1, "lc": props % 9,
                 "lp": props // 9 % 5, "pb": props // 45,
                 "dict_size": dict_size}
        try:
            dec = lzma.LZMADecompressor(lzma.FORMAT_RAW, filters=[lzma1])
            plain = dec.decompress(
                raw[9:], max_length=entry["uncompressed_size"])
        except lzma.LZMAError as e:
            raise ValueError(f"zip: lzma {e}") from None
    else:
        raise ValueError(
            f"zip: unsupported method {entry['method']!r}")
    if len(plain) != entry["uncompressed_size"]:
        raise ValueError("zip: decoded size mismatch")
    if crc32(plain) != entry["crc32"]:
        raise ValueError(f"zip: CRC-32 mismatch in {entry['name']!r}")
    return plain


def zip_extract_all(data: bytes) -> list:
    """Decode every regular member: [(name, bytes)] in directory
    order."""
    return [(e["name"], zip_member(data, e))
            for e in zip_entries(data) if not e["is_dir"]]


def zip_write(members: list, compress: bool = True) -> bytes:
    """Serialize (name, bytes) members — stored or deflated via the
    engine's own encoder; UTF-8 names flagged per the APPNOTE.
    Deterministic: fixed DOS timestamp, no extra fields."""
    from etl_everywhere_hub_spark.multimodal.deflate import deflate

    out = bytearray()
    central = bytearray()
    for name, plain in members:
        plain = bytes(plain)
        nraw = name.encode("utf-8")
        flags = 1 << 11          # UTF-8 name
        crc = crc32(plain)
        if compress:
            enc = deflate(plain)
            method = 8
        else:
            enc = plain
            method = 0
        off = len(out)
        hdr = struct.pack(
            "<HHHHIIIHH", flags, method, 0, 0x21, crc, len(enc),
            len(plain), len(nraw), 0)
        out += _LOCAL + struct.pack("<H", 20) + hdr + nraw + enc
        central += _CDIR + struct.pack("<HH", 20, 20) + hdr + \
            struct.pack("<HHHII", 0, 0, 0, 0, off) + nraw
    cd_off = len(out)
    out += central
    out += _EOCD + struct.pack(
        "<HHHHIIH", 0, 0, len(members), len(members), len(central),
        cd_off, 0)
    return bytes(out)
