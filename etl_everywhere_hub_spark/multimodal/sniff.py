"""Magic-byte codec sniffing + one-call decode dispatch — round 12.

Why this belongs in the engine: a real corpus DIRECTORY is mixed —
Common Crawl WARC.gz next to a RedPajama .jsonl.zst next to a
Wikipedia .bz2 next to an OpenWebText .tar.xz — and file extensions
lie (re-uploads, renamed shards, extensionless object-store keys).
The five codec modules (multimodal/deflate.py, zstd.py, bzip2.py,
lz4.py, xz.py) each know their own magic; this module is
the single front door an ingestion job routes through: sniff the
leading bytes, dispatch to the right walk, return the plaintext and
the codec name for lineage.

Magics (each from its own format document, cited in the codec
modules): gzip 1F 8B, zstd standard frame 28 B5 2F FD (LE
0xFD2FB528) and skippable 5x 2A 4D 18, bzip2 'BZh' + level digit,
LZ4 frame 04 22 4D 18 and its skippable range, xz FD '7zXZ' 00.
``tar`` is also recognized (ustar magic at offset 257) because
corpus tarballs appear UNcompressed on fast object stores, and the
snappy FRAMING format by its sNaPpY stream identifier. Hadoop
.snappy block files carry NO magic at all (a documented boundary:
they are extension-routed in every Hadoop tool too — route them to
multimodal/snappy.py:hadoop_snappy_decompress by name).

The sniff is decisive or loud: unknown leading bytes raise with a
hexdump prefix — silently treating compressed bytes as text is how
mojibake enters a corpus. Dispatch is total over the sniff result.

One documented ambiguity the FORMATS themselves carry: zstd and LZ4
define the IDENTICAL skippable-frame magic range 0x184D2A50..5F, so
a stream whose first frame is skippable cannot be attributed from
magic alone. The sniff picks zstd (the codec whose ecosystem
actually leads streams with skippable metadata frames); if the
payload frames turn out to be LZ4 the zstd walk raises on their
magic — loud, never silent garbage (pinned in tests/test_sniff.py).

Scale posture: sniffing needs <= 262 bytes of each object (a HEAD
range request at 100 TB, not a full read); decode then runs the
per-codec walk worker-side as usual.
"""
from __future__ import annotations


def sniff_codec(data: bytes) -> str:
    """Codec name from leading magic bytes: one of 'gzip', 'zstd',
    'bzip2', 'lz4', 'xz', 'tar'. Raises on anything else."""
    if data[:2] == b"\x1f\x8b":
        return "gzip"
    if data[:4] == b"\x28\xb5\x2f\xfd":
        return "zstd"
    if len(data) >= 4 and data[1:4] == b"\x2a\x4d\x18" and (
        0x50 <= data[0] <= 0x5F
    ):
        return "zstd"  # skippable frame leading a zstd stream
    if data[:3] == b"BZh" and len(data) > 3 and 0x31 <= data[3] <= 0x39:
        return "bzip2"
    if data[:4] == b"\x04\x22\x4d\x18":
        return "lz4"
    if data[:6] == b"\xfd7zXZ\x00":
        return "xz"
    if data[:10] == b"\xff\x06\x00\x00sNaPpY":
        return "snappy-framed"
    if data[257:263] in (b"ustar\x00", b"ustar "):
        return "tar"
    raise ValueError(
        f"sniff: unrecognized leading bytes {data[:8].hex()} — refusing "
        "to guess (a mis-sniffed codec poisons every downstream text op)"
    )


def decode_auto(data: bytes) -> tuple:
    """(codec name, plaintext) via the sniffed codec's own walk.
    'tar' returns the archive bytes unchanged (the member walk is
    multimodal/tar.py's job — composition stays explicit)."""
    codec = sniff_codec(data)
    if codec == "gzip":
        from etl_everywhere_hub_spark.multimodal.deflate import gunzip_members

        return codec, b"".join(m["payload"] for m in gunzip_members(data))
    if codec == "zstd":
        from etl_everywhere_hub_spark.multimodal.zstd import decompress

        return codec, decompress(data)
    if codec == "bzip2":
        from etl_everywhere_hub_spark.multimodal.bzip2 import decompress

        return codec, decompress(data)
    if codec == "lz4":
        from etl_everywhere_hub_spark.multimodal.lz4 import decompress

        return codec, decompress(data)
    if codec == "xz":
        from etl_everywhere_hub_spark.multimodal.xz import decompress

        return codec, decompress(data)
    if codec == "snappy-framed":
        from etl_everywhere_hub_spark.multimodal.snappy import (
            framed_snappy_decompress,
        )

        return codec, framed_snappy_decompress(data)
    return codec, data  # tar
