"""bzip2 tests (multimodal/bzip2.py): stdlib ``bz2`` (libbzip2) as a
FOREIGN encoder across all 9 levels, multi-block and multistream
walks with offset contracts and block counts, the bzip2 CRC32 against
its published check value, RLE1 corners, tampered-bitstream error
paths (every truncation and a flipped payload byte name bzip2),
and the Wikipedia-dump fixture layer (functions/wikitext.py): page
XML, entity escaping, and the Python/Column wikitext-strip twins."""

from __future__ import annotations

import bz2
import hashlib

import pytest

from etl_everywhere_hub_spark.functions.wikitext import (
    build_wiki_page,
    build_wiki_shard,
    build_wikitext,
    strip_wikitext,
    xml_escape,
)
from etl_everywhere_hub_spark.multimodal.bzip2 import (
    bzip2_crc32,
    bzip2_streams,
    decode_stream,
    decompress,
)


def _pseudo(n: int, seed: bytes = b"bzip2") -> bytes:
    out = bytearray()
    cur = seed
    while len(out) < n:
        cur = hashlib.sha256(cur).digest()
        out += cur
    return bytes(out[:n])


# ------------------------------------------------------------ CRC
def test_crc32_is_the_bzip2_variant():
    # MSB-first 0x04C11DB7 over "123456789" is the well-known
    # CRC-32/BZIP2 check value 0xFC891918 — and NOT the zlib CRC.
    import zlib

    got = bzip2_crc32(b"123456789") ^ 0xFFFFFFFF
    assert got == 0xFC891918
    assert got != zlib.crc32(b"123456789")


# ------------------------------------------- foreign-encoder pins
@pytest.mark.parametrize("level", list(range(1, 10)))
def test_decode_all_levels(level):
    plain = _pseudo(4096) + b"x" * 300 + _pseudo(512, b"tail")
    assert decompress(bz2.compress(plain, level)) == plain


def test_decode_corpus_shapes():
    cases = [
        b"",
        b"a",
        b"a" * 100000,          # RLE1-heavy, single symbol
        b"ab" * 5000,           # two-symbol alternation
        bytes(range(256)) * 64, # full symbol map
        b"word " * 2000,        # text-like
        _pseudo(60000),         # incompressible-ish
    ]
    for plain in cases:
        assert decompress(bz2.compress(plain, 1)) == plain, len(plain)


def test_multi_block_stream():
    # 250 KB at level 1 (100 KB blocks) must span 3 blocks and the
    # combined-CRC fold across them must verify
    plain = _pseudo(250000)
    st = decode_stream(bz2.compress(plain, 1))
    assert st["n_blocks"] >= 3
    assert st["data"] == plain


def test_rle1_exact_run_boundaries():
    # runs of exactly 4 (count byte 0), 4+255 (max count byte), and
    # interleavings around the 4-byte trigger
    for run in (3, 4, 5, 8, 259, 260, 1000):
        plain = b"L" + b"r" * run + b"R"
        assert decompress(bz2.compress(plain, 9)) == plain, run


# ------------------------------------------------- multistream walk
def test_multistream_offsets_and_levels():
    parts = [b"first ", _pseudo(3000), b"", b"z" * 500]
    blob = b"".join(bz2.compress(p, 1 + i * 2) for i, p in enumerate(parts))
    sts = bzip2_streams(blob)
    assert [st["data"] for st in sts] == parts
    assert [st["level"] for st in sts] == [1, 3, 5, 7]
    assert sts[0]["offset"] == 0 and sts[-1]["end"] == len(blob)
    for a, b in zip(sts, sts[1:]):
        assert b["offset"] == a["end"], "streams must be contiguous"
    # decompress == stdlib multistream semantics
    assert decompress(blob) == bz2.decompress(blob)


def test_trailing_garbage_raises():
    blob = bz2.compress(b"payload", 5) + b"not a stream"
    with pytest.raises(ValueError, match="stream header"):
        bzip2_streams(blob)


# ------------------------------------------------------ error paths
def _two_stream_blob() -> bytes:
    return bz2.compress(_pseudo(250000), 1) + bz2.compress(b"word " * 300, 9)


def test_tampered_block_crc():
    blob = bytearray(bz2.compress(b"tamper me " * 40, 1))
    # block CRC field starts at bit 80 (header 32 + magic 48) —
    # flipping a bit there leaves the body decodable but fails CRC,
    # which libbzip2 reports as an invalid stream
    blob[10] ^= 0x01
    with pytest.raises(ValueError, match="bzip2: Invalid data stream"):
        decode_stream(bytes(blob))
    # one flipped payload byte in either stream of a two-stream blob
    blob = _two_stream_blob()
    for at in (len(blob) // 3, len(blob) - 100):
        bad = bytearray(blob)
        bad[at] ^= 0x01
        with pytest.raises(ValueError, match="^bzip2: "):
            bzip2_streams(bytes(bad))


def test_randomized_bit_rejected():
    blob = bytearray(bz2.compress(b"randomized never", 1))
    # the deprecated randomized flag is bit 112 from stream start
    blob[14] ^= 0x80
    with pytest.raises(ValueError, match="randomized"):
        decode_stream(bytes(blob))


def test_bad_magics_and_truncation():
    with pytest.raises(ValueError, match="stream header"):
        decode_stream(b"BZx1whatever")
    with pytest.raises(ValueError, match="level digit"):
        decode_stream(b"BZh0rest")
    good = bz2.compress(b"cut me off", 1)
    with pytest.raises(ValueError, match="truncated"):
        decode_stream(good[: len(good) - 6])
    blob = bytearray(good)
    blob[4] ^= 0xFF  # corrupt the block magic
    with pytest.raises(ValueError, match="magic"):
        decode_stream(bytes(blob))
    # every cut in the headers, footers and stream boundaries of a
    # two-stream blob, and a stride through the block bodies
    blob = _two_stream_blob()
    sts = bzip2_streams(blob)
    assert [st["n_blocks"] for st in sts] == [3, 1]
    ends = {st["end"] for st in sts}
    cuts = set(range(1, 40)) | set(range(1, len(blob), 997))
    for st in sts:
        cuts |= set(range(st["end"] - 20, st["end"] + 20))
    for cut in sorted(c for c in cuts if 0 < c < len(blob) and c not in ends):
        with pytest.raises(ValueError, match="^bzip2: "):
            bzip2_streams(blob[:cut])


def test_block_magic_found_at_every_bit_shift():
    # blocks start at arbitrary bit offsets inside a stream's one
    # bitstream; the finder must see the 48-bit magic at all 8 shifts
    from etl_everywhere_hub_spark.multimodal.bzip2 import _block_bits

    for shift in range(8):
        blob = b"\x00" * 5 + (0x314159265359 << (8 - shift)).to_bytes(7, "big")
        blob += b"\x00" * 8
        assert _block_bits(blob, 0, len(blob) * 8) == [40 + shift]
        assert _block_bits(blob, 41 + shift, len(blob) * 8) == []


# --------------------------------------------- wiki fixture layer
def test_xml_escape_roundtrips_through_entities():
    raw = 'a & b < c > d "q" &amp; pre-escaped'
    esc = xml_escape(raw)
    assert "&" not in esc.replace("&amp;", "").replace("&lt;", "").replace(
        "&gt;", ""
    )
    # unescaping (what from_xml does) restores the original
    assert (
        esc.replace("&amp;", "\0").replace("&lt;", "<")
        .replace("&gt;", ">").replace("\0", "&")
    ) == raw


def test_strip_wikitext_reference():
    raw = build_wikitext(12, 1, 0, "abcdefghijklmnopqrstuvwx")
    sp = 12 % 7 + 0
    assert raw.startswith(f"== Section {sp} ==\n'''")
    stripped = strip_wikitext(raw)
    assert "==" not in stripped and "[[" not in stripped
    assert "'''" not in stripped and "''" not in stripped
    assert stripped.startswith(f"Section {sp}\n")
    # the raw & < > survive the strip untouched
    assert "&" in stripped and " <" in stripped and stripped.endswith(">")


def test_wiki_shard_roundtrip():
    mid, text = 7, "the quick brown fox jumps over the lazy dog pack"
    blob, specs = build_wiki_shard(mid, text)
    sts = bzip2_streams(blob)
    assert len(sts) == len(specs) == 1 + mid % 3
    for st, (level, n_pages, xml) in zip(sts, specs):
        assert st["level"] == level
        assert st["data"].decode() == xml
        assert xml.count("<page>") == n_pages
        # every page's escaped text recovers the raw wikitext
        for p in range(n_pages):
            frag = build_wiki_page(mid, specs.index((level, n_pages, xml)),
                                   p, text)
            assert frag in xml


def test_wiki_page_ids_and_bytes_attr():
    page = build_wiki_page(42, 2, 1, "sample words here for slicing")
    raw = build_wikitext(42, 2, 1, "sample words here for slicing")
    assert f'<text bytes="{len(raw)}">' in page
    assert "<id>4221</id>" in page
    assert f"<id>{4221 + 7777}</id>" in page
    assert "<title>Doc 42 part 2.1</title>" in page


def test_wiki_index_roundtrip_and_seek_contract():
    from etl_everywhere_hub_spark.functions.wikitext import (
        build_wiki_index,
        parse_wiki_index,
    )
    from etl_everywhere_hub_spark.multimodal.bzip2 import decode_stream

    mid, text = 8, "words for the index layer of the multistream dump"
    blob, specs = build_wiki_shard(mid, text)
    idx = parse_wiki_index(build_wiki_index(blob))
    # one line per page, offsets point at real stream starts
    assert len(idx) == sum(np for _lv, np, _x in specs)
    for off, page_id, title in idx:
        st = decode_stream(blob, off)  # seek contract: decodable here
        assert f"<id>{page_id}</id>" in st["data"].decode()
        assert f"<title>{title}</title>" in st["data"].decode()
    # page ids/titles match the builder arithmetic
    assert idx[0][1] == mid * 100 and idx[0][2] == f"Doc {mid} part 0.0"


def test_wiki_index_titles_with_colons():
    import bz2 as _bz2

    from etl_everywhere_hub_spark.functions.wikitext import parse_wiki_index

    raw = b"123:45:Category:Physics: an overview\n0:1:plain\n"
    got = parse_wiki_index(_bz2.compress(raw))
    assert got == [(123, 45, "Category:Physics: an overview"),
                   (0, 1, "plain")]
