"""Zstandard (RFC 8878) codec tests (multimodal/zstd.py): xxh64
vectors, encoder/decoder roundtrip matrix, the zstd CLI as a FOREIGN
encoder (FSE + Huffman + sequences + repeat modes) and FOREIGN
decoder (our frames must be accepted), hand-built frames pinning
specific header and block layouts, the encoder's bitstream and
Huffman-code invariants, multi-frame walks with skippable frames,
the .jsonl.zst record walk, and error paths: every truncation and a
flipped payload byte raise a ValueError naming zstd."""

from __future__ import annotations

import random
import shutil
import struct
import subprocess

import pytest

from etl_everywhere_hub_spark.multimodal.zstd import (
    _BackBitWriter,
    _huf_codes,
    _huf_weights,
    decode_frame,
    decompress,
    jsonl_zst_records,
    skippable_frame,
    xxh64,
    zstd_compress,
    zstd_frames,
)

_CLI = shutil.which("zstd")
needs_cli = pytest.mark.skipif(_CLI is None, reason="no zstd CLI in PATH")


def _cli_compress(payload: bytes, *args: str) -> bytes:
    r = subprocess.run(
        ["zstd", "-q", *args, "-c"], input=payload, capture_output=True
    )
    assert r.returncode == 0, r.stderr
    return r.stdout


def _cli_decompress(blob: bytes) -> bytes:
    r = subprocess.run(["zstd", "-d", "-q", "-c"], input=blob, capture_output=True)
    assert r.returncode == 0, r.stderr
    return r.stdout


# ------------------------------------------------------------ xxh64
def test_xxh64_public_vectors():
    # xxHash repo sanity vectors (seed 0)
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999
    # cover every length class: <4, 4-7, 8-31, >=32 with tail
    for n in (0, 1, 3, 4, 7, 8, 31, 32, 33, 63, 100):
        xxh64(bytes(range(n % 256)) * (n // 256 + 1))


@needs_cli
def test_xxh64_agrees_with_cli_checksums():
    # every CLI frame with a checksum validates through OUR xxh64 —
    # decode_frame raises on mismatch, so success IS the assertion
    rnd = random.Random(3)
    for n in (1, 31, 32, 1000, 100_000):
        payload = bytes(rnd.randrange(256) for _ in range(n))
        f = decode_frame(_cli_compress(payload, "-3"))
        assert f["checksum_present"] and f["checksum_ok"]


# -------------------------------------------------- roundtrip matrix
@pytest.mark.parametrize("mode", ["store", "rle", "auto"])
@pytest.mark.parametrize("single_segment", [True, False])
def test_roundtrip_matrix(mode, single_segment):
    rnd = random.Random(11)
    cases = [
        b"",
        b"x",
        b"hello huffman " * 64,
        bytes([7]) * 70_000,  # multi-block RLE
        bytes(rnd.choice(b"abcdefgh") for _ in range(200_000)),
        bytes(rnd.randrange(256) for _ in range(4096)),  # incompressible
    ]
    for c in cases:
        for ck in (True, False):
            blob = zstd_compress(
                c, mode=mode, single_segment=single_segment, checksum=ck
            )
            assert decompress(blob) == c


def test_encoder_block_splitting_and_fcs():
    data = b"ab" * 100_000  # 200 KB -> 2 blocks at default size
    f = decode_frame(zstd_compress(data, mode="store"))
    assert f["n_blocks"] == 2
    assert f["content_size"] == len(data)
    # tiny single-segment: 1-byte FCS
    f2 = decode_frame(zstd_compress(b"tiny", single_segment=True))
    assert f2["single_segment"] and f2["content_size"] == 4
    # 2-byte FCS form carries the +256 bias
    f3 = decode_frame(zstd_compress(bytes(300), single_segment=True, mode="store"))
    assert f3["content_size"] == 300


@needs_cli
def test_cli_accepts_our_frames():
    # FOREIGN decoder: the reference implementation must accept every
    # frame shape we emit
    rnd = random.Random(5)
    for c in [b"", b"z" * 50_000, b"the cat sat " * 999,
              bytes(rnd.randrange(256) for _ in range(3000))]:
        for mode in ("store", "rle", "auto"):
            for ss in (True, False):
                blob = zstd_compress(c, mode=mode, single_segment=ss)
                assert _cli_decompress(blob) == c


# ------------------------------------------- CLI as foreign encoder
@needs_cli
@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_decode_cli_levels(level):
    rnd = random.Random(level)
    text = (b"the quick brown fox jumps over the lazy dog. " * 300)
    cases = [
        text,  # Huffman + sequences
        bytes(rnd.choice(b"ab") for _ in range(50_000)),
        b"".join(b'{"id":%d,"text":"doc %d"}\n' % (i, i) for i in range(2000)),
        bytes(rnd.randrange(256) for _ in range(10_000)),  # raw blocks
        bytes([9]) * 33_000,  # RLE blocks
    ]
    for payload in cases:
        assert decompress(_cli_compress(payload, f"-{level}")) == payload
        assert decompress(_cli_compress(payload, f"-{level}", "--no-check")) == payload


@needs_cli
def test_decode_cli_multiblock_and_long():
    # multiple 128K blocks exercise cross-block back-references,
    # Treeless literals, Repeat FSE modes, and the frame-scoped
    # repeat-offset history (the bug class: resetting rep per block)
    text = (b"the quick brown fox jumps over the lazy dog. " * 400) * 50
    for args in (["-19", "--long=20"], ["-3"], ["-12", "-B32KiB"]):
        assert decompress(_cli_compress(text, *args)) == text


@needs_cli
def test_decode_cli_ultra_window():
    payload = bytes(random.Random(9).choice(b"xyzw") for _ in range(400_000))
    assert decompress(_cli_compress(payload, "--ultra", "-22")) == payload


# ----------------------------------------- hand-built section pins
def test_hand_built_raw_and_rle_blocks():
    # raw block, windowed header, no FCS, no checksum — bytes by hand
    frame = bytes.fromhex("28b52ffd") + bytes([0x00, 0x00])  # fhd, window 1K
    frame += (1 | (0 << 1) | (5 << 3)).to_bytes(3, "little") + b"abcde"
    f = decode_frame(frame)
    assert f["payload"] == b"abcde" and f["content_size"] is None
    assert f["window_size"] == 1024
    # RLE block: size field = regenerated count, one content byte
    frame2 = bytes.fromhex("28b52ffd") + bytes([0x00, 0x00])
    frame2 += (1 | (1 << 1) | (7 << 3)).to_bytes(3, "little") + b"Q"
    assert decode_frame(frame2)["payload"] == b"QQQQQQQ"


def test_hand_built_compressed_block_rle_literals():
    # compressed block: RLE literals (type 1), 0 sequences
    lits = bytes([0x01 | (0 << 2) | (6 << 3), ord("z")])  # 6 x 'z'
    content = lits + b"\x00"
    frame = bytes.fromhex("28b52ffd") + bytes([0x00, 0x00])
    frame += (1 | (2 << 1) | (len(content) << 3)).to_bytes(3, "little") + content
    assert decode_frame(frame)["payload"] == b"zzzzzz"


def test_backward_bitstream_marker():
    # groups added last sit highest, under a 1-marker a decoder finds
    # as the top set bit of the last byte (§3.1.1.3.2.1.1)
    w = _BackBitWriter()
    w.add(0b1011, 4)
    w.add(0b01, 2)
    assert w.close() == bytes([0b1011011])
    w = _BackBitWriter()
    w.add(0xFF, 8)
    assert w.close() == b"\xff\x01"  # marker alone in a new byte


def test_huffman_table_kraft():
    # the encoder's code lengths fill the code space exactly (Σ2^-len
    # == 1) and respect the 11-bit cap even for skewed frequencies
    skewed = {s: 1 << min(s, 30) for s in range(40)}
    for freq in ({97: 5, 98: 2, 99: 1, 100: 1}, skewed):
        lengths = _huf_weights(freq)
        assert sum(2.0 ** -n for n in lengths if n) == 1.0
        assert max(lengths) <= 11
        codes, max_bits = _huf_codes(lengths)
        assert sorted(codes) == sorted(freq) and max_bits == max(lengths)
    with pytest.raises(ValueError, match="Kraft"):
        _huf_codes([1, 2, 2, 2])  # 1/2 + 3/4 overfills the code space


# --------------------------------------------------- error paths
def _multi_frame_blob() -> tuple:
    """Two zstd frames around a skippable one: (blob, frame ends)."""
    blob = zstd_compress(b"first frame " * 40, checksum=True)
    blob += skippable_frame(b"shard-meta", nibble=3)
    blob += zstd_compress(bytes(range(256)) * 12, mode="auto",
                          block_size=1000, single_segment=False)
    return blob, [f["frame_end"] for f in zstd_frames(blob)]


def test_error_paths():
    with pytest.raises(ValueError, match="bad magic"):
        decode_frame(b"\x00\x00\x00\x00")
    # reserved frame-header bit
    with pytest.raises(ValueError, match="reserved frame-header"):
        decode_frame(bytes.fromhex("28b52ffd") + bytes([0x08, 0x00]))
    # reserved block type (3)
    frame = bytes.fromhex("28b52ffd") + bytes([0x00, 0x00])
    frame += (1 | (3 << 1) | (1 << 3)).to_bytes(3, "little") + b"x"
    with pytest.raises(ValueError, match="reserved block type"):
        decode_frame(frame)
    # checksum mismatch
    good = zstd_compress(b"payload", checksum=True)
    bad = good[:-1] + bytes([good[-1] ^ 0xFF])
    with pytest.raises(ValueError, match="checksum"):
        decode_frame(bad)
    # declared FCS vs decoded length (libzstd reports it as corruption)
    f = bytearray(zstd_compress(b"abcdef", mode="store", checksum=False))
    f[5] = 99  # corrupt the 1-byte FCS
    with pytest.raises(ValueError, match="zstd: .*corruption"):
        decode_frame(bytes(f))
    # one flipped payload byte under a content checksum
    payload = b"the quick brown fox jumps over the lazy dog " * 50
    for mode in ("auto", "store"):
        bad = bytearray(zstd_compress(payload, mode=mode, checksum=True))
        bad[len(bad) // 2] ^= 0x01
        with pytest.raises(ValueError, match="zstd: .*checksum"):
            decompress(bytes(bad))
    # every truncation of a multi-frame blob with a skippable frame
    blob, ends = _multi_frame_blob()
    assert len(ends) == 3
    for cut in range(1, len(blob)):
        if cut in ends:
            continue  # a frame boundary: a shorter but valid stream
        with pytest.raises(ValueError, match="^zstd: "):
            zstd_frames(blob[:cut])


def test_dictionary_frames_require_the_dictionary():
    # frame header declaring dictionary id 7 (1-byte did flag):
    # dictionary frames are refused, never decoded as garbage
    frame = bytes.fromhex("28b52ffd") + bytes([0x01, 0x00, 0x07])
    frame += (1 | (0 << 1) | (0 << 3)).to_bytes(3, "little")
    with pytest.raises(ValueError, match="requires dictionary 7"):
        decode_frame(frame)


# ------------------------------------------------- multi-frame walk
def test_multi_frame_walk_offsets():
    parts = [b"first", b"second" * 1000, b"third"]
    blob = b""
    for i, p in enumerate(parts):
        blob += zstd_compress(p, mode="auto")
        if i == 0:
            blob += skippable_frame(b"shard-meta", nibble=5)
    frames = zstd_frames(blob)
    assert [f["kind"] for f in frames] == ["zstd", "skippable", "zstd", "zstd"]
    assert frames[1]["payload"] == b"shard-meta"
    assert frames[1]["magic_nibble"] == 5
    # ranges tile the blob contiguously
    pos = 0
    for f in frames:
        assert f["frame_start"] == pos
        pos = f["frame_end"]
    assert pos == len(blob)
    assert b"".join(f["payload"] for f in frames if f["kind"] == "zstd") == b"".join(
        parts
    )


@needs_cli
def test_jsonl_zst_record_walk():
    # records spanning frame boundaries: frame 1 ends mid-line
    lines = [b'{"id":%d,"t":"%s"}' % (i, b"w" * (i % 17)) for i in range(200)]
    text = b"\n".join(lines) + b"\n"
    cut = len(text) // 2
    while text[cut : cut + 1] == b"\n":  # make the cut mid-record
        cut += 1
    blob = _cli_compress(text[:cut], "-3") + _cli_compress(text[cut:], "-9")
    recs = jsonl_zst_records(blob)
    assert [r[1] for r in recs] == lines
    # the record containing the cut is attributed to the frame it starts in
    assert recs[0][0] == 0 and recs[-1][0] == 1
    # trailing partial line (truncated shard) is still returned
    recs2 = jsonl_zst_records(_cli_compress(b"a\nb\npartial", "-1"))
    assert [r[1] for r in recs2] == [b"a", b"b", b"partial"]
