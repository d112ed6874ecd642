"""Hadoop SequenceFile container (version 6), dependency-free —
round 12.

Why this belongs in the engine: SequenceFile is the Hadoop-era lake
container — a decade of warehouse pipelines (old Common Crawl
derivatives, Hive ETL intermediates, Sqoop/MapReduce output) sits in
``.seq`` files keyed by Writables — and like Avro it is one of the
two classic SYNC-MARKER formats whose split design a distributed
reader exploits (seek anywhere, scan to the 16-byte sync, resume
record-aligned). Reference analog: none — north-star ingestion
surface, same posture as sources/avro_ocf.py.

Implemented from the public format documentation (the SequenceFile
javadoc in hadoop-common, which IS the format spec):
- Header: ``SEQ`` magic + version byte (6), key/value class names as
  Text strings (Hadoop VInt length + UTF-8), the compress /
  blockCompress booleans, the codec class name when compressed, the
  metadata map (4-byte big-endian count + Text pairs), and the
  16-byte sync marker.
- Hadoop VInt (WritableUtils): one signed byte for values in
  [-112, 127]; otherwise the first byte encodes sign and byte count
  (-113..-120 positive 1-8 bytes big-endian, -121..-128 negative,
  value stored one's-complemented) — a DIFFERENT varint than
  protobuf's or Avro's, decoded here from its own rules.
- Uncompressed / record-compressed records: int32-BE record length,
  int32-BE key length, key bytes, value bytes (codec-stream-wrapped
  when record-compressed), with the sync escape (int32 -1 followed
  by the 16-byte sync) interleaved between records.
- Block-compressed: a sync escape precedes every block; then a VInt
  record count and FOUR length-prefixed compressed buffers —
  key-lengths (VInts), keys, value-lengths (VInts), values.
- Writables: Text (VInt + UTF-8), LongWritable (8 BE), IntWritable
  (4 BE), BooleanWritable (1 byte), BytesWritable (4-byte BE length
  + bytes), NullWritable (zero bytes). Unknown classes REFUSE — a
  guessed deserialization is silent corruption.
- Codec streams route to the engine's codec family:
  DefaultCodec = RFC 1950 zlib wrapping of RFC 1951 deflate
  (multimodal/deflate.py zlib_unwrap, shared with the
  multimodal/pdf.py FlateDecode filter), GzipCodec =
  gzip members (gunzip_member), SnappyCodec / Lz4Codec = Hadoop's
  BlockCompressorStream framing (BE32 uncompressed size + BE32
  chunk lengths) over raw snappy (multimodal/snappy.py, pyarrow's
  codec) / raw LZ4
  blocks (multimodal/lz4.py), ZStandardCodec = zstd frames
  (multimodal/zstd.py).

Foreign pin: Spark's OWN JVM Hadoop stack, both directions
(tests/test_seqfile.py): ``rdd.saveAsSequenceFile`` output (Text and
LongWritable keys; uncompressed, record-compressed, and
BLOCK-compressed under DefaultCodec/GzipCodec/SnappyCodec/Lz4Codec/
ZStandardCodec) decodes exactly, and ``sc.sequenceFile`` reads this
writer's files back.

Scale posture: the sync walk (``seqfile_records`` returns each
record's byte offset; blocks carry their own syncs) is the split
mechanism; per-file decode is sequential by design, parallelism
comes from files and sync-aligned ranges — the same contract as
sources/avro_ocf.py, stated against TFRecord's no-sync boundary.
"""
from __future__ import annotations

import struct

_MAGIC = b"SEQ"

TEXT = "org.apache.hadoop.io.Text"
LONG_W = "org.apache.hadoop.io.LongWritable"
INT_W = "org.apache.hadoop.io.IntWritable"
BOOL_W = "org.apache.hadoop.io.BooleanWritable"
BYTES_W = "org.apache.hadoop.io.BytesWritable"
NULL_W = "org.apache.hadoop.io.NullWritable"

DEFAULT_CODEC = "org.apache.hadoop.io.compress.DefaultCodec"
GZIP_CODEC = "org.apache.hadoop.io.compress.GzipCodec"
SNAPPY_CODEC = "org.apache.hadoop.io.compress.SnappyCodec"
LZ4_CODEC = "org.apache.hadoop.io.compress.Lz4Codec"
ZSTD_CODEC = "org.apache.hadoop.io.compress.ZStandardCodec"


# ------------------------------------------------------------ VInt

def read_vint(data: bytes, pos: int) -> tuple:
    """Hadoop WritableUtils VInt/VLong."""
    if pos >= len(data):
        raise ValueError("seqfile: truncated VInt")
    first = struct.unpack_from("b", data, pos)[0]
    pos += 1
    if first >= -112:
        return first, pos
    if first >= -120:
        n = -first - 112
        neg = False
    else:
        n = -first - 120
        neg = True
    if pos + n > len(data):
        raise ValueError("seqfile: truncated VInt body")
    v = int.from_bytes(data[pos:pos + n], "big")
    pos += n
    return (~v if neg else v), pos


def write_vint(v: int) -> bytes:
    if -112 <= v <= 127:
        return struct.pack("b", v)
    neg = v < 0
    if neg:
        v = ~v
    body = v.to_bytes((v.bit_length() + 7) // 8 or 1, "big")
    first = (-120 if neg else -112) - len(body)
    return struct.pack("b", first) + body


# -------------------------------------------------------- writables

def _decode_writable(cls: str, data: bytes):
    if cls == TEXT:
        n, pos = read_vint(data, 0)
        if pos + n != len(data):
            raise ValueError("seqfile: Text length != payload")
        return data[pos:].decode("utf-8")
    if cls == LONG_W:
        return struct.unpack(">q", data)[0]
    if cls == INT_W:
        return struct.unpack(">i", data)[0]
    if cls == BOOL_W:
        return data != b"\x00"
    if cls == BYTES_W:
        (n,) = struct.unpack(">I", data[:4])
        if 4 + n != len(data):
            raise ValueError("seqfile: BytesWritable length mismatch")
        return data[4:]
    if cls == NULL_W:
        if data:
            raise ValueError("seqfile: NullWritable carries bytes")
        return None
    raise ValueError(f"seqfile: unsupported writable class {cls!r}")


def _encode_writable(cls: str, v) -> bytes:
    if cls == TEXT:
        raw = v.encode("utf-8")
        return write_vint(len(raw)) + raw
    if cls == LONG_W:
        return struct.pack(">q", v)
    if cls == INT_W:
        return struct.pack(">i", v)
    if cls == BOOL_W:
        return b"\x01" if v else b"\x00"
    if cls == BYTES_W:
        return struct.pack(">I", len(v)) + bytes(v)
    if cls == NULL_W:
        if v is not None:
            raise ValueError("seqfile: NullWritable wants None")
        return b""
    raise ValueError(f"seqfile: unsupported writable class {cls!r}")


# ----------------------------------------------------------- codecs

def _hadoop_lz4_decompress(data: bytes) -> bytes:
    """Hadoop BlockCompressorStream over raw LZ4 blocks: BE32
    uncompressed block size, then BE32-prefixed compressed chunks
    until the block is complete (the Lz4Codec twin of
    multimodal/snappy.py:hadoop_snappy_decompress)."""
    from etl_everywhere_hub_spark.multimodal.lz4 import lz4_block_decode

    out = bytearray()
    pos = 0
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError("seqfile: truncated lz4 block header")
        (want,) = struct.unpack_from(">I", data, pos)
        pos += 4
        got = 0
        while got < want:
            if pos + 4 > len(data):
                raise ValueError("seqfile: truncated lz4 chunk header")
            (cl,) = struct.unpack_from(">I", data, pos)
            pos += 4
            if pos + cl > len(data):
                raise ValueError("seqfile: truncated lz4 chunk body")
            chunk = lz4_block_decode(data[pos:pos + cl])
            pos += cl
            out += chunk
            got += len(chunk)
        if got != want:
            raise ValueError("seqfile: lz4 block size mismatch")
    return bytes(out)


def _hadoop_lz4_compress(data: bytes, block: int = 262144) -> bytes:
    from etl_everywhere_hub_spark.multimodal.lz4 import lz4_block_encode

    if not data:
        # one empty block: BE32 size 0, no chunks — the shape the
        # decoder's `while got < want` loop reads back as b""
        # (round-12 review: the old spelling emitted a stray chunk
        # header its own decoder rejected)
        return struct.pack(">I", 0)
    out = bytearray()
    for start in range(0, len(data), block):
        chunk = data[start:start + block]
        enc = lz4_block_encode(chunk)
        out += struct.pack(">I", len(chunk))
        out += struct.pack(">I", len(enc))
        out += enc
    return bytes(out)


def _codec_decompress(codec: str, data: bytes) -> bytes:
    if codec is None:
        return data
    if codec == DEFAULT_CODEC:
        from etl_everywhere_hub_spark.multimodal.deflate import zlib_unwrap
        return zlib_unwrap(data)
    if codec == GZIP_CODEC:
        from etl_everywhere_hub_spark.multimodal.deflate import (
            gunzip_member,
        )
        m = gunzip_member(data, 0)
        if m["member_end"] != len(data):
            raise ValueError("seqfile: trailing bytes after gzip member")
        return bytes(m["payload"])
    if codec == SNAPPY_CODEC:
        from etl_everywhere_hub_spark.multimodal.snappy import (
            hadoop_snappy_decompress,
        )
        return hadoop_snappy_decompress(data)
    if codec == LZ4_CODEC:
        return _hadoop_lz4_decompress(data)
    if codec == ZSTD_CODEC:
        from etl_everywhere_hub_spark.multimodal.zstd import decompress
        return decompress(data)
    raise ValueError(f"seqfile: unsupported codec {codec!r}")


def _codec_compress(codec: str, data: bytes) -> bytes:
    if codec is None:
        return data
    if codec == DEFAULT_CODEC:
        from etl_everywhere_hub_spark.multimodal.deflate import zlib_wrap
        return zlib_wrap(data)
    if codec == GZIP_CODEC:
        from etl_everywhere_hub_spark.multimodal.deflate import gzip_member
        return gzip_member(data)
    if codec == SNAPPY_CODEC:
        from etl_everywhere_hub_spark.multimodal.snappy import (
            hadoop_snappy_compress,
        )
        return hadoop_snappy_compress(data)
    if codec == LZ4_CODEC:
        return _hadoop_lz4_compress(data)
    if codec == ZSTD_CODEC:
        from etl_everywhere_hub_spark.multimodal.zstd import zstd_compress
        return zstd_compress(data)
    raise ValueError(f"seqfile: unsupported codec {codec!r}")


# -------------------------------------------------------- container

def _read_text_string(data: bytes, pos: int) -> tuple:
    n, pos = read_vint(data, pos)
    if n < 0 or pos + n > len(data):
        raise ValueError("seqfile: truncated Text string")
    return data[pos:pos + n].decode("utf-8"), pos + n


def seqfile_header(data: bytes) -> dict:
    if data[:3] != _MAGIC:
        raise ValueError("seqfile: missing SEQ magic")
    version = data[3]
    if version != 6:
        raise ValueError(f"seqfile: unsupported version {version}")
    pos = 4
    key_class, pos = _read_text_string(data, pos)
    value_class, pos = _read_text_string(data, pos)
    compress = data[pos] != 0
    block = data[pos + 1] != 0
    pos += 2
    codec = None
    if compress:
        codec, pos = _read_text_string(data, pos)
    (n_meta,) = struct.unpack_from(">I", data, pos)
    pos += 4
    meta = {}
    for _ in range(n_meta):
        k, pos = _read_text_string(data, pos)
        v, pos = _read_text_string(data, pos)
        meta[k] = v
    sync = data[pos:pos + 16]
    if len(sync) != 16:
        raise ValueError("seqfile: truncated sync marker")
    return {
        "version": version, "key_class": key_class,
        "value_class": value_class,
        "record_compressed": compress and not block,
        "block_compressed": block, "codec": codec,
        "metadata": meta, "sync": sync, "pos": pos + 16,
    }


def seqfile_records(data: bytes, decode: bool = True,
                    start: int | None = None) -> list:
    """Walk every record: [(offset, key, value)]. offset is the byte
    offset of the record (or of its block, for block compression) —
    the sync-aligned resume points. Sync markers are VERIFIED at
    every escape; a mismatch raises.

    ``start`` resumes the walk mid-file at an offset returned by
    ``seqfile_resync`` (just past a sync escape) — the worker-side
    half of the split mechanism. For block files the consumed escape
    was the next block's leader, so the walk begins directly at its
    record count."""
    hdr = seqfile_header(data)
    sync = hdr["sync"]
    kc, vc = hdr["key_class"], hdr["value_class"]
    out = []

    def emit(off, kraw, vraw):
        if decode:
            out.append((off, _decode_writable(kc, kraw),
                        _decode_writable(vc, vraw)))
        else:
            out.append((off, kraw, vraw))

    pos = hdr["pos"] if start is None else start
    resumed = start is not None
    n = len(data)
    if hdr["block_compressed"]:
        while pos < n:
            off = pos
            if resumed:
                resumed = False
            else:
                (esc,) = struct.unpack_from(">i", data, pos)
                if esc != -1:
                    raise ValueError(
                        "seqfile: block without leading sync escape")
                if data[pos + 4:pos + 20] != sync:
                    raise ValueError("seqfile: sync marker mismatch")
                pos += 20
            cnt, pos = read_vint(data, pos)
            bufs = []
            for _ in range(4):
                ln, pos = read_vint(data, pos)
                bufs.append(_codec_decompress(
                    hdr["codec"], data[pos:pos + ln]))
                pos += ln
            klens, keys, vlens, vals = bufs
            kp = vp = 0
            klp = vlp = 0
            for _ in range(cnt):
                kl, klp = read_vint(klens, klp)
                vl, vlp = read_vint(vlens, vlp)
                emit(off, keys[kp:kp + kl], vals[vp:vp + vl])
                kp += kl
                vp += vl
            if kp != len(keys) or vp != len(vals):
                raise ValueError("seqfile: block buffers not consumed")
    else:
        while pos < n:
            off = pos
            (rl,) = struct.unpack_from(">i", data, pos)
            pos += 4
            if rl == -1:                      # sync escape
                if data[pos:pos + 16] != sync:
                    raise ValueError("seqfile: sync marker mismatch")
                pos += 16
                continue
            (kl,) = struct.unpack_from(">i", data, pos)
            pos += 4
            if kl < 0 or kl > rl:
                raise ValueError("seqfile: bad key length")
            kraw = data[pos:pos + kl]
            vraw = data[pos + kl:pos + rl]
            if len(vraw) != rl - kl:
                raise ValueError("seqfile: truncated record")
            pos += rl
            if hdr["record_compressed"]:
                vraw = _codec_decompress(hdr["codec"], vraw)
            emit(off, kraw, vraw)
    return out


def seqfile_resync(data: bytes, pos: int, sync: bytes) -> int:
    """The split mechanism: from an ARBITRARY byte position (a worker
    handed the range [pos, end)), scan forward to the next sync
    escape (int32 -1 + the file's sync marker) and return the offset
    just past it — the first record-aligned resume point. Returns
    len(data) when no further sync exists (the range holds no
    resume point; its records belong to the previous split)."""
    probe = b"\xff\xff\xff\xff" + sync
    at = data.find(probe, pos)
    return len(data) if at < 0 else at + len(probe)


def seqfile_write(records: list, key_class: str = TEXT,
                  value_class: str = TEXT, codec: str | None = None,
                  block: bool = False, sync_interval: int = 2000,
                  block_records: int = 1000,
                  metadata: dict | None = None) -> bytes:
    """Serialize (key, value) pairs. The sync marker is a
    DETERMINISTIC md5 of the class names + codec (house rule;
    Hadoop uses a random UID). ``block=True`` requires a codec, as
    in Hadoop."""
    import hashlib

    if block and codec is None:
        raise ValueError("seqfile: block compression requires a codec")
    sync = hashlib.md5(
        f"{key_class}|{value_class}|{codec}".encode()).digest()
    out = bytearray()
    out += _MAGIC + bytes([6])
    for cls in (key_class, value_class):
        raw = cls.encode()
        out += write_vint(len(raw)) + raw
    out += bytes([1 if codec else 0, 1 if block else 0])
    if codec:
        raw = codec.encode()
        out += write_vint(len(raw)) + raw
    meta = metadata or {}
    out += struct.pack(">I", len(meta))
    for k, v in meta.items():
        for s in (k, v):
            raw = s.encode()
            out += write_vint(len(raw)) + raw
    out += sync
    if block:
        for start in range(0, len(records), block_records):
            chunk = records[start:start + block_records]
            klens = bytearray()
            keys = bytearray()
            vlens = bytearray()
            vals = bytearray()
            for k, v in chunk:
                kb = _encode_writable(key_class, k)
                vb = _encode_writable(value_class, v)
                klens += write_vint(len(kb))
                keys += kb
                vlens += write_vint(len(vb))
                vals += vb
            out += struct.pack(">i", -1) + sync
            out += write_vint(len(chunk))
            for buf in (klens, keys, vlens, vals):
                enc = _codec_compress(codec, bytes(buf))
                out += write_vint(len(enc)) + enc
    else:
        since_sync = 0
        for k, v in records:
            if since_sync >= sync_interval:
                out += struct.pack(">i", -1) + sync
                since_sync = 0
            kb = _encode_writable(key_class, k)
            vb = _encode_writable(value_class, v)
            if codec:
                vb = _codec_compress(codec, vb)
            out += struct.pack(">i", len(kb) + len(vb))
            out += struct.pack(">i", len(kb))
            out += kb + vb
            since_sync += 8 + len(kb) + len(vb)
    return bytes(out)
