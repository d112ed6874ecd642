"""Regenerate API.md — one line per public callable (signature → first
docstring sentence), grouped by module. Run from the repo root:

    python tools/gen_api.py > API.md
"""

from __future__ import annotations

import importlib
import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SECTIONS = [
    ("Session factory", "etl_everywhere_hub_spark.session"),
    ("Local Python worker daemon", "etl_everywhere_hub_spark.pyworker_daemon"),
    ("Fixture catalog", "etl_everywhere_hub_spark.catalog"),
    ("Text functions", "etl_everywhere_hub_spark.functions.text"),
    ("Vector functions", "etl_everywhere_hub_spark.functions.vectors"),
    ("Portable hashing", "etl_everywhere_hub_spark.functions.hashing"),
    ("Time functions", "etl_everywhere_hub_spark.functions.timeutil"),
    ("Geometry functions", "etl_everywhere_hub_spark.functions.geo"),
    ("HTML extraction", "etl_everywhere_hub_spark.functions.html"),
    ("URL canonicalization", "etl_everywhere_hub_spark.functions.url"),
    ("Charset sniffing / transcoding", "etl_everywhere_hub_spark.functions.charset"),
    ("Keyed-window operators", "etl_everywhere_hub_spark.operators.windows"),
    ("As-of / range joins", "etl_everywhere_hub_spark.operators.asof"),
    ("Deduplication", "etl_everywhere_hub_spark.operators.dedup"),
    ("Similarity search", "etl_everywhere_hub_spark.operators.similarity"),
    ("Iterative graph ops", "etl_everywhere_hub_spark.operators.graph"),
    ("Lineage truncation", "etl_everywhere_hub_spark.operators.lineage"),
    ("Clustering", "etl_everywhere_hub_spark.operators.clustering"),
    ("Frequency sketches", "etl_everywhere_hub_spark.operators.sketches"),
    ("Splits / sampling / packing", "etl_everywhere_hub_spark.operators.sampling"),
    ("Skew mitigation", "etl_everywhere_hub_spark.operators.skew"),
    ("Sources", "etl_everywhere_hub_spark.sources.readers"),
    ("Physical layout", "etl_everywhere_hub_spark.sources.layout"),
    ("Python DataSource", "etl_everywhere_hub_spark.sources.python_datasource"),
    ("Deltalite table format", "etl_everywhere_hub_spark.sources.deltalite"),
    ("Deltalite DataSource (batch + streaming)", "etl_everywhere_hub_spark.sources.deltalite_source"),
    ("Kafka-shaped source shim", "etl_everywhere_hub_spark.sources.kafka_shim"),
    ("Reference tracks pipeline", "etl_everywhere_hub_spark.pipeline.tracks"),
    ("CoT XML codec", "etl_everywhere_hub_spark.pipeline.cot"),
    ("TAK protobuf codec", "etl_everywhere_hub_spark.pipeline.takproto"),
    ("Streaming jobs", "etl_everywhere_hub_spark.streaming.jobs"),
    ("Streaming sinks", "etl_everywhere_hub_spark.streaming.sinks"),
    ("Streaming near-dup", "etl_everywhere_hub_spark.streaming.neardup"),
    ("Streaming heavy hitters", "etl_everywhere_hub_spark.streaming.heavyhitters"),
    ("Streaming proximity", "etl_everywhere_hub_spark.streaming.proximity"),
    ("Multimodal columns", "etl_everywhere_hub_spark.multimodal"),
    ("Baseline JPEG codec", "etl_everywhere_hub_spark.multimodal.jpeg"),
    ("Arithmetic JPEG codec", "etl_everywhere_hub_spark.multimodal.jpeg_arith"),
    ("Lossless JPEG codec", "etl_everywhere_hub_spark.multimodal.jpeg_lossless"),
    ("WebP VP8L + VP8X container", "etl_everywhere_hub_spark.multimodal.webp"),
    ("Lossy VP8 codec", "etl_everywhere_hub_spark.multimodal.vp8"),
    ("GIF codec", "etl_everywhere_hub_spark.multimodal.gif"),
    ("Baseline TIFF codec", "etl_everywhere_hub_spark.multimodal.tiff"),
    ("MP4/ISO-BMFF demux", "etl_everywhere_hub_spark.multimodal.mp4"),
    ("Audio codecs (WAV/ADPCM/MP3)", "etl_everywhere_hub_spark.multimodal.audio"),
    ("H.264 parameter sets (SPS/PPS/avcC)", "etl_everywhere_hub_spark.multimodal.h264"),
    ("DEFLATE encoder + gzip/zlib framing (zlib inflate)", "etl_everywhere_hub_spark.multimodal.deflate"),
    ("WARC record codec", "etl_everywhere_hub_spark.multimodal.warc"),
    ("Zstandard codec (RFC 8878)", "etl_everywhere_hub_spark.multimodal.zstd"),
    ("PDF text extraction", "etl_everywhere_hub_spark.multimodal.pdf"),
    ("bzip2 multistream walk", "etl_everywhere_hub_spark.multimodal.bzip2"),
    ("LZ4 codec", "etl_everywhere_hub_spark.multimodal.lz4"),
    ("XZ multistream walk (liblzma decode)", "etl_everywhere_hub_spark.multimodal.xz"),
    ("ustar member walk", "etl_everywhere_hub_spark.multimodal.tar"),
    ("Snappy encoder + Hadoop/framed walks (pyarrow raw decode)", "etl_everywhere_hub_spark.multimodal.snappy"),
    ("Codec sniffing", "etl_everywhere_hub_spark.multimodal.sniff"),
    ("Wikipedia dump fixtures + wikitext strip",
     "etl_everywhere_hub_spark.functions.wikitext"),
    ("Avro Object Container Files",
     "etl_everywhere_hub_spark.sources.avro_ocf"),
    ("Parquet footer reader (pyarrow)",
     "etl_everywhere_hub_spark.sources.parquet_meta"),
    ("TFRecord + tf.Example",
     "etl_everywhere_hub_spark.multimodal.tfrecord"),
    ("ORC tail reader",
     "etl_everywhere_hub_spark.sources.orc_meta"),
    ("Hadoop SequenceFile container",
     "etl_everywhere_hub_spark.multimodal.seqfile"),
    ("ZIP archive walk",
     "etl_everywhere_hub_spark.multimodal.ziparchive"),
    ("CBOR codec (RFC 8949/8742)",
     "etl_everywhere_hub_spark.multimodal.cbor"),
    ("Catalog sweep + stats pruning",
     "etl_everywhere_hub_spark.sources.catalog_sweep"),
]

HEADER = '''# API — public operator surface

One line per public callable (signature → first docstring sentence).
Full semantics and 100 TB notes live in each docstring; every operator
with result-affecting behavior is exercised by a `queries()` entry
(COVERAGE.md) or a test.
'''


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    txt = " ".join(line.strip() for line in doc.strip().splitlines())
    for stop in (". ", ".\n"):
        if stop in txt:
            return txt.split(stop)[0]
    return txt.split(".")[0][:120]


def main() -> None:
    print(HEADER)
    for title, modname in SECTIONS:
        mod = importlib.import_module(modname)
        short = modname.replace("etl_everywhere_hub_spark.", "")
        rows = []
        for name in sorted(dir(mod)):
            if name.startswith("_"):
                continue
            obj = getattr(mod, name)
            if not (inspect.isfunction(obj) or inspect.isclass(obj)):
                continue
            if getattr(obj, "__module__", None) != modname:
                continue
            try:
                sig = str(inspect.signature(obj))
            except (TypeError, ValueError):
                sig = "(...)"
            rows.append(f"- `{name}{sig}` — {first_sentence(obj.__doc__)}")
        if rows:
            print(f"## {title} (`{short}`)\n")
            print("\n".join(rows))
            print()


if __name__ == "__main__":
    main()
