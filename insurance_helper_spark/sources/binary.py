"""Multimodal (binary) column handling: ingestion, metadata, and
Pandas-UDF feature plumbing.

Per the build contract: image/audio decode libraries are NOT in this
container, so the decode step is a clearly-marked stub
(``decode_stub=True`` → deterministic fake features;
``decode_stub=False`` → NotImplementedError) while everything
Spark-side — binaryFile scan, schema, partitioning, Arrow batch shape,
UDF signatures — is real and tested.

Design for 100 TB of blobs:
- blobs are NEVER shuffled: features are extracted in the same
  mapInPandas pass that reads them, and only (id, metadata, features)
  — a few hundred bytes/row — flow downstream;
- pathGlobFilter/recursiveFileLookup push file pruning into the scan;
- maxBytesPerTrigger-style batching comes free when the same pipeline
  runs under readStream(binaryFile).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("length", T.LongType(), True),
        T.StructField("content_sha256", T.StringType(), True),
        T.StructField("modality", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)

_MAGIC = {
    b"%PDF": "pdf",
    b"\x89PNG": "image",
    b"\xff\xd8\xff": "image",
    b"RIFF": "audio",
    b"ID3": "audio",
    b"PK\x03\x04": "archive",
}


def read_binary_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Ingest a directory of documents as (path, modificationTime,
    length, content) via the binaryFile source."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.option("recursiveFileLookup", "true").load(path)


def sniff_modality(content: bytes) -> str:
    for magic, modality in _MAGIC.items():
        if content[: len(magic)] == magic:
            return modality
    return "unknown"


def _fake_feature(content: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a real decoder's embedding: unit-norm
    vector derived from the content digest. Stable across runs/nodes."""
    h = hashlib.sha256(content).digest()
    raw = [(h[i % 32] - 127.5) / 127.5 for i in range(dim)]
    norm = sum(x * x for x in raw) ** 0.5 or 1.0
    return [float(x / norm) for x in raw]


def extract_features(
    binaries: DataFrame, dim: int = 16, decode_stub: bool = True
) -> DataFrame:
    """Decode/feature-extract binary blobs via mapInPandas.

    Arrow moves (path, content) into Python per batch; only small
    feature rows come back. With ``decode_stub=False`` this is where a
    real image/audio decoder (PIL/torchaudio/ffmpeg) plugs in.
    """
    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(binaries.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                content = bytes(content)
                row = {
                    "path": path,
                    "length": len(content),
                    "content_sha256": hashlib.sha256(content).hexdigest(),
                    "modality": sniff_modality(content),
                    "feature": None,
                    "decode_error": None,
                }
                try:
                    if decode_stub:
                        row["feature"] = _fake_feature(content, dim)
                    else:
                        raise NotImplementedError(
                            "real decoders (PIL/torchaudio) not available in "
                            "this container; pass decode_stub=True"
                        )
                except Exception as ex:
                    row["decode_error"] = str(ex)
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA])

    return binaries.select("path", "content").mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(
    binaries: DataFrame, every_n_bytes: int = 1 << 16, max_frames: int = 8
) -> DataFrame:
    """Frame-sampling PLUMBING for video-like blobs: emits (path,
    frame_index, byte_offset) rows — the real frame decode is the same
    stubbed boundary as ``extract_features``. Pure column expressions:
    the offsets come from sequence(), no UDF."""
    return (
        binaries.select(
            "path",
            F.col("length"),
            F.sequence(
                F.lit(0),
                F.least(
                    F.greatest((F.col("length") - 1) / every_n_bytes, F.lit(0)).cast("int"),
                    F.lit(max_frames - 1),
                ),
            ).alias("frame_idx"),
        )
        .select("path", "length", F.explode("frame_idx").alias("frame_index"))
        .withColumn("byte_offset", F.col("frame_index") * every_n_bytes)
    )


PDF_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("extract_error", T.StringType(), True),
    ]
)


def pdf_text_extract(binaries: DataFrame, extractor=None) -> DataFrame:
    """Stage-2 PDF-text-extraction UDF (reference README.md:79-83 —
    declared, never implemented there).

    ``extractor: bytes -> (text, n_pages)`` is injected; the default is
    REAL for the common case: ``sources/pdf_text.extract_pdf_text`` — a
    pure-stdlib parser handling uncompressed and FlateDecode content
    streams, Tj/TJ/'/" text operators, PDF string escapes, and /Page
    counting (see that module for the documented scope). PDFs with no
    decodable text (exotic filters, image-only, encrypted) raise into
    ``extract_error`` per the F3 row-tolerance contract (reference
    base.py:104-110); non-PDF blobs decode as UTF-8 text with
    n_pages=1.

    Scale: same contract as extract_features — blobs never shuffle,
    only extracted text flows downstream; a decode failure becomes an
    error ROW, never a task failure.
    """
    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(binaries.sparkSession)

    def default_extractor(content: bytes) -> tuple[str, int]:
        if content[:4] == b"%PDF":
            from insurance_helper_spark.sources.pdf_text import extract_pdf_text

            return extract_pdf_text(content)
        return content.decode("utf-8", errors="replace"), 1

    fn = extractor or default_extractor

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                row = {"path": path, "text": None, "n_pages": None, "extract_error": None}
                try:
                    text, n_pages = fn(bytes(content))
                    row["text"], row["n_pages"] = text, n_pages
                except Exception as ex:
                    row["extract_error"] = str(ex)
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in PDF_TEXT_SCHEMA])

    return binaries.select("path", "content").mapInPandas(run, schema=PDF_TEXT_SCHEMA)
