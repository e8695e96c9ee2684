"""Multimodal binary-column tests: binaryFile scan → mapInPandas
feature extraction (stubbed decode) → frame-sample plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insurance_helper_spark.sources import binary


@pytest.fixture()
def blob_dir(tmp_path):
    d = tmp_path / "blobs"
    (d / "sub").mkdir(parents=True)
    (d / "a.pdf").write_bytes(b"%PDF-1.4 hello world" + b"x" * 100)
    (d / "b.png").write_bytes(b"\x89PNG\r\n" + b"y" * 200)
    (d / "sub" / "c.wav").write_bytes(b"RIFF" + b"z" * 300_000)
    (d / "junk.bin").write_bytes(b"\x00\x01\x02")
    return d


def test_binary_scan_and_features(spark, blob_dir):
    blobs = binary.read_binary_dir(spark, str(blob_dir))
    feats = binary.extract_features(blobs, dim=16).cache()
    rows = {r["path"].split("/")[-1]: r.asDict() for r in feats.collect()}
    assert rows["a.pdf"]["modality"] == "pdf"
    assert rows["b.png"]["modality"] == "image"
    assert rows["c.wav"]["modality"] == "audio"
    assert rows["junk.bin"]["modality"] == "unknown"
    # deterministic unit-norm fake embedding
    v = rows["a.pdf"]["feature"]
    assert len(v) == 16
    assert abs(sum(x * x for x in v) - 1.0) < 1e-5
    assert rows["a.pdf"]["decode_error"] is None
    feats.unpersist()


def test_feature_determinism(spark, blob_dir):
    blobs = binary.read_binary_dir(spark, str(blob_dir), glob="*.pdf")
    f1 = binary.extract_features(blobs).collect()[0]["feature"]
    f2 = binary.extract_features(blobs).collect()[0]["feature"]
    assert f1 == f2


def test_decode_stub_off_reports_error(spark, blob_dir):
    blobs = binary.read_binary_dir(spark, str(blob_dir), glob="*.png")
    row = binary.extract_features(blobs, decode_stub=False).collect()[0]
    assert row["feature"] is None
    assert "not available" in row["decode_error"]


def test_frame_sample_plan(spark, blob_dir):
    blobs = binary.read_binary_dir(spark, str(blob_dir), glob="*.wav")
    plan = binary.frame_sample_plan(blobs, every_n_bytes=1 << 16, max_frames=8)
    rows = plan.orderBy("frame_index").collect()
    # 300 KB / 64 KiB → 5 offsets (0..4)
    assert [r["frame_index"] for r in rows] == [0, 1, 2, 3, 4]
    assert rows[1]["byte_offset"] == 1 << 16


def test_pdf_text_extract_real_and_error_rows(spark, blob_dir):
    blobs = binary.read_binary_dir(spark, str(blob_dir))
    out = {r["path"].rsplit("/", 1)[-1]: r for r in binary.pdf_text_extract(blobs).collect()}
    # PDF magic but no content streams → F3 error row (never a task failure)
    assert out["a.pdf"]["text"] is None
    assert "no extractable text" in out["a.pdf"]["extract_error"]
    # non-PDF bytes decode as text with the default extractor
    assert out["junk.bin"]["extract_error"] is None
    assert out["junk.bin"]["n_pages"] == 1


def test_pdf_text_extract_real_pdf_via_spark(spark, tmp_path):
    """End-to-end: a REAL (FlateDecode) PDF through the binaryFile scan
    + mapInPandas extractor returns its text and page count."""
    from tests.test_pdf_text import mini_pdf

    d = tmp_path / "pdfs"
    d.mkdir()
    content = b"BT (Hello from Spark) Tj ET"
    (d / "real.pdf").write_bytes(mini_pdf([content], n_pages=3, compress=True))
    blobs = binary.read_binary_dir(spark, str(d))
    row = binary.pdf_text_extract(blobs).collect()[0]
    assert row["extract_error"] is None
    assert row["text"].strip() == "Hello from Spark"
    assert row["n_pages"] == 3


def test_pdf_text_extract_injected_extractor(spark, blob_dir):
    blobs = binary.read_binary_dir(spark, str(blob_dir), glob="*.pdf")
    out = binary.pdf_text_extract(
        blobs, extractor=lambda b: (f"{len(b)} bytes", 3)
    ).collect()[0]
    assert out["n_pages"] == 3 and out["text"].endswith("bytes")
