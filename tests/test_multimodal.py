from __future__ import annotations

import sys
import types

import numpy as np
import pytest
from pyspark.sql import functions as F

from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.multimodal import (
    DecodedImage,
    ahash_bits,
    decode_image,
    documents_as_images,
    documents_as_media,
    encode_netpbm,
    extract_decoded_stats,
    extract_image_phash,
    extract_media_features,
    fake_decode_stats,
    resize_image,
    synth_image_pixels,
)
from tests.conftest import SF_DIR


def _ppm(width: int, height: int, pixel_rows: list[list[tuple[int, int, int]]]) -> bytes:
    raster = bytes(c for row in pixel_rows for px in row for c in px)
    return b"P6\n# comment\n" + f"{width} {height}\n255\n".encode() + raster


def test_compressed_format_without_codec_raises():
    # no PIL in this container and PNG is not netpbm → the honest error
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\n")


def test_builtin_netpbm_decode_real_bytes():
    # REAL byte decoding, no codec library: 2x2 P6 with a header comment
    blob = _ppm(2, 2, [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (10, 20, 30)]])
    img = decode_image(blob)
    assert (img.width, img.height, img.mode) == (2, 2, "RGB")
    assert img.pixels.shape == (2, 2, 3)
    assert img.pixels[0, 0].tolist() == [255, 0, 0]
    assert img.pixels[1, 1].tolist() == [10, 20, 30]


def test_builtin_pgm_grayscale_decode():
    blob = b"P5\n3 1\n255\n" + bytes([0, 128, 255])
    img = decode_image(blob)
    assert (img.width, img.height, img.mode) == (3, 1, "L")
    assert img.pixels[:, :, 0].tolist() == [[0, 128, 255]]


def test_resize_nearest_neighbor_roundtrip():
    # 4x4 checker downsampled to 2x2: nearest-neighbor picks the top-left
    # source pixel of each 2x2 block; output re-decodes as netpbm.
    rows = [
        [(0, 0, 0), (0, 0, 0), (9, 9, 9), (9, 9, 9)],
        [(0, 0, 0), (0, 0, 0), (9, 9, 9), (9, 9, 9)],
        [(7, 7, 7), (7, 7, 7), (1, 1, 1), (1, 1, 1)],
        [(7, 7, 7), (7, 7, 7), (1, 1, 1), (1, 1, 1)],
    ]
    small = decode_image(resize_image(_ppm(4, 4, rows), 2, 2))
    assert (small.width, small.height) == (2, 2)
    assert small.pixels[:, :, 0].tolist() == [[0, 9], [7, 1]]


def test_pil_branch_wires_up(monkeypatch):
    # fake-module injection (the spaCy-test pattern): PIL present → its
    # decode result is normalized into DecodedImage, builtin not used.
    class _FakeImg:
        mode = "RGB"

        def convert(self, mode):
            assert mode == "RGB"
            return [[[1, 2, 3], [4, 5, 6]]]  # np.asarray-able, 1x2 RGB

    fake_mod = types.ModuleType("PIL")
    fake_image = types.ModuleType("PIL.Image")
    fake_image.open = lambda buf: _FakeImg()
    fake_mod.Image = fake_image
    monkeypatch.setitem(sys.modules, "PIL", fake_mod)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image)
    img = decode_image(b"anything")
    assert (img.width, img.height, img.mode) == (2, 1, "RGB")
    assert img.pixels.dtype == np.uint8
    assert img.pixels[0, 1].tolist() == [4, 5, 6]


def test_fake_decode_deterministic():
    a = fake_decode_stats(b"hello")
    b = fake_decode_stats(b"hello")
    assert a == b
    assert 0 <= a[2] < 1 and 0 <= a[3] < 1


def test_decoded_stats_isolates_bad_blobs(spark):
    # Arrow-batched REAL decode on executors: decodable netpbm blobs get
    # width/height/mean, undecodable bytes get nulls + decoded=false —
    # per-record error isolation, the batch never fails.
    blob = _ppm(2, 1, [[(10, 10, 10), (30, 30, 30)]])
    media = spark.createDataFrame(
        [(1, "image", bytearray(blob), "{}"), (2, "image", bytearray(b"not an image"), "{}")],
        schema="media_id long, modality string, content binary, meta string",
    )
    rows = {r["media_id"]: r for r in extract_decoded_stats(media).collect()}
    assert rows[1]["decoded"] and (rows[1]["width"], rows[1]["height"]) == (2, 1)
    assert abs(rows[1]["mean_intensity"] - 20.0) < 1e-9
    assert not rows[2]["decoded"] and rows[2]["width"] is None


def test_media_pipeline_batch_shape(spark):
    docs = spark.createDataFrame(
        [(1, "some text"), (2, "other text"), (3, None)], schema="doc_id long, text string"
    )
    media = documents_as_media(docs)
    feats = extract_media_features(media).collect()
    assert len(feats) == 2  # NULL text dropped
    row = {r["media_id"]: r for r in feats}
    assert row[1]["n_bytes"] == len(b"some text")
    assert row[1]["modality"] == "text"


def test_ahash_shift_invariance_and_roundtrip():
    # aHash must be invariant to a constant intensity shift (no wrap):
    # the property that makes constant-shifted rasters perceptual dups.
    base = synth_image_pixels(0)  # base 0: values 0..66, shift headroom
    shifted = (base.astype(np.int64) + 100).astype(np.uint8)
    assert ahash_bits(base) == ahash_bits(shifted)
    # and the hash off the real netpbm byte roundtrip equals the direct one
    blob = encode_netpbm(DecodedImage(16, 16, "L", base))
    assert ahash_bits(decode_image(blob).pixels) == ahash_bits(base)


def test_phash_corpus_has_dup_groups(spark):
    # the synthetic raster family must produce at least one multi-doc
    # hash group (the near-dup signal mm5 exists to surface).
    docs = load_table(spark, SF_DIR, "documents").limit(300)
    ph = extract_image_phash(documents_as_images(docs))
    groups = (
        ph.where(F.col("decoded"))
        .groupBy("h_hi", "h_lo")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert groups >= 1, "expected perceptual-dup groups in the synthetic corpus"
