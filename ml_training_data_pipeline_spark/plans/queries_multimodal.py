"""Multimodal plumbing query: binary media columns through the
Arrow-batched mapInPandas feature extractor (deterministic fake decode —
md5-derived stats), value-checked against the DuckDB restatement. The
real codec swaps in behind operators/multimodal.decode_image without
touching this plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io.sources import load_table
from ..operators.multimodal import documents_as_media, extract_media_features
from .registry import query


@query(
    "mm1_media_features",
    oracle="""
    SELECT doc_id AS media_id,
           'text' AS modality,
           octet_length(encode(text)) AS n_bytes,
           ('0x'||substr(md5(text), 1, 15))::BIGINT AS h0,
           ('0x'||substr(md5(text), 16, 15))::BIGINT AS h1,
           (('0x'||substr(md5(text), 1, 15))::BIGINT % 1000) / 1000.0 AS feat0,
           (('0x'||substr(md5(text), 16, 15))::BIGINT % 1000) / 1000.0 AS feat1
    FROM documents WHERE text IS NOT NULL
    """,
)
def mm1_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return extract_media_features(media)


# --- MM2: frame sampling (table-out mapInPandas over binary blobs) ---------------
# 64-byte frames, every 3rd kept. The oracle slices VARCHAR because the
# driver's documents are pure ASCII (verified: octet_length(encode(text))
# == length(text) for every row), so char slicing ≡ byte slicing and
# DuckDB's md5(VARCHAR) hashes the same bytes the operator hashes.
@query(
    "mm2_frame_samples",
    oracle="""
    WITH frames AS (
      SELECT doc_id AS media_id, text,
             unnest(range(0, CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT))) AS frame_idx
      FROM documents WHERE text IS NOT NULL
    )
    SELECT media_id, frame_idx,
           md5(substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS frame_fp,
           octet_length(encode(substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64))) AS n_frame_bytes
    FROM frames WHERE frame_idx % 3 = 0
    """,
)
def mm2_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_frames

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return sample_frames(media)


# --- MM3: audio features off a REAL WAV byte roundtrip ----------------------------
# The audio leg of the multimodal surface with genuine container bytes:
# a deterministic PCM16 signal per document is packed through the
# built-in RIFF/WAVE encoder (operators/multimodal.encode_wav), decoded
# back by the chunk-walking parser, and featurized (duration, RMS,
# zero-crossing rate). The signal formula is engine-portable, so the
# oracle recomputes the SAME features directly from the formula — a
# hash-checked proof that the byte-level codec roundtrip is lossless.
@query(
    "mm3_audio_features",
    oracle="""
    WITH m AS (
      SELECT doc_id, 160 + (n_chars % 160) AS n
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (
      SELECT doc_id, n,
             list_transform(range(0, n),
               i -> CAST((doc_id * 31 + i * 17) % 65536 - 32768 AS DOUBLE)) AS x
      FROM m
    )
    SELECT doc_id AS media_id,
           CAST(n AS BIGINT) AS n_samples,
           round(n / 8000.0, 6) AS duration_sec,
           round(sqrt(list_avg(list_transform(x, v -> v * v))), 6) AS rms,
           round(len(list_filter(range(1, n), i -> (x[i] < 0) <> (x[i + 1] < 0)))
                 / CAST(n - 1 AS DOUBLE), 6) AS zcr,
           true AS decoded
    FROM s
    """,
)
def mm3_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.multimodal import documents_as_audio, extract_audio_features

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_audio_features(documents_as_audio(docs))
    # rounding lives HERE (JVM F.round, HALF_UP ≡ DuckDB), not in the
    # Python UDF: Python round() is banker's and flips exact decimal
    # ties (e.g. zcr with n-1 = 256 and zc ≡ 2 mod 4).
    return feats.select(
        "media_id",
        "n_samples",
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("rms", 6).alias("rms"),
        F.round("zcr", 6).alias("zcr"),
        "decoded",
    )


# --- MM4: video features off a REAL Y4M byte roundtrip ----------------------------
# The video leg with genuine container bytes — all three modalities now
# roundtrip real formats (netpbm / WAV / Y4M). A deterministic 16×8 C420
# clip per document goes through the built-in YUV4MPEG2 encoder, back
# through the chunk-walking parser, and into luma features (first/last
# frame mean, mean |frame delta| motion proxy). The luma formula
# ``(id*7 + f*13 + r*3 + c) % 256`` is engine-portable; every mean is an
# exact integer ratio, so the oracle recomputes features from the
# formula and the hash match proves the byte roundtrip lossless.
@query(
    "mm4_video_features",
    oracle="""
    WITH m AS (
      SELECT doc_id, 2 + (n_chars % 6) AS nf
      FROM documents WHERE text IS NOT NULL
    ),
    feats AS (
      SELECT doc_id, nf,
        list_avg(list_transform(range(0, 128),
          k -> CAST((doc_id*7 + (k//16)*3 + (k%16)) % 256 AS DOUBLE)))
          AS first_luma,
        list_avg(list_transform(range(0, 128),
          k -> CAST((doc_id*7 + (nf-1)*13 + (k//16)*3 + (k%16)) % 256 AS DOUBLE)))
          AS last_luma,
        list_avg(flatten(list_transform(range(1, nf),
          f -> list_transform(range(0, 128),
            k -> CAST(abs((doc_id*7 + f*13 + (k//16)*3 + (k%16)) % 256
                          - (doc_id*7 + (f-1)*13 + (k//16)*3 + (k%16)) % 256)
                      AS DOUBLE)))))
          AS mean_motion
      FROM m
    )
    SELECT doc_id AS media_id,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(16 AS INT) AS width,
           CAST(8 AS INT) AS height,
           round(first_luma, 6) AS first_luma,
           round(last_luma, 6) AS last_luma,
           round(mean_motion, 6) AS mean_motion,
           true AS decoded
    FROM feats
    """,
)
def mm4_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.multimodal import documents_as_video, extract_video_features

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_video_features(documents_as_video(docs))
    return feats.select(
        "media_id",
        "n_frames",
        "width",
        "height",
        F.round("first_luma", 6).alias("first_luma"),
        F.round("last_luma", 6).alias("last_luma"),
        F.round("mean_motion", 6).alias("mean_motion"),
        "decoded",
    )


# --- MM5: perceptual-hash (aHash) image near-dup groups ----------------------------
# Image-level dedup off REAL container bytes: a deterministic 16×16
# grayscale raster per document goes through the built-in netpbm encoder,
# back through the real decoder, into a 64-bit average hash (2×2 block
# means vs global mean), and near-dup groups are a plain groupBy on the
# hash — the image analogue of d1's exact-fingerprint dedup, and the
# front half of a d9-style banded hamming join. aHash is invariant to
# constant intensity shifts, and the raster formula makes many doc_ids
# constant-shifted copies, so the corpus contains real perceptual-dup
# groups (not just singletons). The raster formula is engine-portable,
# so the oracle recomputes the hash from first principles — hash match
# proves the whole byte roundtrip + block algebra chain.
@query(
    "mm5_image_phash_groups",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             [CAST((doc_id*7 + (k//16)*3 + (k%16)) % 256 AS DOUBLE)
              for k in range(0, 256)] AS p
      FROM documents WHERE text IS NOT NULL
    ),
    b AS (
      SELECT doc_id,
             [(p[((k//8)*2)*16 + (k%8)*2 + 1] + p[((k//8)*2)*16 + (k%8)*2 + 2]
               + p[((k//8)*2+1)*16 + (k%8)*2 + 1] + p[((k//8)*2+1)*16 + (k%8)*2 + 2]) / 4.0
              for k in range(0, 64)] AS bm,
             list_avg(p) AS gm
      FROM px
    ),
    h AS (
      SELECT doc_id,
             CAST(list_sum([CASE WHEN bm[k+1] > gm THEN (CAST(1 AS BIGINT) << k) ELSE 0 END
                            for k in range(0, 32)]) AS BIGINT) AS h_lo,
             CAST(list_sum([CASE WHEN bm[k+33] > gm THEN (CAST(1 AS BIGINT) << k) ELSE 0 END
                            for k in range(0, 32)]) AS BIGINT) AS h_hi
      FROM b
    )
    SELECT h_hi, h_lo,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_media_id,
           CAST(min(bit_count(h_hi) + bit_count(h_lo)) AS BIGINT) AS n_set_bits
    FROM h
    GROUP BY h_hi, h_lo
    """,
)
def mm5_image_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.multimodal import documents_as_images, extract_image_phash

    docs = load_table(spark, sf_dir, "documents")
    ph = extract_image_phash(documents_as_images(docs)).where(F.col("decoded"))
    return ph.groupBy("h_hi", "h_lo").agg(
        F.count("*").alias("n_docs"),
        F.min("media_id").alias("min_media_id"),
        F.min("n_set_bits").alias("n_set_bits"),
    )


# --- MM6: audio frame-energy profile (the VAD/silence-trim primitive) --------------
# Fixed 40-sample frames over the real WAV roundtrip (mm3's bytes), per
# clip: frame count, min/max frame RMS, and how many frames fall below
# 98% of clip RMS. Because every sum in the chain is exact in doubles
# (int16 squares), the oracle recomputes the identical statistics from
# the signal formula — byte-level codec, Python framing, and SQL agree
# hash-exactly.
@query(
    "mm6_audio_frame_profile",
    oracle="""
    WITH m AS (
      SELECT doc_id, 160 + (n_chars % 160) AS n
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (
      SELECT doc_id, CAST(floor(n / 40) AS BIGINT) AS nf,
             list_transform(range(0, n),
               i -> CAST((doc_id * 31 + i * 17) % 65536 - 32768 AS DOUBLE)) AS x
      FROM m
    ),
    fr AS (
      SELECT doc_id, nf,
             list_transform(range(0, CAST(nf AS INT)),
               f -> sqrt(list_avg(list_transform(
                      list_slice(x, f * 40 + 1, f * 40 + 40), v -> v * v)))) AS frms,
             sqrt(list_avg(list_transform(list_slice(x, 1, CAST(nf AS INT) * 40),
                                          v -> v * v))) AS clip_rms
      FROM s
    )
    SELECT doc_id AS media_id,
           nf AS n_frames,
           round(list_min(frms), 6) AS min_rms,
           round(list_max(frms), 6) AS max_rms,
           CAST(len(list_filter(frms, r -> r < 0.98 * clip_rms)) AS BIGINT) AS n_low,
           true AS decoded
    FROM fr
    """,
)
def mm6_audio_frame_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.multimodal import audio_frame_profile, documents_as_audio

    docs = load_table(spark, sf_dir, "documents")
    prof = audio_frame_profile(documents_as_audio(docs))
    return prof.select(
        "media_id",
        "n_frames",
        F.round("min_rms", 6).alias("min_rms"),
        F.round("max_rms", 6).alias("max_rms"),
        "n_low",
        "decoded",
    )


# --- MM7: per-channel color stats off a REAL P6 RGB roundtrip ----------------------
# The COLOR leg the image family was missing: mm1/mm5 exercise grayscale
# P5; mm7 pushes a deterministic 8×8 RGB raster through the built-in
# netpbm P6 encoder, back through the real 3-channel interleaved
# decoder, and into per-channel mean/min/max. The 64-pixel channel mean
# divides by a power of two — exact in doubles — so the oracle
# recomputes the stats from the generator formula and the hash match
# proves the color byte roundtrip lossless end-to-end.
@query(
    "mm7_image_channel_stats",
    oracle="""
    WITH px AS (
      SELECT d.doc_id, ch.ch,
             [CAST((d.doc_id*7 + ch.ch*11 + (k//8)*3 + (k%8)) % 256 AS DOUBLE)
              for k in range(0, 64)] AS p
      FROM documents d CROSS JOIN (SELECT unnest([0, 1, 2]) AS ch) ch
      WHERE d.text IS NOT NULL
    )
    SELECT doc_id AS media_id,
           CAST(ch AS BIGINT) AS channel,
           round(list_avg(p), 6) AS mean_px,
           CAST(list_min(p) AS BIGINT) AS min_px,
           CAST(list_max(p) AS BIGINT) AS max_px,
           true AS decoded
    FROM px
    """,
)
def mm7_image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.multimodal import (
        documents_as_rgb_images,
        extract_image_channel_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats = extract_image_channel_stats(documents_as_rgb_images(docs))
    # rounding in JVM F.round (HALF_UP ≡ DuckDB), not Python (banker's)
    return stats.select(
        "media_id",
        "channel",
        F.round("mean_px", 6).alias("mean_px"),
        "min_px",
        "max_px",
        "decoded",
    )
