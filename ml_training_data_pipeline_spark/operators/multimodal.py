"""Multimodal (image/audio/video) column plumbing (BASELINE.json scale
extensions).

Design: media are opaque ``binary`` columns + typed metadata, processed by
Arrow-batched ``mapInPandas`` operators. The Spark-side contract — schema,
partitioning, UDF signature, batch shape — is real and tested. The codec
is two-tier: ``decode_image``/``resize_image`` use PIL when the executor
image has it (lazy import) and fall back to a BUILT-IN binary-netpbm
(P5/P6) decoder — real byte decoding with zero extra dependencies; only
compressed formats without a codec library raise NotImplementedError.
``fake_decode_stats`` remains the deterministic md5 stand-in the mm1/mm2
ORACLE path uses (the driver's testdata blobs are text bytes, not
images, so the oracle-checkable statistics must not depend on a codec).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = "media_id long, modality string, content binary, meta string"
FEATURE_SCHEMA = "media_id long, modality string, n_bytes long, h0 long, h1 long, feat0 double, feat1 double"


@dataclass
class DecodedImage:
    """Codec-agnostic decoded frame: (height, width, channels) uint8
    pixels plus mode ('L' grayscale / 'RGB'). Both the PIL branch and the
    built-in netpbm branch of ``decode_image`` normalize to this."""

    width: int
    height: int
    mode: str
    pixels: np.ndarray


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat each document's UTF-8 bytes as an opaque media blob
    so the binary pipeline is exercisable on the driver's tables."""
    return docs.where(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.to_json(F.struct(F.length(F.col("text")).alias("n_chars"))).alias("meta"),
    )


def _decode_netpbm(content: bytes) -> DecodedImage:
    """Built-in decoder for binary netpbm (P5 grayscale / P6 RGB,
    maxval ≤ 255): header tokens separated by whitespace with
    ``#``-comments, then exactly one whitespace byte, then the raster.
    Pure stdlib+numpy — real byte decoding with no codec library."""
    magic = content[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary netpbm blob (magic {magic!r})")
    toks: list[int] = []
    i = 2
    while len(toks) < 3:
        if i >= len(content):
            raise ValueError("truncated netpbm header")
        c = content[i : i + 1]
        if c == b"#":
            i = content.index(b"\n", i) + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(content) and not content[j : j + 1].isspace():
                j += 1
            toks.append(int(content[i:j]))
            i = j
    width, height, maxval = toks
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported by the built-in decoder")
    i += 1  # exactly one whitespace byte separates header and raster
    channels = 3 if magic == b"P6" else 1
    n = width * height * channels
    raster = np.frombuffer(content, dtype=np.uint8, count=n, offset=i)
    pixels = raster.reshape(height, width, channels)
    return DecodedImage(width, height, "RGB" if channels == 3 else "L", pixels)


def decode_image(content: bytes) -> DecodedImage:
    """The real codec hook: PIL when the executor image has it (lazy
    import, any format pillow reads), else the built-in binary-netpbm
    decoder. Raises NotImplementedError only for formats that genuinely
    need a codec library that isn't installed — the mapInPandas plumbing
    above/below is codec-agnostic either way."""
    try:
        from PIL import Image
    except ImportError:
        try:
            return _decode_netpbm(bytes(content))
        except ValueError as e:
            raise NotImplementedError(
                "decoding this image format requires a codec library on the "
                "executors (pip install pillow); only binary netpbm (P5/P6) "
                f"decodes without one: {e}"
            ) from e
    import io as _io

    img = Image.open(_io.BytesIO(bytes(content)))
    mode = "L" if img.mode == "L" else "RGB"
    arr = np.asarray(img.convert(mode), dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w = arr.shape[0], arr.shape[1]
    return DecodedImage(w, h, mode, arr)


def fake_decode_stats(content: bytes) -> tuple[int, int, float, float]:
    """Deterministic stand-in 'decode': md5-derived pseudo-statistics.
    (h0, h1, feat0∈[0,1), feat1∈[0,1)) — engine-portable (md5-based), so
    the plumbing is value-checkable against the DuckDB oracle."""
    h = hashlib.md5(content).hexdigest()
    h0 = int(h[:15], 16)
    h1 = int(h[15:30], 16)
    return h0, h1, (h0 % 1000) / 1000.0, (h1 % 1000) / 1000.0


def encode_netpbm(img: DecodedImage) -> bytes:
    """Re-encode a decoded frame as binary netpbm (P5/P6) — the
    deterministic no-dependency sink format for ``resize_image``."""
    magic = b"P6" if img.mode == "RGB" else b"P5"
    header = magic + f"\n{img.width} {img.height}\n255\n".encode()
    return header + np.ascontiguousarray(img.pixels, dtype=np.uint8).tobytes()


def resize_image(content: bytes, width: int, height: int) -> bytes:
    """The real resize hook: decode (PIL or built-in netpbm), nearest-
    neighbor resample via numpy index arithmetic (deterministic across
    codec branches, unlike each library's own filtered resample), and
    re-encode as binary netpbm. The surrounding mapInPandas plumbing is
    codec-agnostic."""
    img = decode_image(content)
    ys = (np.arange(height) * img.height) // height
    xs = (np.arange(width) * img.width) // width
    resized = img.pixels[ys][:, xs]
    return encode_netpbm(DecodedImage(width, height, img.mode, resized))


# sample_frames keeps every third 64-byte frame
_FRAME_BYTES = 64
_FRAME_EVERY = 3


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling over opaque media blobs: split ``content`` into
    ``_FRAME_BYTES``-byte frames and keep every ``_FRAME_EVERY``-th (a video
    frame-sampler's plumbing — table-out mapInPandas, multiple rows per
    input, Arrow-batched). The frame boundary logic is real; a video
    deployment swaps byte-slicing for a demuxer behind the same
    signature. Emits (media_id, frame_idx, frame_fp, n_frame_bytes);
    fingerprints are md5 (engine-portable, so the driver's tables —
    ASCII text-as-bytes — stay value-checkable in the DuckDB oracle)."""
    import hashlib as _hashlib

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "frame_idx": [], "frame_fp": [], "n_frame_bytes": []}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                n_frames = (len(b) + _FRAME_BYTES - 1) // _FRAME_BYTES
                for idx in range(0, n_frames, _FRAME_EVERY):
                    fb = b[idx * _FRAME_BYTES : (idx + 1) * _FRAME_BYTES]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["frame_fp"].append(_hashlib.md5(fb).hexdigest())
                    out["n_frame_bytes"].append(len(fb))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        op, schema="media_id long, frame_idx long, frame_fp string, n_frame_bytes long"
    )


def extract_decoded_stats(media: DataFrame) -> DataFrame:
    """mapInPandas REAL-decode statistics: per blob, decode via
    ``decode_image`` and emit (width, height, mean_intensity, decoded);
    undecodable blobs (no codec library for the format) yield nulls with
    ``decoded=false`` instead of failing the batch — the per-record
    error-isolation a 100-TB media scan needs."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "width": [], "height": [],
                "mean_intensity": [], "decoded": [],
            }
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                out["media_id"].append(mid)
                try:
                    img = decode_image(bytes(content))
                    out["width"].append(img.width)
                    out["height"].append(img.height)
                    out["mean_intensity"].append(float(img.pixels.mean()))
                    out["decoded"].append(True)
                # broad by design: a truncated/corrupt blob (PIL OSError,
                # numpy buffer ValueError, ...) must mark THIS record
                # undecodable, never fail the batch — at 100 TB some
                # fraction of media bytes is always garbage.
                except Exception:  # noqa: BLE001
                    out["width"].append(None)
                    out["height"].append(None)
                    out["mean_intensity"].append(None)
                    out["decoded"].append(False)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        op,
        schema="media_id long, width int, height int, mean_intensity double, decoded boolean",
    )


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: per-partition Arrow batches, lazy
    per-executor codec init (the 02_test.R:44-58 worker-load pattern —
    here the 'codec' is stateless, but the hook point is where a model
    or codec handle would be cached)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [fake_decode_stats(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(c) for c in pdf["content"]],
                    "h0": [s[0] for s in stats],
                    "h1": [s[1] for s in stats],
                    "feat0": [s[2] for s in stats],
                    "feat1": [s[3] for s in stats],
                }
            )

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)


# --- audio: real WAV/PCM byte codec ------------------------------------------------


@dataclass
class DecodedAudio:
    """Codec-agnostic decoded audio: mono int16 samples + rate. The
    built-in RIFF/WAVE PCM16 codec normalizes to this (a soundfile/ffmpeg
    deployment would too, behind the same functions)."""

    sample_rate: int
    samples: np.ndarray


def encode_wav(audio: DecodedAudio) -> bytes:
    """Canonical RIFF/WAVE writer (PCM, 16-bit, mono, little-endian) —
    pure stdlib struct, real container bytes with no codec library."""
    import struct

    data = np.ascontiguousarray(audio.samples, dtype="<i2").tobytes()
    sr = audio.sample_rate
    return (
        struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF", 36 + len(data), b"WAVE",
            b"fmt ", 16, 1, 1, sr, sr * 2, 2, 16,
            b"data", len(data),
        )
        + data
    )


def decode_wav(content: bytes) -> DecodedAudio:
    """Built-in RIFF/WAVE parser: validates the RIFF/WAVE preamble, walks
    chunks (word-aligned, unknown chunks skipped — real containers carry
    LIST/INFO), requires PCM 16-bit mono in ``fmt ``, reads ``data``.
    Raises ValueError on anything else — the per-record error isolation
    in extract_audio_features turns that into decoded=false."""
    import struct

    b = bytes(content)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE blob")
    pos, sample_rate, data = 12, None, None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt_tag, channels, sr, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if (fmt_tag, channels, bits) != (1, 1, 16):
                raise ValueError(
                    f"only PCM 16-bit mono supported (tag={fmt_tag}, ch={channels}, bits={bits})"
                )
            sample_rate = sr
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return DecodedAudio(sample_rate, np.frombuffer(data, dtype="<i2"))


def synth_audio_samples(media_id: int, n: int) -> np.ndarray:
    """Deterministic engine-portable test signal: sample i is
    ``(media_id*31 + i*17) % 65536 - 32768`` — int16-exact, and
    restatable as a DuckDB list comprehension, so features computed off
    the REAL WAV byte roundtrip stay oracle-checkable."""
    i = np.arange(n, dtype=np.int64)
    return ((media_id * 31 + i * 17) % 65536 - 32768).astype(np.int16)


_SAMPLE_RATE = 8000  # Hz, of the synthesized document clips


def documents_as_audio(docs: DataFrame) -> DataFrame:
    """Adapter: fabricate a deterministic PCM signal per document (length
    driven by n_chars) and pack it through the REAL WAV encoder, so the
    binary audio pipeline carries genuine container bytes."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = []
            for mid, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n = 160 + int(n_chars) % 160
                content.append(
                    encode_wav(DecodedAudio(_SAMPLE_RATE, synth_audio_samples(int(mid), n)))
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "modality": "audio",
                    "content": content,
                    "meta": "{}",
                }
            )

    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", "n_chars")
        .mapInPandas(op, schema=MEDIA_SCHEMA)
    )


def extract_audio_features(media: DataFrame) -> DataFrame:
    """mapInPandas audio features off the real WAV decode: sample count,
    duration, RMS, zero-crossing rate. Undecodable blobs yield nulls with
    decoded=false (same per-record isolation as extract_decoded_stats)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "n_samples": [], "duration_sec": [],
                "rms": [], "zcr": [], "decoded": [],
            }
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                out["media_id"].append(mid)
                try:
                    au = decode_wav(bytes(content))
                    x = au.samples.astype(np.float64)
                    n = len(x)
                    neg = x < 0
                    zc = int(np.count_nonzero(neg[1:] != neg[:-1]))
                    out["n_samples"].append(n)
                    # raw doubles: rounding happens in the QUERY via
                    # F.round (HALF_UP, matching DuckDB) — Python round()
                    # is banker's and diverges on exact decimal ties
                    out["duration_sec"].append(n / au.sample_rate)
                    out["rms"].append(float(np.sqrt(np.mean(x * x))))
                    out["zcr"].append(zc / (n - 1) if n > 1 else 0.0)
                    out["decoded"].append(True)
                except Exception:  # noqa: BLE001 — garbage blobs mark the record, not the batch
                    for k in ("n_samples", "duration_sec", "rms", "zcr"):
                        out[k].append(None)
                    out["decoded"].append(False)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        op,
        schema=(
            "media_id long, n_samples long, duration_sec double, "
            "rms double, zcr double, decoded boolean"
        ),
    )


# --- video: real Y4M (YUV4MPEG2) byte codec ----------------------------------------


@dataclass
class DecodedVideo:
    """Codec-agnostic decoded clip: (frames, height, width) uint8 luma
    planes (chroma is parsed past but not retained — features here are
    luma-based). A real deployment swaps in a demuxer behind the same
    functions."""

    width: int
    height: int
    n_frames: int
    luma: np.ndarray


def encode_y4m(width: int, height: int, frames: list[np.ndarray]) -> bytes:
    """Canonical YUV4MPEG2 writer (C420, 25 fps): ASCII stream header,
    then per frame an ASCII FRAME marker + raw 4:2:0 planes. Chroma
    planes are written as neutral 128s — the luma is the payload."""
    parts = [f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C420\n".encode()]
    chroma = np.full(((height // 2) * (width // 2)), 128, dtype=np.uint8).tobytes()
    for fr in frames:
        parts.append(b"FRAME\n")
        parts.append(np.ascontiguousarray(fr, dtype=np.uint8).tobytes())
        parts.append(chroma)
        parts.append(chroma)
    return b"".join(parts)


def decode_y4m(content: bytes) -> DecodedVideo:
    """Built-in YUV4MPEG2 parser: validates the magic, reads W/H/C tags
    (C420 only), then walks FRAME markers (parameters after FRAME are
    legal and skipped) slicing fixed-size 4:2:0 planes. Raises ValueError
    on anything else; extract_video_features maps that to decoded=false."""
    b = bytes(content)
    nl = b.find(b"\n")
    if nl < 0 or not b.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    width = height = None
    colorspace = "C420"
    for tag in b[9:nl].split():
        t = tag.decode("ascii", "replace")
        if t.startswith("W"):
            width = int(t[1:])
        elif t.startswith("H"):
            height = int(t[1:])
        elif t.startswith("C"):
            colorspace = t
    if width is None or height is None:
        raise ValueError("missing W/H in Y4M header")
    if not colorspace.startswith("C420"):
        raise ValueError(f"only C420 supported, got {colorspace}")
    y_size = width * height
    c_size = (height // 2) * (width // 2)
    frame_bytes = y_size + 2 * c_size
    lumas = []
    pos = nl + 1
    while pos < len(b):
        if b[pos : pos + 5] != b"FRAME":
            raise ValueError("corrupt frame marker")
        fnl = b.find(b"\n", pos)
        if fnl < 0 or fnl + 1 + frame_bytes > len(b):
            raise ValueError("truncated frame")
        lumas.append(
            np.frombuffer(b, dtype=np.uint8, count=y_size, offset=fnl + 1).reshape(
                height, width
            )
        )
        pos = fnl + 1 + frame_bytes
    return DecodedVideo(width, height, len(lumas), np.stack(lumas) if lumas else np.zeros((0, height, width), np.uint8))


def synth_video_luma(media_id: int, n_frames: int, width: int, height: int) -> list[np.ndarray]:
    """Deterministic engine-portable test clip: frame f's luma at (r, c)
    is ``(media_id*7 + f*13 + r*3 + c) % 256`` — restatable as DuckDB
    arithmetic, so features off the REAL Y4M byte roundtrip stay
    oracle-checkable."""
    r = np.arange(height, dtype=np.int64)[:, None]
    c = np.arange(width, dtype=np.int64)[None, :]
    return [
        ((media_id * 7 + f * 13 + r * 3 + c) % 256).astype(np.uint8)
        for f in range(n_frames)
    ]


# frame size of the synthesized document clips
_VIDEO_WIDTH = 16
_VIDEO_HEIGHT = 8


def documents_as_video(docs: DataFrame) -> DataFrame:
    """Adapter: fabricate a deterministic clip per document (frame count
    driven by n_chars) through the REAL Y4M encoder."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = []
            for mid, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n_frames = 2 + int(n_chars) % 6
                content.append(
                    encode_y4m(
                        _VIDEO_WIDTH,
                        _VIDEO_HEIGHT,
                        synth_video_luma(int(mid), n_frames, _VIDEO_WIDTH, _VIDEO_HEIGHT),
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "modality": "video",
                    "content": content,
                    "meta": "{}",
                }
            )

    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", "n_chars")
        .mapInPandas(op, schema=MEDIA_SCHEMA)
    )


def extract_video_features(media: DataFrame) -> DataFrame:
    """mapInPandas video features off the real Y4M decode: frame count,
    dimensions, mean luma of the first and last frame, mean |frame
    delta| (a motion proxy). Per-record error isolation as everywhere."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "n_frames": [], "width": [], "height": [],
                "first_luma": [], "last_luma": [], "mean_motion": [], "decoded": [],
            }
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                out["media_id"].append(mid)
                try:
                    vid = decode_y4m(bytes(content))
                    luma = vid.luma.astype(np.float64)
                    out["n_frames"].append(vid.n_frames)
                    out["width"].append(vid.width)
                    out["height"].append(vid.height)
                    # raw doubles; the query rounds via F.round (see
                    # extract_audio_features note)
                    out["first_luma"].append(float(luma[0].mean()))
                    out["last_luma"].append(float(luma[-1].mean()))
                    motion = (
                        float(np.abs(np.diff(luma, axis=0)).mean())
                        if vid.n_frames > 1
                        else 0.0
                    )
                    out["mean_motion"].append(motion)
                    out["decoded"].append(True)
                except Exception:  # noqa: BLE001 — garbage blobs mark the record, not the batch
                    for k in ("n_frames", "width", "height", "first_luma", "last_luma", "mean_motion"):
                        out[k].append(None)
                    out["decoded"].append(False)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        op,
        schema=(
            "media_id long, n_frames long, width int, height int, "
            "first_luma double, last_luma double, mean_motion double, decoded boolean"
        ),
    )


# --- image perceptual hashing (aHash over the real netpbm roundtrip) ---------------


_IMAGE_SIDE = 16  # pixels, of the square test raster


def synth_image_pixels(media_id: int) -> np.ndarray:
    """Deterministic engine-portable test raster: pixel (r, c) is
    ``(media_id*7 + r*3 + c) % 256`` — restatable as a DuckDB list
    comprehension, so the aHash computed off the REAL netpbm byte
    roundtrip stays oracle-checkable. By construction many media_ids
    share a raster up to a constant shift (no 256-wrap inside the
    pattern when media_id*7 % 256 < 190), and aHash is shift-invariant —
    so the corpus genuinely contains perceptual-duplicate groups."""
    r = np.arange(_IMAGE_SIDE, dtype=np.int64).reshape(-1, 1)
    c = np.arange(_IMAGE_SIDE, dtype=np.int64)
    return ((media_id * 7 + r * 3 + c) % 256).astype(np.uint8)[:, :, None]


def documents_as_images(docs: DataFrame) -> DataFrame:
    """Adapter: fabricate a deterministic 16×16 grayscale raster per
    document and pack it through the REAL netpbm encoder, so the binary
    image pipeline carries genuine container bytes (same pattern as
    documents_as_audio / documents_as_video)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = [
                encode_netpbm(DecodedImage(16, 16, "L", synth_image_pixels(int(mid))))
                for mid in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "modality": "image",
                    "content": content,
                    "meta": "{}",
                }
            )

    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id")
        .mapInPandas(op, schema=MEDIA_SCHEMA)
    )


def ahash_bits(pixels: np.ndarray) -> tuple[int, int]:
    """64-bit average hash of a 16×16 grayscale raster: 2×2 block means
    vs the global mean, bit k = r*8+c, split into two non-negative
    31/32-bit halves (h_lo bits 0-31, h_hi bits 32-63) so both ride in
    signed BIGINTs on every engine. Block/global means are multiples of
    1/4 and 1/256 — exact in doubles, so the strict ``>`` threshold is
    deterministic cross-engine."""
    g = pixels[:, :, 0].astype(np.float64)
    blocks = g.reshape(8, 2, 8, 2).mean(axis=(1, 3))  # (8, 8) block means
    bits = (blocks > g.mean()).astype(np.int64).ravel()  # k = r*8 + c
    h_lo = int((bits[:32] << np.arange(32, dtype=np.int64)).sum())
    h_hi = int((bits[32:] << np.arange(32, dtype=np.int64)).sum())
    return h_lo, h_hi


def extract_image_phash(media: DataFrame) -> DataFrame:
    """mapInPandas perceptual hash off the real image decode: per blob,
    decode (PIL or built-in netpbm), compute the 64-bit aHash. The
    near-dup use is a plain groupBy on (h_hi, h_lo) — identical hashes
    are perceptual duplicates; hamming-near pairs come from the d9-style
    banded equi-join if needed. Undecodable or non-16×16 blobs yield
    nulls with decoded=false (per-record isolation)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "h_lo": [], "h_hi": [], "n_set_bits": [], "decoded": [],
            }
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                out["media_id"].append(mid)
                try:
                    img = decode_image(bytes(content))
                    if img.width != 16 or img.height != 16 or img.mode != "L":
                        raise ValueError("phash expects 16×16 grayscale")
                    h_lo, h_hi = ahash_bits(img.pixels)
                    out["h_lo"].append(h_lo)
                    out["h_hi"].append(h_hi)
                    out["n_set_bits"].append(bin(h_lo).count("1") + bin(h_hi).count("1"))
                    out["decoded"].append(True)
                except Exception:  # noqa: BLE001 — garbage blobs mark the record, not the batch
                    for k in ("h_lo", "h_hi", "n_set_bits"):
                        out[k].append(None)
                    out["decoded"].append(False)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        op,
        schema="media_id long, h_lo long, h_hi long, n_set_bits long, decoded boolean",
    )


_AUDIO_FRAME_LEN = 40  # samples per audio_frame_profile frame


def audio_frame_profile(media: DataFrame) -> DataFrame:
    """Frame-level energy profile off the real WAV decode — the
    segmentation primitive under VAD/silence-trim pipelines: fixed-length
    frames, per-frame RMS, and the count of low-energy frames (RMS below
    98% of the clip RMS over the framed span). All sums are exact (int16
    squares over ≤2^39 fit a double losslessly), so the frame statistics
    are bit-identical in any engine and summation order. Same per-record
    error isolation as the other extractors."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "n_frames": [], "min_rms": [],
                "max_rms": [], "n_low": [], "decoded": [],
            }
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                out["media_id"].append(mid)
                try:
                    au = decode_wav(bytes(content))
                    x = au.samples.astype(np.float64)
                    nf = len(x) // _AUDIO_FRAME_LEN
                    if nf == 0:
                        raise ValueError("clip shorter than one frame")
                    framed = x[: nf * _AUDIO_FRAME_LEN].reshape(nf, _AUDIO_FRAME_LEN)
                    frame_rms = np.sqrt((framed * framed).mean(axis=1))
                    clip_rms = float(np.sqrt((framed * framed).mean()))
                    out["n_frames"].append(nf)
                    # raw doubles; rounding happens in the query via F.round
                    out["min_rms"].append(float(frame_rms.min()))
                    out["max_rms"].append(float(frame_rms.max()))
                    out["n_low"].append(int(np.count_nonzero(frame_rms < 0.98 * clip_rms)))
                    out["decoded"].append(True)
                except Exception:  # noqa: BLE001 — garbage blobs mark the record, not the batch
                    for k in ("n_frames", "min_rms", "max_rms", "n_low"):
                        out[k].append(None)
                    out["decoded"].append(False)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        op,
        schema=(
            "media_id long, n_frames long, min_rms double, max_rms double, "
            "n_low long, decoded boolean"
        ),
    )


_RGB_SIDE = 8  # pixels, of the square RGB test raster


def synth_rgb_pixels(media_id: int) -> np.ndarray:
    """Deterministic engine-portable RGB raster: channel value (ch, r, c)
    is ``(media_id*7 + ch*11 + r*3 + c) % 256`` — restatable as a DuckDB
    list comprehension, so stats computed off the REAL P6 byte roundtrip
    stay oracle-checkable (the color-channel counterpart to
    synth_image_pixels)."""
    r = np.arange(_RGB_SIDE, dtype=np.int64).reshape(-1, 1, 1)
    c = np.arange(_RGB_SIDE, dtype=np.int64).reshape(1, -1, 1)
    ch = np.arange(3, dtype=np.int64).reshape(1, 1, -1)
    return ((media_id * 7 + ch * 11 + r * 3 + c) % 256).astype(np.uint8)


def documents_as_rgb_images(docs: DataFrame) -> DataFrame:
    """Adapter: fabricate a deterministic 8×8 RGB raster per document and
    pack it through the REAL netpbm P6 encoder — the COLOR leg of the
    image pipeline (documents_as_images covers grayscale P5)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = [
                encode_netpbm(DecodedImage(8, 8, "RGB", synth_rgb_pixels(int(mid))))
                for mid in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "modality": "image",
                    "content": content,
                    "meta": "{}",
                }
            )

    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id")
        .mapInPandas(op, schema=MEDIA_SCHEMA)
    )


def extract_image_channel_stats(media: DataFrame) -> DataFrame:
    """mapInPandas per-channel stats off the real color decode: per blob,
    decode (PIL or built-in netpbm P6), emit one row per channel with
    mean / min / max. The 8×8 channel mean is a 64-int sum over a
    power-of-two divisor — exact in doubles, so the stats bit-match a
    cross-engine recomputation from the generator formula (proving the
    3-channel interleaved byte roundtrip lossless). Per-record error
    isolation: undecodable blobs yield decoded=false rows, never a task
    failure."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "channel": [], "mean_px": [],
                "min_px": [], "max_px": [], "decoded": [],
            }
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                try:
                    img = decode_image(bytes(blob))
                    px = np.asarray(img.pixels, dtype=np.float64)
                    if px.ndim != 3 or px.shape[2] != 3:
                        raise ValueError("channel stats expect an RGB image")
                    for ch in range(3):
                        out["media_id"].append(int(mid))
                        out["channel"].append(ch)
                        out["mean_px"].append(float(px[:, :, ch].mean()))
                        out["min_px"].append(int(px[:, :, ch].min()))
                        out["max_px"].append(int(px[:, :, ch].max()))
                        out["decoded"].append(True)
                except Exception:
                    out["media_id"].append(int(mid))
                    out["channel"].append(-1)
                    out["mean_px"].append(float("nan"))
                    out["min_px"].append(-1)
                    out["max_px"].append(-1)
                    out["decoded"].append(False)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        op,
        schema=(
            "media_id long, channel long, mean_px double, "
            "min_px long, max_px long, decoded boolean"
        ),
    )
