"""Multimodal column handling: image/audio/video as opaque binary + typed
metadata (the `media_ref` side of the span model; olmOCR figure-ref
convention parsers/olmocr/__main__.py:59-61).

`decode_media` is a REAL pixel decode: a dependency-free PNG codec
(kernels/png.py, stdlib zlib + filters) runs inside Arrow batches — the
analog of the reference's formula-PNG rendering surface
(utilities/formula_renderer.py:119-164). Non-PNG formats (jpeg/audio/video)
would slot into the same batch shape behind the format sniff.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame, functions as F

from pdf_parse_bench_spark.kernels.png import decode_png
from pdf_parse_bench_spark.operators.kernel import kernel_op

_REF_RE = re.compile(r"page_(\d+)_(\d+)_(\d+)_(\d+)\.png")


def media_features(spans: DataFrame) -> DataFrame:
    """image spans → typed metadata (x, y, w, h, area) parsed from the
    media_ref. Pure column expressions (regexp_extract), so this stays in
    whole-stage codegen; a real decoder would swap in `decode_media`."""
    img = spans.where(F.col("kind") == "image")
    g = lambda i: F.regexp_extract("media_ref", _REF_RE.pattern, i).cast("int")
    return img.select(
        "doc_id",
        "offset",
        "media_ref",
        g(1).alias("x"),
        g(2).alias("y"),
        g(3).alias("w"),
        g(4).alias("h"),
        (g(3) * g(4)).alias("area"),
    )


_MEDIA_KEYS = ["doc_id", "offset", "media_ref"]

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# deterministic error-placeholder artifact (the reference's render-error
# fallback image, utilities/formula_renderer.py:119-164: a failed render
# still yields a concrete placeholder, never a silent null): 64x64 mid-gray
# with a 1px black border. Its stats are the spec — golden rows for
# corrupted payloads are computed from this definition at fixture time.
PLACEHOLDER_SIDE = 64


def error_placeholder() -> np.ndarray:
    img = np.full((PLACEHOLDER_SIDE, PLACEHOLDER_SIDE), 128, dtype=np.uint8)
    img[0, :] = img[-1, :] = img[:, 0] = img[:, -1] = 0
    return img


def _half_up(x: float, scale: float = 1e6) -> float:
    """Round half-up at 1/scale (6 dp by default) — engine-portable."""
    return float(np.floor(x * scale + 0.5)) / scale


def decode_media(media_df: DataFrame) -> DataFrame:
    """Per-row decode over (doc_id, offset, media_ref, media_bytes),
    format-sniffed by magic bytes. Input is size-rebalanced first
    (operators/skew.rebalance_by_size): a media table is written in few
    large files, so without the explicit repartition the decode stage runs
    on a handful of tasks and an oversized payload stalls its whole
    partition — invisible to AQE because it is UDF-stage skew.

      - PNG → real pixel decode (kernels/png.py) → width/height/channels +
        mean intensity in [0,1] (6 dp half-up, engine-portable); status 'ok'
      - JPEG, baseline grayscale (SOF0, 1 component, single scan) → real
        pixel decode (kernels/jpeg.py:jpeg_decode_gray) → true
        mean_intensity; status 'ok'
      - other JPEG profiles (color, progressive, headers-only) → SOFn
        header parse → width/height/channels, no pixel decode
        (mean_intensity null); status 'metadata_only'
      - anything else / corrupt → the DETERMINISTIC error-placeholder
        artifact's stats with status 'decode_error' — the reference's
        error-image fallback contract (formula_renderer.py:119-164), never
        a task failure and never an all-null row (X4 isolation)."""
    from pdf_parse_bench_spark.kernels.jpeg import (
        is_jpeg, jpeg_decode, jpeg_dims)
    from pdf_parse_bench_spark.operators.skew import rebalance_by_size

    media_df = rebalance_by_size(media_df, size_col=F.length("media_bytes"))
    ph_mean = _half_up(float(error_placeholder().mean()) / 255.0)

    def decode(b):
        raw = bytes(b) if b is not None else b""
        try:
            if raw.startswith(_PNG_MAGIC):
                img = decode_png(raw)
                mean = float(img.mean()) / 255.0
            elif is_jpeg(raw):
                try:
                    img = jpeg_decode(raw)
                    mean = float(img.astype(np.float64).mean()) / 255.0
                except ValueError:
                    # outside the decodable profile (header-only
                    # stream, arithmetic coding, exotic sampling):
                    # honest metadata from the SOFn header
                    w, h, ch = jpeg_dims(raw)
                    return [{"width": w, "height": h, "channels": ch,
                             "n_bytes": len(raw), "mean_intensity": None,
                             "status": "metadata_only"}]
            else:
                raise ValueError("unknown media format")
            h, w = img.shape[:2]
            return [{"width": w, "height": h,
                     "channels": 1 if img.ndim == 2 else img.shape[2],
                     "n_bytes": len(raw), "mean_intensity": _half_up(mean),
                     "status": "ok"}]
        except Exception:
            return [{"width": PLACEHOLDER_SIDE, "height": PLACEHOLDER_SIDE,
                     "channels": 1, "n_bytes": len(raw),
                     "mean_intensity": ph_mean, "status": "decode_error"}]

    return kernel_op(
        media_df, decode,
        "doc_id string, offset int, media_ref string, width int, "
        "height int, channels int, n_bytes long, mean_intensity double, "
        "status string",
        keys=_MEDIA_KEYS, args=["media_bytes"])


def render_formula_artifacts(formulas: DataFrame,
                             include_png: bool = True) -> DataFrame:
    """S7 render sink: (doc_id, offset, formula) → one PNG artifact row per
    formula via the deterministic glyph-box renderer (kernels/render.py),
    with the reference's error-image fallback contract
    (formula_renderer.py:119-164): an invalid formula emits the
    deterministic placeholder artifact with status='render_error' — never
    a null row, never a task failure (X4). kernel_op in Arrow batches;
    png_bytes ride along for the sink, metadata is the oracle surface
    (closed-form in the formula text, so DuckDB recomputes it exactly).
    include_png=False skips the zlib PNG encode for metadata-only
    consumers (column pruning cannot reach inside the kernel — guide
    §4.1); the render and stats math is identical either way."""
    from pdf_parse_bench_spark.kernels.png import encode_png
    from pdf_parse_bench_spark.kernels.render import render_formula
    from pdf_parse_bench_spark.operators.skew import rebalance_by_size

    # same UDF-stage skew story as decode_media
    formulas = rebalance_by_size(formulas, size_col=F.length("formula"))

    ph = error_placeholder()
    placeholder = {
        "width": ph.shape[1], "height": ph.shape[0],
        "mean_intensity": _half_up(float(ph.mean()) / 255.0),
        "status": "render_error",
        "png_bytes": encode_png(ph) if include_png else None}

    def render(doc_id, off, formula):
        ref = {"media_ref": f"formula_{doc_id}_{off}.png"}
        img = render_formula(formula if formula is not None else "")
        if img is None:
            return [{**ref, **placeholder}]
        return [{**ref, "width": img.shape[1], "height": img.shape[0],
                 "mean_intensity": _half_up(float(img.mean()) / 255.0),
                 "status": "ok",
                 "png_bytes": encode_png(img) if include_png else None}]

    return kernel_op(
        formulas, render,
        "doc_id string, offset int, media_ref string, width int, "
        "height int, mean_intensity double, status string, png_bytes binary",
        keys=["doc_id", "offset"], args=["doc_id", "offset", "formula"])


# --- thumbnailing (the training-pipeline resize path) ----------------------

THUMB_SIDE = 32  # max output side


def shrink_pixels(img: np.ndarray, max_side: int = THUMB_SIDE) -> np.ndarray:
    """Deterministic integer block-average downsample — the arithmetic
    spec the thumbnail golden is computed from. k = ceil(max(h,w)/max_side)
    (k=1 → unchanged); each output pixel is the float64 mean of its k×k
    cell intersected with the image (edge cells average the pixels that
    exist), rounded half-up to uint8. Channels are averaged
    independently."""
    h, w = img.shape[:2]
    k = -(-max(h, w) // max_side)
    if k <= 1:
        return img
    th, tw = -(-h // k), -(-w // k)
    chans = img if img.ndim == 3 else img[:, :, None]
    # vectorized: integer cell sums via add.reduceat on both axes, then
    # divide by the true cell area (edge cells are smaller). Sums of
    # uint8 are exact in both int64 and float64, so this equals the
    # per-cell float64 .mean() bit-for-bit — the golden spec.
    ysum = np.add.reduceat(chans.astype(np.int64), np.arange(0, h, k),
                           axis=0)
    cell = np.add.reduceat(ysum, np.arange(0, w, k), axis=1)
    ny = np.minimum(np.arange(th) * k + k, h) - np.arange(th) * k
    nx = np.minimum(np.arange(tw) * k + k, w) - np.arange(tw) * k
    area = (ny[:, None] * nx[None, :])[:, :, None]
    out = np.floor(cell / area + 0.5).astype(np.uint8)
    return out if img.ndim == 3 else out[:, :, 0]


def thumbnail_media(media_df: DataFrame) -> DataFrame:
    """Thumbnail generation over the media table — the resize stage a
    training-data pipeline runs before a vision encoder, as a
    size-rebalanced kernel_op over Arrow batches (never per-row
    Python). Decode via the real PNG/JPEG kernels, block-average shrink
    per `shrink_pixels` to THUMB_SIDE, re-encode PNG; emits thumb dims,
    the thumb's mean intensity (6 dp half-up) and the re-encoded byte
    count. Undecodable payloads get the error-placeholder's thumbnail
    (status 'decode_error') — never a task failure (X4 isolation)."""
    from pdf_parse_bench_spark.kernels.jpeg import is_jpeg, jpeg_decode
    from pdf_parse_bench_spark.kernels.png import encode_png
    from pdf_parse_bench_spark.operators.skew import rebalance_by_size

    media_df = rebalance_by_size(media_df, size_col=F.length("media_bytes"))

    def thumbnail(b):
        raw = bytes(b) if b is not None else b""
        status = "ok"
        try:
            if raw.startswith(_PNG_MAGIC):
                img = decode_png(raw)
            elif is_jpeg(raw):
                img = jpeg_decode(raw)
            else:
                raise ValueError("unknown media format")
        except Exception:
            img = error_placeholder()
            status = "decode_error"
        thumb = shrink_pixels(img)
        th, tw = thumb.shape[:2]
        mean = float(thumb.astype(np.float64).mean()) / 255.0
        return [{"thumb_w": tw, "thumb_h": th, "thumb_mean": _half_up(mean),
                 "thumb_png_bytes": len(encode_png(thumb)),
                 "status": status}]

    return kernel_op(
        media_df, thumbnail,
        "doc_id string, offset int, media_ref string, thumb_w int, "
        "thumb_h int, thumb_mean double, thumb_png_bytes long, status string",
        keys=_MEDIA_KEYS, args=["media_bytes"])


# --- audio metadata + PCM stats (the audio leg of the media model) ---------

def audio_features(audio_df: DataFrame) -> DataFrame:
    """WAV metadata + PCM-16 signal stats over (doc_id, media_ref,
    media_bytes), as a size-rebalanced kernel_op (audio payloads skew
    exactly like oversized PDFs). Per row:

      - PCM-16 → channels/rate/bits/n_samples/duration_ms + mean absolute
        amplitude (integer-sum / n, 3 dp half-up) and peak |amplitude|;
        status 'ok'
      - other WAV profiles (float, ADPCM, 24-bit) → container metadata,
        null signal stats; status 'metadata_only'
      - anything else / corrupt → an all-zero row with status
        'decode_error' — never a task failure (X4 isolation)."""
    from pdf_parse_bench_spark.kernels.wav import parse_wav
    from pdf_parse_bench_spark.operators.skew import rebalance_by_size

    audio_df = rebalance_by_size(audio_df, size_col=F.length("media_bytes"))
    meta_cols = ("channels", "sample_rate", "bits", "n_samples",
                 "duration_ms")

    def features(b):
        raw = bytes(b) if b is not None else b""
        try:
            meta = parse_wav(raw)
            row = {c: meta[c] for c in meta_cols}
            s = meta["samples"]
            if s is not None and len(s):
                a = np.abs(s.astype(np.int64))
                mean_abs = float(a.sum()) / a.size
                return [{**row, "mean_abs": _half_up(mean_abs, 1e3),
                         "peak": int(a.max()), "status": "ok"}]
            return [{**row, "mean_abs": None, "peak": None,
                     "status": "metadata_only"}]
        except Exception:
            return [{**dict.fromkeys(meta_cols, 0), "mean_abs": None,
                     "peak": None, "status": "decode_error"}]

    return kernel_op(
        audio_df, features,
        "doc_id string, media_ref string, channels int, sample_rate int, "
        "bits int, n_samples long, duration_ms long, mean_abs double, "
        "peak int, status string",
        keys=["doc_id", "media_ref"], args=["media_bytes"])


# --- video frame sampling (the video leg of the media model) ---------------

FRAME_STRIDE = 5  # sample every k-th frame


def video_frames(video_df: DataFrame) -> DataFrame:
    """Frame-sampling over Y4M video payloads: one output row per sampled
    frame (frame 0, FRAME_STRIDE, 2*FRAME_STRIDE, ...) with the frame's
    luma mean (6 dp half-up) — the pre-embedding subsample a multimodal
    training pipeline runs before a vision encoder. Size-rebalanced
    kernel_op (video rows are the heaviest payloads in the media table —
    exactly the UDF-stage skew rebalance_by_size exists for). Corrupt or
    non-Y4M payloads yield ONE frame_no=-1 row with status
    'decode_error' (X4: visible, never a task failure)."""
    from pdf_parse_bench_spark.kernels.y4m import parse_y4m
    from pdf_parse_bench_spark.operators.skew import rebalance_by_size

    video_df = rebalance_by_size(video_df, size_col=F.length("media_bytes"))

    def frames(b):
        raw = bytes(b) if b is not None else b""
        try:
            v = parse_y4m(raw)
        except Exception:
            return [{"frame_no": -1, "width": 0, "height": 0, "n_frames": 0,
                     "fps_num": 0, "fps_den": 0, "y_mean": None,
                     "status": "decode_error"}]
        meta = {c: v[c] for c in ("width", "height", "n_frames", "fps_num",
                                  "fps_den")}
        rows = []
        for fno in range(0, v["n_frames"], FRAME_STRIDE):
            y = v["frames"][fno].astype(np.float64)
            mean = float(y.sum()) / y.size / 255.0
            rows.append({**meta, "frame_no": fno, "y_mean": _half_up(mean),
                         "status": "ok"})
        return rows

    return kernel_op(
        video_df, frames,
        "doc_id string, media_ref string, frame_no int, width int, "
        "height int, n_frames int, fps_num int, fps_den int, "
        "y_mean double, status string",
        keys=["doc_id", "media_ref"], args=["media_bytes"])
