"""Multimodal column operators: decode / verify / feature-extract /
resize over opaque binary image columns (F9 + the EXT image surface).

Images travel as ``binary`` columns with typed metadata (w, h, fmt) —
never exploded to pixel rows. All pixel work happens inside
``mapInPandas`` so a whole Arrow batch of images is decoded per task
with zero per-row Python dispatch overhead at the plan level.

Codecs are self-made (the container has no Pillow/libjpeg/ffmpeg): a
stdlib PNG reader/writer, a pure-NumPy baseline JFIF JPEG codec
(kernels/jpeg.py — real DCT/quantization/Huffman), and an MJPEG-in-AVI
RIFF container codec (kernels/avi.py) whose frames are plain JPEGs —
so ``frame_sample`` decodes real video containers. Formats beyond
those (webp, inter-frame codecs) raise ``NotImplementedError``; the
Spark-side plumbing — schemas, batch shapes, UDF signatures,
bytes-stay-out-of-shuffles — is format-agnostic, so adding a codec is
a one-function change.

Scale invariant: operators that need a shuffle (groupBy tile, join by
id) are arranged to shuffle *keys and small metadata only*; the bytes
column is projected away before any wide exchange and re-attached by a
final join when genuinely needed.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.image import decode_image, encode_image, psnr, average_phash
from .dedup import cluster_dedup_from_pairs, shared_hash_pairs

__all__ = ["decode_stats", "verify_images", "resize_images",
           "image_quality_stats", "frame_sample", "video_near_dup",
           "audio_stats", "audio_fingerprints", "audio_near_dup",
           "video_cluster_dedup", "audio_cluster_dedup"]

_STATS_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("w_decoded", T.IntegerType()),
    T.StructField("h_decoded", T.IntegerType()),
    T.StructField("mean_r", T.DoubleType()),
    T.StructField("mean_g", T.DoubleType()),
    T.StructField("mean_b", T.DoubleType()),
    T.StructField("phash_decoded", T.LongType()),
    T.StructField("error", T.StringType()),
])


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every image and emit per-row stats (dims, channel means,
    recomputed phash). Unsupported formats produce ok=false + error
    instead of failing the job — the P3 invalid-row pattern applied to
    the image domain."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for rec in b.itertuples(index=False):
                try:
                    px = decode_image(rec.bytes, rec.fmt)
                    rows.append({
                        "image_id": rec.image_id, "ok": True,
                        "w_decoded": px.shape[1], "h_decoded": px.shape[0],
                        "mean_r": float(px[:, :, 0].mean()),
                        "mean_g": float(px[:, :, 1].mean()),
                        "mean_b": float(px[:, :, 2].mean()),
                        "phash_decoded": average_phash(px),
                        "error": None,
                    })
                except (NotImplementedError, ValueError, TypeError) as e:
                    # TypeError covers NULL bytes cells (decode sees
                    # None) — still an invalid ROW, never a task death
                    rows.append({
                        "image_id": rec.image_id, "ok": False,
                        "w_decoded": None, "h_decoded": None,
                        "mean_r": None, "mean_g": None, "mean_b": None,
                        "phash_decoded": None, "error": str(e),
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in _STATS_SCHEMA])

    return (images.select("image_id", "bytes", "fmt")
            .mapInPandas(run, schema=_STATS_SCHEMA))


def verify_images(images: DataFrame, min_psnr_db: float = 40.0,
                  expected_caption=None,
                  reference_pixels=None) -> DataFrame:
    """Per-row invariant check vs the reference rows (BASELINE.json):
    decoded dims match metadata, phash matches the stored column,
    caption equals the reference regeneration, and decoded pixels are
    measured against the REFERENCE pixel regeneration — PSNR is the
    true codec loss (infinite for PNG, actual DCT-quantization loss
    for JPEG), gated at ``min_psnr_db``. Emits one row per image with
    pass/fail + measured PSNR.

    ``expected_caption``: callable image_id -> caption;
    ``reference_pixels``: callable image_id -> (h, w, 3) uint8 array.
    Both default to the deterministic fixture regenerations — any pure
    per-row function of the reference dataset works.
    """
    if expected_caption is None:
        from ..sources.fixtures import expected_caption as expected_caption
    if reference_pixels is None:
        from ..sources.fixtures import reference_pixels as reference_pixels
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("dims_ok", T.BooleanType()),
        T.StructField("phash_ok", T.BooleanType()),
        T.StructField("caption_ok", T.BooleanType()),
        T.StructField("roundtrip_psnr", T.DoubleType()),
        T.StructField("psnr_ok", T.BooleanType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for rec in b.itertuples(index=False):
                try:
                    px = decode_image(rec.bytes, rec.fmt)
                except (NotImplementedError, ValueError, TypeError):
                    # undecodable row (corrupt stream, unsupported fmt,
                    # NULL bytes): report a failing verification row,
                    # never a task death — same P3 invalid-row contract
                    # as decode_stats
                    rows.append({
                        "image_id": rec.image_id, "dims_ok": False,
                        "phash_ok": False, "caption_ok": False,
                        "roundtrip_psnr": 0.0, "psnr_ok": False,
                    })
                    continue
                dims_ok = (px.shape[1] == rec.w and px.shape[0] == rec.h)
                # stored phash is computed over the ORIGINAL pixels; the
                # decoded phash may differ for lossy rows by a few bits
                ph = average_phash(px)
                hamming = bin((ph ^ rec.phash) & ((1 << 64) - 1)).count("1")
                phash_ok = hamming <= (0 if rec.fmt == "png" else 8)
                # true codec loss: decoded vs the reference regeneration
                # (comparable only when the decoded dims match it)
                ref = reference_pixels(rec.image_id)
                p = psnr(ref, px) if ref.shape == px.shape else 0.0
                rows.append({
                    "image_id": rec.image_id, "dims_ok": dims_ok,
                    "phash_ok": phash_ok,
                    "caption_ok":
                        rec.caption == expected_caption(rec.image_id),
                    "roundtrip_psnr": min(p, 99.0),
                    "psnr_ok": p >= min_psnr_db,
                })
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (images.select("image_id", "bytes", "fmt", "w", "h", "phash",
                          "caption")
            .mapInPandas(run, schema=schema))


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Block-mean resize (area interpolation) of every image to
    (out_w, out_h); returns (image_id, bytes, w, h, fmt='png'). Pure
    NumPy — the production swap-in is cv2/PIL with the same signature."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for rec in b.itertuples(index=False):
                px = decode_image(rec.bytes, rec.fmt).astype(np.float64)
                h, w = px.shape[:2]
                ys = (np.arange(out_h + 1) * h) // out_h
                xs = (np.arange(out_w + 1) * w) // out_w
                # block mean as two reduceat folds — O(h*w) C-speed
                # instead of O(out_h*out_w) Python-loop blocks; a
                # degenerate (upsampled) segment where start == next
                # start yields the single row/col px[start], matching
                # the at-least-one-pixel block rule
                ry = np.add.reduceat(px, ys[:-1], axis=0)
                cy = np.maximum(np.diff(ys), 1)[:, None, None]
                rxy = np.add.reduceat(ry, xs[:-1], axis=1)
                cx = np.maximum(np.diff(xs), 1)[None, :, None]
                small = (rxy / (cy * cx)).round().astype(np.uint8)
                rows.append({"image_id": rec.image_id,
                             "bytes": encode_image(small, "png"),
                             "w": out_w, "h": out_h, "fmt": "png"})
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (images.select("image_id", "bytes", "fmt")
            .mapInPandas(run, schema=schema))


_IQ_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("mean_luma", T.DoubleType()),
    T.StructField("std_luma", T.DoubleType()),
    T.StructField("entropy_bits", T.DoubleType()),
    T.StructField("sharpness", T.DoubleType()),
    T.StructField("error", T.StringType()),
])


def image_quality_stats(images: DataFrame) -> DataFrame:
    """Per-image quality signals for corpus filtering — the image
    analog of the text quality/repetition family:

      mean_luma    — BT.601 luma mean (dark/blown-out detector)
      std_luma     — luma standard deviation (flat/synthetic detector)
      entropy_bits — Shannon entropy of the 256-bin luma histogram
                     (near-0 = solid color / banding; ~8 = noise)
      sharpness    — mean |first difference| of luma over both axes
                     (blur detector; 0 for 1x1 images)

    Same resilience contract as ``decode_stats``: a corrupt row lands
    as ok=false + error, never a task death. All pixel math is
    vectorized NumPy inside one ``mapInPandas`` pass; bytes never
    shuffle. Deterministic (luma quantized to uint8 before the
    histogram), so aggregate rollups freeze as golden literals."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for rec in b.itertuples(index=False):
                try:
                    px = decode_image(rec.bytes, rec.fmt)
                    f = px.astype(np.float64)
                    luma = (0.299 * f[:, :, 0] + 0.587 * f[:, :, 1]
                            + 0.114 * f[:, :, 2])
                    q = np.clip(luma, 0, 255).astype(np.uint8)
                    hist = np.bincount(q.ravel(), minlength=256)
                    p = hist[hist > 0] / q.size
                    sharp = 0.0
                    if luma.shape[0] > 1:
                        sharp += float(np.abs(np.diff(luma, axis=0)).mean())
                    if luma.shape[1] > 1:
                        sharp += float(np.abs(np.diff(luma, axis=1)).mean())
                    rows.append({
                        "image_id": rec.image_id, "ok": True,
                        "mean_luma": float(luma.mean()),
                        "std_luma": float(luma.std()),
                        "entropy_bits": float(-(p * np.log2(p)).sum()),
                        "sharpness": sharp,
                        "error": None,
                    })
                except (NotImplementedError, ValueError, TypeError) as e:
                    rows.append({
                        "image_id": rec.image_id, "ok": False,
                        "mean_luma": None, "std_luma": None,
                        "entropy_bits": None, "sharpness": None,
                        "error": str(e),
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in _IQ_SCHEMA])

    return (images.select("image_id", "bytes", "fmt")
            .mapInPandas(run, schema=_IQ_SCHEMA))


_AUDIO_SCHEMA = T.StructType([
    T.StructField("audio_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("sr", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zcr_hz", T.DoubleType()),
    T.StructField("centroid_hz", T.DoubleType()),
    T.StructField("error", T.StringType()),
])


def audio_stats(audios: DataFrame) -> DataFrame:
    """Per-clip audio signals for corpus filtering — the audio analog
    of ``image_quality_stats`` over opaque PCM-WAV binary columns:

      rms          — root-mean-square level of the [-1, 1) waveform
                     (silence / clipping detector)
      zcr_hz       — zero crossings per second (a pure tone of
                     frequency f crosses at exactly 2f — pinned in
                     tests from first principles)
      centroid_hz  — spectral centroid of the rFFT magnitude spectrum
                     (brightness; equals f for a bin-aligned tone)

    Channels are averaged before analysis. Same resilience contract as
    every decode operator here: corrupt or non-PCM rows land as
    ok=false + error, never a task death. One map-only ``mapInPandas``
    pass, vectorized NumPy (FFT included); bytes never shuffle."""

    from ..kernels.wav import parse_wav

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for rec in b.itertuples(index=False):
                try:
                    info = parse_wav(rec.bytes)
                except (NotImplementedError, ValueError, TypeError) as e:
                    rows.append({
                        "audio_id": rec.audio_id, "ok": False,
                        "sr": None, "channels": None, "n_frames": None,
                        "duration_s": None, "rms": None, "zcr_hz": None,
                        "centroid_hz": None, "error": str(e)})
                    continue
                x = info.samples.astype(np.float64).mean(axis=1) / 32768.0
                n = x.size
                dur = n / info.rate
                # sign changes with exact-zero samples skipped (the
                # standard convention — a bin-aligned tone lands
                # exactly on zero at its crossings)
                sgn = np.sign(x)
                sgn = sgn[sgn != 0.0]
                crossings = (int(np.count_nonzero(sgn[:-1] != sgn[1:]))
                             if sgn.size > 1 else 0)
                mag = np.abs(np.fft.rfft(x))
                freqs = np.fft.rfftfreq(n, d=1.0 / info.rate)
                tot = float(mag.sum())
                centroid = float((freqs * mag).sum() / tot) if tot > 0 \
                    else 0.0
                rows.append({
                    "audio_id": rec.audio_id, "ok": True,
                    "sr": info.rate, "channels": info.channels,
                    "n_frames": n, "duration_s": dur,
                    "rms": float(np.sqrt(np.mean(x * x))),
                    "zcr_hz": crossings / dur,
                    "centroid_hz": centroid, "error": None})
            yield pd.DataFrame(rows,
                               columns=[f.name for f in _AUDIO_SCHEMA])

    return (audios.select("audio_id", "bytes")
            .mapInPandas(run, schema=_AUDIO_SCHEMA))


_AFP_SCHEMA = T.StructType([
    T.StructField("audio_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("window_idx", T.IntegerType()),
    T.StructField("fp", T.LongType()),
    T.StructField("error", T.StringType()),
])

AUDIO_FP_WINDOW = 1024          # samples per fingerprint window
AUDIO_FP_BANDS = 33             # log-ish bands -> 32 delta bits


def audio_fingerprints(audios: DataFrame,
                       window: int = AUDIO_FP_WINDOW) -> DataFrame:
    """Explode each clip into per-window 32-bit spectral fingerprints
    (Haitsma-Kalker family): window the mono waveform (hop = window,
    no overlap — windows of byte-identical audio then fingerprint
    byte-identically, which is what dedup joins on), rFFT each
    window, fold the magnitude spectrum into 33 power-law bands, and
    set bit b when band b's energy exceeds band b+1's. Deterministic,
    map-only, vectorized across all windows of a batch at once; a
    corrupt clip lands as ONE ok=false row."""

    from ..kernels.wav import parse_wav
    cols = [f.name for f in _AFP_SCHEMA]
    # power-law band edges over the rfft bins (shared by every clip
    # with the same window size; depends only on bin count)
    nbins = window // 2 + 1
    edges = np.unique(np.round(
        np.power(np.linspace(1.0, nbins ** (1.0 / 2.2),
                             AUDIO_FP_BANDS + 1), 2.2)).astype(int))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            # ok rows stay columnar end-to-end (an hour-long clip is
            # ~150k windows — per-window dict building would cost as
            # much as the rFFT itself); the rare error rows go through
            # a small dict path and concat at the end
            ids, widx, fps_parts = [], [], []
            err_rows = []
            for rec in b.itertuples(index=False):
                try:
                    info = parse_wav(rec.bytes)
                except (NotImplementedError, ValueError, TypeError) as e:
                    err_rows.append({"audio_id": rec.audio_id,
                                     "ok": False, "window_idx": None,
                                     "fp": None, "error": str(e)})
                    continue
                x = info.samples.astype(np.float64).mean(axis=1)
                nwin = x.size // window
                if nwin == 0:
                    err_rows.append({"audio_id": rec.audio_id,
                                     "ok": False, "window_idx": None,
                                     "fp": None,
                                     "error": "clip shorter than one "
                                              "fingerprint window"})
                    continue
                frames = x[:nwin * window].reshape(nwin, window)
                mag = np.abs(np.fft.rfft(frames, axis=1))
                e = np.add.reduceat(mag * mag, edges[:-1], axis=1)
                bits = (e[:, :-1] > e[:, 1:])
                weights = (1 << np.arange(bits.shape[1], dtype=np.int64))
                ids.append(np.repeat(rec.audio_id, nwin))
                widx.append(np.arange(nwin, dtype=np.int32))
                fps_parts.append((bits.astype(np.int64) * weights)
                                 .sum(axis=1))
            # ok and error rows yield as SEPARATE frames: concat with
            # the all-None error frame would degrade every numeric
            # column to object dtype, re-boxing the very per-window
            # ints the columnar path exists to avoid
            if ids:
                yield pd.DataFrame({
                    "audio_id": np.concatenate(ids),
                    "ok": True,
                    "window_idx": np.concatenate(widx),
                    "fp": np.concatenate(fps_parts),
                    "error": None}, columns=cols)
            if err_rows:
                yield pd.DataFrame(err_rows, columns=cols)

    return (audios.select("audio_id", "bytes")
            .mapInPandas(run, schema=_AFP_SCHEMA))


def audio_near_dup(audios: DataFrame, min_shared: int = 2,
                   max_df: int | None = 1000,
                   window: int = AUDIO_FP_WINDOW) -> DataFrame:
    """Audio near-duplicate pairs by shared window fingerprints — the
    audio leg of the modality-complete dedup matrix (text minhash /
    simhash / n-gram, embeddings, image phash, video frame phash,
    cross-modal consensus). Same ids-only shuffle posture as
    ``video_near_dup`` via ``shared_hash_pairs``; ``max_df`` drops
    degenerate fingerprints (digital silence, test tones) before the
    join."""
    fps = audio_fingerprints(audios, window=window).filter(F.col("ok"))
    return (shared_hash_pairs(fps, "audio_id", "fp",
                              min_shared, max_df, "n_shared_windows")
            .withColumnRenamed("audio_id_a", "audio_a")
            .withColumnRenamed("audio_id_b", "audio_b"))


def video_cluster_dedup(videos: DataFrame, every_n: int = 1,
                        min_shared: int = 2,
                        max_df: int | None = 1000,
                        id_col: str = "video_id") -> DataFrame:
    """Video cluster dedup: one survivor per connected component of
    the ``video_near_dup`` pair graph — collapses re-upload chains
    (A~B and B~C with no direct A-C pair) to a single copy, which
    pair-dropping alone cannot. Completes the video leg of the
    modality dedup matrix (pairs AND cluster collapse, like image
    phash and text minhash)."""
    pairs = video_near_dup(videos, every_n=every_n,
                           min_shared=min_shared, max_df=max_df)
    return cluster_dedup_from_pairs(videos, pairs, id_col,
                                    "video_a", "video_b")


def audio_cluster_dedup(audios: DataFrame, min_shared: int = 2,
                        max_df: int | None = 1000,
                        window: int = AUDIO_FP_WINDOW,
                        id_col: str = "audio_id") -> DataFrame:
    """Audio cluster dedup: one survivor per connected component of
    the ``audio_near_dup`` fingerprint pair graph — the audio leg of
    pairs-AND-collapse parity across modalities."""
    pairs = audio_near_dup(audios, min_shared=min_shared,
                           max_df=max_df, window=window)
    return cluster_dedup_from_pairs(audios, pairs, id_col,
                                    "audio_a", "audio_b")


def video_near_dup(videos: DataFrame, every_n: int = 1,
                   min_shared: int = 2,
                   max_df: int | None = 1000) -> DataFrame:
    """Video near-duplicate pairs by shared frame content: two videos
    match when >= ``min_shared`` of their sampled frames have the SAME
    perceptual hash — catching re-uploads, clipped copies and
    re-containered duplicates whose frame pixels survive the codec.

    Plan shape (the 100 TB posture): ``frame_sample`` is map-only and
    projects bytes away immediately, so the only thing that ever
    shuffles is (video_id, phash_frame) — see ``shared_hash_pairs``."""
    frames = (frame_sample(videos, every_n=every_n, with_bytes=False)
              .filter(F.col("ok")))
    return (shared_hash_pairs(frames, "video_id", "phash_frame",
                              min_shared, max_df, "n_shared_frames")
            .withColumnRenamed("video_id_a", "video_a")
            .withColumnRenamed("video_id_b", "video_b"))


_FRAME_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("phash_frame", T.LongType()),
    T.StructField("mean_luma", T.DoubleType()),
    T.StructField("error", T.StringType()),
])


def frame_sample(videos: DataFrame, every_n: int = 2,
                 with_bytes: bool = True,
                 with_stats: bool = True) -> DataFrame:
    """Explode MJPEG-AVI video rows into sampled frame rows: one
    output row per frame index 0, every_n, 2*every_n, … — the video
    analog of ``decode_stats``'s binary-in, typed-rows-out contract.

    Frames are real containers, not a stub: ``kernels/avi.py`` walks
    the RIFF movi list and hands each ``00dc`` payload (a plain
    baseline JPEG) to ``kernels/jpeg.py``. The emitted ``bytes`` are
    the verbatim per-frame JPEG (no transcode), so the output IS an
    image table — downstream image operators (decode_stats, phash
    dedup, resize) consume it unchanged.

    ``with_stats=False`` skips the pixel decode (container walk only —
    ~free) for pipelines that only need the frame bytes;
    ``with_bytes=False`` drops the payload for metadata-only rollups.
    Corrupt containers land as ONE ok=false row (P3 invalid-row
    contract), a corrupt individual frame as an ok=false row at its
    frame index; either way the task survives. Map-only: no shuffle,
    bytes never cross an exchange.
    """
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    from ..kernels.avi import parse_avi
    cols = [f.name for f in _FRAME_SCHEMA]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            # ok frames stay columnar end-to-end, mirroring
            # audio_fingerprints: per-video NumPy arrays appended to
            # batch-level parts, concatenated once — no per-frame dict
            # re-boxing the ints the JPEG decode just produced. Error
            # rows (corrupt container, undecodable frame) take a small
            # dict path and yield as a SEPARATE frame: concatenating
            # with an all-None frame would degrade every numeric
            # column to object dtype.
            idp, fip, nfp, wp, hp = [], [], [], [], []
            byp, php, lup = [], [], []
            err_rows = []
            for rec in b.itertuples(index=False):
                try:
                    info = parse_avi(rec.bytes)
                except (NotImplementedError, ValueError, TypeError) as e:
                    err_rows.append({
                        "video_id": rec.video_id, "ok": False,
                        "frame_idx": None, "n_frames": None,
                        "w": None, "h": None, "fmt": None, "bytes": None,
                        "phash_frame": None, "mean_luma": None,
                        "error": str(e)})
                    continue
                fidx = np.arange(0, info.n_frames, every_n,
                                 dtype=np.int32)
                okm = np.ones(fidx.size, dtype=bool)
                ph = np.zeros(fidx.size, dtype=np.int64)
                lu = np.zeros(fidx.size, dtype=np.float64)
                if with_stats:
                    for j, f in enumerate(fidx):
                        try:
                            px = decode_image(info.frames[f], "jpeg")
                        # NotImplementedError: a legal container whose
                        # frame uses a JPEG feature the codec lacks
                        # (progressive, 12-bit) is an invalid ROW, not
                        # a task death — same contract as decode_stats
                        except (NotImplementedError, ValueError,
                                TypeError) as e:
                            okm[j] = False
                            err_rows.append({
                                "video_id": rec.video_id, "ok": False,
                                "frame_idx": int(f),
                                "n_frames": info.n_frames,
                                "w": info.width, "h": info.height,
                                "fmt": "jpeg",
                                "bytes": (info.frames[f] if with_bytes
                                          else None),
                                "phash_frame": None, "mean_luma": None,
                                "error": str(e)})
                            continue
                        luma = (0.299 * px[:, :, 0].astype(np.float64)
                                + 0.587 * px[:, :, 1]
                                + 0.114 * px[:, :, 2])
                        ph[j] = average_phash(px)
                        lu[j] = float(luma.mean())
                keep = fidx[okm]
                if keep.size == 0:
                    continue
                idp.append(np.repeat(rec.video_id, keep.size))
                fip.append(keep)
                nfp.append(np.full(keep.size, info.n_frames,
                                   dtype=np.int32))
                wp.append(np.full(keep.size, info.width, dtype=np.int32))
                hp.append(np.full(keep.size, info.height,
                                  dtype=np.int32))
                if with_bytes:
                    payload = np.empty(keep.size, dtype=object)
                    payload[:] = [info.frames[f] for f in keep]
                    byp.append(payload)
                if with_stats:
                    php.append(ph[okm])
                    lup.append(lu[okm])
            if idp:
                yield pd.DataFrame({
                    "video_id": np.concatenate(idp),
                    "ok": True,
                    "frame_idx": np.concatenate(fip),
                    "n_frames": np.concatenate(nfp),
                    "w": np.concatenate(wp),
                    "h": np.concatenate(hp),
                    "fmt": "jpeg",
                    "bytes": np.concatenate(byp) if byp else None,
                    "phash_frame": np.concatenate(php) if php else None,
                    "mean_luma": np.concatenate(lup) if lup else None,
                    "error": None}, columns=cols)
            if err_rows:
                yield pd.DataFrame(err_rows, columns=cols)

    return (videos.select("video_id", "bytes")
            .mapInPandas(run, schema=_FRAME_SCHEMA))
