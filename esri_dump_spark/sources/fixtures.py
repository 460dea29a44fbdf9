"""Deterministic image + polygon fixture tables (FIXTURES.md §1-2).

The production input is an Iceberg table of image+caption pairs
(BASELINE.json input_hint):
  (image_id string, bytes binary, w int, h int, fmt string,
   caption string, phash long)
plus per-row lon/lat carried for the spatial operators. Here the table
is synthesized deterministically (seed=42) and cached as parquet under
``.fixtures_cache`` beside the package directory (overridden by
``SPARK_GRAFT_FIXTURE_CACHE``) — regenerating any row is a pure
function of (seed, row index), the same property a 10^12-row synthetic
benchmark generator needs to create rows in parallel on executors.

Skew: ~20% of rows land inside one tiny hot box (one cell at the join
resolution) to exercise the salted-repartition path.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from ..kernels.image import encode_image, average_phash
from ..sources.feature_server import DEFAULT_EXTENT

__all__ = ["images_pdf", "polygons_records", "polygons_pdf",
           "ensure_images_parquet", "ensure_points_parquet",
           "videos_pdf", "ensure_videos_parquet", "video_frame_pixels",
           "video_n_frames", "near_dup_videos_pdf",
           "ensure_near_dup_videos_parquet",
           "audios_pdf", "ensure_audios_parquet", "audio_samples",
           "audio_n_windows", "near_dup_audios_pdf",
           "ensure_near_dup_audios_parquet",
           "bench_polygons_pdf", "FIXTURE_CACHE"]

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_CACHE = os.environ.get(
    "SPARK_GRAFT_FIXTURE_CACHE",
    os.path.join(os.path.dirname(_PACKAGE_ROOT), ".fixtures_cache"))

_ADJ = ["misty", "amber", "quiet", "vivid", "rough", "pale", "bright"]
_NOUN = ["harbor", "mesa", "delta", "grove", "ridge", "basin",
         "bluff", "marsh", "dune", "strand", "knoll"]

_SIZES = [16, 24, 32, 48]


def _positions(n: int, seed: int, extent=DEFAULT_EXTENT):
    """Vectorized deterministic lon/lat with a 20% hot spot."""
    xmin, ymin, xmax, ymax = extent
    idx = np.arange(n, dtype=np.uint64)
    z = idx + np.uint64(seed) * np.uint64(0x9E3779B9)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    u = (z & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2**32
    v = ((z >> np.uint64(32)) & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2**32
    lon = xmin + (xmax - xmin) * u
    lat = ymin + (ymax - ymin) * v
    hot = (idx % np.uint64(5)) == 0  # 20% hot spot
    lon[hot] = xmin + (xmax - xmin) * (0.25 + 0.002 * u[hot])
    lat[hot] = ymin + (ymax - ymin) * (0.25 + 0.002 * v[hot])
    return np.round(lon, 7), np.round(lat, 7)


def _pixels(i: int, w: int, h: int, seed: int) -> np.ndarray:
    """Seeded noise + a solid quadrant keyed by the row, so decoded
    content is verifiable per row."""
    rng = np.random.default_rng(seed * 1_000_003 + i)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    px[: h // 2, : w // 2] = [(i * 37) % 256, (i * 101) % 256, (i * 197) % 256]
    return px


def reference_pixels(image_id: str, seed: int = 42) -> np.ndarray:
    """Reference pixel regeneration: pure function of the row id — the
    per-row decoded-pixel invariant (BASELINE.json PSNR>=40dB for
    lossy) measures decoded bytes against this."""
    i = int(image_id[3:])
    w = _SIZES[i % 4]
    h = _SIZES[(i * 7 + 1) % 4]
    return _pixels(i, w, h, seed)


def expected_caption(image_id: str) -> str:
    """Reference caption regeneration: pure function of the row id —
    the per-row caption-equality invariant (BASELINE.json) checks
    stored captions against this."""
    i = int(image_id[3:])
    return f"caption for img{i} {_ADJ[i % 7]} {_NOUN[i % 11]}"


def images_pdf(n: int, seed: int = 42, with_geo: bool = True) -> pd.DataFrame:
    lon, lat = _positions(n, seed)
    rows = []
    for i in range(n):
        w = _SIZES[i % 4]
        h = _SIZES[(i * 7 + 1) % 4]
        fmt = "jpeg" if i % 5 == 4 else "png"  # 20% lossy
        px = _pixels(i, w, h, seed)
        image_id = f"img{i:012d}"
        rows.append({
            "image_id": image_id,
            "bytes": encode_image(px, fmt),
            "w": w,
            "h": h,
            "fmt": fmt,
            "caption": expected_caption(image_id),
            "phash": average_phash(px),
        })
    pdf = pd.DataFrame(rows)
    pdf["w"] = pdf["w"].astype("int32")
    pdf["h"] = pdf["h"].astype("int32")
    pdf["phash"] = pdf["phash"].astype("int64")
    if with_geo:
        pdf["lon"] = lon
        pdf["lat"] = lat
    return pdf


def _layout_suffix(n_files: int, n_rows: int) -> str:
    """Every cache name embeds the EFFECTIVE part count (requests are
    clamped to the row count, so the name encodes what is actually on
    disk) — the layout decides scan parallelism and is part of the
    fixture's identity; a 64-file request must never serve a cached
    16-file table, and two requests that clamp to the same layout
    share one entry. Cache versions were bumped alongside this change
    so pre-suffix entries (whose layout the name did not pin) are
    orphaned rather than trusted."""
    return f"_f{max(1, min(n_files, n_rows))}"


def _ensure_pdf_parquet(cache_name: str, make_pdf, n_files: int) -> str:
    """Generate-once parquet cache commit: write part files into a
    ``.tmp`` sibling, then atomic-rename to the final DIRECTORY of
    ``n_files`` parts (a real table is many files, and a single-file
    fixture caps the scan at 1-2 partitions, serializing every decode
    UDF regardless of executor count). A crashed prior run may have
    left MORE part files in the .tmp than this run will write —
    promoting them would duplicate rows, so stale .tmp dirs are
    removed first; only the atomic rename publishes."""
    os.makedirs(FIXTURE_CACHE, exist_ok=True)
    path = os.path.join(FIXTURE_CACHE, cache_name)
    if not os.path.exists(path):
        tmp = path + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        pdf = make_pdf()
        parts = max(1, min(n_files, len(pdf)))
        step = (len(pdf) + parts - 1) // parts
        for i in range(parts):
            pdf.iloc[i * step:(i + 1) * step].to_parquet(
                os.path.join(tmp, f"part-{i:04d}.parquet"), index=False)
        os.replace(tmp, path)
    return path


def ensure_images_parquet(n: int, seed: int = 42,
                          n_files: int = 16) -> str:
    """Image-table cache. v3 = v2 content (real baseline-JFIF jpeg
    bytes, not the old PNG-framed simulation) + layout-pinned names;
    stale v1/v2 caches must not load."""
    return _ensure_pdf_parquet(
        f"images_v3_n{n}_s{seed}{_layout_suffix(n_files, n)}.parquet",
                               lambda: images_pdf(n, seed), n_files)


def points_parquet_path(n: int, seed: int = 42) -> str:
    return os.path.join(FIXTURE_CACHE, f"points_n{n}_s{seed}.parquet")


def points_parquet_committed(n: int, seed: int = 42) -> bool:
    """True only for a COMPLETED write (_SUCCESS marker) — callers
    must never trust a bare directory-exists probe."""
    return os.path.exists(os.path.join(points_parquet_path(n, seed),
                                       "_SUCCESS"))


def ensure_points_parquet(spark, n: int, seed: int = 42,
                          n_files: int = 128) -> str:
    """Big point-only table (id, lon, lat) for the scaling protocol,
    generated ON EXECUTORS with pure SQL (xxhash64-derived uniforms) —
    the generator itself is partition-parallel and deterministic, the
    property a 10^12-row synthetic input needs. 20% of rows collapse
    into a tiny hot box (skew), mirroring images_pdf."""
    os.makedirs(FIXTURE_CACHE, exist_ok=True)
    path = points_parquet_path(n, seed)
    # a bare exists() would serve a crashed/interrupted write forever
    # (Spark leaves the directory behind); trust only a completed
    # commit — _SUCCESS is written last by the committer
    if points_parquet_committed(n, seed):
        return path
    if os.path.exists(path):
        shutil.rmtree(path)
    xmin, ymin, xmax, ymax = DEFAULT_EXTENT
    df = spark.range(0, n, 1, n_files).selectExpr(
        "id",
        f"(cast(xxhash64(id, {seed}) as double) / 9.223372036854776e18"
        " + 1.0) / 2.0 as u",
        f"(cast(xxhash64(id, {seed + 1}) as double) / 9.223372036854776e18"
        " + 1.0) / 2.0 as v",
    ).selectExpr(
        "id",
        f"case when id % 5 = 0 then {xmin} + {xmax - xmin} * (0.25 + 0.002 * u)"
        f" else {xmin} + {xmax - xmin} * u end as lon",
        f"case when id % 5 = 0 then {ymin} + {ymax - ymin} * (0.25 + 0.002 * v)"
        f" else {ymin} + {ymax - ymin} * v end as lat",
    )
    df.write.mode("overwrite").parquet(path)
    return path


def video_frame_pixels(video_idx: int, frame_idx: int,
                       seed: int = 42) -> np.ndarray:
    """Reference frame regeneration: pure function of (video, frame) —
    the video analog of ``reference_pixels``. The moving solid
    quadrant (keyed by frame index) makes every frame's phash distinct
    so frame-sampling errors (off-by-one, wrong stride) change the
    golden rollups."""
    w = _SIZES[video_idx % 4]
    h = _SIZES[(video_idx * 3 + 2) % 4]
    rng = np.random.default_rng(seed * 2_000_003 + video_idx)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    k = video_idx * 37 + frame_idx * 53
    px[: h // 2, : w // 2] = [k % 256, (k * 101) % 256, (k * 197) % 256]
    # static per-video noise + per-frame quadrant: inter-frame redundancy
    # (what real video has) without needing inter-frame coding
    return px


def video_n_frames(video_idx: int) -> int:
    return 6 + (video_idx % 5)          # 6..10 frames


def videos_pdf(n: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic MJPEG-AVI video+caption table, shaped like the
    image table (opaque binary column + typed metadata):
      (video_id string, bytes binary, w int32, h int32, fmt string,
       n_frames int32, fps int32)
    Frames are real baseline JPEGs (kernels/jpeg.py) muxed by
    kernels/avi.py — parse + decode round-trips bit-exactly to
    ``video_frame_pixels`` through the lossy codec's PSNR gate."""
    from ..kernels.avi import encode_avi_mjpeg
    rows = []
    for i in range(n):
        w = _SIZES[i % 4]
        h = _SIZES[(i * 3 + 2) % 4]
        nf = video_n_frames(i)
        frames = [encode_image(video_frame_pixels(i, f, seed), "jpeg")
                  for f in range(nf)]
        rows.append({
            "video_id": f"vid{i:012d}",
            "bytes": encode_avi_mjpeg(frames, w, h, fps=10),
            "w": w, "h": h, "fmt": "avi",
            "n_frames": nf, "fps": 10,
        })
    pdf = pd.DataFrame(rows)
    for c in ("w", "h", "n_frames", "fps"):
        pdf[c] = pdf[c].astype("int32")
    return pdf


def near_dup_videos_pdf(n: int, seed: int = 42) -> pd.DataFrame:
    """Video table with PLANTED near-duplicates: videos (2k, 2k+1)
    share their first ``2 + (k % 3)`` frames byte-identically (a
    re-upload / clip-of relationship), each keeps its own tail. Dims
    are shared per pair (a copied frame must match the container
    header). Frames are PURE noise — no solid quadrant: the 8x8
    average-phash of a half-solid image is dominated by the quadrant
    and collides structurally across unrelated videos, while pure
    noise collides at ~2^-64. Ground truth is therefore exact: pair k
    shares 2..4 frame phashes and no cross-pair frame ever collides
    (content keyed by (video, frame) with tails offset by +100)."""
    from ..kernels.avi import encode_avi_mjpeg

    def noise(key: int, w: int, h: int) -> np.ndarray:
        rng = np.random.default_rng(seed * 3_000_017 + key)
        return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)

    rows = []
    for i in range(n):
        k = i // 2
        w = _SIZES[k % 4]
        h = _SIZES[(k * 3 + 2) % 4]
        nf = video_n_frames(i)
        shared = 2 + (k % 3)
        frames = []
        for f in range(nf):
            # content keys never collide: shared keys end in 0..4,
            # tail keys in 100+f (>= 105 apart within each block)
            if f < shared:
                px = noise(2 * k * 1000 + f, w, h)      # pair-shared
            else:
                px = noise(i * 1000 + 100 + f, w, h)    # own tail
            frames.append(encode_image(px, "jpeg"))
        rows.append({
            "video_id": f"vid{i:012d}",
            "bytes": encode_avi_mjpeg(frames, w, h, fps=10),
            "w": w, "h": h, "fmt": "avi",
            "n_frames": nf, "fps": 10,
        })
    pdf = pd.DataFrame(rows)
    for c in ("w", "h", "n_frames", "fps"):
        pdf[c] = pdf[c].astype("int32")
    return pdf


def ensure_near_dup_videos_parquet(n: int, seed: int = 42,
                                   n_files: int = 16) -> str:
    """Generate-once cache for the planted-duplicate video table."""
    return _ensure_pdf_parquet(
        f"videos_nd_v2_n{n}_s{seed}{_layout_suffix(n_files, n)}.parquet",
                               lambda: near_dup_videos_pdf(n, seed),
                               n_files)


def ensure_videos_parquet(n: int, seed: int = 42,
                          n_files: int = 16) -> str:
    """Generate-once parquet cache for the video table."""
    return _ensure_pdf_parquet(
        f"videos_v2_n{n}_s{seed}{_layout_suffix(n_files, n)}.parquet",
                               lambda: videos_pdf(n, seed), n_files)


def audio_samples(audio_idx: int, seed: int = 42):
    """Reference waveform regeneration: pure function of the clip
    index. Every third clip is a PURE bin-aligned tone (frequency an
    exact multiple of sr/n), so rms = amp/sqrt(2), zcr = 2f and
    spectral centroid = f hold EXACTLY — first-principles pins for
    the audio operator; the rest are tone + seeded noise. Returns
    (int16 samples, sr, tone_hz or None)."""
    sr = 8000
    n = 4000 + (audio_idx % 4) * 1000            # 0.5 .. 0.875 s
    k = 100 + (audio_idx * 37) % 300             # FFT bin index
    f = k * sr / n                               # bin-aligned tone
    t = np.arange(n, dtype=np.float64)
    wave = np.sin(2.0 * np.pi * f * t / sr)
    if audio_idx % 3 != 0:
        rng = np.random.default_rng(seed * 5_000_011 + audio_idx)
        wave = 0.8 * wave + 0.2 * rng.uniform(-1.0, 1.0, n)
        tone = None
    else:
        tone = f
    samples = np.round(wave * 12000.0).astype(np.int16)
    return samples, sr, tone


def audios_pdf(n: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic PCM-WAV audio table, shaped like the image/video
    tables: (audio_id string, bytes binary, sr int32, n_frames int32,
    channels int32, fmt string)."""
    from ..kernels.wav import encode_wav
    rows = []
    for i in range(n):
        samples, sr, _ = audio_samples(i, seed)
        rows.append({
            "audio_id": f"aud{i:012d}",
            "bytes": encode_wav(samples, sr),
            "sr": sr, "n_frames": len(samples),
            "channels": 1, "fmt": "wav",
        })
    pdf = pd.DataFrame(rows)
    for c in ("sr", "n_frames", "channels"):
        pdf[c] = pdf[c].astype("int32")
    return pdf


def ensure_audios_parquet(n: int, seed: int = 42,
                          n_files: int = 16) -> str:
    """Generate-once cache for the audio table."""
    return _ensure_pdf_parquet(
        f"audios_v2_n{n}_s{seed}{_layout_suffix(n_files, n)}.parquet",
                               lambda: audios_pdf(n, seed), n_files)


def audio_n_windows(audio_idx: int) -> int:
    return 5 + (audio_idx % 4)           # 5..8 fingerprint windows


def near_dup_audios_pdf(n: int, seed: int = 42,
                        window: int = 1024) -> pd.DataFrame:
    """Audio table with PLANTED near-duplicates: clips (2k, 2k+1)
    share their first ``2 + (k % 3)`` fingerprint WINDOWS
    sample-identically (hop = window, so byte-equal audio fingerprints
    byte-equally), each keeps its own noise tail. Ground truth is
    exact: pair k shares 2..4 window fingerprints; unrelated noise
    windows collide at ~2^-32."""
    from ..kernels.wav import encode_wav

    def noise(key: int, nsamp: int) -> np.ndarray:
        rng = np.random.default_rng(seed * 7_000_003 + key)
        return rng.integers(-20000, 20000, nsamp).astype(np.int16)

    rows = []
    for i in range(n):
        k = i // 2
        nwin = audio_n_windows(i)
        shared = 2 + (k % 3)
        parts = [noise(2 * k * 1000 + w, window) if w < shared
                 else noise(i * 1000 + 100 + w, window)
                 for w in range(nwin)]
        samples = np.concatenate(parts)
        rows.append({
            "audio_id": f"aud{i:012d}",
            "bytes": encode_wav(samples, 8000),
            "sr": 8000, "n_frames": len(samples),
            "channels": 1, "fmt": "wav",
        })
    pdf = pd.DataFrame(rows)
    for c in ("sr", "n_frames", "channels"):
        pdf[c] = pdf[c].astype("int32")
    return pdf


def ensure_near_dup_audios_parquet(n: int, seed: int = 42,
                                   n_files: int = 16) -> str:
    """Generate-once cache for the planted-duplicate audio table."""
    return _ensure_pdf_parquet(
        f"audios_nd_v2_n{n}_s{seed}{_layout_suffix(n_files, n)}.parquet",
                               lambda: near_dup_audios_pdf(n, seed),
                               n_files)


def bench_polygons_pdf(nv: int = 256, nx: int = 6, ny: int = 4,
                       extent=DEFAULT_EXTENT) -> pd.DataFrame:
    """Deterministic grid of lumpy many-vertex polygons (realistic
    vertex counts — admin boundaries run 100s of vertices, which is
    also what makes the refine stage compute-dense enough to measure
    scaling instead of memory bandwidth)."""
    xmin, ymin, xmax, ymax = extent
    dx, dy = (xmax - xmin) / nx, (ymax - ymin) / ny
    rows, pid = [], 0
    for i in range(nx):
        for j in range(ny):
            cx = xmin + (i + 0.5) * dx
            cy = ymin + (j + 0.5) * dy
            th = np.linspace(0.0, 2.0 * np.pi, nv + 1)[:-1]
            r = 0.46 * min(dx, dy) * (1.0 + 0.18 * np.sin(5 * th + pid)
                                      + 0.09 * np.cos(11 * th - pid))
            ring = np.column_stack([cx + r * np.cos(th), cy + r * np.sin(th)])
            ring = np.vstack([ring, ring[:1]])
            rows.append({"poly_id": pid, "name": f"blob{pid}",
                         "rings_json": json.dumps(
                             [np.round(ring, 7).tolist()])})
            pid += 1
    return pd.DataFrame(rows)


def polygons_records(extent=DEFAULT_EXTENT) -> list[dict]:
    """ESRI-ring polygon fixtures: a grid of quads over the extent plus
    the reference's hard cases (hole, multipolygon, unmatched hole,
    degenerate ring, near-zero sliver). Shells clockwise (y-up),
    holes counter-clockwise, per the ESRI rings model."""
    xmin, ymin, xmax, ymax = extent
    dx, dy = (xmax - xmin) / 4.0, (ymax - ymin) / 4.0
    recs = []
    pid = 0
    # 4x4 grid of simple CW quads (cover most of the extent)
    for gx in range(4):
        for gy in range(4):
            x0, y0 = xmin + gx * dx, ymin + gy * dy
            # inset so neighbors don't share edges (avoids boundary ties)
            e = 0.003
            x0, y0, x1, y1 = x0 + e, y0 + e, x0 + dx - e, y0 + dy - e
            shell = [[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]]
            recs.append({"poly_id": pid, "name": f"quad-{gx}-{gy}",
                         "rings": [shell]})
            pid += 1
    cx, cy = (xmin + xmax) / 2, (ymin + ymax) / 2
    # polygon with a hole punched in the middle of the extent
    s = [[cx - 1, cy - 1], [cx - 1, cy + 1], [cx + 1, cy + 1],
         [cx + 1, cy - 1], [cx - 1, cy - 1]]
    hole = [[cx - 0.4, cy - 0.4], [cx + 0.4, cy - 0.4], [cx + 0.4, cy + 0.4],
            [cx - 0.4, cy + 0.4], [cx - 0.4, cy - 0.4]]
    recs.append({"poly_id": pid, "name": "holed", "rings": [s, hole]})
    pid += 1
    # multipolygon: two disjoint shells in one feature
    s1 = [[xmin + 0.1, ymin + 0.1], [xmin + 0.1, ymin + 0.6],
          [xmin + 0.6, ymin + 0.6], [xmin + 0.6, ymin + 0.1],
          [xmin + 0.1, ymin + 0.1]]
    s2 = [[xmax - 0.6, ymax - 0.6], [xmax - 0.6, ymax - 0.1],
          [xmax - 0.1, ymax - 0.1], [xmax - 0.1, ymax - 0.6],
          [xmax - 0.6, ymax - 0.6]]
    recs.append({"poly_id": pid, "name": "multi", "rings": [s1, s2]})
    pid += 1
    # unmatched hole (CCW, contained by nothing) -> promoted shell
    lone = [[cx + 2, cy + 2], [cx + 2.5, cy + 2], [cx + 2.5, cy + 2.5],
            [cx + 2, cy + 2.5], [cx + 2, cy + 2]]
    recs.append({"poly_id": pid, "name": "promoted", "rings": [lone]})
    pid += 1
    # degenerate ring alongside a valid shell
    recs.append({"poly_id": pid, "name": "degen",
                 "rings": [[[cx - 3, cy - 3], [cx - 2.9, cy - 2.9]],
                           [[cx - 3, cy + 2], [cx - 3, cy + 2.2],
                            [cx - 2.8, cy + 2.2], [cx - 2.8, cy + 2],
                            [cx - 3, cy + 2]]]})
    pid += 1
    # near-zero sliver (compensated-area regression)
    recs.append({"poly_id": pid, "name": "sliver",
                 "rings": [[[cx, cy + 3], [cx + 2, cy + 3.0000001],
                            [cx + 4, cy + 3], [cx, cy + 3]]]})
    return recs


def polygons_pdf(extent=DEFAULT_EXTENT) -> pd.DataFrame:
    recs = polygons_records(extent)
    return pd.DataFrame({
        "poly_id": [r["poly_id"] for r in recs],
        "name": [r["name"] for r in recs],
        "rings_json": [json.dumps(r["rings"]) for r in recs],
    })


def polygons_records_b(extent=DEFAULT_EXTENT) -> list[dict]:
    """Second polygon set, designed pairwise against
    ``polygons_records`` to exercise every polygon x polygon relation
    the intersects join must decide: edge crossing, A-contains-B,
    B-contains-A, inside-a-hole (disjoint by even-odd), and plain
    disjoint."""
    xmin, ymin, xmax, ymax = extent
    cx, cy = (xmin + xmax) / 2, (ymin + ymax) / 2

    def quad(x0, y0, x1, y1):
        # CW in y-up coords, like the A-set shells
        return [[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]]

    recs = []
    # 0: small box inside the "holed" polygon's HOLE: corners land in
    # the 4 center grid quads; even-odd keeps it disjoint from "holed"
    recs.append({"poly_id": 0, "name": "in-hole",
                 "rings": [quad(cx - 0.1, cy - 0.1, cx + 0.1, cy + 0.1)]})
    # 1: contains the whole "holed" polygon (and crosses center quads)
    recs.append({"poly_id": 1, "name": "around-holed",
                 "rings": [quad(cx - 1.5, cy - 1.5, cx + 1.5, cy + 1.5)]})
    # 2: strictly inside grid quad-0-0 (B-inside-A containment)
    recs.append({"poly_id": 2, "name": "inside-quad00",
                 "rings": [quad(xmin + 0.8, ymin + 0.8,
                                xmin + 1.2, ymin + 1.2)]})
    # 3: tall thin rect crossing the near-zero "sliver" polygon
    recs.append({"poly_id": 3, "name": "cross-sliver",
                 "rings": [quad(cx + 0.9, cy + 2.2, cx + 1.1, cy + 3.8)]})
    # 4: disjoint from everything (west of the extent)
    recs.append({"poly_id": 4, "name": "far-west",
                 "rings": [quad(xmin - 2.0, cy - 0.3,
                                xmin - 1.5, cy + 0.3)]})
    # 5: ring-with-hole whose HOLE swallows the A-set's "promoted"
    # CCW lone ring — promoted sits in the hole: disjoint by even-odd
    shell = quad(cx + 1.7, cy + 1.7, cx + 2.8, cy + 2.8)
    hole = [[cx + 1.9, cy + 1.9], [cx + 2.6, cy + 1.9],
            [cx + 2.6, cy + 2.6], [cx + 1.9, cy + 2.6],
            [cx + 1.9, cy + 1.9]]  # CCW (y-up), per the ESRI model
    recs.append({"poly_id": 5, "name": "ring-around-promoted",
                 "rings": [shell, hole]})
    # 6: overlaps the first shell of the "multi" feature
    recs.append({"poly_id": 6, "name": "cross-multi-s1",
                 "rings": [quad(xmin + 0.4, ymin + 0.4,
                                xmin + 0.9, ymin + 0.9)]})
    # 7: multipolygon whose FIRST component is disjoint from everything
    # but whose SECOND sits strictly inside grid quad-3-3 — pins the
    # per-ring containment probe (a first-ring-only probe misses it)
    dx, dy = (xmax - xmin) / 4.0, (ymax - ymin) / 4.0
    c33x, c33y = xmin + 3.5 * dx, ymin + 3.5 * dy
    recs.append({"poly_id": 7, "name": "multi-far-then-inside",
                 "rings": [quad(xmin - 2.0, ymin - 2.0,
                                xmin - 1.6, ymin - 1.6),
                           quad(c33x - 0.2, c33y - 0.2,
                                c33x + 0.2, c33y + 0.2)]})
    return recs


def polygons_pdf_b(extent=DEFAULT_EXTENT) -> pd.DataFrame:
    recs = polygons_records_b(extent)
    return pd.DataFrame({
        "poly_id": [r["poly_id"] for r in recs],
        "name": [r["name"] for r in recs],
        "rings_json": [json.dumps(r["rings"]) for r in recs],
    })
