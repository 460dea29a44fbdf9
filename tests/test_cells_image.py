"""Cell-index and image-kernel unit tests (no Spark)."""

from __future__ import annotations

import numpy as np
import pytest

from esri_dump_spark.kernels import cells as C
from esri_dump_spark.kernels import image as I


def test_cell_roundtrip_and_bounds():
    lat, lng, res = 28.5, -90.25, 12
    cell = C.latlng_to_cell(lat, lng, res)
    r, cx, cy = C.cell_to_res_xy(cell)
    assert int(r) == res
    x0, y0, x1, y1 = C.cell_bounds(cell)
    assert x0 <= lng < x1 and y0 <= lat < y1
    # vectorized encode agrees with scalar
    lats = np.array([28.5, -90.0, 89.999, 0.0])
    lngs = np.array([-90.25, -180.0, 179.999, 0.0])
    vec = C.latlng_to_cell(lats, lngs, res)
    for i in range(4):
        assert int(vec[i]) == C.latlng_to_cell(float(lats[i]), float(lngs[i]), res)


def test_cell_edge_clamping():
    # lat=90 / lng=180 clamp into the last cell rather than overflowing
    res = 8
    n = 1 << res
    c = C.latlng_to_cell(90.0, 180.0, res)
    r, cx, cy = C.cell_to_res_xy(c)
    assert (int(cx), int(cy)) == (n - 1, n - 1)


def test_cell_sql_expr_matches_numpy():
    import duckdb
    rng = np.random.default_rng(42)
    lats = rng.uniform(-90, 90, 500)
    lngs = rng.uniform(-180, 180, 500)
    for res in (4, 9, 15):
        expected = C.latlng_to_cell(lats, lngs, res)
        con = duckdb.connect()
        con.register("pts", __import__("pandas").DataFrame({"lat": lats, "lng": lngs}))
        got = con.sql(
            f"SELECT {C.cell_sql_expr('lng', 'lat', res)} AS cell FROM pts"
        ).fetchnumpy()["cell"]
        assert np.array_equal(expected, got)


def test_grid_disk():
    cell = C.latlng_to_cell(10.0, 10.0, 10)
    disk = C.grid_disk(cell, 1)
    assert cell in disk and len(disk) == 9
    # corner cell: clamped
    corner = C.latlng_to_cell(-90.0, -180.0, 10)
    assert len(C.grid_disk(corner, 1)) == 4


def test_cover_bbox_and_polygon_cover():
    cellset = C.cover_bbox(-1.0, -1.0, 1.0, 1.0, 8)
    assert cellset.size >= 4
    # a thin diagonal polygon: exact cover strictly smaller than bbox cover
    ring = np.array([[0.0, 0.0], [10.0, 10.0], [10.2, 10.0], [0.2, 0.0],
                     [0.0, 0.0]])
    bbox_cover = C.cover_bbox(0, 0, 10.2, 10.0, 10)
    exact = C.polygon_cover([ring], 10)
    assert 0 < exact.size < bbox_cover.size
    assert np.isin(exact, bbox_cover).all()
    # every point sampled inside the polygon lands in a covered cell
    ts = np.linspace(0.01, 0.99, 50)
    pts = np.column_stack([ts * 10 + 0.1, ts * 10])
    inside = pts[np.array([True] * 50)]
    pc = set(exact.tolist())
    got_cells = C.latlng_to_cell(inside[:, 1], inside[:, 0], 10)
    assert all(int(c) in pc for c in got_cells)


def test_png_roundtrip_lossless():
    rng = np.random.default_rng(42)
    px = rng.integers(0, 256, size=(17, 23, 3), dtype=np.uint8)
    data = I.encode_png(px)
    back = I.decode_png(data)
    assert np.array_equal(px, back)
    assert I.psnr(px, back) == float("inf")


def test_png_decoder_rejects_garbage_with_valueerror_only():
    """Same contract as the JPEG fuzz test: malformed PNG streams must
    raise only ValueError/NotImplementedError — a zlib.error or
    struct.error would escape decode_stats' error handler and kill the
    Spark task on one corrupt row."""
    from hypothesis import given, settings, strategies as st
    rng = np.random.default_rng(4)
    good = I.encode_png(rng.integers(0, 256, (12, 14, 3), dtype=np.uint8))

    @settings(max_examples=150, deadline=None)
    @given(st.data())
    def check(data):
        mode = data.draw(st.integers(0, 2))
        if mode == 0:
            blob = data.draw(st.binary(min_size=0, max_size=200))
        elif mode == 1:
            cut = data.draw(st.integers(0, len(good)))
            blob = good[:cut]
        else:
            pos = data.draw(st.integers(8, len(good) - 1))
            bit = data.draw(st.integers(0, 7))
            b = bytearray(good)
            b[pos] ^= 1 << bit
            blob = bytes(b)
        try:
            out = I.decode_png(blob)
            assert out.ndim == 3 and out.shape[2] == 3
        except (ValueError, NotImplementedError):
            pass

    check()
    # targeted regression cases
    import pytest
    with pytest.raises(ValueError):
        I.decode_png(good[:8])                          # header only
    with pytest.raises(ValueError):                     # corrupt IDAT
        b = bytearray(good)
        i = good.index(b"IDAT") + 8
        b[i] ^= 0xFF
        I.decode_png(bytes(b))
    with pytest.raises(ValueError):                     # zero width
        b = bytearray(good)
        i = good.index(b"IHDR") + 4
        b[i:i + 4] = b"\x00\x00\x00\x00"
        I.decode_png(bytes(b))


def test_jpeg_lossy_psnr_above_40db():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    data = I.encode_image(px, "jpeg")
    assert data[:2] == b"\xff\xd8"  # real JFIF bytes, not a simulation
    back = I.decode_image(data, "jpeg")
    p = I.psnr(px, back)
    assert p >= 40.0, f"jpeg PSNR {p} below the 40 dB gate"
    assert not np.array_equal(px, back)  # genuinely lossy


def test_phash_deterministic_and_locality():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    h1 = I.average_phash(px)
    h2 = I.average_phash(px.copy())
    assert h1 == h2
    # tiny perturbation: small hamming distance
    noisy = px.astype(np.int16) + rng.integers(-2, 3, px.shape)
    noisy = noisy.clip(0, 255).astype(np.uint8)
    hd = bin((h1 ^ I.average_phash(noisy)) & ((1 << 64) - 1)).count("1")
    assert hd <= 8
    # structural change: large distance
    other = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    hd2 = bin((h1 ^ I.average_phash(other)) & ((1 << 64) - 1)).count("1")
    assert hd2 > hd


def test_unsupported_format_raises():
    with pytest.raises(NotImplementedError):
        I.decode_image(b"xxxx", "webp")
