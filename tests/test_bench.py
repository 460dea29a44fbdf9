"""bench.py's host sizing (Spark-free)."""

from __future__ import annotations

import pytest

import bench


@pytest.mark.parametrize("cores", [1, 3, 4, 8, 15, 16, 32])
def test_scale_pair_fits_the_host(cores):
    pair = bench.scale_pair(cores)
    if cores < 4:
        assert pair is None
        return
    lo, hi = pair
    assert hi == 4 * lo
    assert hi <= cores
    assert pair == ((4, 16) if cores >= 16 else (1, 4))
