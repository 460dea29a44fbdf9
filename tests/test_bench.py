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


def test_archive_run_diffs_same_host_and_numbers_numerically(tmp_path,
                                                            monkeypatch):
    """The next record index is numeric (r100 sorts after r99, not
    before r40), and each run is diffed against the last record at the
    same sf and cpus, not the last record of any host."""
    import json

    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH").mkdir()
    for n, cpus, t in ((39, 32, 1.0), (40, 4, 2.0), (100, 4, 3.0)):
        (tmp_path / "BENCH" / f"r{n}.json").write_text(json.dumps(
            {"value": t, "sf": 0.1, "cpus": cpus, "queries": {"q": t}}))
    (tmp_path / "BENCH" / "r99.json").write_text("{not json")

    run = {"value": 5.0, "sf": 0.1, "queries": {"q": 5.0}}
    assert bench.archive_run({**run, "cpus": 4}) == "BENCH/r101.json"
    assert bench.archive_run({**run, "cpus": 32}) == "BENCH/r102.json"
    assert bench.archive_run({**run, "cpus": 8}) == "BENCH/r103.json"
    assert json.loads((tmp_path / "BENCH" / "r101.json").read_text()) \
        == {**run, "cpus": 4}
    history = (tmp_path / "BENCH" / "HISTORY.md").read_text()
    r101, r102, r103 = (history.split(f"## run r{n}")[1].split("## run")[0]
                        for n in (101, 102, 103))
    assert "| q | 3.0 | 5.0 | +2.000s |" in r101     # vs r100 (cpus 4)
    assert "| q | 1.0 | 5.0 | +4.000s |" in r102     # vs r39 (cpus 32)
    assert "| q |" not in r103                      # no cpus 8 record
    assert [d["cpus"] for d in bench._history(0.1, 4)] == [4, 4, 4]
