"""MJPEG-in-AVI container kernel + frame_sample operator.

Covers: RIFF round-trip (frames bit-identical), decoded-frame PSNR vs
the reference regeneration (the BASELINE.json per-row invariant
extended to video), sampling stride semantics, the corrupt-row
contract (ValueError-only escapes, ok=false rows, task survives), a
hypothesis fuzz over mutated containers, and the plan invariant
(map-only — no exchange, one MapInPandas)."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, strategies as st

from esri_dump_spark.kernels.avi import encode_avi_mjpeg, parse_avi
from esri_dump_spark.kernels.image import (decode_image, encode_image,
                                           psnr, average_phash)
from esri_dump_spark.sources.fixtures import (videos_pdf,
                                              video_frame_pixels,
                                              video_n_frames)


def _mk_frames(n=4, w=32, h=24, seed=7):
    rng = np.random.default_rng(seed)
    px = [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
          for _ in range(n)]
    return px, [encode_image(p, "jpeg") for p in px]


def test_avi_roundtrip_bit_identical():
    px, frames = _mk_frames(5)
    avi = encode_avi_mjpeg(frames, 32, 24, fps=10)
    info = parse_avi(avi)
    assert info.width == 32 and info.height == 24
    assert abs(info.fps - 10.0) < 1e-9
    assert info.n_frames == 5
    assert all(a == b for a, b in zip(info.frames, frames))
    # frames decode through the JPEG codec above the lossy PSNR gate
    for p, f in zip(px, info.frames):
        assert psnr(p, decode_image(f, "jpeg")) >= 40.0


def test_avi_writer_validates_inputs():
    with pytest.raises(ValueError):
        encode_avi_mjpeg([], 8, 8)
    with pytest.raises(ValueError):
        encode_avi_mjpeg([b"x"], 8, 8, fps=0)


@pytest.mark.parametrize("mutate", [
    lambda a: b"",                                     # empty
    lambda a: a[:11],                                  # short header
    lambda a: b"RIFF" + a[4:8] + b"WAVE" + a[12:],     # wrong form type
    lambda a: a[:-3],                                  # truncated payload
    lambda a: a[:20],                                  # truncated chunk
    lambda a: None,                                    # NULL cell
    lambda a: a[:16] + b"\xff\xff\xff\xff" + a[20:],   # chunk overrun
])
def test_avi_corrupt_raises_valueerror_only(mutate):
    _, frames = _mk_frames(2)
    avi = encode_avi_mjpeg(frames, 32, 24)
    with pytest.raises((ValueError, TypeError)):
        parse_avi(mutate(avi))


@given(st.data())
def test_avi_fuzz_mutations_never_escape(data):
    """Random byte flips / truncations / splices either parse to some
    AviInfo or raise ValueError — nothing else (struct.error,
    IndexError, ... would kill a Spark task)."""
    _, frames = _mk_frames(2, w=16, h=16)
    avi = bytearray(encode_avi_mjpeg(frames, 16, 16))
    n_mut = data.draw(st.integers(1, 8))
    for _ in range(n_mut):
        pos = data.draw(st.integers(0, len(avi) - 1))
        avi[pos] = data.draw(st.integers(0, 255))
    if data.draw(st.booleans()):
        avi = avi[:data.draw(st.integers(0, len(avi)))]
    try:
        info = parse_avi(bytes(avi))
        assert info.n_frames >= 1
    except ValueError:
        pass


def test_fixture_videos_deterministic_and_decodable():
    pdf = videos_pdf(6)
    assert list(pdf.columns) == ["video_id", "bytes", "w", "h", "fmt",
                                 "n_frames", "fps"]
    pdf2 = videos_pdf(6)
    assert all(a == b for a, b in zip(pdf["bytes"], pdf2["bytes"]))
    for i, rec in enumerate(pdf.itertuples(index=False)):
        info = parse_avi(rec.bytes)
        assert info.n_frames == rec.n_frames == video_n_frames(i)
        assert (info.width, info.height) == (rec.w, rec.h)
        # per-frame invariant: decoded pixels vs reference regeneration
        for f in (0, info.n_frames - 1):
            ref = video_frame_pixels(i, f)
            assert psnr(ref, decode_image(info.frames[f], "jpeg")) >= 40.0


def test_frame_sample_stride_and_stats(spark):
    from esri_dump_spark.operators.multimodal import frame_sample
    pdf = videos_pdf(8)
    out = frame_sample(spark.createDataFrame(pdf), every_n=3).collect()
    by_vid = {}
    for r in out:
        by_vid.setdefault(r.video_id, []).append(r)
    assert len(by_vid) == 8
    for i, rec in enumerate(pdf.itertuples(index=False)):
        rows = sorted(by_vid[rec.video_id], key=lambda r: r.frame_idx)
        expect_idx = list(range(0, rec.n_frames, 3))
        assert [r.frame_idx for r in rows] == expect_idx
        for r in rows:
            assert r.ok and r.fmt == "jpeg"
            assert (r.w, r.h) == (rec.w, rec.h)
            assert r.n_frames == rec.n_frames
            # emitted bytes are the verbatim frame JPEG: decoding them
            # reproduces the reference frame through the PSNR gate and
            # the recomputed phash matches the operator's column
            px = decode_image(bytes(r.bytes), "jpeg")
            assert psnr(video_frame_pixels(i, r.frame_idx), px) >= 40.0
            assert average_phash(px) == r.phash_frame
            assert r.mean_luma is not None


def test_frame_sample_corrupt_rows_survive(spark):
    from esri_dump_spark.operators.multimodal import frame_sample
    pdf = videos_pdf(2)
    bad = pd.DataFrame({
        "video_id": ["bad0", "bad1"],
        "bytes": [b"not an avi", None],
        "w": np.int32(0), "h": np.int32(0), "fmt": "avi",
        "n_frames": np.int32(0), "fps": np.int32(0)})
    rows = frame_sample(
        spark.createDataFrame(pd.concat([pdf, bad], ignore_index=True)),
        every_n=2).collect()
    ok = [r for r in rows if r.ok]
    nok = [r for r in rows if not r.ok]
    assert {r.video_id for r in nok} == {"bad0", "bad1"}
    assert all(r.error for r in nok)
    assert len(ok) == sum(len(range(0, video_n_frames(i), 2))
                          for i in range(2))


def test_frame_sample_plan_is_map_only(spark):
    """No exchange anywhere — bytes must never shuffle; exactly one
    Python node (the mapInPandas decode)."""
    from esri_dump_spark.operators.multimodal import frame_sample
    from esri_dump_spark.sources.fixtures import ensure_videos_parquet
    df = frame_sample(spark.read.parquet(ensure_videos_parquet(24)),
                      every_n=2, with_bytes=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert plan.count("MapInPandas") == 1, plan[:2000]


def test_video_near_dup_exact_ground_truth(spark):
    """Planted duplicates: pair k of near_dup_videos_pdf shares
    exactly 2 + (k % 3) byte-identical frames. The operator must
    recover exactly those pairs with exactly those counts — no
    cross-pair false positives (tail content never collides)."""
    from esri_dump_spark.operators.multimodal import video_near_dup
    from esri_dump_spark.sources.fixtures import near_dup_videos_pdf
    vids = spark.createDataFrame(near_dup_videos_pdf(20))   # 10 pairs
    got = {(r.video_a, r.video_b): r.n_shared_frames
           for r in video_near_dup(vids, every_n=1, min_shared=3,
                                   max_df=None).collect()}
    exp = {(f"vid{2 * k:012d}", f"vid{2 * k + 1:012d}"): 2 + (k % 3)
           for k in range(10) if 2 + (k % 3) >= 3}
    assert got == exp
    # threshold 2 catches every planted pair, and nothing else
    all_pairs = video_near_dup(vids, every_n=1, min_shared=2,
                               max_df=None)
    assert all_pairs.count() == 10
    # max_df=1 drops every shared hash (each appears in 2 videos)
    assert video_near_dup(vids, every_n=1, min_shared=1,
                          max_df=1).count() == 0
    # stride sampling: every_n=2 sees frames 0,2,4..., so pair k keeps
    # ceil(shared/2) shared SAMPLED frames
    strided = {(r.video_a, r.video_b): r.n_shared_frames
               for r in video_near_dup(vids, every_n=2, min_shared=1,
                                       max_df=None).collect()}
    exp2 = {(f"vid{2 * k:012d}", f"vid{2 * k + 1:012d}"):
            (2 + (k % 3) + 1) // 2 for k in range(10)}
    assert strided == exp2


def test_video_near_dup_bytes_never_shuffle(spark):
    """Every Exchange in the plan must carry only (video_id,
    phash_frame)-derived columns — the video payload is projected away
    inside the map stage, never shuffled."""
    from esri_dump_spark.operators.multimodal import video_near_dup
    from esri_dump_spark.sources.fixtures import (
        ensure_near_dup_videos_parquet)
    df = video_near_dup(spark.read.parquet(
        ensure_near_dup_videos_parquet(40)), every_n=1, min_shared=2)
    assert df.count() == 20
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    # formatted explain: one "(n) NodeName" section per operator with
    # Input/Output/Arguments column lists
    import re
    sections = re.split(r"\n\(\d+\) ", "\n" + formatted)
    exchanges = [s for s in sections if s.startswith("Exchange")]
    assert exchanges, formatted[:2000]
    for s in exchanges:
        assert "bytes" not in s, s


def test_cluster_dedup_from_pairs_collapses_chains(spark):
    """A~B and B~C with NO direct A-C pair must still collapse to one
    survivor (the minimum id) — the component behavior pair-dropping
    alone cannot give; untouched items survive."""
    from esri_dump_spark.operators.dedup import (
        cluster_dedup_from_pairs)
    items = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)],
                                  ["id"])
    pairs = spark.createDataFrame([("a", "b"), ("b", "c")],
                                  ["x_a", "x_b"])
    out = cluster_dedup_from_pairs(items, pairs, "id", "x_a", "x_b")
    assert sorted(r.id for r in out.collect()) == ["a", "d"]


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_cluster_dedup_from_pairs_matches_union_find(spark, seed):
    """Random pair graphs (cycles, chains, multi-edges, isolated
    items) vs a driver-side union-find: the survivor set must be the
    min id of every component plus every untouched item — the generic
    guarantee the modality wrappers inherit."""
    import numpy as np
    from esri_dump_spark.operators.dedup import (
        cluster_dedup_from_pairs)
    rng = np.random.default_rng(seed)
    ids = [f"it{i:03d}" for i in range(30)]
    edges = [(ids[int(a)], ids[int(b)])
             for a, b in rng.integers(0, 30, size=(25, 2)) if a != b]
    items = spark.createDataFrame([(i,) for i in ids], ["id"])
    pairs = spark.createDataFrame(edges, ["p_a", "p_b"])
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i for i in ids if find(i) == i}
    got = {r.id for r in cluster_dedup_from_pairs(
        items, pairs, "id", "p_a", "p_b").collect()}
    assert got == expected


def test_video_cluster_dedup_exact_survivors(spark):
    """The planted pair graph is disjoint 2-cliques over (2k, 2k+1),
    so min-id survivors are exactly the even-suffix videos; the
    result must be layout-independent (two-layout probe discipline)."""
    from esri_dump_spark.operators.multimodal import video_cluster_dedup
    from esri_dump_spark.sources.fixtures import (
        ensure_near_dup_videos_parquet)
    vids = spark.read.parquet(ensure_near_dup_videos_parquet(40))
    out = video_cluster_dedup(vids, every_n=1, min_shared=2)
    got = sorted(r.video_id for r in out.select("video_id").collect())
    assert got == [f"vid{2 * k:012d}" for k in range(20)]
    got13 = sorted(r.video_id for r in video_cluster_dedup(
        vids.repartition(13), every_n=1, min_shared=2)
        .select("video_id").collect())
    assert got13 == got


def test_video_job_resumes_from_file_lineage(spark, tmp_path):
    """scripts/job_video_frames.py: file-granularity resume over the
    video table — new files are processed, completed ones skipped, and
    the appended frame parts union to the single-shot output. Also
    covers the corrupt-row path end-to-end: a file with one bad video
    still certifies (its ok=false rows reached the sink)."""
    import importlib.util
    import os
    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "job_video_frames",
        os.path.join(REPO, "scripts", "job_video_frames.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    inp = str(tmp_path / "videos")
    out = str(tmp_path / "out")
    ref_out = str(tmp_path / "ref_out")

    pdf = videos_pdf(8)
    spark.createDataFrame(pdf.iloc[:4]).coalesce(1) \
        .write.mode("append").parquet(inp)
    r1 = job.run(spark, inp, out, run_id="v")
    assert r1["resumed_skipping_files"] == 0
    n1 = r1["metrics"]["n_rows"]
    assert n1 == sum(len(range(0, video_n_frames(i), 2)) for i in range(4))

    # a second file arrives, containing one corrupt video
    bad = pd.DataFrame({"video_id": ["badv"], "bytes": [b"junk"],
                        "w": np.int32(0), "h": np.int32(0), "fmt": "avi",
                        "n_frames": np.int32(0), "fps": np.int32(10)})
    spark.createDataFrame(pd.concat([pdf.iloc[4:], bad],
                                    ignore_index=True)).coalesce(1) \
        .write.mode("append").parquet(inp)
    r2 = job.run(spark, inp, out, run_id="v")
    assert r2["resumed_skipping_files"] == 1

    # third run: nothing new
    r3 = job.run(spark, inp, out, run_id="v")
    assert r3["resumed_skipping_files"] == 2
    assert r3["metrics"]["n_rows"] == 0

    # appended parts == single-shot reference, incl. the ok=false row
    ref = job.run(spark, inp, ref_out, run_id="fresh")
    assert ref["resumed_skipping_files"] == 0
    got = sorted((r.video_id, r.frame_idx, r.ok) for r in
                 spark.read.parquet(f"{out}/frames").collect())
    exp = sorted((r.video_id, r.frame_idx, r.ok) for r in
                 spark.read.parquet(f"{ref_out}/frames").collect())
    assert got == exp
    assert ("badv", None, False) in got


def test_frame_sample_under_structured_streaming(spark, tmp_path):
    """Incremental video ingestion: frame_sample is a stateless
    mapInPandas, so it composes with readStream unchanged — new video
    files arriving in a directory yield their frame rows per
    micro-batch, and the streamed union equals the batch result."""
    pdf = videos_pdf(6)
    inp = str(tmp_path / "vstream_in")
    sdf = spark.createDataFrame(pdf)
    sdf.filter("video_id < 'vid000000000003'").coalesce(1) \
        .write.mode("append").parquet(inp)
    sdf.filter("video_id >= 'vid000000000003'").coalesce(1) \
        .write.mode("append").parquet(inp)

    from esri_dump_spark.operators.multimodal import frame_sample
    stream = (spark.readStream.schema(sdf.schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    q = (frame_sample(stream, every_n=2, with_bytes=False)
         .writeStream.format("memory").queryName("vframes")
         .option("checkpointLocation", str(tmp_path / "vckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(120), "stream did not finish in 120s"
    finally:
        q.stop()

    got = sorted((r.video_id, r.frame_idx, r.phash_frame) for r in
                 spark.sql("SELECT video_id, frame_idx, phash_frame "
                           "FROM vframes").collect())
    exp = sorted((r.video_id, r.frame_idx, r.phash_frame) for r in
                 frame_sample(sdf, every_n=2, with_bytes=False)
                 .select("video_id", "frame_idx", "phash_frame")
                 .collect())
    assert len(got) > 0 and got == exp


def test_frame_sample_without_stats_skips_decode(spark):
    from esri_dump_spark.operators.multimodal import frame_sample
    pdf = videos_pdf(3)
    rows = frame_sample(spark.createDataFrame(pdf), every_n=1,
                        with_stats=False).collect()
    assert len(rows) == sum(video_n_frames(i) for i in range(3))
    assert all(r.ok and r.phash_frame is None for r in rows)
    # bytes still verbatim
    i0 = parse_avi(bytes(pdf["bytes"][0]))
    got0 = sorted((r for r in rows if r.video_id == pdf["video_id"][0]),
                  key=lambda r: r.frame_idx)
    assert [bytes(r.bytes) for r in got0] == i0.frames
