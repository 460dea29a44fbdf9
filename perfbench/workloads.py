"""The benchmark's workloads. Each drives the public API of
``esri_dump_spark`` (and the spark-submit job in ``scripts/``):

* ``prepare``  cached fixtures and, unless ``with_oracle=False``, the
               cached oracle (untimed, once per seed and size);
* ``setup``    the per-session dimension build (part of ``setup_s``);
* ``rep``      one job of the closed loop (timed);
* ``rows``     the rep's output as sorted integer rows (untimed);
* ``layers``   per-layer metrics from stage-prefix actions and direct
               kernel calls (traced runs only).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

import oracle
from tracing import median, python_eval_metrics

# input sizes; "tiny" is the self-test's
SIZES = {
    "pip_tiles": {"full": {"points": 2_000_000}, "tiny": {"points": 20_000}},
    "parcels_join": {"full": {"points": 60_000, "parcels": 3_000},
                     "tiny": {"points": 10_000, "parcels": 60}},
    "extract": {"full": {"features": 16_000}, "tiny": {"features": 600}},
}
Z = 13              # tile zoom of the rollup
N_FILES = 16        # parquet parts per point table
PREFIX_REPS = 2     # repetitions of each stage-prefix action
KERNEL_SAMPLE = 200_000   # candidate rows the single-thread kernel runs


def _rollup(df):
    return df.groupBy("poly_id", "tile_id").agg(F.count(F.lit(1)).alias("n"))


def _records(polys: pd.DataFrame) -> list[dict]:
    return [{"poly_id": int(r.poly_id), "rings": json.loads(r.rings_json)}
            for r in polys.itertuples(index=False)]


def _prefix(tracer, name: str, build, probe: str):
    """Run a stage-prefix action PREFIX_REPS times. Returns (median
    seconds, output rows, the last aggregated DataFrame, whose executed
    plan holds the SQL metrics)."""
    times = []
    for _ in range(PREFIX_REPS):
        with tracer.span(f"prefix:{name}"):
            t = time.perf_counter()
            agg = build().agg(F.count(F.lit(1)).alias("rows"),
                              F.max(probe).alias("probe"))
            rows = agg.collect()[0]["rows"]
            times.append(time.perf_counter() - t)
    return median(times), int(rows), agg


def _kernel(tracer, cand, n_candidates: int, rings_of) -> tuple[float, int]:
    """Single-thread ``points_in_polygon`` over a seeded sample of at
    most KERNEL_SAMPLE rows of the candidate set ``cand`` (lon, lat,
    poly_id), one call per polygon. Returns (seconds scaled to the
    whole candidate set at the sample's ns per point x edge, point x
    edge evaluations of the whole set)."""
    from esri_dump_spark.kernels.rings import points_in_polygon

    def edges(pid) -> int:
        return sum(len(r) - 1 for r in rings_of(int(pid)))

    frac = min(1.0, KERNEL_SAMPLE / max(n_candidates, 1))
    sample = cand.select("lon", "lat", "poly_id").sample(
        fraction=frac, seed=0).toPandas()
    total = 0.0
    work = 0
    for pid, grp in sample.groupby("poly_id", sort=True):
        pts = grp[["lon", "lat"]].to_numpy(np.float64)
        rings = rings_of(int(pid))
        with tracer.span("rings.kernel"):
            t = time.perf_counter()
            points_in_polygon(pts, rings)
            total += time.perf_counter() - t
        work += len(pts) * edges(pid)
    per_poly = cand.groupBy("poly_id").count().toPandas()
    all_work = int(sum(n * edges(pid) for pid, n in per_poly.itertuples(
        index=False, name=None)))
    return total / max(work, 1) * all_work, all_work


def _join_layers(cores: int, t: dict, counts: dict, py: dict,
                 kernel: tuple[float, int]) -> dict:
    """Layer metrics shared by both joins, from cumulative prefix
    medians ``t`` (scan, cells, cover_join, refine, rollup)."""
    kernel_s, work = kernel
    refine_s = t["refine"] - t["cover_join"]
    return {
        "sources.scan_s": t["scan"],
        "cells.attach_s": t["cells"] - t["scan"],
        "spatial_join.cover_join_s": t["cover_join"] - t["cells"],
        "spatial_join.candidates": counts["candidates"],
        "spatial_join.candidates_per_point":
            counts["candidates"] / counts["points"],
        "spatial_join.refine_s": refine_s,
        "spatial_join.matched": counts["matched"],
        "spatial_join.refine_hit_ratio":
            counts["matched"] / max(counts["candidates"], 1),
        "spatial_join.python_rows_sent": py["rows_sent"],
        "spatial_join.python_bytes_sent": py["bytes_sent"],
        "spatial_join.python_init_s": py["init_s"],
        "rings.kernel_s": kernel_s,
        "rings.ns_per_point_edge": kernel_s * 1e9 / max(work, 1),
        "spatial_join.refine_overhead_share":
            1.0 - kernel_s / (refine_s * cores),
        "tiles.rollup_s": t["rollup"] - t["refine"],
        "tiles.groups": counts["groups"],
    }


class PipTiles:
    """North-star job: cached points -> point_in_polygon_join against
    the 24 bench polygons (driver-built dimension, library-default
    res) -> assign_tiles(z=13) -> per-(poly_id, tile_id) count."""

    name = "pip_tiles"

    def __init__(self, seed: int, size: str, cache: str, tmp: str):
        self.seed, self.cache = seed, cache
        self.n = SIZES[self.name][size]["points"]

    def prepare(self, spark, with_oracle: bool = True) -> None:
        from esri_dump_spark.sources.fixtures import (bench_polygons_pdf,
                                                      ensure_points_parquet)
        self.points = ensure_points_parquet(spark, self.n, seed=self.seed,
                                            n_files=N_FILES)
        self.polys = bench_polygons_pdf()
        if not with_oracle:
            return
        self.expected = oracle.cached(
            self.cache, f"pip_tiles-n{self.n}-s{self.seed}",
            lambda: oracle.pip_tile_rollup(self.points,
                                           _records(self.polys), Z, "id"))

    @property
    def input_rows(self) -> int:
        return self.n

    def setup(self, spark) -> None:
        from esri_dump_spark.operators.spatial_join import (DEFAULT_RES,
                                                            build_polygon_dim)
        self.dim = build_polygon_dim(self.polys, DEFAULT_RES)

    def _joined(self, spark):
        from esri_dump_spark.operators.spatial_join import (
            point_in_polygon_join)
        return point_in_polygon_join(spark.read.parquet(self.points),
                                     self.polys, dim=self.dim)

    def _job(self, spark):
        from esri_dump_spark.operators.tiles import assign_tiles
        return _rollup(assign_tiles(self._joined(spark), Z))

    def rep(self, spark):
        return self._job(spark).toPandas()

    def rows(self, spark, out) -> list[list[int]]:
        return sorted(map(list, out[["poly_id", "tile_id", "n"]]
                          .astype("int64").itertuples(index=False, name=None)))

    def layers(self, spark, tracer, cores: int) -> dict:
        from esri_dump_spark.operators.spatial_join import (DEFAULT_RES,
                                                            attach_cell,
                                                            build_polygon_dim)
        builds = []
        for _ in range(PREFIX_REPS):
            with tracer.span("spatial_join.cover_build"):
                t0 = time.perf_counter()
                cover_pdf, rings_by_pid = build_polygon_dim(self.polys,
                                                            DEFAULT_RES)
                builds.append(time.perf_counter() - t0)

        def pts():
            return spark.read.parquet(self.points)

        def cand():
            return attach_cell(pts(), res=DEFAULT_RES).join(
                F.broadcast(spark.createDataFrame(cover_pdf)), "cell")

        t, counts = {}, {"points": self.n}
        t["scan"], _, _ = _prefix(tracer, "scan", pts, "lon")
        t["cells"], _, _ = _prefix(
            tracer, "cells", lambda: attach_cell(pts(), res=DEFAULT_RES),
            "cell")
        t["cover_join"], counts["candidates"], _ = _prefix(
            tracer, "cover_join", cand, "poly_id")
        t["refine"], counts["matched"], refine_df = _prefix(
            tracer, "refine", lambda: self._joined(spark), "poly_id")
        t["rollup"], counts["groups"], _ = _prefix(
            tracer, "rollup", lambda: self._job(spark), "n")

        arrays = {pid: [np.asarray(r, np.float64) for r in rings]
                  for pid, rings in rings_by_pid.items()}
        out = _join_layers(cores, t, counts, python_eval_metrics(refine_df),
                           _kernel(tracer, cand(), counts["candidates"],
                                   arrays.__getitem__))
        out["spatial_join.cover_build_s"] = median(builds)
        out["spatial_join.cover_rows"] = len(cover_pdf)
        return out


class ParcelsJoin:
    """The spark-submit job shape: ``scripts/job_spatial_tiles.run``
    with a parcel polygons parquet, so the join runs through
    point_in_polygon_join_dist (executor-side cover, rings shipped per
    candidate) and the rollup is written through run_resumable (sink,
    lineage, commit marker) into a fresh directory each rep."""

    name = "parcels_join"
    RES = 11     # the resolution job_spatial_tiles joins parcels at

    def __init__(self, seed: int, size: str, cache: str, tmp: str):
        self.seed, self.cache, self.tmp = seed, cache, tmp
        self.n = SIZES[self.name][size]["points"]
        self.n_parcels = SIZES[self.name][size]["parcels"]
        self._reps = 0

    def _parcels_pdf(self) -> pd.DataFrame:
        """The first ``n_parcels`` polygon features with a geometry,
        skipping the i % 5 == 0 features that all sit in the hot box."""
        from esri_dump_spark.sources.feature_server import (
            SyntheticFeatureServer)
        srv = SyntheticFeatureServer(geometry_type="esriGeometryPolygon",
                                     seed=self.seed)
        rows, i = [], 0
        while len(rows) < self.n_parcels:
            g = srv.feature(i)["geometry"] if i % 5 else None
            if g is not None:
                rows.append({"poly_id": i, "name": f"parcel-{i}",
                             "rings_json": json.dumps(g["rings"])})
            i += 1
        return pd.DataFrame(rows)

    def prepare(self, spark, with_oracle: bool = True) -> None:
        from esri_dump_spark.sources.fixtures import (FIXTURE_CACHE,
                                                      ensure_points_parquet)
        tag = f"n{self.n}_s{self.seed}"
        self.images = os.path.join(FIXTURE_CACHE, f"bench_images_{tag}")
        if not os.path.exists(os.path.join(self.images, "_SUCCESS")):
            pts = ensure_points_parquet(spark, self.n, seed=self.seed,
                                        n_files=N_FILES)
            (spark.read.parquet(pts).withColumnRenamed("id", "image_id")
             .write.mode("overwrite").parquet(self.images))
        self.parcels = os.path.join(
            FIXTURE_CACHE, f"bench_parcels_p{self.n_parcels}_s{self.seed}"
            ".parquet")
        pdf = self._parcels_pdf()
        if not os.path.exists(self.parcels):
            tmp = self.parcels + f".{os.getpid()}.tmp"
            pdf.to_parquet(tmp, index=False)
            os.replace(tmp, self.parcels)
        self.rings = {int(r.poly_id): json.loads(r.rings_json)
                      for r in pdf.itertuples(index=False)}
        if not with_oracle:
            return
        self.expected = oracle.cached(
            self.cache, f"parcels_join-{tag}-p{self.n_parcels}",
            lambda: oracle.pip_tile_rollup(self.images, _records(pdf), Z,
                                           "image_id"))

    @property
    def input_rows(self) -> int:
        return self.n

    def setup(self, spark) -> None:
        """Nothing to build: the job covers the parcels on the
        executors in every run."""

    def rep(self, spark):
        import job_spatial_tiles
        self._reps += 1
        out_dir = os.path.join(self.tmp, f"parcels-out-{self._reps}")
        result = job_spatial_tiles.run(spark, self.images, out_dir,
                                       f"bench-{self._reps}", self.parcels)
        return out_dir, result

    def rows(self, spark, out) -> list[list[int]]:
        """Rows read back from the sink. Raises when the commit marker
        or the job's own row count disagrees with the sink."""
        out_dir, result = out
        try:
            markers = [f for f in os.listdir(f"{out_dir}/_lineage")
                       if f.startswith("committed-")]
            got = (spark.read.parquet(f"{out_dir}/assignments")
                   .groupBy("poly_id", "tile_id")
                   .agg(F.sum("n").alias("n")).toPandas())
        finally:
            self.bytes_written = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(out_dir) for f in fs)
            shutil.rmtree(out_dir, ignore_errors=True)
        if len(markers) != 1 or result["metrics"]["n_rows"] != len(got):
            raise RuntimeError(f"sink/commit mismatch in {out_dir}: "
                               f"{markers}, {result}")
        return sorted(map(list, got.astype("int64")
                          .itertuples(index=False, name=None)))

    def layers(self, spark, tracer, cores: int) -> dict:
        from esri_dump_spark.kernels.rings import close_ring
        from esri_dump_spark.operators.spatial_join import (
            attach_cell, point_in_polygon_join_dist, polygon_cover_df)
        from esri_dump_spark.operators.tiles import assign_tiles

        res = self.RES

        def imgs():
            return spark.read.parquet(self.images).select("image_id", "lon",
                                                          "lat")

        def polys():
            return spark.read.parquet(self.parcels)

        def cand():
            return attach_cell(imgs(), res=res).join(
                polygon_cover_df(polys(), res), "cell")

        def joined():
            return point_in_polygon_join_dist(imgs(), polys(), res=res,
                                              id_col="image_id")

        # the job builds the cover on the executors inside its join, so
        # cover_join_s includes that build; cover_build_s is the build
        # alone
        t, counts = {}, {"points": self.n}
        cover_s, cover_rows, _ = _prefix(
            tracer, "cover_build", lambda: polygon_cover_df(polys(), res),
            "cell")
        t["scan"], _, _ = _prefix(tracer, "scan", imgs, "lon")
        t["cells"], _, _ = _prefix(
            tracer, "cells", lambda: attach_cell(imgs(), res=res), "cell")
        t["cover_join"], counts["candidates"], _ = _prefix(
            tracer, "cover_join", cand, "poly_id")
        t["refine"], counts["matched"], refine_df = _prefix(
            tracer, "refine", joined, "poly_id")
        t["rollup"], counts["groups"], _ = _prefix(
            tracer, "rollup", lambda: _rollup(assign_tiles(joined(), Z)),
            "n")

        sink = []
        for _ in range(PREFIX_REPS):
            with tracer.span("prefix:sink"):
                t0 = time.perf_counter()
                out = self.rep(spark)
                sink.append(time.perf_counter() - t0)
            self.rows(spark, out)

        arrays = {pid: [close_ring(np.asarray(r, np.float64)) for r in rings]
                  for pid, rings in self.rings.items()}
        out = _join_layers(cores, t, counts, python_eval_metrics(refine_df),
                           _kernel(tracer, cand(), counts["candidates"],
                                   arrays.__getitem__))
        out["spatial_join.cover_build_s"] = cover_s
        out["spatial_join.cover_rows"] = cover_rows
        out["lineage.sink_s"] = median(sink) - t["rollup"]
        out["lineage.bytes_written"] = self.bytes_written
        return out


def _extract_rollup(df):
    """n_rows, sum_id, n_polygon, n_multipolygon, sum_geojson_len over
    the complete GeoJSON output."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id").alias("sum_id"),
        F.sum(F.when(F.col("geom_type") == "Polygon", 1).otherwise(0))
        .alias("n_polygon"),
        F.sum(F.when(F.col("geom_type") == "MultiPolygon", 1).otherwise(0))
        .alias("n_multipolygon"),
        F.sum(F.length("geojson")).alias("sum_geojson_len"))


class Extract:
    """The reference's own job: paged extraction of a synthetic polygon
    FeatureServer layer to GeoJSON rows (approach='iter')."""

    name = "extract"

    def __init__(self, seed: int, size: str, cache: str, tmp: str):
        self.seed, self.cache = seed, cache
        self.n = SIZES[self.name][size]["features"]

    def prepare(self, spark, with_oracle: bool = True) -> None:
        from esri_dump_spark.sources.feature_server import (
            SyntheticFeatureServer)
        self.server = SyntheticFeatureServer(
            n_features=self.n, geometry_type="esriGeometryPolygon",
            seed=self.seed)
        if not with_oracle:
            return
        self.expected = oracle.cached(
            self.cache, f"extract-n{self.n}-s{self.seed}",
            lambda: oracle.extract_rollup(self.server))

    @property
    def input_rows(self) -> int:
        return self.n

    def setup(self, spark) -> None:
        """Nothing to build: extract() plans its page manifest per run."""

    def rep(self, spark):
        from esri_dump_spark.operators.extract import extract
        return _extract_rollup(extract(spark, self.server,
                                       approach="iter")).collect()

    def rows(self, spark, out) -> list[list[int]]:
        return [[int(v) for v in r] for r in out]

    def layers(self, spark, tracer, cores: int) -> dict:
        page_s, pages = [], []
        size = self.server.max_record_count
        for off in range(0, self.n, size):
            with tracer.span("feature_server.page"):
                t0 = time.perf_counter()
                pages.append(self.server.query_page(off))
                page_s.append(time.perf_counter() - t0)

        # extract()'s own per-feature decode (rings_to_geojson, rewind,
        # JSON) over the fetched pages, single thread
        with tracer.span("extract.decode"):
            t0 = time.perf_counter()
            for _ in oracle.decode_all(self.server,
                                       (f for p in pages for f in p)):
                pass
            decode_s = time.perf_counter() - t0

        spark_s = []
        for _ in range(PREFIX_REPS):
            with tracer.span("extract.spark"):
                t0 = time.perf_counter()
                rows_out = self.rows(spark, self.rep(spark))[0][0]
                spark_s.append(time.perf_counter() - t0)
        spark_med = median(spark_s)
        return {
            "feature_server.page_ms_p50":
                statistics.median(page_s) * 1000.0,
            "extract.decode_s": decode_s,
            "extract.spark_s": spark_med,
            "extract.rows_out": rows_out,
            "extract.overhead_share":
                1.0 - (sum(page_s) + decode_s) / (spark_med * cores),
        }


# BENCHMARK.json lists pip_tiles and extract; parcels_join runs with
# --workload parcels_join, and its layers are in every traced run
WORKLOADS = {w.name: w for w in (PipTiles, ParcelsJoin, Extract)}
