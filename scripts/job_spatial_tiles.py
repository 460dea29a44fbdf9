#!/usr/bin/env python
"""The north-star job as a spark-submit entry point: image table ->
point-in-polygon spatial join -> tile assignment -> per-(polygon, tile)
rollup, with per-partition lineage records and file-granularity
checkpoint-resume.

Run: scripts/submit.sh  (packages esri_dump_spark.zip via --py-files)
Args: [images_parquet] [output_dir] [run_id] [polygons_parquet]

With a 4th arg the polygons come from a parquet table
(poly_id, rings_json[, name]); without it, from the small fixture
polygon set. Either way ``point_in_polygon_join`` builds the cover
dimension on the driver and broadcasts it.

Resume model (Iceberg-manifest-like): the work unit is the input file
(files stay unsplit below spark.sql.files.maxPartitionBytes, so a
completed scan partition certifies all of its files). Each partition's
lineage row records the distinct files it processed; on restart with
the SAME run_id + output_dir, completed files are anti-joined away and
only the remainder is processed. Partial per-(poly, tile) counts are
APPENDED; the final assignment table is the sum over appended parts
(counts are re-aggregatable) — readers do
``groupBy(poly_id, tile_id).sum(n)``.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession
import pyspark.sql.functions as F


def run(spark: SparkSession, images_path: str, out_dir: str,
        run_id: str = "default", polygons_path: str | None = None) -> dict:
    from esri_dump_spark.operators.spatial_join import point_in_polygon_join
    from esri_dump_spark.operators.tiles import assign_tiles
    from esri_dump_spark.operators.lineage import run_resumable
    from esri_dump_spark.sources.fixtures import polygons_pdf

    imgs = (spark.read.parquet(images_path)
            .select("image_id", "lon", "lat")
            .withColumn("work_key", F.input_file_name()))

    def transform(pending):
        polys = (polygons_pdf() if polygons_path is None
                 else spark.read.parquet(polygons_path))
        joined = point_in_polygon_join(pending, polys, res=11)
        return assign_tiles(joined, z=13).groupBy(
            "poly_id", "tile_id").agg(F.count(F.lit(1)).alias("n"))

    # the crash-safety ordering (commit marker strictly after the sink
    # write; scan-side lineage) lives in run_resumable — shared with
    # job_video_frames.py, stated once
    return run_resumable(spark, imgs, transform, out_dir, run_id,
                         sink_name="assignments")


def main() -> None:
    images_path = sys.argv[1] if len(sys.argv) > 1 else None
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/esri_dump_spark_out"
    run_id = sys.argv[3] if len(sys.argv) > 3 else "default"
    polygons_path = sys.argv[4] if len(sys.argv) > 4 else None

    spark = SparkSession.builder.appName("esri-dump-spark-job").getOrCreate()
    if images_path is None:
        from esri_dump_spark.sources.fixtures import ensure_images_parquet
        images_path = ensure_images_parquet(100_000)
    print(run(spark, images_path, out_dir, run_id, polygons_path))
    spark.stop()


if __name__ == "__main__":
    main()
