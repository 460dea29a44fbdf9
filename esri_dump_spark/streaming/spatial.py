"""Streaming spatial pipeline: the north-star PIP join applied to an
unbounded point/image stream.

The spatial join is stateless (broadcast cell index + per-batch Arrow
refine), so it composes directly with Structured Streaming: every
micro-batch flows through the identical plan the batch job uses, and
only the windowed per-polygon rollup is stateful (watermarked tumbling
window). This is the standard "enrich then aggregate" streaming shape —
nothing about the spatial operators needs to know it is streaming.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.spatial_join import DEFAULT_RES, point_in_polygon_join

__all__ = ["streaming_pip_counts"]


def streaming_pip_counts(points_stream: DataFrame, polygons: pd.DataFrame,
                         res: int = DEFAULT_RES, window: str = "1 hour",
                         watermark: str = "2 hours",
                         ts_col: str = "ts") -> DataFrame:
    """points stream (… lon, lat, ts) -> per-(polygon, window) counts.

    Stateless PIP enrich per micro-batch; stateful windowed count with
    a watermark bounding the state store. Works identically on a batch
    DataFrame (watermark skipped) — the batch twin is the oracle.
    """
    joined = point_in_polygon_join(points_stream, polygons, res=res)
    src = joined.withWatermark(ts_col, watermark) \
        if joined.isStreaming else joined
    return (src.groupBy(F.window(ts_col, window).alias("win"), "poly_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("window_start"), "poly_id", "n"))
