"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship spatial-join pipeline at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2),
read from the ``REGISTRY`` table.
``oracle_sql()`` — DuckDB-runnable ANSI-SQL twins for every SQL-
expressible query; non-SQL operators (LSH pairs, image decode,
synthetic-server extraction) are rows-only checked by design.

Spatial oracles: coordinates are DERIVED deterministically from
integer keys with exact integer arithmetic (functions/geo_sql.py), and
the point-in-polygon oracle is the reference ray-cast UNROLLED into
CASE WHEN SQL — so Spark runs the engine's pandas-UDF kernel while
DuckDB runs an independent literal transcription of the same
predicate.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esri_dump_spark.functions.geo_sql import derived_lonlat_sql, raycast_sql
from esri_dump_spark.kernels.cells import cell_sql_expr
from esri_dump_spark.operators import text as X
from esri_dump_spark.operators import dedup as D
from esri_dump_spark.operators import ann as A
from esri_dump_spark.operators import sample as SM
from esri_dump_spark.operators.lm import (bigram_lm_score_oracle_sql,
                                          corpus_diversity_oracle_sql,
                                          zipf_topk_oracle_sql)
from esri_dump_spark.operators.search import (bm25_topk_oracle_sql,
                                              rrf_weight_sql)
from esri_dump_spark.operators.winnow import winnow_fingerprints_sql
from esri_dump_spark.operators.sketch import (hll_events_oracle_sql,
                                              cm_words_oracle_sql,
                                              bloom_decon_oracle_sql)
from esri_dump_spark.operators.hist import (hist_orders_oracle_sql,
                                            winsorize_orders_oracle_sql)
from esri_dump_spark.operators.profile import (
    moment_docs_oracle_sql, rank_normalize_docs_oracle_sql)
from esri_dump_spark.operators.skew import skew_report_oracle_sql
from esri_dump_spark.operators.dedup import dedup_incremental_oracle_sql
from esri_dump_spark.operators.text import (dup_ngram_stats_oracle_sql,
                                            gopher_gate_oracle_sql)
from esri_dump_spark.operators.spatial_join import point_in_polygon_join
from esri_dump_spark.operators.knn import knn_join
from esri_dump_spark.operators.tiles import tile_id_sql_expr

SF_DEFAULT = "/root/testdata/sf0.001"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- spatial
# fixed test polygons; vertices off the 0.01-degree derived-coordinate
# grid so no point ever sits exactly on an edge
RECT_RING = [[-12.0050, -9.0050], [-12.0050, 9.0050], [12.0050, 9.0050],
             [12.0050, -9.0050], [-12.0050, -9.0050]]
DIAMOND_RING = [[0.0050, -11.0050], [14.0050, 0.0050], [0.0050, 11.0050],
                [-14.0050, 0.0050], [0.0050, -11.0050]]

# derived coordinates: global window for cells/tiles, +-20 x +-15 window
# for the PIP polygons
_LON_G, _LAT_G = derived_lonlat_sql("o_orderkey")
_CLON, _CLAT = derived_lonlat_sql("c_custkey", 4000, 3000, -20.0, -15.0)


def _pip_points(spark, sf_dir):
    return _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey", f"{_CLON} AS lon", f"{_CLAT} AS lat")


def _poly_pdf(name: str, ring):
    import json
    import pandas as pd
    return pd.DataFrame({"poly_id": [0], "name": [name],
                         "rings_json": [json.dumps([ring])]})


def _rect_diamond_pdf():
    """The two-polygon set (rect id 0, diamond id 1) of pip_multi,
    pip_anti and entry()."""
    import json
    import pandas as pd
    return pd.DataFrame({
        "poly_id": [0, 1], "name": ["rect", "diamond"],
        "rings_json": [json.dumps([RECT_RING]), json.dumps([DIAMOND_RING])]})


# ---------------------------------------------------------------- queries

def q_count_probe(spark, sf_dir):
    """A1: count probe."""
    return _t(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"))


def q_dedup_first_event(spark, sf_dir):
    """A2: distinct-by-key dedup, deterministic first-pick."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type",
                    F.col("event_id").alias("first_event")))


def q_where_pushdown(spark, sf_dir):
    """P4: predicate passthrough -> parquet pushdown."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_quantity") > 45) & (F.col("l_discount") < 0.02))
            .select("l_orderkey", "l_linenumber", "l_quantity"))


def q_agg_pricing(spark, sf_dir):
    """TPC-H Q1-style aggregate (map-side partials via hash agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order")))


def q_join_broadcast(spark, sf_dir):
    """Broadcast-dim star join: revenue per region."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy(F.col("r_name").alias("region_name"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


def q_topk_window(spark, sf_dir):
    """W1: per-group top-k via window row_number."""
    from pyspark.sql import Window
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (o.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice"))


def q_date_iso(spark, sf_dir):
    """F1: epoch->ISO-8601 with milliseconds (JS toISOString parity)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.orderBy("event_id").limit(500)
            .select("event_id",
                    F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
                    .alias("ts_iso")))


def q_union_distinct(spark, sf_dir):
    """A3+A2: page-set union + distinct."""
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 9000).select("c_nationkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    return a.unionByName(b).distinct()


def q_class_breaks(spark, sf_dir):
    """F7 step/classBreaks -> CASE WHEN chain (stylejson compiler)."""
    p = _t(spark, sf_dir, "part")
    bucket = (F.when(F.col("p_size") < 10, "small")
              .when(F.col("p_size") < 25, "medium")
              .when(F.col("p_size") < 40, "large")
              .otherwise("huge"))
    return (p.withColumn("size_class", bucket)
            .groupBy("size_class")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("p_retailprice"), 4).alias("avg_price")))


def q_match_expr(spark, sf_dir):
    """F7 match/uniqueValue -> CASE WHEN with fallback."""
    p = _t(spark, sf_dir, "part")
    color = (F.when(F.col("p_brand") == "Brand#11", "red")
             .when(F.col("p_brand") == "Brand#22", "green")
             .when(F.col("p_brand") == "Brand#33", "blue")
             .otherwise("gray"))
    return (p.withColumn("render_color", color)
            .groupBy("render_color").agg(F.count(F.lit(1)).alias("n")))


def q_concat_key(spark, sf_dir):
    """F2: multi-field uniqueValue key via concat_ws."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .withColumn("uv_key", F.concat_ws("|", "c_mktsegment", "n_name"))
            .groupBy("uv_key").agg(F.count(F.lit(1)).alias("n")))


def q_scale_zoom(spark, sf_dir):
    """F5: scale->zoom conversion, log2-based."""
    o = _t(spark, sf_dir, "orders")
    return (o.orderBy("o_orderkey").limit(1000)
            .select("o_orderkey",
                    F.round(F.log2(F.lit(559082264.0) / F.col("o_totalprice")), 2)
                    .alias("zoom")))


def q_extent_minmax(spark, sf_dir):
    """A4: extent fold over derived coordinates."""
    c = _t(spark, sf_dir, "customer")
    pts = c.selectExpr(f"{_CLON} AS lon", f"{_CLAT} AS lat")
    return pts.agg(F.round(F.min("lon"), 6).alias("xmin"),
                   F.round(F.min("lat"), 6).alias("ymin"),
                   F.round(F.max("lon"), 6).alias("xmax"),
                   F.round(F.max("lat"), 6).alias("ymax"))


def q_cell_assign(spark, sf_dir):
    """F10: JVM-side cell encode + per-cell histogram (A7)."""
    o = _t(spark, sf_dir, "orders")
    pts = o.selectExpr("o_orderkey", f"{_LON_G} AS lon", f"{_LAT_G} AS lat")
    return (pts.withColumn("cell", F.expr(cell_sql_expr("lon", "lat", 5)))
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n")))


def q_tile_assign(spark, sf_dir):
    """J4: slippy tile id assignment + per-tile histogram."""
    o = _t(spark, sf_dir, "orders")
    pts = o.selectExpr("o_orderkey", f"{_LON_G} AS lon", f"{_LAT_G} AS lat")
    return (pts.withColumn("tile_id", F.expr(tile_id_sql_expr("lon", "lat", 7)))
            .groupBy("tile_id").agg(F.count(F.lit(1)).alias("n")))


def q_polygon_stats(spark, sf_dir):
    """F11: per-polygon geometry stats (ring count, vertex count,
    signed shoelace area) parsed and folded from rings_json with JVM
    higher-order functions only — zero Python; the cheap-metadata path
    for warehouse-scale polygon tables. Oracle recomputes the same
    folds over CAST(rings_json AS DOUBLE[][][]) in DuckDB."""
    import pandas as pd
    from esri_dump_spark.functions.geometry import with_polygon_stats
    from esri_dump_spark.sources.fixtures import (polygons_pdf,
                                                  polygons_pdf_b)
    a = polygons_pdf()[["poly_id", "rings_json"]]
    b = polygons_pdf_b()[["poly_id", "rings_json"]].assign(
        poly_id=lambda d: d.poly_id + 100)
    pdf = pd.concat([a, b], ignore_index=True)
    df = spark.createDataFrame(pdf)
    return with_polygon_stats(df).select(
        "poly_id", "n_rings", "n_vertices", "area_r")


def q_tile_pyramid(spark, sf_dir):
    """J4/A7: hierarchical tile-pyramid rollup — per-tile counts at
    every zoom 8 down to 4 in one DataFrame. The leaf aggregation is
    the only input-sized shuffle; each coarser level aggregates the
    previous level's output (pure integer parent arithmetic, exchange
    reuse collapses the union's shared lineage). Oracle: closed-form
    recomputation from the leaf (x >> d, y >> d per level)."""
    from esri_dump_spark.operators.tiles import tile_pyramid_rollup
    o = _t(spark, sf_dir, "orders")
    pts = o.selectExpr(f"{_LON_G} AS lon", f"{_LAT_G} AS lat")
    leaf = pts.withColumn("tile_id", F.expr(tile_id_sql_expr("lon", "lat", 8)))
    return tile_pyramid_rollup(leaf, z_leaf=8, z_top=4)


def q_pip_rect(spark, sf_dir):
    """J2: PIP spatial join (cell broadcast + exact ray-cast refine)."""
    pts = _pip_points(spark, sf_dir)
    out = point_in_polygon_join(pts, _poly_pdf("rect", RECT_RING), res=8)
    return out.select("c_custkey").orderBy("c_custkey")


def q_pip_rect_dist(spark, sf_dir):
    """J2 with the polygon table given as a Spark DataFrame (as read
    from a parquet polygon table) rather than pandas: the join collects
    it once and takes the same driver-built cover path. Must equal the
    pip_rect oracle exactly."""
    pts = _pip_points(spark, sf_dir)
    polys = spark.createDataFrame(_poly_pdf("rect", RECT_RING))
    out = point_in_polygon_join(pts, polys, res=8)
    return out.select("c_custkey").orderBy("c_custkey")


def q_pip_diamond(spark, sf_dir):
    """J2 (non-rectangular): exact even-odd refine on a rotated hull."""
    pts = _pip_points(spark, sf_dir)
    out = point_in_polygon_join(pts, _poly_pdf("diamond", DIAMOND_RING), res=8)
    return out.select("c_custkey").orderBy("c_custkey")


# CCW hole inside the rectangle (ESRI convention; vertices off-grid)
HOLE_RING = [[-5.0050, -4.0050], [5.0050, -4.0050], [5.0050, 4.0050],
             [-5.0050, 4.0050], [-5.0050, -4.0050]]


def q_pip_hole(spark, sf_dir):
    """J2 multi-ring: polygon with a hole — even-odd across rings
    (inside shell XOR inside hole); exercises the exact hole semantics
    of the reference assembly in the join predicate."""
    pts = _pip_points(spark, sf_dir)
    import json
    import pandas as pd
    polys = pd.DataFrame({"poly_id": [0], "name": ["rect_holed"],
                          "rings_json": [json.dumps([RECT_RING, HOLE_RING])]})
    out = point_in_polygon_join(pts, polys, res=8)
    return out.select("c_custkey").orderBy("c_custkey")


def q_pip_multi(spark, sf_dir):
    """J2 multi-polygon: one output row per (point, matching polygon) —
    points inside both polygons appear twice with distinct poly_ids."""
    pts = _pip_points(spark, sf_dir)
    out = point_in_polygon_join(pts, _rect_diamond_pdf(), res=8)
    return out.select("c_custkey", "poly_id")


def q_pip_anti(spark, sf_dir):
    """J5: anti-join — points inside neither polygon."""
    pts = _pip_points(spark, sf_dir)
    out = point_in_polygon_join(pts, _rect_diamond_pdf(), res=8,
                                how="left_anti", id_col="c_custkey")
    return out.select("c_custkey")


def q_poly_intersect_join(spark, sf_dir):
    """J6: distributed polygon x polygon intersects join over the two
    designed fixture sets (crossings, containment both directions,
    inside-a-hole disjointness). Covers are built executor-side
    (mapInPandas), the candidate join carries slim (cell, id) rows
    only, and the refine is the exact even-odd polygons_intersect
    predicate. Oracle: pure-SQL edge tables + the parametric segment
    intersection + crossing-parity containment
    (functions.geo_sql.polygon_intersects_oracle_sql)."""
    from esri_dump_spark.operators.spatial_join import (
        polygon_intersects_join)
    from esri_dump_spark.sources.fixtures import (polygons_pdf,
                                                  polygons_pdf_b)
    la = spark.createDataFrame(polygons_pdf()[["poly_id", "rings_json"]])
    lb = spark.createDataFrame(polygons_pdf_b()[["poly_id", "rings_json"]])
    return polygon_intersects_join(la, lb, res=9)


def q_poly_intersect_anti(spark, sf_dir):
    """J6 anti variant: left polygons intersecting NO right polygon —
    includes the even-odd subtleties (the polygon sitting inside a
    right-side hole counts as non-intersecting)."""
    from esri_dump_spark.operators.spatial_join import (
        polygon_intersects_join)
    from esri_dump_spark.sources.fixtures import (polygons_pdf,
                                                  polygons_pdf_b)
    la = spark.createDataFrame(polygons_pdf()[["poly_id", "rings_json"]])
    lb = spark.createDataFrame(polygons_pdf_b()[["poly_id", "rings_json"]])
    return polygon_intersects_join(la, lb, res=9,
                                   how="left_anti").select("poly_id")


def q_knn_geo(spark, sf_dir):
    """J3: cell-bucketed kNN (grid-disk candidates + window top-k)."""
    pts = _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS point_id", f"{_CLON} AS lon", f"{_CLAT} AS lat")
    queries = (pts.orderBy("point_id").limit(20)
               .selectExpr("point_id AS query_id", "lon", "lat"))
    out = knn_join(queries, pts, k=5, res=4, broadcast_points=True)
    # exclude self-match rank 1 noise: keep ids + rank (dist rounded)
    return out.select("query_id", "point_id", "rank",
                      F.round("dist", 6).alias("dist_r"))


def q_knn_geo_shuffle(spark, sf_dir):
    """J3 without the broadcast hint: AQE picks the join strategy from
    runtime sizes (shuffle join at scale, broadcast at test scale) —
    results must be identical to the hinted knn_geo either way."""
    pts = _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS point_id", f"{_CLON} AS lon", f"{_CLAT} AS lat")
    queries = (pts.orderBy("point_id").limit(20)
               .selectExpr("point_id AS query_id", "lon", "lat"))
    out = knn_join(queries, pts, k=5, res=4, broadcast_points=False)
    return out.select("query_id", "point_id", "rank",
                      F.round("dist", 6).alias("dist_r"))


def q_knn_geo_sparse(spark, sf_dir):
    """J3 correctness bound: a sparse point set where the res-9 3x3
    grid disk holds fewer than k candidates — the escalation loop
    (safe-radius check + coarser re-run of stragglers) must still
    reproduce the brute-force oracle exactly."""
    pts = _t(spark, sf_dir, "customer") \
        .filter(F.expr("c_custkey % 37 = 0")).selectExpr(
            "c_custkey AS point_id", f"{_CLON} AS lon", f"{_CLAT} AS lat")
    queries = (pts.orderBy("point_id").limit(10)
               .selectExpr("point_id AS query_id", "lon", "lat"))
    out = knn_join(queries, pts, k=5, res=9, broadcast_points=True)
    return out.select("query_id", "point_id", "rank",
                      F.round("dist", 6).alias("dist_r"))


def q_radius_geo(spark, sf_dir):
    """J7b: exact within-distance join — one-pass grid-disk candidates
    (finest res whose disk covers the radius) + exact distance filter.
    No window, no dedup: each qualifying pair is produced exactly once
    because a point occupies one cell and the exploded disk is
    distinct."""
    from esri_dump_spark.operators.knn import radius_join
    pts = _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS point_id", f"{_CLON} AS lon", f"{_CLAT} AS lat")
    queries = (pts.orderBy("point_id").limit(30)
               .selectExpr("point_id AS query_id", "lon", "lat"))
    out = radius_join(queries, pts, radius=2.0, broadcast_points=True)
    return out.select("query_id", "point_id",
                      F.round("dist", 6).alias("dist_r"))


def q_running_total(spark, sf_dir):
    """Window running sum: cumulative revenue per customer by order."""
    from pyspark.sql import Window
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey") \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (o.withColumn("cum_spend", F.round(F.sum("o_totalprice").over(w), 2))
            .select("o_custkey", "o_orderkey", "cum_spend"))


def q_value_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per event type (JVM percentile)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
                 F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
                 F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99")))


def q_token_count(spark, sf_dir):
    """Text: BPE-ish token counting (JVM regexp)."""
    docs = _t(spark, sf_dir, "documents")
    return X.token_count(docs).select("doc_id", "n_tokens")


def q_quality_score(spark, sf_dir):
    """Text: length/punct/stopword quality heuristics."""
    docs = _t(spark, sf_dir, "documents")
    return X.quality_score(docs).select(
        "doc_id", "n_chars_t", "n_words", "punct_ratio", "stop_ratio",
        "quality")


def q_repetition(spark, sf_dir):
    """Text: Gopher-style repetition signals (dup line/word fractions,
    top-word fraction) — boilerplate/looped-generation filter inputs,
    all in whole-stage codegen."""
    docs = _t(spark, sf_dir, "documents")
    return X.repetition_signals(docs).select(
        "doc_id", "n_lines", "dup_line_frac", "dup_word_frac",
        "top_word_frac")


def q_redact_pii(spark, sf_dir):
    """Text: PII scrub. The fixture corpus has no PII, so the query
    synthesizes a deterministic email/IP/phone per doc from doc_id —
    identically in both engines — then redacts; counts prove every
    planted item was seen exactly once."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("concat(text, ' contact u', doc_id, '@example.com"
               " from 10.0.', doc_id % 256, '.7 call 555-01',"
               " doc_id % 10)").alias("text"))
    return X.redact_pii(docs).select(
        "doc_id", "n_email", "n_ip", "n_phone", "redacted")


def q_chunk_text(spark, sf_dir):
    """Text: fixed-width chunk explode (120 chars) — training-prep
    example splitting, map-side only."""
    docs = _t(spark, sf_dir, "documents")
    return X.chunk_text(docs, "doc_id", "text", chunk_chars=120)


def q_chunk_overlap(spark, sf_dir):
    """Text: RAG-style OVERLAPPING windows (120 chars, stride 80 —
    consecutive chunks share 40 chars); window count is the minimal
    set whose last window reaches the end, all integer arithmetic,
    map-side explode only."""
    docs = _t(spark, sf_dir, "documents")
    return X.chunk_text(docs, "doc_id", "text", chunk_chars=120,
                        stride=80)


def q_line_dedup(spark, sf_dir):
    """Text: cross-document boilerplate line scrub (the RefinedWeb /
    CCNet exact line-dedup pass) over a deterministically
    line-structured view of `documents` — the fixture corpus has no
    newlines, so each text is tiled into 40-char windows joined by
    newline FIRST (pure map-side on both engines; 161 windows repeat
    across docs at sf0.01). Per-doc output: md5 digest of the
    rewritten text + kept/removed counts. Lines repeated only WITHIN
    one doc survive (cross-doc threshold counts distinct docs)."""
    from esri_dump_spark.operators.text import line_dedup
    docs = _t(spark, sf_dir, "documents").filter("length(text) > 0")
    structured = docs.select(
        "doc_id",
        F.expr("array_join(transform("
               "sequence(1, CAST(ceil(length(text)/40.0) AS INT)),"
               " i -> substring(text, (i-1)*40+1, 40)), '\\n')"
               ).alias("text"))
    out = line_dedup(structured, "doc_id", min_docs=2)
    return out.select("doc_id",
                      F.md5(F.col("text_dedup")).alias("dedup_md5"),
                      "n_lines", "n_removed")


def q_top_quality(spark, sf_dir):
    """Selection: keep the top 20% of documents per language by a
    weighted COMPOSITE score, 10*quality + stop_ratio (quality alone
    has only 4 distinct values, so stop_ratio spreads the ties; it is
    a weighted blend, NOT a strict lexicographic order — a stop_ratio
    above the 10/3 quality step can outrank, which is fine: both
    engines compute the identical IEEE double). The cut is
    all-integer (rank * 100 <= 20 * group_count), ties by doc_id."""
    from esri_dump_spark.operators.sample import top_percent
    docs = X.quality_score(_t(spark, sf_dir, "documents"))
    scored = docs.withColumn(
        "_score", F.col("quality") * 10 + F.col("stop_ratio"))
    out = top_percent(scored, "_score", 20, "doc_id", by="lang")
    return out.select("doc_id", "lang", "quality")


def q_lang_id(spark, sf_dir):
    """Text: marker-word language ID + per-language counts."""
    docs = _t(spark, sf_dir, "documents")
    return (X.language_id(docs).groupBy("lang_pred")
            .agg(F.count(F.lit(1)).alias("n")))


def q_fingerprint(spark, sf_dir):
    """Text: normalized SHA-256 prefix fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    return (X.fingerprint(docs).orderBy("doc_id").limit(500)
            .select("doc_id", "fp"))


_BM25_TERMS = ["spark", "vector", "merge"]


def q_bm25_topk(spark, sf_dir):
    """Lexical retrieval: Okapi BM25 top-12 for a 3-term query over
    the documents table — the sparse/lexical half of the similarity
    family (ANN in operators/ann.py is the dense half). One regexp
    tokenization per document (single aggregate fold), corpus stats
    as ONE broadcast row, TakeOrderedAndProject top-k — no global
    sort, no text past the scan."""
    from esri_dump_spark.operators.search import bm25_topk
    return bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS, k=12)


_LM_MIN_COUNT = 20   # documents' bigram counts span 1..~50; 20 makes
#                      rare_bigrams discriminative instead of all-zero


def q_lm_typicality(spark, sf_dir):
    """Corpus bigram-LM typicality scoring (the CCNet-style quality
    filter's driver-gradeable face): per-document integer bigram
    statistics over md5-u60 hashed gram keys (fixed-width shuffles,
    twin recomputes identical keys) plus ONE ints-below-2^53 IEEE
    division — bit-exact cross-engine with no rounding defense, the
    quantized-cosine construction. True add-one perplexity lives in
    operators/lm.py:bigram_perplexity (pytest-pinned, deliberately
    un-twinned — ln sums are not bit-stable)."""
    from esri_dump_spark.operators.lm import bigram_lm_score
    return bigram_lm_score(_t(spark, sf_dir, "documents"),
                           min_count=_LM_MIN_COUNT)


_BPE_MERGES = 20     # merge-table size for the BPE queries


def q_bpe_merges(spark, sf_dir):
    """BPE vocabulary induction (Sennrich ACL'16) over the documents
    corpus: the learned merge table (rank, left, right, pair_count).
    ROWS-ONLY BY DESIGN: merge k's argmax depends on the table merges
    1..k-1 produced — the repo's canonical iterative algorithm, the
    class CLAUDE.md exempts from DuckDB twinning. Its exact oracle is
    the pure-Python reference BPE in tests/test_bpe.py (argmax ties
    broken by count DESC, left ASC, right ASC — a total order, so the
    table is layout-invariant, also pytest-pinned). The corpus is
    touched ONCE (word-count aggregate); every merge round is
    vocab-sized."""
    from esri_dump_spark.operators.bpe import bpe_merges_df, bpe_train
    merges = bpe_train(_t(spark, sf_dir, "documents"),
                       num_merges=_BPE_MERGES)
    return bpe_merges_df(spark, merges)


def q_bpe_stats(spark, sf_dir):
    """Per-document piece statistics under the learned BPE merge
    table (n_words, n_pieces, pieces_per_word). ROWS-ONLY BY DESIGN
    for the same reason as bpe_merges (the merge table it applies is
    the iterative artifact); encode correctness is pytest-pinned
    against the reference encoder. Python touches ONLY the distinct
    word table (one vocab-sized mapInPandas, plan-asserted); the
    corpus meets the result through one join + rollup."""
    from esri_dump_spark.operators.bpe import bpe_piece_counts, bpe_train
    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=_BPE_MERGES)
    return bpe_piece_counts(docs, merges)


_HYBRID_QVEC = 7     # query embedding = vec_id 7 (doc_id-aligned ids)
_HYBRID_K_EACH = 20  # per-channel candidate depth before fusion


def q_hybrid_retrieval(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the sparse channel
    (BM25 over documents.text) and the dense channel (exact cosine
    over embeddings), k-bounded lists full-outer folded with the
    shared CAST(1 AS DOUBLE)/(c+rank) weight — the fused score depends
    only on integer ranks, so the twin is exact by construction."""
    from esri_dump_spark.operators.ann import cosine_topk
    from esri_dump_spark.operators.search import bm25_topk, rrf_fuse
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    sparse = (bm25_topk(docs, _BM25_TERMS, k=_HYBRID_K_EACH)
              .select("doc_id", "rank"))
    qv = (emb.filter(F.col("vec_id") == _HYBRID_QVEC)
          .select(F.col("vec_id").alias("query_id"), "embedding"))
    dense = (cosine_topk(qv, emb, k=_HYBRID_K_EACH)
             .select(F.col("vec_id").alias("doc_id"), "rank"))
    return rrf_fuse([sparse, dense], k=10)


def q_exact_dedup(spark, sf_dir):
    """Exact content dedup: survivor count (min-id representative)."""
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup_by_hash(docs, "text", "doc_id").agg(
        F.count(F.lit(1)).alias("n_unique"))


def q_ann_cosine(spark, sf_dir):
    """ANN baseline: exact cosine top-k via built-in expressions."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.orderBy("vec_id").limit(3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = A.cosine_topk(queries, emb, k=5)
    # + 0.0: cosine is the one rounded twin column whose domain spans
    # zero — a near-orthogonal neighbor rounding to -0.0 would split
    # the engines (BigDecimal vs IEEE; CLAUDE.md signed-zero invariant)
    return out.select("query_id", "vec_id", "rank",
                      (F.round("cosine", 4) + F.lit(0.0)).alias("cosine_r"))


def q_embedding_norms(spark, sf_dir):
    """Vector column math JVM-side (aggregate fold)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (emb.orderBy("vec_id").limit(1000)
            .selectExpr("vec_id",
                        "round(sqrt(aggregate(embedding, 0D, "
                        "(acc, v) -> acc + CAST(v AS DOUBLE) * v)), 4) AS l2"))


def q_events_hourly(spark, sf_dir):
    """Event-time tumbling window aggregate (streaming-shaped, run as
    batch; the Structured Streaming variant shares the expression)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3-style: join + agg + order + limit (top-10 revenue of
    unshipped BUILDING orders)."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
            .limit(10))


def q_supplier_volume(spark, sf_dir):
    """TPC-H Q5-style: multi-way star join, revenue by supplier nation
    within one region."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


def q_ngram_jaccard(spark, sf_dir):
    """Dedup: exact word-3-gram Jaccard pairs, JVM expressions only."""
    docs = _t(spark, sf_dir, "documents")
    out = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard_r"))


def q_ngram_jaccard_capped(spark, sf_dir):
    """Dedup scale path: gram max-df cap (10 — genuinely pruning on
    this corpus, ~2.7x less join work) bounds the candidate self-join
    at O(max_df^2) per gram. Surviving pairs are pre-filtered by a
    LOSSLESS upper bound (shared <= shared_rare + min(hot_a, hot_b));
    only the residual that clears the threshold at the bound gets the
    full-gram-set exact re-count, so reported Jaccards stay exact and
    the recount never sees the full candidate volume. The SQL twin
    implements the identical two-stage semantics (rare-gram candidate
    gen + full-set recount)."""
    docs = _t(spark, sf_dir, "documents")
    out = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                threshold=0.5, max_df=10)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard_r"))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id % 7 != 0)
    sharing any distinct word 4-gram with the held-out eval slice
    (doc_id % 7 == 0). Both sides reduce to 60-bit md5 gram hashes so
    the join exchanges (id, int64) only; the twin recomputes the
    identical hash and rollup."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 7 != 0)
    ev = docs.filter(F.col("doc_id") % 7 == 0)
    out = D.decontaminate(train, ev, "doc_id", "text", n=4)
    return out.select("doc_id", "n_hit_grams")


def q_emb_near_dup(spark, sf_dir):
    """Dedup: exact embedding-cosine near-dup pairs (verification-stage
    twin of the LSH candidate generator)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = D.cosine_pairs(emb, "vec_id", "embedding", threshold=0.45)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine_r"))


def q_emb_cluster_dedup(spark, sf_dir):
    """Dedup: embedding cluster collapse — one min-id survivor per
    connected component of the EXACT cosine pair graph at threshold
    0.40 (the sf0.01 graph has 42 components with 8 chained ones of
    size >= 3, so the collapse is distinguishable from one-hop
    pair-dropping). Completes the pairs-AND-collapse matrix for the
    embedding modality; the twin closes the same pair graph with a
    recursive CTE."""
    emb = _t(spark, sf_dir, "embeddings")
    out = D.embedding_cluster_dedup(emb, "vec_id", "embedding",
                                    threshold=0.40)
    return out.select("vec_id")


def q_sessionize(spark, sf_dir):
    """Stateful sessionization (applyInPandas; batch twin of the
    applyInPandasWithState streaming operator)."""
    from esri_dump_spark.streaming.events import sessionize_batch
    ev = _t(spark, sf_dir, "events")
    out = sessionize_batch(ev, gap_minutes=30)
    return out.select("user_id", "session_start", "session_end", "n_events",
                      F.round("sum_value", 4).alias("sum_value_r"))


def q_sessionize_window(spark, sf_dir):
    """Sessionization JVM-side (lag/cumsum windows, zero Python) —
    identical semantics to q_sessionize, whole-stage codegen."""
    from esri_dump_spark.streaming.events import sessionize_window
    ev = _t(spark, sf_dir, "events")
    out = sessionize_window(ev, gap_minutes=30)
    return out.select("user_id", "session_start", "session_end", "n_events",
                      F.round("sum_value", 4).alias("sum_value_r"))


def q_asof_events(spark, sf_dir):
    """As-of join: each click joined to the latest view at-or-before
    its timestamp per user (ties on view ts broken by max event_id).
    Oracled against DuckDB's NATIVE ``ASOF JOIN`` — an independent
    implementation of the same temporal-join semantics, not a
    re-derivation of ours."""
    from esri_dump_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "ts",
                     F.col("event_id").alias("view_id"), "value"))
    out = asof_join(clicks, views, by="user_id",
                    right_cols=["view_id", "value"], tiebreak="view_id")
    return out.select(
        "event_id", "user_id",
        F.col("asof_view_id").alias("view_id"),
        F.col("asof_value").alias("view_value"),
        F.col("asof_ts").alias("view_ts"))


def q_interval_attrib(spark, sf_dir):
    """Interval (event-in-interval) join: every purchase within the
    2-hour attribution window after a signup by the same user —
    bucketed equi-join on (user, time-bucket), never a theta join.
    Oracled against a plain DuckDB inequality join."""
    from esri_dump_spark.operators.asof import interval_join
    ev = _t(spark, sf_dir, "events")
    signups = (ev.filter(F.col("event_type") == "signup")
               .select(F.col("event_id").alias("signup_id"), "user_id",
                       F.col("ts").alias("w_start"),
                       (F.col("ts") + F.expr("INTERVAL 2 HOURS"))
                       .alias("w_end")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts", "value"))
    out = interval_join(purchases, signups, by="user_id", time_col="ts",
                        start_col="w_start", end_col="w_end",
                        bucket_seconds=7200.0)
    return out.select("event_id", "user_id", "signup_id",
                      F.round("value", 2).alias("value_r"))


def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test split: pure function of
    (doc_id, seed) via the md5 low-60-bit derivation, integer
    thresholds — map-only, zero shuffle before the rollup. The
    oracle recomputes every assignment from the same literals."""
    from esri_dump_spark.operators.sample import split_assign
    docs = _t(spark, sf_dir, "documents")
    out = split_assign(docs, "doc_id", seed="v1")
    return out.groupBy("split").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("sum_chars"))


def q_stratified_sample(spark, sf_dir):
    """Exactly 40 events per event_type, drawn as the smallest
    (hash, id) pairs — a deterministic without-replacement uniform
    draw any SQL engine reproduces."""
    from esri_dump_spark.operators.sample import stratified_sample
    ev = _t(spark, sf_dir, "events")
    out = stratified_sample(ev, "event_type", 40, "event_id", seed="s1")
    return out.select("event_id", "event_type")


def q_sample_fraction(spark, sf_dir):
    """Deterministic 20% Bernoulli sample by id hash — stable across
    reruns and parallelism, nests across fractions."""
    from esri_dump_spark.operators.sample import sample_fraction
    docs = _t(spark, sf_dir, "documents")
    return sample_fraction(docs, "doc_id", 0.2, seed="s2").select(
        "doc_id", "lang")


def q_mix_sources(spark, sf_dir):
    """Pretraining mixture weights: rebalance sources to exact 5:3:1
    integer proportions (quota w_i * M, M = min(n_i div w_i)), rows
    drawn by the deterministic (hash, id) order. The oracle derives
    the identical quotas from the same counts — pure integer math."""
    from esri_dump_spark.operators.sample import mix_sources
    docs = _t(spark, sf_dir, "documents")
    out = mix_sources(docs, "source",
                      {"src0": 5, "src1": 3, "src2": 1},
                      "doc_id", seed="mx")
    return out.select("doc_id", "source")


def q_token_budget(spark, sf_dir):
    """Budgeted corpus subset: per language, greedily keep documents
    in (hash, id) order while the running char count stays under
    5000 — the "take ~N tokens" op, reproducible as a SQL running
    sum."""
    from esri_dump_spark.operators.sample import take_token_budget
    docs = _t(spark, sf_dir, "documents")
    out = take_token_budget(docs, 5000, "n_chars", "doc_id",
                            seed="tb", by="lang")
    return out.select("doc_id", "lang", "n_chars")


def q_weighted_sample(spark, sf_dir):
    """Importance-weighted corpus sample: the 50 documents with the
    largest Efraimidis-Spirakis keys (inclusion probability
    proportional to n_chars), deterministic via the shared md5-u60
    hash. Top-n is TakeOrderedAndProject, never a global sort; the
    oracle recomputes the identical keys from the shared
    es_key_sql spelling."""
    from esri_dump_spark.operators.sample import weighted_sample
    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, 50, "n_chars", "doc_id", seed="ws")
    return out.select("doc_id", "n_chars")


def q_pack_sequences(spark, sf_dir):
    """Sequence packing (concat-then-chunk): per source, walk docs in
    deterministic (hash, id) order and cut 2048-char bins; each doc
    gets (bin_id, bin_offset) where its first char lands. All-integer
    over the shared hash order — the twin is exact by construction."""
    from esri_dump_spark.operators.sample import pack_sequences
    docs = _t(spark, sf_dir, "documents")
    out = pack_sequences(docs, 2048, "n_chars", "doc_id",
                         seed="pk", by="source")
    return out.select("doc_id", "source", "bin_id", "bin_offset")


# deterministic normalization junk, ONE spelling for both engines
# (chr() + || only — no backslash literals to dialect-diverge): a C0
# control, CRLF, tabs, space runs, a 4-newline run, vertical-tab on
# even ids, trailing spaces
_NORM_JUNK = ("chr(1) || ' ' || text || chr(13) || chr(10) || 'tail'"
              " || chr(9) || chr(9) || 'x  y'"
              " || chr(10) || chr(10) || chr(10) || chr(10) || 'p'"
              " || CASE WHEN doc_id % 2 = 0 THEN chr(11) ELSE '' END"
              " || '  '")


def q_normalize_text(spark, sf_dir):
    """Text normalization (C4/RefinedWeb cleaning pass): the fixture
    corpus is already clean, so deterministic junk — controls, CRLF,
    tab runs, space runs, newline runs, edge whitespace — is injected
    from the shared _NORM_JUNK spelling first (identically in both
    engines), then normalized. Per-stage counts prove every planted
    artifact was seen; the md5 + length of the normalized text pin
    the rewrite byte-for-byte."""
    from esri_dump_spark.operators.text import normalize_text
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_NORM_JUNK).alias("text"))
    out = normalize_text(docs)
    return out.select(
        "doc_id", "n_ctrl", "n_cr", "n_tab", "n_spaces", "n_newlines",
        "n_edge",
        F.md5("text_norm").alias("norm_md5"),
        F.length("text_norm").cast("long").alias("n_chars_norm"))


def q_winnow_fps(spark, sf_dir):
    """Winnowing (MOSS) document fingerprints, rolled up per doc:
    count, distinct count, min/max and the order-free integer XOR of
    the selected 60-bit gram hashes — a full signature of the exact
    fingerprint multiset, all integers. k=16/w=8 because the
    word-salad fixture texts collide massively at small k."""
    from esri_dump_spark.operators.winnow import winnow_fingerprints
    docs = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, "doc_id", k=16, w=8)
    return (fps.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_fps"),
                 F.countDistinct("fp").alias("n_distinct_fp"),
                 F.min("fp").alias("min_fp"),
                 F.max("fp").alias("max_fp"),
                 F.expr("bit_xor(fp)").alias("xor_fp")))


def q_winnow_overlap(spark, sf_dir):
    """Shared-passage detection: document pairs sharing >= 3 distinct
    winnowing fingerprints after dropping corpus-hot ones (df > 10).
    Catches contained quotes/boilerplate that whole-document MinHash
    similarity dilutes below threshold; ids-only self-join (the
    shared_hash_pairs engine)."""
    from esri_dump_spark.operators.winnow import winnow_overlap_pairs
    docs = _t(spark, sf_dir, "documents")
    return winnow_overlap_pairs(docs, "doc_id", k=16, w=8,
                                min_shared=3, max_df=10)


_CM_DEPTH, _CM_WIDTH = 4, 1024
_CM_MIN_EST = 100    # word tokens repeat ~900x at sf0.01 while digit/
                     # symbol tokens are corpus-rare; 100 keeps the
                     # heavy-hitter output at vocabulary size


def q_hll_users(spark, sf_dir):
    """Mergeable distinct-user sketch per event_type: the HLL
    register pipeline (md5-u60 hash -> register max-rank) collapsed
    to its all-integer observables (registers used, empty registers,
    2^cap-scaled harmonic sum) plus the raw estimator — a bit-exact
    double by the fixed-order IEEE construction — and the exact
    distinct count for comparison. At 100 TB this replaces a
    COUNT(DISTINCT) value shuffle with a <= m-row register exchange
    that also folds across daily shards (hll_merge)."""
    from esri_dump_spark.operators.sketch import (hll_estimate,
                                                  hll_register_table)
    ev = _t(spark, sf_dir, "events")
    regs = hll_register_table(ev, "user_id", ("event_type",), m=256)
    est = hll_estimate(regs, ("event_type",), m=256)
    tru = (ev.where(F.col("user_id").isNotNull())
             .groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n_true")))
    return est.join(tru, "event_type").orderBy("event_type")


def q_cm_words(spark, sf_dir):
    """Count-min heavy hitters over the shared bm25 token universe:
    build the depth x width integer sketch, point-estimate every
    distinct token, keep estimates >= threshold. Estimates never
    underestimate; ALL-INTEGER so the twin is exact by construction.
    At scale the sketch (<= depth*width cells) broadcasts into the
    probe join and shards merge by cell-wise sum."""
    from esri_dump_spark.operators.search import toks_expr
    from esri_dump_spark.operators.sketch import cm_estimate, cm_sketch
    docs = _t(spark, sf_dir, "documents")
    words = docs.where(F.col("text").isNotNull()).selectExpr(
        f"explode({toks_expr('text')}) AS w")
    cells = cm_sketch(words, "w", _CM_DEPTH, _CM_WIDTH)
    est = cm_estimate(cells, words, "w", _CM_DEPTH, _CM_WIDTH)
    return (est.where(F.col("est") >= _CM_MIN_EST)
               .orderBy(F.desc("est"), "w"))


_BF_M, _BF_K = 1 << 20, 4    # sized so the sf0.01 eval-gram load
                             # keeps the filter sparse (fp visible
                             # but rare); saturation only degrades
                             # the fp rate, never parity


def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-prefiltered decontamination: build a Bloom filter of
    the held-out slice's (doc_id % 7 == 0) distinct word-4-gram
    hashes, membership-test every distinct training gram against it,
    and report per-train-doc gram / flagged / exact-hit counts. The
    flag never misses a real hit (n_flagged >= n_exact always; false
    positives replicate identically in the twin because both engines
    set and test the same bits). At 100 TB this is THE
    decontamination shape: the benchmark-side filter is <= m/32
    BIGINT words (broadcast), the corpus-side test is map-side, and
    the exact join runs only on the flagged residual."""
    from esri_dump_spark.operators.dedup import word_grams
    from esri_dump_spark.operators.sample import hash_u60
    from esri_dump_spark.operators.sketch import (bloom_bits_table,
                                                  bloom_probe)
    docs = _t(spark, sf_dir, "documents")
    grams = (word_grams(docs, "doc_id", "text", 4)
             .select("doc_id", hash_u60(F.col("gram")).alias("gh")))
    eg = (grams.where(F.col("doc_id") % 7 == 0)
               .select("gh").distinct())
    tg = grams.where(F.col("doc_id") % 7 != 0)
    bits = bloom_bits_table(eg, "gh", _BF_M, _BF_K)
    flags = bloom_probe(bits, tg, "gh", _BF_M, _BF_K)
    exact = eg.withColumn("_in_eval", F.lit(1))
    return (tg.join(flags, "gh")
              .join(exact, "gh", "left")
              .groupBy("doc_id")
              .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_grams"),
                   F.expr("CAST(sum(maybe_hit) AS BIGINT)")
                    .alias("n_flagged"),
                   F.expr("CAST(sum(CASE WHEN _in_eval IS NOT NULL"
                          " THEN 1 ELSE 0 END) AS BIGINT)")
                    .alias("n_exact"))
              .where(F.col("n_flagged") > 0)
              .orderBy("doc_id"))


_HQ_GRID = (0.0, 512000.0, 512)   # 1000-wide buckets cover
                                  # o_totalprice's [1002, 500k) range
_HQ_PM = (10, 250, 500, 750, 990)


def q_hist_quants(spark, sf_dir):
    """Histogram-sketch quantiles of order value per priority: ONE
    map-side-combined aggregate reduces the raw scan to <= bins rows
    per group, then targets/interpolation run sketch-sized. The
    mergeable, deterministic stand-in for percentile_approx — exact
    twin because the bucket index, integer ranks, and the final
    interpolation are all fixed-order IEEE / all-integer derivations
    (operators/hist.py)."""
    from esri_dump_spark.operators.hist import (hist_quantiles,
                                                hist_sketch)
    orders = _t(spark, sf_dir, "orders")
    h = hist_sketch(orders, "o_totalprice", *_HQ_GRID,
                    ("o_orderpriority",))
    return (hist_quantiles(h, *_HQ_GRID, ("o_orderpriority",), _HQ_PM)
            .orderBy("o_orderpriority", "permille"))


def q_dedup_incremental(spark, sf_dir):
    """The daily-shard incremental dedup shape: a prior-corpus
    content-hash LEDGER (mergeable by union+distinct) anti-joins the
    new shard, then a min-id window dedups within the shard. The raw
    fixture corpus has globally unique texts, so duplicates are
    PLANTED deterministically (the bloom/redact precedent): rows with
    doc_id%10==1 take content 'L-<doc_id DIV 30>' in BOTH slices
    (ledger hits fire) and shard rows with doc_id%10==2 take
    'S-<doc_id DIV 30>' (within-shard dupes fire; prior never makes
    S-contents). Both paths verified live at sf0.01."""
    from esri_dump_spark.operators.dedup import (content_ledger,
                                                 dedup_incremental,
                                                 planted_content_sql)
    from esri_dump_spark.operators.sketch import SPARK
    docs = _t(spark, sf_dir, "documents")
    prior = (docs.where("doc_id % 3 = 0")
                 .selectExpr("doc_id",
                             planted_content_sql(SPARK, shard=False)
                             + " AS text"))
    shard = (docs.where("doc_id % 3 <> 0")
                 .selectExpr("doc_id", "lang", "source",
                             planted_content_sql(SPARK, shard=True)
                             + " AS text"))
    out = dedup_incremental(shard, content_ledger(prior))
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


def q_gopher_gate(spark, sf_dir):
    """The published Gopher rule filter (per-rule flags + keep):
    every threshold is an ALL-INTEGER cross-multiplied comparison —
    no ratio is ever materialized, zero floats anywhere, so the twin
    is exact by construction. Zero shuffle; the words/lines/token
    arrays are let-bound lambda variables. The synthetic corpus fails
    the stopword rule corpus-wide (keep = 0 throughout); the varying
    count columns and the word-count flag carry the oracle's
    discriminating power."""
    from esri_dump_spark.operators.text import gopher_gate
    docs = _t(spark, sf_dir, "documents")
    return gopher_gate(docs).orderBy("doc_id")


def q_dup_ngrams(spark, sf_dir):
    """The n-gram rows of the Gopher repetition table: per-document
    duplicate / top 3-gram character mass and fractions. ZERO
    shuffle — a single sorted-run aggregate fold per document inside
    codegen; every statistic all-integer, each fraction one
    division — exact twin (explode + GROUP BY form)."""
    from esri_dump_spark.operators.text import dup_ngram_stats
    docs = _t(spark, sf_dir, "documents")
    return dup_ngram_stats(docs, "doc_id", "text", 3).orderBy("doc_id")


def q_skew_report(spark, sf_dir):
    """Pre-join skew gauge: the 15 heaviest user_id keys with their
    counts and ALL-INTEGER ppm shares — the report you run on a join
    input before committing to a shuffle strategy. One map-side-
    combined count aggregate; rank/share run over the key-cardinality
    table. NULLS LAST pinned on the tiebreak (Spark's ASC default is
    NULLS FIRST, DuckDB's NULLS LAST)."""
    from esri_dump_spark.operators.skew import skew_report
    ev = _t(spark, sf_dir, "events")
    return (skew_report(ev, ("user_id",), 15)
            .selectExpr("rank", "user_id AS key", "cnt", "share_ppm")
            .orderBy("rank"))


def q_rank_normalize(spark, sf_dir):
    """Cross-source score calibration: per-language percentile rank
    of document length (tie: doc_id — deterministic total order).
    Ranks/counts are integers riding ONE window exchange; pct_rank
    is one division — exact twin by construction."""
    from esri_dump_spark.operators.profile import rank_normalize
    docs = _t(spark, sf_dir, "documents")
    return (rank_normalize(docs.where(F.col("lang").isNotNull()),
                           "n_chars", ("lang",), ("doc_id",))
            .select("doc_id", "lang", "n_chars", "rank_n",
                    "n_group", "pct_rank")
            .orderBy("lang", "rank_n"))


def q_corpus_diversity(spark, sf_dir):
    """Per-source type-token ratio: the corpus-level redundancy
    gauge (template/boilerplate-heavy sources collapse it). Rolls up
    the vocab-sized word-count table — the corpus-scale work is one
    map-side-combined aggregate; ALL-INTEGER plus one division, so
    the twin is exact by construction."""
    from esri_dump_spark.operators.lm import corpus_diversity
    docs = _t(spark, sf_dir, "documents")
    return (corpus_diversity(docs.where(F.col("source").isNotNull()),
                             "text", ("source",))
            .orderBy("source"))


def q_zipf_topk(spark, sf_dir):
    """Per-language Zipf head (top-5 words): the classic corpus
    diagnostic — a head drifting from the expected stopword profile
    flags boilerplate injection or language-ID leaks. Deterministic
    total order (freq DESC, word ASC) over the vocab-sized
    word-count table; ALL-INTEGER, exact twin."""
    from esri_dump_spark.operators.lm import zipf_topk
    docs = _t(spark, sf_dir, "documents")
    return (zipf_topk(docs.where(F.col("lang").isNotNull()),
                      "text", ("lang",), 5)
            .orderBy("lang", "rank"))


def q_winsorize_orders(spark, sf_dir):
    """Percentile clipping over the histogram sketch: clamp order
    values into their per-priority [1, 99] percentile band. The
    sketch pass is the one corpus aggregate; the 1-row-per-group
    bounds table broadcasts back, so data rows never shuffle. Band
    edges are the bit-exact hist construction and the clamp compares
    non-NaN doubles — exact twin, boundary rows included."""
    from esri_dump_spark.operators.hist import winsorize
    orders = _t(spark, sf_dir, "orders")
    out = winsorize(orders, "o_totalprice", *_HQ_GRID,
                    ("o_orderpriority",), 10, 990)
    return (out.select("o_orderkey", "o_orderpriority",
                       "o_totalprice", "clipped", "was_clipped")
               .orderBy("o_orderkey"))


def q_moment_stats(spark, sf_dir):
    """Exact per-language moment statistics of document length:
    all-integer sum / sum-of-squares aggregates (never a distributed
    float sum — the bigram_perplexity rule), mean/variance/stddev
    derived in the final projection with one IEEE division and one
    sqrt — bit-exact twin with NO rounding. NULL langs filtered on
    both sides (Spark NULLS FIRST vs DuckDB NULLS LAST)."""
    from esri_dump_spark.operators.profile import moment_stats
    docs = _t(spark, sf_dir, "documents")
    return (moment_stats(docs.where(F.col("lang").isNotNull()),
                         "n_chars", ("lang",))
            .orderBy("lang"))


def q_dataset_profile(spark, sf_dir):
    """Dataset-card profile of the documents table: per-column row /
    null / distinct counts and value ranges — the audit rollup a
    pipeline publishes before and after each cleaning stage. Exact by
    construction: counts are integers, min/max cast to string AFTER
    aggregation (numeric order, engine-identical int64 rendering),
    string comparisons are binary in both engines."""
    from esri_dump_spark.operators.profile import profile_columns
    docs = _t(spark, sf_dir, "documents")
    return profile_columns(docs, ["doc_id", "lang", "source",
                                  "n_chars"])


def q_mad_outliers(spark, sf_dir):
    """Robust outlier gate: flag documents whose n_chars deviates
    from the per-language median by > 1 MAD (k=1, tight enough that
    BOTH flag states occur in the fixture corpus — k=4 flags nothing
    at sf0.01 and a constant column is a weak oracle). Bit-exact
    WITHOUT rounding: integer inputs make the interpolated median an
    exact dyadic double (integer or x.5), deviations multiples of
    0.5, the MAD a multiple of 0.25, and k dyadic — so the > cut
    lands identically in both engines on every row, boundary hits
    included. The flag is CAST to INT so both engines emit int32."""
    from esri_dump_spark.operators.sample import mad_outliers
    docs = _t(spark, sf_dir, "documents")
    out = mad_outliers(docs, "n_chars", by="lang", k=1)
    return out.select("doc_id", "lang", "med", "mad",
                      F.col("is_outlier").cast("int").alias("outlier"))


def q_temperature_mix(spark, sf_dir):
    """Temperature-scaled LANGUAGE mixing at alpha=0.5 (the mBERT
    multilingual sampling rule): proportions ∝ floor(sqrt(n_i)),
    realized as the exact integer quota w_i * min(n_i div w_i) over
    the deterministic (hash, id) order. Keyed on `lang` — the skewed
    column (en dominates), so the quota genuinely subsamples; the
    uniform `source` column would make the op a pass-through. sqrt
    is IEEE correctly rounded in both engines, so the floored
    weights — and hence every quota — are engine-identical; the twin
    shares the temp_weight_sql spelling verbatim."""
    from esri_dump_spark.operators.sample import temperature_mix
    docs = _t(spark, sf_dir, "documents")
    out = temperature_mix(docs, "lang", "doc_id", alpha=0.5,
                          seed="tm")
    return out.select("doc_id", "lang")


def q_shard_plan(spark, sf_dir):
    """Training-shard sink plan: the deterministic (split, shard)
    assignment write_training_shards lays on disk — split by the
    shared integer-threshold CASE, shard = hash_u60 mod 8 — rolled up
    to per-directory row and char totals (each future leaf file's
    manifest row). All integers; sums CAST to BIGINT on both sides."""
    from esri_dump_spark.operators.sample import split_assign
    from esri_dump_spark.operators.sinks import shard_assign
    docs = split_assign(_t(spark, sf_dir, "documents"), "doc_id",
                        seed="shp")
    out = shard_assign(docs, "doc_id", 8, seed="shs")
    return (out.groupBy("split", "shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars")))


def q_salted_agg(spark, sf_dir):
    """Skew: explicit two-phase salted aggregation — identical result
    to a plain groupBy, no single reducer owns a hot key."""
    from esri_dump_spark.operators.skew import two_phase_agg
    li = _t(spark, sf_dir, "lineitem")
    out = two_phase_agg(li, "l_returnflag",
                        {"n": "count(*)", "sum_qty": "sum(l_quantity)"},
                        nsalt=16, hot=["N"])
    return out.select("l_returnflag", "n",
                      F.round("sum_qty", 2).alias("sum_qty"))


def q_salted_join(spark, sf_dir):
    """Skew: salted shuffle equi-join (hot keys fanned out both sides),
    rolled up so the result is key-invariant."""
    from esri_dump_spark.operators.skew import salted_join
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    # keys declared hot exercise the fan-out path; correctness must be
    # identical whether or not a key is truly hot
    j = salted_join(o.withColumnRenamed("o_custkey", "custkey"),
                    c.withColumnRenamed("c_custkey", "custkey"),
                    "custkey", nsalt=8, hot=[1, 2, 3])
    return (j.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


def q_stream_windowed(spark, sf_dir):
    """Streaming operator's batch twin: tumbling event-time window
    (same expression tree the writeStream pipeline uses)."""
    from esri_dump_spark.streaming.events import windowed_counts
    ev = _t(spark, sf_dir, "events")
    return windowed_counts(ev, window="1 hour")


def q_renderer_compile(spark, sf_dir):
    """F7: drawingInfo.renderer JSON compiled to a Catalyst CASE WHEN
    column (the stylejson expression compiler applied to rows)."""
    from esri_dump_spark.plans.renderer import compile_renderer
    renderer = {
        "type": "uniqueValue", "field1": "p_type",
        "defaultLabel": "other",
        "uniqueValueInfos": [
            {"value": "PROMO", "label": "promo-style"},
            {"value": "ECONOMY", "label": "economy-style"},
            {"value": "STANDARD", "label": "standard-style"},
        ]}
    p = _t(spark, sf_dir, "part")
    return (p.withColumn("style_class", compile_renderer(renderer))
            .groupBy("style_class").agg(F.count(F.lit(1)).alias("n")))


def q_corpus_clean(spark, sf_dir):
    """End-to-end corpus cleaning (quality gate -> exact dedup ->
    MinHash near-dedup) as ONE lazy plan, oracle-checked as a whole:
    one DuckDB CTE chain recomputes all three stages and the surviving
    id set must hash-match."""
    from esri_dump_spark.operators.pipeline import clean_corpus
    docs = _t(spark, sf_dir, "documents")
    out = clean_corpus(docs, min_quality=0.8, jaccard_threshold=0.6,
                       band_key="exact")
    return out.select("doc_id").orderBy("doc_id")


def q_minhash_cluster_dedup(spark, sf_dir):
    """Cluster-aware near-dedup: connected components of the LSH pair
    graph via iterative min-label propagation, exactly one survivor per
    component. Oracled against a recursive-CTE transitive closure."""
    docs = _t(spark, sf_dir, "documents")
    out = D.minhash_dedup(docs, "doc_id", "text", threshold=0.6,
                          connected=True, band_key="exact")
    return out.select("doc_id").orderBy("doc_id")


def q_leakage_safe_split(spark, sf_dir):
    """Near-dup-aware train/val/test split: the split hash keys on the
    connected near-dup component's representative, so paraphrase
    clusters never straddle a split boundary. Oracled end-to-end: a
    recursive-CTE closure derives the same representative and the
    same integer-threshold CASE assigns the label."""
    from esri_dump_spark.operators.sample import leakage_safe_split
    docs = _t(spark, sf_dir, "documents")
    out = leakage_safe_split(docs, "doc_id", "text", seed="ls",
                             threshold=0.6, band_key="exact")
    return out.select("doc_id", "split")


def q_govern_corpus(spark, sf_dir):
    """The 4-stage governance pipeline (quality gate -> repetition
    gate -> decontamination vs the doc_id%7 eval slice -> split
    labels) as ONE lazy plan, hash-checked against a single DuckDB
    CTE — the governance counterpart of corpus_clean's joint
    correctness statement."""
    from esri_dump_spark.operators.pipeline import govern_corpus
    docs = _t(spark, sf_dir, "documents")
    out = govern_corpus(docs.filter(F.col("doc_id") % 7 != 0),
                        docs.filter(F.col("doc_id") % 7 == 0),
                        split_seed="gv")
    return out.select("doc_id", "split")


def q_dedup_report(spark, sf_dir):
    """Dedup observability: near-dup cluster-size histogram including
    singleton (untouched) docs — the look-before-you-dedup report.
    Oracled: recursive-CTE component sizes + total-minus-labeled
    singleton arithmetic."""
    out = D.cluster_size_histogram(_t(spark, sf_dir, "documents"),
                                   "doc_id", "text", threshold=0.6,
                                   band_key="exact")
    return out.select("cluster_size", "n_clusters")


def q_topfeatures_extract(spark, sf_dir):
    """S5: /queryTopFeatures endpoint semantics — the per-group top-k
    reduction happens SERVER-side during paging (reference swaps only
    the URL fragment, lib/geometry.ts:74). Oracled: the synthetic
    layer's attributes are pure formulas of the feature index, so
    DuckDB reproduces the reduction from generate_series — rotation
    groups (i % 360), top-2 by value (i * 0.5) DESC, attribute-only
    rows (i % 97 == 5) dropped by the client-side decode (P3)."""
    from esri_dump_spark.operators.extract import extract
    from esri_dump_spark.sources.feature_server import SyntheticFeatureServer
    srv = SyntheticFeatureServer(n_features=1000, max_record_count=250,
                                 geometry_type="esriGeometryPolygon")
    top = {"groupByFields": "rotation", "topCount": 2,
           "orderByFields": "value DESC"}
    out = extract(spark, srv, approach="top_features_iter", top_filter=top)
    return out.select("id").orderBy("id")


def q_extract_ids(spark, sf_dir):
    """S3+P3+A2 oracled: the offset-paged extraction's id set — every
    synthetic feature except the attribute-only rows the decode
    filters, each exactly once after the cross-page dedup. DuckDB
    reproduces the set from generate_series."""
    from esri_dump_spark.operators.extract import extract
    from esri_dump_spark.sources.feature_server import SyntheticFeatureServer
    srv = SyntheticFeatureServer(n_features=2000, max_record_count=500,
                                 geometry_type="esriGeometryPolygon")
    return extract(spark, srv, approach="iter").select("id").orderBy("id")


def q_extract_bbox_ids(spark, sf_dir):
    """S4+G9 oracled: the bbox-quadtree extraction must produce the
    IDENTICAL id set — overlapping quadrant pages dedup away, nothing
    is lost at envelope boundaries (inclusive intersection)."""
    from esri_dump_spark.operators.extract import extract
    from esri_dump_spark.sources.feature_server import SyntheticFeatureServer
    srv = SyntheticFeatureServer(n_features=2000, max_record_count=500,
                                 geometry_type="esriGeometryPolygon")
    return extract(spark, srv, approach="bbox").select("id").orderBy("id")


# --------------------------------------------- rows-only (non-SQL) queries

def _extract_rollup(df):
    """Golden rollup pinning the FULL GeoJSON output of an extraction
    (not just the id set): row count, id sum, per-geometry-type
    counts, and the total serialized length — any drift in decode,
    ring assembly, rewind, or JSON serialization moves the literals."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id").alias("sum_id"),
        F.sum(F.when(F.col("geom_type") == "Polygon", 1).otherwise(0))
        .alias("n_polygon"),
        F.sum(F.when(F.col("geom_type") == "MultiPolygon", 1)
              .otherwise(0)).alias("n_multipolygon"),
        F.sum(F.length("geojson")).alias("sum_geojson_len"))


def q_extract_synthetic(spark, sf_dir):
    """EP1: full synthetic-FeatureServer extraction (manifest ->
    mapInPandas decode -> dedup -> rewind), golden-literal rollup over
    the COMPLETE GeoJSON output (see _extract_rollup). Per-row golden
    fixtures live in tests/test_extract.py; the id-set twin is the
    oracled `extract_ids`."""
    from esri_dump_spark.operators.extract import extract
    from esri_dump_spark.sources.feature_server import SyntheticFeatureServer
    srv = SyntheticFeatureServer(n_features=2000, max_record_count=500,
                                 geometry_type="esriGeometryPolygon")
    return _extract_rollup(extract(spark, srv, approach="iter").select(
        "id", "geom_type", "geojson"))


def q_pip_fixture_polygons(spark, sf_dir):
    """J2 on complex fixture polygons (holes, multipolygon, promoted
    hole) over the synthetic image table — golden per-polygon counts
    (multi-row literal oracle, like `discovery`): the exact ray-cast
    against a seeded point set pins every hole/multipolygon branch."""
    from esri_dump_spark.sources.fixtures import (ensure_images_parquet,
                                                  polygons_pdf)
    pts = spark.read.parquet(ensure_images_parquet(2000)) \
        .select("image_id", "lon", "lat")
    out = point_in_polygon_join(pts, polygons_pdf(), res=10)
    return (out.groupBy("poly_id", "poly_name")
            .agg(F.count(F.lit(1)).alias("n_points"))
            .orderBy("poly_id"))


def q_image_decode_stats(spark, sf_dir):
    """Multimodal: Arrow-batched image decode + stats (S9/F9), gated
    by a GOLDEN-LITERAL oracle: the fixture table is a pure function
    of its seed and the codecs are deterministic, so this rollup's
    integer invariants (counts, dimension sums, floor-quantized
    channel means — no float accumulation, so partition-order
    independent) are frozen literals like ``lineage_metrics``.
    Per-row behavior stays covered by tests/test_cells_image.py."""
    from esri_dump_spark.sources.fixtures import ensure_images_parquet
    from esri_dump_spark.operators.multimodal import decode_stats
    imgs = spark.read.parquet(ensure_images_parquet(2000))
    st = decode_stats(imgs)
    return st.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
        F.sum("w_decoded").alias("sum_w"),
        F.sum("h_decoded").alias("sum_h"),
        F.sum(F.floor("mean_r")).alias("sum_floor_mean_r"),
        F.sum(F.floor("mean_g")).alias("sum_floor_mean_g"),
        F.sum(F.floor("mean_b")).alias("sum_floor_mean_b"),
        F.sum(F.pmod("phash_decoded", F.lit(97))).alias("sum_phash_mod"))


def q_image_quality(spark, sf_dir):
    """Multimodal: per-image quality signals (luma mean/std, histogram
    entropy, gradient sharpness) for corpus filtering, rolled up into
    floor-quantized integer invariants frozen as a GOLDEN-LITERAL
    oracle (same posture as image_decode_stats: deterministic fixture
    + deterministic codec + integer sums = partition-order
    independent)."""
    from esri_dump_spark.sources.fixtures import ensure_images_parquet
    from esri_dump_spark.operators.multimodal import image_quality_stats
    imgs = spark.read.parquet(ensure_images_parquet(2000))
    st = image_quality_stats(imgs)
    return st.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.floor("mean_luma")).alias("sum_floor_luma"),
        F.sum(F.floor("std_luma")).alias("sum_floor_std"),
        F.sum(F.floor(F.col("entropy_bits") * 100)).alias(
            "sum_floor_entropy_c"),
        F.sum(F.floor(F.col("sharpness") * 10)).alias(
            "sum_floor_sharp_d"))


def q_frame_sample(spark, sf_dir):
    """Multimodal video: MJPEG-in-AVI containers (kernels/avi.py)
    exploded to sampled frame rows (every_n=2) with per-frame decode
    stats, rolled up into integer invariants frozen as a GOLDEN-
    LITERAL oracle (deterministic fixture + deterministic RIFF/JPEG
    codecs; verified stable input-layout vs repartition(13) before
    freezing — same protocol as image_decode_stats). The stride,
    dims, frame counts, per-frame phashes and floor-quantized luma
    all pin the container walk AND the frame decode."""
    from esri_dump_spark.sources.fixtures import ensure_videos_parquet
    from esri_dump_spark.operators.multimodal import frame_sample
    vids = spark.read.parquet(ensure_videos_parquet(400))
    st = frame_sample(vids, every_n=2, with_bytes=False)
    return st.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
        F.countDistinct("video_id").alias("n_videos"),
        F.sum("frame_idx").alias("sum_frame_idx"),
        F.sum("n_frames").alias("sum_n_frames"),
        F.sum("w").alias("sum_w"),
        F.sum("h").alias("sum_h"),
        F.sum(F.pmod("phash_frame", F.lit(97))).alias("sum_phash_mod"),
        F.sum(F.floor("mean_luma")).alias("sum_floor_luma"))


def q_video_near_dup(spark, sf_dir):
    """Video near-duplicate pairs by shared frame phash over the
    planted-duplicate fixture (pair k of 100 shares exactly 2 + (k%3)
    byte-identical frames; tails are pure noise so nothing else
    collides). GOLDEN-LITERAL oracle; the literals equal the
    analytically derived ground truth (100 pairs, sum 299) and were
    re-verified layout-stable (input vs repartition(13)) before
    freezing. Only (video_id, phash_frame) ever shuffles — plan
    asserted in tests/test_video.py."""
    from esri_dump_spark.sources.fixtures import (
        ensure_near_dup_videos_parquet)
    from esri_dump_spark.operators.multimodal import video_near_dup
    vids = spark.read.parquet(ensure_near_dup_videos_parquet(200))
    p = video_near_dup(vids, every_n=1, min_shared=2)
    return p.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("n_shared_frames").alias("sum_shared"),
        F.countDistinct("video_a").alias("n_a"),
        F.min("n_shared_frames").alias("min_shared_f"),
        F.max("n_shared_frames").alias("max_shared_f"))


def q_audio_stats(spark, sf_dir):
    """Multimodal audio: PCM-WAV decode (kernels/wav.py) + waveform
    signals (rms, zero-crossing rate, spectral centroid via rFFT) in
    one map-only mapInPandas pass, rolled up into floor-quantized
    integer invariants frozen as a GOLDEN-LITERAL oracle (same freeze
    protocol: deterministic fixture + codec, input layout vs
    repartition(13) identical before pinning). The fixture's pure-tone
    clips are bin-aligned sines, so the physics pins (rms = A/sqrt 2,
    zcr = 2f, centroid = f) hold in tests/test_audio.py."""
    from esri_dump_spark.sources.fixtures import ensure_audios_parquet
    from esri_dump_spark.operators.multimodal import audio_stats
    aud = spark.read.parquet(ensure_audios_parquet(400))
    st = audio_stats(aud)
    return st.agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
        F.sum("n_frames").alias("sum_frames"),
        F.sum(F.floor(F.col("duration_s") * 1000)).alias("sum_dur_ms"),
        F.sum(F.floor(F.col("rms") * 10000)).alias("sum_rms_bp"),
        F.sum(F.floor("zcr_hz")).alias("sum_floor_zcr"),
        F.sum(F.floor("centroid_hz")).alias("sum_floor_centroid"))


def q_audio_near_dup(spark, sf_dir):
    """Audio near-duplicate pairs by shared window fingerprints
    (Haitsma-Kalker-family 32-bit spectral hashes) over the planted-
    duplicate fixture — pair k of 100 shares exactly 2 + (k%3)
    sample-identical windows, so the GOLDEN LITERALS equal the
    analytic ground truth (100 pairs, sum 299), re-verified
    layout-stable before freezing. Completes the modality dedup
    matrix; only (audio_id, fp) ever shuffles."""
    from esri_dump_spark.sources.fixtures import (
        ensure_near_dup_audios_parquet)
    from esri_dump_spark.operators.multimodal import audio_near_dup
    auds = spark.read.parquet(ensure_near_dup_audios_parquet(200))
    p = audio_near_dup(auds, min_shared=2)
    return p.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("n_shared_windows").alias("sum_shared"),
        F.countDistinct("audio_a").alias("n_a"),
        F.min("n_shared_windows").alias("min_shared_w"),
        F.max("n_shared_windows").alias("max_shared_w"))


def q_video_cluster_dedup(spark, sf_dir):
    """Video cluster dedup over the planted-duplicate fixture: the
    pair graph is 100 DISJOINT 2-cliques (videos (2k, 2k+1) share
    2+(k%3) byte-identical frames; noise tails never collide), so the
    min-id survivor set is exactly the even-suffix videos — the
    oracle recomputes that analytic ground truth from the planted
    structure (count 100, suffix sum 2*(0+...+99)=9900, zero odd
    suffixes). Exercises pairs -> connected components -> left_anti
    collapse end-to-end on real containers."""
    from esri_dump_spark.sources.fixtures import (
        ensure_near_dup_videos_parquet)
    from esri_dump_spark.operators.multimodal import video_cluster_dedup
    vids = spark.read.parquet(ensure_near_dup_videos_parquet(200))
    out = video_cluster_dedup(vids, every_n=1, min_shared=2)
    sfx = F.substring("video_id", 4, 12).cast("long")
    return out.agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum(sfx).alias("sum_sfx"),
        F.sum(F.pmod(sfx, F.lit(2))).alias("n_odd"),
        F.min(sfx).alias("min_sfx"),
        F.max(sfx).alias("max_sfx"))


def q_audio_cluster_dedup(spark, sf_dir):
    """Audio cluster dedup over the planted-duplicate fixture — same
    analytic ground truth as the video twin: clips (2k, 2k+1) share
    2+(k%3) sample-identical fingerprint windows, 100 disjoint
    2-cliques, min-id survivors = the even-suffix clips."""
    from esri_dump_spark.sources.fixtures import (
        ensure_near_dup_audios_parquet)
    from esri_dump_spark.operators.multimodal import audio_cluster_dedup
    auds = spark.read.parquet(ensure_near_dup_audios_parquet(200))
    out = audio_cluster_dedup(auds, min_shared=2)
    sfx = F.substring("audio_id", 4, 12).cast("long")
    return out.agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum(sfx).alias("sum_sfx"),
        F.sum(F.pmod(sfx, F.lit(2))).alias("n_odd"),
        F.min(sfx).alias("min_sfx"),
        F.max(sfx).alias("max_sfx"))


def q_minhash_pairs(spark, sf_dir):
    """MinHash banded-LSH near-dup pairs on documents. Oracled: the
    signature family is md5-gram + linear-congruential permutations
    mod 2^31-1, all reproducible in DuckDB SQL; band_key='exact' joins
    on literal signature slices so candidate generation matches the
    SQL twin bit-for-bit (the 'hash' mode is the narrower-shuffle
    scale path with identical semantics modulo murmur collisions)."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.6,
                               band_key="exact")


def q_simhash_pairs(spark, sf_dir):
    """SimHash block-LSH near-dup pairs on documents. Oracled: with
    max_hamming < blocks the pigeonhole candidate gen is lossless, so
    the DuckDB twin recomputes the identical 60-bit md5-derived simhash
    in SQL and brute-forces the all-pairs hamming filter."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, "doc_id", "text", max_hamming=3)


def q_ivf_ann(spark, sf_dir):
    """IVF-bucketed ANN. Oracled: with nprobe == n_centroids every
    bucket is probed, so the bucketed plan must reproduce the exact
    brute-force top-k bit-for-bit (the plan exercises the centroid
    assign + bucket equi-join + per-bucket re-rank machinery; recall
    at nprobe < n_centroids is covered by tests/test_pipeline_ops.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.orderBy("vec_id").limit(5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    return A.ivf_topk(queries, emb, k=5, n_centroids=8, nprobe=8)


def q_quantize_embeddings(spark, sf_dir):
    """int8 embedding quantization (4x storage at rest): per-vector
    rollup (scale_r, q_sum, q_norm) over the quantized table. The
    derivation is floor-based and the sums are integer-valued, so the
    twin is exact by construction (floor is IEEE-exact in both
    engines; sqrt never enters)."""
    qt = A.quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    return qt.select(
        "vec_id",
        F.expr("round(scale, 6)").alias("scale_r"),
        F.expr("CAST(aggregate(qvec, 0L, (acc, x) -> acc"
               " + CAST(x AS BIGINT)) AS BIGINT)").alias("q_sum"),
        F.expr("CAST(aggregate(qvec, 0L, (acc, x) -> acc"
               " + CAST(x AS BIGINT) * x) AS BIGINT)").alias("q_norm"))


def q_quant_ann(spark, sf_dir):
    """Exact cosine top-10 over the int8-quantized table for one
    query vector: integer dot products (every partial sum exact),
    one double division and one IEEE-correctly-rounded sqrt — the raw
    ordering is bit-identical across engines, no ln-style defense
    needed."""
    qt = A.quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    return A.quantized_cosine_topk(qt, k=10, query_vec_id=3)


def q_minhash_pairs_hashkey(spark, sf_dir):
    """MinHash LSH, production band-key mode: 4-byte murmur band keys
    (half the exchange width of the exact-string oracle mode; identical
    semantics modulo astronomically-rare murmur collisions). Oracled:
    the `minhash_pairs` SQL twin is aliased to this entry (identical
    output either mode); this is the plan the bench measures."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.6,
                               band_key="hash")


def q_emb_near_dup_lsh(spark, sf_dir):
    """Random-hyperplane LSH near-dup candidates (scale path of
    emb_near_dup), OR-of-ANDs: 16 bands x 4 planes -> expected recall
    ~0.96 at threshold 0.45
    (tests/test_pipeline_ops.py::test_embedding_lsh_recall_vs_exact
    asserts >= 0.9 vs the exact cosine_pairs twin). Rows-only: LSH
    recall < 1 by design."""
    emb = _t(spark, sf_dir, "embeddings")
    return D.embedding_near_dup(emb, "vec_id", "embedding",
                                threshold=0.45, bands=16, rows_per_band=4)


def q_emb_near_dup_lsh_golden(spark, sf_dir):
    """GOLDEN-LITERAL twin of emb_near_dup_lsh: on the FIXED sf0.001
    embeddings table the LSH pair set is a pure function of the seed
    (hyperplanes derive from it executor-side) and the rollup below is
    integer-only (ids + micro-rounded cosines — each cosine is a
    sequential array fold, bit-deterministic), so it freezes like
    ``lineage_metrics``. Verified identical across repartition(3) /
    shuffle.partitions=7 before freezing. This gives the LSH scale
    path a full rows+schema+hash gate; the sf-parameterized
    ``emb_near_dup_lsh`` stays rows-only (recall < 1 by design,
    asserted >= 0.9 vs the exact twin in pytest)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = D.embedding_near_dup(emb, "vec_id", "embedding",
                                 threshold=0.45, bands=16,
                                 rows_per_band=4)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("id_a").alias("n_distinct_a"),
        F.sum("id_a").alias("sum_a"),
        F.sum("id_b").alias("sum_b"),
        F.sum(F.round(F.col("cosine") * 1e6).cast("long"))
        .alias("sum_cos_micro"))


def q_extract_bbox(spark, sf_dir):
    """EP1 via the bbox quadtree strategy (S4): adaptive envelope
    splitting against count probes, overlap dedup — golden rollup;
    MUST freeze to the identical literals as the offset path
    (`extract_synthetic`): both strategies produce the same rows."""
    from esri_dump_spark.operators.extract import extract
    from esri_dump_spark.sources.feature_server import SyntheticFeatureServer
    srv = SyntheticFeatureServer(n_features=2000, max_record_count=500,
                                 geometry_type="esriGeometryPolygon")
    return _extract_rollup(extract(spark, srv, approach="bbox").select(
        "id", "geom_type", "geojson"))


def q_verify_images(spark, sf_dir):
    """North-rule per-row invariant (decoded dims + phash + caption
    equality + PSNR>=40dB vs the reference regeneration), rolled up to
    golden-literal integer invariants: every gate must pass for every
    row of the seeded fixture, and the PSNR histogram (floor, summed)
    is deterministic because each row's PSNR is a pure function of the
    codec. Per-row output covered by tests/test_cells_image.py."""
    from esri_dump_spark.operators.multimodal import verify_images
    from esri_dump_spark.sources.fixtures import ensure_images_parquet
    imgs = spark.read.parquet(ensure_images_parquet(2000))
    v = verify_images(imgs)
    return v.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.when(F.col("dims_ok"), 1).otherwise(0)).alias("n_dims_ok"),
        F.sum(F.when(F.col("phash_ok"), 1).otherwise(0)).alias("n_phash_ok"),
        F.sum(F.when(F.col("caption_ok"), 1).otherwise(0))
        .alias("n_caption_ok"),
        F.sum(F.when(F.col("psnr_ok"), 1).otherwise(0)).alias("n_psnr_ok"),
        F.sum(F.floor("roundtrip_psnr")).alias("sum_floor_psnr"))


def q_resize_images(spark, sf_dir):
    """Multimodal: block-mean resize to 16x16 inside mapInPandas
    (bytes decoded/re-encoded on executors), golden-literal rollup:
    output dims are fixed, and the total re-encoded PNG byte count is
    deterministic (deterministic decoder + reduceat block-mean +
    deterministic PNG encoder)."""
    from esri_dump_spark.operators.multimodal import resize_images
    from esri_dump_spark.sources.fixtures import ensure_images_parquet
    # deterministic 500-row slice by id (limit() picks rows in
    # partition order, which a different reader config could reshape)
    imgs = (spark.read.parquet(ensure_images_parquet(2000))
            .filter(F.col("image_id") < f"img{500:012d}"))
    out = resize_images(imgs, 16, 16)
    return out.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.when((F.col("w") == 16) & (F.col("h") == 16), 1)
              .otherwise(0)).alias("n_16x16"),
        F.sum(F.when(F.col("fmt") == "png", 1).otherwise(0))
        .alias("n_png"),
        F.sum(F.length("bytes")).alias("total_bytes"))


def q_phash_near_dup(spark, sf_dir):
    """Image near-dup via phash block-LSH (C(m,r) multi-index at
    hamming 8) + exact hamming, golden-literal rollup: the pair set is
    a pure function of the seeded fixture, and candidate gen is
    LOSSLESS, so the integer invariants freeze (pair count, hamming
    sum, exact-dup count). Brute-force parity additionally asserted in
    tests/test_pipeline_ops.py."""
    from esri_dump_spark.operators.dedup import phash_near_dup
    from esri_dump_spark.sources.fixtures import ensure_images_parquet
    imgs = spark.read.parquet(ensure_images_parquet(2000))
    pairs = phash_near_dup(imgs, max_hamming=8)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("hamming").alias("sum_hamming"),
        F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0))
        .alias("n_exact"))


def q_phash_cluster_dedup(spark, sf_dir):
    """Image cluster dedup: min-id survivor per connected component of
    the phash near-dup graph (chained bursts collapse to ONE survivor,
    unlike one-hop dropping). Golden-literal rollup: lossless
    candidate gen + seeded fixture => frozen integer invariants."""
    from esri_dump_spark.operators.dedup import phash_cluster_dedup
    from esri_dump_spark.sources.fixtures import ensure_images_parquet
    imgs = spark.read.parquet(ensure_images_parquet(2000))
    kept = phash_cluster_dedup(imgs, max_hamming=8)
    return kept.agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("w").alias("sum_w"),
        F.sum("h").alias("sum_h"))


def q_image_clean(spark, sf_dir):
    """Image-side cleaning pipeline: decode-invariant gate (dims,
    phash, caption, PSNR vs reference) -> phash near-dedup, min-id
    survivor. Golden-literal rollup (seeded fixture + deterministic
    gates => frozen integer invariants)."""
    from esri_dump_spark.operators.pipeline import clean_images
    from esri_dump_spark.sources.fixtures import ensure_images_parquet
    imgs = spark.read.parquet(ensure_images_parquet(2000))
    out = clean_images(imgs, max_phash_hamming=6)
    return out.agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("w").alias("sum_w"),
        F.sum("h").alias("sum_h"),
        F.sum(F.when(F.col("fmt") == "png", 1).otherwise(0))
        .alias("n_png"))


def q_crossmodal_near_dup(spark, sf_dir):
    """Image+caption consensus dedup: pairs flagged by BOTH phash
    block-LSH and caption-simhash block-LSH. Golden-literal rollup
    (both channels lossless-candidate + exact verify over the seeded
    fixture)."""
    from esri_dump_spark.operators.dedup import crossmodal_near_dup
    from esri_dump_spark.sources.fixtures import ensure_images_parquet
    imgs = spark.read.parquet(ensure_images_parquet(2000))
    pairs = crossmodal_near_dup(imgs, max_phash_hamming=8,
                                max_caption_hamming=10)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("phash_hamming").alias("sum_phash_hamming"),
        F.sum("caption_hamming").alias("sum_caption_hamming"))


def q_schema_doc(spark, sf_dir):
    """EP2: layer metadata -> JSON Schema document (single row)."""
    from esri_dump_spark.plans.schema import field_to_schema
    from esri_dump_spark.sources.feature_server import SyntheticFeatureServer
    import json as _json
    srv = SyntheticFeatureServer(n_features=10)
    doc = field_to_schema(srv.metadata())
    return spark.createDataFrame(
        [(_json.dumps(doc, sort_keys=True),)], "schema_json string")


def q_tilejson_doc(spark, sf_dir):
    """EP3: layer metadata -> TileJSON document (single row)."""
    from esri_dump_spark.plans.tilejson import tilejson
    from esri_dump_spark.sources.feature_server import SyntheticFeatureServer
    import json as _json
    srv = SyntheticFeatureServer(n_features=10)
    doc = tilejson(srv.metadata(), resource_type="FeatureServer")
    return spark.createDataFrame(
        [(_json.dumps(doc, sort_keys=True),)], "tilejson string")


def q_stylejson_doc(spark, sf_dir):
    """EP3: drawingInfo renderer -> MapLibre style document (single
    row; match/step expression compilation). Golden-literal
    oracle."""
    from esri_dump_spark.plans.stylejson import stylejson
    import json as _json
    meta = {"name": "synthetic-layer", "drawingInfo": {
        "transparency": 20,
        "renderer": {
            "type": "classBreaks", "field": "value",
            "classBreakInfos": [
                {"classMaxValue": 100.0, "symbol": {
                    "type": "esriSFS", "color": [254, 240, 217, 255],
                    "style": "esriSFSSolid",
                    "outline": {"color": [0, 0, 0, 255], "width": 0.4,
                                "style": "esriSLSSolid"}}},
                {"classMaxValue": 1000.0, "symbol": {
                    "type": "esriSFS", "color": [252, 141, 89, 255],
                    "style": "esriSFSSolid",
                    "outline": {"color": [0, 0, 0, 255], "width": 0.4,
                                "style": "esriSLSSolid"}}},
            ]},
        "labelingInfo": [{
            "labelExpression": "[name]",
            "labelPlacement": "esriServerPointLabelPlacementAboveCenter",
            "symbol": {"type": "esriTS", "color": [50, 50, 50, 255],
                       "font": {"family": "Arial", "size": 10}}}]}}
    doc = stylejson(meta)
    return spark.createDataFrame(
        [(_json.dumps(doc, sort_keys=True),)], "stylejson string")


def q_discovery(spark, sf_dir):
    """S6: recursive folder/service/layer catalog walk. Golden-literal
    oracle."""
    from esri_dump_spark.sources.discovery import discover_tree
    from esri_dump_spark.sources.feature_server import SyntheticFeatureServer
    meta = SyntheticFeatureServer(n_features=10).metadata()
    tree = {"folders": {"base": {"services": [
        {"name": "wildfire", "type": "FeatureServer",
         "layers": [meta, meta]}]}},
        "services": [{"name": "roads", "type": "MapServer",
                      "layers": [meta]}]}
    return discover_tree(spark, tree)


def q_lineage_metrics(spark, sf_dir):
    """North-rule lineage: per-partition (n_rows, bytes, t_start/t_end,
    status) records emitted by the extraction, enabling
    checkpoint-resume via anti-join. Oracled against the invariant
    totals (golden literal — the inputs are fixed synthetics)."""
    import tempfile
    from esri_dump_spark.operators.extract import extract
    from esri_dump_spark.operators.lineage import with_lineage, read_lineage
    from esri_dump_spark.sources.feature_server import SyntheticFeatureServer
    srv = SyntheticFeatureServer(n_features=1000, max_record_count=250)
    sink = tempfile.mkdtemp(prefix="lineage_")
    feats = with_lineage(extract(spark, srv), "bench-run", sink)
    n = feats.count()  # materialize -> lineage rows written
    lin = read_lineage(spark, sink)
    # partition COUNT varies with AQE shuffle coalescing, so the gated
    # rollup keys on the invariants: per-status row totals must equal
    # the decoded feature count (1000 - 11 attribute-only) exactly
    return lin.groupBy("run_id", "status").agg(
        F.sum("n_rows").alias("total_rows"))


# ------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PIP spatial join + per-polygon rollup at sf0.001."""
    pts = _pip_points(spark, SF_DEFAULT)
    joined = point_in_polygon_join(pts, _rect_diamond_pdf(), res=8)
    return (joined.groupBy("poly_id", "poly_name")
            .agg(F.count(F.lit(1)).alias("n_points")))


# Node kinds a REGISTRY row's ``plan`` counts, in tuple order: exact
# node names in the unexecuted physical plan at SF_DEFAULT, so
# BroadcastExchange and ReusedExchange are not counted as Exchange.
PLAN_NODES = ("Exchange", "BroadcastHashJoin", "SortMergeJoin",
              "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Sort")


class Query(NamedTuple):
    """One registered query, named after its builder minus ``q_``.
    ``bench`` puts it in bench.py's headline suite, ``plan`` is its
    PLAN_NODES fingerprint (checked by tests/test_physical_plans.py),
    and ``rows_only`` is the rationale of a query with no
    ``oracle_sql()`` twin."""
    builder: Callable[[SparkSession, str], DataFrame]
    bench: bool
    plan: tuple[int, ...]
    rows_only: str | None = None

    @property
    def name(self) -> str:
        return self.builder.__name__[2:]


REGISTRY = (
    #     builder                    bench  plan (PLAN_NODES counts)
    Query(q_split_assign,            True,  (1, 0, 0, 0, 0, 0, 0)),
    Query(q_stratified_sample,       True,  (1, 0, 0, 0, 0, 0, 2)),
    Query(q_sample_fraction,         False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_mix_sources,             True,  (4, 2, 1, 0, 0, 0, 3)),
    Query(q_token_budget,            True,  (1, 0, 0, 0, 0, 0, 1)),
    Query(q_decontaminate,           True,  (3, 1, 0, 0, 0, 0, 0)),
    Query(q_poly_intersect_anti,     False, (3, 3, 1, 1, 0, 2, 2)),
    Query(q_frame_sample,            True,  (2, 0, 0, 0, 0, 1, 0)),
    Query(q_video_near_dup,          True,  (9, 3, 0, 0, 0, 4, 0)),
    Query(q_video_cluster_dedup,     True,  (3, 0, 1, 0, 0, 0, 2)),
    Query(q_audio_cluster_dedup,     True,  (3, 0, 1, 0, 0, 0, 2)),
    Query(q_bm25_topk,               True,  (1, 0, 0, 0, 0, 0, 0)),
    Query(q_hybrid_retrieval,        True,  (4, 0, 1, 0, 0, 0, 4)),
    Query(q_weighted_sample,         True,  (0, 0, 0, 0, 0, 0, 0)),
    Query(q_pack_sequences,          True,  (1, 0, 0, 0, 0, 0, 1)),
    Query(q_quantize_embeddings,     True,  (0, 0, 0, 0, 0, 0, 0)),
    Query(q_quant_ann,               True,  (0, 0, 0, 0, 0, 0, 1)),
    Query(q_lm_typicality,           True,  (4, 1, 0, 0, 0, 0, 0)),
    Query(q_mad_outliers,            True,  (5, 2, 1, 0, 0, 0, 2)),
    Query(q_temperature_mix,         True,  (4, 1, 0, 0, 0, 0, 1)),
    Query(q_shard_plan,              True,  (1, 0, 0, 0, 0, 0, 0)),
    Query(q_dataset_profile,         True,  (2, 0, 0, 0, 0, 0, 2)),
    Query(q_normalize_text,          True,  (0, 0, 0, 0, 0, 0, 0)),
    Query(q_winnow_fps,              True,  (2, 0, 0, 0, 0, 0, 0)),
    Query(q_hll_users,               True,  (5, 1, 0, 0, 0, 0, 1)),
    Query(q_cm_words,                True,  (3, 1, 0, 0, 0, 0, 1)),
    Query(q_bloom_decontaminate,     True,  (6, 3, 0, 0, 0, 0, 1)),
    Query(q_hist_quants,             True,  (5, 1, 0, 0, 0, 0, 2)),
    Query(q_moment_stats,            True,  (2, 0, 0, 0, 0, 0, 1)),
    Query(q_winsorize_orders,        True,  (7, 1, 1, 0, 0, 0, 4)),
    Query(q_corpus_diversity,        True,  (3, 0, 0, 0, 0, 0, 1)),
    Query(q_zipf_topk,               True,  (3, 0, 0, 0, 0, 0, 3)),
    Query(q_skew_report,             True,  (2, 0, 0, 0, 0, 0, 2)),
    Query(q_rank_normalize,          True,  (2, 0, 0, 0, 0, 0, 2)),
    Query(q_dup_ngrams,              True,  (1, 0, 0, 0, 0, 0, 1)),
    Query(q_gopher_gate,             True,  (1, 0, 0, 0, 0, 0, 1)),
    Query(q_dedup_incremental,       True,  (3, 1, 0, 0, 0, 0, 3)),
    Query(q_extract_synthetic,       True,  (3, 0, 0, 0, 0, 1, 2)),
    Query(q_extract_bbox,            False, (3, 0, 0, 0, 0, 1, 2)),
    Query(q_pip_fixture_polygons,    False, (2, 1, 0, 0, 0, 0, 1)),
    Query(q_verify_images,           False, (1, 0, 0, 0, 0, 1, 0)),
    Query(q_resize_images,           False, (1, 0, 0, 0, 0, 1, 0)),
    Query(q_phash_near_dup,          False, (4, 0, 0, 0, 0, 0, 0)),
    Query(q_tilejson_doc,            False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_emb_cluster_dedup,       False, (2, 0, 1, 0, 0, 0, 2)),
    Query(q_polygon_stats,           False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_line_dedup,              True,  (3, 1, 0, 0, 0, 0, 0)),
    Query(q_govern_corpus,           True,  (3, 2, 0, 0, 0, 0, 0)),
    Query(q_stream_windowed,         False, (1, 0, 0, 0, 0, 0, 0)),
    Query(q_lineage_metrics,         False, (1, 0, 0, 0, 0, 0, 0)),
    # ---- the recorded window ends here (first 50 rows) ----
    Query(q_radius_geo,              True,  (0, 1, 0, 0, 0, 0, 0)),
    Query(q_emb_near_dup_lsh_golden, False, (3, 3, 0, 2, 0, 0, 0)),
    Query(q_knn_geo,                 True,  (0, 0, 0, 0, 0, 0, 0)),
    Query(q_tile_pyramid,            True,  (15, 0, 0, 0, 0, 0, 0)),
    Query(q_poly_intersect_join,     True,  (1, 3, 0, 1, 0, 2, 0)),
    Query(q_minhash_pairs,           False, (5, 3, 0, 4, 0, 0, 0)),
    Query(q_ivf_ann,                 False, (1, 1, 0, 3, 0, 0, 2)),
    Query(q_crossmodal_near_dup,     False, (7, 0, 1, 2, 0, 0, 2)),
    Query(q_topfeatures_extract,     False, (3, 0, 0, 0, 0, 1, 1)),
    Query(q_asof_events,             True,  (1, 0, 0, 0, 0, 0, 1)),
    Query(q_salted_join,             True,  (1, 1, 0, 0, 0, 0, 0)),
    Query(q_audio_stats,             True,  (1, 0, 0, 0, 0, 1, 0)),
    Query(q_cell_assign,             True,  (1, 0, 0, 0, 0, 0, 0)),
    Query(q_renderer_compile,        False, (1, 0, 0, 0, 0, 0, 0)),
    Query(q_token_count,             True,  (0, 0, 0, 0, 0, 0, 0)),
    Query(q_ngram_jaccard_capped,    True,  (7, 4, 0, 0, 0, 0, 0)),
    Query(q_where_pushdown,          False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_pip_rect,                True,  (1, 1, 0, 0, 0, 0, 1)),
    Query(q_image_decode_stats,      True,  (1, 0, 0, 0, 0, 1, 0)),
    Query(q_winnow_overlap,          False, (7, 3, 0, 0, 0, 0, 0)),
    Query(q_audio_near_dup,          True,  (9, 3, 0, 0, 0, 4, 0)),
    Query(q_simhash_pairs,           False, (5, 0, 0, 2, 0, 0, 0)),
    Query(q_minhash_pairs_hashkey,   True,  (5, 3, 0, 4, 0, 0, 0)),
    Query(q_discovery,               False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_schema_doc,              False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_extract_ids,             False, (3, 0, 0, 0, 0, 1, 1)),
    Query(q_image_quality,           True,  (1, 0, 0, 0, 0, 1, 0)),
    Query(q_stylejson_doc,           False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_pip_rect_dist,           False, (1, 1, 0, 0, 0, 0, 1)),
    Query(q_interval_attrib,         True,  (0, 1, 0, 0, 0, 0, 0)),
    Query(q_leakage_safe_split,      True,  (2, 0, 1, 0, 0, 0, 2)),
    Query(q_phash_cluster_dedup,     True,  (3, 0, 1, 0, 0, 0, 2)),
    Query(q_image_clean,             False, (6, 3, 1, 0, 0, 3, 2)),
    Query(q_emb_near_dup_lsh,        False, (1, 3, 0, 2, 0, 0, 0),
          "LSH recall < 1 by design; recall vs the exact cosine "
          "twin is pinned in tests/test_pipeline_ops.py"),
    Query(q_bpe_merges,              False, (0, 0, 0, 0, 0, 0, 0),
          "iterative: merge k depends on merges 1..k-1; pinned "
          "against the Python reference BPE in tests/test_bpe.py"),
    Query(q_bpe_stats,               True,  (2, 1, 0, 0, 0, 1, 0),
          "applies the iterative bpe_merges table; encode is "
          "pinned against the reference encoder in tests/test_bpe.py"),
    Query(q_minhash_cluster_dedup,   False, (3, 0, 1, 0, 0, 0, 3)),
    Query(q_corpus_clean,            False, (9, 3, 1, 4, 0, 0, 13)),
    Query(q_dedup_first_event,       True,  (1, 0, 0, 0, 0, 0, 2)),
    Query(q_emb_near_dup,            False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_tile_assign,             True,  (1, 0, 0, 0, 0, 0, 0)),
    Query(q_agg_pricing,             True,  (1, 0, 0, 0, 0, 0, 0)),
    Query(q_join_broadcast,          True,  (1, 3, 0, 0, 0, 0, 0)),
    Query(q_class_breaks,            False, (1, 0, 0, 0, 0, 0, 0)),
    Query(q_extent_minmax,           False, (1, 0, 0, 0, 0, 0, 0)),
    Query(q_pip_hole,                True,  (1, 1, 0, 0, 0, 0, 1)),
    Query(q_pip_multi,               False, (0, 1, 0, 0, 0, 0, 0)),
    Query(q_pip_anti,                False, (1, 2, 0, 0, 0, 0, 0)),
    Query(q_knn_geo_sparse,          False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_quality_score,           True,  (0, 0, 0, 0, 0, 0, 0)),
    Query(q_repetition,              True,  (0, 0, 0, 0, 0, 0, 0)),
    Query(q_redact_pii,              True,  (0, 0, 0, 0, 0, 0, 0)),
    Query(q_chunk_text,              True,  (0, 0, 0, 0, 0, 0, 0)),
    Query(q_chunk_overlap,           True,  (0, 0, 0, 0, 0, 0, 0)),
    Query(q_top_quality,             True,  (1, 0, 0, 0, 0, 0, 1)),
    Query(q_dedup_report,            False, (4, 0, 0, 0, 0, 0, 0)),
    Query(q_lang_id,                 True,  (1, 0, 0, 0, 0, 0, 0)),
    Query(q_fingerprint,             False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_ann_cosine,              True,  (1, 0, 0, 0, 0, 0, 2)),
    Query(q_shipping_priority,       True,  (1, 2, 0, 0, 0, 0, 0)),
    Query(q_sessionize,              False, (1, 0, 0, 0, 0, 0, 1)),
    Query(q_salted_agg,              True,  (2, 0, 0, 0, 0, 0, 0)),
    Query(q_extract_bbox_ids,        False, (3, 0, 0, 0, 0, 1, 1)),
    Query(q_scale_zoom,              False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_concat_key,              False, (1, 1, 0, 0, 0, 0, 0)),
    Query(q_union_distinct,          False, (1, 0, 0, 0, 0, 0, 0)),
    Query(q_match_expr,              False, (1, 0, 0, 0, 0, 0, 0)),
    Query(q_pip_diamond,             True,  (1, 1, 0, 0, 0, 0, 1)),
    Query(q_knn_geo_shuffle,         False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_sessionize_window,       True,  (1, 0, 0, 0, 0, 0, 1)),
    Query(q_events_hourly,           True,  (1, 0, 0, 0, 0, 0, 0)),
    Query(q_ngram_jaccard,           False, (7, 3, 0, 0, 0, 0, 0)),
    Query(q_running_total,           False, (1, 0, 0, 0, 0, 0, 1)),
    Query(q_value_quantiles,         False, (1, 0, 0, 0, 0, 0, 0)),
    Query(q_embedding_norms,         False, (0, 0, 0, 0, 0, 0, 0)),
    Query(q_supplier_volume,         True,  (1, 4, 0, 0, 0, 0, 0)),
    Query(q_count_probe,             False, (1, 0, 0, 0, 0, 0, 0)),
    Query(q_exact_dedup,             True,  (2, 0, 0, 0, 0, 0, 2)),
    Query(q_topk_window,             True,  (1, 0, 0, 0, 0, 0, 2)),
    Query(q_date_iso,                False, (0, 0, 0, 0, 0, 0, 0)),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query by name, in REGISTRY order. The external
    correctness gate records the first 50 names, so any change to that
    prefix must be deliberate."""
    return {q.name: q.builder for q in REGISTRY}


def oracle_sql() -> dict[str, str]:
    qmeta = X.quality_score_sql("text")
    rmeta = X.repetition_signals_sql("text")
    pmeta = X.redact_pii_sql("text")
    rect_rc = raycast_sql(RECT_RING, "lon", "lat")
    diam_rc = raycast_sql(DIAMOND_RING, "lon", "lat")
    pip_src = (f"SELECT c_custkey, {_CLON} AS lon, {_CLAT} AS lat "
               f"FROM customer")
    oracles = {
        "count_probe": "SELECT count(*) AS n_rows FROM lineitem",
        "dedup_first_event": """
            SELECT user_id, event_type, event_id AS first_event FROM (
              SELECT user_id, event_type, event_id,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY event_id) rn
              FROM events) WHERE rn = 1""",
        "where_pushdown": """
            SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            WHERE l_quantity > 45 AND l_discount < 0.02""",
        "agg_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "join_broadcast": """
            SELECT r_name AS region_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name""",
        "topk_window": """
            SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
              FROM orders) WHERE rank <= 3""",
        "date_iso": """
            SELECT event_id,
                   substring(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'), 1, 23)
                   || 'Z' AS ts_iso
            FROM (SELECT * FROM events ORDER BY event_id LIMIT 500)""",
        "union_distinct": """
            SELECT DISTINCT c_nationkey FROM (
              SELECT c_nationkey FROM customer WHERE c_acctbal > 9000
              UNION ALL
              SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING')""",
        "class_breaks": """
            SELECT CASE WHEN p_size < 10 THEN 'small'
                        WHEN p_size < 25 THEN 'medium'
                        WHEN p_size < 40 THEN 'large'
                        ELSE 'huge' END AS size_class,
                   count(*) AS n, round(avg(p_retailprice), 4) AS avg_price
            FROM part GROUP BY 1""",
        "match_expr": """
            SELECT CASE WHEN p_brand = 'Brand#11' THEN 'red'
                        WHEN p_brand = 'Brand#22' THEN 'green'
                        WHEN p_brand = 'Brand#33' THEN 'blue'
                        ELSE 'gray' END AS render_color, count(*) AS n
            FROM part GROUP BY 1""",
        "concat_key": """
            SELECT c_mktsegment || '|' || n_name AS uv_key, count(*) AS n
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1""",
        "scale_zoom": """
            SELECT o_orderkey,
                   round(log2(559082264.0 / o_totalprice), 2) AS zoom
            FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 1000)""",
        "extent_minmax": f"""
            SELECT round(min(lon), 6) AS xmin, round(min(lat), 6) AS ymin,
                   round(max(lon), 6) AS xmax, round(max(lat), 6) AS ymax
            FROM ({pip_src})""",
        "cell_assign": f"""
            SELECT {cell_sql_expr(_LON_G, _LAT_G, 5)} AS cell,
                   count(*) AS n
            FROM orders GROUP BY 1""",
        "tile_assign": f"""
            SELECT {tile_id_sql_expr(_LON_G, _LAT_G, 7)} AS tile_id,
                   count(*) AS n
            FROM orders GROUP BY 1""",
        # pyramid twin: closed-form per-level recomputation from the
        # leaf tiles (x >> d, y >> d), independent of the engine's
        # iterative parent-rollup plan
        "tile_pyramid": f"""
            WITH leaf AS (
              SELECT {tile_id_sql_expr(_LON_G, _LAT_G, 8)} AS tile_id
              FROM orders),
            lv(z) AS (VALUES (8), (7), (6), (5), (4))
            SELECT (CAST(z AS BIGINT) * {1 << 58}
                    + (((tile_id >> 29) & 536870911) >> (8 - z)) * {1 << 29}
                    + ((tile_id & 536870911) >> (8 - z))) AS tile_id,
                   count(*) AS n
            FROM leaf CROSS JOIN lv GROUP BY 1""",
        "pip_rect": f"""
            SELECT c_custkey FROM ({pip_src}) WHERE {rect_rc}
            ORDER BY c_custkey""",
        "pip_diamond": f"""
            SELECT c_custkey FROM ({pip_src}) WHERE {diam_rc}
            ORDER BY c_custkey""",
        "pip_anti": f"""
            SELECT c_custkey FROM ({pip_src})
            WHERE NOT ({rect_rc}) AND NOT ({diam_rc})""",
        "pip_hole": f"""
            SELECT c_custkey FROM ({pip_src})
            WHERE ({rect_rc}) <> ({raycast_sql(HOLE_RING, 'lon', 'lat')})
            ORDER BY c_custkey""",
        "pip_multi": f"""
            SELECT c_custkey, 0 AS poly_id FROM ({pip_src})
            WHERE {rect_rc}
            UNION ALL
            SELECT c_custkey, 1 AS poly_id FROM ({pip_src})
            WHERE {diam_rc}""",
        "running_total": """
            SELECT o_custkey, o_orderkey,
                   round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING), 2)
                   AS cum_spend
            FROM orders""",
        "value_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type""",
        "knn_geo": f"""
            WITH pts AS (SELECT c_custkey AS point_id, {_CLON} AS lon,
                                {_CLAT} AS lat FROM customer),
            qs AS (SELECT point_id AS query_id, lon AS qlon, lat AS qlat
                   FROM pts ORDER BY point_id LIMIT 20),
            scored AS (
              SELECT q.query_id, p.point_id,
                     sqrt((q.qlon - p.lon) * (q.qlon - p.lon)
                        + (q.qlat - p.lat) * (q.qlat - p.lat)) AS dist,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY sqrt((q.qlon - p.lon) * (q.qlon - p.lon)
                            + (q.qlat - p.lat) * (q.qlat - p.lat)) ASC,
                            p.point_id ASC) AS rank
              FROM qs q CROSS JOIN pts p)
            SELECT query_id, point_id, rank, round(dist, 6) AS dist_r
            FROM scored WHERE rank <= 5""",
        "knn_geo_sparse": f"""
            WITH pts AS (SELECT c_custkey AS point_id, {_CLON} AS lon,
                                {_CLAT} AS lat FROM customer
                         WHERE c_custkey % 37 = 0),
            qs AS (SELECT point_id AS query_id, lon AS qlon, lat AS qlat
                   FROM pts ORDER BY point_id LIMIT 10),
            scored AS (
              SELECT q.query_id, p.point_id,
                     sqrt((q.qlon - p.lon) * (q.qlon - p.lon)
                        + (q.qlat - p.lat) * (q.qlat - p.lat)) AS dist,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY sqrt((q.qlon - p.lon) * (q.qlon - p.lon)
                            + (q.qlat - p.lat) * (q.qlat - p.lat)) ASC,
                            p.point_id ASC) AS rank
              FROM qs q CROSS JOIN pts p)
            SELECT query_id, point_id, rank, round(dist, 6) AS dist_r
            FROM scored WHERE rank <= 5""",
        "radius_geo": f"""
            WITH pts AS (SELECT c_custkey AS point_id, {_CLON} AS lon,
                                {_CLAT} AS lat FROM customer),
            qs AS (SELECT point_id AS query_id, lon AS qlon, lat AS qlat
                   FROM pts ORDER BY point_id LIMIT 30)
            SELECT q.query_id, p.point_id,
                   round(sqrt((q.qlon - p.lon) * (q.qlon - p.lon)
                            + (q.qlat - p.lat) * (q.qlat - p.lat)), 6)
                     AS dist_r
            FROM qs q CROSS JOIN pts p
            WHERE sqrt((q.qlon - p.lon) * (q.qlon - p.lon)
                     + (q.qlat - p.lat) * (q.qlat - p.lat)) <= 2.0""",
        "token_count": f"SELECT doc_id, {X.token_count_sql('text')} AS n_tokens FROM documents",
        "bm25_topk": bm25_topk_oracle_sql(_BM25_TERMS, k=12),
        # all-integer until one ints-below-2^53 division (shared
        # typicality_sql spelling) — bit-exact, no rounding defense
        "lm_typicality": bigram_lm_score_oracle_sql(
            min_count=_LM_MIN_COUNT),
        # rrf depends ONLY on integer ranks (shared rrf_weight_sql
        # spelling, fixed-order sum) — float-wobble-free twin; the
        # dense CTE repeats ann_cosine's proven rank spelling
        "hybrid_retrieval": f"""
            WITH _sparse AS (
              {bm25_topk_oracle_sql(_BM25_TERMS, k=_HYBRID_K_EACH)}),
            _dense AS (
              SELECT vec_id, rank FROM (
                SELECT e.vec_id,
                       row_number() OVER (ORDER BY
                         list_cosine_similarity(q.qe,
                           CAST(e.embedding AS DOUBLE[])) DESC,
                         e.vec_id ASC) AS rank
                FROM (SELECT CAST(embedding AS DOUBLE[]) AS qe
                      FROM embeddings WHERE vec_id = {_HYBRID_QVEC}) q
                CROSS JOIN embeddings e)
              WHERE rank <= {_HYBRID_K_EACH}),
            _sc AS (SELECT doc_id, {rrf_weight_sql(60)} AS _s0
                    FROM _sparse),
            _dc AS (SELECT vec_id AS doc_id, {rrf_weight_sql(60)} AS _s1
                    FROM _dense),
            _f AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                          COALESCE(a._s0, 0.0) + COALESCE(b._s1, 0.0)
                          AS rrf,
                          CAST(a._s0 IS NOT NULL AS BIGINT)
                          + CAST(b._s1 IS NOT NULL AS BIGINT) AS n_lists
                   FROM _sc a FULL OUTER JOIN _dc b
                   ON a.doc_id = b.doc_id)
            SELECT doc_id, rrf, n_lists,
                   row_number() OVER (ORDER BY rrf DESC, doc_id ASC)
                   AS rank
            FROM _f ORDER BY rrf DESC, doc_id ASC LIMIT 10""",
        "quality_score": f"""
            SELECT doc_id, {qmeta['n_chars_t']} AS n_chars_t,
                   {qmeta['n_words']} AS n_words,
                   {qmeta['punct_ratio']} AS punct_ratio,
                   {qmeta['stop_ratio']} AS stop_ratio,
                   {qmeta['quality']} AS quality
            FROM documents""",
        "lang_id": f"""
            SELECT {X.language_id_sql('text')} AS lang_pred, count(*) AS n
            FROM documents GROUP BY 1""",
        # all-integer cut rank*100 <= 20*n; score = quality*10 +
        # stop_ratio is plain IEEE double math, identical per engine
        "top_quality": f"""
            SELECT doc_id, lang, quality FROM (
                SELECT doc_id, lang, quality,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY score DESC NULLS LAST,
                                    doc_id ASC) AS rk,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM (SELECT doc_id, lang,
                             {qmeta['quality']} AS quality,
                             {qmeta['quality']} * 10
                                 + {qmeta['stop_ratio']} AS score
                      FROM documents) q) t
            WHERE rk * 100 <= 20 * n""",
        "repetition": f"""
            SELECT doc_id, {rmeta['n_lines']} AS n_lines,
                   {rmeta['dup_line_frac']} AS dup_line_frac,
                   {rmeta['dup_word_frac']} AS dup_word_frac,
                   {rmeta['top_word_frac']} AS top_word_frac
            FROM documents""",
        "redact_pii": f"""
            SELECT doc_id, {pmeta['n_email']} AS n_email,
                   {pmeta['n_ip']} AS n_ip,
                   {pmeta['n_phone']} AS n_phone,
                   {pmeta['redacted']} AS redacted
            FROM (SELECT doc_id,
                         -- || not concat(): DuckDB's concat SKIPS
                         -- NULLs while Spark's propagates them; ||
                         -- propagates in both, so a future NULL text
                         -- degrades identically on both sides
                         text || ' contact u' || doc_id ||
                         '@example.com from 10.0.' ||
                         (doc_id % 256) || '.7 call 555-01' ||
                         (doc_id % 10) AS text
                  FROM documents) t""",
        "chunk_text": X.chunk_text_sql("doc_id", "text", 120,
                                       "documents"),
        "chunk_overlap": X.chunk_text_sql("doc_id", "text", 120,
                                          "documents", stride=80),
        "line_dedup": f"""
            SELECT doc_id, md5(text_dedup) AS dedup_md5,
                   n_lines, n_removed
            FROM ({X.line_dedup_sql(
                "doc_id", "text", 2, "text_dedup", "", f'''
                (SELECT doc_id,
                        array_to_string(list_transform(
                            range(1, CAST(ceil(len(text)/40.0)
                                  AS BIGINT) + 1),
                            i -> substr(text,
                                 CAST((i-1)*40+1 AS BIGINT), 40)),
                            chr(10)) AS text
                 FROM documents WHERE len(text) > 0)''')})""",
        "fingerprint": f"""
            SELECT doc_id, {X.fingerprint_sql('text')} AS fp
            FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 500)""",
        "exact_dedup": """
            SELECT count(*) AS n_unique FROM (
              SELECT min(doc_id) FROM documents GROUP BY text)""",
        "ann_cosine": """
            WITH q AS (SELECT vec_id AS query_id,
                              CAST(embedding AS DOUBLE[]) AS qe
                       FROM embeddings ORDER BY vec_id LIMIT 3),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS cosine,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) DESC,
                                e.vec_id ASC) AS rank
              FROM q CROSS JOIN embeddings e)
            SELECT query_id, vec_id, rank,
                   CAST(round(cosine, 4) AS DOUBLE) + 0.0 AS cosine_r
            FROM scored WHERE rank <= 5""",
        "ivf_ann": """
            WITH q AS (SELECT vec_id AS query_id,
                              CAST(embedding AS DOUBLE[]) AS qe
                       FROM embeddings ORDER BY vec_id LIMIT 5),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS c,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) DESC,
                                e.vec_id ASC) AS rank
              FROM q CROSS JOIN embeddings e)
            SELECT query_id, vec_id,
                   CAST(round(c, 6) AS DOUBLE) AS cosine, rank
            FROM scored WHERE rank <= 5""",
        # int8 quantization twins: the scalar lambda body is THE
        # shared spelling (ann.QUANT_LAMBDA_SQL — floor-based, never
        # round()); array HOFs differ per engine (transform vs
        # list_transform), the per-element math is identical. Sums
        # are integer-valued << 2^53 (exact whatever the fold order)
        # and CAST AS BIGINT per the HUGEINT invariant.
        "quantize_embeddings": f"""
            WITH _q AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS _vd,
                     list_max(list_transform(CAST(embedding AS
                       DOUBLE[]), x -> abs(x))) AS _mx
              FROM embeddings),
            _qz AS (
              SELECT vec_id,
                     CASE WHEN _mx = CAST(0 AS DOUBLE)
                          THEN list_transform(_vd, x -> 0)
                          ELSE list_transform(_vd,
                                 x -> {A.QUANT_LAMBDA_SQL}) END
                     AS qvec,
                     _mx / CAST(127 AS DOUBLE) AS scale
              FROM _q)
            SELECT vec_id, round(scale, 6) AS scale_r,
                   CAST(list_sum(list_transform(qvec,
                     x -> CAST(x AS BIGINT))) AS BIGINT) AS q_sum,
                   CAST(list_sum(list_transform(qvec,
                     x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS q_norm
            FROM _qz""",
        "quant_ann": f"""
            WITH _q AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS _vd,
                     list_max(list_transform(CAST(embedding AS
                       DOUBLE[]), x -> abs(x))) AS _mx
              FROM embeddings),
            _qz AS (
              SELECT vec_id,
                     CASE WHEN _mx = CAST(0 AS DOUBLE)
                          THEN list_transform(_vd, x -> 0)
                          ELSE list_transform(_vd,
                                 x -> {A.QUANT_LAMBDA_SQL}) END
                     AS qvec
              FROM _q),
            _n AS (
              SELECT vec_id, qvec,
                     CAST(list_sum(list_transform(qvec,
                       x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS _pn
              FROM _qz WHERE qvec IS NOT NULL),
            _qr AS (SELECT qvec AS _qq, _pn AS _qn FROM _n
                    WHERE vec_id = 3),
            _sc AS (
              SELECT n.vec_id,
                     CAST(list_sum(list_transform(
                            list_zip(q._qq, n.qvec),
                            s -> CAST(s[1] AS BIGINT) * s[2]))
                          AS DOUBLE)
                     / sqrt(CAST(q._qn AS DOUBLE)
                            * CAST(n._pn AS DOUBLE)) AS _cos
              FROM _n n CROSS JOIN _qr q
              WHERE n._pn > 0 AND q._qn > 0),
            _sel AS (
              SELECT vec_id, round(_cos, 6) + 0.0 AS cosq_r
              FROM _sc ORDER BY _cos DESC, vec_id ASC LIMIT 10)
            SELECT vec_id, cosq_r,
                   row_number() OVER (ORDER BY cosq_r DESC,
                                      vec_id ASC) AS rank
            FROM _sel""",
        "embedding_norms": """
            SELECT vec_id,
                   round(sqrt(list_aggregate(
                       list_transform(embedding,
                                      v -> CAST(v AS DOUBLE) * v), 'sum')), 4) AS l2
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 1000)""",
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2""",
        # DuckDB's NATIVE ASOF JOIN — an independent temporal-join
        # implementation; right side pre-deduped per (user, ts) by max
        # event_id = the engine's tiebreak='view_id' semantics
        "asof_events": """
            WITH clicks AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'),
            v AS (
                SELECT user_id, ts, max(event_id) AS view_id,
                       arg_max(value, event_id) AS view_value
                FROM events WHERE event_type = 'view'
                GROUP BY user_id, ts)
            SELECT c.event_id, c.user_id, v.view_id, v.view_value,
                   v.ts AS view_ts
            FROM clicks c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.ts >= v.ts""",
        # plain inequality join — the semantics the bucketed
        # equi-join plan must reproduce exactly, boundaries inclusive
        "interval_attrib": """
            WITH s AS (
                SELECT event_id AS signup_id, user_id, ts AS w_start,
                       ts + INTERVAL 2 HOUR AS w_end
                FROM events WHERE event_type = 'signup'),
            p AS (
                SELECT event_id, user_id, ts, value FROM events
                WHERE event_type = 'purchase')
            SELECT p.event_id, p.user_id, s.signup_id,
                   round(p.value, 2) AS value_r
            FROM p JOIN s ON p.user_id = s.user_id
                         AND p.ts >= s.w_start AND p.ts <= s.w_end""",
        # shared es_key_sql spelling over the shared hash — the same
        # key expression Spark plans, so the only cross-engine wobble
        # is ln() (sub-ulp; 60-bit key gaps dwarf a double ulp)
        "weighted_sample": f"""
            SELECT doc_id, n_chars FROM (
              SELECT doc_id, n_chars,
                     row_number() OVER (ORDER BY
                       {SM.es_key_sql(
                           SM.hash_u60_sql("CAST(doc_id AS VARCHAR)",
                                           "ws"), "n_chars")} DESC,
                       doc_id ASC) AS _rn
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0)
            WHERE _rn <= 50""",
        # all-integer: running sum over the shared hash order, then
        # integer division (DuckDB spells it //, Spark DIV — identical
        # nonnegative semantics); sum CAST to BIGINT per the HUGEINT
        # invariant; explicit ROWS frame (RANGE is the SQL default)
        "pack_sequences": f"""
            SELECT doc_id, source,
                   CAST(_before // 2048 AS BIGINT) AS bin_id,
                   CAST(_before % 2048 AS BIGINT) AS bin_offset
            FROM (
              SELECT doc_id, source,
                     CAST(sum(n_chars) OVER (
                       PARTITION BY source
                       ORDER BY {SM.hash_u60_sql(
                           "CAST(doc_id AS VARCHAR)", "pk")} ASC,
                                doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - n_chars
                          AS BIGINT) AS _before
              FROM documents)""",
        # recomputes the md5 low-60-bit split hash and the label CASE
        # via the ONE shared SQL spelling (sample.hash_u60_sql /
        # split_case_sql — CLAUDE.md invariant; 90/5/5, seed 'v1').
        # sum over an integer column must be CAST to BIGINT: DuckDB's
        # integer sum() returns HUGEINT, which lands in pandas as
        # float64 and breaks the driver's representation-sensitive
        # hash on identical values (the one r04 red cell).
        "split_assign": f"""
            WITH h AS (
                SELECT n_chars,
                       {SM.hash_u60_sql("CAST(doc_id AS VARCHAR)", "v1")} AS hv
                FROM documents)
            SELECT {SM.split_case_sql("hv")} AS split,
                   count(*) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM h GROUP BY 1""",
        "stratified_sample": f"""
            SELECT event_id, event_type FROM (
                SELECT event_id, event_type,
                       row_number() OVER (
                           PARTITION BY event_type
                           ORDER BY {SM.hash_u60_sql(
                               "CAST(event_id AS VARCHAR)", "s1")} ASC,
                                event_id ASC) AS rn
                FROM events) t
            WHERE rn <= 40""",
        # integer quotas: rn <= w_i * M with M = min(n_i // w_i) —
        # no float thresholds anywhere, so the engines cannot diverge
        "mix_sources": f"""
            WITH w(source, wt) AS (
                VALUES ('src0', 5), ('src1', 3), ('src2', 1)),
            k AS (
                SELECT d.doc_id, d.source, w.wt,
                       row_number() OVER (
                           PARTITION BY d.source
                           ORDER BY {SM.hash_u60_sql(
                               "CAST(d.doc_id AS VARCHAR)", "mx")} ASC,
                               d.doc_id ASC) AS rn
                FROM documents d JOIN w USING (source)),
            m AS (
                -- weights LEFT JOIN counts: a weighted source with
                -- ZERO rows yields n=0 => M=0, same as the engine
                SELECT min(coalesce(n, 0) // wt) AS mm
                FROM w LEFT JOIN (
                    SELECT source, count(*) AS n
                    FROM k GROUP BY 1) t USING (source))
            SELECT doc_id, source FROM k, m WHERE rn <= wt * mm""",
        # the normalization twin nests the identical staged
        # replacements (same pattern literals, 'g' flag = Spark's
        # always-global replace, chr(10) for newline replacements)
        # over the SAME _NORM_JUNK injection; counts via
        # regexp_extract_all mirror regexp_count per stage
        "normalize_text": (lambda NT: f"""
            WITH j AS (SELECT doc_id, {_NORM_JUNK} AS text
                       FROM documents)
            SELECT doc_id,
                   {NT['n_ctrl']} AS n_ctrl,
                   {NT['n_cr']} AS n_cr,
                   {NT['n_tab']} AS n_tab,
                   {NT['n_spaces']} AS n_spaces,
                   {NT['n_newlines']} AS n_newlines,
                   {NT['n_edge']} AS n_edge,
                   md5({NT['text_norm']}) AS norm_md5,
                   CAST(length({NT['text_norm']}) AS BIGINT)
                       AS n_chars_norm
            FROM j""")(X.normalize_text_sql("text")),
        # winnowing twins recompute the full selection via the
        # explode-membership formulation (same md5-u60 hashes, same
        # rightmost-tie minima); counts are BIGINT, bit_xor is
        # order-free integer-exact in both engines
        "winnow_fps": f"""
            WITH fp AS ({winnow_fingerprints_sql("doc_id", "text",
                                                 16, 8)})
            SELECT doc_id, count(*) AS n_fps,
                   count(DISTINCT fp) AS n_distinct_fp,
                   min(fp) AS min_fp, max(fp) AS max_fp,
                   bit_xor(fp) AS xor_fp
            FROM fp GROUP BY doc_id""",
        "winnow_overlap": f"""
            WITH fp AS ({winnow_fingerprints_sql("doc_id", "text",
                                                 16, 8)}),
            d AS (SELECT DISTINCT doc_id, fp FROM fp),
            ok AS (SELECT fp FROM d GROUP BY fp
                   HAVING count(*) <= 10),
            dd AS (SELECT doc_id, fp FROM d JOIN ok USING (fp))
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   count(*) AS n_shared_fps
            FROM dd a JOIN dd b
                 ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 3""",
        # sketch twins: registers/cells re-derived from the shared
        # spellings (only the DIV-vs-// and shiftleft-vs-<< dialect
        # split differs); est_raw is the fixed-order IEEE chain over
        # an ALL-INTEGER harmonic sum — bit-exact without rounding
        "hll_users": hll_events_oracle_sql(m=256),
        "cm_words": cm_words_oracle_sql(_CM_DEPTH, _CM_WIDTH,
                                        _CM_MIN_EST),
        # bloom membership is ALL-INTEGER: both engines set and test
        # the identical bits, so even false positives replicate
        "bloom_decontaminate": bloom_decon_oracle_sql(4, _BF_M, _BF_K),
        # histogram-sketch quantiles: bucket index / ranks / targets
        # all-integer, the interpolation a fixed-order IEEE chain on
        # integer-valued operands — bit-exact without rounding
        "hist_quants": hist_orders_oracle_sql(*_HQ_GRID, _HQ_PM),
        # winsorization: band edges are the hist construction, the
        # clamp is LEAST/GREATEST over non-NaN doubles — identical
        # comparisons in both engines, boundary rows included
        "winsorize_orders": winsorize_orders_oracle_sql(*_HQ_GRID,
                                                        10, 990),
        # corpus diversity / Zipf head: vocab-sized rollups over the
        # shared bm25 tokenizer; ALL-INTEGER (+ the one-division ttr)
        # with a deterministic rank order — exact by construction
        "corpus_diversity": corpus_diversity_oracle_sql(),
        "zipf_topk": zipf_topk_oracle_sql(5),
        # skew gauge / rank calibration: all-integer counts, ranks
        # and ppm shares; pct_rank is one division — exact twins
        "skew_report": skew_report_oracle_sql("user_id", "events", 15),
        "rank_normalize": rank_normalize_docs_oracle_sql(),
        # gopher n-gram repetition: all-integer char masses + one
        # division per fraction — exact by construction
        "dup_ngrams": dup_ngram_stats_oracle_sql(3),
        # gopher rule filter: every threshold all-integer
        # cross-multiplied — zero floats anywhere, exact twin
        "gopher_gate": gopher_gate_oracle_sql(),
        # incremental ledger dedup: planted L/S duplicate fixture,
        # NOT EXISTS anti-join + min-id survivor — exact
        "dedup_incremental": dedup_incremental_oracle_sql(
            "doc_id % 3 = 0", "doc_id % 3 <> 0"),
        # integer moments: sum/sum-of-squares stay BIGINT (HUGEINT
        # rule), mean/var/std are one division (+ one sqrt) over
        # exactly-cast integers — bit-exact without rounding
        "moment_stats": moment_docs_oracle_sql(),
        # per-column data-card rollup: counts are BIGINT in both
        # engines (count never goes HUGEINT), min/max cast to VARCHAR
        # AFTER aggregation (numeric order, identical int rendering),
        # string min/max compare in binary/UTF-8 order in both
        "dataset_profile": """
            SELECT 'doc_id' AS col_name, count(*) AS n_rows,
                   count(*) - count(doc_id) AS n_null,
                   count(DISTINCT doc_id) AS n_distinct,
                   CAST(min(doc_id) AS VARCHAR) AS min_s,
                   CAST(max(doc_id) AS VARCHAR) AS max_s
            FROM documents
            UNION ALL
            SELECT 'lang', count(*), count(*) - count(lang),
                   count(DISTINCT lang),
                   CAST(min(lang) AS VARCHAR),
                   CAST(max(lang) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'source', count(*), count(*) - count(source),
                   count(DISTINCT source),
                   CAST(min(source) AS VARCHAR),
                   CAST(max(source) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'n_chars', count(*), count(*) - count(n_chars),
                   count(DISTINCT n_chars),
                   CAST(min(n_chars) AS VARCHAR),
                   CAST(max(n_chars) AS VARCHAR)
            FROM documents""",
        # median/MAD are exact dyadic doubles over integral inputs
        # (median of ints = int or x.5; MAD = multiple of 0.25), and
        # k=1 (dyadic; tight enough that both flag states occur at
        # sf0.01) — the > cut is engine-identical with NO rounding;
        # flag CAST to INT so both engines emit int32
        "mad_outliers": """
            WITH m1 AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
                        FROM documents GROUP BY lang),
            d AS (SELECT doc_id, dd.lang, med,
                         abs(CAST(n_chars AS DOUBLE) - med) AS dev
                  FROM documents dd
                  JOIN m1 ON dd.lang IS NOT DISTINCT FROM m1.lang),
            m2 AS (SELECT lang, quantile_cont(dev, 0.5) AS mad
                   FROM d GROUP BY lang)
            SELECT doc_id, d.lang, med, mad,
                   CAST(dev > CAST(1 AS DOUBLE) * mad AS INT) AS outlier
            FROM d JOIN m2 ON d.lang IS NOT DISTINCT FROM m2.lang""",
        # weights derive from the data via the shared temp_weight_sql
        # spelling (sqrt-only powers: IEEE correctly rounded in both
        # engines, so floor lands on the identical integer); quota
        # math is the same all-integer contract as mix_sources
        # WHERE lang IS NOT NULL mirrors the engine's NULL-source
        # contract (dropped BEFORE counting, so a NULL group can
        # never constrain M) — the fixture has no NULL langs, but a
        # copied twin over a nullable key must keep this clause
        "temperature_mix": f"""
            WITH c AS (SELECT lang, count(*) AS n
                       FROM documents WHERE lang IS NOT NULL
                       GROUP BY lang),
            w AS (SELECT lang, n,
                         {SM.temp_weight_sql("n", 0.5)} AS wt FROM c),
            m AS (SELECT min(n // wt) AS mm FROM w),
            k AS (SELECT doc_id, d.lang, wt,
                         row_number() OVER (
                             PARTITION BY d.lang
                             ORDER BY {SM.hash_u60_sql(
                                 "CAST(d.doc_id AS VARCHAR)", "tm")} ASC,
                                 d.doc_id ASC) AS rn
                  FROM documents d
                  JOIN w ON d.lang IS NOT DISTINCT FROM w.lang)
            SELECT doc_id, lang FROM k, m WHERE rn <= wt * mm""",
        # the training-shard sink's directory plan: split CASE +
        # hash mod 8 (hash is non-negative, so % agrees); sums CAST
        # to BIGINT (DuckDB HUGEINT would land as float64)
        "shard_plan": f"""
            WITH h AS (
                SELECT n_chars,
                       {SM.hash_u60_sql("CAST(doc_id AS VARCHAR)",
                                        "shp")} AS hv,
                       {SM.hash_u60_sql("CAST(doc_id AS VARCHAR)",
                                        "shs")} % 8 AS shard
                FROM documents)
            SELECT {SM.split_case_sql("hv")} AS split, shard,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM h GROUP BY 1, 2""",
        # greedy prefix under a per-group running sum: keep rows that
        # START under the budget (exceed by at most one row)
        "token_budget": f"""
            SELECT doc_id, lang, n_chars FROM (
                SELECT doc_id, lang, n_chars,
                       sum(n_chars) OVER (
                           PARTITION BY lang
                           ORDER BY {SM.hash_u60_sql(
                               "CAST(doc_id AS VARCHAR)", "tb")} ASC,
                               doc_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - n_chars AS started
                FROM documents) t
            WHERE started < 5000""",
        # hash = hash_u60 with the empty seed (md5(gram || ':' || ''),
        # i.e. md5(gram || ':')); n_hit_grams counts DISTINCT shared
        # grams (both gram tables are per-side distinct pre-join)
        "decontaminate": f"""
            WITH g AS ({D.word_grams_sql(4)}),
            h AS (SELECT doc_id,
                         {SM.hash_u60_sql("gram")} AS gh
                  FROM g),
            eg AS (SELECT DISTINCT gh FROM h WHERE doc_id % 7 = 0),
            tg AS (SELECT doc_id, gh FROM h WHERE doc_id % 7 <> 0)
            SELECT doc_id, count(*) AS n_hit_grams
            FROM tg JOIN eg USING (gh)
            GROUP BY doc_id
            HAVING count(*) >= 1""",
        # threshold via the shared spelling — the exact integer the
        # engine's sample_fraction embeds in its plan
        "sample_fraction": f"""
            SELECT doc_id, lang FROM documents
            WHERE {SM.hash_u60_sql("CAST(doc_id AS VARCHAR)", "s2")}
                  < {SM.fraction_threshold(0.2)}""",
        "shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",
        "supplier_volume": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name""",
        "ngram_jaccard": f"""
            WITH g AS ({D.word_grams_sql(3)}),
            sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
            sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          count(*) AS shared
                   FROM g a JOIN g b ON a.gram = b.gram
                        AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(shared * 1.0 / (sa.n_grams + sb.n_grams - shared), 6)
                   AS jaccard_r
            FROM sh JOIN sz sa ON sh.id_a = sa.doc_id
                 JOIN sz sb ON sh.id_b = sb.doc_id
            WHERE shared * 1.0 / (sa.n_grams + sb.n_grams - shared) >= 0.5""",
        "ngram_jaccard_capped": f"""
            WITH g AS ({D.word_grams_sql(3)}),
            sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
            rare AS (SELECT gram FROM g GROUP BY gram
                     HAVING count(*) <= 10),
            cg AS (SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     sa.n_grams AS na, sb.n_grams AS nb
              FROM cg a JOIN cg b ON a.gram = b.gram
                   AND a.doc_id < b.doc_id
              JOIN sz sa ON a.doc_id = sa.doc_id
              JOIN sz sb ON b.doc_id = sb.doc_id
              WHERE sa.n_grams >= 0.5 * sb.n_grams
                AND sb.n_grams >= 0.5 * sa.n_grams),
            sh AS (SELECT c.id_a, c.id_b, c.na, c.nb, count(*) AS shared
                   FROM cand c
                   JOIN g ga ON ga.doc_id = c.id_a
                   JOIN g gb ON gb.doc_id = c.id_b AND gb.gram = ga.gram
                   GROUP BY 1, 2, 3, 4)
            SELECT id_a, id_b,
                   round(shared * 1.0 / (na + nb - shared), 6) AS jaccard_r
            FROM sh
            WHERE shared * 1.0 / (na + nb - shared) >= 0.5""",
        "emb_cluster_dedup": D.embedding_cluster_dedup_oracle_sql(
            "vec_id", "embedding", "embeddings", 0.40),
        "emb_near_dup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])), 4) AS cosine_r
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                  CAST(b.embedding AS DOUBLE[])) >= 0.45""",
        "sessionize": """
            WITH e AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                          ORDER BY ts) > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS brk
              FROM events),
            s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sess FROM e)
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events, round(sum(value), 4) AS sum_value_r
            FROM s GROUP BY user_id, sess""",
        "salted_agg": """
            SELECT l_returnflag, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY l_returnflag""",
        "salted_join": """
            SELECT c_mktsegment, count(*) AS n,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment""",
        "stream_windowed": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2""",
        "minhash_pairs": D.minhash_pairs_oracle_sql(threshold=0.6),
        "topfeatures_extract": """
            WITH f AS (SELECT i, i + 1 AS id, i % 360 AS rotation,
                              round(i * 0.5, 2) AS value
                       FROM generate_series(0, 999) AS t(i)),
            ranked AS (SELECT id, i,
                              row_number() OVER (PARTITION BY rotation
                                ORDER BY value DESC, id ASC) AS rn
                       FROM f)
            SELECT id FROM ranked
            WHERE rn <= 2 AND i % 97 <> 5
            ORDER BY id""",
        "simhash_pairs": f"""
            WITH {D.simhash_sql_cte()}
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM _sh a JOIN _sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
        "renderer_compile": """
            SELECT CASE WHEN p_type = 'PROMO' THEN 'promo-style'
                        WHEN p_type = 'ECONOMY' THEN 'economy-style'
                        WHEN p_type = 'STANDARD' THEN 'standard-style'
                        ELSE 'other' END AS style_class, count(*) AS n
            FROM part GROUP BY 1""",
    }
    from esri_dump_spark.operators.pipeline import (
        clean_corpus_oracle_sql, govern_corpus_oracle_sql)
    oracles["corpus_clean"] = clean_corpus_oracle_sql(
        min_quality=0.8, jaccard_threshold=0.6)
    oracles["govern_corpus"] = govern_corpus_oracle_sql(
        train_pred="doc_id % 7 <> 0", eval_pred="doc_id % 7 = 0",
        split_seed="gv")
    oracles["minhash_cluster_dedup"] = \
        D.minhash_cluster_dedup_oracle_sql(threshold=0.6)
    oracles["leakage_safe_split"] = \
        D.leakage_safe_split_oracle_sql(threshold=0.6, seed="ls")
    oracles["dedup_report"] = \
        D.cluster_size_histogram_oracle_sql(threshold=0.6)
    # both extraction strategies must produce the identical id set:
    # all features minus the decode-filtered attribute-only rows
    # (i % 97 == 5), exactly once
    oracles["extract_ids"] = """
        SELECT i + 1 AS id FROM generate_series(0, 1999) AS t(i)
        WHERE i % 97 <> 5 ORDER BY id"""
    oracles["extract_bbox_ids"] = oracles["extract_ids"]
    # golden-literal oracles: these queries are pure functions of fixed
    # synthetic inputs, so the oracle pins the exact expected document /
    # catalog rows (a frozen expectation, regenerated intentionally)
    oracles["schema_doc"] = r"""
        SELECT '{"additionalProperties": false, "properties": {"eventdate": {"format": "date-time", "type": "string"}, "name": {"maxLength": 64, "type": "string"}, "objectid": {"type": "number"}, "rotation": {"type": "integer"}, "value": {"type": "number"}}, "required": [], "type": "object"}' AS schema_json"""
    oracles["tilejson_doc"] = r"""
        SELECT '{"bounds": [-97.0189932385465, 20.52053000026018, -88.57449931419137, 29.116263085773653], "center": [-92.79674627636894, 24.818396543016917], "maxzoom": 22, "minzoom": 0, "name": "synthetic-layer", "scheme": "xyz", "tilejson": "3.0.0", "type": "vector", "vector_layers": [{"fields": {"eventdate": "date-time", "name": "string", "objectid": "number", "rotation": "integer", "value": "number"}, "id": "out"}], "version": "1.0.0"}' AS tilejson"""
    oracles["stylejson_doc"] = r"""
        SELECT '{"layers": [{"id": "esri-layer", "paint": {"fill-color": ["step", ["get", "value"], "rgba(254,240,217,1)", 100.0, "rgba(254,240,217,1)", 1000.0, "rgba(252,141,89,1)"], "fill-opacity": ["step", ["get", "value"], 0.8, 100.0, 0.8, 1000.0, 0.8]}, "source": "esri", "source-layer": "out", "type": "fill"}, {"id": "esri-layer-outline", "paint": {"line-color": ["step", ["get", "value"], "rgba(0,0,0,1)", 100.0, "rgba(0,0,0,1)", 1000.0, "rgba(0,0,0,1)"], "line-opacity": 0.8, "line-width": ["step", ["get", "value"], 0.4, 100.0, 0.4, 1000.0, 0.4]}, "source": "esri", "source-layer": "out", "type": "line"}, {"id": "esri-label-0", "layout": {"text-allow-overlap": false, "text-anchor": "bottom", "text-field": ["get", "name"], "text-font": ["Arial Regular"], "text-size": 13.33}, "paint": {"text-color": "rgba(50,50,50,1)", "text-opacity": 0.8}, "source": "esri", "source-layer": "out", "type": "symbol"}], "name": "synthetic-layer", "sources": {"esri": {"type": "vector"}}, "version": 8}' AS stylejson"""
    _disc_schema = ('{"type":"object","required":[],"additionalProperties":'
                    'false,"properties":{"objectid":{"type":"number"},'
                    '"name":{"type":"string","maxLength":64},'
                    '"eventdate":{"type":"string","format":"date-time"},'
                    '"rotation":{"type":"integer"},'
                    '"value":{"type":"number"}}}')
    oracles["discovery"] = f"""
        SELECT * FROM (VALUES
          ('/base/wildfire/FeatureServer/0', 'synthetic-layer',
           'FeatureServer', 'esriGeometryPoint', 5, '{_disc_schema}'),
          ('/base/wildfire/FeatureServer/1', 'synthetic-layer',
           'FeatureServer', 'esriGeometryPoint', 5, '{_disc_schema}'),
          ('/roads/MapServer/0', 'synthetic-layer', 'MapServer',
           'esriGeometryPoint', 5, '{_disc_schema}'))
        AS t(path, name, layer_type, geometry_type, n_fields,
             schema_json)"""
    # 1000 synthetic features minus the 11 attribute-only rows
    # (i % 97 == 5) the decode filters: every one accounted for, once
    oracles["lineage_metrics"] = """
        SELECT 'bench-run' AS run_id, 'ok' AS status,
               CAST(989 AS BIGINT) AS total_rows"""
    # golden-literal image invariants: the 2000-row fixture is a pure
    # function of seed=42 and both codecs are deterministic, so these
    # integer rollups (no float accumulation -> partition-order
    # independent) are frozen like lineage_metrics; verified stable
    # across parallelism/shuffle configs before freezing
    oracles["image_decode_stats"] = """
        SELECT CAST(2000 AS BIGINT) AS n_images,
               CAST(2000 AS BIGINT) AS n_ok,
               CAST(60000 AS BIGINT) AS sum_w,
               CAST(60000 AS BIGINT) AS sum_h,
               CAST(254072 AS BIGINT) AS sum_floor_mean_r,
               CAST(254186 AS BIGINT) AS sum_floor_mean_g,
               CAST(253946 AS BIGINT) AS sum_floor_mean_b,
               CAST(96652 AS BIGINT) AS sum_phash_mod"""
    # video frame sampling golden (same freeze protocol: input layout
    # vs repartition(13) identical before pinning; 400 videos, 6..10
    # frames each, every_n=2 -> 1680 sampled frames)
    oracles["frame_sample"] = """
        SELECT CAST(1680 AS BIGINT) AS n_sampled,
               CAST(1680 AS BIGINT) AS n_ok,
               CAST(400 AS BIGINT) AS n_videos,
               CAST(5600 AS BIGINT) AS sum_frame_idx,
               CAST(13840 AS BIGINT) AS sum_n_frames,
               CAST(50400 AS BIGINT) AS sum_w,
               CAST(50400 AS BIGINT) AS sum_h,
               CAST(79376 AS BIGINT) AS sum_phash_mod,
               CAST(213398 AS BIGINT) AS sum_floor_luma"""
    # video near-dup golden: literals EQUAL the analytic ground truth
    # of the planted-duplicate fixture (pair k shares 2+(k%3) frames:
    # 100 pairs, sum = 200 + 33*1 + 33*2 = 299) and were re-measured
    # layout-stable before freezing
    oracles["video_near_dup"] = """
        SELECT CAST(100 AS BIGINT) AS n_pairs,
               CAST(299 AS BIGINT) AS sum_shared,
               CAST(100 AS BIGINT) AS n_a,
               CAST(2 AS BIGINT) AS min_shared_f,
               CAST(4 AS BIGINT) AS max_shared_f"""
    # audio near-dup golden: literals EQUAL the analytic ground truth
    # (pair k shares 2+(k%3) windows: 100 pairs, sum 299), layout-
    # stable before freezing
    oracles["audio_near_dup"] = """
        SELECT CAST(100 AS BIGINT) AS n_pairs,
               CAST(299 AS BIGINT) AS sum_shared,
               CAST(100 AS BIGINT) AS n_a,
               CAST(2 AS BIGINT) AS min_shared_w,
               CAST(4 AS BIGINT) AS max_shared_w"""
    # cluster-dedup analytic twins: the planted pair graph is 100
    # DISJOINT 2-cliques over ids (2k, 2k+1), so min-id survivors are
    # exactly the even suffixes — the oracle RECOMPUTES that ground
    # truth from the planted structure (generate_series) rather than
    # freezing measured literals; the integer sums must be CAST (bare
    # DuckDB sum() is HUGEINT — CLAUDE.md twin invariant)
    _cluster_truth = """
        WITH s AS (SELECT (k - 1) * 2 AS sfx
                   FROM generate_series(1, 100) t(k))
        SELECT CAST(count(*) AS BIGINT) AS n_survivors,
               CAST(sum(sfx) AS BIGINT) AS sum_sfx,
               CAST(sum(sfx % 2) AS BIGINT) AS n_odd,
               CAST(min(sfx) AS BIGINT) AS min_sfx,
               CAST(max(sfx) AS BIGINT) AS max_sfx
        FROM s"""
    oracles["video_cluster_dedup"] = _cluster_truth
    oracles["audio_cluster_dedup"] = _cluster_truth
    # audio golden (same freeze protocol; 400 deterministic WAV clips)
    oracles["audio_stats"] = """
        SELECT CAST(400 AS BIGINT) AS n_clips,
               CAST(400 AS BIGINT) AS n_ok,
               CAST(2200000 AS BIGINT) AS sum_frames,
               CAST(275000 AS BIGINT) AS sum_dur_ms,
               CAST(909038 AS BIGINT) AS sum_rms_bp,
               CAST(318191 AS BIGINT) AS sum_floor_zcr,
               CAST(541129 AS BIGINT) AS sum_floor_centroid"""
    # same freeze protocol: measured twice (input layout vs
    # repartition(13)) and identical before pinning
    oracles["image_quality"] = """
        SELECT CAST(2000 AS BIGINT) AS n_images,
               CAST(2000 AS BIGINT) AS n_ok,
               CAST(254098 AS BIGINT) AS sum_floor_luma,
               CAST(94444 AS BIGINT) AS sum_floor_std,
               CAST(1245998 AS BIGINT) AS sum_floor_entropy_c,
               CAST(1725604 AS BIGINT) AS sum_floor_sharp_d"""
    # golden-literal LSH rollup on the fixed sf0.001 embeddings (see
    # q_emb_near_dup_lsh_golden for the determinism argument)
    oracles["emb_near_dup_lsh_golden"] = """
        SELECT CAST(7 AS BIGINT) AS n_pairs,
               CAST(7 AS BIGINT) AS n_distinct_a,
               CAST(1349 AS BIGINT) AS sum_a,
               CAST(2739 AS BIGINT) AS sum_b,
               CAST(3254513 AS BIGINT) AS sum_cos_micro"""
    oracles["verify_images"] = """
        SELECT CAST(2000 AS BIGINT) AS n_images,
               CAST(2000 AS BIGINT) AS n_dims_ok,
               CAST(2000 AS BIGINT) AS n_phash_ok,
               CAST(2000 AS BIGINT) AS n_caption_ok,
               CAST(2000 AS BIGINT) AS n_psnr_ok,
               CAST(176042 AS BIGINT) AS sum_floor_psnr"""
    oracles["resize_images"] = """
        SELECT CAST(500 AS BIGINT) AS n_images,
               CAST(500 AS BIGINT) AS n_16x16,
               CAST(500 AS BIGINT) AS n_png,
               CAST(339571 AS BIGINT) AS total_bytes"""
    # the JVM-window sessionizer must equal the applyInPandas one
    oracles["sessionize_window"] = oracles["sessionize"]
    # shuffle-path kNN must equal the broadcast-path plan
    oracles["knn_geo_shuffle"] = oracles["knn_geo"]
    # the executor-built polygon dimension must equal the driver path
    oracles["pip_rect_dist"] = oracles["pip_rect"]
    # hashkey band mode differs from the exact-string oracle mode only
    # on astronomically-rare murmur collisions: same SQL twin
    oracles["minhash_pairs_hashkey"] = oracles["minhash_pairs"]
    # golden-literal image/pipeline invariants (seeded fixture +
    # deterministic codecs/kernels; verified stable across parallelism
    # and shuffle configs before freezing — same pattern as
    # image_decode_stats)
    oracles["phash_near_dup"] = """
        SELECT CAST(50594 AS BIGINT) AS n_pairs,
               CAST(298459 AS BIGINT) AS sum_hamming,
               CAST(363 AS BIGINT) AS n_exact"""
    # min-id-per-component survivors over the SAME (lossless) pair
    # graph; union-find parity asserted in
    # tests/test_pipeline_ops.py::test_phash_cluster_dedup_matches_union_find
    oracles["phash_cluster_dedup"] = """
        SELECT CAST(1145 AS BIGINT) AS n_survivors,
               CAST(32712 AS BIGINT) AS sum_w,
               CAST(32568 AS BIGINT) AS sum_h"""
    oracles["image_clean"] = """
        SELECT CAST(1431 AS BIGINT) AS n_survivors,
               CAST(41384 AS BIGINT) AS sum_w,
               CAST(41496 AS BIGINT) AS sum_h,
               CAST(1144 AS BIGINT) AS n_png"""
    oracles["crossmodal_near_dup"] = """
        SELECT CAST(244 AS BIGINT) AS n_pairs,
               CAST(1428 AS BIGINT) AS sum_phash_hamming,
               CAST(2214 AS BIGINT) AS sum_caption_hamming"""
    # full-GeoJSON extraction rollups: both paging strategies MUST
    # freeze to the same literals (identical output rows); any drift
    # in decode / ring assembly / rewind / serialization moves them
    _extract_golden = """
        SELECT CAST(1979 AS BIGINT) AS n_rows,
               CAST(1980504 AS BIGINT) AS sum_id,
               CAST(1979 AS BIGINT) AS n_polygon,
               CAST(0 AS BIGINT) AS n_multipolygon,
               CAST(641323 AS BIGINT) AS sum_geojson_len"""
    oracles["extract_synthetic"] = _extract_golden
    oracles["extract_bbox"] = _extract_golden
    # per-polygon PIP counts over the complex fixture polygons (holes,
    # multipolygon, promoted hole, degenerate) — multi-row literal
    oracles["pip_fixture_polygons"] = """
        SELECT CAST(poly_id AS BIGINT) AS poly_id, poly_name,
               CAST(n_points AS BIGINT) AS n_points
        FROM (VALUES
          (0, 'quad-0-0', 99), (1, 'quad-0-1', 101), (2, 'quad-0-2', 94),
          (3, 'quad-0-3', 100), (4, 'quad-1-0', 105), (5, 'quad-1-1', 385),
          (6, 'quad-1-2', 103), (7, 'quad-1-3', 83), (8, 'quad-2-0', 94),
          (9, 'quad-2-1', 85), (10, 'quad-2-2', 106), (11, 'quad-2-3', 98),
          (12, 'quad-3-0', 99), (13, 'quad-3-1', 100),
          (14, 'quad-3-2', 113), (15, 'quad-3-3', 100),
          (16, 'holed', 80), (17, 'multi', 11), (18, 'promoted', 3),
          (19, 'degen', 3)) AS t(poly_id, poly_name, n_points)"""
    # per-polygon geometry stats: the DuckDB twin recomputes the same
    # JSON parse + shoelace folds (no literal freezing)
    from esri_dump_spark.functions.geometry import polygon_stats_sql_duck
    from esri_dump_spark.sources.fixtures import (polygons_pdf as _ppdf,
                                                  polygons_pdf_b as _ppdfb)
    _rows = []
    for off, pdf_ in ((0, _ppdf()), (100, _ppdfb())):
        for rec in pdf_.itertuples(index=False):
            rj = rec.rings_json.replace("'", "''")
            _rows.append(f"({int(rec.poly_id) + off}, '{rj}')")
    oracles["polygon_stats"] = polygon_stats_sql_duck(
        ",\n             ".join(_rows))
    # polygon x polygon intersects join: pure-SQL twin (edge VALUES
    # tables + parametric segment intersection + crossing-parity
    # containment) generated from the same fixture records the Spark
    # query reads — no literal freezing, the SQL recomputes geometry
    from esri_dump_spark.functions.geo_sql import (
        polygon_intersects_oracle_sql)
    from esri_dump_spark.sources.fixtures import (polygons_records,
                                                  polygons_records_b)
    _join_sql = polygon_intersects_oracle_sql(polygons_records(),
                                              polygons_records_b())
    oracles["poly_intersect_join"] = _join_sql
    _ids_a = ", ".join(f"({r['poly_id']})" for r in polygons_records())
    # NOT EXISTS, never NOT IN: left_anti semantics under NULLs
    # (CLAUDE.md invariant; here ids are non-NULL literals but the
    # spelling rule is uniform across every twin)
    oracles["poly_intersect_anti"] = f"""
        WITH matched AS ({_join_sql})
        SELECT CAST(id AS BIGINT) AS poly_id
        FROM (VALUES {_ids_a}) AS t(id)
        WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.id_a = t.id)"""
    return oracles
