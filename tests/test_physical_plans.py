"""Physical-plan shape assertions — the scale contract, not just row
correctness: every registered query's plan matches its registry
fingerprint, filters reach the parquet scan, small dims broadcast,
aggregates have map-side partials, and the PIP refine is a SQL filter
in the join condition (no Python evaluation node at all).
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as E

# a plan-tree line: tree prefix, optional whole-stage-codegen marker,
# then the node name
_NODE = re.compile(r"^(?:[ :]*[+:]- )?(?:\*\(\d+\) )?(\w+)")


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fingerprint(df) -> tuple[int, ...]:
    """Count each E.PLAN_NODES kind by exact node name."""
    lines = _physical(df).splitlines()
    names = [m.group(1) for m in map(_NODE.match, lines) if m]
    return tuple(names.count(kind) for kind in E.PLAN_NODES)


@pytest.mark.parametrize("q", E.REGISTRY, ids=lambda q: q.name)
def test_plan_fingerprint(spark, q):
    """A plan change fails here; if it is deliberate, update the row's
    ``plan`` in __spark_entry__.REGISTRY (inspect the plan with
    scripts/dump_plans.py)."""
    # a cache an earlier test materialized prints its executed plan,
    # so fingerprint from a clean cache like a fresh session
    spark.catalog.clearCache()
    got = _fingerprint(q.builder(spark, E.SF_DEFAULT))
    assert got == q.plan, (
        f"{q.name}: live plan counts {got} != registry {q.plan} "
        f"(order: {', '.join(E.PLAN_NODES)})")


def test_fingerprint_detects_injected_plan_change(spark):
    """The fingerprint sees a strategy change: with size-picked
    broadcasts turned off, decontaminate's eval-hash join becomes a
    sort-merge join."""
    q = next(q for q in E.REGISTRY if q.name == "decontaminate")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        injected = _fingerprint(q.builder(spark, E.SF_DEFAULT))
    finally:
        spark.conf.set(key, old)
    assert injected != q.plan
    assert _fingerprint(q.builder(spark, E.SF_DEFAULT)) == q.plan


def _full(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_pushed_to_scan(spark, sf_dir):
    df = E.queries()["where_pushdown"](spark, sf_dir)
    qe = _full(df)
    assert "PushedFilters:" in qe
    assert "GreaterThan(l_quantity" in qe
    assert "LessThan(l_discount" in qe


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = E.queries()["where_pushdown"](spark, sf_dir)
    qe = _full(df)
    # ReadSchema carries only the referenced columns, not all 16
    read = qe.split("ReadSchema:")[-1].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_shipdate" not in read and "l_comment" not in read


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = E.queries()["join_broadcast"](spark, sf_dir)
    plan = _physical(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_agg_has_map_side_partial(spark, sf_dir):
    df = E.queries()["agg_pricing"](spark, sf_dir)
    plan = _physical(df)
    assert "partial_sum" in plan or "partial_" in plan


def test_dataset_profile_plan_shape(spark, sf_dir):
    """Data-card contract: one Expand-based multi-DISTINCT aggregate,
    no joins, and pruning keeps the unprofiled wide `text` column out
    of the scan."""
    df = E.queries()["dataset_profile"](spark, sf_dir)
    qe = _full(df)
    plan = _physical(df)
    assert "Expand" in plan
    assert "Join" not in plan
    read = qe.split("ReadSchema:")[-1].splitlines()[0]
    assert "n_chars" in read and "text" not in read


def test_bm25_plan_shape(spark, sf_dir):
    """BM25 scale contract: JVM-only, ONE tokenization fold however
    many query terms (the persisted (id, dl, tf...) relation keeps
    CollapseProject from inlining the fold per field), corpus stats
    broadcast (BNLJ on a 1-row side), and top-k via
    TakeOrderedAndProject — never a global sort of the corpus."""
    from esri_dump_spark.operators.search import bm25_topk
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p1 = _physical(bm25_topk(docs, ["spark"], k=5))
    p4 = _physical(bm25_topk(docs, ["spark", "merge", "vector",
                                    "table"], k=5))
    for p in (p1, p4):
        assert "EvalPython" not in p and "MapInPandas" not in p
        assert "TakeOrderedAndProject" in p
        assert "BroadcastNestedLoopJoin" in p
    # tokenization count is a layout constant, not O(terms)
    assert (p1.count("regexp_extract_all")
            == p4.count("regexp_extract_all"))
    # the RRF fusion stage is JVM-only too and never a global sort
    ph = _physical(E.queries()["hybrid_retrieval"](spark, sf_dir))
    assert "EvalPython" not in ph and "MapInPandas" not in ph
    assert "TakeOrderedAndProject" in ph


def test_pip_join_is_broadcast_plus_sql_filter(spark, sf_dir):
    df = E.queries()["pip_rect"](spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan          # coarse cell equi-join
    assert "aggregate(" in plan                 # edge-list refine in SQL
    assert "EvalPython" not in plan             # no Python worker at all
    assert "SortMergeJoin" not in plan


def test_knn_candidates_broadcast(spark, sf_dir):
    """knn_join localCheckpoints each round (the driver-visible plan is
    a Scan ExistingRDD), so assert the join strategy on the candidate
    pass itself — the plan that actually executes per round."""
    from esri_dump_spark.operators.knn import _knn_at_res
    pts = (spark.read.parquet(f"{sf_dir}/customer.parquet")
           .selectExpr("c_custkey AS point_id",
                       "(CAST(c_custkey % 360 AS DOUBLE) - 180.0) AS lon",
                       "(CAST(c_custkey % 180 AS DOUBLE) - 90.0) AS lat"))
    queries = (pts.orderBy("point_id").limit(20)
               .selectExpr("point_id AS query_id", "lon", "lat"))
    df = _knn_at_res(queries, pts, 5, "query_id", "point_id", 4,
                     "lon", "lat", "lon", "lat", broadcast_points=True,
                     radius=11.25)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the 9-cell disk dedup is array_distinct pre-explode, not a
    # dropDuplicates aggregate: no Exchange before the candidate join
    assert "HashAggregate" not in plan.split("Window")[-1]


def test_radius_join_is_single_equi_join_jvm_only(spark, sf_dir):
    """J7b is one-pass: a single cell equi-join (broadcast here), the
    exact distance filter in codegen, no window, no Python node, no
    cartesian — the plan that survives 100x."""
    df = E.queries()["radius_geo"](spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_asof_join_is_one_exchange_jvm_only(spark, sf_dir):
    """The as-of join is a union + ONE keyed window sort — no range
    explode, no join node at all, no Python; the single exchange is
    the same hashpartitioning an equi-join would pay."""
    df = E.queries()["asof_events"](spark, sf_dir)
    plan = _physical(df)
    assert "Window" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_interval_join_is_bucketed_equi_join_jvm_only(spark, sf_dir):
    """The event-in-interval join must be a (key, bucket) equi-join —
    explode+sequence fan-out, broadcast here, exact boundary filter in
    codegen — never a BroadcastNestedLoop/cartesian theta join, and
    zero Python nodes."""
    df = E.queries()["interval_attrib"](spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_split_and_sample_are_map_only(spark, sf_dir):
    """split_assign / sample_fraction must cost one scan at 100 TB:
    zero exchanges before the terminal op, zero Python nodes — the
    hash, thresholds, and CASE all inside codegen."""
    from esri_dump_spark.operators.sample import (sample_fraction,
                                                  split_assign)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (split_assign(docs, "doc_id", seed="v1"),
               sample_fraction(docs, "doc_id", 0.2, seed="s2")):
        plan = _physical(df)
        assert "Exchange" not in plan, plan
        assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_weighted_sample_and_packing_plan_shape(spark, sf_dir):
    """weighted_sample is a map-side key + TakeOrderedAndProject
    (per-partition n-row heaps — never a global sort of the corpus);
    pack_sequences is ONE keyed window exchange. Both JVM-only."""
    from esri_dump_spark.operators.sample import (pack_sequences,
                                                  weighted_sample)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pw = _physical(weighted_sample(docs, 50, "n_chars", "doc_id"))
    assert "TakeOrderedAndProject" in pw
    assert "Exchange" not in pw, pw
    pp = _physical(pack_sequences(docs, 2048, "n_chars", "doc_id",
                                  by="source"))
    assert pp.count("Exchange") == 1, pp
    for p in (pw, pp):
        assert "EvalPython" not in p and "MapInPandas" not in p


def test_minhash_band_exchange_is_slim(spark, sf_dir):
    """The exploded band self-join must shuffle only (id, band_idx,
    band_hash) — the 64-long signature array rides an exchange 2 x
    bands times per row if it leaks onto the join sides. Signatures
    re-attach after the pair dedup via id equi-joins."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = E.queries()["minhash_pairs"](spark, sf_dir)
        plan = _physical(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    lines = plan.splitlines()
    band_join = [i for i, line in enumerate(lines)
                 if "Join [band_idx" in line]
    assert band_join, plan
    # the Projects feeding the band join (= the rows that cross the
    # band exchange at scale; the single-partition test fixture
    # trivially satisfies the distribution so no Exchange node prints)
    j = band_join[0]
    feed = [line for line in lines[j:j + 6] if "Project [" in line]
    assert len(feed) >= 1, "\n".join(lines[j:j + 8])
    for line in feed:
        assert "minhash" not in line, line
        assert "band_hash" in line, line


def test_extract_is_arrow_vectorized(spark, sf_dir):
    df = E.queries()["extract_synthetic"](spark, sf_dir)
    plan = _physical(df)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_north_star_job_shuffle_census(spark, sf_dir):
    """The north-star job's (``pip_tile_rollup``) only wide exchange is
    the final rollup: the PIP join is broadcast-shaped and the refine is
    a narrow filter, so the point scan reaches the aggregate without a
    data shuffle."""
    import json
    import pandas as pd
    from esri_dump_spark.operators.tiles import pip_tile_rollup
    from esri_dump_spark.functions.geo_sql import derived_lonlat_sql

    lon, lat = derived_lonlat_sql("o_orderkey")
    pts = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "o_orderkey", f"{lon} AS lon", f"{lat} AS lat")
    polys = pd.DataFrame({
        "poly_id": [0], "rings_json": [json.dumps(
            [[[-30.0, -30.0], [-30.0, 30.0], [30.0, 30.0],
              [30.0, -30.0], [-30.0, -30.0]]])]})
    out = pip_tile_rollup(pts, polys, res=6)
    assert out.columns == ["poly_id", "tile_id", "n"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
