"""Mergeable fixed-grid histogram sketch + bit-exact quantile
estimation — the fourth mergeable sketch next to HLL / count-min /
Bloom (operators/sketch.py).

At 100 TB you cannot afford ``percentile(x, ...)`` over raw rows —
Spark's exact percentile materializes every value per group — and
the stock approximate sketches (KLL, GK, t-digest) are order- and
merge-path-dependent, so their outputs are not reproducible across
plans, let alone across engines. The fixed-grid histogram trades a
declared value range for full determinism:

- ``hist_sketch`` — one codegen projection computes the bucket
  index ``clamp(floor((x - lo) * bins / (hi - lo)))`` and ONE
  map-side-combined aggregate reduces each task's slice to at most
  ``bins`` rows per group BEFORE its single exchange; the wire
  carries bucket counts, never values.
- ``hist_merge`` — sketches from different shards/days fold by
  cell-wise sum (``hist(A union B) == hist_merge(hist(A), hist(B))``
  exactly, pinned by test), so daily 100 TB partitions accumulate
  into a running sketch without re-reading raw data.
- ``hist_quantiles`` — collapses a sketch to per-group quantile
  estimates at integer permille points. Everything downstream of the
  raw scan is sketch-sized: the cumulative sum is a window over
  ``<= bins`` rows per group, and the target-rank probe is a join of
  ``len(permille)`` rows against them.

Accuracy is the grid bound: the estimate lands in the same bucket as
the true quantile, so the error is at most one bucket width
``(hi - lo) / bins`` (pinned by test) — the knob is ``bins``, and
4096 buckets over a declared range is 32 KiB of state per group.

Why this is exactly oracle-able (stock quantile sketches are not):
the bucket index is a FIXED-ORDER chain of IEEE subtract / multiply
/ divide on bit-identical operands followed by an exact ``floor`` —
correctly rounded at every step in both engines, so every row lands
in the identical bucket; counts and cumulative ranks are
ALL-INTEGER; the target rank is an integer ceiling division
(``(p * N + 999) DIV 1000``); and the final interpolation
``lo + span * ((bucket + (target - before) / cnt) / bins)`` is again
a fixed-order IEEE chain on integer-valued operands — bit-exact with
NO rounding, the quantized-cosine construction (CLAUDE.md). Float
constants are spelled through ``_lit`` (never bare decimal literals
— the DECIMAL-parse trap); the only dialect split is integer
division (Spark ``DIV`` / DuckDB ``//``), via ``sketch.SPARK/DUCK``.

NaN rows are EXCLUDED by both build spellings (NULL-like, the
engines' NaN orderings inside clamp would otherwise have to agree);
+-Infinity clamps into the edge buckets BEFORE ``floor`` (so Spark's
long-returning ``floor`` can never overflow). Out-of-range finite
values also clamp into the edge buckets — a histogram over a
declared range saturates, it does not drop.

Reference parity: the reference engine (esri-dump) has no sketch
layer — this extends the training-data surface the same way the
dedup/sampling/sketch families do.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sample import _qcol, _qident
from .search import _lit
from .sketch import SPARK, DUCK, _no_clash

__all__ = ["hist_sketch", "hist_merge", "hist_quantiles",
           "hist_bucket_sql", "hist_target_sql", "hist_quantile_sql",
           "hist_orders_oracle_sql", "winsorize",
           "winsorize_clip_sql", "winsorize_orders_oracle_sql"]


def _check_grid(lo: float, hi: float, bins: int) -> None:
    if not (isinstance(bins, int) and 2 <= bins <= 1 << 20):
        raise ValueError("bins must be an int in [2, 2^20]")
    if not (math.isfinite(lo) and math.isfinite(hi) and lo < hi):
        raise ValueError("need finite lo < hi")


def hist_bucket_sql(value_expr: str, lo: float, hi: float,
                    bins: int) -> str:
    """THE bucket spelling, dialect-free: scale into grid units,
    clamp into ``[0, bins-1]`` as a DOUBLE (so Infinity saturates
    before ``floor`` — Spark's ``floor`` returns a long and would
    overflow on Inf), floor, cast. ``span`` and ``bins`` are
    pre-folded Python floats through ``_lit`` so both engines see
    bit-identical constants; DuckDB's round-to-nearest double->BIGINT
    cast is exact because ``floor`` already made the value integral.
    NaN must be filtered UPSTREAM (both build sites do)."""
    scaled = (f"((CAST({value_expr} AS DOUBLE) - {_lit(lo)})"
              f" * {_lit(float(bins))} / {_lit(hi - lo)})")
    clamped = (f"LEAST({_lit(float(bins - 1))},"
               f" GREATEST(CAST(0 AS DOUBLE), {scaled}))")
    return f"CAST(floor({clamped}) AS BIGINT)"


def hist_target_sql(p_expr: str, n_expr: str, dialect) -> str:
    """THE target-rank spelling: ``ceil(p * N / 1000)`` as the
    all-integer ``(p*N + 999) DIV 1000`` — exact for any positive
    permille point, no float ever enters the rank."""
    return (f"CAST((({p_expr}) * ({n_expr}) + 999)"
            f" {dialect['div']} 1000 AS BIGINT)")


def hist_quantile_sql(bucket_expr: str, before_expr: str,
                      cnt_expr: str, target_expr: str,
                      lo: float, hi: float, bins: int) -> str:
    """THE interpolation spelling: the estimate sits ``(target -
    before) / cnt`` of the way through its bucket (mass-at-upper-edge
    convention: frac in (0, 1], so the p=1000 estimate is the top
    occupied bucket's upper edge). Every operand is an
    integer-valued BIGINT cast to DOUBLE exactly; the chain order is
    pinned by parentheses — bit-exact in both engines."""
    frac = (f"(CAST(({target_expr}) - ({before_expr}) AS DOUBLE)"
            f" / CAST({cnt_expr} AS DOUBLE))")
    return (f"({_lit(lo)} + {_lit(hi - lo)}"
            f" * ((CAST({bucket_expr} AS DOUBLE) + {frac})"
            f" / {_lit(float(bins))}))")


def hist_sketch(df: DataFrame, value_col: str, lo: float, hi: float,
                bins: int,
                group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Build the per-group histogram sketch: one row per (group,
    bucket) with its count — at most ``bins`` rows per group no
    matter the input size. NULL and NaN values are not counted;
    finite out-of-range values saturate into the edge buckets.

    Scale: the bucket index is whole-stage codegen over the scan;
    the only exchange is the ``groupBy(group, bucket)`` agg,
    partial-aggregated map-side. The output is mergeable sketch
    state — persist per day/shard and fold with ``hist_merge``."""
    _check_grid(lo, hi, bins)
    groups = [str(g) for g in group_cols]
    _no_clash(set(groups), "bucket", "cnt")
    v = _qident(value_col)
    bucket = hist_bucket_sql(v, lo, hi, bins)
    src = (df.where(F.expr(f"{v} IS NOT NULL"
                           f" AND NOT isnan(CAST({v} AS DOUBLE))"))
             .selectExpr(*[_qident(g) for g in groups],
                         f"{bucket} AS bucket"))
    return (src.groupBy(*[_qcol(g) for g in groups], F.col("bucket"))
               .agg(F.expr("CAST(count(*) AS BIGINT)").alias("cnt")))


def hist_merge(*hist_tables: DataFrame) -> DataFrame:
    """Union histogram sketches (same grid) into one: cells combine
    by SUM — the defining mergeability. ``hist_sketch(A union B) ==
    hist_merge(hist_sketch(A), hist_sketch(B))`` exactly (pinned by
    test). At scale this folds per-shard sketches with a shuffle of
    bucket rows only."""
    if not hist_tables:
        raise ValueError("need at least one histogram table")
    out = hist_tables[0]
    for t in hist_tables[1:]:
        out = out.unionByName(t)
    keys = [c for c in out.columns if c != "cnt"]
    return (out.groupBy(*[_qcol(c) for c in keys])
               .agg(F.expr("CAST(sum(cnt) AS BIGINT)").alias("cnt")))


def hist_quantiles(hist: DataFrame, lo: float, hi: float, bins: int,
                   group_cols: tuple[str, ...] = (),
                   permille: tuple[int, ...] = (10, 250, 500, 750,
                                                990)) -> DataFrame:
    """Collapse a histogram sketch to per-group quantile estimates:
    ``(group..., permille, n_total, bucket, bucket_n, cum_before,
    q_est)`` — the integer observables anchor the estimate's
    derivation, ``q_est`` is the bit-exact interpolated value.

    For each permille point ``p`` the target rank is
    ``ceil(p * N / 1000)`` and the answer bucket is the unique one
    with ``cum_before < target <= cum`` — exactly one row per
    (group, p), because every group in a sketch has ``N >= 1``.

    NULL group keys survive (null-safe join, the ``mad_outliers``
    rule). Scale: the window and the probe join both run over
    sketch-sized inputs (``<= bins`` rows per group); AQE broadcasts
    the target side."""
    _check_grid(lo, hi, bins)
    if not permille:
        raise ValueError("permille must be non-empty")
    if len(set(permille)) != len(permille):
        raise ValueError("permille points must be distinct")
    for p in permille:
        if not (isinstance(p, int) and 1 <= p <= 1000):
            raise ValueError(f"permille point {p!r} must be an int "
                             "in [1, 1000]")
    groups = [str(g) for g in group_cols]
    _no_clash(set(groups), "bucket", "cnt", "cum", "permille",
              "n_total", "target", "bucket_n", "cum_before", "q_est",
              *[f"_hq_{g}" for g in groups])

    gcols = [_qcol(g) for g in groups]
    w = (Window.partitionBy(*gcols).orderBy(F.col("bucket"))
               .rowsBetween(Window.unboundedPreceding,
                            Window.currentRow))
    cum = hist.withColumn("cum", F.sum("cnt").over(w)
                                  .cast("bigint"))

    plist = ", ".join(f"CAST({int(p)} AS INT)" for p in permille)
    targets = (hist.groupBy(*gcols)
                   .agg(F.expr("CAST(sum(cnt) AS BIGINT)")
                         .alias("n_total"))
                   .selectExpr(*[_qident(g) for g in groups],
                               "n_total",
                               f"explode(array({plist})) AS permille")
                   .selectExpr("*",
                               hist_target_sql("permille", "n_total",
                                               SPARK) + " AS target"))
    # rename target-side keys before the join condition: both sides
    # descend from the same sketch scan, so name-identical columns
    # would resolve against one lineage (the mad_outliers rule)
    for g in groups:
        targets = targets.withColumnRenamed(g, f"_hq_{g}")
    cond = (F.col("cum") >= F.col("target")) & \
           ((F.col("cum") - F.col("cnt")) < F.col("target"))
    for g in groups:
        cond = _qcol(g).eqNullSafe(_qcol(f"_hq_{g}")) & cond
    qest = hist_quantile_sql("bucket", "cum - cnt", "cnt", "target",
                             lo, hi, bins)
    return (cum.join(targets, cond)
               .selectExpr(*[_qident(g) for g in groups],
                           "permille", "n_total", "bucket",
                           "cnt AS bucket_n",
                           "CAST(cum - cnt AS BIGINT) AS cum_before",
                           f"{qest} AS q_est"))


# ------------------------------------------------------------- twins

def hist_orders_oracle_sql(lo: float, hi: float, bins: int,
                           permille: tuple[int, ...]) -> str:
    """DuckDB twin of the ``hist_quants`` entry query: recomputes
    the full sketch -> cumulative -> target-rank -> interpolation
    pipeline over ``orders.o_totalprice`` per o_orderpriority from
    the SAME spelling functions (only integer division differs by
    dialect) — bit-exact with no rounding. ``sum`` casts are the
    DuckDB HUGEINT rule; the window frame is spelled ROWS explicitly
    so both engines agree on it."""
    _check_grid(lo, hi, bins)
    bucket = hist_bucket_sql("o_totalprice", lo, hi, bins)
    target = hist_target_sql("p", "n_total", DUCK)
    qest = hist_quantile_sql("c.bucket", "c.cum - c.cnt", "c.cnt",
                             "t.target", lo, hi, bins)
    plist = ", ".join(str(int(p)) for p in permille)
    return f"""
        WITH h AS (
          SELECT o_orderpriority, {bucket} AS bucket,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM orders
          WHERE o_totalprice IS NOT NULL
            AND NOT isnan(CAST(o_totalprice AS DOUBLE))
          GROUP BY o_orderpriority, bucket),
        c AS (
          SELECT o_orderpriority, bucket, cnt,
                 CAST(sum(cnt) OVER (PARTITION BY o_orderpriority
                      ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT) AS cum
          FROM h),
        n AS (
          SELECT o_orderpriority, CAST(sum(cnt) AS BIGINT) AS n_total
          FROM h GROUP BY o_orderpriority),
        t AS (
          SELECT o_orderpriority, n_total, CAST(p AS INT) AS permille,
                 {target} AS target
          FROM n, UNNEST([{plist}]) AS u(p))
        SELECT t.o_orderpriority, t.permille, t.n_total, c.bucket,
               c.cnt AS bucket_n,
               CAST(c.cum - c.cnt AS BIGINT) AS cum_before,
               {qest} AS q_est
        FROM t JOIN c
          ON c.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority
         AND c.cum >= t.target
         AND (c.cum - c.cnt) < t.target
        ORDER BY t.o_orderpriority, t.permille"""


def winsorize(df: DataFrame, value_col: str, lo: float, hi: float,
              bins: int, group_cols: tuple[str, ...] = (),
              p_lo: int = 10, p_hi: int = 990,
              out_col: str = "clipped",
              flag_col: str = "was_clipped") -> DataFrame:
    """Percentile clipping (winsorization): clamp ``value_col`` into
    its per-group ``[p_lo, p_hi]`` permille band, with the band edges
    estimated from the histogram sketch — the standard "cap absurd
    outliers instead of dropping the row" gate of a feature/quality
    pipeline, and the robust sibling of a fixed-threshold clamp.

    Appends ``out_col`` (DOUBLE: the clamped value) and ``flag_col``
    (INT 1/0: whether clamping moved it). NULL and NaN values pass
    through UNCLIPPED with a NULL/0 flag semantics of their own:
    NULL -> NULL out + NULL flag, NaN -> NaN out + 0 flag —
    LEAST/GREATEST NaN ordering is engine-lore we refuse to depend
    on, so the CASE routes them around the clamp entirely.

    Bit-exact by construction: the band edges are ``hist_quantiles``
    estimates (fixed-order IEEE over integers), and the clamp is
    LEAST/GREATEST over non-NaN doubles — identical comparisons in
    both engines, so even rows ON the boundary clip identically.

    Scale: the sketch pass is the one corpus aggregate; the bounds
    table is one row per group, LEFT-joined back on the null-safe
    key — NULL groups clip against their own band, and a group with
    no finite value has no band, so its rows pass through unclipped.
    AQE turns that join into a broadcast of the bounds once their
    size is known (the mad_outliers shape), so the data rows cross
    at most one exchange."""
    _check_grid(lo, hi, bins)
    for p in (p_lo, p_hi):
        if not (isinstance(p, int) and 1 <= p <= 1000):
            raise ValueError("p_lo/p_hi must be ints in [1, 1000]")
    if p_lo >= p_hi:
        raise ValueError("need p_lo < p_hi")
    groups = [str(g) for g in group_cols]
    _no_clash(set(groups) | {str(value_col)},
              "q_lo", "q_hi", str(out_col), str(flag_col),
              *[f"_wz_{g}" for g in groups])
    h = hist_sketch(df, value_col, lo, hi, bins, group_cols)
    q = hist_quantiles(h, lo, hi, bins, group_cols, (p_lo, p_hi))
    bounds = (q.groupBy(*[_qcol(g) for g in groups])
                .agg(F.expr(f"max(CASE WHEN permille = {p_lo}"
                            f" THEN q_est END)").alias("q_lo"),
                     F.expr(f"max(CASE WHEN permille = {p_hi}"
                            f" THEN q_est END)").alias("q_hi")))
    for g in groups:
        bounds = bounds.withColumnRenamed(g, f"_wz_{g}")
    if groups:
        cond = None
        for g in groups:
            c = _qcol(g).eqNullSafe(_qcol(f"_wz_{g}"))
            cond = c if cond is None else cond & c
        joined = df.join(bounds, cond, "left").drop(
            *[f"_wz_{g}" for g in groups])
    else:
        joined = df.crossJoin(bounds)
    v = _qident(value_col)
    clip = winsorize_clip_sql(v, "q_lo", "q_hi")
    flag = (f"CASE WHEN {v} IS NULL THEN CAST(NULL AS INT)"
            f" WHEN isnan(CAST({v} AS DOUBLE)) THEN 0"
            f" WHEN {clip} = CAST({v} AS DOUBLE) THEN 0"
            f" ELSE 1 END")
    return joined.selectExpr("*", f"{clip} AS {_qident(out_col)}",
                             f"{flag} AS {_qident(flag_col)}") \
                 .drop("q_lo", "q_hi")


def winsorize_clip_sql(value_expr: str, qlo_expr: str,
                       qhi_expr: str) -> str:
    """THE clamp spelling: NULL/NaN bypass the clamp (LEAST/GREATEST
    NaN ordering differs in spirit between engines even where it
    happens to agree — route around it), everything else clips with
    plain double comparisons. Shared verbatim by both engines."""
    x = f"CAST({value_expr} AS DOUBLE)"
    return (f"CASE WHEN {value_expr} IS NULL OR isnan({x}) THEN {x}"
            f" ELSE LEAST({qhi_expr}, GREATEST({qlo_expr}, {x}))"
            f" END")


def winsorize_orders_oracle_sql(lo: float, hi: float, bins: int,
                                p_lo: int, p_hi: int) -> str:
    """DuckDB twin of the ``winsorize_orders`` entry query: the full
    sketch -> quantile-band -> clamp pipeline over orders, from the
    SAME spelling functions — bit-exact (band edges are the hist
    construction; the clamp compares non-NaN doubles)."""
    _check_grid(lo, hi, bins)
    bucket = hist_bucket_sql("o_totalprice", lo, hi, bins)
    target = hist_target_sql("p", "n_total", DUCK)
    qest = hist_quantile_sql("c.bucket", "c.cum - c.cnt", "c.cnt",
                             "t.target", lo, hi, bins)
    clip = winsorize_clip_sql("o.o_totalprice", "b.q_lo", "b.q_hi")
    return f"""
        WITH h AS (
          SELECT o_orderpriority, {bucket} AS bucket,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM orders
          WHERE o_totalprice IS NOT NULL
            AND NOT isnan(CAST(o_totalprice AS DOUBLE))
          GROUP BY o_orderpriority, bucket),
        c AS (
          SELECT o_orderpriority, bucket, cnt,
                 CAST(sum(cnt) OVER (PARTITION BY o_orderpriority
                      ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT) AS cum
          FROM h),
        n AS (
          SELECT o_orderpriority, CAST(sum(cnt) AS BIGINT) AS n_total
          FROM h GROUP BY o_orderpriority),
        t AS (
          SELECT o_orderpriority, n_total, CAST(p AS INT) AS permille,
                 {target} AS target
          FROM n, UNNEST([{int(p_lo)}, {int(p_hi)}]) AS u(p)),
        q AS (
          SELECT t.o_orderpriority, t.permille, {qest} AS q_est
          FROM t JOIN c
            ON c.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority
           AND c.cum >= t.target
           AND (c.cum - c.cnt) < t.target),
        b AS (
          SELECT o_orderpriority,
                 max(CASE WHEN permille = {int(p_lo)}
                     THEN q_est END) AS q_lo,
                 max(CASE WHEN permille = {int(p_hi)}
                     THEN q_est END) AS q_hi
          FROM q GROUP BY o_orderpriority)
        SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
               {clip} AS clipped,
               CASE WHEN o.o_totalprice IS NULL THEN CAST(NULL AS INT)
                    WHEN isnan(CAST(o.o_totalprice AS DOUBLE)) THEN 0
                    WHEN {clip} = CAST(o.o_totalprice AS DOUBLE)
                         THEN 0 ELSE 1 END AS was_clipped
        FROM orders o LEFT JOIN b
             ON o.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority
        ORDER BY o.o_orderkey"""
