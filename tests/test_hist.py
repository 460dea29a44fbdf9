"""Histogram sketch (operators/hist.py) and integer moment stats
(operators/profile.py:moment_stats): pure-Python reference parity,
mergeability, grid-bound accuracy, cross-engine bit-exactness of the
DuckDB twins, validation, and plan shape."""

from __future__ import annotations

import math
import struct
from fractions import Fraction

import duckdb
import pytest

from esri_dump_spark.operators.hist import (hist_merge,
                                            hist_orders_oracle_sql,
                                            hist_quantiles,
                                            hist_sketch)
from esri_dump_spark.operators.profile import (moment_docs_oracle_sql,
                                               moment_stats)

LO, HI, BINS = 0.0, 1000.0, 64
PM = (10, 250, 500, 750, 990, 1000)


def bits(x: float) -> bytes:
    return struct.pack("<d", x)


def py_bucket(x: float, lo: float, hi: float, bins: int) -> int:
    scaled = (x - lo) * float(bins) / (hi - lo)
    return int(math.floor(min(float(bins - 1), max(0.0, scaled))))


def py_quantile(xs, p, lo, hi, bins):
    """The operator's convention, re-derived independently: grid
    counts -> ceil-rank target -> mass-at-upper-edge interpolation."""
    n = len(xs)
    target = (p * n + 999) // 1000
    counts = {}
    for x in xs:
        b = py_bucket(x, lo, hi, bins)
        counts[b] = counts.get(b, 0) + 1
    cum = 0
    for b in sorted(counts):
        before, cum = cum, cum + counts[b]
        if cum >= target > before:
            frac = float(target - before) / float(counts[b])
            return (target, b, before,
                    lo + (hi - lo) * ((float(b) + frac) / float(bins)))
    raise AssertionError("target past final bucket")


def _vals(spark, rows):
    return spark.createDataFrame([(float(v),) for v in rows],
                                 "x double")


def test_bucket_edges_match_python(spark):
    # exact grid boundaries, out-of-range saturation, infinities
    edge = [LO, HI, LO - 5.0, HI + 5.0, 15.625, 984.375, 999.999,
            float("inf"), float("-inf"), 500.0, 0.0001]
    h = hist_sketch(_vals(spark, edge), "x", LO, HI, BINS)
    got = {r["bucket"]: r["cnt"] for r in h.collect()}
    want = {}
    for v in edge:
        b = py_bucket(min(max(v, -1e308), 1e308)
                      if math.isinf(v) else v, LO, HI, BINS)
        if math.isinf(v):
            b = BINS - 1 if v > 0 else 0
        want[b] = want.get(b, 0) + 1
    assert got == want


def test_null_and_nan_excluded(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (float("nan"),), (2.0,)], "x double")
    h = hist_sketch(df, "x", LO, HI, BINS)
    assert sum(r["cnt"] for r in h.collect()) == 2


def test_merge_equals_sketch_of_union(spark):
    df = spark.range(500).selectExpr(
        "CAST(id % 3 AS STRING) AS g",
        "CAST((id * 37) % 997 AS DOUBLE) AS x")
    a, b = df.where("id % 2 = 0"), df.where("id % 2 = 1")
    whole = hist_sketch(df, "x", LO, HI, BINS, ("g",))
    merged = hist_merge(hist_sketch(a, "x", LO, HI, BINS, ("g",)),
                        hist_sketch(b, "x", LO, HI, BINS, ("g",)))
    as_map = lambda d: {(r["g"], r["bucket"]): r["cnt"]
                        for r in d.collect()}
    assert as_map(whole) == as_map(merged)


def test_quantiles_match_python_and_grid_bound(spark):
    vals = [((i * 139) % 991) + 0.25 for i in range(400)]
    h = hist_sketch(_vals(spark, vals), "x", LO, HI, BINS)
    q = hist_quantiles(h, LO, HI, BINS, (), PM)
    got = {r["permille"]: r for r in q.collect()}
    assert set(got) == set(PM)
    srt = sorted(vals)
    for p in PM:
        target, b, before, est = py_quantile(vals, p, LO, HI, BINS)
        r = got[p]
        assert (r["n_total"], r["bucket"], r["cum_before"]) == \
            (len(vals), b, before)
        assert bits(r["q_est"]) == bits(est)
        # grid bound: estimate within one bucket width of the true
        # ceil-rank order statistic
        true = srt[target - 1]
        assert abs(r["q_est"] - true) <= (HI - LO) / BINS


def test_quantiles_null_group_key_survives(spark):
    """A NULL group key keeps its quantiles, in the operator and in its
    DuckDB twin (run on the same rows), and the two agree bit for bit."""
    data = [("a", 10.0), (None, 20.0), (None, 30.0)]
    df = spark.createDataFrame(data, "g string, x double")
    h = hist_sketch(df, "x", LO, HI, BINS, ("g",))
    q = hist_quantiles(h, LO, HI, BINS, ("g",), (500,)).collect()
    rows = {r["g"]: r["n_total"] for r in q}
    assert rows == {"a": 1, None: 2}
    con = duckdb.connect()
    con.execute("CREATE TABLE orders (o_orderpriority VARCHAR, "
                "o_totalprice DOUBLE)")
    con.executemany("INSERT INTO orders VALUES (?, ?)", data)
    du = con.execute(hist_orders_oracle_sql(LO, HI, BINS, (500,))).fetchall()

    def key(r):
        return (r[0] is None, r[0] or "", r[1])
    assert (sorted((tuple(r)[:6] + (bits(r["q_est"]),) for r in q), key=key)
            == sorted((r[:6] + (bits(r[6]),) for r in du), key=key))


def test_hist_twin_bit_exact(spark, sf_dir):
    grid = (0.0, 512000.0, 512)
    pm = (10, 250, 500, 750, 990)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    h = hist_sketch(orders, "o_totalprice", *grid,
                    ("o_orderpriority",))
    sp = (hist_quantiles(h, *grid, ("o_orderpriority",), pm)
          .orderBy("o_orderpriority", "permille").collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{sf_dir}/orders.parquet'")
    du = con.execute(hist_orders_oracle_sql(*grid, pm)).fetchall()
    assert len(sp) == len(du) > 0
    for a, b in zip(sp, du):
        assert tuple(a)[:6] == tuple(b)[:6]
        assert bits(a["q_est"]) == bits(b[6])


def test_hist_validation(spark):
    df = _vals(spark, [1.0])
    with pytest.raises(ValueError, match="bins"):
        hist_sketch(df, "x", LO, HI, 1)
    with pytest.raises(ValueError, match="finite"):
        hist_sketch(df, "x", 5.0, 5.0, BINS)
    with pytest.raises(ValueError, match="finite"):
        hist_sketch(df, "x", 0.0, float("inf"), BINS)
    h = hist_sketch(df, "x", LO, HI, BINS)
    with pytest.raises(ValueError, match="permille"):
        hist_quantiles(h, LO, HI, BINS, (), ())
    with pytest.raises(ValueError, match="distinct"):
        hist_quantiles(h, LO, HI, BINS, (), (500, 500))
    with pytest.raises(ValueError, match="int"):
        hist_quantiles(h, LO, HI, BINS, (), (0,))
    bad = df.selectExpr("x AS bucket")
    with pytest.raises(ValueError, match="collide"):
        hist_sketch(bad.selectExpr("bucket", "bucket AS x"),
                    "x", LO, HI, BINS, ("bucket",))


# ---------------------------------------------------------- winsorize

def test_winsorize_clips_and_passes_through(spark):
    from esri_dump_spark.operators.hist import winsorize
    vals = [float(v) for v in range(0, 1000, 10)]  # 100 values
    rows = [(v,) for v in vals] + [(None,), (float("nan"),)]
    df = spark.createDataFrame(rows, "x double")
    out = winsorize(df, "x", LO, HI, BINS, (), 100, 900)
    got = out.collect()
    assert len(got) == len(rows)
    # band edges re-derived through the operator's own quantile path
    q = hist_quantiles(hist_sketch(df, "x", LO, HI, BINS),
                       LO, HI, BINS, (), (100, 900))
    edges = {r["permille"]: r["q_est"] for r in q.collect()}
    lo_e, hi_e = edges[100], edges[900]
    for r in got:
        if r["x"] is None:
            assert r["clipped"] is None and r["was_clipped"] is None
        elif math.isnan(r["x"]):
            assert math.isnan(r["clipped"]) and r["was_clipped"] == 0
        else:
            want = min(hi_e, max(lo_e, r["x"]))
            assert bits(r["clipped"]) == bits(want)
            assert r["was_clipped"] == (1 if want != r["x"] else 0)
    assert any(r["was_clipped"] == 1 for r in got)
    assert any(r["was_clipped"] == 0 for r in got)


def test_winsorize_twin_bit_exact(spark, sf_dir):
    from esri_dump_spark.operators.hist import (
        winsorize, winsorize_orders_oracle_sql)
    grid = (0.0, 512000.0, 512)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sp = (winsorize(orders, "o_totalprice", *grid,
                    ("o_orderpriority",), 10, 990)
          .select("o_orderkey", "o_orderpriority", "o_totalprice",
                  "clipped", "was_clipped")
          .orderBy("o_orderkey").collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{sf_dir}/orders.parquet'")
    du = con.execute(
        winsorize_orders_oracle_sql(*grid, 10, 990)).fetchall()
    assert len(sp) == len(du) > 0
    for a, b in zip(sp, du):
        ta = tuple(a)
        assert (ta[0], ta[1], ta[4]) == (b[0], b[1], b[4])
        assert bits(ta[2]) == bits(b[2])
        assert bits(ta[3]) == bits(b[3])


def test_winsorize_validation_and_null_group(spark):
    from esri_dump_spark.operators.hist import winsorize
    df = spark.createDataFrame(
        [("a", 10.0), (None, 20.0), (None, 30.0)], "g string, x double")
    with pytest.raises(ValueError, match="p_lo < p_hi"):
        winsorize(df, "x", LO, HI, BINS, (), 900, 100)
    with pytest.raises(ValueError, match="ints"):
        winsorize(df, "x", LO, HI, BINS, (), 0, 900)
    # NULL group keys clip against their own band (null-safe join)
    out = winsorize(df, "x", LO, HI, BINS, ("g",), 10, 990)
    assert out.count() == 3


def test_winsorize_keeps_groups_without_finite_values(spark):
    """A group whose values are all NULL or all NaN has no band; its
    rows pass through unclipped (not dropped), and the DuckDB twin
    agrees row for row, NULL group key included."""
    import pyarrow as pa

    from esri_dump_spark.operators.hist import (
        winsorize, winsorize_orders_oracle_sql)
    nan = float("nan")
    rows = ([(k, "a", float(10 * k)) for k in range(1, 21)]
            + [(21, "n", None), (22, "n", None),
               (23, "x", nan), (24, "x", nan),
               (25, None, 5.0), (26, None, 900.0), (27, None, 60.0)])
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, "
              "o_totalprice double")
    sp = (winsorize(df, "o_totalprice", LO, HI, BINS,
                    ("o_orderpriority",), 100, 900)
          .select("o_orderkey", "o_orderpriority", "o_totalprice",
                  "clipped", "was_clipped")
          .orderBy("o_orderkey").collect())
    assert [r["o_orderkey"] for r in sp] == [r[0] for r in rows]
    by_key = {r["o_orderkey"]: r for r in sp}
    for k in (21, 22):
        assert by_key[k]["clipped"] is None
        assert by_key[k]["was_clipped"] is None
    for k in (23, 24):
        assert math.isnan(by_key[k]["clipped"])
        assert by_key[k]["was_clipped"] == 0
    con = duckdb.connect()
    # arrow keeps NULL and NaN apart (a pandas float column would not)
    orders = pa.table({c: [r[i] for r in rows] for i, c in enumerate(
        ("o_orderkey", "o_orderpriority", "o_totalprice"))})
    con.register("orders", orders)
    du = con.execute(winsorize_orders_oracle_sql(
        LO, HI, BINS, 100, 900)).fetchall()
    assert len(du) == len(sp)
    for a, b in zip(sp, du):
        assert (a[0], a[1], a[4]) == (b[0], b[1], b[4])
        for x, y in ((a[2], b[2]), (a[3], b[3])):
            assert (x is None and y is None) or \
                (math.isnan(x) and math.isnan(y)) or bits(x) == bits(y)


# ------------------------------------------------------------ moments

def test_moments_exact_vs_fraction(spark):
    rows = [("a", 3), ("a", 7), ("a", 7), ("b", 5), ("b", None),
            (None, 11), (None, 2)]
    df = spark.createDataFrame(rows, "g string, x bigint")
    got = {r["g"]: r for r in moment_stats(df, "x", ("g",)).collect()}
    data = {"a": [3, 7, 7], "b": [5], None: [11, 2]}
    assert set(got) == set(data)
    for g, xs in data.items():
        n, sx = len(xs), sum(xs)
        sxx = sum(v * v for v in xs)
        r = got[g]
        assert (r["n"], r["sum_x"], r["sum_xx"]) == (n, sx, sxx)
        assert bits(r["mean_x"]) == bits(float(Fraction(sx, n)))
        var = (n * sxx - sx * sx) / (n * n)
        assert bits(r["var_pop"]) == bits(var)
        assert bits(r["std_pop"]) == bits(math.sqrt(var))
    # single-value group: variance exactly +0.0 (integer numerator 0)
    assert bits(got["b"]["var_pop"]) == bits(0.0)


def test_moments_twin_bit_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sp = (moment_stats(docs.where("lang IS NOT NULL"), "n_chars",
                       ("lang",)).orderBy("lang").collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    du = con.execute(moment_docs_oracle_sql()).fetchall()
    assert len(sp) == len(du) > 0
    for a, b in zip(sp, du):
        assert tuple(a)[:4] == tuple(b)[:4]
        for i in (4, 5, 6):
            assert bits(tuple(a)[i]) == bits(b[i])


def test_moments_anchor_invariance(spark):
    # variance is translation-invariant: with an integer anchor the
    # aggregates change but var/std come out bit-identical, and the
    # mean adds the anchor back exactly
    rows = [("a", 1000003), ("a", 1000007), ("a", 1000004)]
    df = spark.createDataFrame(rows, "g string, x bigint")
    base = moment_stats(df, "x", ("g",)).collect()[0]
    anch = moment_stats(df, "x", ("g",), anchor=1000000).collect()[0]
    assert anch["sum_x"] == 14 and anch["sum_xx"] == 74
    assert bits(anch["var_pop"]) == bits(base["var_pop"])
    assert bits(anch["std_pop"]) == bits(base["std_pop"])
    xs = [r[1] for r in rows]
    exact_mean = 1000000 + (14 / 3)
    assert bits(anch["mean_x"]) == bits(exact_mean)


def test_moments_overflow_raises_both_engines(spark):
    # the TRUE overflow bound is (n * max|x-anchor|)^2 < 2^63: four
    # values of 1.5e9 satisfy the naive n*max^2 < 2^63 reading but
    # blow the variance numerator — both engines must RAISE, never
    # silently wrap (Spark ANSI multiply, DuckDB always)
    big = 1_500_000_000
    df = spark.createDataFrame([(big,)] * 4, "x bigint")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        moment_stats(df, "x").collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM (VALUES ({big}), "
                f"({big}), ({big}), ({big})) v(x)")
    from esri_dump_spark.operators.profile import moment_var_sql
    with pytest.raises(duckdb.OutOfRangeException):
        con.execute(
            "WITH a AS (SELECT CAST(count(*) AS BIGINT) n, "
            "CAST(sum(CAST(x AS BIGINT)) AS BIGINT) sx, "
            "CAST(sum(CAST(x AS BIGINT)*CAST(x AS BIGINT)) AS BIGINT)"
            " sxx FROM t) "
            f"SELECT {moment_var_sql('n', 'sx', 'sxx')} FROM a"
        ).fetchall()
    # the anchor escape hatch brings the same data in-bounds
    got = moment_stats(df, "x", anchor=big).collect()[0]
    assert got["sum_x"] == 0 and bits(got["var_pop"]) == bits(0.0)
    assert bits(got["mean_x"]) == bits(float(big))


def test_moments_validation(spark):
    df = spark.createDataFrame([("a", 1.5)], "g string, x double")
    with pytest.raises(ValueError, match="integral"):
        moment_stats(df, "x", ("g",))
    df2 = spark.createDataFrame([(1, 2)], "sum_x bigint, x bigint")
    with pytest.raises(ValueError, match="collide"):
        moment_stats(df2, "x", ("sum_x",))
    df3 = spark.createDataFrame([(1,)], "x bigint")
    with pytest.raises(ValueError, match="anchor"):
        moment_stats(df3, "x", anchor=1 << 53)
    with pytest.raises(ValueError, match="anchor"):
        moment_stats(df3, "x", anchor=0.5)


# --------------------------------------------------------------- plans

def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_hist_and_moment_plans_stay_jvm(spark):
    df = spark.range(2000).selectExpr(
        "CAST(id % 7 AS STRING) AS g",
        "CAST(id % 997 AS DOUBLE) AS x",
        "CAST(id % 50 AS BIGINT) AS v")
    from esri_dump_spark.operators.hist import winsorize
    h = hist_sketch(df, "x", LO, HI, BINS, ("g",))
    q = hist_quantiles(h, LO, HI, BINS, ("g",), (500,))
    m = moment_stats(df, "v", ("g",))
    w = winsorize(df, "x", LO, HI, BINS, ("g",), 100, 900)
    for d in (h, q, m, w):
        p = _plan(d)
        assert "BatchEvalPython" not in p and "ArrowEval" not in p
    # the sketch and moment aggs partial-combine map-side before
    # their single exchange — the wire carries sketch rows / three
    # BIGINTs per group, never values
    for d in (h, m):
        p = _plan(d)
        assert p.count("HashAggregate") >= 2
        assert p.count("Exchange") == 1
