"""HLL / count-min sketch tests: pure-Python reference parity
(bit-exact for the raw estimator), mergeability, accuracy envelope,
NULL/layout invariance, cross-engine rho spelling, and plan shape."""

from __future__ import annotations

import hashlib
import math
import struct

import duckdb
import pytest
from pyspark.sql import functions as F

from esri_dump_spark.operators import sketch as sk
from esri_dump_spark.operators.sample import hash_u60_sql


# ---------------------------------------------------------------
# pure-Python reference (independent derivation, same published
# algorithm — NOT the SQL strings)

def py_hash_u60(value, seed=""):
    if value is None:
        return None
    h = hashlib.md5(f"{value}:{seed}".encode()).hexdigest()
    return int(h[:15], 16)


def py_hll_registers(values, m, seed=""):
    fb = 60 - (m.bit_length() - 1)
    regs = {}
    for v in values:
        if v is None:
            continue
        h = py_hash_u60(v, seed)
        j = h % m
        r = h // m
        rho = fb + 1 if r == 0 else fb + 1 - r.bit_length()
        regs[j] = max(regs.get(j, 0), rho)
    return regs


def py_hll_estimate(regs, m):
    cap = 60 - (m.bit_length() - 1) + 1
    z_int = sum(1 << (cap - mj) for mj in regs.values())
    z_int += (m - len(regs)) * (1 << cap)
    v_zero = m - len(regs)
    est = ((7213 / 10000) / (1 + 1079 / (1000 * m))
           * float(1 << cap) * float(m * m) / float(z_int))
    return len(regs), v_zero, z_int, est


def py_cm_cells(pairs, depth, width, seed=""):
    cells = {}
    for k, w in pairs:
        if k is None:
            continue
        for d in range(depth):
            b = py_hash_u60(k, f"{seed}:cm{d}") % width
            cells[(d, b)] = cells.get((d, b), 0) + w
    return cells


def py_cm_estimate(cells, key, depth, width, seed=""):
    return min(
        cells.get((d, py_hash_u60(key, f"{seed}:cm{d}") % width), 0)
        for d in range(depth))


def bits(x: float) -> bytes:
    return struct.pack("<d", x)


# ---------------------------------------------------------------
# HLL

VALUES = [f"user-{i}" for i in range(400)] + ["user-7", None, "user-7"]


def _hll_pipeline(spark, values, m, seed=""):
    df = spark.createDataFrame([(v,) for v in values], "uid string")
    regs = sk.hll_register_table(df, "uid", (), m=m, seed=seed)
    est = sk.hll_estimate(regs, (), m=m)
    return regs, est


def test_hll_registers_match_python(spark):
    regs, _ = _hll_pipeline(spark, VALUES, 256)
    got = {r["reg"]: r["m_j"] for r in regs.collect()}
    assert got == py_hll_registers(VALUES, 256)


def test_hll_estimate_bit_exact_vs_python(spark):
    for m in (256, 1024):
        _, est = _hll_pipeline(spark, VALUES, m)
        row = est.collect()[0]
        used, v0, z, e = py_hll_estimate(py_hll_registers(VALUES, m), m)
        assert (row["regs_used"], row["v_zero"], row["z_int"]) == \
            (used, v0, z)
        assert bits(row["est_raw"]) == bits(e)


def test_hll_accuracy_envelope(spark):
    n = 5000
    vals = [f"id-{i}" for i in range(n)]
    _, est = _hll_pipeline(spark, vals, 1024)
    e = est.collect()[0]["est_raw"]
    # sigma ~= 1.04/sqrt(1024) ~= 3.25%; allow 4 sigma
    assert abs(e - n) / n < 0.13


def test_hll_merge_equals_sketch_of_union(spark):
    a = [f"a-{i}" for i in range(300)]
    b = [f"b-{i}" for i in range(300)] + a[:50]
    ra, _ = _hll_pipeline(spark, a, 256)
    rb, _ = _hll_pipeline(spark, b, 256)
    merged = {r["reg"]: r["m_j"]
              for r in sk.hll_merge(ra, rb).collect()}
    direct, _ = _hll_pipeline(spark, a + b, 256)
    assert merged == {r["reg"]: r["m_j"] for r in direct.collect()}


def test_hll_grouped_null_and_layout(spark):
    rows = [(("even" if i % 2 == 0 else "odd"), f"u{i // 3}")
            for i in range(600)] + [("even", None)]
    df = spark.createDataFrame(rows, "grp string, uid string")
    regs = sk.hll_register_table(df, "uid", ("grp",), m=256)
    est = {r["grp"]: r for r in
           sk.hll_estimate(regs, ("grp",), m=256).collect()}
    for grp in ("even", "odd"):
        vals = [u for g, u in rows if g == grp and u is not None]
        used, v0, z, e = py_hll_estimate(
            py_hll_registers(vals, 256), 256)
        assert est[grp]["z_int"] == z
        assert bits(est[grp]["est_raw"]) == bits(e)
    # layout invariance: the sketch is layout-independent
    regs13 = sk.hll_register_table(
        df.repartition(13), "uid", ("grp",), m=256)
    assert sorted(map(tuple, regs.collect())) == \
        sorted(map(tuple, regs13.collect()))


def test_hll_corrected_small_range(spark):
    vals = [f"v{i}" for i in range(40)]
    regs, est = _hll_pipeline(spark, vals, 256)
    row = sk.hll_corrected(est, 256).collect()[0]
    v0 = row["v_zero"]
    assert v0 > 0
    assert bits(row["est"]) == bits(256 * math.log(256 / v0))
    # linear counting should be close on tiny cardinalities
    assert abs(row["est"] - 40) / 40 < 0.15


def test_hll_m_validation(spark):
    df = spark.createDataFrame([("a",)], "uid string")
    for bad in (0, 64, 200, 1 << 17):
        with pytest.raises(ValueError):
            sk.hll_register_table(df, "uid", (), m=bad)


def test_hll_rho_cross_engine(spark):
    """The rho/bin spelling must agree between Spark and DuckDB on
    adversarial hash values: 0, 1, max-field, powers of two and
    their neighbours."""
    m = 256
    fb = 60 - 8
    hvs = [0, 1, 255, 256, 257, (1 << 59) - 1, 1 << 59,
           (1 << 60) - 1, m * ((1 << fb) - 1), m]
    s_rows = (spark.createDataFrame([(h,) for h in hvs], "hv bigint")
              .selectExpr("hv", sk.hll_rho_sql("hv", m, sk.SPARK)
                          + " AS rho").collect())
    con = duckdb.connect()
    for row in s_rows:
        d = con.execute(
            f"SELECT {sk.hll_rho_sql(str(row['hv']), m, sk.DUCK)}"
        ).fetchone()[0]
        assert d == row["rho"], row["hv"]
        r = row["hv"] // m
        expect = (fb + 1) if r == 0 else fb + 1 - r.bit_length()
        assert row["rho"] == expect


# ---------------------------------------------------------------
# count-min

WORDS = (["the"] * 50 + ["quick"] * 20 + ["fox"] * 5
         + [f"rare-{i}" for i in range(30)] + [None])


def test_cm_matches_python_and_never_underestimates(spark):
    df = spark.createDataFrame([(w,) for w in WORDS], "w string")
    cells = {(r["d"], r["bucket"]): r["cnt"] for r in
             sk.cm_sketch(df, "w", depth=3, width=64).collect()}
    assert cells == py_cm_cells(
        [(w, 1) for w in WORDS], 3, 64)
    keys = df.where("w IS NOT NULL").distinct()
    est = {r["w"]: r["est"] for r in
           sk.cm_estimate(sk.cm_sketch(df, "w", 3, 64), keys,
                          "w", 3, 64).collect()}
    true = {}
    for w in WORDS:
        if w is not None:
            true[w] = true.get(w, 0) + 1
    for w, t in true.items():
        assert est[w] >= t
        assert est[w] == py_cm_estimate(cells, w, 3, 64)
    # a wide sketch on a small vocab is exact
    wide = sk.cm_sketch(df, "w", depth=4, width=4096)
    est_w = {r["w"]: r["est"] for r in
             sk.cm_estimate(wide, keys, "w", 4, 4096).collect()}
    assert est_w == true


def test_cm_weighted_and_merge(spark):
    rows = [("a", 3), ("b", 2), ("a", 5), ("c", 1)]
    df = spark.createDataFrame(rows, "k string, n int")
    cells = {(r["d"], r["bucket"]): r["cnt"] for r in
             sk.cm_sketch(df, "k", 2, 32,
                          weight_col="n").collect()}
    assert cells == py_cm_cells([(k, n) for k, n in rows], 2, 32)
    # mergeability: cell-wise sum of shard sketches == whole sketch
    h1, h2 = df.limit(2), df.subtract(df.limit(2))
    merged = (sk.cm_sketch(h1, "k", 2, 32, weight_col="n")
              .unionByName(sk.cm_sketch(h2, "k", 2, 32,
                                        weight_col="n"))
              .groupBy("d", "bucket")
              .agg(F.expr("CAST(sum(cnt) AS BIGINT)").alias("cnt")))
    assert {(r["d"], r["bucket"]): r["cnt"]
            for r in merged.collect()} == cells


def test_cm_validation(spark):
    df = spark.createDataFrame([("a",)], "k string")
    for d, w in ((0, 64), (9, 64), (4, 8), (4, 1 << 21)):
        with pytest.raises(ValueError):
            sk.cm_sketch(df, "k", d, w)


def test_hostile_name_guards(spark):
    df = spark.createDataFrame([("a", "g")], "reg string, d string")
    with pytest.raises(ValueError, match="collide"):
        sk.hll_register_table(df, "d", ("reg",), m=256)
    with pytest.raises(ValueError, match="collide"):
        sk.cm_estimate(df, df, "d")
    regs = spark.createDataFrame([("x", 0, 3)],
                                 "z_int string, reg long, m_j int")
    with pytest.raises(ValueError, match="collide"):
        sk.hll_estimate(regs, ("z_int",), m=256)
    # dotted / spaced names resolve literally, not as struct paths
    odd = spark.createDataFrame([("g1", "u1"), ("g1", "u2")],
                                "`a.b` string, `the user` string")
    est = sk.hll_estimate(
        sk.hll_register_table(odd, "the user", ("a.b",), m=256),
        ("a.b",), m=256).collect()
    assert est[0]["regs_used"] == 2


# ---------------------------------------------------------------
# bloom filter

def py_bloom_positions(key, m_bits, k, seed=""):
    return [py_hash_u60(key, f"{seed}:bf{j}") % m_bits
            for j in range(k)]


def py_bloom_words(keys, m_bits, k, seed=""):
    words = {}
    for key in keys:
        if key is None:
            continue
        for pos in py_bloom_positions(key, m_bits, k, seed):
            w = pos // 32
            words[w] = words.get(w, 0) | (1 << (pos % 32))
    return words


def py_bloom_probe(words, key, m_bits, k, seed=""):
    return int(all(
        words.get(pos // 32, 0) & (1 << (pos % 32))
        for pos in py_bloom_positions(key, m_bits, k, seed)))


MEMBERS = [f"gram-{i}" for i in range(120)] + ["gram-7", None]
OUTSIDERS = [f"other-{i}" for i in range(400)]


def test_bloom_bits_match_python(spark):
    df = spark.createDataFrame([(v,) for v in MEMBERS], "g string")
    got = {r["word_idx"]: r["bits"] for r in
           sk.bloom_bits_table(df, "g", 4096, 4).collect()}
    assert got == py_bloom_words(MEMBERS, 4096, 4)
    # layout invariance
    got13 = {r["word_idx"]: r["bits"] for r in
             sk.bloom_bits_table(df.repartition(13), "g",
                                 4096, 4).collect()}
    assert got13 == got


def test_bloom_probe_no_false_negatives_and_matches_python(spark):
    df = spark.createDataFrame([(v,) for v in MEMBERS], "g string")
    bits = sk.bloom_bits_table(df, "g", 4096, 4)
    words = py_bloom_words(MEMBERS, 4096, 4)
    probes = spark.createDataFrame(
        [(v,) for v in MEMBERS + OUTSIDERS], "g string")
    flags = {r["g"]: r["maybe_hit"] for r in
             sk.bloom_probe(bits, probes, "g", 4096, 4).collect()}
    for v in MEMBERS:
        if v is not None:
            assert flags[v] == 1          # never a false negative
    fps = 0
    for v in OUTSIDERS:
        assert flags[v] == py_bloom_probe(words, v, 4096, 4)
        fps += flags[v]
    # 4096 bits / ~121 keys * 4 hashes -> sparse; fp rate well under 5%
    assert fps / len(OUTSIDERS) < 0.05


def test_bloom_merge_equals_bloom_of_union(spark):
    a = [f"a-{i}" for i in range(80)]
    b = [f"b-{i}" for i in range(80)] + a[:10]
    ta = sk.bloom_bits_table(
        spark.createDataFrame([(v,) for v in a], "g string"),
        "g", 2048, 3)
    tb = sk.bloom_bits_table(
        spark.createDataFrame([(v,) for v in b], "g string"),
        "g", 2048, 3)
    merged = {r["word_idx"]: r["bits"]
              for r in sk.bloom_merge(ta, tb).collect()}
    assert merged == py_bloom_words(a + b, 2048, 3)


def test_bloom_fill_stats_and_bitcount_cross_engine(spark):
    df = spark.createDataFrame([(v,) for v in MEMBERS], "g string")
    bits = sk.bloom_bits_table(df, "g", 4096, 4)
    row = sk.bloom_fill_stats(bits, 4096).collect()[0]
    words = py_bloom_words(MEMBERS, 4096, 4)
    assert row["m_bits"] == 4096
    assert row["words_used"] == len(words)
    assert row["bits_set"] == sum(bin(w).count("1")
                                  for w in words.values())
    # bit_count agrees between engines on adversarial word values
    vals = [0, 1, (1 << 31), (1 << 32) - 1, (1 << 52) + 3]
    s = (spark.createDataFrame([(v,) for v in vals], "x bigint")
         .selectExpr("x", "bit_count(x) AS n").collect())
    con = duckdb.connect()
    for r in s:
        assert con.execute(
            f"SELECT bit_count(CAST({r['x']} AS BIGINT))"
        ).fetchone()[0] == r["n"] == bin(r["x"]).count("1")


def test_bloom_validation_and_guards(spark):
    df = spark.createDataFrame([("a",)], "g string")
    for m, k in ((100, 4), (128, 4), (1 << 27, 4),
                 (4096, 0), (4096, 17)):
        with pytest.raises(ValueError):
            sk.bloom_bits_table(df, "g", m, k)
    hostile = spark.createDataFrame([("a", 1)], "pos string, n int")
    with pytest.raises(ValueError, match="collide"):
        sk.bloom_bits_table(hostile, "pos", 4096, 4)
    with pytest.raises(ValueError, match="collide"):
        sk.bloom_probe(df, hostile, "pos", 4096, 4)
    # dotted names resolve literally
    odd = spark.createDataFrame([("k1",), ("k2",)], "`a.b` string")
    bits = sk.bloom_bits_table(odd, "a.b", 4096, 4)
    flags = sk.bloom_probe(bits, odd, "a.b", 4096, 4).collect()
    assert all(r["maybe_hit"] == 1 for r in flags)


# ---------------------------------------------------------------
# plan shape

def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_sketch_plans_stay_jvm(spark):
    df = spark.range(2000).selectExpr(
        "CAST(id % 7 AS STRING) AS grp",
        "CAST(id AS STRING) AS uid")
    regs = sk.hll_register_table(df, "uid", ("grp",), m=256)
    est = sk.hll_estimate(regs, ("grp",), m=256)
    cm = sk.cm_sketch(df, "uid", 4, 1024)
    bloom = sk.bloom_bits_table(df, "uid", 4096, 4)
    probe = sk.bloom_probe(bloom, df, "uid", 4096, 4)
    for d in (regs, est, cm, bloom, probe):
        p = _plan(d)
        assert "BatchEvalPython" not in p and "ArrowEval" not in p
    # the register agg partial-combines map-side before its exchange
    for d in (regs, bloom):
        p = _plan(d)
        assert p.count("HashAggregate") >= 2
        assert p.count("Exchange") == 1
    # each hash is computed at exactly ONE plan site: a doubled count
    # means InferFiltersFromGenerate re-inlined the bucket/position
    # array into a size() filter (the winnow-quadratic bug class)
    assert _plan(cm).count("md5(") == 4          # depth hashes
    assert _plan(bloom).count("md5(") == 4       # k hashes
    # the HLL hash feeds reg and rho (twice) from one site, also when
    # a filter on reg is pushed below the projection
    assert _plan(regs).count("md5(") == 1
    assert _plan(regs.where("reg < 128")).count("md5(") == 1
