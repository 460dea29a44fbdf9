"""Driver-contract parity: every oracle_sql() query must produce the
same rows (order-insensitive, column-name-aligned) from Spark and
DuckDB. This mirrors what the external correctness gate does at
sf=0.01; we run the full suite at sf0.001 in CI and allow an
opt-in larger run via SPARK_GRAFT_TEST_SF_DIR."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as E

ORACLES = E.oracle_sql()
QUERIES = E.queries()


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in E.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


def test_registry_invariants():
    """Every q_* builder has exactly one REGISTRY row; every query has
    a DuckDB twin or a rows-only rationale, never both; the bench
    noise sentinels are bench queries."""
    import inspect

    import bench

    rows = sorted(q.builder.__name__ for q in E.REGISTRY)
    builders = sorted(n for n, f in vars(E).items() if n.startswith("q_")
                      and inspect.isfunction(f) and f.__module__ == E.__name__)
    assert rows == builders
    rows_only = {q.name for q in E.REGISTRY if q.rows_only}
    assert set(QUERIES) == set(ORACLES) | rows_only
    assert not rows_only & set(ORACLES)
    assert set(bench.SENTINELS) <= {q.name for q in E.REGISTRY if q.bench}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = _duck(sf_dir)
    res = con.sql(ORACLES[name])
    dcols = res.columns
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch"
    got, exp = _rows(scols, srows), _rows(dcols, drows)
    assert len(got) == len(exp), f"{name}: rowcount {len(got)} vs {len(exp)}"
    assert got == exp, f"{name}: value mismatch, first diff: " + str(
        next((a, b) for a, b in zip(got, exp) if a != b))


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_twin_dtype_audit(spark, sf_dir):
    """Mechanical guard for the representation class behind the r04
    split_assign red cell: both engines produced bit-identical VALUES
    but DuckDB's bare integer sum() returns HUGEINT (Arrow
    decimal128), which lands in pandas as float64 while Spark emits
    int64 — the driver's representation-sensitive hash then diverges
    on identical data. Execute every twin at LIMIT 0 and assert (a)
    no decimal/HUGEINT column survives to the projection and (b) no
    column is integer-class on one engine and floating-class on the
    other. Schema-only on both sides: Spark analysis, DuckDB LIMIT 0."""
    import pyarrow as pa

    _INT_SPARK = {"tinyint", "smallint", "int", "bigint"}
    _FLT_SPARK = {"float", "double"}
    con = _duck(sf_dir)
    problems = []
    for name in sorted(ORACLES):
        duck_schema = con.sql(ORACLES[name]).limit(0).arrow().schema
        spark_types = {f.name: f.dataType.simpleString()
                       for f in QUERIES[name](spark, sf_dir).schema.fields}
        for field in duck_schema:
            st = spark_types.get(field.name)
            # Spark-side decimals are the same hazard mirrored: they
            # land in pandas as object/Decimal while the twin emits
            # float64 or int64
            if st and st.startswith("decimal"):
                problems.append(
                    f"{name}.{field.name}: Spark {st} (Decimal -> "
                    f"pandas object) vs DuckDB {field.type}"
                    " — cast the Spark column to bigint/double")
            elif pa.types.is_decimal(field.type):
                problems.append(
                    f"{name}.{field.name}: DuckDB {field.type} "
                    f"(HUGEINT/decimal -> pandas float64) vs Spark {st}"
                    " — CAST the twin expression to BIGINT/DOUBLE")
            elif st in _INT_SPARK and pa.types.is_floating(field.type):
                problems.append(f"{name}.{field.name}: DuckDB "
                                f"{field.type} vs Spark {st}")
            elif st in _FLT_SPARK and pa.types.is_integer(field.type):
                problems.append(f"{name}.{field.name}: DuckDB "
                                f"{field.type} vs Spark {st}")
    assert not problems, "twin dtype drift:\n" + "\n".join(problems)


def test_twins_fold_with_translate():
    """No twin folds case with Unicode ``lower()``: Java and DuckDB
    fold U+0130 and a final capital sigma differently, so every twin
    folds with ``text._lower_sql`` (ASCII translate), as its engine
    side does. String-only, no Spark."""
    assert sorted(n for n, sql in ORACLES.items() if "lower(" in sql) == []


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert {r.poly_name for r in rows} <= {"rect", "diamond"}
