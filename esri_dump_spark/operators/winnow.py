"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
SIGMOD 2003 — the MOSS algorithm; public method).

MinHash answers "are these two documents similar AS WHOLES"; winnowing
answers the complementary question a training-data pipeline also
needs: "do these documents SHARE A PASSAGE" — contained quotes,
boilerplate blocks, partially-copied pages that whole-document
similarity dilutes below any threshold. The guarantee is positional:
every shared substring of length >= w + k - 1 produces at least one
IDENTICAL selected fingerprint in both documents, and no substring
match shorter than k is ever detected.

Algorithm, exactly as published: hash every k-gram (positions
1..P = len-k+1, the repo's canonical md5-u60 so the DuckDB twin
recomputes identical values), slide a w-gram window, and in each
window select the MINIMUM hash, ties broken by RIGHTMOST position;
the fingerprint set is the distinct (position, hash) selections.

Scale shape: the whole selection is PER-DOCUMENT array work —
``transform(sequence(...))`` gram hashing, windowed ``array_min``
over ``slice``s (tie-break encoded as min over ``(h, -pos)`` structs,
lexicographic in both engines) — one whole-stage-codegen projection,
ZERO shuffles before the fingerprint explode. The gram array is
LET-BOUND as a lambda variable (``transform(array(grams), _wg ->
...)[0]``) so it is hashed once per document: binding it to a plain
projected column is NOT safe — CollapseProject re-inlines the alias
into every window reference and the hashing goes quadratic in
document length. Overlap detection then reuses the generic ids-only
``dedup.shared_hash_pairs`` engine (as video/audio dedup do): the
text never outlives its map stage, and every exchange after the
explode carries fixed-width ``(id, int64)`` rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shared_hash_pairs
from .sample import _qcol, _qident, hash_u60_expr, hash_u60_sql

__all__ = ["winnow_fingerprints", "winnow_overlap_pairs",
           "winnow_fingerprints_sql"]


def winnow_fingerprints(df: DataFrame, id_col: str,
                        text_col: str = "text", k: int = 8,
                        w: int = 4, seed: str = "") -> DataFrame:
    """One row per selected fingerprint: ``(id_col, pos, fp)`` with
    1-based gram position and the 60-bit gram hash. Texts shorter
    than ``k`` yield no rows; a document with fewer than ``w`` grams
    degenerates to one window over all its grams (the published
    boundary behavior). Expected density ~ 2/(w+1) fingerprints per
    gram. NULL text yields no rows."""
    if k <= 0 or w <= 0:
        raise ValueError("k and w must be positive")
    if "_wf" in df.columns:
        raise ValueError("`_wf` column would collide — rename it")
    t = _qident(text_col)
    h = hash_u60_expr(f"substring({t}, i, {k})", seed)
    grams = (f"CASE WHEN length({t}) >= {k} THEN "
             f"transform(sequence(1, length({t}) - {k} + 1), "
             f"i -> named_struct('h', {h}, 'negpos', -i)) "
             f"ELSE array() END")
    # LET-BIND the gram array as a lambda variable: a plain projected
    # column is NOT a safe binding — CollapseProject re-inlines it
    # into every window reference and the md5 work goes quadratic in
    # document length (measured 10x-suite regression at sf0.1). A
    # lambda variable cannot be inlined, so the array is hashed ONCE
    # per document and each window only pays its O(w) slice+min.
    fps = (f"transform(array({grams}), _wg -> "
           f"CASE WHEN size(_wg) > 0 THEN array_distinct("
           f"transform(sequence(1, greatest(size(_wg) - {w} + 1, 1)),"
           f" j -> array_min(slice(_wg, j, {w})))) ELSE array() END"
           f")[0]")
    # explode_outer, then drop the NULL rows of empty arrays: a plain
    # explode makes InferFiltersFromGenerate push a `size(...) > 0`
    # filter BELOW the projection, re-evaluating the whole gram
    # expression two extra times per document (measured 3x the md5
    # work); the post-generate null filter is free
    return (df.withColumn("_wf", F.expr(fps))
            .select(_qcol(id_col), F.explode_outer("_wf").alias("_s"))
            .where(F.col("_s").isNotNull())
            .select(_qcol(id_col),
                    (-F.col("_s.negpos")).cast("int").alias("pos"),
                    F.col("_s.h").alias("fp")))


def winnow_overlap_pairs(df: DataFrame, id_col: str,
                         text_col: str = "text", k: int = 8,
                         w: int = 4, min_shared: int = 2,
                         max_df: int | None = None,
                         seed: str = "") -> DataFrame:
    """Document pairs sharing >= ``min_shared`` distinct winnowing
    fingerprints — the shared-passage detector (a quote or
    boilerplate block of length >= w + k - 1 chars is guaranteed to
    produce at least one common fingerprint). ``max_df`` drops
    corpus-hot fingerprints (the ubiquitous-boilerplate cap) before
    the ids-only self-join; output is ``(id_a, id_b,
    n_shared_fps)``."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w, seed)
    return shared_hash_pairs(fps.select(id_col, "fp"), id_col, "fp",
                             min_shared, max_df, "n_shared_fps")


def winnow_fingerprints_sql(id_col: str, text_col: str = "text",
                            k: int = 8, w: int = 4, seed: str = "",
                            table: str = "documents") -> str:
    """DuckDB twin of ``winnow_fingerprints``: the explode-membership
    formulation — gram rows from generate_series, window membership
    join, per-window min hash then rightmost-position tie-break —
    returns the identical distinct (id, pos, fp) set (hashes via the
    shared ``hash_u60_sql`` derivation)."""
    gram = hash_u60_sql(f"substr({text_col}, i, {k})", seed)
    return f"""
        WITH g AS (
            SELECT {id_col}, CAST(i AS INT) AS pos, {gram} AS h
            FROM {table}, UNNEST(generate_series(1,
                 greatest(length({text_col}) - {k} + 1, 0))) AS _gi(i)
            WHERE length({text_col}) >= {k}),
        nw AS (
            SELECT {id_col}, greatest(count(*) - {w} + 1, 1) AS n
            FROM g GROUP BY {id_col}),
        wj AS (
            SELECT {id_col}, CAST(j AS INT) AS j
            FROM nw, UNNEST(generate_series(1, n)) AS _wj(j)),
        mem AS (
            SELECT wj.{id_col}, wj.j, g.pos, g.h
            FROM wj JOIN g USING ({id_col})
            WHERE g.pos BETWEEN wj.j AND wj.j + {w} - 1),
        sel AS (
            SELECT {id_col}, j, min(h) AS mh
            FROM mem GROUP BY {id_col}, j),
        pick AS (
            SELECT mem.{id_col}, mem.j, max(mem.pos) AS p, sel.mh
            FROM mem JOIN sel ON sel.{id_col} = mem.{id_col}
                 AND sel.j = mem.j AND mem.h = sel.mh
            GROUP BY mem.{id_col}, mem.j, sel.mh)
        SELECT DISTINCT {id_col}, p AS pos, mh AS fp FROM pick"""
