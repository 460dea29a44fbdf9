"""Deduplication operator family for large-scale training-data
pipelines: exact, MinHash+LSH, SimHash, n-gram Jaccard verification,
embedding-cosine near-dup, and phash-based image near-dup.

Design for 10^12-row scale:
  * every signature (minhash band, simhash key, phash band) is an
    equi-join/groupBy key, so candidate generation is hash-shuffle
    shaped — never an all-pairs comparison;
  * signatures are computed with built-in expressions where possible
    (exact dedup, shingles) and Arrow-batched pandas UDFs otherwise;
  * verification (exact Jaccard / cosine) runs only on LSH candidate
    pairs, i.e. output-bounded work.

All hash math is deterministic (no Python ``hash``): xxhash-free
splitmix64 over UTF-8 bytes, identical across executors and runs.
"""

from __future__ import annotations

from itertools import combinations
from math import comb as _comb

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .text import _lower_sql

__all__ = [
    "content_ledger", "dedup_incremental",
    "dedup_incremental_oracle_sql", "planted_content_sql",
    "exact_dedup", "exact_dedup_by_hash", "minhash_signature",
    "minhash_lsh_pairs", "minhash_dedup", "component_min_labels",
    "cluster_dedup_from_pairs", "shared_hash_pairs", "minhash_sql_cte",
    "minhash_pairs_oracle_sql", "minhash_permutation_consts",
    "simhash", "simhash_pairs", "simhash_sql_cte",
    "ngram_jaccard_pairs", "word_grams", "word_grams_sql",
    "decontaminate",
    "embedding_near_dup", "embedding_cluster_dedup", "phash_near_dup",
    "phash_cluster_dedup", "crossmodal_near_dup",
    "embedding_cluster_dedup_oracle_sql",
    "cluster_size_histogram", "cluster_size_histogram_oracle_sql",
]


def _spread(df: DataFrame) -> DataFrame:
    """Widen under-partitioned input to the cluster's parallelism
    before a per-row-expensive stage (signature / gram computation).
    A small parquet file arrives as ONE input split, which would run
    the Arrow UDF or gram explode on a single core; at warehouse scale
    inputs already carry >= defaultParallelism splits and this is a
    no-op (no shuffle inserted).

    Plans that already contain an Exchange are returned untouched
    WITHOUT probing the partition count: an upstream shuffle already
    redistributes to spark.sql.shuffle.partitions, and probing via
    ``df.rdd`` would force AQE to materialize every upstream query
    stage just to read the count — executing the pipeline once for
    the probe and again for the real query. For the remaining narrow
    (scan/project) plans the ``.rdd`` probe builds lineage only; no
    stage runs."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ------------------------------------------------------------------ exact

def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Hash-groupBy exact dedup; keeps an arbitrary row per key group
    (deterministic when duplicate rows are identical)."""
    return df.dropDuplicates(cols)


def exact_dedup_by_hash(df: DataFrame, text_col: str,
                        id_col: str) -> DataFrame:
    """Content-hash exact dedup keeping the smallest id per content —
    fully deterministic pick, expressible in pure SQL (oracle-able):
    one row per distinct content, the row with MIN(id)."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# --------------------------------------------------------------- minhash

def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return x ^ (x >> np.uint64(31))


MINHASH_P = 2147483647  # 2^31 - 1: products stay < 2^62, no wraparound


def minhash_permutation_consts(num_hashes: int = 64) -> tuple[list, list]:
    """Deterministic (a_k, b_k) for the linear-congruential permutation
    family h -> (a_k * h + b_k) mod P. Derived via splitmix so they are
    identical everywhere, and emitted as LITERALS into the SQL oracle."""
    z = _splitmix64(np.arange(1, 2 * num_hashes + 1, dtype=np.uint64))
    a = (z[:num_hashes] % np.uint64(MINHASH_P - 1) + np.uint64(1)).tolist()
    b = (z[num_hashes:] % np.uint64(MINHASH_P)).tolist()
    return [int(x) for x in a], [int(x) for x in b]


def minhash_signature(df: DataFrame, text_col: str, num_hashes: int = 64,
                      shingle_n: int = 5, out: str = "minhash") -> DataFrame:
    """Adds array<bigint> minhash signature column (Arrow-batched).

    Every ingredient is ANSI-SQL-reproducible so the whole LSH operator
    can be oracled: gram hashes are the low 60 bits of md5 (like
    simhash), reduced mod P, permuted by the (a_k, b_k) family above,
    min-folded per document. Arithmetic stays < 2^62, so DuckDB BIGINT
    computes bit-identical signatures."""
    a_c, b_c = minhash_permutation_consts(num_hashes)
    a = np.array(a_c, dtype=np.uint64)
    b = np.array(b_c, dtype=np.uint64)
    P = np.uint64(MINHASH_P)

    @pandas_udf("array<long>")
    def sig(texts: pd.Series) -> pd.Series:
        out_rows = []
        cache: dict = {}   # per-batch gram-hash memo (grams repeat)
        for t in texts:
            h = _md5_shingle_hashes(t or "", shingle_n, cache) % P
            m = (h[:, None] * a[None, :] + b[None, :]) % P    # (g, k)
            out_rows.append(m.min(axis=0).astype(np.int64))
        return pd.Series(out_rows)

    return _spread(df).withColumn(out, sig(F.expr(_lower_sql(text_col))))


def minhash_sql_cte(id_col: str = "doc_id", text_col: str = "text",
                    table: str = "documents", num_hashes: int = 64,
                    shingle_n: int = 5) -> str:
    """DuckDB CTE chain recomputing the identical minhash signature —
    yields a relation (id_col, s0..s{k-1})."""
    a_c, b_c = minhash_permutation_consts(num_hashes)
    mins = ", ".join(
        f"min((hv * {a_c[k]} + {b_c[k]}) % {MINHASH_P}) AS s{k}"
        for k in range(num_hashes))
    return f"""
        {_char_gram_hashes_sql("_mh", id_col, text_col, table, shingle_n)},
        _ms AS (SELECT {id_col}, {mins}
                FROM (SELECT {id_col}, hv % {MINHASH_P} AS hv FROM _mh) _mp
                GROUP BY {id_col})"""


def minhash_pair_select_sql(id_col: str = "doc_id", num_hashes: int = 64,
                            bands: int = 16, threshold: float = 0.6,
                            with_est: bool = False) -> str:
    """THE DuckDB spelling of the minhash LSH pair predicate: a SELECT
    of ``(id_a, id_b)`` over aliases a/b of the ``_ms`` signature
    relation, candidate = any band's signature slice equal, kept when
    the estimate (matching positions / num_hashes) reaches
    ``threshold``; ``with_est`` adds the estimate as ``est_jaccard``."""
    r = num_hashes // bands
    band_eq = " OR ".join(
        "(" + " AND ".join(f"a.s{band * r + j} = b.s{band * r + j}"
                           for j in range(r)) + ")"
        for band in range(bands))
    est = "(" + " + ".join(
        f"CASE WHEN a.s{k} = b.s{k} THEN 1 ELSE 0 END"
        for k in range(num_hashes)) + f") * 1.0 / {num_hashes}"
    sel = f"SELECT a.{id_col} AS id_a, b.{id_col} AS id_b"
    if with_est:
        sel += f",\n               {est} AS est_jaccard"
    return f"""{sel}
        FROM _ms a JOIN _ms b
          ON a.{id_col} < b.{id_col} AND ({band_eq})
        WHERE {est} >= {threshold}"""


def minhash_pairs_oracle_sql(id_col: str = "doc_id",
                             text_col: str = "text",
                             table: str = "documents",
                             num_hashes: int = 64, bands: int = 16,
                             shingle_n: int = 5,
                             threshold: float = 0.6) -> str:
    """Full DuckDB twin of ``minhash_lsh_pairs(band_key='exact')``."""
    return f"""
        WITH {minhash_sql_cte(id_col, text_col, table, num_hashes, shingle_n)}
        {minhash_pair_select_sql(id_col, num_hashes, bands, threshold,
                                 with_est=True)}"""


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 64, bands: int = 16,
                      shingle_n: int = 5,
                      threshold: float | None = None,
                      band_key: str = "hash") -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified by signature-
    estimated Jaccard. Output: (id_a, id_b, est_jaccard), id_a < id_b.

    Plan: signature -> explode bands -> groupBy-free self-equi-join on
    (band_idx, band_hash) -> distinct pairs -> estimate Jaccard from
    full signatures. Never compares rows that share no band.

    ``band_key``: 'hash' (default) joins on a 4-byte murmur of the band
    slice — the narrow-shuffle scale path; 'exact' joins on the literal
    slice rendered as a string, which is wider but exactly reproducible
    in ANSI SQL (the oracle path — murmur isn't available to DuckDB,
    and a murmur collision could admit a candidate the SQL twin
    wouldn't). Identical output either way except for those
    astronomically-rare collisions.
    """
    rows_per_band = num_hashes // bands
    sigd = minhash_signature(df.select(id_col, text_col), text_col,
                             num_hashes, shingle_n).cache()

    def _key(i: int):
        slice_ = F.slice("minhash", i * rows_per_band + 1, rows_per_band)
        if band_key == "exact":
            return F.concat_ws(",", slice_.cast("array<string>"))
        return F.hash(slice_.cast("array<string>").cast("string")) \
            .cast("string")

    # shuffle-width discipline: the exploded band self-join carries ONLY
    # (id, band_idx, band_hash) — never the 64-long signature array,
    # which would otherwise cross the exchange 2 x bands times per row.
    # Signatures are re-attached AFTER the pair dedup by id equi-joins
    # (output-bounded: one lookup per surviving candidate pair).
    banded = sigd.select(
        F.col(id_col),
        F.posexplode(F.array(*[_key(i) for i in range(bands)]))
        .alias("band_idx", "band_hash"),
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    pairs = (a.join(b, ["band_idx", "band_hash"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .dropDuplicates(["id_a", "id_b"]))

    sig_a = sigd.select(F.col(id_col).alias("id_a"),
                        F.col("minhash").alias("sig_a"))
    sig_b = sigd.select(F.col(id_col).alias("id_b"),
                        F.col("minhash").alias("sig_b"))
    est = (pairs.join(sig_a, "id_a").join(sig_b, "id_b")
           .withColumn(
               "est_jaccard",
               F.expr("size(filter(zip_with(sig_a, sig_b, "
                      "(x, y) -> x = y), v -> v))") / F.lit(num_hashes))
           .select("id_a", "id_b", "est_jaccard"))
    if threshold is not None:
        est = est.filter(F.col("est_jaccard") >= threshold)
    return est


def minhash_dedup(df: DataFrame, id_col: str, text_col: str,
                  threshold: float = 0.8, connected: bool = False,
                  **kw) -> DataFrame:
    """Drop near-duplicates.

    ``connected=False`` (one hop): drop every id that appears as the
    larger side of a pair. Cheap, but a component can keep MULTIPLE
    survivors — any node smaller than all of its direct neighbors
    survives even when a larger intermediary connects it to the
    component minimum (e.g. edges B-E and D-E with B < D < E keep
    both B and D).

    ``connected=True``: ``cluster_dedup_from_pairs`` keeps exactly one
    survivor — the global minimum id — per connected component.

    Extra kwargs (bands, band_key, ...) pass through to
    ``minhash_lsh_pairs``."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold=threshold, **kw)
    if connected:
        return cluster_dedup_from_pairs(df, pairs, id_col)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def cluster_dedup_from_pairs(items: DataFrame, pairs: DataFrame,
                             id_col: str, a_col: str = "id_a",
                             b_col: str = "id_b") -> DataFrame:
    """THE cluster collapse over any near-dup pair table: one survivor
    — the minimum id — per connected component of the pair graph,
    returning the surviving rows of ``items`` unchanged. Every
    modality's cluster dedup (text minhash, image phash, embeddings,
    video frames, audio windows) goes through here.

    Scale posture: ``component_min_labels`` runs over near-dup volume
    only (O(log component diameter) rounds, localCheckpoint-truncated);
    the final left_anti join broadcasts the loser set when it fits
    (losers are bounded by duplicate volume, not corpus volume), so
    the payload bytes of ``items`` stay put."""
    labels = component_min_labels(pairs.select(
        F.col(a_col).alias("id_a"), F.col(b_col).alias("id_b")))
    losers = (labels.filter(F.col("rep") != F.col("id"))
              .select(F.col("id").alias(id_col)))
    return items.join(losers, id_col, "left_anti")


def shared_hash_pairs(items: DataFrame, id_col: str, hash_col: str,
                      min_shared: int, max_df: int | None,
                      count_alias: str) -> DataFrame:
    """Near-dup pairs over (id, content-hash) rows: distinct per item,
    optional ``max_df`` document-frequency cap (drops degenerate
    hashes shared by more than that many items — the n-gram max_df
    candidate rule; the df filter side is small so Spark broadcasts
    it), ids-only self-equi-join on the hash, and a per-pair
    shared-count threshold. The bytes the hashes came from never enter
    this plan — callers hash in their map stage. Backs video (frame
    phash), audio (window fingerprint) and winnowing dedup."""
    a_id, b_id = f"{id_col}_a", f"{id_col}_b"
    items = items.select(id_col, hash_col).distinct()
    if max_df is not None:
        df_ok = (items.groupBy(hash_col)
                 .agg(F.count(F.lit(1)).alias("_df"))
                 .filter(F.col("_df") <= max_df)
                 .select(hash_col))
        items = items.join(df_ok, hash_col)
    a = items.select(F.col(id_col).alias(a_id), hash_col)
    b = items.select(F.col(id_col).alias(b_id), hash_col)
    return (a.join(b, hash_col)
            .filter(F.col(a_id) < F.col(b_id))
            .groupBy(a_id, b_id)
            .agg(F.count(F.lit(1)).alias(count_alias))
            .filter(F.col(count_alias) >= min_shared))


def component_min_labels(pairs: DataFrame, max_iter: int = 200) -> DataFrame:
    """Connected components of the (id_a, id_b) pair graph by
    min-label propagation WITH pointer jumping: returns (id, rep)
    where ``rep`` is the minimum id reachable from ``id``. Each round
    is (1) a hop — min over the neighbors' current reps — and (2) a
    jump — ``rep := rep(rep)`` (reps only ever decrease and every rep
    is itself a labeled node, so the composition is well-defined and
    monotone), which doubles the label's reach per round and turns the
    round count from O(component diameter) into O(log diameter) — the
    difference between ~75 and ~7 Spark jobs on a 75-node chained
    component. Lineage is truncated per round (localCheckpoint) so
    plans stay flat; runs to FIXPOINT (no label changes) — at the
    fixpoint the hop condition alone forces every component constant
    at its minimum id, exactly the recursive-CTE SQL twin's answer;
    the jump steps only accelerate, never alter, that fixpoint.
    ``max_iter`` is a hard safety cap that raises instead of returning
    a non-converged labeling."""
    edges = pairs.select("id_a", "id_b")
    und = edges.unionByName(
        edges.select(F.col("id_b").alias("id_a"),
                     F.col("id_a").alias("id_b")))
    und = und.localCheckpoint()
    labels = (und.select(F.col("id_a").alias("id")).distinct()
              .withColumn("rep", F.col("id"))
              .localCheckpoint())
    for _ in range(max_iter):
        nbr = (und.join(labels.select(F.col("id").alias("id_b"),
                                      F.col("rep").alias("rep_b")),
                        "id_b")
               .groupBy("id_a").agg(F.min("rep_b").alias("nmin")))
        hopped = (labels.join(nbr.withColumnRenamed("id_a", "id"),
                              "id", "left")
                  .select("id", F.col("rep").alias("_old"),
                          F.least(F.col("rep"),
                                  F.coalesce(F.col("nmin"),
                                             F.col("rep")))
                          .alias("_hop")))
        # pointer jump: follow the (possibly already-hopped) rep one
        # more level — rep(rep) <= rep because reps are monotone
        # non-increasing, so the jump can only tighten
        lookup = hopped.select(F.col("id").alias("_j_id"),
                               F.col("_hop").alias("_j_rep"))
        # carry the did-anything-move flag inside the same
        # materialization: the convergence probe then reads the
        # checkpointed rows instead of paying a second join+shuffle
        # per round
        new = (hopped.join(lookup,
                           hopped["_hop"] == lookup["_j_id"], "left")
               .select(F.col("id"),
                       F.coalesce(F.col("_j_rep"),
                                  F.col("_hop")).alias("rep"),
                       (F.coalesce(F.col("_j_rep"), F.col("_hop"))
                        < F.col("_old")).alias("_chg"))
               .localCheckpoint())
        changed = new.agg(
            F.max(F.col("_chg").cast("int"))).first()[0]
        labels = new.drop("_chg")
        if not changed:
            return labels
    raise RuntimeError(
        f"component_min_labels did not converge in {max_iter} rounds "
        "(pathological chain — raise max_iter)")


def components_sql_cte(id_col: str = "doc_id") -> str:
    """THE one SQL spelling of the connected-components closure (same
    discipline as ``hash_u60_sql``/``split_case_sql``): CTE fragments
    ``_und``/``_reach``/``_rep`` over an in-scope ``_pairs(id_a,
    id_b)`` relation, yielding ``_rep(id_col, rep)`` with rep = the
    minimum reachable id. Callers must open WITH RECURSIVE."""
    return f"""
        _und AS (SELECT id_a, id_b FROM _pairs
                 UNION ALL
                 SELECT id_b, id_a FROM _pairs),
        _reach(src, dst) AS (
            SELECT id_a, id_a FROM _und GROUP BY id_a
            UNION
            SELECT r.src, u.id_b FROM _reach r
            JOIN _und u ON r.dst = u.id_a),
        _rep AS (SELECT src AS {id_col}, min(dst) AS rep
                 FROM _reach GROUP BY src)"""


def dedup_survivors_sql(id_col: str, table: str,
                        losers: str | None = None) -> str:
    """THE survivor tail of the dedup twins: CTE ``_losers`` from the
    ``losers`` SELECT (default: every non-minimum member of a
    ``components_sql_cte`` component), then the ids of ``table`` with
    no loser — NOT EXISTS, never NOT IN."""
    if losers is None:
        losers = f"SELECT {id_col} FROM _rep WHERE rep <> {id_col}"
    return f"""_losers AS ({losers})
        SELECT t.{id_col} FROM {table} t
        WHERE NOT EXISTS (SELECT 1 FROM _losers l
                          WHERE l.{id_col} = t.{id_col})
        ORDER BY t.{id_col}"""


def _minhash_components_sql(id_col: str, text_col: str, table: str,
                            num_hashes: int, bands: int, shingle_n: int,
                            threshold: float) -> str:
    """WITH RECURSIVE head shared by the minhash closure twins: the
    signature CTEs, the LSH ``_pairs`` and their ``_rep`` closure."""
    return f"""
        WITH RECURSIVE
        {minhash_sql_cte(id_col, text_col, table, num_hashes,
                         shingle_n).lstrip()},
        _pairs AS ({minhash_pair_select_sql(id_col, num_hashes, bands,
                                            threshold)}),
        {components_sql_cte(id_col).lstrip()}"""


def minhash_cluster_dedup_oracle_sql(id_col: str = "doc_id",
                                     text_col: str = "text",
                                     table: str = "documents",
                                     num_hashes: int = 64,
                                     bands: int = 16,
                                     shingle_n: int = 5,
                                     threshold: float = 0.6) -> str:
    """DuckDB twin of ``minhash_dedup(connected=True)``: surviving ids
    after removing every non-minimum member of each connected
    component."""
    return f"""{_minhash_components_sql(id_col, text_col, table,
                                        num_hashes, bands, shingle_n,
                                        threshold)},
        {dedup_survivors_sql(id_col, table)}"""


def leakage_safe_split_oracle_sql(id_col: str = "doc_id",
                                  text_col: str = "text",
                                  table: str = "documents",
                                  num_hashes: int = 64,
                                  bands: int = 16,
                                  shingle_n: int = 5,
                                  threshold: float = 0.6,
                                  weights: dict[str, float] | None = None,
                                  seed: str = "") -> str:
    """DuckDB twin of ``sample.leakage_safe_split``: the recursive-CTE
    transitive closure yields each document's component representative
    (minimum reachable id; singletons coalesce to themselves), then
    the split CASE compares the md5 low-60-bit hash of the REP against
    the same integer thresholds ``split_assign`` embeds (via the
    shared ``hash_u60_sql`` / ``split_case_sql`` helpers — one SQL
    spelling of each derivation). The CASE has no ELSE, mirroring
    Spark's when-chain (a NULL id yields a NULL label in both
    engines)."""
    from .sample import hash_u60_sql, split_case_sql
    return f"""{_minhash_components_sql(id_col, text_col, table,
                                        num_hashes, bands, shingle_n,
                                        threshold)},
        _h AS (SELECT t.{id_col},
                      {hash_u60_sql(
                          f'CAST(coalesce(r.rep, t.{id_col})'
                          f' AS VARCHAR)', seed)} AS hv
               FROM {table} t LEFT JOIN _rep r USING ({id_col}))
        SELECT {id_col}, {split_case_sql('hv', weights)} AS split
        FROM _h"""


# --------------------------------------------------------------- simhash

SIMHASH_BITS = 60  # 15 hex chars of md5 — fits signed 64-bit in every engine


def _md5_shingle_hashes(text: str, n: int,
                        cache: dict | None = None) -> np.ndarray:
    """uint64 hashes of distinct character n-grams: the low 60 bits of
    md5 (first 15 hex chars). The whole derivation is reproducible in
    ANSI SQL (``_char_gram_hashes_sql`` is its DuckDB twin), which
    makes the minhash and simhash operators oracle-able end to end.
    No case folding here: their UDFs receive text already folded by
    ``text._lower_sql`` in the JVM projection.

    The value is computed as ``int.from_bytes(digest[:8]) >> 4`` —
    bit-identical to ``int(hexdigest[:15], 16)`` (first 15 hex chars =
    top 60 of the first 64 digest bits) but ~3x faster, and a caller-
    supplied per-batch ``cache`` exploits cross-document gram
    repetition (natural-language shingle vocabularies are small
    relative to the corpus)."""
    import hashlib
    md5 = hashlib.md5
    t = text or ""
    if len(t) < n:
        t = t.ljust(n)
    grams = {t[i:i + n] for i in range(max(len(t) - n + 1, 1))}
    out = np.empty(len(grams), dtype=np.uint64)
    if cache is None:
        for j, g in enumerate(grams):
            out[j] = int.from_bytes(
                md5(g.encode("utf-8")).digest()[:8], "big") >> 4
        return out
    if len(cache) > 1_000_000:    # bound executor memory on huge
        cache.clear()             # synthetic vocabularies
    for j, g in enumerate(grams):
        v = cache.get(g)
        if v is None:
            v = cache[g] = int.from_bytes(
                md5(g.encode("utf-8")).digest()[:8], "big") >> 4
        out[j] = v
    return out


def _char_gram_hashes_sql(name: str, id_col: str, text_col: str,
                          table: str, n: int) -> str:
    """THE DuckDB char-shingle spelling, shared by the minhash and
    simhash twins: CTE ``name`` of ``(id_col, hv)`` rows over
    ``table``, one per distinct ``n``-gram of the folded text
    right-padded to ``n``, hv = its md5-u60 (the twin of
    ``_md5_shingle_hashes``; a NULL text hashes like '')."""
    t = _lower_sql(f"coalesce({text_col}, '')")
    return f"""{name} AS (
          SELECT {id_col},
                 CAST(CAST(concat('0x', substr(md5(gram), 1, 15))
                           AS UBIGINT) AS BIGINT) AS hv
          FROM (SELECT DISTINCT {id_col},
                       substr(_t, CAST(i AS INTEGER), {n}) AS gram
                FROM (SELECT {id_col},
                             rpad({t}, CAST(greatest(length({t}), {n})
                                            AS INTEGER), ' ') AS _t
                      FROM {table}) _t0,
                     UNNEST(generate_series(1,
                            greatest(length(_t) - {n - 1}, 1))) AS u(i)
               ) _g)"""


def simhash(df: DataFrame, text_col: str, out: str = "simhash",
            shingle_n: int = 4) -> DataFrame:
    """60-bit SimHash over character shingles (Arrow-batched); bit b is
    set when the gram-majority vote of md5-hash bit b is positive."""

    @pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        vals = np.empty(len(texts), dtype=np.int64)
        shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)[None, :]
        cache: dict = {}   # per-batch gram-hash memo (grams repeat)
        for i, t in enumerate(texts):
            h = _md5_shingle_hashes(t, shingle_n, cache)
            bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            score = (2 * bits - 1).sum(axis=0)
            v = np.uint64(0)
            for b in np.where(score > 0)[0]:
                v |= np.uint64(1) << np.uint64(b)
            vals[i] = np.int64(v.astype(np.int64))
        return pd.Series(vals)

    return _spread(df).withColumn(out, sh(F.expr(_lower_sql(text_col))))


def simhash_sql_cte(id_col: str = "doc_id", text_col: str = "text",
                    table: str = "documents", shingle_n: int = 4) -> str:
    """DuckDB CTE chain computing the identical 60-bit simhash per row
    of ``table`` — the independent SQL twin of the pandas UDF above.
    Yields a relation (id_col, simhash)."""
    bit_terms = " + ".join(
        f"CASE WHEN sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS))
    return f"""
        {_char_gram_hashes_sql("_h", id_col, text_col, table, shingle_n)},
        _sh AS (SELECT {id_col}, ({bit_terms}) AS simhash
                FROM _h GROUP BY {id_col})"""


def _block_widths(total_bits: int, m: int) -> list[int]:
    """``m`` near-equal block widths summing to ``total_bits``
    (the first ``total_bits % m`` blocks get the extra bit)."""
    base, extra = divmod(total_bits, m)
    return [base + 1] * extra + [base] * (m - extra)


def _multi_index_plan(total_bits: int, max_hamming: int,
                      min_key_bits: int = 15, max_tables: int = 256
                      ) -> tuple[list[int], list[tuple[int, ...]]]:
    """Lossless block-LSH plan with a LOWER BOUND on key width — the
    generalized-pigeonhole multi-index of Manku, Jain & Das Sarma,
    "Detecting Near-Duplicates for Web Crawling" (WWW'07, §3).

    Split the hash into ``m = max_hamming + r`` blocks: a pair within
    the hamming budget leaves at least ``r`` blocks intact, so keying
    one candidate table per r-subset of blocks (key = concatenation of
    those blocks, C(m, r) tables) finds every qualifying pair.
    ``r`` is the smallest value whose WORST-CASE key (sum of the r
    narrowest widths) reaches ``min_key_bits`` — this is what keeps
    bucket sizes sub-quadratic at high hamming budgets, where the
    naive one-block-per-key scheme degrades to 4-bit keys
    (16 distinct values -> ~N/16-row buckets -> O(N^2/16) candidate
    pairs at 10^9+ rows).

    Returns (block widths LSB-first, list of r-subsets). r == 1
    reduces to the classic single-block scheme (used automatically
    when one block is already wide enough, e.g. the default
    max_hamming=3 over 60 bits -> 4 x 15-bit blocks, 4 tables).

    ``max_tables`` bounds C(m, r) — every subset is one replication of
    each input row into the candidate exchange, so an uncapped plan
    can quietly explode (max_hamming=10 over 60 bits wants r=4 ->
    C(14, 4) = 1001x row fan-out for its 16-bit keys). When no r
    reaches ``min_key_bits`` within the cap, the plan takes the
    LARGEST r under the cap instead: still lossless (all C(m, r)
    subsets are present at m = max_hamming + r — the pigeonhole
    argument doesn't depend on key width), just with narrower keys,
    i.e. the residual selectivity cost is paid in bucket size rather
    than exchange volume. Callers with extreme budgets can raise
    either knob explicitly."""
    best = None
    for r in range(1, total_bits + 1):
        m = max_hamming + r
        if m > total_bits:
            break
        n_tables = _comb(m, r)
        if n_tables > max_tables:
            break
        widths = _block_widths(total_bits, m)
        best = (widths, [tuple(c) for c in combinations(range(m), r)])
        if sum(sorted(widths)[:r]) >= min_key_bits:
            return best
    if best is not None:
        return best
    # degenerate (hamming budget ~ hash width): fall back to the
    # plain lossless single-block split. The pigeonhole guarantee
    # needs m > max_hamming blocks; when the budget reaches the hash
    # width that is impossible (every pair would qualify anyway), so
    # refuse instead of silently missing pairs.
    if max_hamming >= total_bits:
        raise ValueError(
            f"max_hamming={max_hamming} >= hash width {total_bits}: "
            "every pair is within budget — block LSH cannot prune "
            "and the single-block fallback would silently miss pairs; "
            "use a crossJoin (all pairs qualify) or a smaller budget")
    m = min(max_hamming + 1, total_bits)
    return _block_widths(total_bits, m), [(j,) for j in range(m)]


def _block_lsh_chunks(hashed: DataFrame, id_col: str, hash_col: str,
                      total_bits: int, max_hamming: int,
                      min_key_bits: int = 15) -> DataFrame:
    """(id, hash) -> one row per candidate table: (id, hash,
    block_idx, chunk) where ``chunk`` is the concatenated r-subset
    key from ``_multi_index_plan``. Pure JVM expressions; the
    downstream equi-join on (block_idx, chunk) is lossless for pairs
    within ``max_hamming``.

    Codegen discipline: the subsets ride as a LITERAL
    array<array<int>> that posexplode fans out, and the key folds r
    ``element_at`` lookups over a single m-element block array — the
    generated code is O(m + r), independent of C(m, r). (Inlining one
    key expression per subset OOMed janino at C(11, 3) = 165
    tables.) Concatenation uses multiply-add (acc * 2^w + block),
    bit-identical to shift-or, because the builtin shiftleft wants a
    literal shift while widths vary per block."""
    widths, subsets = _multi_index_plan(total_bits, max_hamming,
                                        min_key_bits)
    offsets = [sum(widths[:j]) for j in range(len(widths))]
    blocks_arr = F.array(*[
        F.shiftrightunsigned(hash_col, offsets[j])
        .bitwiseAND(F.lit((1 << widths[j]) - 1))
        for j in range(len(widths))
    ])
    pow2_arr = F.array(*[F.lit(1 << w).cast("long") for w in widths])
    subs_lit = F.array(*[
        F.array(*[F.lit(i) for i in sub]) for sub in subsets])
    r = len(subsets[0])
    base = hashed.select(
        id_col, hash_col, blocks_arr.alias("_blocks"),
        F.posexplode(subs_lit).alias("block_idx", "_sub"))
    acc = F.element_at("_blocks", F.col("_sub")[0] + F.lit(1))
    for t in range(1, r):
        idx = F.col("_sub")[t] + F.lit(1)
        acc = (acc * F.element_at(pow2_arr, idx)
               + F.element_at("_blocks", idx))
    return base.select(id_col, hash_col, "block_idx",
                       acc.alias("chunk"))


def _hamming_pairs(hashed: DataFrame, id_col: str, hash_col: str,
                   total_bits: int, max_hamming: int) -> DataFrame:
    """THE hamming pair join: ``(id_a, id_b, hamming)`` for every pair
    of ``hashed`` rows whose ``total_bits``-bit hashes differ in at
    most ``max_hamming`` bits, id_a < id_b. Candidates are the
    equi-join of ``_block_lsh_chunks`` on (block_idx, chunk), which is
    lossless (generalized pigeonhole), so the output equals the
    brute-force all-pairs popcount filter the SQL twins compute; each
    candidate is verified with an exact ``bit_count``."""
    chunks = _block_lsh_chunks(hashed, id_col, hash_col, total_bits,
                               max_hamming)
    a = chunks.select(F.col(id_col).alias("id_a"),
                      F.col(hash_col).alias("h_a"), "block_idx", "chunk")
    b = chunks.select(F.col(id_col).alias("id_b"),
                      F.col(hash_col).alias("h_b"), "block_idx", "chunk")
    # shuffle-hash, never broadcast: the multi-index fan-out makes the
    # chunk table C(m, r) x rows — the size estimator (which keeps the
    # pre-explode estimate) would otherwise try to broadcast it
    return (a.hint("shuffle_hash").join(b, ["block_idx", "chunk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .withColumn("hamming",
                        F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by 60-bit SimHash within ``max_hamming`` bits
    (``_hamming_pairs``). The default budget keeps the classic
    4 x 15-bit block split; higher budgets use the Manku C(m, r)
    multi-index, so keys stay >= 15 bits wide and buckets do not go
    quadratic at scale."""
    hashed = simhash(df.select(id_col, text_col), text_col)
    return _hamming_pairs(hashed, id_col, "simhash", SIMHASH_BITS,
                          max_hamming)


# -------------------------------------------------------- ngram jaccard

def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs — word n-grams via
    built-in expressions only (split / transform / explode), so the
    whole operator is JVM-side and SQL-oracle-able. Candidates share
    >= 1 n-gram; Jaccard = |shared| / (|A| + |B| - |shared|) computed
    from per-pair shared-gram counts.

    ``max_df=None`` (default) is exact but quadratic in rows sharing a
    gram: a corpus-common gram joins every pair of documents containing
    it, O(df^2) candidate rows. That is fine for post-LSH verification
    or keyed subsets; the SCALE PATH sets ``max_df``: grams whose
    document frequency exceeds the cap are excluded from CANDIDATE
    GENERATION (each surviving gram's posting list is bounded by the
    cap, so pairs explode from per-gram lists at O(max_df^2) each), and
    the Jaccard of surviving pairs is then re-counted over the FULL
    gram sets, so reported values stay exact. The cap is a recall
    bound, not an approximation of the metric: a threshold-J pair is
    missed only if every gram it shares is corpus-hot (df > max_df) —
    rare for near-duplicate text, and the standard max-df trade in
    dedup pipelines."""
    # referenced three times below (sizes + both join sides): cache so
    # the explode runs once. At warehouse scale this is a materialized
    # intermediate table instead of an executor cache.
    grams = word_grams(_spread(df), id_col, text_col, n).cache()

    if max_df is None:
        sizes = grams.groupBy(id_col).agg(
            F.count("*").alias("n_grams"))
        sa = sizes.select(F.col(id_col).alias("id_a"),
                          F.col("n_grams").alias("na"))
        sb = sizes.select(F.col(id_col).alias("id_b"),
                          F.col("n_grams").alias("nb"))
        # per-doc size attach: AQE picks broadcast when the sizes table
        # fits (always, locally) and falls back to a shuffle join at doc
        # counts where a per-doc table is no longer broadcastable — an
        # explicit broadcast hint here would OOM the driver at 1e12 docs
        a = grams.select(F.col(id_col).alias("id_a"), "gram") \
            .join(sa, "id_a")
        b = grams.select(F.col(id_col).alias("id_b"), "gram") \
            .join(sb, "id_b")
        # lossless prune before the expensive pair count: J >= t forces
        # min(na, nb) >= t * max(na, nb); shared <= min also bounds J
        cand = (a.join(b, "gram")
                .filter((F.col("id_a") < F.col("id_b"))
                        & (F.col("na") >= threshold * F.col("nb"))
                        & (F.col("nb") >= threshold * F.col("na"))))
        shared = cand.groupBy("id_a", "id_b", "na", "nb") \
            .agg(F.count("*").alias("shared"))
    else:
        # SCALE PATH candidate generation. Annotate every gram row with
        # its document frequency (one agg + one gram-keyed join), then
        # exploit the cap: after `_df <= max_df` filtering, the per-gram
        # doc list is BOUNDED by max_df, so candidate pairs come from a
        # single groupBy(gram) + collect_list + combinations-explode —
        # pipelined on the annotate join's gram partitioning with no
        # further exchange, and each gram emits <= C(max_df, 2) pair
        # rows. This replaces the two-sided gram self-join (two more
        # scans of the gram table + a wide join) and is the shape that
        # survives hot grams at warehouse scale: the df filter runs
        # BEFORE any list is collected, so no agg buffer ever holds a
        # corpus-hot gram's postings.
        gram_df = grams.groupBy("gram").agg(
            F.count(F.lit(1)).alias("_df"))
        ann = grams.join(gram_df, "gram")
        # ONE per-doc pass yields both totals: na (all grams) and
        # n_rare (grams surviving the cap) — round 2 paid a separate
        # aggregation pass over the candidate gram table for n_rare
        sz2 = ann.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("_na"),
            F.sum(F.when(F.col("_df") <= max_df, 1)
                  .otherwise(0)).alias("_nr"))
        pairs = (ann.filter(F.col("_df") <= max_df)
                 .groupBy("gram")
                 .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
                 .filter(F.size("_ids") >= 2)
                 .select(F.explode(F.expr(
                     "flatten(transform(_ids, (x, i) -> "
                     "transform(slice(_ids, i + 2, size(_ids)), "
                     "y -> named_struct('id_a', x, 'id_b', y))))"
                 )).alias("_p"))
                 .select("_p.id_a", "_p.id_b"))
        # Count shared RARE grams per pair, then bound the full-set
        # count: shared <= shared_rare + min(hot_a, hot_b) where
        # hot_x = grams of x excluded by the cap. Pairs failing the
        # threshold at that UPPER bound are discarded losslessly;
        # pairs with no hot grams on either side are already exact.
        # Only the residual (cleared-the-bound AND both sides have hot
        # grams) is re-counted over FULL gram sets — candidate volume
        # (~df^2-bounded, e.g. 850k pairs at sf0.1) never reaches the
        # recount joins, which round 2 paid for every candidate.
        shared_c = pairs.groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("shared_c"))
        sa2 = sz2.select(F.col(id_col).alias("id_a"),
                         F.col("_na").alias("na"),
                         F.col("_nr").alias("nra"))
        sb2 = sz2.select(F.col(id_col).alias("id_b"),
                         F.col("_na").alias("nb"),
                         F.col("_nr").alias("nrb"))
        # one materialization of the candidate pipeline: both branches
        # (already-exact and needs-recount) read the checkpoint (a
        # lazy cache() measured ~25% slower cold: the union's branches
        # race to compute p's partitions before the cache lands).
        # The size-ratio prune (lossless: J >= t forces min(na, nb) >=
        # t * max(na, nb)) now applies to aggregated PAIRS, far fewer
        # rows than the per-gram candidate rows it pruned in round 2.
        p = (shared_c.join(sa2, "id_a")
             .join(sb2, "id_b")
             .filter((F.col("na") >= threshold * F.col("nb"))
                     & (F.col("nb") >= threshold * F.col("na")))
             .withColumn("hot_cap", F.least(F.col("na") - F.col("nra"),
                                            F.col("nb") - F.col("nrb")))
             .withColumn("_upper", F.col("shared_c") + F.col("hot_cap"))
             .filter(F.col("_upper") >= threshold
                     * (F.col("na") + F.col("nb") - F.col("_upper")))
             .localCheckpoint())
        exact_now = p.filter(F.col("hot_cap") == 0).select(
            "id_a", "id_b", "na", "nb",
            F.col("shared_c").alias("shared"))
        need = (p.filter(F.col("hot_cap") > 0)
                .select("id_a", "id_b", "na", "nb"))
        # recount the residual over FULL gram sets: semi-join the gram
        # table down to the residual's documents first, so every
        # exchange is bounded by the residual, never the corpus
        ids = (need.select(F.col("id_a").alias(id_col))
               .unionByName(need.select(F.col("id_b").alias(id_col)))
               .distinct())
        pg = grams.join(ids, id_col, "left_semi")
        fa = pg.select(F.col(id_col).alias("id_a"), "gram")
        fb = pg.select(F.col(id_col).alias("_idb"),
                       F.col("gram").alias("_gram_b"))
        recounted = (need.join(fa, "id_a")
                     .join(fb, (F.col("id_b") == F.col("_idb"))
                           & (F.col("gram") == F.col("_gram_b")))
                     .groupBy("id_a", "id_b", "na", "nb")
                     .agg(F.count("*").alias("shared")))
        shared = exact_now.unionByName(recounted)
    return (shared
            .withColumn("jaccard", F.col("shared")
                        / (F.col("na") + F.col("nb") - F.col("shared")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def word_grams(df: DataFrame, id_col: str, text_col: str,
               n: int) -> DataFrame:
    """Distinct word n-grams per document as ``(id, gram)`` rows —
    THE Spark word-gram spelling (``word_grams_sql`` is its DuckDB
    twin): ``text._lower_sql`` fold, single-space split, space-joined
    windows, per-document ``array_distinct`` BEFORE the explode so
    dedup is narrow. The split is hoisted into a column: inside the
    lambda it would be re-evaluated per gram (no common-subexpression
    elimination across higher-order-function bodies). Documents
    shorter than ``n`` words emit their whole text as one gram (the
    ``greatest(..., 1)`` floor). NULL texts emit NO grams: without
    the filter, Spark's ``concat_ws`` over the NULL slice would
    manufacture an ``''`` gram while the SQL twin's NULL propagates
    to no row — the size(NULL) family of cross-engine divergence."""
    return (df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.expr(f"split({_lower_sql(text_col)}, ' ')").alias("_w")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(F.expr(
            f"transform(sequence(1, greatest(size(_w) - {n - 1}, 1)),"
            f" i -> concat_ws(' ', slice(_w, i, {n})))"
        ))).alias("gram")))


def word_grams_sql(n: int, table: str = "documents", pred: str = "TRUE",
                   id_col: str = "doc_id", text_col: str = "text") -> str:
    """THE DuckDB word-gram spelling, twin of ``word_grams``: a SELECT
    of distinct ``(id_col, gram)`` rows over the rows of ``table``
    satisfying ``pred`` (NULL texts emit no grams)."""
    return f"""SELECT DISTINCT {id_col},
                   array_to_string(list_slice(w, i, i + {n - 1}), ' ')
                       AS gram
            FROM (SELECT {id_col},
                         string_split({_lower_sql(text_col)}, ' ') AS w
                  FROM {table}
                  WHERE ({pred}) AND {text_col} IS NOT NULL) _ww,
                 UNNEST(generate_series(1, greatest(len(w) - {n - 1},
                                                    1))) AS _gi(i)"""


def decontaminate(train: DataFrame, eval_df: DataFrame, id_col: str,
                  text_col: str, n: int = 8, min_hits: int = 1,
                  mode: str = "report") -> DataFrame:
    """Benchmark decontamination: find training documents that share
    at least ``min_hits`` distinct word ``n``-grams with ANY document
    of an evaluation set — the standard pretraining hygiene pass that
    keeps eval answers out of the training corpus (reference has no
    counterpart; this is a training-pipeline extension like the rest
    of this module).

    ``mode="report"`` returns ``(id_col, n_hit_grams)`` for
    contaminated training docs (n_hit_grams = distinct shared grams,
    NOT hit pairs — a gram shared with many eval docs counts once);
    ``mode="filter"`` returns the training rows with contaminated
    docs anti-joined out.

    Scale shape: both sides reduce to 60-bit md5 gram hashes
    (``hash_u60``, the engine-portable derivation), so the only
    exchange carries ``(id, int64)`` — never text. The eval side
    collapses to a DISTINCT hash set (benchmark suites are tiny next
    to a training corpus, so AQE broadcasts it; at worst it is a
    slim hash-keyed shuffle), the join is a many-to-one inner join
    against that deduped set, and the per-doc rollup is bounded by
    hit volume. Long grams (the conventional n of 8-13) have ~1
    document frequency, so no gram is a hot join key. A 60-bit
    collision can flag an extra gram at p ~ 2^-60 per gram pair;
    both engines replicate it identically, so oracles stay exact.
    """
    if mode not in ("report", "filter"):
        raise ValueError(f"mode must be 'report' or 'filter', "
                         f"got {mode!r}")
    if min_hits < 1:
        raise ValueError("min_hits must be >= 1")
    from .sample import hash_u60
    tg = word_grams(_spread(train), id_col, text_col, n).select(
        F.col(id_col), hash_u60(F.col("gram")).alias("_gh"))
    eg = (word_grams(eval_df, id_col, text_col, n)
          .select(hash_u60(F.col("gram")).alias("_gh"))
          .distinct())
    hits = (tg.join(eg, "_gh")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hit_grams"))
            .filter(F.col("n_hit_grams") >= F.lit(int(min_hits))))
    if mode == "report":
        return hits
    return train.join(hits.select(id_col), id_col, "left_anti")


# ------------------------------------------------- embedding / image dup

# per-ROW pieces of the cosine, hoisted out of the quadratic pair
# stage: the double-cast array and the norm are computed once per
# vector instead of once per PAIR (a 3x fold reduction at 2M pairs).
# Bit-identical to the per-pair spelling: `CAST(x AS DOUBLE) * y`
# promotes y to double exactly like pre-cast element products, the
# norm fold keeps its original expression verbatim, and the division
# is unchanged — so every oracle/golden computed against the per-pair
# form still matches to the last ulp.
_DCAST_SQL = "transform({v}, x -> CAST(x AS DOUBLE))"
_NORM_SQL = ("sqrt(aggregate({v}, 0D, (acc, v) -> "
             "acc + CAST(v AS DOUBLE) * v))")
_PAIR_COS_SQL = ("aggregate(zip_with(v_a, v_b, (x, y) -> x * y), 0D, "
                 "(acc, v) -> acc + v) / (n_a * n_b)")


def _cos_hoist(df: DataFrame, vec_col: str, side: str,
               *keep) -> DataFrame:
    """One side of a cosine pair stage: the ``keep`` columns plus the
    double-cast vector ``v_{side}`` and its norm ``n_{side}``, so
    ``_PAIR_COS_SQL`` over sides a and b folds one dot product and one
    multiply-divide per pair. The dedup pair joins and the ANN top-k
    scorers all hoist through here."""
    return df.select(
        *keep,
        F.expr(_DCAST_SQL.format(v=vec_col)).alias(f"v_{side}"),
        F.expr(_NORM_SQL.format(v=vec_col)).alias(f"n_{side}"))


def cosine_pairs(df: DataFrame, id_col: str, vec_col: str,
                 threshold: float = 0.95) -> DataFrame:
    """Exact all-pairs embedding cosine near-dup — built-in expressions
    only (JVM-side, SQL-oracle-able). Quadratic in rows: intended for
    bounded sets or as the post-LSH verification stage; the scale path
    is ``embedding_near_dup`` (random-hyperplane LSH candidate gen).
    Norms and double casts are per-row (``_cos_hoist``), so the
    quadratic stage is one fold per pair."""
    a, b = (_cos_hoist(df, vec_col, s, F.col(id_col).alias(f"id_{s}"))
            for s in "ab")
    return (F.broadcast(a).crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", F.expr(_PAIR_COS_SQL))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def embedding_near_dup(df: DataFrame, id_col: str, vec_col: str,
                       threshold: float = 0.95,
                       bands: int = 8, rows_per_band: int = 8,
                       seed: int = 42) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity.

    Candidate gen: random-hyperplane LSH in OR-of-ANDs form — ``bands``
    independent band keys, each the sign pattern of ``rows_per_band``
    fixed projections; a pair is a candidate if ANY band key matches.
    With p = 1 - theta/pi, P(candidate) = 1 - (1 - p^r)^b — the
    multi-band union keeps recall high near the threshold, where a
    single AND-only sign bucket collapses (P = p^16 is tiny at
    moderate angles). Verification is exact cosine via built-in
    aggregate/zip_with expressions, run only on deduped candidates.

    Shuffle shape: the exploded band self-join carries only (id,
    band_idx, band_key); vectors are re-attached per surviving pair.
    The projection planes are derived deterministically from (seed,
    dim) inside the UDF — no driver round-trip to read the dimension,
    and every executor materializes bit-identical planes.
    """
    n_planes = bands * rows_per_band

    @pandas_udf("array<long>")
    def band_keys(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())                  # (n, d)
        planes = np.random.default_rng(seed).standard_normal(
            (n_planes, m.shape[1]))
        signs = (m @ planes.T) > 0                     # (n, b*r)
        weights = (np.uint64(1) << np.arange(
            rows_per_band, dtype=np.uint64))
        keys = np.empty((len(m), bands), dtype=np.int64)
        for bi in range(bands):
            chunk = signs[:, bi * rows_per_band:(bi + 1) * rows_per_band]
            keys[:, bi] = (chunk.astype(np.uint64) @ weights).astype(np.int64)
        return pd.Series(list(keys))

    slim = df.select(id_col, vec_col)
    keyed = slim.select(
        F.col(id_col),
        F.posexplode(band_keys(F.col(vec_col))).alias("band_idx", "band_key"))
    a = keyed.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    b = keyed.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    pairs = (a.join(b, ["band_idx", "band_key"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .dropDuplicates(["id_a", "id_b"]))

    # double-cast + norm hoisted per row (`_cos_hoist`): an
    # array<float> column would otherwise accumulate at float32 and
    # disagree with the exact path at the threshold boundary
    va, vb = (_cos_hoist(slim, vec_col, s, F.col(id_col).alias(f"id_{s}"))
              for s in "ab")
    return (pairs.join(va, "id_a").join(vb, "id_b")
            .withColumn("cosine", F.expr(_PAIR_COS_SQL))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def crossmodal_near_dup(images: DataFrame, id_col: str = "image_id",
                        phash_col: str = "phash",
                        caption_col: str = "caption",
                        max_phash_hamming: int = 8,
                        max_caption_hamming: int = 6) -> DataFrame:
    """Image+caption consensus near-dup: a pair must be flagged by BOTH
    the visual channel (phash block-LSH + hamming) AND the text channel
    (caption simhash block-LSH + hamming). For a training-data pipeline
    this is the high-precision dedup cut — single-modality collisions
    (same caption on different photos; near-identical crops with
    rewritten captions) survive, true page-level duplicates don't.

    Both candidate generators are bucketed equi-joins, and the final
    consensus is an (id_a, id_b) equi-join of two output-bounded pair
    sets — no stage is all-pairs, so the operator scales like its two
    inputs."""
    visual = phash_near_dup(images, id_col=id_col, phash_col=phash_col,
                            max_hamming=max_phash_hamming) \
        .withColumnRenamed("hamming", "phash_hamming")
    textual = simhash_pairs(images.select(F.col(id_col),
                                          F.col(caption_col)),
                            id_col, caption_col,
                            max_hamming=max_caption_hamming) \
        .withColumnRenamed("hamming", "caption_hamming")
    return visual.join(textual, ["id_a", "id_b"])


def phash_near_dup(images: DataFrame, id_col: str = "image_id",
                   phash_col: str = "phash",
                   max_hamming: int = 6) -> DataFrame:
    """Image near-dup pairs by the precomputed 64-bit perceptual hash
    within ``max_hamming`` bits (``_hamming_pairs``) — at
    ``max_hamming=8`` that is the C(11, 3) multi-index with >= 16-bit
    concatenated keys, not 16 x 4-bit blocks whose ~N/16-row buckets
    self-join quadratically at 10^9+ images."""
    return _hamming_pairs(images.select(id_col, phash_col), id_col,
                          phash_col, 64, max_hamming)


def embedding_cluster_dedup(df: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95,
                            method: str = "exact",
                            **lsh_kw) -> DataFrame:
    """Embedding cluster dedup: one survivor — the minimum id — per
    connected component of the cosine near-dup pair graph, completing
    the pairs-AND-collapse matrix for the embedding modality (text:
    ``minhash_dedup(connected=True)``, image: ``phash_cluster_dedup``,
    video/audio: ``cluster_dedup_from_pairs`` wrappers). One-hop
    pair-dropping keeps multiple survivors in chained components
    (edges 5-7 and 6-7 drop only 7, leaving both 5 and 6 of one
    cluster); the component collapse keeps exactly one.

    ``method='exact'`` generates pairs with the quadratic
    ``cosine_pairs`` (bounded sets; the SQL-oracle path) —
    ``method='lsh'`` uses ``embedding_near_dup``'s hyperplane-banded
    candidates (the linear-shuffle scale path; recall < 1 by design,
    extra kwargs pass through). Either way only (id, id) pairs feed
    the label propagation and the loser id set anti-joins back, so
    embedding arrays never shuffle. Returns surviving rows of ``df``
    unchanged."""
    if method == "exact":
        pairs = cosine_pairs(df, id_col, vec_col, threshold)
    elif method == "lsh":
        pairs = embedding_near_dup(df, id_col, vec_col, threshold,
                                   **lsh_kw)
    else:
        raise ValueError("method must be 'exact' or 'lsh'")
    return cluster_dedup_from_pairs(df, pairs, id_col)


def embedding_cluster_dedup_oracle_sql(id_col: str = "vec_id",
                                       vec_col: str = "embedding",
                                       table: str = "embeddings",
                                       threshold: float = 0.95) -> str:
    """DuckDB twin of ``embedding_cluster_dedup(method='exact')``:
    the exact cosine pair graph (same derivation as the driver-proven
    ``emb_near_dup`` twin) closed by ``components_sql_cte``, min-id
    survivors kept by ``dedup_survivors_sql``."""
    cos = (f"list_cosine_similarity(CAST(a.{vec_col} AS DOUBLE[]), "
           f"CAST(b.{vec_col} AS DOUBLE[]))")
    return f"""
        WITH RECURSIVE
        _pairs AS (
            SELECT a.{id_col} AS id_a, b.{id_col} AS id_b
            FROM {table} a JOIN {table} b
              ON a.{id_col} < b.{id_col}
            WHERE {cos} >= {threshold}),
        {components_sql_cte(id_col).lstrip()},
        {dedup_survivors_sql(id_col, table)}"""


def phash_cluster_dedup(images: DataFrame, id_col: str = "image_id",
                        phash_col: str = "phash",
                        max_hamming: int = 6) -> DataFrame:
    """Image cluster dedup: one survivor — the minimum id — per
    connected component of the ``phash_near_dup`` pair graph (same
    posture as ``minhash_dedup(connected=True)`` on the text side;
    one-hop dropping keeps multiple survivors in chained components,
    e.g. a burst of near-identical frames A~B~C with only A-B and B-C
    edges). Candidate gen is the lossless block-LSH, so the survivor
    set is exact for the hamming threshold. Returns the surviving rows
    of ``images`` unchanged."""
    pairs = phash_near_dup(images, id_col, phash_col, max_hamming)
    return cluster_dedup_from_pairs(images, pairs, id_col)


def cluster_size_histogram(df: DataFrame, id_col: str, text_col: str,
                           threshold: float = 0.8,
                           **lsh_kw) -> DataFrame:
    """Dedup observability: the distribution of near-duplicate
    cluster sizes — ``(cluster_size, n_clusters)`` rows, where
    size-1 clusters are the documents untouched by any LSH pair.
    The first thing to look at before committing to a dedup pass:
    a heavy tail here means a boilerplate template is eating the
    corpus; all-singletons means the threshold is too tight.

    Plan: the LSH pair graph and label propagation run over near-dup
    volume only; the histogram is two tiny aggregations of the label
    table, and the singleton count is corpus_total - labeled_total
    (two 1-row aggregates joined) — no full-corpus shuffle beyond
    the signature pass. Extra kwargs pass to ``minhash_lsh_pairs``.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col,
                              threshold=threshold, **lsh_kw)
    labels = component_min_labels(pairs)
    hist = (labels.groupBy("rep")
            .agg(F.count(F.lit(1)).alias("cluster_size"))
            .groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters")))
    singles = (df.agg(F.count(F.lit(1)).alias("_tot"))
               .join(labels.agg(F.count(F.lit(1)).alias("_lab")))
               .select((F.lit(1)).cast("long").alias("cluster_size"),
                       (F.col("_tot") - F.col("_lab")).alias(
                           "n_clusters"))
               .filter(F.col("n_clusters") > 0))
    return hist.unionByName(singles)


def cluster_size_histogram_oracle_sql(id_col: str = "doc_id",
                                      text_col: str = "text",
                                      table: str = "documents",
                                      num_hashes: int = 64,
                                      bands: int = 16,
                                      shingle_n: int = 5,
                                      threshold: float = 0.6) -> str:
    """DuckDB twin of ``cluster_size_histogram``: component sizes via
    the shared recursive-CTE closure, singletons via the
    total-minus-labeled difference."""
    return f"""{_minhash_components_sql(id_col, text_col, table,
                                        num_hashes, bands, shingle_n,
                                        threshold)},
        _sizes AS (SELECT rep, count(*) AS cluster_size
                   FROM _rep GROUP BY rep),
        _hist AS (SELECT cluster_size, count(*) AS n_clusters
                  FROM _sizes GROUP BY cluster_size),
        _single AS (
            SELECT CAST(1 AS BIGINT) AS cluster_size,
                   (SELECT count(*) FROM {table})
                 - (SELECT count(*) FROM _rep) AS n_clusters)
        SELECT cluster_size, n_clusters FROM _hist
        UNION ALL
        SELECT cluster_size, n_clusters FROM _single
        WHERE n_clusters > 0"""


# ----------------------------------------------- incremental ledger

def content_ledger(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The exact-dedup LEDGER: the distinct sha256 content hashes of
    a corpus slice, as one ``h`` column. Mergeable state — ledgers
    from different shards/days fold by ``union + distinct`` (an
    idempotent set union, so reprocessing a shard is harmless), the
    same pattern as the HLL/histogram/Bloom sketch tables but exact.

    Scale: a map-side-combined distinct over fixed-width hashes; the
    ledger's size is the number of distinct contents ever seen, which
    a daily pipeline stores as its running dedup state instead of
    re-reading the historical corpus."""
    from .sample import _qcol
    return (df.where(_qcol(text_col).isNotNull())
              .select(F.sha2(_qcol(text_col), 256).alias("h"))
              .distinct())


def dedup_incremental(new_docs: DataFrame, ledger: DataFrame,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """The daily-shard incremental dedup shape: keep only the new
    shard's documents whose content was NEVER seen — not in the
    prior-corpus ``ledger`` (anti-join on the content hash) and the
    min-id survivor WITHIN the shard (a shard can carry its own
    internal duplicates). NULL texts are dropped (they have no
    content hash). The updated ledger for the next increment is
    ``content_ledger(new_docs)`` folded into the old one with
    ``union + distinct`` — never re-read the historical corpus.

    Exactness: sha256 hex, anti-join, and the min-id window are all
    engine-identical — the twin is NOT EXISTS + row_number, exact by
    construction (and the anti-join is NOT EXISTS, never NOT IN —
    the three-valued-NULL rule).

    Scale: the new shard shuffles once on the content hash (the
    survivor window); the ledger side is a semi-join on fixed-width
    hashes — broadcast while it fits, shuffle-hash beyond."""
    from .sample import _qcol
    for c in ("_il_h", "_rn"):
        if c in new_docs.columns:
            raise ValueError(f"`{c}` column would collide — rename it")
    hashed = (new_docs.where(_qcol(text_col).isNotNull())
                      .withColumn("_il_h",
                                  F.sha2(_qcol(text_col), 256)))
    fresh = hashed.join(ledger.select(F.col("h").alias("_il_h")),
                        "_il_h", "left_anti")
    w = Window.partitionBy("_il_h").orderBy(_qcol(id_col))
    return (fresh.withColumn("_rn", F.row_number().over(w))
                 .where(F.col("_rn") == 1)
                 .drop("_rn", "_il_h"))


def planted_content_sql(dialect, shard: bool) -> str:
    """THE one spelling of the dedup_incremental entry fixture's
    planted content (the hash_u60_sql one-spelling rule): rows with
    ``doc_id % 10 = 1`` take 'L-<doc_id DIV 30>' in BOTH slices
    (ledger hits), shard rows with ``doc_id % 10 = 2`` take
    'S-<bucket>' (within-shard dupes; the prior slice never makes
    S-contents). Only the integer-division keyword differs by
    dialect; DuckDB accepts STRING as a VARCHAR alias."""
    d = dialect["div"]
    l_arm = (f"CASE WHEN doc_id % 10 = 1 THEN"
             f" 'L-' || CAST(doc_id {d} 30 AS STRING)")
    s_arm = (f" WHEN doc_id % 10 = 2 THEN"
             f" 'S-' || CAST(doc_id {d} 30 AS STRING)" if shard else "")
    return f"{l_arm}{s_arm} ELSE text END"


def dedup_incremental_oracle_sql(prior_pred: str,
                                 new_pred: str) -> str:
    """DuckDB twin of the ``dedup_incremental`` entry query: the
    planted-duplicate fixture (L-contents in both slices -> ledger
    hits; S-contents only in the shard -> within-shard dupes), the
    prior slice's distinct sha256 ledger, NOT EXISTS anti-join, and
    the identical min-id within-shard survivor pick. Only the
    integer-division keyword differs from the Spark spelling."""
    from .sketch import DUCK
    return f"""
        WITH ledger AS (
          SELECT DISTINCT sha256({planted_content_sql(DUCK, shard=False)}) AS h
          FROM documents
          WHERE (doc_id % 10 = 1 OR text IS NOT NULL)
            AND ({prior_pred})),
        shard AS (
          SELECT doc_id, lang, source,
                 sha256({planted_content_sql(DUCK, shard=True)}) AS h
          FROM documents
          WHERE (doc_id % 10 IN (1, 2) OR text IS NOT NULL)
            AND ({new_pred})),
        fresh AS (
          SELECT s.* FROM shard s
          WHERE NOT EXISTS (SELECT 1 FROM ledger l WHERE l.h = s.h)),
        pick AS (
          SELECT doc_id, lang, source,
                 row_number() OVER (PARTITION BY h
                                    ORDER BY doc_id) AS _rn
          FROM fresh)
        SELECT doc_id, lang, source FROM pick WHERE _rn = 1
        ORDER BY doc_id"""
