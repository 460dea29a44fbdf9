"""Deterministic sampling and dataset splitting.

Training-data pipelines need splits and samples that are (a) stable
across reruns and cluster sizes — a resumed 100 TB job must put every
row in the same split it chose last week — and (b) independently
recomputable by another engine for audit. Spark's ``randomSplit`` /
``sample`` are neither: they are partition-dependent and seed-plus-
plan-dependent. Here every decision is a pure function of
``(id, seed)`` via the repo's established md5 low-60-bit derivation
(the same family `operators/dedup.py` oracles in DuckDB), so the
DuckDB twins in ``__spark_entry__.oracle_sql()`` recompute the exact
assignment.

Scale posture:
- ``split_assign`` / ``sample_fraction`` are MAP-ONLY — zero
  shuffles, zero Python; the hash, thresholds, and CASE all run in
  whole-stage codegen. At 100 TB they cost one scan.
- ``stratified_sample`` pays the one keyed exchange its window sort
  needs (same plan family as per-group top-k W1) — the per-stratum
  ``n`` keeps output bounded regardless of input size.

Thresholds are INTEGER comparisons against ``floor(cum_weight *
2^60)`` — no float equality at the boundary, so Spark and any SQL
twin agree on every row, including adversarial hash values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["hash_u60", "fraction_threshold", "split_assign",
           "sample_fraction", "stratified_sample", "mix_sources",
           "take_token_budget", "leakage_safe_split", "top_percent",
           "weighted_sample", "pack_sequences", "es_key_sql",
           "mad_outliers", "temperature_mix", "temp_weight_sql",
           "hash_u60_expr"]

_U60 = 1 << 60


def _qcol(name: str):
    """Resolve a column name LITERALLY (backtick-quoted): bare
    ``F.col(name)`` / ``df[name]`` parse ``.`` as struct nesting, so
    legal names with dots/spaces/quotes would misresolve or crash."""
    return F.col("`" + str(name).replace("`", "``") + "`")


def _qident(name: str) -> str:
    """The same literal resolution for names embedded in ``F.expr``
    SQL strings."""
    return "`" + str(name).replace("`", "``") + "`"


def hash_u60(col, seed: str = ""):
    """Uniform 60-bit hash of a column value: low 60 bits of
    ``md5(value || ':' || seed)`` (first 15 hex chars), as a non-
    negative bigint. Identical to the SQL derivation
    ``CAST(concat('0x', substr(md5(v || ':' || seed), 1, 15)) AS
    UBIGINT)`` so DuckDB twins recompute it bit-for-bit."""
    c = col if not isinstance(col, str) else F.col(col)
    # concat (not concat_ws): a NULL id must yield a NULL hash like
    # the SQL twin's `id || ':' || seed` — concat_ws would silently
    # skip the NULL and hash the bare seed, a cross-engine divergence
    keyed = F.concat(c.cast("string"), F.lit(":" + str(seed)))
    return F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10).cast("bigint")


def hash_u60_expr(value_expr: str, seed: str = "") -> str:
    """``hash_u60`` as a Spark-SQL expression string over a SQL
    expression (quote identifiers with ``_qident`` first) — for
    LAMBDA positions (inside ``transform``/``aggregate``) where the
    Column form cannot reach, and for SQL-string plans (sketch,
    winnow). Same derivation, adjacent on purpose; the DuckDB
    spelling stays ``hash_u60_sql``."""
    return (f"CAST(conv(substring(md5(concat(CAST({value_expr} AS "
            f"STRING), ':{_sql_quote(seed)}')), 1, 15), 16, 10) "
            f"AS BIGINT)")


def _thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    total = float(sum(weights.values()))
    if total <= 0 or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative with a "
                         "positive sum")
    out, cum = [], 0.0
    for label, w in weights.items():
        cum += w / total
        out.append((label, int(cum * _U60)))
    # guard float creep: the last bucket must cover the full range
    out[-1] = (out[-1][0], _U60)
    return out


def split_assign(df: DataFrame, id_col: str,
                 weights: dict[str, float] | None = None,
                 seed: str = "",
                 split_col: str = "split") -> DataFrame:
    """Assign every row a deterministic split label from ``weights``
    (insertion order defines the threshold order; values are
    normalized). Default 90/5/5 train/val/test.

    Pure function of ``(id, seed)``: stable under reruns, resumes,
    repartitioning, and engine choice. Map-only, zero shuffle.
    NULL ids get a NULL label (same as a SQL CASE over a NULL hash);
    filter them out first if that is not what you want.
    """
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    if split_col in df.columns:
        raise ValueError(f"`{split_col}` already exists — pick "
                         "another split_col")
    h = hash_u60(id_col, seed)
    expr = None
    for label, thr in _thresholds(weights):
        cond = h < F.lit(thr)
        expr = (F.when(cond, F.lit(label)) if expr is None
                else expr.when(cond, F.lit(label)))
    return df.withColumn(split_col, expr)


def fraction_threshold(fraction: float) -> int:
    """THE one spelling of ``sample_fraction``'s keep threshold
    (``int(fraction * 2^60)``, full range at 1.0) — the engine embeds
    it in its plan and the DuckDB twins interpolate the same integer,
    so a rounding change here can never drift one side only."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return _U60 if fraction == 1.0 else int(fraction * _U60)


def sample_fraction(df: DataFrame, id_col: str, fraction: float,
                    seed: str = "") -> DataFrame:
    """Deterministic Bernoulli-style sample: keep rows whose hash
    falls under ``fraction_threshold(fraction)``. The SAME rows
    survive on every rerun and at every parallelism — unlike
    ``df.sample`` — and two samples at fractions f1 < f2 nest (f1's
    rows are a subset of f2's), which makes scaling-law subset chains
    free. Map-only, zero shuffle."""
    thr = fraction_threshold(fraction)
    return df.filter(hash_u60(id_col, seed) < F.lit(thr))


def stratified_sample(df: DataFrame, strata_cols: str | list[str],
                      n_per_stratum: int, id_col: str,
                      seed: str = "") -> DataFrame:
    """Exactly ``min(n, stratum_size)`` rows per stratum, chosen as
    the n smallest ``(hash, id)`` pairs — a deterministic uniform
    draw without replacement that any SQL engine reproduces with the
    same ``row_number`` window. One keyed exchange (the window
    sort); output bounded at n x |strata|. ``id_col`` must be
    non-null: engines disagree on NULL placement in ORDER BY, so a
    NULL id would make the draw engine-dependent."""
    strata = ([strata_cols] if isinstance(strata_cols, str)
              else list(strata_cols))
    if n_per_stratum <= 0:
        raise ValueError("n_per_stratum must be positive")
    w = (Window.partitionBy(*strata)
         .orderBy(hash_u60(id_col, seed).asc(), F.col(id_col).asc()))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= F.lit(int(n_per_stratum)))
            .drop("_rn"))


def mix_sources(df: DataFrame, source_col: str,
                weights: dict[str, int], id_col: str,
                seed: str = "") -> DataFrame:
    """Rebalance a multi-source corpus to EXACT integer proportions:
    keep ``w_i * M`` rows of source i, where ``M = min_i(n_i div
    w_i)`` — the largest total for which every source can meet its
    quota. The pretraining "mixture weights" op (e.g. web:7 books:2
    code:1) without float thresholds: all arithmetic is integer, so
    any SQL engine derives the identical quotas from the same
    counts, and rows are drawn by the deterministic (hash, id) order
    — rerun-, resume-, and parallelism-stable.

    Sources missing from ``weights`` are dropped. If any weighted
    source has fewer than ``w_i`` rows — including ZERO rows — M = 0
    and the result is empty: M is derived by left-joining the weight
    table to the counts (absent source ⇒ n = 0), so a weighted
    source with no data cannot silently vanish from the mixture.

    Plan: one count aggregate over the weighted rows, a 1-row
    broadcast of M, and the per-source row_number window (one keyed
    exchange) — no driver collect.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    for k, v in weights.items():
        # bool is an int subclass: {'web': True} must not pass as 1
        if isinstance(v, bool) or not isinstance(v, int) or v <= 0:
            raise ValueError(
                f"weights must be positive integers (got {k}={v!r}) — "
                "integer quotas are what keep the mix engine-exact")
    for c in ("_w", "_n", "_m", "_rn"):
        if c in df.columns:
            raise ValueError(f"`{c}` column would collide — rename it")
    wdf = df.sparkSession.createDataFrame(
        [(k, v) for k, v in weights.items()],
        f"{source_col} string, _w long")
    kept = df.join(F.broadcast(wdf), source_col, "inner")
    cnt = kept.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    m = (wdf.join(cnt, source_col, "left")
         .agg(F.min(F.expr("coalesce(_n, 0) div _w")).alias("_m")))
    win = (Window.partitionBy(source_col)
           .orderBy(hash_u60(id_col, seed).asc(), F.col(id_col).asc()))
    return (kept.withColumn("_rn", F.row_number().over(win))
            .join(F.broadcast(m))
            .filter(F.col("_rn") <= F.col("_w") * F.col("_m"))
            .drop("_rn", "_w", "_m"))


def take_token_budget(df: DataFrame, budget: int, size_col: str,
                      id_col: str, seed: str = "",
                      by: str | list[str] | None = None) -> DataFrame:
    """Deterministic budgeted subset: walk rows in (hash, id) order
    and keep every row that STARTS under ``budget`` cumulative
    ``size_col`` (so the budget may be exceeded by at most one row's
    size — the standard greedy-prefix contract, exactly reproducible
    as a SQL running-sum window). ``by`` scopes the budget per group
    (e.g. per source); None = one global budget.

    The "take ~N tokens of this corpus" op: stable across reruns and
    cluster sizes, and nested — a smaller budget's rows are a prefix
    of a larger budget's. One window sort (single keyed exchange;
    the global form single-partitions the sort exactly like any
    SQL total-order running sum — scope with ``by`` at scale).
    """
    if budget < 0:
        raise ValueError("budget must be non-negative")
    if "_before" in df.columns:
        raise ValueError("`_before` column would collide — rename it")
    return (df.withColumn("_before",
                          _before_sum(size_col, id_col, seed, by))
            .filter(F.col("_before") < F.lit(int(budget)))
            .drop("_before"))


def _before_sum(size_col: str, id_col: str, seed: str,
                by: str | list[str] | None):
    """THE running-sum-before-this-row column over the deterministic
    (hash, id) walk — shared by take_token_budget and pack_sequences
    so the ordering, frame, and NULL handling can never drift apart.
    Long-typed so the twins' CAST(sum(...) AS BIGINT) matches."""
    keys = ([] if by is None else
            ([by] if isinstance(by, str) else list(by)))
    win = (Window.partitionBy(*keys)
           .orderBy(hash_u60(id_col, seed).asc(), F.col(id_col).asc())
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (F.sum(F.col(size_col).cast("long")).over(win)
            - F.col(size_col).cast("long"))


def es_key_sql(hash_expr: str, weight_expr: str) -> str:
    """THE spelling of the Efraimidis-Spirakis sampling key over a
    60-bit hash expression and a positive weight expression:
    ``ln(u) / w`` with ``u = (hash + 1) / 2^60`` in (0, 1] — the
    log of the classic ``u^(1/w)`` key, same ordering, and larger is
    better. All constants are CAST AS DOUBLE (bare decimal literals
    would make Spark do non-IEEE decimal arithmetic — CLAUDE.md
    invariant); shared verbatim by the Spark plan and DuckDB twins so
    the only cross-engine wobble is ``ln`` itself (sub-ulp; key gaps
    between 60-bit draws dwarf a double ulp)."""
    u = (f"(CAST({hash_expr} + 1 AS DOUBLE) "
         f"/ CAST({_U60} AS DOUBLE))")
    # ORDER BY the ROUNDED key (+ 0.0 kills DuckDB's -0.0 — the key
    # is <= 0, squarely in the signed-zero class), ties by id: large
    # weights compress raw key gaps by 1/w, so ordering on the raw
    # ln output would expose the top-n boundary to cross-engine
    # sub-ulp ln wobble — the same defense bm25_topk uses
    return (f"(round(ln({u}) / CAST({weight_expr} AS DOUBLE), 12)"
            f" + 0.0)")


def weighted_sample(df: DataFrame, n: int, weight_col: str,
                    id_col: str, seed: str = "") -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement: the n rows
    with the largest Efraimidis-Spirakis keys (inclusion probability
    proportional to ``weight_col``; Inf. Proc. Lett. 97(5), 2006 —
    public method). Rows with NULL or non-positive weight are never
    drawn. Same rows on every rerun and at every parallelism, and
    samples NEST: the top-n1 is a subset of the top-n2 for n1 <= n2
    (keys do not depend on n), so scaling-law subset chains stay
    consistent with the importance weighting.

    Selection orders by the ROUNDED key (12 dp, then id): heavy
    weights compress raw key gaps by 1/w, so the raw ln output would
    expose the top-n boundary to cross-engine sub-ulp ln() wobble —
    the rounding defense bm25_topk established.

    Scale shape: the key is one map-side expression; top-n is
    ``orderBy().limit(n)`` = TakeOrderedAndProject (per-partition
    n-row heaps, driver merges) for n up to Spark's
    ``spark.sql.execution.topKSortFallbackThreshold`` (default
    10000) — beyond it Spark falls back to a single-partition global
    sort, so raise that conf alongside n at scale. ``id_col`` must
    be non-null (NULL ORDER BY placement is engine-dependent)."""
    if n <= 0:
        raise ValueError("n must be positive")
    for c in ("_h", "_wkey"):
        if c in df.columns:
            raise ValueError(f"`{c}` column would collide — rename it")
    # the hash rides in as a materialized column (`_h` from the
    # shared Column form) so this expr never re-spells the derivation
    key = es_key_sql("_h", weight_col)
    return (df.filter(F.col(weight_col).isNotNull()
                      & (F.col(weight_col) > 0))
            .withColumn("_h", hash_u60(id_col, seed))
            .withColumn("_wkey", F.expr(key))
            .orderBy(F.desc("_wkey"), F.asc(id_col)).limit(int(n))
            .drop("_h", "_wkey"))


def pack_sequences(df: DataFrame, budget: int, size_col: str,
                   id_col: str, seed: str = "",
                   by: str | list[str] | None = None) -> DataFrame:
    """Sequence packing, concat-then-chunk style: walk rows in
    (hash, id) order, concatenate their sizes, and cut fixed
    ``budget``-sized bins — each row gets the bin where its first
    unit lands (``bin_id``) and its offset inside that bin
    (``bin_offset``); rows may straddle a boundary, exactly like
    GPT-style context packing of a shuffled corpus. ALL-INTEGER
    arithmetic over the deterministic hash order, so the SQL twin is
    exact by construction. ``by`` scopes packing per group (e.g. per
    source shard); the global form single-partitions the running sum
    like any SQL total-order cumsum — scope with ``by`` at scale.
    ``size_col`` must be positive and non-null; ``id_col`` non-null.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    for c in ("_before", "bin_id", "bin_offset"):
        if c in df.columns:
            raise ValueError(f"`{c}` column would collide — rename it")
    keys = ([] if by is None else
            ([by] if isinstance(by, str) else list(by)))
    win = (Window.partitionBy(*keys)
           .orderBy(hash_u60(id_col, seed).asc(), F.col(id_col).asc())
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    started = (F.sum(F.col(size_col).cast("long")).over(win)
               - F.col(size_col).cast("long"))
    b = F.lit(int(budget)).cast("long")
    # integer division, never float (/ on longs is DOUBLE division in
    # Spark and loses exactness past 2^53). Spark spells it DIV,
    # DuckDB spells it // — different keywords, identical nonnegative
    # integer semantics (twins state this next to the expression).
    return (df.withColumn("_before", started)
            .withColumn("bin_id",
                        F.expr(f"_before DIV {int(budget)}"))
            .withColumn("bin_offset", F.col("_before") % b)
            .drop("_before"))


def leakage_safe_split(df: DataFrame, id_col: str, text_col: str,
                       weights: dict[str, float] | None = None,
                       seed: str = "", split_col: str = "split",
                       threshold: float = 0.8,
                       **lsh_kw) -> DataFrame:
    """Near-dup-aware train/val/test split: every document of a
    connected near-duplicate component lands in the SAME split,
    because the split hash is keyed on the component REPRESENTATIVE
    (minimum id reachable through the MinHash-LSH pair graph) instead
    of the document id. A plain per-id split leaks paraphrases of
    training documents into eval; this closes that hole while staying
    exactly as deterministic as ``split_assign`` — singletons key on
    their own id, so a dup-free corpus gets the identical labels.

    Plan shape at scale: LSH candidate generation is a bucketed
    equi-join (never all-pairs), label propagation runs O(component
    diameter) rounds over the PAIR GRAPH only (bounded by near-dup
    volume, not corpus size), and the label table joins back to the
    corpus as one hash join (AQE broadcasts it while it fits). The
    split expression itself stays map-only.

    Extra kwargs (``bands``, ``band_key``, ``num_hashes``, ...) pass
    through to ``minhash_lsh_pairs``.
    """
    from .dedup import component_min_labels, minhash_lsh_pairs
    for c in ("_ls_rep", "_ls_key"):
        if c in df.columns:
            raise ValueError(f"`{c}` column would collide — rename it")
    pairs = minhash_lsh_pairs(df, id_col, text_col,
                              threshold=threshold, **lsh_kw)
    labels = component_min_labels(pairs).select(
        F.col("id").alias(id_col), F.col("rep").alias("_ls_rep"))
    keyed = (df.join(labels, id_col, "left")
             .withColumn("_ls_key",
                         F.coalesce(F.col("_ls_rep"), F.col(id_col)))
             .drop("_ls_rep"))
    return (split_assign(keyed, "_ls_key", weights, seed, split_col)
            .drop("_ls_key"))


def top_percent(df: DataFrame, score_col: str, percent: int,
                id_col: str, by: str | list[str] | None = None,
                ascending: bool = False) -> DataFrame:
    """Keep the top ``percent``% of rows by ``score_col`` (ties broken
    by ``id_col`` ascending), globally or per ``by`` group — the
    percentile form of a quality filter ("keep the best 20% per
    language"). The cut is ALL-INTEGER: a row survives iff
    ``rank * 100 <= percent * group_count``, so any SQL engine
    reproduces the exact row set — no float percentile thresholds.
    ``ascending=True`` keeps the smallest scores instead ("drop the
    20% most repetitive" composes as keep bottom 80%).

    One window over the (optional) group key: rank and count ride the
    same keyed exchange; the global form single-partitions the sort
    like any total-order SQL window — scope with ``by`` at scale.
    NULL scores sort last in BOTH directions (never admitted unless
    the cut reaches them), and NULL ids sort last within score ties —
    both mirroring DuckDB's ASC/DESC NULLS LAST defaults.
    """
    if not isinstance(percent, int) or isinstance(percent, bool) \
            or not 0 <= percent <= 100:
        raise ValueError("percent must be an integer in [0, 100]")
    for c in ("_tp_rank", "_tp_n"):
        if c in df.columns:
            raise ValueError(f"`{c}` column would collide — rename it")
    keys = ([] if by is None else
            ([by] if isinstance(by, str) else list(by)))
    order = (F.col(score_col).asc_nulls_last() if ascending
             else F.col(score_col).desc_nulls_last())
    # asc_nulls_last, not asc(): Spark's ASC is NULLS FIRST while
    # DuckDB's is NULLS LAST — a NULL id among tied scores would
    # otherwise pick different survivors per engine
    w = Window.partitionBy(*keys).orderBy(order,
                                          F.col(id_col).asc_nulls_last())
    wn = (Window.partitionBy(*keys)
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    return (df.withColumn("_tp_rank", F.row_number().over(w))
            .withColumn("_tp_n", F.count(F.lit(1)).over(wn))
            .filter(F.col("_tp_rank") * 100
                    <= F.lit(int(percent)) * F.col("_tp_n"))
            .drop("_tp_rank", "_tp_n"))




def mad_outliers(df: DataFrame, value_col: str,
                 by: str | list[str] | None = None, k: float = 4.0,
                 med_col: str = "med", mad_col: str = "mad",
                 flag_col: str = "is_outlier") -> DataFrame:
    """Robust outlier gate: flag rows whose ``value_col`` deviates
    from its group median by more than ``k`` times the median absolute
    deviation (MAD) — the heavy-tail-safe sibling of a z-score filter
    (mean/stddev move with the outliers they are meant to catch; the
    median/MAD pair does not). The standard "drop absurdly long/short
    documents per language" pass of a pretraining pipeline.

    Bit-exact-by-construction across engines, WITHOUT rounding, by
    restricting the inputs instead of the arithmetic:

    * ``value_col`` must be INTEGRAL (enforced), and the caller must
      keep magnitudes below 2^52 for the guarantee to hold — tinyint/
      smallint/int always qualify; a BIGINT column qualifies only if
      its domain is bounded (above 2^53 a long is not an exact double
      and the engines' interpolation spellings can round apart).
    * the exact interpolated median of integers is an integer or a
      midpoint ``x.5`` — exactly representable; Spark ``percentile``
      and DuckDB ``quantile_cont`` both produce it exactly (the
      ``value_quantiles`` query established the parity; at the 0.5
      quantile the interpolation factor is exactly 0.5, so
      ``lo + (hi-lo)*0.5`` and ``(lo+hi)/2`` are the SAME real
      number and round identically).
    * deviations are multiples of 0.5; their median (the MAD) is a
      multiple of 0.25 — still exact.
    * ``k`` must be DYADIC (k*4 integral — enforced): ``k * mad`` is
      an exact product and the ``>`` cut is engine-identical on every
      row, including exact boundary hits (never outliers, both
      sides).

    NULL values get NULL med-deviation and a NULL flag (comparisons
    propagate NULL in both engines); they never shift the median
    (both engines' quantile aggregates skip NULLs). NULL GROUP KEYS
    form their own group, exactly like ``groupBy`` — the stats joins
    are null-safe, so NULL-keyed rows are classified against their
    own median rather than silently dropped (a plain equi-join would
    lose them). A SQL twin over NULL-keyed data must join with
    ``IS NOT DISTINCT FROM`` to match, as the fixture twins do.

    Plan shape at scale: two keyed aggregations over ``by`` (median,
    then MAD of deviations) and two joins of per-group 1-row stats
    back to the rows — AQE broadcasts the stats tables while the
    group count fits, so the rows themselves shuffle ZERO times; the
    base relation is scanned by the agg branch and the join branch
    (cache upstream if the scan is the bottleneck).
    """
    if not (isinstance(k, (int, float)) and not isinstance(k, bool)
            and k > 0 and float(k * 4).is_integer()):
        raise ValueError(
            f"k must be a positive multiple of 0.25 (got {k!r}) — "
            "dyadic k is what keeps the cut engine-exact")
    from pyspark.sql.types import (ByteType, IntegerType, LongType,
                                   ShortType)
    vt = df.schema[value_col].dataType
    if not isinstance(vt, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"`{value_col}` must be integral (got {vt.simpleString()})"
            " — integer inputs are what make median/MAD exact doubles")
    keys = ([] if by is None else
            ([by] if isinstance(by, str) else list(by)))
    for c in (med_col, mad_col, flag_col, "_mo_dev",
              *(f"_mo_{k}" for k in keys)):
        if c in df.columns:
            raise ValueError(f"`{c}` column would collide — rename it")

    def _join(left: DataFrame, right: DataFrame) -> DataFrame:
        # null-safe on the keys: a NULL group (which groupBy DOES
        # produce) must rejoin its own stats, not vanish. The stats
        # side's keys are RENAMED before the condition — both sides
        # descend from the same scan, so name-identical columns would
        # make Spark resolve the predicate against one lineage
        if not keys:
            return left.crossJoin(right)
        ren, cond = right, None
        for kcol in keys:
            ren = ren.withColumnRenamed(kcol, f"_mo_{kcol}")
            c = _qcol(kcol).eqNullSafe(_qcol(f"_mo_{kcol}"))
            cond = c if cond is None else cond & c
        return left.join(ren, cond).drop(*[f"_mo_{k}" for k in keys])

    gkeys = [_qcol(k) for k in keys]
    med = (df.groupBy(*gkeys)
           .agg(F.expr(f"percentile({_qident(value_col)}, 0.5)")
                .alias(med_col)))
    devs = _join(df, med).withColumn(
        "_mo_dev",
        F.abs(_qcol(value_col).cast("double") - _qcol(med_col)))
    mad = (devs.groupBy(*gkeys)
           .agg(F.expr("percentile(_mo_dev, 0.5)").alias(mad_col)))
    return (_join(devs, mad)
            .withColumn(flag_col,
                        F.col("_mo_dev")
                        > F.lit(float(k)) * _qcol(mad_col))
            .drop("_mo_dev"))


def temp_weight_sql(n_expr: str, alpha: float) -> str:
    """THE spelling of the temperature-sampling weight
    ``max(1, floor(n^alpha))`` over a positive integer count
    expression, for alpha in {0, 0.25, 0.5, 0.75, 1} — the dyadic
    quarters cover the published multilingual-sampling settings
    (alpha=0.5 mBERT, alpha=0.75 is 0.75 in XLM-R; Conneau et al.
    2020, public). Powers are composed from ``sqrt`` ONLY — IEEE
    correctly-rounded in both engines, so the floor lands on the
    identical integer — never ``pow`` (not correctly rounded; the
    engines could disagree by one at perfect-power boundaries).
    Shared verbatim by the Spark plan and the DuckDB twins."""
    d = f"CAST({n_expr} AS DOUBLE)"
    if alpha == 0:
        return "CAST(1 AS BIGINT)"
    if alpha == 1:
        return f"CAST({n_expr} AS BIGINT)"
    if alpha == 0.25:
        body = f"sqrt(sqrt({d}))"
    elif alpha == 0.5:
        body = f"sqrt({d})"
    elif alpha == 0.75:
        # n^(3/4) = sqrt(n * sqrt(n)): one rounded product between two
        # correctly-rounded sqrts — identical in both engines
        body = f"sqrt({d} * sqrt({d}))"
    else:
        raise ValueError(
            f"alpha must be one of 0, 0.25, 0.5, 0.75, 1 (got "
            f"{alpha!r}) — dyadic quarters compose from exact sqrt")
    return (f"greatest(CAST(1 AS BIGINT), "
            f"CAST(floor({body}) AS BIGINT))")


def temperature_mix(df: DataFrame, source_col: str, id_col: str,
                    alpha: float = 0.5, seed: str = "") -> DataFrame:
    """Temperature-scaled source mixing: rebalance a multi-source
    corpus toward proportions ``∝ n_i^alpha`` — the multilingual
    up/down-sampling rule (alpha=1 keeps natural proportions, alpha=0
    levels every source to the minimum count, 0.5/0.75 are the
    published middle grounds). Unlike ``mix_sources`` the weights are
    DERIVED FROM THE DATA (``w_i = max(1, floor(n_i^alpha))``, the
    shared ``temp_weight_sql`` spelling), then the same exact-integer
    quota applies: keep ``w_i * M`` rows of source i where
    ``M = min_i(n_i div w_i)`` — the largest total every source can
    satisfy, so the op subsamples only (never repeats rows). With
    alpha=1, ``w_i = n_i`` gives M=1 and the corpus passes through
    unchanged. Rows are drawn by the deterministic (hash, id) order —
    rerun-, resume- and parallelism-stable, and nested in alpha's
    quota sense.

    Plan: one count aggregate, the weight expression over that tiny
    per-source table (joined back plain — AQE broadcasts it while the
    source count fits; never force-broadcast an unbounded-cardinality
    side), a 1-row broadcast of M, and the per-source row_number
    window (one keyed exchange). No driver collect. NULL-source rows
    are dropped up front — and excluded from the counts, so they can
    never constrain M.
    """
    for c in ("_w", "_n", "_m", "_rn"):
        if c in df.columns:
            raise ValueError(f"`{c}` column would collide — rename it")
    # drop NULL sources BEFORE counting: they could never survive the
    # equi-join below, but their count would still constrain M — two
    # NULL-source rows would collapse a million-row source's quota to
    # w_i * 2 (mix_sources avoids the same trap by counting over
    # `kept`)
    kept = df.filter(_qcol(source_col).isNotNull())
    cnt = (kept.groupBy(_qcol(source_col))
           .agg(F.count(F.lit(1)).alias("_n"))
           .withColumn("_w", F.expr(temp_weight_sql("_n", alpha))))
    m = cnt.agg(F.min(F.expr("_n div _w")).alias("_m"))
    win = (Window.partitionBy(_qcol(source_col))
           .orderBy(hash_u60(_qcol(id_col), seed).asc(),
                    _qcol(id_col).asc()))
    return (kept.join(cnt.select(_qcol(source_col), "_w"), source_col)
            .withColumn("_rn", F.row_number().over(win))
            .join(F.broadcast(m))
            .filter(F.col("_rn") <= F.col("_w") * F.col("_m"))
            .drop("_rn", "_w", "_m"))


def _sql_quote(s: str) -> str:
    """Escape a python string for embedding in a single-quoted SQL
    literal (doubling quotes — valid in DuckDB and ANSI SQL)."""
    return str(s).replace("'", "''")


def hash_u60_sql(value_expr: str, seed: str = "") -> str:
    """The DuckDB twin of ``hash_u60`` over an arbitrary SQL
    expression — THE one place the low-60-bit md5 derivation is
    spelled in SQL, so oracles cannot drift from each other."""
    return (f"CAST(CAST(concat('0x', substr(md5({value_expr}"
            f" || ':' || '{_sql_quote(seed)}'), 1, 15)) AS UBIGINT)"
            f" AS BIGINT)")


def split_case_sql(hv_expr: str,
                   weights: dict[str, float] | None = None) -> str:
    """The DuckDB twin of ``split_assign``'s label CASE over a hash
    expression: the same integer thresholds, no ELSE (a NULL hash
    yields a NULL label in both engines). Generated from
    ``_thresholds`` so the two implementations share the literals."""
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    whens = " ".join(
        f"WHEN {hv_expr} < {thr} THEN '{_sql_quote(label)}'"
        for label, thr in _thresholds(weights))
    return f"CASE {whens} END"
