"""Mergeable cardinality and frequency sketches (HLL, count-min).

At 100 TB you cannot afford ``COUNT(DISTINCT user)`` per key — it
shuffles every raw value — and you cannot hold exact per-word counts
for an open vocabulary. The canonical answers are fixed-size,
MERGEABLE sketches whose build step is an ordinary Spark aggregate:

- ``hll_register_table`` / ``hll_estimate`` — a HyperLogLog-style
  distinct-count sketch (Flajolet et al., AofA 2007): each value
  hashes once, lands in one of ``m`` registers, and the register
  keeps the MAX leading-zero rank. The sketch is a ``groupBy(group,
  register).max`` — map-side combined, fixed ``<= m`` rows per group
  no matter the input size, and sketches from different shards/days
  merge by the SAME max (``hll_merge``), so daily 100 TB partitions
  fold into a running sketch without ever re-reading raw data.
- ``cm_sketch`` / ``cm_estimate`` — a count-min sketch (Cormode &
  Muthukrishnan, J.Alg 2005): ``depth`` independent hash rows of
  ``width`` integer counters; point estimates are the min across
  rows and NEVER underestimate. The build is one explode + sum agg
  (fixed ``depth x width`` cells); shards merge by cell-wise sum.
- ``bloom_bits_table`` / ``bloom_probe`` — a Bloom filter (Bloom,
  CACM 1970): ``k`` seed-suffixed hash positions over ``m`` bits,
  packed 32 payload bits per BIGINT word. ``maybe_hit = 0`` is
  DEFINITIVE (no false negatives); ``1`` may be a false positive at
  the standard ``(1 - e^(-kn/m))^k`` rate. The bit table is at most
  ``m/32`` rows — it broadcasts into probe joins, so membership
  tests against a benchmark/blocklist set become a map-side AND
  instead of a corpus-scale join; shard filters merge by ``bit_or``
  (``bloom_merge``). The decontamination pattern: bloom-prefilter
  the training corpus map-side, then run the exact join only on the
  flagged residual.

Why these are exactly oracle-able (most sketch libraries are not):
every derivation is the repo's engine-portable md5 construction —
``sample.hash_u60`` keys, register index = ``h % m``, and the rank
``rho`` computed from the EXACT integer floor-log2 ``length(bin(x))``
(both Spark and DuckDB spell binary-without-leading-zeros ``bin``,
pinned by a cross-engine test). The estimator follows the repo's
bit-exact-float construction (CLAUDE.md): the harmonic sum is kept
ALL-INTEGER by scaling each ``2^-M_j`` term to ``2^(cap - M_j)``
(a BIGINT; the sum is exact far past 2^53 because it never leaves
integer land), and the final estimate performs a FIXED-ORDER chain
of IEEE multiply/divide on bit-identical operands — correctly
rounded in both engines, so the double matches bit-for-bit with no
rounding defense. ``alpha_m`` is spelled as integer-ratio divisions
(``7213/10000``...), never a bare decimal literal (DECIMAL-parse
trap, CLAUDE.md). The only dialect splits are integer division
(Spark ``DIV`` / DuckDB ``//`` — the pack_sequences precedent) and
shift (Spark ``shiftleft(x, n)`` / DuckDB ``x << n``); both sides of
every twin are generated from the SAME functions here.

The bias-corrected small-range estimate (``linear counting``,
``m * ln(m / V)``) involves ``ln`` — cross-engine ulp-unstable, the
``bigram_perplexity`` precedent — so ``hll_corrected`` is provided
for pipelines but deliberately NOT twinned; the oracle surface is
the raw estimator plus its all-integer observables.

Reference parity: the reference engine (esri-dump) has no sketch
layer — this extends the training-data surface the same way the
dedup/sampling families do.

Bloom membership is exactly oracle-able for the same reason the
other two are: bit positions come from the seed-suffixed md5-u60
family mod ``m``, words pack 32 payload bits per BIGINT (the largest
mask is 2^31 — signed-overflow-free in both engines), and the probe
folds per-position set-flags by integer ``min`` — so even FALSE
POSITIVES replicate identically in the twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sample import _qcol, _qident, hash_u60_expr, hash_u60_sql

__all__ = ["hll_register_table", "hll_estimate", "hll_merge",
           "hll_corrected", "cm_sketch", "cm_estimate",
           "hll_rho_sql", "hll_term_sql", "hll_estimate_sql",
           "cm_bucket_sql", "SPARK", "DUCK",
           "bloom_bits_table", "bloom_merge", "bloom_probe",
           "bloom_fill_stats", "bloom_pos_sql", "BLOOM_WORD_BITS"]

# Dialect handles for the two generated-SQL targets. Spark consumes
# its own dialect via selectExpr/expr, so the Spark operator and the
# DuckDB twin share one spelling per derivation by construction.
SPARK = {"div": "DIV", "shl": lambda x, n: f"shiftleft({x}, {n})"}
DUCK = {"div": "//", "shl": lambda x, n: f"({x} << ({n}))"}


def _no_clash(taken: set[str], *names: str) -> None:
    """The sketch pipelines project fixed internal aliases; a user
    column with one of those names would silently shadow or
    ambiguate, so refuse up front (the round-5 hostile-name rule)."""
    hit = sorted(set(names) & taken)
    if hit:
        raise ValueError(f"column name(s) {hit} collide with sketch "
                         f"internals — rename the input column(s)")


def _check_m(m: int) -> int:
    """Registers must be a power of two in [128, 65536]: powers of
    two make ``h % m`` / ``h DIV m`` a clean bit split of the 60-bit
    hash, and the standard ``alpha_m ~= 0.7213/(1 + 1.079/m)``
    constant only applies from m >= 128."""
    if m < 128 or m > 65536 or (m & (m - 1)) != 0:
        raise ValueError("m must be a power of two in [128, 65536]")
    return m


def _field_bits(m: int) -> int:
    """Bits of hash left after the register index is peeled off."""
    return 60 - (m.bit_length() - 1)


def hll_rho_sql(hv_expr: str, m: int, dialect) -> str:
    """THE rank spelling: ``rho`` = 1 + number of leading zeros of
    the post-index hash bits ``hv DIV m`` within their
    ``60 - log2(m)``-bit field. ``length(bin(x))`` is the exact
    integer ``floor(log2 x) + 1`` in both engines (no float log);
    ``x = 0`` (all field bits zero) caps at field+1."""
    fb = _field_bits(m)
    r = f"({hv_expr}) {dialect['div']} {m}"
    return (f"CASE WHEN {r} = 0 THEN {fb + 1}"
            f" ELSE {fb + 1} - length(bin({r})) END")


def hll_term_sql(mj_expr: str, m: int, dialect) -> str:
    """THE harmonic-sum term spelling: ``2^(cap - M_j)`` as a BIGINT
    (cap = field+1, so an untouched register would contribute
    ``2^cap``). Integer throughout — the sum stays exact."""
    cap = _field_bits(m) + 1
    return dialect["shl"](f"CAST(1 AS BIGINT)", f"{cap} - ({mj_expr})")


def hll_estimate_sql(z_int_expr: str, m: int) -> str:
    """THE raw-estimator spelling, dialect-free: ``alpha_m * m^2 /
    Z`` where ``Z = z_int / 2^cap``. Fixed left-to-right IEEE
    multiply/divide chain over bit-identical operands — correctly
    rounded in both engines, hence bit-exact with NO rounding.
    ``alpha_m`` is integer-ratio spelled (never a decimal literal);
    ``2^cap`` and ``m^2`` are exact doubles (powers of two / < 2^32).
    The int->double CAST of ``z_int`` is IEEE round-to-nearest in
    both engines even past 2^53."""
    cap = _field_bits(m) + 1
    return (f"(CAST(7213 AS DOUBLE) / CAST(10000 AS DOUBLE))"
            f" / (CAST(1 AS DOUBLE)"
            f" + CAST(1079 AS DOUBLE) / CAST({1000 * m} AS DOUBLE))"
            f" * CAST({1 << cap} AS DOUBLE)"
            f" * CAST({m * m} AS DOUBLE)"
            f" / CAST(({z_int_expr}) AS DOUBLE)")


def hll_register_table(df: DataFrame, value_col: str,
                       group_cols: tuple[str, ...] = (),
                       m: int = 256, seed: str = "") -> DataFrame:
    """Build the per-group HLL register table: one row per (group,
    register) with ``m_j`` = max rho seen. NULL values are not
    counted (COUNT DISTINCT semantics).

    Scale: the hash/index/rank projection is whole-stage codegen over
    the scan; the only exchange is the ``groupBy(group, reg)`` agg,
    partial-aggregated map-side down to at most ``m`` rows per group
    per task BEFORE the shuffle — at 100 TB the wire carries
    registers, never values. The output is the mergeable sketch
    state: persist it per day/shard and fold with ``hll_merge``.
    """
    _check_m(m)
    groups = [str(g) for g in group_cols]
    _no_clash(set(groups), "_hv", "reg", "rho", "m_j")
    hv = hash_u60_expr(_qident(value_col), seed)
    rho = hll_rho_sql("_hv", m, SPARK)
    # the hash is LET-BOUND as the lambda variable _hv and the
    # one-element array is unrolled by a Generate, which no optimizer
    # rule sees through: reg, rho and any filter pushed onto them
    # read the hash from ONE plan site (plan-pinned in test_sketch)
    reg_rho = (f"transform(array({hv}), _hv -> named_struct("
               f"'reg', _hv % {m}, 'rho', CAST({rho} AS INT)))")
    keyed = (df.where(_qcol(value_col).isNotNull())
               .selectExpr(*[_qident(g) for g in groups],
                           f"inline_outer({reg_rho})"))
    return (keyed.groupBy(*[_qcol(g) for g in groups], F.col("reg"))
                 .agg(F.max("rho").alias("m_j")))


def hll_merge(*register_tables: DataFrame) -> DataFrame:
    """Union register tables (same group/m/seed) into one sketch:
    registers combine by MAX — the defining mergeability of HLL.
    ``sketch(A union B) == hll_merge(sketch(A), sketch(B))`` exactly
    (pinned by test). At scale this folds per-shard sketches with a
    shuffle of register rows only."""
    if not register_tables:
        raise ValueError("need at least one register table")
    out = register_tables[0]
    for t in register_tables[1:]:
        out = out.unionByName(t)
    keys = [c for c in out.columns if c != "m_j"]
    return (out.groupBy(*[_qcol(c) for c in keys])
               .agg(F.max("m_j").alias("m_j")))


def hll_estimate(regs: DataFrame, group_cols: tuple[str, ...],
                 m: int = 256) -> DataFrame:
    """Collapse a register table to per-group estimates:
    ``(group..., regs_used, v_zero, z_int, est_raw)``.

    ``z_int`` (BIGINT) is the 2^cap-scaled harmonic sum including
    the ``v_zero`` untouched registers; ``est_raw`` is the bit-exact
    raw HLL estimate (see ``hll_estimate_sql``). The agg input is at
    most ``m`` rows per group — trivial at any scale."""
    _check_m(m)
    cap = _field_bits(m) + 1
    groups = [str(g) for g in group_cols]
    _no_clash(set(groups),
              "regs_used", "v_zero", "z_int", "est_raw", "_zp")
    term = hll_term_sql("m_j", m, SPARK)
    agg = (regs.groupBy(*[_qcol(g) for g in groups])
               .agg(F.count(F.lit(1)).alias("regs_used"),
                    F.expr(f"sum({term})").alias("_zp")))
    z_int = (f"_zp + CAST({m} - regs_used AS BIGINT)"
             f" * CAST({1 << cap} AS BIGINT)")
    return agg.selectExpr(*[_qident(g) for g in groups],
                          "regs_used",
                          f"{m} - regs_used AS v_zero",
                          f"{z_int} AS z_int",
                          f"{hll_estimate_sql(z_int, m)} AS est_raw")


def hll_corrected(est: DataFrame, m: int = 256,
                  out: str = "est") -> DataFrame:
    """Standard small-range correction: below ``2.5 * m`` with empty
    registers, linear counting ``m * ln(m / V)`` beats the raw
    estimator. ``ln`` is cross-engine ulp-unstable (the
    bigram_perplexity precedent) so this column is pytest-pinned,
    NOT twinned — keep it out of oracle projections."""
    _check_m(m)
    corr = (f"CASE WHEN v_zero > 0 AND est_raw <="
            f" CAST({5 * m} AS DOUBLE) / CAST(2 AS DOUBLE)"
            f" THEN CAST({m} AS DOUBLE)"
            f" * ln(CAST({m} AS DOUBLE) / CAST(v_zero AS DOUBLE))"
            f" ELSE est_raw END")
    return est.selectExpr("*", f"{corr} AS {_qident(out)}")


def cm_bucket_sql(value_expr: str, row: int, width: int,
                  seed: str, hash_fn) -> str:
    """THE count-min bucket spelling: row ``d`` uses the seed-suffix
    ``:cm<d>`` of the shared md5-u60 family, reduced mod ``width``.
    ``hash_fn`` is ``sample.hash_u60_expr`` or ``sample.hash_u60_sql``
    so both engines derive identical cells."""
    return f"{hash_fn(value_expr, f'{seed}:cm{row}')} % {width}"


def _check_cm(depth: int, width: int) -> None:
    if not (1 <= depth <= 8):
        raise ValueError("depth must be in [1, 8]")
    if not (16 <= width <= 1 << 20):
        raise ValueError("width must be in [16, 2^20]")


def cm_sketch(df: DataFrame, key_col: str, depth: int = 4,
              width: int = 1024, seed: str = "",
              weight_col: str | None = None) -> DataFrame:
    """Build a count-min sketch of ``key_col`` (optionally weighted):
    rows ``(d, bucket, cnt)``, at most ``depth * width`` of them.

    Scale: each input row computes its ``depth`` buckets in one
    codegen projection and explodes to ``depth`` fixed-width
    ``(int, int, int64)`` rows; the sum agg partial-combines map-side
    down to the sketch size before the shuffle. Sketches from
    different shards merge by cell-wise sum (same groupBy). NULL keys
    are not counted."""
    _check_cm(depth, width)
    _no_clash({str(key_col)} |
              ({str(weight_col)} if weight_col is not None else set()),
              "d", "bucket", "cnt", "_bk", "_w")
    w = (f"CAST({_qident(weight_col)} AS BIGINT)"
         if weight_col is not None else "CAST(1 AS BIGINT)")
    buckets = ", ".join(
        cm_bucket_sql(_qident(key_col), d, width, seed,
                      hash_u60_expr)
        for d in range(depth))
    # posexplode_outer: the plain generator makes Spark infer a
    # `size(array(...)) > 0` filter that re-evaluates all `depth`
    # hashes a second time per row (the array is never empty, so the
    # filter is pure waste); the outer variant skips the inference
    ex = (df.where(_qcol(key_col).isNotNull())
            .selectExpr(f"array({buckets}) AS _bk", f"{w} AS _w")
            .selectExpr("posexplode_outer(_bk) AS (d, bucket)", "_w"))
    return (ex.groupBy("d", "bucket")
              .agg(F.expr("CAST(sum(_w) AS BIGINT)").alias("cnt")))


def cm_estimate(sketch: DataFrame, keys: DataFrame, key_col: str,
                depth: int = 4, width: int = 1024,
                seed: str = "", out: str = "est") -> DataFrame:
    """Point-estimate each key in ``keys`` (deduplicated): min over
    the ``depth`` rows of its cells, 0 for untouched cells. The
    estimate NEVER underestimates the true (weighted) count —
    collisions only add. ALL-INTEGER, so twins are exact by
    construction.

    Scale: the sketch is at most ``depth * width`` rows — AQE
    broadcasts it into the probe join; the probe side shuffles
    nothing but (key, d, bucket)."""
    _check_cm(depth, width)
    _no_clash({str(key_col)}, "d", "bucket", "cnt", "_bk", str(out))
    buckets = ", ".join(
        cm_bucket_sql(_qident(key_col), d, width, seed,
                      hash_u60_expr)
        for d in range(depth))
    probes = (keys.where(_qcol(key_col).isNotNull())
                  .select(_qcol(key_col)).distinct()
                  .selectExpr(_qident(key_col),
                              f"array({buckets}) AS _bk")
                  .selectExpr(_qident(key_col),
                              "posexplode_outer(_bk) AS (d, bucket)"))
    joined = probes.join(sketch, ["d", "bucket"], "left")
    return (joined.groupBy(_qcol(key_col))
                  .agg(F.expr("CAST(min(coalesce(cnt, 0)) AS BIGINT)")
                        .alias(out)))


# ------------------------------------------------------- bloom filter

# 32 payload bits per BIGINT word: the largest single-bit mask is
# 2^31, so masks and bit_or folds stay positive BIGINTs in BOTH
# engines (a 64-bit payload would need 1 << 63 — signed-overflow UB
# territory that Spark wraps and DuckDB rejects).
BLOOM_WORD_BITS = 32


def bloom_pos_sql(value_expr: str, j: int, m_bits: int,
                  seed: str, hash_fn) -> str:
    """THE bit-position spelling: hash ``j`` of ``k`` uses the seed
    suffix ``:bf<j>`` of the shared md5-u60 family, reduced mod
    ``m_bits``. ``hash_fn`` is ``sample.hash_u60_expr`` or
    ``sample.hash_u60_sql`` so both engines set identical bits."""
    return f"{hash_fn(value_expr, f'{seed}:bf{j}')} % {m_bits}"


def _check_bloom(m_bits: int, k: int) -> None:
    if m_bits % BLOOM_WORD_BITS != 0 or not (256 <= m_bits <= 1 << 26):
        raise ValueError(f"m_bits must be a multiple of "
                         f"{BLOOM_WORD_BITS} in [256, 2^26]")
    if not (1 <= k <= 16):
        raise ValueError("k must be in [1, 16]")


def _bloom_word_mask(dialect) -> tuple[str, str]:
    """THE word/mask split of a bit position ``pos``: word index =
    ``pos DIV 32``, mask = ``1 << (pos % 32)``. Shared by build and
    probe in both dialects."""
    word = f"pos {dialect['div']} {BLOOM_WORD_BITS}"
    mask = dialect["shl"]("CAST(1 AS BIGINT)",
                          f"CAST(pos % {BLOOM_WORD_BITS} AS INT)")
    return word, mask


def bloom_bits_table(df: DataFrame, key_col: str,
                     m_bits: int = 1 << 20, k: int = 4,
                     seed: str = "") -> DataFrame:
    """Build the Bloom bit table of ``key_col``: rows ``(word_idx,
    bits)``, at most ``m_bits / 32`` of them. NULL keys set no bits.

    Scale: the ``k`` positions are one codegen projection per input
    row, the explode emits fixed-width ``(int64, int64)`` rows, and
    the ``bit_or`` agg partial-combines map-side down to the word
    count before its single exchange. The output is mergeable
    sketch state: per-shard filters fold with ``bloom_merge``
    (bit_or is idempotent, so reprocessing a shard is harmless)."""
    _check_bloom(m_bits, k)
    _no_clash({str(key_col)}, "_ps", "pos", "word_idx", "bits")
    poss = ", ".join(
        bloom_pos_sql(_qident(key_col), j, m_bits, seed,
                      hash_u60_expr)
        for j in range(k))
    word, mask = _bloom_word_mask(SPARK)
    # explode_outer for the same reason as cm_sketch: the inferred
    # size() filter would double the k hashes per row
    ex = (df.where(_qcol(key_col).isNotNull())
            .selectExpr(f"array({poss}) AS _ps")
            .selectExpr("explode_outer(_ps) AS pos")
            .selectExpr(f"{word} AS word_idx", f"{mask} AS bits"))
    return (ex.groupBy("word_idx")
              .agg(F.expr("bit_or(bits)").alias("bits")))


def bloom_merge(*bit_tables: DataFrame) -> DataFrame:
    """Union bit tables (same m_bits/k/seed) into one filter: words
    combine by ``bit_or`` — ``bloom(A union B) ==
    bloom_merge(bloom(A), bloom(B))`` exactly (pinned by test)."""
    if not bit_tables:
        raise ValueError("need at least one bit table")
    out = bit_tables[0]
    for t in bit_tables[1:]:
        out = out.unionByName(t)
    return (out.groupBy("word_idx")
               .agg(F.expr("bit_or(bits)").alias("bits")))


def bloom_probe(bits: DataFrame, keys: DataFrame, key_col: str,
                m_bits: int = 1 << 20, k: int = 4, seed: str = "",
                out: str = "maybe_hit") -> DataFrame:
    """Membership-test each distinct key in ``keys`` against the
    filter: ``out`` = 1 iff ALL ``k`` bits are set (possibly a false
    positive), 0 is definitive absence. ALL-INTEGER (per-position
    flags fold by ``min``), so twins are exact by construction.

    Scale: the bit table is at most ``m_bits / 32`` rows — AQE
    broadcasts it into the probe join; the probe side shuffles only
    ``(key, pos)`` rows for its rollup. Duplicate positions (two of
    the ``k`` hashes colliding for one key) are safe: the fold is
    over per-row flags, not a count."""
    _check_bloom(m_bits, k)
    _no_clash({str(key_col)},
              "_ps", "pos", "word_idx", "bits", "_mask", str(out))
    poss = ", ".join(
        bloom_pos_sql(_qident(key_col), j, m_bits, seed,
                      hash_u60_expr)
        for j in range(k))
    word, mask = _bloom_word_mask(SPARK)
    probes = (keys.where(_qcol(key_col).isNotNull())
                  .select(_qcol(key_col)).distinct()
                  .selectExpr(_qident(key_col),
                              f"array({poss}) AS _ps")
                  .selectExpr(_qident(key_col),
                              "explode_outer(_ps) AS pos")
                  .selectExpr(_qident(key_col), f"{word} AS word_idx",
                              f"{mask} AS _mask"))
    joined = probes.join(bits, ["word_idx"], "left")
    hit = "CASE WHEN (coalesce(bits, 0) & _mask) = _mask THEN 1 ELSE 0 END"
    return (joined.groupBy(_qcol(key_col))
                  .agg(F.expr(f"CAST(min({hit}) AS INT)").alias(out)))


def bloom_fill_stats(bits: DataFrame, m_bits: int) -> DataFrame:
    """One-row fill report ``(m_bits, words_used, bits_set)`` —
    the operational gauge for whether a deployed filter is sized
    right (saturation drives the false-positive rate toward 1).
    ``bit_count`` is the engine-portable popcount."""
    return bits.agg(
        F.expr(f"CAST({int(m_bits)} AS BIGINT)").alias("m_bits"),
        F.expr("CAST(count(*) AS BIGINT)").alias("words_used"),
        F.expr("CAST(sum(bit_count(bits)) AS BIGINT)").alias("bits_set"))


# ------------------------------------------------------------- twins

def hll_events_oracle_sql(m: int = 256, seed: str = "") -> str:
    """DuckDB twin of the ``hll_users`` entry query: recomputes the
    full register pipeline over ``events.user_id`` per event_type
    from the SAME spelling functions (only the div/shift dialect
    differs) and joins the exact distinct count. ``sum`` of the
    harmonic terms is CAST to BIGINT (DuckDB HUGEINT rule) and the
    estimator string is shared verbatim — bit-exact with no
    rounding."""
    _check_m(m)
    cap = _field_bits(m) + 1
    z = (f"_zp + CAST({m} - regs_used AS BIGINT)"
         f" * CAST({1 << cap} AS BIGINT)")
    return f"""
        WITH hv AS (
          SELECT event_type, {hash_u60_sql('user_id', seed)} AS h
          FROM events WHERE user_id IS NOT NULL),
        keyed AS (
          SELECT event_type, h % {m} AS reg,
                 {hll_rho_sql('h', m, DUCK)} AS rho FROM hv),
        regs AS (
          SELECT event_type, reg, max(rho) AS m_j
          FROM keyed GROUP BY event_type, reg),
        agg AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS regs_used,
                 CAST(sum({hll_term_sql('m_j', m, DUCK)}) AS BIGINT)
                   AS _zp
          FROM regs GROUP BY event_type),
        est AS (
          SELECT event_type, regs_used,
                 {m} - regs_used AS v_zero, {z} AS z_int FROM agg),
        tru AS (
          SELECT event_type,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
          FROM events WHERE user_id IS NOT NULL
          GROUP BY event_type)
        SELECT e.event_type, regs_used, v_zero, z_int,
               {hll_estimate_sql('z_int', m)} AS est_raw, n_true
        FROM est e JOIN tru USING (event_type)
        ORDER BY e.event_type"""


def cm_words_oracle_sql(depth: int, width: int, min_est: int,
                        seed: str = "") -> str:
    """DuckDB twin of the ``cm_words`` entry query: the identical
    count-min cells (shared bucket spelling over the shared bm25
    tokenizer) and min-across-rows estimates — ALL-INTEGER, exact by
    construction."""
    from .search import toks_duck_sql
    _check_cm(depth, width)
    rows_build = "\n          UNION ALL ".join(
        f"SELECT {d} AS d,"
        f" {cm_bucket_sql('w', d, width, seed, hash_u60_sql)}"
        f" AS bucket FROM words"
        for d in range(depth))
    rows_probe = "\n          UNION ALL ".join(
        f"SELECT w, {d} AS d,"
        f" {cm_bucket_sql('w', d, width, seed, hash_u60_sql)}"
        f" AS bucket FROM probes"
        for d in range(depth))
    return f"""
        WITH words AS (
          SELECT unnest({toks_duck_sql('text')}) AS w
          FROM documents WHERE text IS NOT NULL),
        ex AS ({rows_build}),
        cells AS (
          SELECT d, bucket, CAST(count(*) AS BIGINT) AS cnt
          FROM ex GROUP BY d, bucket),
        probes AS (SELECT DISTINCT w FROM words),
        pb AS ({rows_probe}),
        est AS (
          SELECT w, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
          FROM pb LEFT JOIN cells USING (d, bucket) GROUP BY w)
        SELECT w, est FROM est WHERE est >= {int(min_est)}
        ORDER BY est DESC, w"""


def bloom_decon_oracle_sql(n: int, m_bits: int, k: int,
                           seed: str = "") -> str:
    """DuckDB twin of the ``bloom_decontaminate`` entry query: the
    identical word-gram md5-u60 hashes (``dedup.word_grams_sql``),
    the identical Bloom bit table over the eval slice, and per-train-
    doc gram / flagged / exact-hit counts — ALL-INTEGER, exact by
    construction (false positives replicate identically because both
    engines set and test the same bits)."""
    from .dedup import word_grams_sql
    _check_bloom(m_bits, k)
    word, mask = _bloom_word_mask(DUCK)
    build = "\n          UNION ALL ".join(
        f"SELECT {bloom_pos_sql('CAST(gh AS VARCHAR)', j, m_bits, seed, hash_u60_sql)}"
        f" AS pos FROM eg"
        for j in range(k))
    probe = "\n          UNION ALL ".join(
        f"SELECT gh,"
        f" {bloom_pos_sql('CAST(gh AS VARCHAR)', j, m_bits, seed, hash_u60_sql)}"
        f" AS pos FROM pk"
        for j in range(k))
    hit = "CASE WHEN (coalesce(bits, 0) & _mask) = _mask THEN 1 ELSE 0 END"
    return f"""
        WITH g AS ({word_grams_sql(n)}),
        h AS (SELECT doc_id, {hash_u60_sql('gram')} AS gh FROM g),
        eg AS (SELECT DISTINCT gh FROM h WHERE doc_id % 7 = 0),
        tg AS (SELECT doc_id, gh FROM h WHERE doc_id % 7 <> 0),
        bp AS ({build}),
        bw AS (SELECT {word} AS word_idx,
                      CAST(bit_or({mask}) AS BIGINT) AS bits
               FROM bp GROUP BY 1),
        pk AS (SELECT DISTINCT gh FROM tg),
        pp AS ({probe}),
        pm AS (SELECT gh, {word} AS word_idx, {mask} AS _mask FROM pp),
        pf AS (SELECT gh, CAST(min({hit}) AS INT) AS maybe_hit
               FROM pm LEFT JOIN bw USING (word_idx) GROUP BY gh)
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(f.maybe_hit) AS BIGINT) AS n_flagged,
               CAST(sum(CASE WHEN e.gh IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact
        FROM tg t JOIN pf f USING (gh) LEFT JOIN eg e ON t.gh = e.gh
        GROUP BY t.doc_id
        HAVING CAST(sum(f.maybe_hit) AS BIGINT) > 0
        ORDER BY t.doc_id"""
