"""Lexical retrieval: BM25 top-k document search.

Complements the embedding-side similarity search (`operators/ann.py`)
with the classic sparse/lexical ranking function, completing the
similarity-search family the training-data brief asks for (ANN for
dense vectors, BM25 for raw text). Okapi BM25 with the Lucene-style
nonnegative idf, ``ln(1 + (N - df + 0.5) / (df + 0.5))``.

Spark-first design (the whole plan is built-in expressions — zero
Python in the hot path):

- ONE regexp tokenization per document: per-term frequencies and the
  document length come out of a single ``aggregate`` fold over the
  token array into a struct (``_stats_fold_sql``), so the scan reads
  each text exactly once however many query terms there are.
  Catalyst keeps the fold single-evaluation: the struct column is
  non-cheap and referenced once per field, so CollapseProject leaves
  the two projections separate (plan-asserted in
  tests/test_physical_plans.py).
- Corpus statistics (N, sum dl, per-term df) are ONE tiny aggregate
  — a single row whatever the corpus size — broadcast back via
  crossJoin, so the scoring stage is map-only. At 100 TB this is a
  scan + a 1-row exchange + a map; nothing wide ever carries text.
- Top-k goes through ``orderBy().limit(k)`` = TakeOrderedAndProject
  (per-partition top-k, driver merge of k-row heaps), never a global
  sort; the rank window runs on k rows.

The DuckDB twin shares the score arithmetic verbatim via
``_bm25_score_sql`` (CLAUDE.md one-spelling invariant). Scores are
sums of nonnegative terms, so the signed-zero normalization is not
needed (CLAUDE.md audit note); ordering uses the ROUNDED score so a
sub-ulp ``ln`` divergence between Java and libm cannot reorder rows.

Cross-engine hardening (round-5 review findings):

- Case folding is the one ASCII ``translate`` fold of every text
  operator, ``text._lower_sql``, not ``lower()``: Java's Unicode
  toLowerCase diverges from DuckDB on non-ASCII input (U+0130 lowers
  to 'i'+U+0307 in Java — an extra symbol token). translate() has
  identical 1:1 semantics in both engines, and query terms are
  ASCII-only anyway.
- The tokenizer is ``text._TOKEN_RE``, whose whitespace class is
  explicit (Java includes U+000B in ``\\s``, RE2 does not — the
  CLAUDE.md shared regex subset).
- Float constants are spelled ``CAST(x AS DOUBLE)``: bare decimal
  literals parse as DECIMAL in BOTH engines and Spark then performs
  decimal (not IEEE) arithmetic — the same trap ``rrf_weight_sql``
  documents.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import _TOKEN_RE, _lower_sql, _spark_re

__all__ = ["bm25_topk", "bm25_topk_oracle_sql", "rrf_fuse",
           "rrf_weight_sql"]

# terms must be tokens the tokenizer can actually emit: a pure letter
# run or a pure digit run (a mixed 'gpt4' string would tokenize as
# 'gpt','4' and silently never match)
_TERM_RE = re.compile(r"(?:[a-z]+|[0-9]+)\Z")

def _check_terms(terms: list[str]) -> None:
    if not terms:
        raise ValueError("terms must be a non-empty list")
    if len(set(terms)) != len(terms):
        raise ValueError("terms must be distinct")
    for t in terms:
        if not _TERM_RE.match(t):
            raise ValueError(
                f"term {t!r} must be a single lowercase letter run "
                f"[a-z]+ or digit run [0-9]+ (what the tokenizer "
                f"emits)")


def _lit(x: float) -> str:
    """A float constant with identical IEEE semantics in Spark SQL
    and DuckDB: bare decimal literals parse as DECIMAL in both
    engines, and Spark would then do decimal (non-IEEE) arithmetic."""
    return f"CAST({repr(float(x))} AS DOUBLE)"


def toks_expr(text_col: str) -> str:
    """THE Spark spelling of the bm25 token array (ASCII-folded
    letter runs / digit runs / symbols; Spark filters the engine's
    empty matches) — shared by bm25, the corpus bigram LM
    (operators/lm.py) and BPE (operators/bpe.py) so their word
    universes can never drift apart."""
    return (f"filter(regexp_extract_all({_lower_sql(text_col)}, "
            f"'{_spark_re(_TOKEN_RE)}', 0), x -> x != '')")


def toks_duck_sql(text_col: str) -> str:
    """The DuckDB twin of ``toks_expr`` (DuckDB never emits empty
    matches, so no filter; backslashes are not unescaped in its
    string literals, so the raw regex embeds directly)."""
    return (f"regexp_extract_all({_lower_sql(text_col)}, "
            f"'{_TOKEN_RE}')")


def _stats_fold_sql(text_col: str, terms: list[str]) -> str:
    """One pass over the token array -> struct(dl, tf0, tf1, ...):
    document length and one term frequency per query term."""
    toks = toks_expr(text_col)
    zero = ", ".join(["'dl', 0L"] +
                     [f"'tf{j}', 0L" for j in range(len(terms))])
    step = ", ".join(
        ["'dl', a.dl + 1L"] +
        [f"'tf{j}', a.tf{j} + IF(x = '{t}', 1L, 0L)"
         for j, t in enumerate(terms)])
    return (f"aggregate({toks}, named_struct({zero}), "
            f"(a, x) -> named_struct({step}))")


def _bm25_score_sql(terms: list[str], k1: float, b: float) -> str:
    """The BM25 sum over columns ``_dl``, ``_tf{j}``, ``n_docs``,
    ``_df{j}``, ``_avgdl`` — used VERBATIM by both the Spark plan and
    the DuckDB twin so the IEEE operation order is identical (the only
    cross-engine wobble left is ``ln`` itself, absorbed by rounding)."""
    parts = []
    for j in range(len(terms)):
        idf = f"ln(1 + (n_docs - _df{j} + 0.5) / (_df{j} + 0.5))"
        num = f"(_tf{j} * {_lit(k1 + 1.0)})"
        den = (f"(_tf{j} + {_lit(k1)} * "
               f"(1 - {_lit(b)} + {_lit(b)} * _dl / _avgdl))")
        parts.append(f"({idf} * {num} / {den})")
    return " + ".join(parts)


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 10,
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 top-k documents for a bag of query ``terms`` (lowercase
    single tokens). Returns (id_col, score_r, rank) — score rounded to
    6 decimals, rank 1..k by (score_r DESC, id ASC). NULL texts are
    excluded; docs matching no term never reach the sort.

    The per-doc token stats feed BOTH the corpus-stats aggregate and
    the scoring stage, so they are persisted (MEMORY_AND_DISK): the
    tokenization fold runs ONCE over the corpus, and what is cached is
    only (id, dl, tf...) — fixed-width integers, never text. Each
    call builds its own cache, which lives in the SQL CacheManager
    until evicted under storage-memory pressure or cleared explicitly
    (spark.catalog.clearCache()) — persist() is NOT reclaimed when
    the result merely goes unreachable. Callers issuing many BM25
    queries over ONE corpus should persist the stats once and reuse;
    the per-call cache is deliberate for the one-shot driver
    pattern."""
    _check_terms(terms)
    fold = _stats_fold_sql(text_col, terms)
    tf_cols = [f"_tf{j}" for j in range(len(terms))]
    base = (docs.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col), F.expr(fold).alias("_acc"))
            .select(id_col, F.col("_acc.dl").alias("_dl"),
                    *[F.col(f"_acc.tf{j}").alias(c)
                      for j, c in enumerate(tf_cols)])
            .persist())
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_dl").alias("_sumdl"),
        *[F.sum((F.col(c) > 0).cast("long")).alias(f"_df{j}")
          for j, c in enumerate(tf_cols)]).withColumn(
        "_avgdl", F.expr("CAST(_sumdl AS DOUBLE) / n_docs"))
    scored = (base.crossJoin(F.broadcast(stats))
              .withColumn("_score", F.expr(_bm25_score_sql(terms, k1, b)))
              .filter(F.col("_score") > 0)
              .withColumn("score_r", F.round("_score", 6)))
    top = (scored.orderBy(F.desc("score_r"), F.asc(id_col)).limit(k)
           .select(id_col, "score_r"))
    w = Window.orderBy(F.desc("score_r"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def rrf_weight_sql(c: int) -> str:
    """THE spelling of the reciprocal-rank weight over a column named
    ``rank`` — shared verbatim by the Spark plan and every DuckDB twin
    (CLAUDE.md one-spelling invariant). The fused score depends ONLY
    on integer ranks, so cross-engine parity is exact by construction:
    no ln(), no rounding, just IEEE division and a fixed-order sum.
    The explicit DOUBLE cast matters: BOTH engines parse a bare
    ``1.0`` literal as DECIMAL, and Spark's decimal division
    truncates at scale 12 (caught by tests/test_search.py's bit-exact
    hand example)."""
    return f"CAST(1 AS DOUBLE) / ({int(c)} + rank)"


def rrf_fuse(rankings: list[DataFrame], k: int = 10,
             id_col: str = "doc_id", c: int = 60) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists into one top-k.

    Each input carries (``id_col``, ``rank``) with ranks 1..k_i (any
    other columns are ignored); the fused score is the fixed-order sum
    of ``1/(c+rank)`` over the lists that mention the id (SIGIR'09
    Cormack et al. — public method). Returns (id_col, rrf, n_lists,
    rank) ordered by (rrf DESC, id ASC).

    Scale shape: the inputs are already k-bounded (each is somebody's
    top-k), so the full-outer fold joins tiny tables — AQE broadcasts
    them — and the whole fusion is O(Σ k_i) rows however large the
    corpora behind the rankings were. Addition folds left-to-right in
    list order, never through a groupBy sum, so the IEEE result is
    deterministic and engine-identical (a distributed sum of 3+ terms
    has no fixed association order)."""
    if not rankings:
        raise ValueError("rankings must be a non-empty list")
    acc = None
    for j, r in enumerate(rankings):
        side = r.select(
            F.col(id_col),
            F.expr(rrf_weight_sql(c)).alias(f"_s{j}"))
        acc = side if acc is None else acc.join(side, id_col, "full_outer")
    score = F.lit(0.0)
    hits = F.lit(0).cast("long")
    for j in range(len(rankings)):
        score = score + F.coalesce(F.col(f"_s{j}"), F.lit(0.0))
        hits = hits + F.col(f"_s{j}").isNotNull().cast("long")
    top = (acc.select(F.col(id_col), score.alias("rrf"),
                      hits.alias("n_lists"))
           .orderBy(F.desc("rrf"), F.asc(id_col)).limit(k))
    w = Window.orderBy(F.desc("rrf"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def bm25_topk_oracle_sql(terms: list[str], k: int = 10,
                         table: str = "documents",
                         id_col: str = "doc_id", text_col: str = "text",
                         k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB twin of ``bm25_topk`` — same tokenizer (Spark filters
    the engine's empty matches; DuckDB never emits them), same ASCII
    case fold, same score spelling via ``_bm25_score_sql``, same
    rounded-score ordering."""
    _check_terms(terms)
    toks = toks_duck_sql(text_col)
    tf_sel = ", ".join(
        f"len(list_filter({toks}, x -> x = '{t}')) AS _tf{j}"
        for j, t in enumerate(terms))
    df_sel = ", ".join(
        f"CAST(sum(CASE WHEN _tf{j} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS _df{j}" for j in range(len(terms)))
    return f"""
        WITH _tok AS (
            SELECT {id_col}, len({toks}) AS _dl, {tf_sel}
            FROM {table} WHERE {text_col} IS NOT NULL),
        _stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(_dl) AS BIGINT) AS _sumdl, {df_sel}
            FROM _tok),
        _avg AS (SELECT *, CAST(_sumdl AS DOUBLE) / n_docs AS _avgdl
                 FROM _stats),
        _scored AS (
            SELECT {id_col},
                   round({_bm25_score_sql(terms, k1, b)}, 6) AS score_r
            FROM _tok CROSS JOIN _avg
            WHERE {_bm25_score_sql(terms, k1, b)} > 0)
        SELECT {id_col}, score_r,
               row_number() OVER (ORDER BY score_r DESC, {id_col} ASC)
               AS rank
        FROM _scored
        ORDER BY score_r DESC, {id_col} ASC LIMIT {int(k)}"""
