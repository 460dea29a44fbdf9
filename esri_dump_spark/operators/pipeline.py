"""End-to-end corpus-cleaning pipeline — the canonical training-data
recipe composed from the engine's operators, expressed as ONE lazy
DataFrame plan (Catalyst sees the whole chain: the quality filter
prunes before any signature work, and nothing materializes between
stages):

    1. quality gate   — heuristic score (length / punctuation /
                        stopword ratios), pure codegen expressions;
    2. exact dedup    — content-hash groupBy, min-id survivor;
    3. near dedup     — MinHash banded LSH, min-id representative per
                        candidate cluster.

Every stage is SQL-reproducible (operators/text.py expression twins +
the md5/linear-congruential MinHash family), so the WHOLE pipeline is
oracle-checked end to end against a single DuckDB CTE chain
(`clean_corpus_oracle_sql`) — the strongest correctness statement in
the repo: one hash over the final surviving id set validates filter,
exact-dedup and LSH semantics jointly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup as D
from . import text as X

__all__ = ["clean_corpus", "clean_corpus_oracle_sql", "clean_images",
           "govern_corpus", "govern_corpus_oracle_sql"]


def clean_corpus(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 min_quality: float = 0.8,
                 jaccard_threshold: float = 0.6,
                 band_key: str = "hash") -> DataFrame:
    """Surviving rows of the 3-stage cleaning pipeline (original
    columns preserved). ``band_key='exact'`` is the oracle mode; the
    default murmur keys are the narrow-shuffle scale path."""
    cols = docs.columns
    clash = {"quality", "n_chars_t", "n_words", "punct_ratio",
             "stop_ratio"} & set(cols)
    if clash:
        # quality_score's withColumn would silently REPLACE these and
        # the final select(*cols) would return the heuristic values
        # under the caller's column names — refuse instead of corrupting
        raise ValueError(
            f"clean_corpus: input columns {sorted(clash)} collide with "
            "the quality_score outputs; rename them before cleaning")
    scored = X.quality_score(docs)
    kept = scored.filter(F.col("quality") >= min_quality).select(*cols)
    exact = D.exact_dedup_by_hash(kept, text_col, id_col)
    return D.minhash_dedup(exact, id_col, text_col,
                           threshold=jaccard_threshold,
                           band_key=band_key)


def clean_images(images: DataFrame, id_col: str = "image_id",
                 min_psnr_db: float = 40.0,
                 max_phash_hamming: int = 6) -> DataFrame:
    """Image-side cleaning pipeline, the multimodal twin of
    ``clean_corpus``:

    1. invariant gate — decode + verify rows (dims, phash, caption,
       PSNR vs reference regeneration); failing rows drop;
    2. near dedup    — phash block-LSH pairs, min-id survivor.

    Shuffle discipline: the verify stage runs `mapInPandas` over the
    scan (bytes never shuffled); the gate join and the dedup anti-join
    carry ids only. Output: surviving rows with original columns."""
    from .multimodal import verify_images

    v = verify_images(images, min_psnr_db=min_psnr_db)
    ok_ids = (v.filter(F.col("dims_ok") & F.col("phash_ok")
                       & F.col("caption_ok") & F.col("psnr_ok"))
              .select(id_col))
    kept = images.join(ok_ids, id_col, "left_semi")
    pairs = D.phash_near_dup(kept, id_col=id_col,
                             max_hamming=max_phash_hamming)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return kept.join(losers, id_col, "left_anti")


def clean_corpus_oracle_sql(id_col: str = "doc_id",
                            text_col: str = "text",
                            table: str = "documents",
                            min_quality: float = 0.8,
                            jaccard_threshold: float = 0.6,
                            num_hashes: int = 64, bands: int = 16,
                            shingle_n: int = 5) -> str:
    """DuckDB twin of ``clean_corpus(band_key='exact')``: returns the
    surviving id set."""
    quality = X.quality_score_sql(text_col)["quality"]
    return f"""
        WITH _qual AS (
            SELECT {id_col}, {text_col} FROM {table}
            WHERE {quality} >= {min_quality}),
        _exid AS (SELECT min({id_col}) AS {id_col}
                  FROM _qual GROUP BY {text_col}),
        _exd AS (SELECT q.* FROM _qual q JOIN _exid USING ({id_col})),
        {D.minhash_sql_cte(id_col, text_col, '_exd', num_hashes,
                           shingle_n)},
        _pairs AS ({D.minhash_pair_select_sql(id_col, num_hashes, bands,
                                              jaccard_threshold)}),
        {D.dedup_survivors_sql(
            id_col, '_exd',
            f"SELECT DISTINCT id_b AS {id_col} FROM _pairs")}"""


def govern_corpus(docs: DataFrame, eval_df: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  min_quality: float = 0.8,
                  max_dup_word_frac: float = 0.6,
                  decontam_n: int = 4,
                  split_seed: str = "",
                  split_col: str = "split",
                  weights: dict[str, float] | None = None
                  ) -> DataFrame:
    """The governance counterpart of ``clean_corpus`` — the four
    stages a corpus passes AFTER cleaning, again as ONE lazy plan:

    1. quality gate      — composite heuristic >= min_quality;
    2. repetition gate   — dup_word_frac <= max (word-less docs have
                           a NULL fraction and drop, in both engines,
                           via three-valued <=);
    3. decontamination   — any shared word n-gram with ``eval_df``
                           anti-joins the doc out (60-bit gram
                           hashes; eval side broadcasts);
    4. deterministic split — md5-u60 threshold labels on the id.

    Every stage is expression-twinned, so the full chain is oracled
    by one DuckDB CTE (``govern_corpus_oracle_sql``): a single hash
    over (id, split) validates all four semantics jointly. Returns
    the surviving rows with their original columns plus
    ``split_col``.
    """
    from .sample import split_assign
    cols = docs.columns
    clash = ({"quality", "n_chars_t", "n_words", "punct_ratio",
              "stop_ratio", "n_lines", "dup_line_frac",
              "dup_word_frac", "top_word_frac", split_col}
             & set(cols))
    if clash:
        raise ValueError(
            f"govern_corpus: input columns {sorted(clash)} collide "
            "with stage outputs; rename them first")
    q = X.quality_score(docs).filter(
        F.col("quality") >= min_quality).select(*cols)
    r = X.repetition_signals(q).filter(
        F.col("dup_word_frac") <= max_dup_word_frac).select(*cols)
    clean = D.decontaminate(r, eval_df, id_col, text_col,
                            n=decontam_n, mode="filter")
    return split_assign(clean, id_col, weights=weights,
                        seed=split_seed, split_col=split_col)


def govern_corpus_oracle_sql(id_col: str = "doc_id",
                             text_col: str = "text",
                             table: str = "documents",
                             train_pred: str = "TRUE",
                             eval_pred: str = "FALSE",
                             min_quality: float = 0.8,
                             max_dup_word_frac: float = 0.6,
                             decontam_n: int = 4,
                             split_seed: str = "",
                             weights: dict[str, float] | None = None
                             ) -> str:
    """DuckDB twin of ``govern_corpus`` where train/eval are the rows
    of ``table`` satisfying ``train_pred`` / ``eval_pred``. Returns
    (id, split) for the surviving rows. The gram hash and split CASE
    come from the shared ``hash_u60_sql`` / ``split_case_sql``
    helpers (one SQL spelling of each oracle-critical derivation);
    the anti-join is ``NOT EXISTS`` — NOT ``NOT IN``, whose
    three-valued logic would drop survivors (or empty the whole
    output) whenever a NULL id reaches either side, diverging from
    Spark's left_anti."""
    from .sample import hash_u60_sql, split_case_sql
    quality = X.quality_score_sql(text_col)["quality"]
    dupw = X.repetition_signals_sql(text_col)["dup_word_frac"]
    hash60 = hash_u60_sql("gram")
    return f"""
        WITH _qual AS (
            SELECT {id_col}, {text_col} FROM {table}
            WHERE ({train_pred}) AND {quality} >= {min_quality}),
        _rep AS (
            SELECT {id_col}, {text_col} FROM _qual
            WHERE {dupw} <= {max_dup_word_frac}),
        _tg AS ({D.word_grams_sql(decontam_n, "_rep", "TRUE",
                                  id_col, text_col)}),
        _eg AS ({D.word_grams_sql(decontam_n, table, eval_pred,
                                  id_col, text_col)}),
        _eh AS (SELECT DISTINCT {hash60} AS gh FROM _eg),
        _th AS (SELECT {id_col}, {hash60} AS gh FROM _tg),
        _dirty AS (SELECT DISTINCT {id_col}
                   FROM _th JOIN _eh USING (gh)),
        _clean AS (SELECT r.{id_col} FROM _rep r
                   WHERE NOT EXISTS (SELECT 1 FROM _dirty d
                                     WHERE d.{id_col} = r.{id_col})),
        _h AS (SELECT {id_col},
                      {hash_u60_sql(f'CAST({id_col} AS VARCHAR)',
                                    split_seed)} AS hv
               FROM _clean)
        SELECT {id_col}, {split_case_sql('hv', weights)} AS split
        FROM _h"""
