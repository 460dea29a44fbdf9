"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Everything here is built-in pyspark.sql expressions only — no Python
in the hot path at all — so all four operators run inside whole-stage
codegen and have exact DuckDB SQL oracles. The SQL twins are generated
from the same rule constants (see the *_sql helpers) to keep the two
implementations from drifting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "token_count", "quality_score", "language_id", "fingerprint",
    "repetition_signals", "redact_pii", "chunk_text", "line_dedup",
    "normalize_text", "dup_ngram_stats", "dup_ngram_stats_oracle_sql",
    "gopher_gate", "gopher_gate_oracle_sql",
    "token_count_sql", "quality_score_sql", "language_id_sql",
    "fingerprint_sql", "repetition_signals_sql", "redact_pii_sql",
    "chunk_text_sql", "line_dedup_sql", "normalize_text_sql",
]

# ---------------------------------------------------------------- tokens

# THE token regex (token_count and the bm25 / LM / BPE token arrays):
# runs of letters, runs of digits, or single non-space symbols. The
# whitespace class is explicit: java's \s includes U+000B, RE2's not
_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]"


def _spark_re(pat: str) -> str:
    """Escape a regex for embedding in a Spark SQL string literal
    (Spark unescapes backslashes in '...' literals; DuckDB does not,
    so only the Spark side doubles them)."""
    return pat.replace("\\", "\\\\")


# THE case fold of every text operator and twin, one SQL string in
# both engines. Never Unicode lower(): Java folds U+0130 to
# 'i'+U+0307 and a final capital sigma to U+03C2, DuckDB to 'i', U+03C3.
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def _lower_sql(col: str) -> str:
    """ASCII case fold of SQL expression ``col`` (Spark and DuckDB)."""
    return f"translate({col}, '{_UPPER}', '{_LOWER}')"


def token_count(df: DataFrame, text_col: str = "text",
                out: str = "n_tokens") -> DataFrame:
    """Number of BPE-ish tokens (letter runs / digit runs / symbols).
    NULL text yields NULL (matching the SQL twin) — Spark's
    ``size(NULL)`` would otherwise surface the -1 sentinel."""
    cnt = F.size(F.expr(
        f"filter(regexp_extract_all({text_col}, '{_spark_re(_TOKEN_RE)}', 0), x -> x != '')"
    )).cast("long")
    return df.withColumn(out, F.when(F.col(text_col).isNotNull(), cnt))


def token_count_sql(text_col: str = "text") -> str:
    return (f"CAST(len(regexp_extract_all({text_col}, '{_TOKEN_RE}')) AS BIGINT)")


# a word is a maximal [A-Za-z0-9_] run, i.e. what ASCII word boundaries
# delimit; both engines split on its complement. A boundary escape
# would be Unicode-aware in Java and ASCII in RE2 ('éthe' has a word
# 'the' in RE2 only)
_NON_WORD = "[^A-Za-z0-9_]+"


def _word_hits_sql(text_col: str, words: list[str],
                   duck: bool = False) -> str:
    """Count of the words of the ``_lower_sql``-folded text that are in
    ``words``: the Spark spelling, or the DuckDB twin with ``duck``.
    Callers guard NULL text (Spark's size(NULL) is not NULL)."""
    split = "regexp_split_to_array" if duck else "split"
    toks = f"{split}({_lower_sql(text_col)}, '{_NON_WORD}')"
    hits = f"w -> w IN ({', '.join(repr(w) for w in words)})"
    return (f"len(list_filter({toks}, {hits}))" if duck
            else f"size(filter({toks}, {hits}))")


# --------------------------------------------------------------- quality

_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds length/punctuation/stopword heuristics + a composite score:

      n_chars_t   — text length
      n_words     — whitespace words
      punct_ratio — punctuation chars / chars
      stop_ratio  — stopword occurrences / words
      quality     — 1 bounded-length point + 1 low-punct point +
                    1 natural-stopword-rate point, /3
    """
    # null-wrap the size() calls: Spark's size(NULL) is the -1
    # sentinel, DuckDB's len() is NULL — NULL text must flow through
    # as NULL on both sides
    words = F.when(F.col(text_col).isNotNull(), F.size(
        F.expr(f"filter(split({text_col}, ' '), w -> w != '')")))
    punct = (F.length(text_col)
             - F.length(F.regexp_replace(text_col, r"[\.,;:!\?'\"]", "")))
    stops = F.when(F.col(text_col).isNotNull(),
                   F.expr(_word_hits_sql(text_col, _STOPWORDS)))
    # the quality points test the RAW ratios, exactly as the SQL twin
    # does — testing the rounded output columns would disagree with it
    # when a true ratio rounds across a 0.1 / 0.01 / 0.7 boundary
    punct_ratio_raw = punct / F.greatest(F.length(text_col), F.lit(1))
    stop_ratio_raw = stops / F.greatest(words, F.lit(1))
    d = (df.withColumn("n_chars_t", F.length(text_col).cast("long"))
         .withColumn("n_words", words.cast("long"))
         .withColumn("punct_ratio", F.round(punct_ratio_raw, 6))
         .withColumn("stop_ratio", F.round(stop_ratio_raw, 6)))
    return d.withColumn(
        "quality",
        F.round(((F.col("n_chars_t").between(20, 20000)).cast("int")
                 + (punct_ratio_raw < 0.1).cast("int")
                 + (stop_ratio_raw.between(0.01, 0.7)).cast("int")) / 3.0,
                6))


def quality_score_sql(text_col: str = "text") -> dict[str, str]:
    """DuckDB twins for each derived column."""
    words = f"len(list_filter(string_split({text_col}, ' '), w -> w != ''))"
    punct = (f"(length({text_col}) - length(regexp_replace({text_col},"
             f" '[\\.,;:!\\?''\"]', '', 'g')))")
    stops = _word_hits_sql(text_col, _STOPWORDS, duck=True)
    return {
        "n_chars_t": f"CAST(length({text_col}) AS BIGINT)",
        "n_words": f"CAST({words} AS BIGINT)",
        "punct_ratio": f"round({punct} / greatest(length({text_col}), 1), 6)",
        "stop_ratio": f"round({stops} / greatest({words}, 1), 6)",
        "quality": (
            f"round((CAST(length({text_col}) BETWEEN 20 AND 20000 AS INT)"
            f" + CAST({punct} / greatest(length({text_col}), 1) < 0.1 AS INT)"
            f" + CAST({stops} / greatest({words}, 1) BETWEEN 0.01 AND 0.7 AS INT)) / 3.0, 6)"),
    }


# ------------------------------------------------------------- language

# tiny deterministic n-gram/stopword heuristic: score per language =
# count of its marker-word occurrences; argmax wins, ties -> 'und'
_LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "with"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "est", "une"],
    "es": ["el", "los", "es", "una", "que"],
}


def language_id(df: DataFrame, text_col: str = "text",
                out: str = "lang_pred") -> DataFrame:
    """Marker-word language ID. Deterministic argmax with fixed
    language order (en > de > fr > es on ties); 'und' if no marker."""
    langs = list(_LANG_MARKERS)
    counts = [F.expr(_word_hits_sql(text_col, _LANG_MARKERS[lang]))
              for lang in langs]
    best = F.greatest(*counts)
    # NULL text -> NULL prediction (the SQL CASE yields NULL too);
    # without the guard size(NULL) = -1 would classify NULL as 'und'
    expr = F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
    expr = expr.when(best <= 0, F.lit("und"))
    for lang, cnt in zip(langs, counts):
        expr = expr.when(cnt == best, F.lit(lang))
    return df.withColumn(out, expr)


def language_id_sql(text_col: str = "text") -> str:
    langs = list(_LANG_MARKERS)
    counts = {lang: _word_hits_sql(text_col, _LANG_MARKERS[lang], duck=True)
              for lang in langs}
    best = "greatest(" + ", ".join(counts.values()) + ")"
    case = f"CASE WHEN {best} <= 0 THEN 'und'"
    for lang in langs:
        case += f" WHEN {counts[lang]} = {best} THEN '{lang}'"
    return case + " END"


# ----------------------------------------------------------- fingerprint

# whitespace class spelled explicitly so Spark (java.util.regex) and
# DuckDB (RE2) agree: java's \s includes \x0B, RE2's does not — a
# web-scraped vertical tab would silently split differently per engine
_WS_CLASS = r"[ \t\n\f\r]+"


def fingerprint(df: DataFrame, text_col: str = "text",
                out: str = "fp") -> DataFrame:
    """Deterministic 64-bit-equivalent document fingerprint: first 16
    hex chars of SHA-256 over the normalized text (ASCII-folded,
    ``_WS_CLASS`` runs collapsed to one space, trimmed). Kept as hex
    string so Spark and the DuckDB oracle agree byte-for-byte."""
    norm = F.trim(F.regexp_replace(F.expr(_lower_sql(text_col)),
                                   _WS_CLASS, " "))
    return df.withColumn(out, F.substring(F.sha2(norm, 256), 1, 16))


def fingerprint_sql(text_col: str = "text") -> str:
    norm = (f"trim(regexp_replace({_lower_sql(text_col)},"
            f" '{_WS_CLASS}', ' ', 'g'))")
    return f"substring(sha256({norm}), 1, 16)"


# ----------------------------------------------------------- repetition

def repetition_signals(df: DataFrame,
                       text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al.
    2021, "Scaling Language Models", table A1 — public heuristics):

      n_lines       — non-empty trimmed lines
      dup_line_frac — 1 - distinct/total over those lines
      dup_word_frac — 1 - distinct/total over whitespace words
      top_word_frac — occurrences of the most frequent word / words

    All three fractions are NULL for docs with no lines/words — a
    word-less doc carries no repetition evidence, and the 1-x/total
    form would otherwise invert the greatest(total, 1) floor into a
    bogus 1.0 "maximally repetitive" score.

    Boilerplate and looped generations score high; natural prose sits
    near 0 on the dup fractions. All built-in expressions inside
    whole-stage codegen — zero Python, zero shuffle. The word and
    line arrays are hoisted into real columns first: referencing them
    straight from a higher-order lambda would re-evaluate the split
    per array element (no common-subexpression elimination across
    HOF bodies — the ngram_jaccard lesson). top_word_frac is the max
    RUN LENGTH of the sorted word array via a single aggregate()
    fold — O(w log w) — not the count-each-distinct-word transform,
    which is O(distinct x words) per document and quadratic on
    repetitive long docs (the very rows this operator exists to
    catch). The SQL twin keeps the obviously-correct quadratic
    count form: an oracle needs equivalence, not throughput.
    """
    for c in ("_rs_lines", "_rs_words", "_rs_sorted"):
        if c in df.columns:
            raise ValueError(f"`{c}` column would collide — rename it")
    folded = F.expr(_lower_sql(text_col))
    d = (df.withColumn("_rs_lines", F.filter(
            F.transform(F.split(folded, "\n"), lambda l: F.trim(l)),
            lambda l: l != ""))
         # whitespace-RUN split, unlike the single-space convention
         # elsewhere: a newline must separate words here, or line
         # boundaries would glue tokens together
         .withColumn("_rs_words", F.filter(F.split(folded, _WS_CLASS),
                                           lambda w: w != ""))
         .withColumn("_rs_sorted", F.array_sort(F.col("_rs_words"))))
    lines, words = F.col("_rs_lines"), F.col("_rs_words")
    nl = F.size(lines)
    nw = F.size(words)
    # max frequency == max run length of the sorted array: one fold,
    # struct accumulator (previous word, current run, best run)
    top = F.expr("""
        aggregate(
          _rs_sorted,
          named_struct('prev', CAST(NULL AS STRING),
                       'run', 0L, 'best', 0L),
          (acc, x) -> named_struct(
              'prev', x,
              'run', IF(acc.prev IS NOT NULL AND x = acc.prev,
                        acc.run + 1L, 1L),
              'best', GREATEST(acc.best,
                               IF(acc.prev IS NOT NULL AND x = acc.prev,
                                  acc.run + 1L, 1L))),
          acc -> acc.best)""")
    nn = F.col(text_col).isNotNull()
    return (d.withColumn("n_lines", F.when(nn, nl).cast("long"))
            .withColumn("dup_line_frac", F.when(nn & (nl > 0), F.round(
                1 - F.size(F.array_distinct(lines)) / nl, 6)))
            .withColumn("dup_word_frac", F.when(nn & (nw > 0), F.round(
                1 - F.size(F.array_distinct(words)) / nw, 6)))
            .withColumn("top_word_frac", F.when(nn & (nw > 0), F.round(
                top / nw, 6)))
            .drop("_rs_lines", "_rs_words", "_rs_sorted"))


def repetition_signals_sql(text_col: str = "text") -> dict[str, str]:
    """DuckDB twins for each repetition column (chr(10) keeps the
    newline out of the SQL literal; the whitespace class matches
    ``_WS_CLASS`` so both regex dialects split identically). NULL
    comes out of the CASE guards for line-less / word-less docs,
    matching the Spark when() wrappers."""
    folded = _lower_sql(text_col)
    lines = (f"list_filter(list_transform(string_split({folded},"
             f" chr(10)), l -> trim(l)), l -> l != '')")
    words = (f"list_filter(regexp_split_to_array({folded},"
             f" '{_WS_CLASS}'), w -> w != '')")
    top = (f"list_max(list_transform(list_distinct({words}),"
           f" d -> len(list_filter({words}, x -> x = d))))")
    return {
        "n_lines": f"CAST(len({lines}) AS BIGINT)",
        "dup_line_frac": (f"CASE WHEN len({lines}) > 0 THEN round("
                          f"1 - len(list_distinct({lines}))"
                          f" / len({lines}), 6) END"),
        "dup_word_frac": (f"CASE WHEN len({words}) > 0 THEN round("
                          f"1 - len(list_distinct({words}))"
                          f" / len({words}), 6) END"),
        "top_word_frac": (f"CASE WHEN len({words}) > 0 THEN round("
                          f"{top} / len({words}), 6) END"),
    }


# --------------------------------------- staged count-then-replace

# THE engine/twin pair for every staged regexp pipeline in this
# module (normalize_text, redact_pii): each stage counts its matches
# on the text AS THAT STAGE SAW IT, then rewrites. One machinery so a
# dialect fix or an escaping rule can never land on one pipeline only.


def _check_stage_replacement(rep: str) -> None:
    # '$' and '\' are group-reference metacharacters in Java's
    # replacement string (and '\' in RE2's) — a stage using them
    # would silently dialect-diverge; no current stage needs them
    if "$" in rep or "\\" in rep:
        raise ValueError(
            f"stage replacement {rep!r} contains $ or \\ — both are "
            "replacement metacharacters that diverge across engines")


def _staged_regexp(df: DataFrame, stages, text_col: str,
                   out: str) -> DataFrame:
    names = [f"n_{n}" for n, _, _ in stages]
    for _, _, rep in stages:
        _check_stage_replacement(rep)
    if out in names:
        raise ValueError(f"`{out}` collides with a stage count "
                         "column — pick another out name")
    for c in (*names, out):
        if c in df.columns:
            raise ValueError(f"`{c}` column would collide — rename it")
    cur = F.col(text_col)
    d = df
    for (name, pat, rep), cname in zip(stages, names):
        d = d.withColumn(cname,
                         F.regexp_count(cur, F.lit(pat)).cast("long"))
        cur = F.regexp_replace(cur, pat, rep)
    return d.withColumn(out, cur)


def _staged_regexp_sql(stages, text_col: str,
                       out: str) -> dict[str, str]:
    """DuckDB twin of ``_staged_regexp``: per-stage counts over the
    progressively rewritten text and the final expression, nested
    exactly like the engine. Newline replacements are spelled
    ``chr(10)`` — a raw newline inside a SQL literal is the
    line_dedup lesson — and the 'g' flag mirrors Spark's
    always-global regexp_replace."""
    cur = text_col
    cols: dict[str, str] = {}
    for name, pat, rep in stages:
        _check_stage_replacement(rep)
        # DuckDB '...' literals keep backslashes verbatim (RE2 sees
        # the pattern as written) but single quotes must double
        pat_sql = pat.replace("'", "''")
        cols[f"n_{name}"] = (f"CAST(len(regexp_extract_all({cur},"
                             f" '{pat_sql}')) AS BIGINT)")
        cur = (f"regexp_replace({cur}, '{pat_sql}',"
               f" {_rep_sql(rep)}, 'g')")
    cols[out] = cur
    return cols


def _rep_sql(rep: str) -> str:
    """A stage replacement as a DuckDB expression: printable-ASCII
    runs stay quoted literals (quotes doubled), anything else —
    newlines, tabs, any control or non-ASCII char — is composed with
    ``chr()`` so no raw control byte ever lands inside a SQL literal
    (the line_dedup lesson, generalized)."""
    if rep == "":
        return "''"
    parts: list[str] = []
    buf = ""
    for ch in rep:
        if " " <= ch <= "~":
            buf += ch if ch != "'" else "''"
        else:
            if buf:
                parts.append(f"'{buf}'")
                buf = ""
            parts.append(f"chr({ord(ch)})")
    if buf:
        parts.append(f"'{buf}'")
    return parts[0] if len(parts) == 1 else "(" + " || ".join(parts) + ")"


# -------------------------------------------------------- normalization

# C4/RefinedWeb-style text normalization, staged so each pass has one
# job and one count. Patterns use the shared Java-regex / RE2 subset
# (explicit classes and \xNN escapes only — both dialects read them
# identically); passed to BOTH engines as literal backslash sequences.
# Order matters: controls out first (so a stray \x0c can't survive as
# "whitespace"), CR/CRLF unified to LF before newline-run collapsing,
# tabs to spaces before space-run collapsing, edge trim last (by then
# the only whitespace left is ' ' and '\n').
_NORM_ORDER = [
    # C0 controls + DEL, keeping \t \n \r for the later stages
    ("ctrl", "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""),
    ("cr", "\\r\\n?", "\n"),          # CR and CRLF -> LF
    ("tab", "\\t", " "),
    ("spaces", "  +", " "),           # runs of 2+ spaces -> one
    ("newlines", "\\n\\n\\n+", "\n\n"),  # 3+ newlines -> paragraph
    # trim: \z (TRUE end of input in BOTH dialects), NEVER $ --
    # Java's un-flagged $ is \Z-semantics (matches before a
    # trailing line terminator: \n, \r, U+0085, U+2028, U+2029)
    # while RE2's $ is \z, so text ending in whitespace + U+2028
    # would trim in Spark but not in DuckDB. ^ is safe: both
    # dialects read it as \A without MULTILINE
    ("edge", "^[ \\n]+|[ \\n]+\\z", ""),
]


def normalize_text(df: DataFrame, text_col: str = "text",
                   out: str = "text_norm") -> DataFrame:
    """Normalize a text column the way C4/RefinedWeb-style cleaning
    passes do before any scoring or dedup: strip C0 control chars and
    DEL, unify CR/CRLF to LF, tabs to spaces, collapse space runs,
    collapse 3+ newlines to a paragraph break, trim the ends. Adds
    ``out`` plus one match count per stage (``n_ctrl``, ``n_cr``,
    ``n_tab``, ``n_spaces``, ``n_newlines``, ``n_edge``) — each count
    taken on the text AS THAT STAGE SAW IT, so the counts are also
    the stage's audit record (all zeros == already normalized; the op
    is idempotent). NULL text stays NULL everywhere. Pure regexp
    expressions in whole-stage codegen; the SQL twin nests the
    identical replacements byte-for-byte (same pattern literals,
    counts via ``regexp_extract_all``)."""
    return _staged_regexp(df, _NORM_ORDER, text_col, out)


def normalize_text_sql(text_col: str = "text",
                       out: str = "text_norm") -> dict[str, str]:
    """DuckDB twins of ``normalize_text`` (see ``_staged_regexp_sql``
    for the shared spelling rules)."""
    return _staged_regexp_sql(_NORM_ORDER, text_col, out)


# ------------------------------------------------------------------ PII

# shared Java-regex / RE2 syntax only: no lookaround, explicit classes,
# and NO word-boundary escape — the two dialects disagree on word boundaries next to
# non-ASCII letters (Java's boundary is Unicode-aware, RE2's is ASCII),
# so 'ü555-1234' would redact in one engine and not the other.
# Boundary-free patterns over-match digit blobs instead of
# under-matching PII — the safe direction for scrubbing, and
# engine-identical on every input by construction
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"[0-9]{1,3}(\.[0-9]{1,3}){3}"
_PII_PHONE = r"[0-9]{3}[- ][0-9]{3,4}"
_PII_ORDER = [("email", _PII_EMAIL, "<EMAIL>"),
              ("ip", _PII_IP, "<IP>"),
              ("phone", _PII_PHONE, "<PHONE>")]


def redact_pii(df: DataFrame, text_col: str = "text",
               out: str = "redacted") -> DataFrame:
    """Scrub emails, IPv4 addresses, and simple phone numbers from a
    text column, adding ``out`` (the redacted text) plus per-type
    match counts ``n_email`` / ``n_ip`` / ``n_phone``. Redaction is
    SEQUENTIAL (email, then ip, then phone) and each count is taken
    on the text as it stood when that pattern ran — an email's digit
    tail can never double-count as a phone number. Conservative
    patterns by design (this is corpus hygiene, not a validator);
    NULL text stays NULL everywhere. Pure regexp expressions in
    whole-stage codegen; the SQL twin nests the identical
    replacements, so both engines redact byte-for-byte."""
    return _staged_regexp(df, _PII_ORDER, text_col, out)


def redact_pii_sql(text_col: str = "text") -> dict[str, str]:
    """DuckDB twins: counts over the progressively-redacted text and
    the final redacted expression, nested exactly like the engine
    (the shared ``_staged_regexp_sql`` machinery)."""
    return _staged_regexp_sql(_PII_ORDER, text_col, "redacted")


# ------------------------------------------------------------- chunking

def chunk_text(df: DataFrame, id_col: str, text_col: str = "text",
               chunk_chars: int = 512,
               stride: int | None = None) -> DataFrame:
    """Explode each document into fixed-width character windows —
    the training-prep "split long docs into examples" op. Emits
    ``(id_col, chunk_idx, chunk_text)`` with 1-based ``chunk_idx``;
    the last chunk is short, empty/NULL texts emit NO rows (the
    CASE guard keeps Spark's descending ``sequence(1, 0)`` surprise
    out of the plan). ``stride`` (default = ``chunk_chars``, i.e.
    non-overlapping tiles) sets how far each window advances: a
    stride BELOW chunk_chars gives RAG-style overlapping windows
    (consecutive chunks share ``chunk_chars - stride`` chars, and
    every char is covered); a stride above samples spaced windows.
    Window i starts at ``(i-1)*stride + 1``; the window count is
    ``1 + ceil(max(len - chunk_chars, 0) / stride)`` — the minimal
    set whose last window reaches the end. Map-side explode, zero
    shuffle, deterministic — chunk boundaries are a pure function of
    the text, so reruns and engines agree. The SQL twin is
    generate_series + substr."""
    if chunk_chars <= 0:
        raise ValueError("chunk_chars must be positive")
    s = chunk_chars if stride is None else int(stride)
    if s <= 0:
        raise ValueError("stride must be positive")
    from .sample import _qcol, _qident
    t = _qident(text_col)
    n_expr = chunk_count_sql(t, chunk_chars, s, div="DIV")
    n_chunks = F.expr(
        f"CASE WHEN length({t}) > 0 THEN "
        f"sequence(1, {n_expr}) ELSE array() END")
    return (df.select(_qcol(id_col), _qcol(text_col),
                      F.explode(n_chunks).alias("chunk_idx"))
            .select(_qcol(id_col), F.col("chunk_idx").cast("long"),
                    F.expr(f"substring({t},"
                           f" (chunk_idx - 1) * {s} + 1,"
                           f" {chunk_chars})").alias("chunk_text")))


def chunk_count_sql(text_expr: str, chunk_chars: int, stride: int,
                    div: str) -> str:
    """THE window-count spelling shared by the engine and the DuckDB
    twin (``div`` is the only dialect split: Spark spells integer
    division ``DIV``, DuckDB ``//`` — the pack_sequences precedent).
    Non-default strides use ALL-INTEGER ceiling division (no decimal
    literals — CLAUDE.md float-constant rule), capped so no window
    ever starts past the end of the text: with stride > chunk_chars
    the coverage count alone would emit a degenerate EMPTY trailing
    chunk whenever the last start lands beyond the text."""
    if stride == chunk_chars:
        # the original spelling, kept byte-identical for existing
        # twins and plans (driver-proven; ceil of this short-scale
        # decimal quotient is exact in both engines)
        return (f"CAST(ceil(length({text_expr}) / {chunk_chars}.0)"
                f" AS INT)")
    cover = (f"1 + (greatest(length({text_expr}) - {chunk_chars}, 0)"
             f" + {stride - 1}) {div} {stride}")
    in_text = f"1 + (length({text_expr}) - 1) {div} {stride}"
    return f"CAST(least({cover}, {in_text}) AS INT)"


def line_dedup(df: DataFrame, id_col: str, text_col: str = "text",
               min_docs: int = 2, out: str = "text_dedup",
               seed: str = "", broadcast_freq: bool = True) -> DataFrame:
    """Exact repeated-line scrub (the RefinedWeb / CCNet line-dedup
    pass): drop every line whose TRIMMED form occurs in >= ``min_docs``
    distinct documents, rewriting each doc with the survivors in their
    original order. Blank lines are exempt (they are formatting, not
    boilerplate). Emits one row per non-NULL-text doc:
    ``(id_col, out, n_lines, n_removed)`` — a doc whose every line is
    boilerplate collapses to ``''``, never NULL.

    A line repeated only WITHIN one document is kept — intra-doc
    repetition is ``repetition_signals``'s job; this op targets
    cross-document boilerplate (nav bars, cookie banners, licenses).

    Scale: the explode is map-side; lines immediately reduce to their
    60-bit md5 key (``sample.hash_u60`` — the engine-portable
    derivation), so the frequency agg exchanges (int64, id) only and
    the line text itself never shuffles twice. The above-threshold key
    set is corpus-rare boilerplate and broadcasts into the marking
    join by default (``broadcast_freq=False`` for pathological
    corpora); reassembly is ONE doc-keyed aggregate of
    (pos, line, flag) structs — all JVM higher-order functions,
    no Python anywhere.
    """
    from .sample import hash_u60
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (1 would drop every "
                         "non-blank line)")
    lines = (df.filter(F.col(text_col).isNotNull())
               .select(F.col(id_col),
                       F.posexplode(F.split(F.col(text_col), "\n"))
                        .alias("pos", "line")))
    keyed = lines.withColumn("_lkey", hash_u60(F.trim(F.col("line")),
                                               seed))
    freq = (keyed.filter(F.trim(F.col("line")) != "")
            .groupBy("_lkey")
            .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
            .filter(F.col("_nd") >= int(min_docs))
            .select("_lkey", F.lit(True).alias("_dup")))
    if broadcast_freq:
        freq = F.broadcast(freq)
    marked = keyed.join(freq, "_lkey", "left")
    # pos is unique per doc, so the struct sort never compares beyond
    # its first field and the rewrite order is deterministic
    kept = F.array_join(
        F.transform(
            F.filter(
                F.array_sort(F.collect_list(
                    F.struct(F.col("pos"), F.col("line"),
                             F.col("_dup")))),
                lambda s: s["_dup"].isNull()),
            lambda s: s["line"]),
        "\n")
    return (marked.groupBy(id_col)
            .agg(kept.alias(out),
                 F.count(F.lit(1)).alias("n_lines"),
                 F.count(F.col("_dup")).alias("n_removed")))


def line_dedup_sql(id_col: str, text_col: str = "text",
                   min_docs: int = 2, out: str = "text_dedup",
                   seed: str = "",
                   table: str = "documents") -> str:
    """DuckDB twin of ``line_dedup``: same split, the shared
    ``hash_u60_sql`` line key, the same distinct-doc threshold, and an
    ordered FILTERed string_agg rebuild (coalesced to ``''`` to match
    Spark's empty-array ``array_join``). Counts stay BIGINT (count,
    never bare integer sum)."""
    from .sample import hash_u60_sql
    lkey = hash_u60_sql("trim(line)", seed)
    return f"""
        WITH _ld_lines AS (
            SELECT {id_col}, CAST(i - 1 AS INT) AS pos,
                   parts[i] AS line
            FROM (SELECT {id_col},
                         string_split({text_col}, chr(10)) AS parts
                  FROM {table} WHERE {text_col} IS NOT NULL) _t,
                 UNNEST(range(1, len(parts) + 1)) AS _r(i)
        ),
        _ld_keyed AS (
            SELECT {id_col}, pos, line, {lkey} AS lkey,
                   trim(line) <> '' AS nb
            FROM _ld_lines
        ),
        _ld_freq AS (
            SELECT lkey FROM _ld_keyed WHERE nb
            GROUP BY lkey
            HAVING count(DISTINCT {id_col}) >= {int(min_docs)}
        ),
        _ld_marked AS (
            SELECT k.*, EXISTS (SELECT 1 FROM _ld_freq f
                                WHERE f.lkey = k.lkey) AS dup
            FROM _ld_keyed k
        )
        SELECT {id_col},
               coalesce(string_agg(line, chr(10) ORDER BY pos)
                        FILTER (WHERE NOT dup), '') AS {out},
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(CASE WHEN dup THEN 1 END) AS BIGINT)
                   AS n_removed
        FROM _ld_marked GROUP BY {id_col}"""


def chunk_text_sql(id_col: str, text_col: str = "text",
                   chunk_chars: int = 512,
                   table: str = "documents",
                   stride: int | None = None) -> str:
    """DuckDB twin of ``chunk_text`` (the shared ``chunk_count_sql``
    spelling; only the integer-division keyword differs)."""
    s = chunk_chars if stride is None else int(stride)
    n_expr = chunk_count_sql(text_col, chunk_chars, s, div="//")
    return f"""
        SELECT {id_col}, CAST(i AS BIGINT) AS chunk_idx,
               substr({text_col}, (i - 1) * {s} + 1,
                      {chunk_chars}) AS chunk_text
        FROM {table}, UNNEST(generate_series(1, {n_expr}))
             AS _ci(i)
        WHERE length({text_col}) > 0"""


def dup_ngram_stats(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 3) -> DataFrame:
    """The rest of the Gopher repetition table (Rae et al. 2021,
    table A1): duplicate / top n-gram CHARACTER mass per document —
    ``repetition_signals`` covers the line/word rows, this covers
    the n-gram rows. Output per doc (docs with >= 1 n-gram):

      n_grams            — n-gram occurrences
      total_gram_chars   — sum of char lengths over ALL occurrences
      dup_gram_chars     — char mass of grams occurring > once
                           (freq * len summed over those grams)
      top_gram_chars     — max over grams of freq * len (the most
                           char-dominating gram; a pure integer max,
                           so no tie-break is ever needed)
      dup_char_frac, top_char_frac — the two fractions

    Exactness: every statistic is an ALL-INTEGER per-document fold;
    each fraction is ONE IEEE division — bit-exact twin with no
    rounding (char mass uses ``length`` = character count in BOTH
    engines; tokens come from the shared bm25 spelling so the gram
    universe can never drift from lm/bpe/bm25).

    Scale: ZERO shuffle — tokenize, gram-build, sort and a single
    ``aggregate`` run-length fold are all per-row array work inside
    whole-stage codegen (the repetition_signals O(g log g) trick:
    per-gram frequencies are run lengths of the SORTED gram array,
    never a count-each-distinct quadratic transform). The token
    array is LET-BOUND as a lambda variable (``transform(array(..),
    _dgt -> ..)[0]`` — the r32 winnow rule): a plain column alias
    here gets substituted by FILTER PUSHDOWN into every reference,
    including the per-gram lambda — whole-document re-tokenization
    per gram position, the quadratic class CLAUDE.md forbids. The
    has-a-gram row filter is therefore a CHEAP equivalent
    (``size(tokens) >= n``, one extra tokenizer site — linear), and
    the plan test pins the site counts (one fold, one sort, two
    tokenizers). The SQL twin keeps the obviously-correct explode +
    GROUP BY form: an oracle needs equivalence, not throughput."""
    if not (isinstance(n, int) and 1 <= n <= 10):
        raise ValueError("n must be an int in [1, 10]")
    from .sample import _qcol, _qident
    from .search import toks_expr
    from .sketch import _no_clash
    # the projection keeps only id_col, so id_col is the one input
    # name that can collide with the outputs / internals
    _no_clash({str(id_col)},
              "n_grams", "total_gram_chars", "dup_gram_chars",
              "top_gram_chars", "dup_char_frac", "top_char_frac",
              "_dg_st")
    parts = " , ".join(f"element_at(_dgt, i + {j})" for j in range(n))
    joiner = f"concat_ws(' ', {parts})"
    # size(_dgt) >= n is guaranteed by the row filter below, so no
    # CASE guard is needed (sequence(1, size-n+1) never counts down)
    grams = (f"transform(sequence(1, size(_dgt) - {n - 1}), "
             f"i -> {joiner})")
    # ONE fold over the sorted gram array: (prev, run, cnt, tot,
    # dupc, topc); runs close when the gram changes, the finisher
    # closes the last run. freq == run length on a sorted array.
    fold = f"""
        aggregate(
          array_sort({grams}),
          named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
                       'cnt', 0L, 'tot', 0L, 'dupc', 0L, 'topc', 0L),
          (acc, x) -> named_struct(
              'prev', x,
              'run', IF(acc.prev IS NOT NULL AND x = acc.prev,
                        acc.run + 1L, 1L),
              'cnt', acc.cnt + 1L,
              'tot', acc.tot + length(x),
              'dupc', acc.dupc + IF(acc.prev IS NOT NULL
                        AND x != acc.prev AND acc.run > 1L,
                        acc.run * length(acc.prev), 0L),
              'topc', GREATEST(acc.topc,
                        IF(acc.prev IS NOT NULL AND x != acc.prev,
                           acc.run * length(acc.prev), 0L))),
          acc -> named_struct(
              'prev', acc.prev, 'run', acc.run, 'cnt', acc.cnt,
              'tot', acc.tot,
              'dupc', acc.dupc + IF(acc.run > 1L,
                        acc.run * length(acc.prev), 0L),
              'topc', GREATEST(acc.topc,
                        IF(acc.prev IS NOT NULL,
                           acc.run * length(acc.prev), 0L))))"""
    t = _qident(text_col)
    # let-bind the token array; all downstream references go through
    # the lambda variable, which no optimizer rule substitutes into
    let_bound = f"transform(array({toks_expr(t)}), _dgt -> {fold})[0]"
    out = (df.where(_qcol(text_col).isNotNull())
             .where(F.expr(f"size({toks_expr(t)}) >= {n}"))
             .selectExpr(_qident(id_col), f"{let_bound} AS _dg_st"))
    return out.selectExpr(
        _qident(id_col),
        "_dg_st.cnt AS n_grams",
        "_dg_st.tot AS total_gram_chars",
        "_dg_st.dupc AS dup_gram_chars",
        "_dg_st.topc AS top_gram_chars",
        "(CAST(_dg_st.dupc AS DOUBLE) / CAST(_dg_st.tot AS DOUBLE))"
        " AS dup_char_frac",
        "(CAST(_dg_st.topc AS DOUBLE) / CAST(_dg_st.tot AS DOUBLE))"
        " AS top_char_frac")


def dup_ngram_stats_oracle_sql(n: int = 3) -> str:
    """DuckDB twin of the ``dup_ngrams`` entry query: the identical
    gram universe (shared tokenizer; 1-based list slicing) counted in
    the explode + GROUP BY form, then the same ALL-INTEGER masses and
    single-division fractions — exact by construction."""
    from .search import toks_duck_sql
    if not (isinstance(n, int) and 1 <= n <= 10):
        raise ValueError("n must be an int in [1, 10]")
    return f"""
        WITH d AS (
          SELECT doc_id, {toks_duck_sql('text')} AS t
          FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT doc_id,
                 array_to_string(list_slice(t, i, i + {n - 1}), ' ')
                     AS gram
          FROM d, UNNEST(generate_series(1, len(t) - {n - 1})) AS u(i)
          WHERE len(t) >= {n}),
        c AS (
          SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS f,
                 CAST(length(gram) AS BIGINT) AS l
          FROM g GROUP BY doc_id, gram),
        a AS (
          SELECT doc_id,
                 CAST(sum(f) AS BIGINT) AS n_grams,
                 CAST(sum(f * l) AS BIGINT) AS total_gram_chars,
                 CAST(sum(CASE WHEN f > 1 THEN f * l ELSE 0 END)
                      AS BIGINT) AS dup_gram_chars,
                 CAST(max(f * l) AS BIGINT) AS top_gram_chars
          FROM c GROUP BY doc_id)
        SELECT doc_id, n_grams, total_gram_chars, dup_gram_chars,
               top_gram_chars,
               (CAST(dup_gram_chars AS DOUBLE)
                / CAST(total_gram_chars AS DOUBLE)) AS dup_char_frac,
               (CAST(top_gram_chars AS DOUBLE)
                / CAST(total_gram_chars AS DOUBLE)) AS top_char_frac
        FROM a ORDER BY doc_id"""


# Gopher rule-filter stopword list (Rae et al. 2021, table A1: "at
# least two of" these eight) — distinct from the language-agnostic
# _STOPWORDS heuristic list above.
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have",
                 "with"]


def gopher_gate(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """The published Gopher rule filter (Rae et al. 2021, table A1),
    as per-rule flags plus the combined ``keep``:

      n_words / word-count rule      50 <= words <= 100000
      mean-word-length rule          3 <= chars/word <= 10
      symbol ratio rule              #/words <= 0.1 AND
                                     ellipsis/words <= 0.1 (the
                                     paper tests EACH symbol's ratio
                                     independently, not their sum)
      bullet-lines rule              <= 90% lines start with a bullet
      ellipsis-lines rule            <= 30% lines end with ellipsis
      alpha-words rule               >= 80% words contain [A-Za-z]
      stopword rule                  >= 2 of the table's 8 stopwords

    EVERY threshold is evaluated as an ALL-INTEGER cross-multiplied
    comparison (``3*n_words <= word_chars``, ``10*symbols <=
    n_words``, ...) — no ratio is ever materialized, so there is no
    float anywhere and the DuckDB twin is exact by construction, the
    strongest form of the repo's exactness ladder.

    Deterministic rendering choices (the paper does not pin them):
    words = non-empty runs between ``[ \\t\\n\\f\\r]`` whitespace
    (the repetition_signals convention); bullets = trimmed line
    starts with ``- * • ‣ ·``; ellipsis = ``...`` or U+2026;
    stopword presence via the SHARED bm25 tokenizer (so 'the' never
    matches inside 'theme'). NULL texts are dropped. Docs with zero
    lines pass the two line rules vacuously (0 <= 0); docs with zero
    words fail the word-count rule, so ``keep`` is still 0.

    Scale: ZERO shuffle — every count is per-row array/regexp work in
    codegen. The words / lines / token arrays are LET-BOUND as nested
    lambda variables (CLAUDE.md: CollapseProject AND filter pushdown
    substitute plain aliases into every reference)."""
    from .sample import _qcol, _qident
    from .search import toks_expr
    from .sketch import _no_clash
    _no_clash({str(id_col)},
              "n_words", "word_chars", "n_hash", "n_ellipsis",
              "n_lines",
              "n_bullet_lines", "n_ellipsis_lines", "n_alpha_words",
              "n_stops_present", "ok_word_count", "ok_mean_word_len",
              "ok_symbol_ratio", "ok_bullet_lines", "ok_ellipsis",
              "ok_alpha_words", "ok_stopwords", "keep", "_gg_st")
    t = _qident(text_col)
    # _spark_re: the class goes through Spark's SQL-literal unescape,
    # which consumes single backslashes — a bare '\f' would become a
    # literal 'f' in the class and silently split words on that letter
    words = (f"filter(split({t}, '{_spark_re(_WS_CLASS)}'),"
             f" w -> w != '')")
    lines = (f"filter(transform(split({t}, '\\n'), l -> trim(l)),"
             f" l -> l != '')")
    stops_arr = ", ".join(f"'{w}'" for w in _GOPHER_STOPS)
    # counts struct: three nested let-bound arrays (words, lines,
    # tokens), each referenced only through its lambda variable
    st = f"""
      transform(array({words}), _gw ->
        transform(array({lines}), _gl ->
          transform(array({toks_expr(t)}), _gt ->
            named_struct(
              'n_words', CAST(size(_gw) AS BIGINT),
              'word_chars', aggregate(_gw, 0L,
                  (acc, w) -> acc + length(w)),
              'n_hash',
                  CAST(length({t})
                       - length(replace({t}, '#', '')) AS BIGINT),
              'n_ellipsis',
                  CAST(size(regexp_extract_all({t},
                        '(\\\\.\\\\.\\\\.|\\u2026)', 0)) AS BIGINT),
              'n_lines', CAST(size(_gl) AS BIGINT),
              'n_bullet_lines', CAST(size(filter(_gl,
                  l -> l rlike '^[-*\\u2022\\u2023\\u00b7]'))
                  AS BIGINT),
              'n_ellipsis_lines', CAST(size(filter(_gl,
                  l -> l rlike '(\\\\.\\\\.\\\\.|\\u2026)\\\\z'))
                  AS BIGINT),
              'n_alpha_words', CAST(size(filter(_gw,
                  w -> w rlike '[A-Za-z]')) AS BIGINT),
              'n_stops_present', aggregate(array({stops_arr}), 0L,
                  (acc, w) -> acc
                      + IF(array_contains(_gt, w), 1L, 0L))
            ))[0])[0])[0]"""
    flags = [
        ("ok_word_count",
         "_gg_st.n_words >= 50 AND _gg_st.n_words <= 100000"),
        ("ok_mean_word_len",
         "3 * _gg_st.n_words <= _gg_st.word_chars"
         " AND _gg_st.word_chars <= 10 * _gg_st.n_words"),
        ("ok_symbol_ratio",
         "10 * _gg_st.n_hash <= _gg_st.n_words"
         " AND 10 * _gg_st.n_ellipsis <= _gg_st.n_words"),
        ("ok_bullet_lines",
         "10 * _gg_st.n_bullet_lines <= 9 * _gg_st.n_lines"),
        ("ok_ellipsis",
         "10 * _gg_st.n_ellipsis_lines <= 3 * _gg_st.n_lines"),
        ("ok_alpha_words",
         "10 * _gg_st.n_alpha_words >= 8 * _gg_st.n_words"),
        ("ok_stopwords", "_gg_st.n_stops_present >= 2"),
    ]
    flag_cols = [f"CAST({cond} AS INT) AS {name}"
                 for name, cond in flags]
    keep = " AND ".join(f"({cond})" for _, cond in flags)
    return (df.where(_qcol(text_col).isNotNull())
              .selectExpr(_qident(id_col), f"{st} AS _gg_st")
              .selectExpr(
                  _qident(id_col),
                  "_gg_st.n_words AS n_words",
                  "_gg_st.word_chars AS word_chars",
                  "_gg_st.n_hash AS n_hash",
                  "_gg_st.n_ellipsis AS n_ellipsis",
                  "_gg_st.n_lines AS n_lines",
                  "_gg_st.n_bullet_lines AS n_bullet_lines",
                  "_gg_st.n_ellipsis_lines AS n_ellipsis_lines",
                  "_gg_st.n_alpha_words AS n_alpha_words",
                  "_gg_st.n_stops_present AS n_stops_present",
                  *flag_cols,
                  f"CAST({keep} AS INT) AS keep"))


def gopher_gate_oracle_sql() -> str:
    """DuckDB twin of the ``gopher_gate`` entry query: the identical
    counts (list ops + the same regex constants; 'g' flag where
    DuckDB needs it) and the identical ALL-INTEGER cross-multiplied
    thresholds — exact by construction, zero floats anywhere."""
    from .search import toks_duck_sql
    stops_arr = ", ".join(f"'{w}'" for w in _GOPHER_STOPS)
    flags = [
        ("ok_word_count", "n_words >= 50 AND n_words <= 100000"),
        ("ok_mean_word_len", "3 * n_words <= word_chars"
                             " AND word_chars <= 10 * n_words"),
        ("ok_symbol_ratio", "10 * n_hash <= n_words"
                            " AND 10 * n_ellipsis <= n_words"),
        ("ok_bullet_lines", "10 * n_bullet_lines <= 9 * n_lines"),
        ("ok_ellipsis", "10 * n_ellipsis_lines <= 3 * n_lines"),
        ("ok_alpha_words", "10 * n_alpha_words >= 8 * n_words"),
        ("ok_stopwords", "n_stops_present >= 2"),
    ]
    flag_cols = ",\n               ".join(
        f"CAST({cond} AS INT) AS {name}" for name, cond in flags)
    keep = " AND ".join(f"({cond})" for _, cond in flags)
    return f"""
        WITH c AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split_regex(text,
                      '{_WS_CLASS}'), w -> w != '')) AS BIGINT)
                     AS n_words,
                 CAST(coalesce(list_sum(list_transform(
                      list_filter(string_split_regex(text,
                          '{_WS_CLASS}'), w -> w != ''),
                      w -> length(w))), 0) AS BIGINT) AS word_chars,
                 CAST(length(text) - length(replace(text, '#', ''))
                      AS BIGINT) AS n_hash,
                 CAST(len(regexp_extract_all(text,
                      '(\\.\\.\\.|…)')) AS BIGINT) AS n_ellipsis,
                 CAST(len(list_filter(list_transform(
                      string_split(text, chr(10)), l -> trim(l)),
                      l -> l != '')) AS BIGINT) AS n_lines,
                 CAST(len(list_filter(list_filter(list_transform(
                      string_split(text, chr(10)), l -> trim(l)),
                      l -> l != ''),
                      l -> regexp_matches(l,
                          '^[-*•‣·]'))) AS BIGINT)
                     AS n_bullet_lines,
                 CAST(len(list_filter(list_filter(list_transform(
                      string_split(text, chr(10)), l -> trim(l)),
                      l -> l != ''),
                      l -> regexp_matches(l,
                          '(\\.\\.\\.|…)\\z'))) AS BIGINT)
                     AS n_ellipsis_lines,
                 CAST(len(list_filter(list_filter(string_split_regex(
                      text, '{_WS_CLASS}'), w -> w != ''),
                      w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
                     AS n_alpha_words,
                 CAST(len(list_filter([{stops_arr}],
                      w -> list_contains({toks_duck_sql('text')}, w)))
                      AS BIGINT) AS n_stops_present
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id, n_words, word_chars, n_hash, n_ellipsis,
               n_lines,
               n_bullet_lines, n_ellipsis_lines, n_alpha_words,
               n_stops_present,
               {flag_cols},
               CAST({keep} AS INT) AS keep
        FROM c ORDER BY doc_id"""
