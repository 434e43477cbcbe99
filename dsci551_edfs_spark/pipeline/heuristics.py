"""Heuristic corpus-quality filters: C4-style line/page rules and
Gopher-style document rules.

Both are the published, widely-reimplemented cleaning recipes for web-scale
LLM pretraining corpora (C4: Raffel et al. 2020 §2.2; Gopher: Rae et al.
2021 Table A1). The reference engine has no analogue (it has no text
pipeline at all); these are engine-native additions required by the
training-data-pipeline brief.

Design notes (100 TB posture):
- Every rule is a JVM codegen expression over one scan — split / regexp /
  higher-order array functions. No Python anywhere, no shuffle for the
  doc-level rules; the page-level reassembly shuffles each kept line once
  (same cost as any per-doc reconstruction).
- Every metric has an exactly-reproducible arithmetic definition so the
  DuckDB oracle can restate it; ratios are rounded to fixed decimals on
  both sides.
- Filters return ALL rows with per-rule flags plus a ``keep`` verdict
  (rather than silently dropping), so a 100 TB run can audit rule-by-rule
  drop rates before committing to a destructive pass. ``c4_clean``
  applies the verdict.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "c4_line_flags",
    "c4_clean",
    "gopher_quality_flags",
    "GOPHER_REQUIRED_STOPWORDS",
]

# C4 keeps only lines that end in terminal punctuation and have at least
# `min_words` words, then drops pages with too few surviving lines or any
# blocklisted content. The punctuation class is the paper's (period,
# exclamation, question mark, closing quote).
C4_TERMINAL_PUNCT = '[.!?"”]$'

# Gopher's "must contain at least 2 of" stopword list (Table A1).
GOPHER_REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _words(c: Column) -> Column:
    """Whitespace word split of trimmed text; empty text -> empty array."""
    return F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != "")


# ------------------------------------------------------------------ C4


def c4_line_flags(
    lines: DataFrame,
    line_col: str = "line",
    min_words: int = 5,
    terminal_punct: str = C4_TERMINAL_PUNCT,
) -> DataFrame:
    """Append the C4 line-rule columns to a line-per-row frame:
    ``n_words`` (whitespace words), ``ends_punct`` (terminal-punctuation
    regex), ``line_keep`` (both rules). Pure projection — pipelines into
    whatever scan produced the lines."""
    c = F.trim(F.col(line_col))
    n_words = F.size(_words(c))
    ends = c.rlike(terminal_punct)
    return lines.withColumns(
        {
            "n_words": n_words.cast("long"),
            "ends_punct": ends,
            "line_keep": ends & (n_words >= min_words),
        }
    )


def c4_clean(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    blocklist: tuple[str, ...] = ("lorem ipsum", "{"),
) -> DataFrame:
    """C4-style page cleaning: drop lines that don't end in terminal
    punctuation or have fewer than ``min_words_per_line`` words; then drop
    pages with fewer than ``min_kept_lines`` surviving lines or any
    blocklisted substring (case-insensitive) anywhere in the raw page.

    Returns one row per SURVIVING page: ``(id, n_lines, n_kept,
    cleaned_text)`` with kept lines rejoined in original order.

    Scale shape: line splitting and rule evaluation are one codegen
    projection over the scan; the only shuffle is the per-page regroup of
    kept lines (keyed by page id). Page-level blocklisting happens BEFORE
    the explode so blocked pages never enter the shuffle.
    """
    c = F.col(text_col)
    blocked = F.lit(False)
    for s in blocklist:
        blocked = blocked | F.contains(F.lower(c), F.lit(s.lower()))
    pages = docs.filter(~blocked)
    # F.split takes a REGEX but the rejoin uses the delimiter literally:
    # escape so '|', '.', etc. behave as the same literal on both ends
    import re as _re

    segs = pages.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(c, _re.escape(delimiter))).alias("pos", "line"),
    )
    flagged = c4_line_flags(
        segs, "line", min_words=min_words_per_line
    )
    totals = segs.groupBy("_id").agg(F.count("*").alias("n_lines"))
    kept = (
        flagged.filter("line_keep")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda x: x["line"],
                ),
                delimiter,
            ).alias("cleaned_text"),
        )
        .filter(F.col("n_kept") >= min_kept_lines)
    )
    return kept.join(totals, "_id").select(
        F.col("_id").alias(id_col),
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept").cast("long").alias("n_kept"),
        "cleaned_text",
    )


# -------------------------------------------------------------- Gopher


def gopher_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.10,
    min_alpha_word_frac: float = 0.80,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher document-quality rules as one codegen projection. Metrics
    (each exactly restatable in SQL):

    - ``n_words``: whitespace word count
    - ``mean_word_len``: non-whitespace chars / n_words (rounded 3)
    - ``symbol_word_ratio``: (# of '#' or '...' occurrences) / n_words
      (rounded 4)
    - ``alpha_word_frac``: fraction of words containing >= 1 ASCII letter
      (rounded 3)
    - ``stopword_hits``: how many of the 8 required stopwords appear
    - ``keep``: all five rules pass

    No shuffle, no Python: the 100 TB pass is scan-bound.
    """
    c = F.col(text_col)
    words = _words(c)
    n_words = F.size(words)
    safe_n = F.greatest(n_words, F.lit(1))
    mean_wl = F.round(
        F.length(F.regexp_replace(c, r"\s+", "")) / safe_n, 3
    )
    n_sym = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\."), 0))
    sym_ratio = F.round(n_sym / safe_n, 4)
    alpha_frac = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / safe_n, 3
    )
    sw = F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPWORDS])
    hits = F.size(F.filter(sw, lambda s: F.array_contains(words, s)))
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (sym_ratio <= max_symbol_word_ratio)
        & (alpha_frac >= min_alpha_word_frac)
        & (hits >= min_stopword_hits)
    )
    return docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        hits.cast("long").alias("stopword_hits"),
        keep.alias("keep"),
    )
