"""Text-analysis column builders — all native pyspark.sql.functions.

Large-scale training-data-pipeline ops over a text corpus (the
``documents`` table in the driver testdata): token counting, quality
scoring, language-ID heuristic, fingerprinting.  Everything here is a
pure column expression (JVM-side, whole-stage codegen) — no UDFs — and
each has an exact ANSI-SQL twin used as the DuckDB oracle.

These generalize the reference's featurization step (SelfClean embeds
images; a text pipeline scores/filters text) and are first-class
operators per the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small fixed stopword list (shared verbatim with the SQL oracles).
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

# Tokenization contract (shared with oracles): tokens = maximal runs of
# non-whitespace; empty string → 0 tokens.
def tokens(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # split on whitespace runs; trim first so no empty edge tokens
    return F.split(F.trim(c), r"\s+")


def token_count(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(tokens(c))
    )


# GPT-2-style pre-tokenizer classes (contraction suffixes, letter runs,
# digit runs, punctuation runs — each optionally space-prefixed), kept
# lookahead-free and ASCII-classed so Java regex (Spark) and RE2
# (DuckDB) agree construct-for-construct; both engines match
# alternations leftmost-first, so counts are identical.
BPE_TOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?[A-Za-z]+"
    r"| ?[0-9]+"
    r"| ?[^A-Za-z0-9\s]+"
    r"|\s+"
)


def bpe_token_count(col: str | Column) -> Column:
    """Subword-ish token count: occurrences of the GPT-2-style
    pre-tokenizer classes — the "BPE-ish regex" counter a training-data
    pipeline budgets context length with (whitespace token_count stays
    the linguistic doc-length measure; both are native regexp ops,
    JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN))


def avg_token_len(col: str | Column) -> Column:
    """Mean token length in characters (NULL for empty docs)."""
    toks = tokens(col)
    total = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return (total.cast("double") / F.size(toks)).alias("avg_token_len")


def punct_ratio(col: str | Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return (F.length(stripped).cast("double") / F.length(c))


def is_stopword(t: Column) -> Column:
    """``lower(t) IN STOPWORDS``, with ASCII case folding.

    The stopwords are ASCII, and the only non-ASCII characters whose
    lowercase holds an ASCII letter are U+0130 (to ``i`` + U+0307, not
    ASCII) and the Kelvin sign U+212A (to ``k``, in no stopword), so the
    answer is the same.  ``translate`` skips the ICU case-mapping start-up
    that a JVM's first ``lower()`` pays: about 3 s of CPU."""
    return F.translate(t, _UPPER, _UPPER.lower()).isin(STOPWORDS)


def stopword_ratio(col: str | Column) -> Column:
    """Fraction of tokens that are stopwords (lowercased match)."""
    toks = tokens(col)
    hits = F.size(F.filter(toks, is_stopword))
    return hits.cast("double") / F.size(toks)


def quality_score(col: str | Column) -> Column:
    """Composite quality in [0,1]: long enough, low punctuation noise,
    plausible word lengths.  Deterministic closed form so the oracle
    can reproduce it exactly."""
    tc = token_count(col).cast("double")
    length_term = F.least(tc / F.lit(100.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    atl = avg_token_len(col)
    wordlen_term = F.when((atl >= 3.0) & (atl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return (0.4 * length_term + 0.3 * punct_term + 0.3 * wordlen_term)


def fingerprint(col: str | Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized lowercase text (so formatting-only variants
    collide — the 'document fingerprinting' dedup primitive).  md5 is
    available in both Spark and DuckDB, making it oracle-checkable."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.md5(normalized)
