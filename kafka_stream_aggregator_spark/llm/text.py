"""Text-analysis operators: token stats, language ID, quality, fingerprint.

All pure built-in expressions (regexp_*, higher-order array functions) —
per-row, embarrassingly parallel, zero shuffles until the caller
aggregates. Column-returning helpers compose into any pipeline.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = r"\S+"
# BPE-ish word/punct splitter: letter-runs, digit-runs, or single
# non-space symbols — a cheap stand-in for subword tokenizers.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword banks for the n-gram/stopword-vote
# language-ID heuristic (public common-word lists).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "von"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "que", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "por", "que", "con"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我", "他", "这"],
}


def tokens(text: Column) -> Column:
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_token_count(text: Column) -> Column:
    """Sub-word-ish token count (letter runs + digit runs + symbols)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_RE), 0))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = tokens(text)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def lang_id(text: Column) -> Column:
    """argmax language by stopword vote ('und' when all scores are 0)."""
    best = None
    best_score = None
    for lg in STOPWORDS:
        s = stopword_ratio(text, lg)
        if best is None:
            best, best_score = F.lit(lg), s
        else:
            cond = s > best_score
            best = F.when(cond, F.lit(lg)).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


def punct_ratio(text: Column) -> Column:
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    return n_punct / F.greatest(F.length(text), F.lit(1))


def mean_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: length band + stopword presence + sane
    punctuation + sane mean token length (Gopher-rule flavored)."""
    n_tok = token_count(text)
    score = (
        F.when((n_tok >= 5) & (n_tok <= 100000), 0.25).otherwise(0.0)
        + F.when(stopword_ratio(text) > 0.01, 0.25).otherwise(0.0)
        + F.when(punct_ratio(text) < 0.3, 0.25).otherwise(0.0)
        + F.when(mean_token_len(text).between(2.0, 12.0), 0.25).otherwise(0.0)
    )
    return score


def token_stats(text: Column) -> Column:
    """struct(n_chars, n_tokens, n_uniq_tokens, mean_token_len,
    punct_ratio, bpe_tokens) — one pass, all built-ins."""
    toks = tokens(text)
    return F.struct(
        F.length(text).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        mean_token_len(text).alias("mean_token_len"),
        punct_ratio(text).alias("punct_ratio"),
        bpe_token_count(text).alias("bpe_tokens"),
    )


def fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token multiset of the normalized text (catches shuffled / re-wrapped
    duplicates that exact hashing misses)."""
    norm = F.regexp_replace(F.lower(text), r"[^\w\s]", "")
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(norm))), " "))


def nfc_normalize_udf():
    """Arrow-batched Unicode NFC normalization + lowercase + control
    strip + whitespace collapse — the canonical pre-dedup text
    cleanup. NFC has no Spark built-in (this is the one genuinely
    Python-requiring step in the text-hygiene family, per the UDF
    policy: built-ins first, Pandas UDF only where the JVM can't
    express it); everything around it stays vectorized in one batch
    pass. DuckDB's nfc_normalize implements the same Unicode standard,
    so the registry query is exactly oracle-checkable.
    """
    import re as _re

    from pyspark.sql.functions import pandas_udf

    ctrl = _re.compile(r"[\x00-\x1f\x7f]")
    wsp = _re.compile(r"\s+")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        def f(x):
            if x is None:
                return None
            x = unicodedata.normalize("NFC", x).lower()
            x = ctrl.sub(" ", x)
            return wsp.sub(" ", x).strip()

        return s.map(f)

    return _norm
