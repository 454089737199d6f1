"""Text-analysis column functions for training-data pipelines.

First-class large-pipeline operators (not in the reference): language-ID
heuristic, quality scoring, token counting, rolling-hash fingerprinting.
All built from JVM-side pyspark.sql.functions so they stay inside
whole-stage codegen - no Python in the row path (BASELINE.json
input_hint). Every function returns a Column usable in select/filter.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "y"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is",
                "it", "that", "for", "on", "with", "as"]


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)) \
            .otherwise(F.size(F.split(t, r"\s+")))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation."""
    n = F.length(text)
    p = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    return F.when(n > 0, p.cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords=None) -> Column:
    """Fraction of whitespace tokens that are (lowercase) stopwords."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    n = F.size(words)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    words = F.split(F.trim(text), r"\s+")
    total = F.aggregate(words, F.lit(0),
                        lambda acc, w: acc + F.length(w))
    n = F.size(words)
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    sane mean word length. Deterministic, fully JVM-side."""
    n = F.length(text)
    len_ok = F.when((n >= 50) & (n <= 20000), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio(text) < 0.2, 1.0).otherwise(0.4)
    mwl = mean_word_length(text)
    mwl_ok = F.when((mwl >= 2.5) & (mwl <= 12.0), 1.0).otherwise(0.5)
    return (len_ok * 0.4 + punct_ok * 0.3 + mwl_ok * 0.3)


def lang_id(text: Column) -> Column:
    """Stopword-marker language guess over {en, de, fr, es}, 'und' when no
    marker hits. Cheap n-gram-style heuristic, JVM-side only."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        marr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(words, lambda w: F.array_contains(marr, w)))
        scores.append(F.struct(score.alias("s"), F.lit(lang).alias("l")))
    best = F.array_max(F.array(*scores))
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))


def fingerprint64(text: Column) -> Column:
    """64-bit document fingerprint: xxhash64 of the normalized text
    (collapsed whitespace, lowercase)."""
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.xxhash64(norm)


def rolling_fingerprints(text: Column, window: int = 8) -> Column:
    """Array of DISTINCT 64-bit fingerprints over sliding lowercased
    word windows - the winnowing-style shingle fingerprint set (for
    containment detection). Docs shorter than `window` yield one
    partial-window fingerprint; empty/whitespace-only text yields an
    empty array (no fingerprints - empty docs cannot "contain").

    Implementation is the minhash shingle kernel
    (operators/dedup.shingle_hashes_col: per-token JVM xxhash64 once,
    then the vectorized numpy polynomial k-gram fold) with k=window.
    The former pure-expression form (per-window slice+concat+xxhash64
    inside F.transform) re-evaluated the split per array element
    (interpreted lambda body, no codegen) - measured 10x slower on
    sf0.1 docs. Fingerprints are injective on window token sequences
    up to 64-bit collisions - the same verify argument minhash uses -
    so set intersections/containments equal those over window strings.
    """
    from geeflow_spark.operators.dedup import shingle_hashes_col
    return shingle_hashes_col(F.lower(text), k=window)
