"""Text-analysis column builders for a documents table: token counting,
whitespace normalization, language-ID heuristic, quality scoring,
fingerprinting. All pure Column expressions (JVM-side, codegen'd) —
each has an exact ANSI-SQL twin in the oracle suite, so semantics are
pinned by the DuckDB cross-check rather than by eyeballing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword markers for the n-gram heuristic; the
# padded-space trick (count of ' w ' occurrences) is what both engines
# can compute with plain string functions.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
}


def norm_ws(text: Column) -> Column:
    """' '.join(s.split()) — reference spiders.py:877-878 (X3)."""
    return F.regexp_replace(F.trim(text), r"\s+", " ")


def token_count(text: Column) -> Column:
    """Whitespace tokenization count (\\S+ matches)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"\S+"), F.lit(0)))


def _occurrences(padded: Column, word: str) -> Column:
    """Occurrences of ' word ' in the space-padded, lowercased text.
    (length delta) / len(needle) — pure string math, engine-portable."""
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def padded_lower(text: Column) -> Column:
    """Space-padded, lowercased, whitespace-normalized text — the shared
    front end of the marker-count heuristics. MATERIALIZE this to a real
    column (``withColumn``) before feeding the ``*_from`` builders when
    the input is raw text: Catalyst inlines a repeated non-attribute
    subtree into every reference, so the \\s+ regex would otherwise run
    once per marker word per row (measured ~3x the whole-query cost on
    the bench documents)."""
    return F.concat(F.lit(" "), F.lower(norm_ws(text)), F.lit(" "))


def lang_scores_from(padded: Column) -> dict[str, Column]:
    """Marker-hit counts per language over an already-padded column."""
    return {
        lang: sum((_occurrences(padded, w) for w in words), F.lit(0))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id_from(padded: Column) -> Column:
    """argmax over marker-hit counts; ties broken by fixed language order;
    all-zero => 'und' (undetermined). ``padded`` should be a materialized
    padded_lower column (see its docstring)."""
    scores = lang_scores_from(padded)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[scores[lg] for lg in langs])
    expr = F.lit("und")
    for lg in reversed(langs):  # earlier langs win ties => apply last
        expr = F.when(scores[lg] == best, F.lit(lg)).otherwise(expr)
    return F.when(best <= 0, F.lit("und")).otherwise(expr)


def lang_id(text: Column) -> Column:
    return lang_id_from(padded_lower(text))


def quality_score_from(t: Column, padded: Column) -> Column:
    """Deterministic [0,1] quality heuristic: mean-word-length band,
    stopword presence, length band, alpha ratio. Rounded to 6 dp so the
    DuckDB twin hashes identically. ``t`` is the norm_ws'd text and
    ``padded`` its padded_lower form — pass materialized columns."""
    n_tok = token_count(t)
    n_chars = F.length(t)
    mean_wl = n_chars / F.greatest(n_tok, F.lit(1))
    alpha_ratio = (
        F.length(F.regexp_replace(t, r"[^a-zA-Z]", "")) / F.greatest(n_chars, F.lit(1))
    )
    en = lang_scores_from(padded)["en"]
    stop_ratio = en / F.greatest(n_tok, F.lit(1))
    score = (
        F.when((mean_wl >= 3) & (mean_wl <= 10), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.2)).otherwise(F.lit(0.0))
        + F.least(stop_ratio * 2, F.lit(0.2))
        + alpha_ratio * F.lit(0.3)
    )
    return F.round(score, 6)


def quality_score(text: Column) -> Column:
    t = norm_ws(text)
    return quality_score_from(t, padded_lower(t))


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the lowercased, whitespace-collapsed
    text — the normalization-stable exact-dup key."""
    return F.md5(F.lower(norm_ws(text)))
