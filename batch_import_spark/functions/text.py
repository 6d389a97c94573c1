"""Text-analysis functions for large-scale training-data pipelines.

All hot-path functions are pure column expressions (JVM-side,
whole-stage codegen) — no Python in the loop. These exceed the
reference's capability surface on purpose (SURVEY.md §2.7): a 100 TB
document pipeline needs them; the reference's only scalar functions
are its type casts (Type.java:5-182).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# minimal per-language stopword profiles for the n-gram/stopword
# language-ID heuristic (public common stopwords)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "para", "que"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (the baseline token counter)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: words + digits + punctuation runs.

    A cheap regex proxy for BPE token counts (useful for budgeting
    training data without a tokenizer dependency).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(c, F.lit(r"[A-Za-z]{1,4}|\d|[^\sA-Za-z\d]"), F.lit(0))
    )


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, n_sw / F.size(toks)).otherwise(F.lit(0.0))


def language_id(col: Column | str) -> Column:
    """Stopword-profile language ID (deterministic heuristic).

    Scores each candidate language by stopword hits over the token
    set; ties break toward the lexicographically greatest language
    code (stable/deterministic). 'und' when nothing matches. Pure
    expressions — at 100 TB this runs entirely in codegen, no Python.
    """
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))

    def _score(sw: list[str]):
        arr = F.array(*[F.lit(w) for w in sw])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = [
        F.struct(_score(sw).alias("score"), F.lit(lang).alias("lang"))
        for lang, sw in sorted(LANG_STOPWORDS.items())
    ]
    # array_max over structs: max score, then min lang on ties via
    # negated comparison ordering (struct compare is field-ordered)
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def doc_fingerprint(col: Column | str) -> Column:
    """Normalized-content fingerprint: md5 of lowercased,
    whitespace-collapsed text. Stable across formatting variants;
    portable (same value computable in any SQL engine)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


#: Rabin polynomial fingerprint constants — base 257 (> any byte),
#: modulus the largest prime below 10^15 so acc*B + c stays far inside
#: int64 (max ~2.57e17); identical arithmetic in any engine.
ROLL_B = 257
ROLL_P = 999_999_999_999_989


def rolling_fingerprint(col: Column | str, prefix_len: int | None = None) -> Column:
    """Polynomial (Rabin/Karp) rolling-hash fingerprint of the
    normalized text: h = fold(h*B + byte) mod P — the content hash
    that supports incremental extension and content-defined chunking
    (unlike digest fingerprints). Pure integer expression, engine-
    portable; `prefix_len` fingerprints only the first N chars."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    if prefix_len is not None:
        norm = F.substring(norm, 1, prefix_len)
    codes = F.transform(F.split(norm, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.when(F.length(norm) == 0, F.lit(0).cast("long")).otherwise(
        F.aggregate(
            codes,
            F.lit(0).cast("long"),
            lambda acc, x: (acc * ROLL_B + x) % ROLL_P,
        )
    )
