"""Text-analysis functions for training-data pipelines.

All JVM-side Column expressions (no Python UDFs): tokenization, n-gram
shingling, quality scoring, fingerprinting, and the stopword lists that
``operators.text_analysis.lang_id_report`` scores languages with. These power the
dedup / quality operators in ``operators.dedup`` and the ``documents``
queries. The reference has no text analytics (SURVEY §2.10 ABSENT) — this
is north-star surface, so Spark built-in semantics are authoritative.

Scale notes: every function here is a narrow map expression — fused into
the scan by whole-stage codegen, shuffle-free. ``word_ngrams`` produces
``O(tokens)`` shingles per doc; downstream explode/join operators own the
shuffle strategy.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokenize",
    "token_count",
    "bpe_ish_token_count",
    "word_ngrams",
    "hashed_ngrams_from_token_hashes",
    "portable_hash64",
    "quality_metrics",
    "fingerprint64",
]

#: Tiny per-language stopword lists for the language-ID heuristic
#: (``operators.text_analysis.lang_id_report``).
#: Deliberately small + deterministic; real pipelines would swap in a model.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "es"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "est"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}


def tokenize(text: Column) -> Column:
    """Whitespace tokenization -> array<string>. Empty/blank -> empty array."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def _nullsafe_size(arr: Column) -> Column:
    """``size`` that propagates NULL for NULL arrays instead of Spark's
    legacy -1 (ANSI off) — counting a missing document must yield NULL
    (skipped by sum/avg), matching ANSI/DuckDB semantics, not -1 silently
    corrupting aggregates."""
    return F.when(arr.isNull(), F.lit(None).cast("bigint")).otherwise(
        F.size(arr).cast("bigint")
    )


def token_count(text: Column) -> Column:
    """Whitespace token count (bigint); NULL text -> NULL."""
    return _nullsafe_size(tokenize(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count of word-pieces matched by a GPT-2-style
    pre-tokenizer regex (runs of letters, digits, or single non-space
    symbols). Approximates subword token counts without a vocab.
    NULL text -> NULL."""
    return _nullsafe_size(
        F.regexp_extract_all(text, F.lit(r"([A-Za-zÀ-ỹ]+|[0-9]+|[^\sA-Za-zÀ-ỹ0-9])"), 1)
    )


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles -> array<string> (space-joined, distinct not
    applied). Docs shorter than ``n`` tokens -> empty array."""
    toks = tokenize(text)
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def hashed_ngrams_from_token_hashes(th: Column, n: int) -> Column:
    """Rolling n-wise xxhash64 combine over a token-hash array ->
    array<bigint> of hashed n-gram ids (duplicates kept; < n tokens ->
    empty array).

    THE single definition of the hashed-n-gram feature used by both the
    per-row spec Columns (the SimHash spec in
    ``tests/test_dedup_similarity.py``) and the scale-out DataFrame paths
    (``dedup._hashed_shingles``) — the bit-equality contracts between
    spec and fast formulations hang on this combine never forking. Callers materialize ``th`` as a projected column
    first when the expression feeds further per-element access (avoids
    re-evaluating the token-hash transform per subscript).
    """
    return F.when(F.size(th) < n, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(th) - n),
            lambda i: F.xxhash64(*[F.element_at(th, i + k + 1) for k in range(n)]),
        )
    )


def portable_hash64(s: Column) -> Column:
    """Portable 60-bit hash of a string: the first 15 hex chars of md5,
    as bigint. Bit-identical in DuckDB as
    ``('0x' || substr(md5(s), 1, 15))::BIGINT`` (the same construction
    ``sampling.bucket_of`` uses pre-modulo), so operators built on it —
    portable-mode SimHash — can be full-oracle-verified. md5 is ~4x
    slower than xxhash64 but still JVM-side codegen; use only where the
    cross-engine contract is worth it."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def quality_metrics(text: Column) -> dict[str, Column]:
    """Heuristic quality features (all double/bigint, deterministic):

    - ``n_chars``, ``n_tokens``
    - ``avg_token_len`` — mean token length (0.0 for empty docs)
    - ``punct_ratio`` — punctuation chars / chars
    - ``alpha_ratio`` — alphabetic chars / chars
    - ``stopword_ratio`` — English-stopword tokens / tokens
    - ``uniq_token_ratio`` — distinct tokens / tokens (repetition signal)
    """
    toks = tokenize(text)
    n_chars = F.length(text).cast("bigint")
    n_tokens = _nullsafe_size(toks)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", ""))
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-zÀ-ỹ]", ""))
    stop_arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    stop_hits = _nullsafe_size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.round(
            F.aggregate(
                toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
            )
            / safe_tokens,
            6,
        ),
        "punct_ratio": F.round(punct / safe_chars, 6),
        "alpha_ratio": F.round(alpha / safe_chars, 6),
        "stopword_ratio": F.round(stop_hits / safe_tokens, 6),
        "uniq_token_ratio": F.round(
            _nullsafe_size(F.array_distinct(toks)) / safe_tokens, 6
        ),
    }


def fingerprint64(text: Column) -> Column:
    """64-bit document fingerprint via xxhash64 over the
    whitespace-normalized text — an exact-dup key robust to spacing.
    NULL text -> NULL (``concat_ws`` would otherwise silently collapse
    NULL to "" and collide with the empty document)."""
    return F.when(text.isNull(), F.lit(None).cast("bigint")).otherwise(
        F.xxhash64(F.concat_ws(" ", tokenize(text)))
    )
