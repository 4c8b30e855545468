"""Text-analysis expressions for LLM-data-pipeline operators
(engine-added per BASELINE.json north star; the reference's only text
processing is regex statement parsing, pdf_to_xlsx.py:39-52).

All pure column expressions — tokenization, shingling, language-ID
heuristic, quality scoring, fingerprinting — so they run JVM-side
inside whole-stage codegen at 100 TB (no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword sets for the n-gram/stopword-voting
# language-ID heuristic. Deliberately small: the heuristic (not a
# model) is the operator under test.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "zu"),
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(_c(col)), r"\s+")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


# GPT-2-style pre-tokenizer shape: contractions, space-prefixed letter
# runs, digit runs, punctuation runs, residual whitespace. Plain
# alternation — identical semantics under Java regex and RE2, so the
# DuckDB oracle can run the same pattern.
BPE_ISH_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def bpe_tokens(col: Column | str) -> Column:
    """BPE-ish subword pre-tokenization (regex, no merges) — the
    token-budget estimator for LLM pipelines; counts ~what a GPT-style
    tokenizer's pre-split produces."""
    return F.regexp_extract_all(_c(col), F.lit(BPE_ISH_PATTERN), F.lit(0))


def bpe_token_count(col: Column | str) -> Column:
    # exclude pure-whitespace matches from the count
    return F.size(F.filter(bpe_tokens(col), lambda t: t.rlike(r"\S")))


def shingles_of_tokens(tokens_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token-array
    column; fewer than n tokens → empty. Index-generated (not
    zip-of-shifted-arrays) so there are no NULL-padded tail shingles.

    Callers must bind the token array to a real column first
    (``.select(tokens(text).alias("w"))``): passing the ``tokens(...)``
    EXPRESSION here would re-run the split once per ``element_at`` —
    ~3·(len-2) tokenizations per row instead of one (measured 7s → <1s
    on the sf0.1 corpus explode).
    """
    w = _c(tokens_col)
    idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(w, i + j) for j in range(n)]
    )
    return F.when(F.size(w) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Stopword-hit count per language."""
    t = tokens(col)
    return {
        lang: F.size(F.filter(t, lambda x: F.lower(x).isin(*words)))
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_id(col: Column | str) -> Column:
    """Argmax language with fixed tie order en > es > de; all-zero →
    'und'. The same CASE ordering must be used by any oracle."""
    s = lang_scores(col)
    return (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] > 0), F.lit("en"))
        .when((s["es"] >= s["de"]) & (s["es"] > 0), F.lit("es"))
        .when(s["de"] > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: length band + mean token
    length band + stopword presence. Deterministic double arithmetic.
    """
    c = F.trim(_c(col))
    n_chars = F.length(c).cast("double")
    n_toks = token_count(c).cast("double")
    mean_tok_len = F.try_divide(n_chars - (n_toks - 1), n_toks)
    stop_hits = lang_scores(c)["en"].cast("double")
    len_band = F.when((n_chars >= 100) & (n_chars <= 2000), F.lit(0.4)).otherwise(F.lit(0.1))
    tok_band = F.when((mean_tok_len >= 3) & (mean_tok_len <= 10), F.lit(0.3)).otherwise(
        F.lit(0.1)
    )
    stop_band = F.when(F.try_divide(stop_hits, n_toks) >= 0.05, F.lit(0.3)).otherwise(
        F.lit(0.0)
    )
    return len_band + tok_band + stop_band


# PII patterns, applied in THIS order (emails first — a dotted phone or
# version-like digit run inside an address must not be counted twice).
# Plain alternation-free patterns with identical semantics under Java
# regex (Spark) and RE2 (DuckDB), so oracles can run the same strings.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\d{3}[-.]\d{3}[-.]\d{4}"
PII_IPV4 = r"(\d{1,3}\.){3}\d{1,3}"
PII_ORDER: tuple[tuple[str, str, str], ...] = (
    ("email", PII_EMAIL, "<EMAIL>"),
    ("phone", PII_PHONE, "<PHONE>"),
    ("ipv4", PII_IPV4, "<IP>"),
)


def redact_pii(col: Column | str) -> Column:
    """Replace emails, then phones, then IPv4s with typed placeholder
    tokens — the scrubbing pass a training corpus gets before anything
    is retained. Pure nested regexp_replace, codegen-able; staged order
    makes the result deterministic when patterns overlap (a dotted
    phone is also a prefix-match for the IPv4 pattern)."""
    out = _c(col)
    for _, pat, token in PII_ORDER:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts under the same staged semantics as
    :func:`redact_pii`: each kind is counted on the text with all
    PRIOR kinds already redacted, so overlapping matches are attributed
    to exactly one kind. Mirror in SQL with nested
    regexp_replace(..., 'g') + len(regexp_extract_all(...))."""
    staged = _c(col)
    counts: dict[str, Column] = {}
    for name, pat, token in PII_ORDER:
        counts[name] = F.size(F.regexp_extract_all(staged, F.lit(pat), F.lit(0)))
        staged = F.regexp_replace(staged, pat, token)
    return counts


def doc_fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 over the whitespace-normalized,
    lowercased text (exact-dup key that survives formatting noise)."""
    normalized = F.concat_ws(" ", tokens(F.lower(_c(col))))
    return F.md5(normalized)


def rolling_hash(col: Column | str, base: int = 31, mod: int = (1 << 31) - 1) -> Column:
    """Polynomial rolling hash over tokens (order-sensitive — unlike
    the md5 fingerprint, transpositions change it). Sequential integer
    fold; pmod keeps the accumulator in [0, mod) so ANSI-mode longs
    never overflow.

    The per-token hash is the first 32 bits of md5 — a PORTABLE basis
    (md5 exists in every engine, xxhash64 does not), which is what lets
    text_rolling_fingerprint carry a full DuckDB oracle: the fold
    ``((0·b+h1)·b+h2…) mod m`` equals the closed form
    ``Σ h_i·b^(n−i) mod m``, which SQL can compute with a power table.
    """
    t = tokens(_c(col))
    h = F.transform(
        t, lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long")
    )
    return F.aggregate(
        h,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * base + x, F.lit(mod)),
    )
