"""Text-analysis column expressions for training-data pipelines.

All pure Column expressions (JVM-side, whole-stage codegen) — no Python
UDFs. Designed for a ``documents(doc_id, text, lang, source, n_chars)``
table but usable on any string column.

At 100 TB these run as map-only projections over the parquet scan: no
shuffle, no Python worker traffic, and the parquet reader only
materializes the referenced columns.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword language
# heuristic. Deterministic and implementable identically in ANSI SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "los", "que", "y", "las"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def md5_uint32(col: Column) -> Column:
    """First 8 hex digits of md5 as an exact integer in [0, 2^32) —
    THE deterministic engine-portable hash-to-integer idiom behind the
    hash-split / weighted-sample / DSIR-bucket family (DuckDB twin:
    ``CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)``). One definition
    so the portability contract lives in one place."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def with_tokens(text: Column, body: Callable[[Column], Column]) -> Column:
    """``body(tokens(text))`` with the token array computed once per row.

    Catalyst inlines an outer Column referenced inside a higher-order
    function's lambda, so ``transform(xs, i -> slice(tokens(text), ...))``
    re-runs the tokenizer over the whole document once per ELEMENT —
    quadratic in document length. Binding the array as a lambda
    variable (``element_at(transform(array(toks), t -> body(t)), 1)``)
    evaluates it exactly once; ``body`` receives the bound array and
    must reference it instead of re-deriving ``tokens(text)``.
    """
    return F.element_at(F.transform(F.array(tokens(text)), body), 1)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_like_token_count(text: Column) -> Column:
    """Count of BPE-ish pretokens: word pieces OR single non-space
    punctuation, the usual pre-tokenizer regex shape."""
    return F.regexp_count(text, F.lit(r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"))


def distinct_token_ratio(text: Column) -> Column:
    t = tokens(text)
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(t)) / F.size(t)
    )


def stopword_ratio(text: Column) -> Column:
    t = tokens(text)
    hits = _membership_count(t, STOPWORDS)
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(hits / F.size(t))


def mean_token_length(text: Column) -> Column:
    t = tokens(text)
    total = F.aggregate(t, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(total / F.size(t))


def punctuation_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()-]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band, lexical diversity,
    stopword presence. A cheap filter stage before expensive dedup."""
    t = tokens(text)
    n = F.size(t)
    length_score = F.when(n.between(10, 5000), F.lit(1.0)).otherwise(
        F.when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    diversity = distinct_token_ratio(text)
    stop = stopword_ratio(text)
    stop_score = F.when((stop > 0.01) & (stop < 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((length_score + diversity + stop_score) / F.lit(3.0), 4)


def _membership_count(arr: Column, words: list[str]) -> Column:
    def pred(w: Column) -> Column:
        return w.isin(*words)

    return F.size(F.filter(arr, pred))


def language_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-token hit counts."""
    t = tokens(text)
    return {lang: _membership_count(t, words) for lang, words in LANG_MARKERS.items()}


def predicted_language(text: Column) -> Column:
    """argmax over language marker scores, ties broken by language code
    ascending, all-zero → 'und'. Deterministic.

    Implementation: array_max over struct(score, prio, lang) where prio
    descends along ascending language codes, so on a score tie the max
    struct carries the lexicographically *smallest* code.
    """
    scores = language_scores(text)
    langs = sorted(scores)
    entries = [
        F.struct(
            scores[lang].alias("score"),
            F.lit(len(langs) - 1 - i).alias("prio"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized, lowercased
    text. Content-addressable identity for exact dedup."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


# Unicode-script census — the multilingual-curation signal language_id
# does NOT give you: language_id scores stopword membership (needs the
# text to be in a known language), while the script census works on ANY
# text and catches mixed-script spam, mojibake, and wrong-language
# routing before tokenization. Java regex spells script classes
# \p{IsXxx}; RE2 (DuckDB) spells them \p{Xxx} — both count the same
# code points (pinned by the oracle entry).
_SCRIPTS = [
    ("latin", r"[^\p{IsLatin}]"),
    ("cyrillic", r"[^\p{IsCyrillic}]"),
    ("han", r"[^\p{IsHan}]"),
    ("arabic", r"[^\p{IsArabic}]"),
]


def script_counts(text: Column) -> dict[str, Column]:
    """Per-script character counts (code points, not bytes) as JVM
    regexp_replace+length projections — one pass per script class over
    the string, zero exchanges, no Python."""
    out = {
        name: F.length(F.regexp_replace(text, pat, ""))
        for name, pat in _SCRIPTS
    }
    out["digit"] = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    return out


def main_script(counts: dict[str, Column]) -> Column:
    """Dominant script with a FIXED precedence tie-break
    (latin > cyrillic > han > arabic — deterministic, engine-portable;
    an array_max over structs would tie-break on the count only) and
    'none' when no script character occurs at all."""
    lat, cyr, han, ara = (
        counts["latin"], counts["cyrillic"], counts["han"], counts["arabic"]
    )
    return (
        F.when(
            (lat >= cyr) & (lat >= han) & (lat >= ara) & (lat > 0),
            F.lit("latin"),
        )
        .when((cyr >= han) & (cyr >= ara) & (cyr > 0), F.lit("cyrillic"))
        .when((han >= ara) & (han > 0), F.lit("han"))
        .when(ara > 0, F.lit("arabic"))
        .otherwise(F.lit("none"))
    )
