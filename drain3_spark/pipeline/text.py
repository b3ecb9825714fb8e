"""Text analysis for training-data pipelines — all Catalyst-native.

Language-ID (stopword n-gram heuristic), quality scoring, whitespace
token counting, and document fingerprinting.
Every expression is a built-in ``pyspark.sql.functions`` call (JVM-side,
whole-stage codegen) so the hot path has zero Python; the same formulas
are expressible in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# tiny per-language stopword families; a hit count heuristic, not a model
LANG_MARKERS = {
    "en": r"(?i)\b(the|and|of|to|is|that|for|with)\b",
    "de": r"(?i)\b(der|die|das|und|ist|nicht|ein|zu)\b",
    "fr": r"(?i)\b(le|la|les|et|est|une|dans|pour)\b",
    "es": r"(?i)\b(el|los|las|es|una|que|por|como)\b",
}


def token_count_ws(text: Column) -> Column:
    """Whitespace token count (empty string -> 0)."""
    return F.size(F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != ""))


def lang_scores(text: Column) -> dict:
    return {lang: F.regexp_count(text, F.lit(rx)) for lang, rx in LANG_MARKERS.items()}


def lang_id(text: Column) -> Column:
    """argmax language by stopword hits; 'und' (undetermined) when all 0.
    Deterministic tie-break: alphabetical language order."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    out = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best > 0, out).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: length band + alpha ratio + stopword
    presence - punctuation excess.  Pure arithmetic, oracle-parity."""
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    stop = F.regexp_count(text, F.lit(LANG_MARKERS["en"]))
    len_band = F.when((n >= 20) & (n <= 5000), F.lit(0.4)) \
        .when(n > 5000, F.lit(0.2)).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    punct_ratio = F.when(n > 0, punct / n).otherwise(F.lit(0.0))
    score = (len_band
             + F.least(alpha_ratio * F.lit(0.4), F.lit(0.4))
             + F.when(stop > 0, F.lit(0.2)).otherwise(F.lit(0.0))
             - F.least(punct_ratio, F.lit(0.3)))
    return F.round(F.greatest(F.least(score, F.lit(1.0)), F.lit(0.0)), 6)


def normalize_text(text: Column) -> Column:
    """Canonical form for hashing: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint: md5 hex of the normalized text."""
    return F.md5(normalize_text(text))


def fingerprint64(text: Column) -> Column:
    """64-bit integer fingerprint (first 15 hex chars of md5 -> bigint;
    15 chars keep it under 2^60, exactly representable both engines)."""
    return F.conv(F.substring(fingerprint_md5(text), 1, 15), 16, 10).cast("long")


# ------------------------------------------------------------- PII scrub

# (name, pattern, replacement) — ordered; patterns are written in the
# common subset of Java regex (Spark) and RE2 (DuckDB) so the SQL
# oracle replays them verbatim: character classes, bounded repetition,
# alternation — no lookarounds, no backreferences.
PII_RULES = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
    ("id", r"\b\d{5,}\b", "<ID>"),
)


def pii_scrub(text: Column):
    """``(masked, flags)`` — the PII-redaction pass of a training-data
    pipeline, as a fold of Catalyst ``regexp_replace`` calls (the same
    shape as the miner's masking chain, applied corpus-wide): emails,
    IPv4 addresses, and long digit runs (ids/phone-ish) each replaced
    by a typed mask token.  ``flags`` is a struct of per-rule booleans
    (did the ORIGINAL text contain that PII type) so the consumer can
    count exposure without diffing strings.  Rules are ordered — email
    first, so its digits are gone before the id rule looks.

    100-TB shape: pure JVM expressions inside whole-stage codegen; no
    shuffle, no Python; predicate/column pruning untouched."""
    masked = text
    flags = []
    for name, pattern, repl in PII_RULES:
        flags.append(text.rlike(pattern).alias(f"has_{name}"))
        masked = F.regexp_replace(masked, pattern, repl)
    return masked, F.struct(*flags)
