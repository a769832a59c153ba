"""Text-analysis column expressions for the LLM-data-pipeline extension.

All pure Catalyst expressions (no UDFs): tokenization, token/char stats,
quality scoring, n-gram heuristic language ID, and document
fingerprinting. Designed so each has an exact ANSI-SQL twin runnable by
DuckDB (md5, regexp, string splitting are available in both), keeping
every operator on the driver's strong correctness gate.

At 100 TB these are embarrassingly parallel map-side expressions —
no shuffle, full whole-stage codegen, pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from finance_reporting_etl_spark.functions.scalars import det_round

# Word-ish tokenizer: runs of letters, runs of digits, or single other
# non-space symbols — a BPE-ish pre-tokenization both Java regex and
# DuckDB's RE2 interpret identically.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def whitespace_tokens(text: Column | str) -> Column:
    """Split on whitespace runs after trim -> array<string>.

    Empty/whitespace-only text yields [] — Java split semantics would
    return [''], making token_count 1 for an empty doc, defeating
    every size()-based NULLIF guard downstream, and scoring empty
    docs as maximally type-token diverse (r5 review). The oracle
    twin (_TOKS in oracles.py) carries the matching list_filter."""
    return F.filter(
        F.split(F.trim(_c(text)), "\\s+"), lambda t: t != ""
    )


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(whitespace_tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Count of TOKEN_PATTERN matches — a tokenizer-free LLM token proxy.

    regexp_count walks the same non-overlapping matches
    regexp_extract_all would, without materializing the match array
    just to size it (the array alloc dominated this expression's cost
    at bench scale)."""
    return F.regexp_count(_c(text), F.lit(TOKEN_PATTERN))


def char_count(text: Column | str) -> Column:
    return F.length(_c(text))


def avg_token_length(text: Column | str, scale: int = 4) -> Column:
    """Mean whitespace-token length; NULL-safe on empty text."""
    toks = whitespace_tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return det_round(total / F.nullif(F.size(toks), F.lit(0)), scale)


def _punct_ratio_raw(text: Column | str) -> Column:
    """Unrounded punct ratio: a single IEEE division of exact integer
    lengths — already bit-identical across engines, so composite
    scores consume THIS form (one det_round at the end, not one per
    term: det_round references its input several times, and nesting
    it around regexp-heavy terms multiplies the regexp evaluations —
    the r9 corpus_training_pipeline 3x bench regression)."""
    t = _c(text)
    # count of non-alnum-space chars == matches of the complement
    # class: a counting regex walk, no replacement string allocated
    # (length(regexp_replace(t, klass, '')) built a full copy of the
    # doc per evaluation)
    punct = F.regexp_count(t, F.lit("[^A-Za-z0-9\\s]"))
    return punct / F.nullif(F.length(t), F.lit(0))


def _digit_ratio_raw(text: Column | str) -> Column:
    t = _c(text)
    digits = F.regexp_count(t, F.lit("[0-9]"))
    return digits / F.nullif(F.length(t), F.lit(0))


def punct_ratio(text: Column | str, scale: int = 4) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    return det_round(_punct_ratio_raw(text), scale)


def digit_ratio(text: Column | str, scale: int = 4) -> Column:
    return det_round(_digit_ratio_raw(text), scale)


def quality_score(text: Column | str, scale: int = 4) -> Column:
    """Heuristic document quality in [0,1]: rewards moderate length,
    penalizes punctuation/digit noise. Deterministic, SQL-expressible.
    Inner ratios stay UNROUNDED (single exact-integer divisions are
    bit-identical across engines); det_round applies exactly once at
    the end — nesting it per term multiplied the regexp evaluations
    ~3x at bench scale."""
    t = _c(text)
    length_term = F.least(F.length(t) / F.lit(500.0), F.lit(1.0))
    noise_term = _punct_ratio_raw(t) + _digit_ratio_raw(t)
    return det_round(
        F.greatest(F.lit(0.0), length_term * (F.lit(1.0) - F.least(noise_term, F.lit(1.0)))),
        scale,
    )


# --- language ID -----------------------------------------------------------

# Tiny per-language marker lexicons (public-knowledge function words).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("的", "是", "了", "在", "我"),
}


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t))))


def language_guess(text: Column | str) -> Column:
    """Marker-word-count language ID over LANG_MARKERS; ties broken by
    language code order, 'und' when nothing matches. Expressible as the
    same CASE/greatest cascade in ANSI SQL."""
    toks = whitespace_tokens(text)
    hits = {lang: _marker_hits(toks, ms) for lang, ms in sorted(LANG_MARKERS.items())}
    best = F.greatest(*hits.values())
    expr = F.when(best == 0, "und")
    for lang in sorted(hits):  # first max wins -> deterministic ties
        expr = expr.when(hits[lang] == best, lang)
    return expr


def type_token_ratio(text: Column | str, scale: int = 4) -> Column:
    """Distinct-token / total-token ratio (lowercased). Low values flag
    repetitive machine-generated text (Gopher-style repetition filter)."""
    toks = whitespace_tokens(F.lower(_c(text)))
    return det_round(
        F.size(F.array_distinct(toks)) / F.nullif(F.size(toks).cast("double"), F.lit(0.0)),
        scale,
    )


def ngrams_from_tokens(toks: Column | str, n: int) -> Column:
    """Token n-grams from an ALREADY-MATERIALIZED tokens column
    (space-joined array<string>); empty array below n tokens
    (F.sequence descends when start > stop, so the short case must be
    guarded). Pass a projected column, not an inline split expression:
    Catalyst does not CSE outer expressions referenced inside
    higher-order lambdas, so an inline tokenizer re-splits the text once
    per gram — measured 7.5x slower at sf0.1."""
    toks = _c(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


# --- PII redaction ---------------------------------------------------------

# Patterns restricted to syntax Java regex and RE2 (DuckDB) interpret
# identically: no backreferences, no lookaround. Order matters — emails
# are redacted before IPs/phones so digit runs inside an address never
# half-match a later pattern.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+?[0-9][0-9()\\- ]{7,}[0-9]", "<PHONE>"),
)


def pii_count(text: Column | str, kind: str) -> Column:
    """Number of matches of one PII pattern kind in the raw text."""
    pattern = {k: p for k, p, _ in PII_PATTERNS}[kind]
    return F.regexp_count(_c(text), F.lit(pattern))


def redact_pii(text: Column | str) -> Column:
    """Replace every PII match with its typed placeholder, applying the
    patterns in PII_PATTERNS order. Pure map-side regexp_replace chain —
    no shuffle, full codegen, identical semantics to DuckDB's
    regexp_replace(..., 'g')."""
    out = _c(text)
    for _, pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


def fingerprint(text: Column | str) -> Column:
    """Normalized-content fingerprint: md5 of lowercased, whitespace-
    collapsed text. md5 is identical in Spark and DuckDB -> exact oracle."""
    norm = F.trim(F.regexp_replace(F.lower(_c(text)), "\\s+", " "))
    return F.md5(norm)


# Rolling-hash parameters: classic polynomial hash, modulus 2^31-1 keeps
# every intermediate (< 2^38) inside signed-64 range in any engine.
ROLLING_BASE = 131
ROLLING_MOD = 2_147_483_647


def rolling_hash(text: Column | str) -> Column:
    """Polynomial rolling hash over the characters of normalized text:
    ``h = (h * B + code(ch)) mod P``. Pure integer arithmetic -> exact
    cross-engine parity (DuckDB twin uses list_reduce with the same
    constants). Character codes via ascii() (first byte/codepoint)."""
    norm = F.trim(F.regexp_replace(F.lower(_c(text)), "\\s+", " "))
    chars = F.split(norm, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * ROLLING_BASE + F.ascii(ch)) % ROLLING_MOD,
    )
