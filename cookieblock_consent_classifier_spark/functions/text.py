"""Text-analysis feature builders for large-scale training-data
pipelines: token counting, quality scoring, language-ID heuristic,
document fingerprinting. All native Catalyst expressions (codegen'd,
no Python) so they run at scan speed over 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

WS_SPLIT = r"\s+"

# tiny language marker sets for the n-gram/stopword heuristic; the real
# pipeline would broadcast a larger table — the operator shape is what
# matters (per-language hit counts → argmax).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "y", "las"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "on", "for"]


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    c = F.trim(_c(col))
    return F.when(c == "", F.array().cast("array<string>")).otherwise(
        F.split(c, WS_SPLIT)
    )


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col)).cast("long")


# BPE-style pre-tokenizer (GPT-2 family shape: optional leading space
# + letter run | digit run | punctuation run | whitespace run),
# restricted to constructs BOTH Java regex and RE2/DuckDB support —
# the original's negative lookahead `\s+(?!\S)` is dropped (RE2 has no
# lookahead), so an inter-token whitespace run counts as one token of
# its own instead of donating its last space to the next token. Token
# COUNTS are deterministic and engine-portable; this is a corpus-cost
# estimator ("BPE-ish"), not a specific tokenizer's exact count.
BPE_PRETOKEN_PAT = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(col: str | Column) -> Column:
    """Approximate LLM-token count per document: number of BPE-style
    pre-token matches (each pre-token maps to >=1 BPE tokens, so this
    lower-bounds true BPE counts with a stable ratio on natural text).
    Native regexp_count — scan-speed at any scale."""
    return F.regexp_count(_c(col), F.lit(BPE_PRETOKEN_PAT)).cast("long")


def punct_ratio(col: str | Column) -> Column:
    """Punctuation chars / total chars."""
    c = _c(col)
    n = F.length(c)
    punct = n - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    return F.when(n > 0, punct.cast("double") / n.cast("double"))


LANG_ORDER: list[str] = sorted(LANG_MARKERS)


def lang_id_from_counts(counts: str | Column) -> Column:
    """argmax language from an array<int> of per-language marker hit
    counts (LANG_ORDER positions); 'und' when all zero.
    array_position returns the FIRST maximum → ties break by language
    code order (LANG_ORDER is sorted)."""
    c = _c(counts)
    mx = F.array_max(c)
    pick = F.element_at(F.lit(LANG_ORDER), F.array_position(c, mx).cast("int"))
    return F.when(mx > 0, pick).otherwise(F.lit("und"))


def _word_ngrams(toks: Column, n: int) -> Column:
    """Sliding word n-grams via zip_with+slice (an element_at loop
    inside a HOF re-evaluates its input per element — interpreted, no
    CSE)."""
    out = F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))
    for k in range(1, n):
        nxt = F.slice(toks, k + 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))
        out = F.zip_with(out, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def dup_ngram_fraction_from_tokens(toks: str | Column, n: int = 2) -> Column:
    """Repetition quality filter (the MassiveText/Gopher family:
    'fraction of duplicate n-grams') over a PRE-PROJECTED token-array
    column: 1 − distinct/total over word n-grams; NULL when the doc
    has fewer than n tokens. High values flag boilerplate/spam for
    pretraining-corpus filtering. All-native array ops — scan-speed at
    any scale. Project tokens() into its own column first when
    computing several fractions: the slice/zip_with operands reference
    the array column cheaply, whereas inlining tokens(col) re-runs the
    trim+split per operand (interpreted HOFs, no CSE)."""
    grams = _word_ngrams(_c(toks), n)
    total = F.size(grams)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total.cast("double"),
    )


def dup_line_fraction(col: str | Column) -> Column:
    """Fraction of duplicate lines (same filter family): 1 −
    distinct/total over '\\n'-split lines. An empty doc yields 0.0
    (split('') is one empty line), never NULL — total is always ≥ 1."""
    lines = F.split(_c(col), "\n")
    total = F.size(lines)
    return F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / total.cast("double")


def normalize_text(col: str | Column) -> Column:
    """Canonical text normalization for fingerprinting: lowercase,
    strip non-alphanumerics to spaces, collapse whitespace."""
    c = F.lower(_c(col))
    c = F.regexp_replace(c, r"[^a-z0-9]+", " ")
    return F.trim(c)


def fingerprint(col: str | Column) -> Column:
    """Normalized-content fingerprint (md5 hex) — exact-dup key that is
    robust to case/punct/whitespace noise."""
    return F.md5(normalize_text(col))


def hex_to_long(hex15: Column) -> Column:
    """Parse ≤15 hex chars into a non-negative int64 (conv keeps it in
    range). Shared by minhash / phash derivations; DuckDB oracle twin:
    CAST('0x'||h AS BIGINT)."""
    return F.conv(hex15, 16, 10).cast("long")


# -- PII detection / redaction ----------------------------------------
# Standard pre-training scrub pass (emails, IPv4 addresses, SSN-shaped
# ids). Patterns restricted to syntax with IDENTICAL semantics in Java
# regex (Spark, JVM-side regexp_count/regexp_replace) and RE2 (the
# DuckDB oracle): ASCII character classes, bounded quantifiers, \b —
# no backrefs, no lookaround.

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_ID = r"\b\d{3}-\d{2}-\d{4}\b"

# applied in order; earlier replacements cannot create later matches
# (the tokens carry no digits or '@')
PII_RULES: list[tuple[str, str, str]] = [
    ("email", PII_EMAIL, "<EMAIL>"),
    ("ipv4", PII_IPV4, "<IP>"),
    ("id", PII_ID, "<ID>"),
]

# deterministic PII injection for tests/oracles: the synthetic corpus
# carries no natural PII, so queries append one of these (keyed on an
# md5 nibble of doc_id) IDENTICALLY in both engines before scrubbing —
# every rule fires both ways on real rows (cf. the events value
# branches in sources/readers.py).
PII_SAMPLES: dict[str, str] = {
    "8": " contact bob.smith+test@mail.example.org now",
    "9": " node at 192.168.001.042 responded",
    "a": " ref 123-45-6789 filed",
    "b": " cc alice@example.com and 10.0.0.7",
}


def pii_count(col: str | Column, pattern: str) -> Column:
    """Occurrences of one PII pattern (JVM regexp_count — scan-speed,
    no Python)."""
    return F.regexp_count(_c(col), F.lit(pattern))
