"""Row-wise feature expressions that compile to native Catalyst
expressions (JVM whole-stage codegen, no Python in the hot path).

Each builder returns a pyspark Column (or list of Columns for
multi-slot features). Encoding convention follows the reference:
true→1.0, false→−1.0, and "absent" is NULL (dropped by the sparse
assembler — sparse zero means absent, not false; SURVEY.md §1.2).

Reference parity, per function, cited to
/root/reference/feature_extraction/processor.py.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

def PLUS() -> Column:
    # lazy: Column construction needs an active session; this module is
    # also imported inside pandas-UDF workers where none exists.
    return F.lit(1.0)


def MINUS() -> Column:
    return F.lit(-1.0)


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def pm_flag(col: str | Column) -> Column:
    """Boolean flag → ±1 (feature_http_only/secure/session,
    processor.py:985-1005)."""
    return F.when(_c(col), PLUS()).otherwise(MINUS())


def pm(cond: Column) -> Column:
    """Condition → ±1."""
    return F.when(cond, PLUS()).otherwise(MINUS())


def one_hot(col: str | Column, categories: list[str]) -> list[Column]:
    """K-way one-hot with ±1 encoding; unknown category → all −1
    (feature_same_site, processor.py:1007-1020)."""
    c = _c(col)
    return [F.when(c == cat, PLUS()).otherwise(MINUS()) for cat in categories]


# Expiry bucket boundaries in seconds. NB the reference's predicates
# OVERLAP at exact boundaries — both adjacent buckets fire when expiry
# equals a boundary (processor.py:1036-1050: `<=` upper AND `>=` lower
# on consecutive buckets) — EXCEPT bucket 0, whose upper bound is
# strict (`expiry < 3600`, processor.py:1036). Every bucket inserts an
# explicit ±1 (dense, not sparse-absent). We preserve all of that.
_HOUR = 3600.0
_DAY = 24 * _HOUR
_MONTH = 30 * _DAY
EXPIRY_BUCKETS: list[tuple[float, float]] = [
    (float("-inf"), _HOUR),          # < 1 hour (strict upper)
    (_HOUR, 12 * _HOUR),             # 1-12 hours
    (12 * _HOUR, _DAY),              # 12-24 hours
    (_DAY, 7 * _DAY),                # 1-7 days
    (7 * _DAY, _MONTH),              # 1 week - 1 month
    (_MONTH, 6 * _MONTH),            # 1-6 months
    (6 * _MONTH, 18 * _MONTH),       # 6-18 months
    (18 * _MONTH, float("inf")),     # > 18 months
]


def expiry_buckets(col: str | Column) -> list[Column]:
    """8 overlapping range indicators (feature_expiry_extra,
    processor.py:1029-1050); fired bucket → 1.0, unfired → −1.0."""
    c = _c(col).cast("double")
    out = []
    for lo, hi in EXPIRY_BUCKETS:
        if lo == float("-inf"):
            cond = c < F.lit(hi)  # bucket 0 is strict (processor.py:1036)
        elif hi == float("inf"):
            cond = c >= F.lit(lo)
        else:
            cond = (c >= F.lit(lo)) & (c <= F.lit(hi))
        out.append(pm(cond))
    return out


# --- regex detectors (Java regex; parity with Python `re` verified in
# tests for these specific patterns) ---------------------------------

BOOLEAN_PAT = r"\b(true|false|yes|no|0|1|on|off)\b"          # processor.py:154
TIMESTAMP_PAT = r"16[0-9]{8}([0-9]{3})?"                      # processor.py:169
# the reference compiles "^[0-9a-f]+$" (IGNORECASE) and .match()es it
# (processor.py:174,1317-1326). CPython '$' matches at end OR before
# ONE trailing '\n' — while Java's '$' also accepts \r, \r\n,
# U+0085, U+2028, U+2029, and RE2's accepts end-of-text only. The explicit
# \A...\n?\z form below encodes the CPython semantics exactly and
# means the same thing in Java regex (Spark rlike) and RE2 (the
# DuckDB twin) — the two engines that consume it. (Python's re would
# need \Z instead: \z is a bad escape there; the parity test pins
# against the reference's own compiled ^...$ pattern.) Terminator-
# bearing inputs like "12f\r" no longer flip the feature across
# engines (round-6 review finding).
HEX_PAT = r"\A[0-9a-fA-F]+\n?\z"                              # processor.py:1317-1326
# strict ASCII-decimal guard (NO trailing-\n allowance: str.isnumeric
# is false for "123\n", so the guard must not match it either); see
# hex_content docstring for the isnumeric equivalence proof
NUM_PAT = r"\A[0-9]+\z"

# CPython str.isspace()'s exact accept set: Unicode bidi classes
# WS/B/S plus category Zs — a CLOSED 29-codepoint list, stable across
# Python 3.x (enumerated from the unicodedata the reference runs on).
# Shared by the Catalyst twin (empty_content) and the DuckDB
# twins so both engines test the identical set.
PY_WS_CODEPOINTS: tuple[int, ...] = (
    0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F, 0x20,
    0x85, 0xA0, 0x1680,
    0x2000, 0x2001, 0x2002, 0x2003, 0x2004, 0x2005, 0x2006, 0x2007,
    0x2008, 0x2009, 0x200A, 0x2028, 0x2029, 0x202F, 0x205F, 0x3000,
)
PY_WS = "".join(map(chr, PY_WS_CODEPOINTS))


def boolean_content(col: str | Column) -> Column:
    """feature_boolean_content (processor.py:1386-1395): word-bounded
    true/false/yes/no/0/1/on/off anywhere in the value → ±1. The only
    Catalyst form of this feature; the content_flags query uses it.
    Java \\b is ASCII-only while Python's is unicode-aware, so the
    compiler reads the fused kernel's ``bool_content`` field instead
    (the same BOOLEAN_PAT text, compiled by Python ``re``)."""
    return pm(F.lower(_c(col)).rlike(BOOLEAN_PAT))


def timestamp_content(col: str | Column) -> Column:
    """feature_timestamp_content (processor.py:1398-1409): unix-epoch
    window 16xxxxxxxx(xxx) → ±1."""
    return pm(_c(col).rlike(TIMESTAMP_PAT))


def hex_content(col: str | Column) -> Column:
    """feature_hex_content (processor.py:1317-1326): all-hex AND not
    unicode-numeric → ±1. REFERENCE-EXACT for every input: the
    conjunction only consults isnumeric when HEX_PAT already matched,
    and a HEX_PAT match is ASCII hex chars plus at most one trailing
    '\\n' (the CPython-'$' form — see the constant). Case (a) no
    terminator: all chars ASCII hex, where str.isnumeric() ⇔ all
    digits ⇔ NUM_PAT (no ASCII letter is Unicode-numeric; isnumeric
    needs EVERY char numeric). Case (b) trailing '\\n': isnumeric is
    False (newline is not numeric) and strict NUM_PAT doesn't match
    either (\\z, no \\n allowance) — both sides say "not numeric", so
    the feature fires +1 exactly like the reference. So this form
    equals the kernel's ``pm(dec ~ HEX_PAT and is_numeric == -1)`` on
    every input, and it is the compiler's one hex_content builder on
    both the kernel and the native path. Parity pinned incl.
    terminator cases (tests/test_native_entropy.py)."""
    c = _c(col)
    return pm(c.rlike(HEX_PAT) & ~c.rlike(NUM_PAT))


# --- the reference's date / url / uuid patterns (processor.py:157-173),
# shared by the compiler, the content_flags query and both DuckDB twins

REF_DATE_YMD = r"(19[7-9][0-9]|20[0-3][0-9]|[0-9][0-9])-[01][0-9]-[0-3][0-9]"  # processor.py:157
REF_DATE_DMY = r"[0-3][0-9]-[01][0-9]-(19[7-9][0-9]|20[0-3][0-9]|[0-9][0-9])"  # processor.py:158
REF_DATE_MDY = r"[01][0-9]-[0-3][0-9]-(19[7-9][0-9]|20[0-3][0-9])"             # processor.py:159
REF_DAYS3 = r"(?i)(Mon|Tue|Wed|Thu|Fri|Sat|Sun)"                               # processor.py:162
REF_MONTHS3 = r"(?i)(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"         # processor.py:163
REF_HTTP = r"http(s)?://.*\."                                                  # processor.py:172
REF_WWW = r"www(2-9)?\..*\."  # NB literal "(2-9)?" quirk preserved   # processor.py:173
REF_UUID = (
    r"(?i)[0-9a-f]{8}-[0-9a-f]{4}-([0-9a-f])[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}"
)  # processor.py:170


def date_content(col: str | Column) -> Column:
    """feature_date_content exact (processor.py:1411-1428)."""
    c = _c(col)
    cond = (
        c.rlike(REF_DATE_YMD)
        | c.rlike(REF_DATE_DMY)
        | c.rlike(REF_DATE_MDY)
        | (c.rlike(REF_DAYS3) & c.rlike(REF_MONTHS3))
    )
    return pm(cond)


def url_content(col: str | Column) -> Column:
    """feature_url_content exact incl. the (2-9)? quirk
    (processor.py:1461-1470)."""
    c = _c(col)
    return pm(c.rlike(REF_HTTP) | c.rlike(REF_WWW))


def uuid_version_onehot(col: str | Column) -> list[Column]:
    """feature_canonical_uuid exact (case-insensitive pattern,
    processor.py:170,1430-1458)."""
    c = _c(col)
    ver = F.lower(F.regexp_extract(c, REF_UUID, 1))
    matched = ver != ""
    out = []
    for v in ("1", "2", "3", "4", "5"):
        out.append(F.when(matched & (ver == v), PLUS()).otherwise(MINUS()))
    out.append(F.when(matched & ~ver.isin("1", "2", "3", "4", "5"), PLUS()).otherwise(MINUS()))
    return out


def empty_content(col: str | Column) -> Column:
    """REFERENCE-EXACT feature_empty_content (processor.py:1376-1384):
    Python ``not v or v.isspace()`` ⇔ every char of v lies in
    str.isspace()'s closed 29-codepoint accept set (PY_WS) — the empty
    string passes vacuously in both forms. One translate() removing
    exactly that set, so the plan stays whole-stage codegen.
    Kernel-parity pinned on the real fixtures + a whitespace-biased
    fuzz corpus (tests/test_native_entropy.py)."""
    return pm(F.translate(_c(col), PY_WS, "") == F.lit(""))


def non_root_path(col: str | Column) -> Column:
    """feature_non_root_path (processor.py:757-763): trimmed path !=
    '/' → 1.0 else absent."""
    return F.when(F.trim(_c(col)) != "/", PLUS())


def domain_period(col: str | Column) -> Column:
    """feature_domain_period (processor.py:1562-1571): leading '.' →
    1.0 else absent."""
    return F.when(_c(col).startswith("."), PLUS())


def is_third_party(domain_col: str | Column, site_col: str | Column) -> Column:
    """feature_is_third_party (processor.py:747-755): normalized cookie
    domain not contained in the site domain → 1.0 else absent."""
    d = uniform_domain(domain_col)
    s = uniform_domain(site_col)
    return F.when(~F.contains(s, d), PLUS())


def uniform_domain(col: str | Column) -> Column:
    """url_to_uniform_domain (utils.py:19-30), reference-exact order:
    strip() → ^http(s):// → ^www([0-9])? (NO dot required — a single
    optional digit; 'wwwfoo.com' → 'foo.com') → ^. → trailing /.
    No wss:// stripping — the reference does not perform it."""
    c = F.trim(_c(col))
    c = F.regexp_replace(c, r"^http(s)?://", "")
    c = F.regexp_replace(c, r"^www([0-9])?", "")
    c = F.regexp_replace(c, r"^\.", "")
    c = F.regexp_replace(c, r"/$", "")
    return c


# ---------------------------------------------------------------------------
# native Python-unquote + Shannon entropy (feature_shannon_entropy,
# processor.py:1083-1098, without the Arrow kernel)
# ---------------------------------------------------------------------------

_HEX2 = r"^[0-9A-Fa-f]{2}"


def py_unquote(col: str | Column) -> Column:
    """Catalyst twin of ``urllib.parse.unquote(s, errors='replace')``
    — NOT ``F.url_decode`` (Java URLDecoder turns '+' into space and
    NULLs the whole value on any malformed %-escape; Python leaves
    both alone).

    Construction mirrors CPython's unquote: split on '%'; each tail
    part whose first two chars are hex contributes that byte + the
    UTF-8 bytes of its remainder, otherwise the literal '%' + part;
    the byte stream then decodes as UTF-8 with invalid sequences
    replaced by U+FFFD. Spark 4's ``make_valid_utf8`` applies exactly
    that substitution (binary→string cast is unvalidated), and both
    engines substitute maximal invalid subparts, so results match
    CPython byte-for-byte — pinned by the hypothesis fuzz in
    tests/test_native_entropy.py. CPython decodes each run of %XX
    bytes separately while this builds ONE buffer, but interleaved
    literal text is always valid UTF-8 whose first byte is never a
    continuation byte, so the decode boundaries cannot merge across a
    literal/escape edge (same fuzz pins it).

    The aggregate-concat is O(parts²) in byte copies; cookie values
    carry few escapes, and the no-'%' fast path skips everything."""
    c = _c(col)
    parts = F.split(c, "%", -1)
    head = F.encode(F.element_at(parts, 1), "UTF-8")
    tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

    def dec_part(acc: Column, p: Column) -> Column:
        piece = F.when(
            p.rlike(_HEX2),
            F.concat(
                F.unhex(p.substr(1, 2)),
                F.encode(p.substr(F.lit(3), F.length(p)), "UTF-8"),
            ),
        ).otherwise(F.encode(F.concat(F.lit("%"), p), "UTF-8"))
        return F.concat(acc, piece)

    decoded = F.make_valid_utf8(F.aggregate(tail, head, dec_part).cast("string"))
    return F.when(~F.contains(c, F.lit("%")), c).otherwise(decoded)


def char_entropy(col: str | Column) -> Column:
    """Char-frequency Shannon entropy (log2) of a string, as ONE
    native aggregate HOF pass over the sorted char array: runs of
    equal chars accumulate Σ count·log2(count), and the finish step
    folds the algebra  H = log2(n) − Σ c·log2(c) / n  — identical to
    the reference's −Σ (c/n)·log2(c/n) (processor.py:1090-1096) up to
    float associativity (pinned ≤1e-9 abs in tests). Empty → 0.0,
    NULL → NULL. The input column is referenced exactly once, so
    callers can pass a whole ``py_unquote`` expression without
    duplicating it in the plan: the compiler's native path and the
    ``shannon_entropy`` / ``entropy_zlib`` driver queries all build
    ``char_entropy(py_unquote(value))``."""
    chars = F.array_sort(F.split(_c(col), ""))

    def run_term(run: Column) -> Column:
        return F.when(run > 0, run.cast("double") * F.log2(run)).otherwise(F.lit(0.0))

    def merge(s: Column, x: Column) -> Column:
        return F.when(
            x.eqNullSafe(s["prev"]),
            F.struct(
                s["prev"].alias("prev"),
                (s["run"] + 1).alias("run"),
                s["acc"].alias("acc"),
                (s["tot"] + 1).alias("tot"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                (s["acc"] + run_term(s["run"])).alias("acc"),
                (s["tot"] + 1).alias("tot"),
            )
        )

    def finish(s: Column) -> Column:
        return F.when(s["tot"] == 0, F.lit(0.0)).otherwise(
            F.log2(s["tot"]) - (s["acc"] + run_term(s["run"])) / s["tot"]
        )

    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("acc"),
        F.lit(0).cast("long").alias("tot"),
    )
    return F.aggregate(chars, zero, merge, finish)
