"""Arrow-vectorized pandas UDF kernels — the non-relational feature
functions that have no native Catalyst expression.

Design rules (SURVEY.md §2.9 / input_hint "no per-row Python"):
- every UDF is a @pandas_udf over pd.Series batches (Arrow transfer);
  no row-at-a-time Python UDFs, no RDD map;
- anything expensive to construct (compiled regexes, term lists) is
  built once per Arrow batch or captured via closure — the reference's
  precompile-once discipline (processor.py:154-175);
- the per-value kernels run once per DISTINCT value of a batch
  (``_map_distinct``): cookie update streams repeat their values, and
  the memo lives only as long as the batch;
- each kernel has a pure-Python scalar twin (`_py_*`) used by the
  pytest parity oracle.

Reference parity cited to /root/reference/feature_extraction/*.
"""

from __future__ import annotations

import base64
import csv
import difflib
import math
import re
import zlib
from collections import Counter
from urllib.parse import unquote

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from cookieblock_consent_classifier_spark.functions.jsparse import try_split_json_like
from cookieblock_consent_classifier_spark.functions.native import BOOLEAN_PAT


# ---------------------------------------------------------------------------
# scalar twins (test oracles + single source of the semantics)
# ---------------------------------------------------------------------------

def _py_compressed_len(s: str | None) -> int | None:
    """zlib level-9 compressed byte length of the URL-decoded value
    (feature_compressed_content, processor.py:1061-1081)."""
    if s is None:
        return None
    return len(zlib.compress(unquote(s).encode("utf-8", errors="replace"), 9))


def _py_gestalt(a: str | None, b: str | None) -> float | None:
    """difflib SequenceMatcher ratio (feature_gestalt_pattern_ratio,
    processor.py:1485-1494); a NULL side has no ratio."""
    if a is None or b is None:
        return None
    return difflib.SequenceMatcher(None, a, b).ratio()


def _py_b64_decodable(dec: str) -> bool:
    """feature_base64_encoded core (processor.py:1133-1146): the
    reference calls ``base64.b64decode(unquoted)`` WITHOUT
    validate=True — non-alphabet characters are silently discarded and
    only residual length/padding errors reject. Operates on the
    already-URL-decoded content."""
    try:
        base64.b64decode(dec)
        return True
    except (base64.binascii.Error, ValueError):
        return False


_UNSET = object()


def _py_js_parse(txt: str, b64=_UNSET):
    """Parsed JS/JSON value per feature_js_content's gating
    (processor.py:1215-1235): only attempt when '{' present; fall back
    to base64-decode + re-check (try_decode_base64, utils.py:81-94).
    try_split_json's js2py fallback is the bounded JS-literal parser
    (functions/jsparse.py). Returns ANY parsed value (dict/list/str)
    or None — the reference uses len() of non-dict results too.
    ``b64`` lets a caller that already ran _py_b64_decode(txt) pass
    the result in (the fused kernel shares one decode per value)."""
    if "{" in txt:
        return try_split_json_like(txt)
    dec = _py_b64_decode(txt) if b64 is _UNSET else b64
    if dec and "{" in dec:
        return try_split_json_like(dec)
    return None


# ---------------------------------------------------------------------------
# vectorized UDFs
# ---------------------------------------------------------------------------

@pandas_udf(T.LongType())
def zlib_compressed_len(s: pd.Series) -> pd.Series:
    return s.map(_py_compressed_len, na_action="ignore")


def _gestalt_each(pairs: list[tuple]) -> list[float | None]:
    """``_py_gestalt`` of each ``(a, b)`` pair of one batch, evaluated
    once per distinct pair (``_map_distinct``): update streams repeat
    their consecutive pairs, and ratio() is the costliest call here."""
    ratios, codes = _map_distinct(
        lambda p: None if p is None else _py_gestalt(*p), pd.Series(pairs, dtype=object)
    )
    return [ratios[c] for c in codes]


@pandas_udf(T.DoubleType())
def gestalt_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(_gestalt_each(list(zip(a, b))), index=a.index, dtype="float64")


def gestalt_stats_udf(num_diffs: int):
    """Per-entity gestalt statistics from the ordered value sequence
    (one row per entity, input = array<string> of update values):
    mean/stdev of consecutive SequenceMatcher ratios with −1 sentinels
    (feature_gestalt_mean_and_stddev, processor.py:812-841) plus the
    first ``num_diffs`` ratios (feature_gestalt_pattern_ratio,
    processor.py:1485-1494).

    Runs POST-aggregation so the expensive difflib kernel sees one
    Arrow batch per entity instead of sitting between the window and
    the groupBy (where a Python node would break partitioning reuse
    and force a second shuffle). The consecutive pairs of every
    sequence in the batch are evaluated together, once per distinct
    pair (``_gestalt_each``); nothing is kept after the batch."""
    import statistics

    @pandas_udf(
        T.StructType(
            [
                T.StructField("mean", T.DoubleType()),
                T.StructField("std", T.DoubleType()),
                T.StructField("diffs", T.ArrayType(T.DoubleType())),
            ]
        )
    )
    def _udf(vals: pd.Series) -> pd.DataFrame:
        seqs = [() if seq is None else seq for seq in vals]
        flat = _gestalt_each([p for seq in seqs for p in zip(seq, seq[1:])])
        rows, at = [], 0
        for seq in seqs:
            if len(seq) < 2:
                rows.append((-1.0, -1.0, []))
                continue
            ratios = flat[at:at + len(seq) - 1]
            at += len(seq) - 1
            # a pair with a NULL side has no ratio: its diff slot is
            # absent and it stays out of the mean/std (as lev_distance)
            present = [r for r in ratios if r is not None]
            m = statistics.mean(present) if present else -1.0
            s = statistics.stdev(present) if len(present) > 1 else -1.0
            rows.append((m, s, ratios[:num_diffs]))
        return pd.DataFrame(rows, columns=["mean", "std", "diffs"], index=vals.index)

    return _udf


DELIMITERS = ",|#:;&_.-"  # processor.py:151


_SNIFF_PREFERRED = (",", "\t", ";", " ", ":")  # csv.Sniffer().preferred
_SNIFFER = csv.Sniffer()


def _sniff_delim(txt: str):
    """Exact twin of ``csv.Sniffer().sniff(txt, delimiters=DELIMITERS)``
    restricted to the fields ``_py_split_delimited`` consumes: returns
    ``(delimiter, quotechar, doublequote, skipinitialspace)`` or None
    where sniff would raise ``csv.Error``.

    csv.Sniffer costs ~75-105 us per call even on strings containing
    no delimiter at all (_guess_delimiter builds a frequency table for
    every 7-bit char); it was the single largest per-row cost of the
    fused cookie kernel (~186 us/row of ~200, called twice). The fast
    path replays csv.py's single-chunk arithmetic exactly for
    single-line, quote-free samples (the overwhelming majority of
    cookie values): with one line every restricted delimiter present
    gets mode (count, 1) and consistency 1/1, so the candidate set is
    simply the delimiters with count > 0; one candidate wins directly,
    several fall to the `preferred` list then to max (count, char);
    skipinitialspace = count(d) == count(d + ' '). Anything containing
    a newline or a quote char falls back to the real Sniffer
    (_guess_quote_and_delimiter's regexes / multi-chunk voting).
    Parity is pinned by tests/test_functions.py::test_sniff_parity
    against csv.Sniffer over a structured fuzz corpus."""
    if "\n" not in txt and '"' not in txt and "'" not in txt:
        cands = {d: txt.count(d) for d in DELIMITERS if d in txt}
        if not cands:
            return None  # sniff() raises Error("Could not determine delimiter")
        if len(cands) == 1:
            delim = next(iter(cands))
        else:
            for p in _SNIFF_PREFERRED:
                if p in cands:
                    delim = p
                    break
            else:
                delim = max(cands.items(), key=lambda kv: (kv[1], kv[0]))[0]
        skip = txt.count(delim) == txt.count(delim + " ")
        # no quote chars present -> _guess_quote_and_delimiter returns
        # ('', False, ...) and sniff defaults quotechar to '"'
        return delim, '"', False, skip
    try:
        d = _SNIFFER.sniff(txt, delimiters=DELIMITERS)
        return d.delimiter, d.quotechar, d.doublequote, d.skipinitialspace
    except csv.Error:
        return None


def _split_sniffed(txt: str, sniffed) -> list[str]:
    """csv.reader split of ``txt`` under a ``_sniff_delim`` result —
    identical to reading with the sniffed dialect class (same
    attribute values; escapechar None / strict False are Dialect
    defaults either way)."""
    delim, quote, dq, skip = sniffed
    return list(
        csv.reader(
            (txt,),
            delimiter=delim,
            quotechar=quote,
            doublequote=dq,
            skipinitialspace=skip,
            lineterminator="\r\n",
            quoting=csv.QUOTE_MINIMAL,
        )
    )[0]


def _py_split_delimited(txt: str, min_seps: int):
    """split_delimiter_separated (utils.py:114-143) semantics:
    Sniffer dialect over the restricted delimiter set; accepted only if
    the raw string contains STRICTLY MORE than ``min_seps`` occurrences
    of the chosen delimiter; split via csv.reader (quote-aware).
    Returns (tokens|None, delimiter|None).

    The reference's sniff-failure path base64-decodes and re-sniffs
    the SAME string; sniff is deterministic, so that retry always
    fails again — the dead retry is skipped here (output identical,
    saves a base64 decode + a second ~100 us sniff per miss). A
    csv.Error from the READER (e.g. newline in an unquoted field) is
    (None, None) exactly like the original's shared except-clause."""
    s = _sniff_delim(txt)
    if s is None:
        return None, None
    if txt.count(s[0]) > min_seps:
        try:
            return _split_sniffed(txt, s), s[0]
        except csv.Error:
            return None, None
    return None, None


def _py_b64_decode(s: str):
    """try_decode_base64 (utils.py:81-94): decode iff ≥ 8 characters
    and the result is valid UTF-8."""
    if not isinstance(s, str) or len(s) < 8:
        return None
    try:
        return base64.b64decode(s).decode("utf-8")
    except Exception:
        return None


# Python \b is unicode-aware, so the kernel evaluates boolean_content
# with the Catalyst builder's own pattern text (processor.py:154)
_TRUTH_PAT = re.compile(BOOLEAN_PAT, re.IGNORECASE)
_HEX_PAT = re.compile("^[0-9a-f]+$", re.IGNORECASE)  # processor.py:174
_ID_PAT = re.compile("(id|ident)", re.IGNORECASE)    # feature_js_content key check


def _py_csv_flags_from_tokens(toks):
    """The flag pass of feature_csv_content over already-split tokens
    (None/empty → all −1) — shared by _py_csv_content_flags and the
    fused kernel (which reuses one sniff+split for both csv features)."""
    flags = [False] * 5
    if toks:
        for e in toks:
            flags[0] |= e.isnumeric()
            flags[1] |= _HEX_PAT.match(e) is not None
            flags[2] |= e.isalpha()
            flags[3] |= e.isalnum()
            flags[4] |= _TRUTH_PAT.match(e) is not None
    return tuple(1.0 if f else -1.0 for f in flags)


def _py_csv_content_flags(v: str | None, min_seps: int = 2):
    """feature_csv_content (processor.py:1176-1213): split (sniffer)
    then flags over tokens: numeric/hex/alpha/alnum/bool; ±1."""
    if v is None:
        return None
    toks, _ = _py_split_delimited(unquote(v), min_seps)
    return _py_csv_flags_from_tokens(toks)


def _py_js_flags_tuple(data):
    """The 11-wide vector of feature_js_content from an ALREADY-parsed
    value — shared by _py_js_content and the fused kernel (which
    parses once per value)."""
    flags = dict.fromkeys(
        ["id", "bool", "num", "str", "alpha", "alnum", "sub", "list", "none", "hex"], False
    )
    if isinstance(data, dict):
        for key in data:
            if isinstance(key, str) and _ID_PAT.search(key):
                flags["id"] = True
        for val in data.values():
            # reference order: int/float first (excl. bool), then bool
            if type(val) in (int, float):
                flags["num"] = True
            elif type(val) is bool:
                flags["bool"] = True
            elif type(val) is str:
                flags["str"] = True
                if _TRUTH_PAT.match(val):
                    flags["bool"] = True
                elif val.isnumeric():
                    flags["num"] = True
                elif _HEX_PAT.match(val):
                    flags["hex"] = True
                if val.isalpha():
                    flags["alpha"] = True
                elif val.isalnum():
                    flags["alnum"] = True
            elif type(val) is dict:
                flags["sub"] = True
            elif type(val) is list:
                flags["list"] = True
            elif val is None:
                flags["none"] = True
    length = float(len(data)) if data is not None else -1.0
    order = ["id", "bool", "num", "str", "alpha", "alnum", "sub", "list", "none", "hex"]
    return (length, *[1.0 if flags[k] else -1.0 for k in order])


def _py_js_content(v: str | None):
    """feature_js_content (processor.py:1215-1303): 11-wide vector —
    len(parsed value) (or −1), then ±1 flags: id-key, bool, num,
    string, alpha, alnum, subobject, list, none, hex. Slot 0 uses
    len() of ANY successful parse (dict, list or string —
    processor.py:1288-1291); the type flags apply to dicts only. The
    js2py fallback is the bounded JS-literal parser
    (functions/jsparse.py)."""
    if v is None:
        return None
    return _py_js_flags_tuple(_py_js_parse(unquote(v)))


def _rank_matcher(patterns: list[str], mode: str):
    """One value → the sorted ranks of the matching ``patterns``
    (``re.match`` when ``mode`` is "match", else ``re.search``).
    Literal patterns (no regex metachars — most of the shipped
    50-term/500-token resources) take a prefix/substring fast path:
    semantically identical to matching the escaped literal, ~10×
    cheaper across a 500-pattern bank."""
    lits = [(p, i) for i, p in enumerate(patterns) if p == re.escape(p)]
    regs = [(re.compile(p), i) for i, p in enumerate(patterns) if p != re.escape(p)]
    if mode == "match":
        return lambda v: sorted([i for p, i in lits if v.startswith(p)]
                                + [i for c, i in regs if c.match(v)])
    return lambda v: sorted([i for p, i in lits if p in v] + [i for c, i in regs if c.search(v)])


def _map_distinct(fn, s: pd.Series):
    """``fn`` over each distinct value of the batch ``s``: returns
    ``(results, codes)`` where row i's result is ``results[codes[i]]``.
    NULL rows get code −1, which indexes the last result, ``fn(None)``
    (computed once, whether or not the batch holds a NULL). Nothing is
    kept after the call: the memo is one batch wide."""
    codes, uniques = pd.factorize(s)
    return [fn(u) for u in uniques] + [fn(None)], codes


JS_CONTENT_FIELDS = [
    "js_len", "js_id", "js_bool", "js_num", "js_str", "js_alpha",
    "js_alnum", "js_sub", "js_list", "js_none", "js_hex",
]


def content_kernel_udf(content_terms: list[str], delim_min_seps: int = 1,
                       csv_min_seps: int = 2):
    """FUSED per-update Python kernel: every non-native feature
    computed in ONE Arrow round-trip with ONE URL-decode per value.

    Separate pandas UDFs per feature would mean ~10 ArrowEvalPython
    evaluations per row batch, each re-decoding the value (measured
    ~2ms·core/row on the full schema); fusing them cuts the Python
    path to a single batch pass. Within a batch the pipeline runs once
    per distinct value (``_map_distinct``) and the rows are fanned out
    from those results: the ``hot`` benchmark's 13,100 rows hold 2,653
    distinct values. Each field's semantics are those of the scalar
    ``_py_*`` helpers above; the parity tests read the fields directly.

    Two fields are the compiler's fork inputs: ``dec`` and
    ``entropy``. When the kernel runs they replace the native
    py_unquote / char_entropy columns; every feature built from them
    (lengths, hex/url/date/uuid/timestamp regexes) is a native
    expression on either path. Every other field is a genuinely-Python
    computation with no native twin.
    """
    fields = (
        [
            # `dec` is THE url-decoded value (urllib.parse.unquote
            # semantics). Downstream native rlike/compare expressions
            # consume this field rather than F.try_url_decode, whose
            # Java URLDecoder decodes '+' as space and NULLs out any
            # malformed %-escape — both diverge from Python unquote
            # (the reference decodes with unquote everywhere).
            T.StructField("dec", T.StringType()),
            T.StructField("zlib_len", T.DoubleType()),
            T.StructField("entropy", T.DoubleType()),
            T.StructField("b64_valid", T.BooleanType()),
            T.StructField("js_obj", T.DoubleType()),
            T.StructField("bool_content", T.DoubleType()),
            T.StructField("is_numeric", T.DoubleType()),
            T.StructField("is_alpha", T.DoubleType()),
            T.StructField("is_upper", T.DoubleType()),
            T.StructField("is_lower", T.DoubleType()),
            T.StructField("is_ident", T.DoubleType()),
            T.StructField("delim_idx", T.IntegerType()),
            T.StructField("num_tokens", T.IntegerType()),
        ]
        + [T.StructField(f, T.DoubleType()) for f in
           ["csv_num", "csv_hex", "csv_alpha", "csv_alnum", "csv_bool"]]
        + [T.StructField(f, T.DoubleType()) for f in JS_CONTENT_FIELDS]
        + [T.StructField("term_ranks", T.ArrayType(T.IntegerType()))]
    )

    @pandas_udf(T.StructType(fields))
    def _udf(s: pd.Series) -> pd.DataFrame:
        term_ranks = _rank_matcher(content_terms, "search")
        js_pat = re.compile(r"^\{.*}$")  # processor.py:175

        def one(v):
            if v is None:
                return (None,) * len(fields)
            dec = unquote(v)
            enc = dec.encode("utf-8", errors="replace")
            zl = float(len(zlib.compress(enc, 9)))
            if len(dec) == 0:
                ent = 0.0
            else:
                cnt = Counter(dec)
                n = len(dec)
                ent = -sum((c / n) * math.log2(c / n) for c in cnt.values())
            b64 = _py_b64_decodable(dec)
            pm = lambda b: 1.0 if b else -1.0  # noqa: E731
            # ONE lenient base64 decode shared by the js-object shape
            # check and the js-content parse gate (each used to decode
            # independently)
            mb = _py_b64_decode(dec)
            # feature_contains_javascript_object (processor.py:1148-1162):
            # shape-regex on dec, else base64-decode dec and re-check
            if js_pat.search(dec):
                jso = 1.0
            else:
                jso = 1.0 if (mb and js_pat.search(mb)) else -1.0
            # feature_boolean_content (processor.py:1386-1395): Python
            # \b is unicode-aware (Java's is ASCII) — keep in Python
            boolc = pm(_TRUTH_PAT.search(dec) is not None)
            # ONE sniff + ONE csv split serve BOTH delimiter_sep
            # (min_seps=delim_min_seps) and csv_contents
            # (min_seps=csv_min_seps): only the acceptance threshold
            # differs, the sniffed dialect and the split tokens are
            # identical (sniffing is the kernel's single largest
            # per-row cost)
            sn = _sniff_delim(dec)
            didx = ntok = None
            ctoks = None
            if sn is not None:
                cnt = dec.count(sn[0])
                split_toks = None
                if cnt > min(delim_min_seps, csv_min_seps):
                    try:
                        split_toks = _split_sniffed(dec, sn)
                    except csv.Error:
                        # reader error (newline in unquoted field):
                        # _py_split_delimited returns (None, None) for
                        # both features
                        cnt = -1
                if cnt > delim_min_seps and split_toks:
                    didx = DELIMITERS.index(sn[0])
                    ntok = len(split_toks)
                if cnt > csv_min_seps:
                    ctoks = split_toks
            csvf = _py_csv_flags_from_tokens(ctoks)
            # ONE js parse feeds the whole js_contents block
            jsf = _py_js_flags_tuple(_py_js_parse(dec, b64=mb))
            return (
                dec, zl, ent, b64, jso, boolc,
                pm(dec.isnumeric()), pm(dec.isalpha()), pm(dec.isupper()),
                pm(dec.islower()),
                pm(dec.isidentifier() and not dec.isalpha() and not dec.isnumeric()),
                didx, ntok, *csvf, *jsf, term_ranks(dec),
            )

        rows, codes = _map_distinct(one, s)
        return pd.DataFrame(rows, columns=[f.name for f in fields]).take(codes).set_axis(s.index)

    return _udf


def regex_ranks_udf(patterns: list[str], mode: str = "search"):
    """Multi-hot regex-list lookup → array of matched ranks.

    Covers feature_pattern_names (.match, processor.py:712-722) and
    feature_name_tokens (.search, :724-733) on the raw cookie name;
    feature_english_terms_in_content (:1164-1174) is the fused kernel's
    ``term_ranks`` field. The pattern list ships in the closure (≤500
    strings, no broadcast variable needed); the matcher is compiled once
    per Arrow batch (the reference's precompile discipline,
    processor.py:154-175) and runs once per distinct name in it.
    """
    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _udf(s: pd.Series) -> pd.Series:
        match = _rank_matcher(patterns, mode)
        ranks, codes = _map_distinct(lambda v: None if v is None else match(v), s)
        return pd.Series(ranks, dtype=object).take(codes).set_axis(s.index)

    return _udf
