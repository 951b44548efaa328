"""Feature-function parity vs pure-Python twins (the reference's
semantics re-derived independently; SURVEY.md §2.3-2.4)."""

from __future__ import annotations

import base64
import difflib
import math
import zlib
from collections import Counter
from urllib.parse import unquote

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark.functions import native, vectorized as V

VALUES = [
    "hello world",
    "a%20b%7Cc",                     # url-encoded
    "dGVzdHN0cmluZw==",              # base64
    '{"a": 1, "b": {"c": 2}}',       # json object
    "12345",
    "deadbeef",
    "DEADBEEF123",
    "٣٤٥",                           # unicode digits: isnumeric true, regex [0-9] false
    "",
    "   ",
    "true",
    "a,b,c,d",
    "1609459200123",                 # 16-prefix epoch millis
    "2021-03-04",
    "Mon, 01 Jan 2024",
    "https://example.com/x",
    "f81d4fae-7dec-41d0-a765-00a0c91e6bf6",  # uuid v4
    "UPPER",
    "lower",
    "_ident_1",
]


@pytest.fixture(scope="module")
def vals(spark):
    return spark.createDataFrame([(v,) for v in VALUES], ["v"]).cache()


def collect_col(df, col):
    return [r["c"] for r in df.select(col.alias("c")).collect()]


def kernel_field(df, field):
    """One field of the fused content kernel over column ``v`` — the
    struct the plan compiler projects its per-update features from."""
    return collect_col(df, V.content_kernel_udf([])(F.col("v"))[field])


def test_entropy_matches_python(vals):
    """Both entropy builders the extraction job uses — the kernel's
    ``entropy`` field and the Catalyst ``char_entropy(py_unquote(v))``
    — equal the reference formula over the URL-decoded value."""
    native_got = collect_col(vals, native.char_entropy(native.py_unquote("v")))
    for got in (kernel_field(vals, "entropy"), native_got):
        for v, g in zip(VALUES, got):
            dec = unquote(v)
            if len(dec) == 0:
                exp = 0.0
            else:
                cnt = Counter(dec)
                exp = -sum((c / len(dec)) * math.log2(c / len(dec)) for c in cnt.values())
            assert g == pytest.approx(exp), v


def test_zlib_len_matches_python(vals):
    got = collect_col(vals, V.zlib_compressed_len("v"))
    for v, g in zip(VALUES, got):
        assert g == len(zlib.compress(unquote(v).encode(), 9)), v


def test_base64_validity(vals):
    # feature_base64_encoded (processor.py:1133-1146): lenient decode
    # (validate=False silently drops non-alphabet chars) on the
    # URL-DECODED content
    got = kernel_field(vals, "b64_valid")
    for v, g in zip(VALUES, got):
        try:
            base64.b64decode(unquote(v))
            exp = True
        except Exception:
            exp = False
        assert g == exp, v


def test_base64_reference_quirks(spark):
    # url-encoded padding decodes ('dGVzdA%3D%3D'), embedded spaces are
    # discarded by the lenient decoder ('dGVz dA==')
    df = spark.createDataFrame([("dGVzdA%3D%3D",), ("dGVz dA==",), ("a",)], ["v"])
    got = kernel_field(df, "b64_valid")
    assert got == [True, True, False]


def test_str_classes_unicode_exact(vals):
    for field, fn in [
        ("is_numeric", str.isnumeric),
        ("is_alpha", str.isalpha),
        ("is_upper", str.isupper),
        ("is_lower", str.islower),
        # feature_is_identifier (processor.py:1339-1345) excludes
        # pure-alpha and pure-numeric strings
        ("is_ident", lambda s: s.isidentifier() and not s.isalpha() and not s.isnumeric()),
    ]:
        got = kernel_field(vals, field)
        for v, g in zip(VALUES, got):
            exp = 1.0 if fn(unquote(v)) else -1.0
            assert g == exp, (field, v)


def test_unicode_digits_diverge_from_regex(spark):
    # the reason isnumeric runs in the Python kernel, not rlike
    # (SURVEY §2.3#17)
    df = spark.createDataFrame([("٣٤٥",)], ["v"])
    regex = df.select(F.col("v").rlike("^[0-9]+$").alias("c")).first()["c"]
    (py,) = kernel_field(df, "is_numeric")
    assert regex is False and py == 1.0


def test_gestalt_matches_difflib(spark):
    pairs = [("abcdef", "abcxef"), ("", "x"), ("same", "same"), (None, "x"),
             ("abcdef", "abcxef")]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = collect_col(df, V.gestalt_ratio("a", "b"))
    for (a, b), g in zip(pairs, got):
        if a is None:
            assert g is None
        else:
            assert g == pytest.approx(difflib.SequenceMatcher(None, a, b).ratio())


def test_expiry_buckets_boundaries(spark):
    # reference semantics (processor.py:1029-1050): dense ±1; bucket 0
    # upper bound is STRICT (< 3600) so at exactly 1h only bucket1
    # fires, while interior boundaries overlap (both adjacent buckets
    # fire at exactly 12h).
    df = spark.createDataFrame([(3600,), (43200,), (100,)], ["e"])
    cols = native.expiry_buckets("e")
    rows = df.select("e", *[c.alias(f"b{i}") for i, c in enumerate(cols)]).collect()
    by = {r["e"]: [r[f"b{i}"] for i in range(8)] for r in rows}
    assert by[3600] == [-1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0]
    assert by[43200] == [-1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0]
    assert by[100] == [1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0]


def test_pm_encoding_true_false(spark):
    df = spark.createDataFrame([(True,), (False,)], ["f"])
    got = collect_col(df, native.pm_flag("f"))
    assert got == [1.0, -1.0]


def test_one_hot_unknown_all_minus(spark):
    df = spark.createDataFrame([("lax",), ("weird",)], ["s"])
    cols = native.one_hot("s", ["no_restriction", "lax", "strict"])
    rows = df.select(*[c.alias(f"c{i}") for i, c in enumerate(cols)]).collect()
    assert [rows[0][f"c{i}"] for i in range(3)] == [-1.0, 1.0, -1.0]
    assert [rows[1][f"c{i}"] for i in range(3)] == [-1.0, -1.0, -1.0]


def test_uuid_onehot(spark, vals):
    """feature_canonical_uuid one-hot (the compiler's and the
    content_flags query's uuid_version_onehot): case-insensitive
    hex, version digit 1-5 or "other" (a letter version, either case),
    no match -> all -1; cross-checked against Python ``re``."""
    import re

    want = {
        "f81d4fae-7dec-41d0-a765-00a0c91e6bf6": 3,  # v4
        "F81D4FAE-7DEC-11D0-A765-00A0C91E6BF6": 0,  # uppercase hex, v1
        "x 6BA7B810-9dad-51d1-80B4-00c04fd430c8 y": 4,  # mixed case, v5
        "f81d4fae-7dec-a1d0-a765-00a0c91e6bf6": 5,  # letter version
        "F81D4FAE-7DEC-B1D0-A765-00A0C91E6BF6": 5,  # uppercase letter version
        "f81d4fae-7dec-01d0-a765-00a0c91e6bf6": 5,  # digit outside 1-5
        "g81d4fa-7dec-41d0-a765-00a0c91e6bf6": None,  # 7-hex first group
        "hello world": None,
    }
    df = spark.createDataFrame([(v,) for v in want], ["v"]).unionByName(vals.select("v"))
    cols = native.uuid_version_onehot("v")
    rows = df.select(
        F.col("v"), *[c.alias(f"u{i}") for i, c in enumerate(cols)]
    ).collect()
    by = {r["v"]: [r[f"u{i}"] for i in range(6)] for r in rows}
    ref = re.compile(
        r"[0-9a-f]{8}-[0-9a-f]{4}-([0-9a-f])[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}",
        re.IGNORECASE,
    )
    for v, got in by.items():
        m = ref.search(v) if v is not None else None
        slot = None if m is None else "12345".find(m.group(1).lower())
        expect = [-1.0] * 6
        if m is not None:
            expect[slot if slot >= 0 else 5] = 1.0
        assert got == expect, v
        if v in want:
            assert (None if m is None else expect.index(1.0)) == want[v], v


def test_regex_detectors(spark, vals):
    """The compiler's detectors, which the content_flags query applies
    too, against Python ``re`` with the reference's own patterns
    (processor.py:154-174) and ``str.isspace`` — including inputs where
    a generic date or URL regex, or Spark's space-only ``trim``, would
    disagree with the reference."""
    import re

    extra = ["03/04/2021", "www2.example.com.", "http://a.b", "\t\n", "\u3000",
             "www.example.com.", "12-31-1999", "sun 7 dec"]
    df = spark.createDataFrame([(v,) for v in extra], ["v"]).unionByName(vals.select("v"))
    rows = df.select(
        "v",
        native.boolean_content("v").alias("bool"),
        native.timestamp_content("v").alias("tsc"),
        native.date_content("v").alias("date"),
        native.url_content("v").alias("url"),
        native.hex_content("v").alias("hex"),
        native.empty_content("v").alias("empty"),
    ).collect()
    by = {r["v"]: r for r in rows}
    dates = [r"(19[7-9][0-9]|20[0-3][0-9]|[0-9][0-9])-[01][0-9]-[0-3][0-9]",
             r"[0-3][0-9]-[01][0-9]-(19[7-9][0-9]|20[0-3][0-9]|[0-9][0-9])",
             r"[01][0-9]-[0-3][0-9]-(19[7-9][0-9]|20[0-3][0-9])"]
    for v, r in by.items():
        want = {
            "bool": re.search(r"\b(true|false|yes|no|0|1|on|off)\b", v, re.I),
            "tsc": re.search(r"16[0-9]{8}([0-9]{3})?", v),
            "date": any(re.search(p, v) for p in dates) or (
                re.search("(Mon|Tue|Wed|Thu|Fri|Sat|Sun)", v, re.I)
                and re.search("(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)", v, re.I)),
            "url": re.search(r"http(s)?://.*\.", v) or re.search(r"www(2-9)?\..*\.", v),
            "hex": re.match("^[0-9a-f]+$", v, re.I) and not v.isnumeric(),
            "empty": not v or v.isspace(),
        }
        for f, w in want.items():
            assert r[f] == (1.0 if w else -1.0), (v, f)
    assert by["true"]["bool"] == 1.0 and by["hello world"]["bool"] == -1.0
    assert by["1609459200123"]["tsc"] == 1.0
    assert by["2021-03-04"]["date"] == 1.0 and by["Mon, 01 Jan 2024"]["date"] == 1.0
    assert by["03/04/2021"]["date"] == -1.0 and by["12-31-1999"]["date"] == 1.0
    assert by["https://example.com/x"]["url"] == 1.0 and by["http://a.b"]["url"] == 1.0
    assert by["www2.example.com."]["url"] == -1.0 and by["www.example.com."]["url"] == 1.0
    assert by["deadbeef"]["hex"] == 1.0 and by["12345"]["hex"] == -1.0
    assert by[""]["empty"] == 1.0 and by["   "]["empty"] == 1.0
    assert by["\t\n"]["empty"] == 1.0 and by["\u3000"]["empty"] == 1.0


def test_url_encoding_and_content_length(spark):
    # the compiler's forms: url_encoding = pm(value != dec),
    # content_length = octet_length(dec) (utf-8 bytes of the unquoted
    # value)
    df = spark.createDataFrame([("a%20b",), ("plain",), ("%e2%82%ac",)], ["v"])
    k = V.content_kernel_udf([])(F.col("v"))
    enc = collect_col(df, native.pm(F.col("v") != k["dec"]))
    assert enc == [1.0, -1.0, 1.0]
    cl = collect_col(df, F.octet_length(k["dec"]).cast("double"))
    assert cl == [3.0, 5.0, 3.0]  # "a b" is 3 utf-8 bytes, so is "€"


def test_uniform_domain(spark):
    # url_to_uniform_domain (utils.py:19-30): '^www([0-9])?' needs NO
    # dot — 'wwwfoo.com' loses its www prefix too (reference quirk)
    df = spark.createDataFrame(
        [("https://www.example.com/",), (".example.com",),
         ("www3.sub.example.com",), ("wwwfoo.com",), (" spaced.com ",)], ["d"]
    )
    got = collect_col(df, native.uniform_domain("d"))
    assert got == ["example.com", "example.com", "sub.example.com", "foo.com", "spaced.com"]


def test_csv_sniffer_parity(spark):
    # reference split_delimiter_separated semantics (utils.py:114-143):
    # sniff over the restricted set, accept only when the raw string
    # holds STRICTLY MORE than min_seps occurrences, split via
    # csv.reader (quote-aware)
    import csv

    vals = ["a,b,c", "x|y|z|w", "no-delims-here maybe", "k=v&k2=v2", "a,b"]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    k = V.content_kernel_udf([])(F.col("v"))  # delim_min_seps=1
    got = df.select(
        k["delim_idx"].alias("delim_idx"), k["num_tokens"].alias("num_tokens")
    ).collect()
    sniffer = csv.Sniffer()
    delims = ",|#:;&_.-"
    for v, g in zip(vals, got):
        try:
            dialect = sniffer.sniff(v, delimiters=delims)
            if v.count(dialect.delimiter) > 1:
                toks = list(csv.reader((v,), dialect))[0]
                exp = (delims.index(dialect.delimiter), len(toks))
            else:
                exp = (None, None)
        except csv.Error:
            exp = (None, None)
        assert (g["delim_idx"], g["num_tokens"]) == exp, v


def test_pii_scrub_and_counts(spark):
    """PII rules (functions/text.py): Spark counts per rule, and the
    chained typed-token redaction the text_quality query builds from
    the same rules, both polarities, exact expected strings (the
    text_quality oracle hashes the scrubbed string so this pins the
    same bytes DuckDB must produce)."""
    import re

    from cookieblock_consent_classifier_spark.functions import text as TX

    cases = [
        ("mail bob.smith+test@mail.example.org now", 1, 0, 0,
         "mail <EMAIL> now"),
        ("node 192.168.001.042 and 10.0.0.7 up", 0, 2, 0,
         "node <IP> and <IP> up"),
        ("ref 123-45-6789 filed", 0, 0, 1, "ref <ID> filed"),
        ("a@b.cd via 1.2.3.4 id 987-65-4321", 1, 1, 1,
         "<EMAIL> via <IP> id <ID>"),
        ("no pii here 1234 x192.168.0.1", 0, 0, 0,
         "no pii here 1234 x192.168.0.1"),
        ("", 0, 0, 0, ""),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, *_) in enumerate(cases)], ["i", "t"]
    )
    out = {
        r["i"]: r
        for r in df.select(
            "i",
            *[
                TX.pii_count("t", pat).alias(f"n_{name}")
                for name, pat, _ in TX.PII_RULES
            ],
        ).collect()
    }
    for i, (t, n_em, n_ip, n_id, want) in enumerate(cases):
        r = out[i]
        assert (r["n_email"], r["n_ipv4"], r["n_id"]) == (n_em, n_ip, n_id), t
        # cross-check vs Python re (Java-regex semantics twin)
        s = t
        for _, pat, token in TX.PII_RULES:
            s = re.sub(pat, token, s)
        assert s == want, t


def test_sniff_fast_path_parity_fuzz():
    """_sniff_delim (the csv.Sniffer fast path added in opt round 7)
    must agree with the REAL csv.Sniffer on every input: same chosen
    delimiter/quote/doublequote/skipinitialspace, same error cases.
    Structured fuzz biased toward the fast path's branch boundaries
    (single vs multiple candidate delimiters, preferred-list ties,
    max-(count,char) ties, trailing 'd ' runs for skipinitialspace,
    quotes/newlines forcing the real-Sniffer fallback)."""
    import csv as _csv
    import random

    rng = random.Random(4207)
    delims = V.DELIMITERS
    alphabet = "ab1 " + delims + "\"'\n%\t"
    corpus = [
        "", "a", "a,b", "a,b;c", "a, b, c", "x|y|z", "k:v;k2:v2",
        "a-b-c-d", "a_b_c", "1.2.3.4", "a&b&c", "#x#y#", "a.b,c.d",
        "a;b:c", ",,,", "a,'q,z',b", 'he said "x,y" ok', "l1,a\nl2,b",
        "a\nb\nc", ". . .", "a, b,c", "--", "__", "a;;b", ":;",
        "tok,tok tok,tok", "x" * 50, ",".join("t" * 3 for _ in range(20)),
    ]
    for _ in range(3000):
        n = rng.randint(1, 24)
        corpus.append("".join(rng.choice(alphabet) for _ in range(n)))
    sniffer = _csv.Sniffer()
    for txt in corpus:
        try:
            d = sniffer.sniff(txt, delimiters=delims)
            exp = (d.delimiter, d.quotechar, d.doublequote, d.skipinitialspace)
        except _csv.Error:
            exp = None
        got = V._sniff_delim(txt)
        assert got == exp, (repr(txt), got, exp)
        # and the full split path: tokens must match reading with the
        # real sniffed dialect under both acceptance thresholds
        for min_seps in (1, 2):
            want = (None, None)
            if exp is not None and txt.count(exp[0]) > min_seps:
                try:
                    want = (list(_csv.reader((txt,), d))[0], exp[0])
                except _csv.Error:
                    # reader error (e.g. newline in unquoted field):
                    # the reference path's shared except returns None
                    want = (None, None)
            assert V._py_split_delimited(txt, min_seps) == want, repr(txt)


# a batch the way Arrow hands it to a pandas UDF, with what the per-batch
# memo must keep apart: repeats, NULLs, "" vs whitespace, equal-looking
# encoded and decoded forms, and an index that does not start at 0
BATCH = ["a,b,c", None, "", "   ", "a,b,c", "x%20y", "x y", None, "", "   ",
         '{"id": 1}', "dGVzdHN0cmluZw==", "a,b,c", "_ident_1", "٣٤٥", "x y"]


def _null(x):
    return None if not isinstance(x, list) and pd.isna(x) else x


def _per_row(fn, batch):
    """fn (a UDF's pandas body) applied to one-row batches."""
    return [fn(pd.Series([v], dtype=object)) for v in batch]


def test_content_kernel_matches_per_row_evaluation():
    """One evaluation per distinct value, fanned out, gives every row
    the fields a per-row evaluation gives it, at the batch's index."""
    fn = V.content_kernel_udf(["a", "test", "y"]).func
    s = pd.Series(BATCH, index=range(50, 50 + len(BATCH)), dtype=object)
    got = fn(s)
    assert list(got.index) == list(s.index)
    for (i, row), want in zip(got.iterrows(), _per_row(fn, BATCH)):
        for f in got.columns:
            assert _null(row[f]) == _null(want[f].iloc[0]), (i, s[i], f)


def test_regex_ranks_match_per_row_evaluation():
    for mode in ("match", "search"):
        fn = V.regex_ranks_udf(["a", "x", r"\d", " "], mode).func
        s = pd.Series(BATCH, index=range(50, 50 + len(BATCH)), dtype=object)
        got = fn(s)
        assert list(got.index) == list(s.index)
        assert [_null(g) for g in got] == [_null(w.iloc[0]) for w in _per_row(fn, BATCH)], mode


def test_content_kernel_sniffs_each_distinct_value_once(monkeypatch):
    calls = Counter()
    sniff = V._sniff_delim

    def counting(txt):
        calls[txt] += 1
        return sniff(txt)

    monkeypatch.setattr(V, "_sniff_delim", counting)
    V.content_kernel_udf([]).func(pd.Series(BATCH, dtype=object))
    distinct = {v for v in BATCH if v is not None}
    assert sum(calls.values()) == len(distinct) == 9
    assert set(calls) == {unquote(v) for v in distinct}


def test_gestalt_evaluates_each_distinct_pair_once_per_batch(monkeypatch):
    """The gestalt UDF keeps one memo policy: each distinct non-NULL
    consecutive pair of a batch is evaluated exactly once, whatever its
    length and on every call (nothing is remembered across batches),
    and every row equals plain difflib."""
    import statistics

    long_a, long_b = "x" * 200 + "abc", "x" * 200 + "abd"  # 406 chars a pair
    seqs = [["a", "b", "a", "b"], ["a", "b"], [long_a, long_b, long_a, long_b],
            ["q", None, "q", "r"], ["only"], [], None, [long_a, long_b], ["b", "a"]]

    def expect(seq):
        if seq is None or len(seq) < 2:
            return -1.0, -1.0, []
        rs = [None if a is None or b is None else difflib.SequenceMatcher(None, a, b).ratio()
              for a, b in zip(seq, seq[1:])]
        pr = [r for r in rs if r is not None]
        return (statistics.mean(pr) if pr else -1.0,
                statistics.stdev(pr) if len(pr) > 1 else -1.0, rs[:2])

    want = [expect(s) for s in seqs]
    calls = Counter()
    ratio = difflib.SequenceMatcher.ratio

    def counting(self):
        calls[self.a, self.b] += 1
        return ratio(self)

    monkeypatch.setattr(difflib.SequenceMatcher, "ratio", counting)
    fn = V.gestalt_stats_udf(2).func
    batch = pd.Series(seqs, index=range(7, 7 + len(seqs)), dtype=object)
    distinct = {("a", "b"), ("b", "a"), (long_a, long_b), (long_b, long_a), ("q", "r")}
    for _ in range(2):
        calls.clear()
        got = fn(batch)
        assert calls == Counter(dict.fromkeys(distinct, 1))
        assert list(got.index) == list(batch.index)
        for (_, row), w in zip(got.iterrows(), want):
            assert (row["mean"], row["std"], list(row["diffs"])) == w
