"""Repetition signals, PII scrub, paragraph dedup, decontamination,
anchor text — brute-force Python oracles and fixed expectations (never
the mirrored formula, per the review-regression discipline)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from ocr_devnagari_spark import gates
from ocr_devnagari_spark.functions import pii
from ocr_devnagari_spark.functions.links import anchor_rows, anchor_term_stats
from ocr_devnagari_spark.functions.repetition import (
    gopher_repetition_pass,
    repetition_signals,
    word_ngrams,
)
from ocr_devnagari_spark.operators.paragraphs import (
    ngram_contamination,
    paragraph_dedup,
)


# ---------------------------------------------------------------------------
# repetition
# ---------------------------------------------------------------------------

def _py_ngram_stats(text: str, n: int):
    words = text.split(" ")
    grams = [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]
    if not grams:
        return None
    c = Counter(grams)
    total = len(text)
    top_mass, top_gram = max(
        ((cnt * len(g), g) for g, cnt in c.items()))
    dup = sum((cnt - 1) * len(g) for g, cnt in c.items() if cnt >= 2)
    r = lambda x: round(min(1.0, x / total), 6)  # noqa: E731
    return top_gram, r(top_mass), r(dup)


TEXTS = [
    "a b a b a b c",
    "x y z w v u t s",
    "q q q q q",
    "one two three four five one two three four five six",
    "hi",
    "spam spam spam spam spam spam spam spam spam spam",
]


def test_ngram_stats_fixed_values(spark):
    # 'a b a b a b c' (13 chars): 'a b'×3 (mass 9), 'b a'×2, 'b c'×1
    df = spark.createDataFrame([(0, TEXTS[0])], "doc_id long, text string")
    row = repetition_signals(df, top_ns=(2,), dup_ns=(2,)).collect()[0]
    assert row["top2_frac"] == pytest.approx(9 / 13, abs=1e-6)
    assert row["dup2_frac"] == pytest.approx(9 / 13, abs=1e-6)


def test_word_ngrams_shorter_than_n(spark):
    df = spark.createDataFrame([(0, "only two")], "doc_id long, text string")
    out = df.select(word_ngrams(F.col("text"), 5).alias("g")).collect()
    assert out[0]["g"] == []


def test_gopher_repetition_pass_flags_spam(spark):
    df = spark.createDataFrame(list(enumerate(TEXTS)),
                               "doc_id long, text string")
    got = {r["doc_id"]: r["rep_pass"]
           for r in gopher_repetition_pass(df).collect()}
    assert got[5] is False          # pure repetition
    assert got[4] is True           # too short to repeat → NULLs → pass
    assert got[3] is False          # dup5 = planted repeated 5-gram


# ---------------------------------------------------------------------------
# PII
# ---------------------------------------------------------------------------

def test_pii_fixed_expectations(spark):
    rows = [
        (0, "mail a.b-c@ex.co or x@y.io", 2, 0, 0,
         "mail [EMAIL] or [EMAIL]"),
        (1, "ip 192.168.0.1 end", 0, 1, 0, "ip [IP] end"),
        (2, "call 555-123-4567 now", 0, 0, 1, "call [PHONE] now"),
        (3, "intl +91 981-234-5678", 0, 0, 1, "intl [PHONE]"),
        (4, "clean text only", 0, 0, 0, "clean text only"),
        # dotted quad must NOT also count as a phone
        (5, "10.1.2.3", 0, 1, 0, "[IP]"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, *_ in rows],
                               "id long, text string")
    got = {r["id"]: r for r in df.select(
        "id",
        pii.email_count(F.col("text")).alias("e"),
        pii.ipv4_count(F.col("text")).alias("i"),
        pii.phone_count(F.col("text")).alias("p"),
        pii.redact_pii(F.col("text")).alias("r")).collect()}
    for i, _, e, ip, p, red in rows:
        assert (got[i]["e"], got[i]["i"], got[i]["p"]) == (e, ip, p), i
        assert got[i]["r"] == red, i


def test_pii_count_equals_token_count(spark):
    """The three span counts sum to the number of placeholder tokens
    ``redact_pii`` emits."""
    texts = ["a@b.io then 10.0.0.1 then 555-123-4567 and c@d.org",
             "+12 345-6789 overlap 1.2.3.4", "none"]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, t string")
    t = F.col("t")
    out = df.select(
        (pii.email_count(t) + pii.ipv4_count(t) + pii.phone_count(t))
        .alias("n"),
        (F.regexp_count(pii.redact_pii(F.col("t")),
                        F.lit(r"\[(EMAIL|IP|PHONE)\]"))).alias("tok"))
    for r in out.collect():
        assert r["n"] == r["tok"]


# ---------------------------------------------------------------------------
# paragraph dedup
# ---------------------------------------------------------------------------

def _pdf(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_paragraph_dedup_boilerplate_mode(spark):
    nl = "\n"
    df = _pdf(spark, [
        (0, nl.join(["body zero", "FOOTER", "ad block"])),
        (1, nl.join(["body one", "FOOTER", "ad block"])),
        (2, nl.join(["body two", "body two", "FOOTER"])),
    ])
    got = {r["doc_id"]: r for r in
           paragraph_dedup(df, max_docs=1).collect()}
    assert got[0]["text"] == "body zero"
    assert got[0]["n_paras"] == 3 and got[0]["n_removed"] == 2
    # within-doc repeat is NOT boilerplate (1 distinct doc)
    assert got[2]["text"] == "body two\nbody two"
    assert got[2]["n_removed"] == 1


def test_paragraph_dedup_first_mode_and_empty_doc(spark):
    nl = "\n"
    df = _pdf(spark, [
        (0, nl.join(["shared", "only zero"])),
        (1, "shared"),                       # fully deduped away
        (2, nl.join(["shared", "shared"])),
    ])
    got = {r["doc_id"]: r for r in
           paragraph_dedup(df, keep="first").collect()}
    assert got[0]["text"] == "shared\nonly zero"
    assert got[1]["text"] == "" and got[1]["n_removed"] == 1
    assert got[2]["text"] == "" and got[2]["n_removed"] == 2
    # every input doc comes back
    assert set(got) == {0, 1, 2}


def test_paragraph_dedup_carry_cols(spark):
    """carry_cols ride per-id metadata through the dedup (so callers
    like curate_docs need no join-back that would re-run the input
    lineage) — values unchanged, result rows otherwise identical."""
    nl = "\n"
    df = spark.createDataFrame(
        [(0, nl.join(["body zero", "FOOTER"]), "h0"),
         (1, nl.join(["body one", "FOOTER"]), "h1")],
        "doc_id long, text string, host string")
    got = {r["doc_id"]: r for r in
           paragraph_dedup(df, max_docs=1,
                           carry_cols=("host",)).collect()}
    assert got[0]["host"] == "h0" and got[1]["host"] == "h1"
    assert got[0]["text"] == "body zero"
    base = {r["doc_id"]: r for r in
            paragraph_dedup(df.select("doc_id", "text"),
                            max_docs=1).collect()}
    for i in (0, 1):
        assert got[i]["text"] == base[i]["text"]
        assert got[i]["n_removed"] == base[i]["n_removed"]


def test_paragraph_dedup_rejects_bad_mode(spark):
    df = _pdf(spark, [(0, "x")])
    with pytest.raises(ValueError):
        paragraph_dedup(df, keep="last")


def test_paragraph_sep_is_literal_not_regex(spark):
    """F.split takes a Java regex, but ``sep`` is documented literal —
    a regex-special separator ('|', '.') must still round-trip
    losslessly (split escapes it; array_join uses it verbatim)."""
    df = _pdf(spark, [
        (0, "alpha|FOOT|beta"),
        (1, "gamma|FOOT|delta"),
    ])
    got = {r["doc_id"]: r for r in
           paragraph_dedup(df, max_docs=1, sep="|").collect()}
    assert got[0]["text"] == "alpha|beta" and got[0]["n_removed"] == 1
    assert got[1]["text"] == "gamma|delta"
    # '.' as separator: unescaped it matches EVERY char (split → empties)
    df2 = _pdf(spark, [(0, "a.b"), (1, "c.b")])
    got2 = {r["doc_id"]: r["text"] for r in
            paragraph_dedup(df2, max_docs=1, sep=".").collect()}
    assert got2 == {0: "a", 1: "c"}


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

def test_ngram_contamination_bruteforce(spark, monkeypatch):
    docs = [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(30)))
            for i in range(40)]
    evals = [(0, docs[5][1]), (1, docs[11][1][:60])]
    ddf = _pdf(spark, docs)
    edf = spark.createDataFrame(evals, "id long, text string")
    for rows in (gates.BROADCAST_ROWS, 0):     # broadcast, then shuffle
        monkeypatch.setattr(gates, "BROADCAST_ROWS", rows)
        got = {r["doc_id"]: (r["hits"], r["contaminated"])
               for r in ngram_contamination(ddf, edf, n=5).collect()}
        egrams = set()
        for _, t in evals:
            w = t.split(" ")
            egrams |= {" ".join(w[i:i + 5]) for i in range(len(w) - 4)}
        for i, t in docs:
            w = t.split(" ")
            dg = {" ".join(w[i2:i2 + 5]) for i2 in range(len(w) - 4)}
            hits = len(dg & egrams)
            assert got[i] == (hits, hits >= 1), i
    # doc 5 is fully in the eval set
    assert got[5][1] is True


def test_contamination_spine_covers_all_docs(spark):
    ddf = _pdf(spark, [(0, "a b c"), (1, "totally unrelated words here")])
    edf = _pdf(spark, [(9, "a b c")])
    got = {r["doc_id"]: r["hits"] for r in ngram_contamination(
        ddf, edf, n=3).collect()}
    assert got == {0: 1, 1: 0}


# ---------------------------------------------------------------------------
# anchor text
# ---------------------------------------------------------------------------

def test_anchor_rows_strips_and_aligns(spark):
    html = ('<p><a href="https://X.com/a">One <i>two</i>\n three</a>'
            '<a href=\'/rel\'>four</a><a name="no-href">five</a></p>')
    df = spark.createDataFrame([("u", html, "src.net")],
                               "url string, html string, host string")
    got = anchor_rows(df).collect()
    assert [(r["href"], r["anchor"]) for r in got] == [
        ("https://X.com/a", "One two three"), ("/rel", "four")]


def test_anchor_term_stats_topk_and_host_resolution(spark):
    html = ('<a href="https://t.org/1">alpha beta</a>'
            '<a href="https://t.org/2">alpha gamma</a>'
            '<a href="/x">delta</a>')
    df = spark.createDataFrame([("u", html, "src.net")],
                               "url string, html string, host string")
    got = [(r["dst_host"], r["term"], r["n"])
           for r in anchor_term_stats(df, k=1)
           .orderBy("dst_host").collect()]
    assert got == [("src.net", "delta", 1), ("t.org", "alpha", 2)]


# ---------------------------------------------------------------------------
# review-fix pins (round 4 second pass)
# ---------------------------------------------------------------------------

def test_pii_quad_inside_email_counts_once(spark):
    """A dotted quad consumed by the email replacement must not also be
    reported as an IP — every count equals its emitted token count."""
    df = spark.createDataFrame(
        [(0, "write 1.2.3.4@example.com or ping 5.6.7.8")], "id long, t string")
    r = df.select(
        pii.email_count(F.col("t")).alias("e"),
        pii.ipv4_count(F.col("t")).alias("i"),
        pii.phone_count(F.col("t")).alias("p"),
        pii.redact_pii(F.col("t")).alias("red")).collect()[0]
    assert (r["e"], r["i"], r["p"]) == (1, 1, 0)
    assert r["red"] == "write [EMAIL] or ping [IP]"


def test_anchor_data_href_is_not_a_link(spark):
    html = ('<a id="z" data-href="https://evil.com/x">text</a>'
            '<a class=c href="https://ok.com/y">good</a>')
    df = spark.createDataFrame([("u", html, "s.net")],
                               "url string, html string, host string")
    got = [(r["href"], r["anchor"]) for r in anchor_rows(df).collect()]
    assert got == [("https://ok.com/y", "good")]


def test_anchor_unclosed_inner_a_truncates_foreign_text(spark):
    html = ('<a href="https://a.com/1">one '
            '<a href="https://b.com/2">two</a>')
    df = spark.createDataFrame([("u", html, "s.net")],
                               "url string, html string, host string")
    got = [(r["href"], r["anchor"]) for r in anchor_rows(df).collect()]
    # b.com's anchor text must not leak into a.com's row; the link
    # itself is still visible to link_rows/HREF_RE
    assert got == [("https://a.com/1", "one")]
    from ocr_devnagari_spark.functions.links import link_rows
    hrefs = {r["href"] for r in link_rows(
        df.select("url", "html")).collect()}
    assert hrefs == {"https://a.com/1", "https://b.com/2"}


def test_warc_iteration_on_nonseekable_stream():
    """Plain iteration must not call tell() (pipes are unseekable)."""
    import io

    from ocr_devnagari_spark.sources.warc import (
        iter_warc_records,
        warc_bytes,
    )

    class NoSeek(io.RawIOBase):
        def __init__(self, data):
            self._b = io.BytesIO(data)

        def readable(self):
            return True

        def readinto(self, b):
            return self._b.readinto(b)

        def seekable(self):
            return False

    data = warc_bytes([("http://x/a", "2024-01-01T00:00:00Z",
                        b"<html>a</html>", "response")], compress=False)
    recs = list(iter_warc_records(io.BufferedReader(NoSeek(data))))
    assert len(recs) == 1 and recs[0][0]["warc-target-uri"] == "http://x/a"


# ---------------------------------------------------------------------------
# blocklist / url spam signals
# ---------------------------------------------------------------------------

def test_blocklist_word_boundaries_and_phrases(spark):
    from ocr_devnagari_spark.functions.text import (
        blocklist_hits,
        blocklist_pass,
        blocklist_pattern,
    )
    terms = ["bad", "free money"]
    rows = [(0, "a bad day", 1), (1, "badge of honor", 0),
            (2, "FREE   money", 0),          # collapsed ws not matched
            (3, "free money now free money", 2),
            (4, "clean", 0)]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows],
                               "id long, t string")
    got = {r["id"]: (r["h"], r["k"]) for r in df.select(
        "id", blocklist_hits(F.col("t"), terms).alias("h"),
        blocklist_pass(F.col("t"), terms).alias("k")).collect()}
    for i, _, h in rows:
        assert got[i] == (h, h == 0), i
    # specials in terms are escaped, not regex-active
    pat = blocklist_pattern(["a.b+c"])
    df2 = spark.createDataFrame([(0, "a.b+c but not aXbbc")],
                                "id long, t string")
    assert df2.select(F.regexp_count(F.col("t"), F.lit(pat))
                      .alias("n")).collect()[0]["n"] == 1
    with pytest.raises(ValueError):
        blocklist_pattern([])
    # punctuation-edged terms must still match (no dead \\b next to
    # a non-word edge) and unicode terms fold case via lower()
    df3 = spark.createDataFrame(
        [(0, "total a$$ spam"), (1, "viel MÜLL hier"), (2, "classy")],
        "id long, t string")
    got3 = {r["id"]: r["n"] for r in df3.select(
        "id", blocklist_hits(F.col("t"), ["a$$", "müll", "class"])
        .alias("n")).collect()}
    assert got3 == {0: 1, 1: 1, 2: 0}


def test_url_spam_signals_fixed(spark):
    from ocr_devnagari_spark.functions.url import url_spam_signals
    rows = [
        (0, "https://t.com/a/b/a/b/x", 5, False, True),   # period-2 loop
        (1, "https://t.com/a/b/b/c", 4, False, True),     # stutter
        (2, "https://t.com/p?page=1&sid=9", 1, True, False),
        (3, "https://t.com/clean", 1, False, False),
        (4, "https://t.com/x/y/z/x", 4, False, False),    # period 3: pass
    ]
    df = spark.createDataFrame([(i, u) for i, u, *_ in rows],
                               "id long, u string")
    sig = url_spam_signals(F.col("u"))
    got = {r["id"]: r for r in df.select(
        "id", sig["depth"].alias("d"),
        sig["has_session_id"].alias("s"),
        sig["repeated_segment"].alias("r"),
        sig["n_params"].alias("p")).collect()}
    for i, _, d, s, rep in rows:
        assert (got[i]["d"], got[i]["s"], got[i]["r"]) == (d, s, rep), i
    assert got[2]["p"] == 2 and got[3]["p"] == 0


def test_repetition_signals_match_python_oracle(spark):
    """repetition_signals and the repetition_pass_expr gate against the
    test-local n-gram oracle over TEXTS plus a NULL and an empty row.
    NULL text and too-short docs give NULL signals; n=1 over '' has one
    empty gram but no characters to measure, which must give NULL too
    (not a 0/0)."""
    from ocr_devnagari_spark.functions.repetition import (
        repetition_pass_expr,
        repetition_signals,
    )
    rows = list(enumerate(TEXTS)) + [(90, None), (91, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def want(t, n, field):
        if t is None or t == "":
            return None
        exp = _py_ngram_stats(t, n)
        return None if exp is None else exp[1 if field == "top" else 2]

    got = {r["doc_id"]: r for r in repetition_signals(
        df, top_ns=(1, 2, 3), dup_ns=(1, 5)).collect()}
    assert set(got) == {i for i, _ in rows}
    for i, t in rows:
        for field, n in (("top", 1), ("top", 2), ("top", 3),
                         ("dup", 1), ("dup", 5)):
            assert got[i][f"{field}{n}_frac"] == want(t, n, field), \
                (i, field, n)
    assert got[91]["top1_frac"] is None

    def passes(t):
        sig = (want(t, 2, "top"), want(t, 3, "top"), want(t, 5, "dup"))
        return all(v is None or v <= lim
                   for v, lim in zip(sig, (0.20, 0.18, 0.15)))

    gate = {r["doc_id"]: r["p"] for r in df.select(
        "doc_id", repetition_pass_expr(F.col("text")).alias("p"))
        .collect()}
    assert gate == {i: passes(t) for i, t in rows}
    assert gate[5] is False and gate[90] is True


def test_round6_matches_engine_rounding_on_tie_quotients(spark):
    """Quotients like 3/640 round differently under exact-binary
    quantization vs the engines' shortest-repr HALF_UP — pin the fix."""
    from ocr_devnagari_spark.functions.repetition import _round6
    for num, den in [(3, 640), (7, 640), (17, 640), (105, 640),
                     (164_0625, 1_000_0000)]:
        x = num / den
        eng = spark.sql(f"SELECT round(CAST({num} AS DOUBLE) / {den}, 6) "
                        "AS r").collect()[0]["r"]
        assert _round6(x) == eng, (num, den)


def test_lang_confidence_share(spark):
    from ocr_devnagari_spark.functions.text import lang_id, lang_scores
    rows = [(0, "the and of to in is that"),        # pure en -> 1.0
            (1, "the der le el"),                   # 4-way split -> 0.25
            (2, "zzz qqq")]                         # no hits -> 0.0
    df = spark.createDataFrame(rows, "id long, text string")
    scores = lang_scores(F.col("text"))
    mx = F.greatest(*scores.values())
    tot = sum(scores.values())
    share = F.round(F.when(tot > 0, mx.cast("double") / tot)
                    .otherwise(F.lit(0.0)), 6)
    got = {r["id"]: (r["l"], r["s"]) for r in df.select(
        "id", lang_id(F.col("text")).alias("l"),
        share.alias("s")).collect()}
    assert got[0] == ("en", 1.0)
    assert got[1][1] == 0.25
    assert got[2] == ("und", 0.0)


def test_ngram_contamination_bloom_parity(spark, monkeypatch):
    from ocr_devnagari_spark.operators.paragraphs import _bloom_prefilter
    docs = [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(30)))
            for i in range(40)]
    evals = [(0, docs[5][1]), (1, docs[11][1][:60])]
    ddf = _pdf(spark, docs)
    edf = spark.createDataFrame(evals, "id long, text string")
    monkeypatch.setattr(gates, "BROADCAST_ROWS", 0)
    plain = sorted(map(tuple, ngram_contamination(
        ddf, edf, n=5).collect()))
    bloom = sorted(map(tuple, ngram_contamination(
        ddf, edf, n=5, prefilter="bloom").collect()))
    assert plain == bloom
    # no false negatives by construction: every eval gram passes its
    # own membership test even at a deliberately tiny bitset
    from ocr_devnagari_spark.functions.repetition import word_ngrams
    from pyspark.sql import functions as F
    egrams = (edf.select(F.explode(word_ngrams(F.col("text"), 5))
                         .alias("gram")).distinct())
    tagged = egrams.select(F.lit(0).alias("doc_id"), "gram")
    kept = _bloom_prefilter(tagged, egrams, n_eval=egrams.count())
    assert kept.count() == egrams.count()
    import pytest
    with pytest.raises(ValueError, match="unknown prefilter"):
        ngram_contamination(ddf, edf, prefilter="nope")
