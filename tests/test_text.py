"""Text-analysis operator unit tests."""

import ast
import pathlib
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from mwas_rfam_spark.operators.text import text_profile, tokens, word_ngrams

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "mwas_rfam_spark"

ROWS = [
    (1, "the cat and the dog sat in the garden of the house"),  # english
    (2, "le chat et le chien sont dans le jardin de la maison"),  # french
    (3, "el perro y el gato en el jardin de la casa es bonito"),  # spanish
    (4, ""),  # empty
    (5, "!!! ??? ;;; ::: ,,,"),  # all punctuation
    (6, "x" * 50),  # one giant token
]


@pytest.fixture(scope="module")
def profile(spark):
    docs = spark.createDataFrame(ROWS, ["doc_id", "text"])
    return {r["doc_id"]: r for r in text_profile(docs).collect()}


def test_lang_id_heuristic(profile):
    assert profile[1]["lang_pred"] == "en"
    assert profile[2]["lang_pred"] == "fr"
    assert profile[3]["lang_pred"] == "es"


def test_token_counts(profile):
    assert profile[1]["n_tokens"] == 12
    assert profile[4]["n_tokens"] == 0
    assert profile[6]["n_tokens"] == 1
    # BPE-ish segmentation counts punctuation marks individually
    assert profile[5]["n_pieces"] == 15


def test_quality_score_ordering(profile):
    # clean prose scores above pure punctuation and above empty
    assert profile[1]["quality"] > profile[5]["quality"]
    assert profile[1]["quality"] > profile[4]["quality"]
    assert 0.0 <= profile[1]["quality"] <= 1.0


def test_punct_ratio(profile):
    assert profile[5]["punct_ratio"] > 0.5
    assert profile[1]["punct_ratio"] == 0.0


def test_fingerprint_stability(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "other words here now")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in text_profile(docs).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_text_profile_single_split(spark):
    """The profile must tokenize each document exactly once: one `split`
    (the whitespace tokenizer) and one `transform` (its lowercased mirror)
    in the optimized plan. Guards against CollapseProject re-inlining the
    tokenizer into every metric (the 5-splits-per-document regression)."""
    docs = spark.createDataFrame(ROWS, ["doc_id", "text"])
    plan = text_profile(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    assert plan.count("transform(") == 1, plan


def test_vocabulary_topk(spark):
    from mwas_rfam_spark.operators.text import vocabulary_topk

    docs = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "the dog runs"), (3, "a cat sleeps")],
        ["doc_id", "text"],
    )
    rows = {r["token"]: r for r in vocabulary_topk(docs, k=3).collect()}
    assert rows["the"]["tf"] == 3 and rows["the"]["df"] == 2
    assert rows["the"]["rank"] == 1
    assert rows["cat"]["tf"] == 2 and rows["cat"]["df"] == 2
    assert rows["dog"]["tf"] == 2 and rows["dog"]["df"] == 2
    assert {r["rank"] for r in rows.values()} == {1, 2, 3}


def test_redact_pii(spark):
    """Typed placeholders, applied in an order that keeps an email's
    digits away from the phone pattern; counts per doc."""
    from mwas_rfam_spark.operators.text import redact_pii_docs

    rows = [
        (1, "mail me at jane.doe+x@example.co.uk or call 555-867-5309"),
        (2, "server 10.0.0.1 and (212) 555-0199 and 123-45-6789"),
        (3, "no pii here, just 12345 and v1.2.3"),
        (4, ""),
    ]
    out = {
        r["doc_id"]: r  # id_col preserved since the r11 fix
        for r in redact_pii_docs(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1]["text"] == "mail me at [EMAIL] or call [PHONE]"
    assert out[1]["n_redactions"] == 2
    assert out[2]["text"] == "server [IP] and [PHONE] and [SSN]"
    assert out[2]["n_redactions"] == 3
    assert out[3]["text"] == rows[2][1] and out[3]["n_redactions"] == 0
    assert out[4]["n_redactions"] == 0


def test_bigram_logprob_matches_hand_model(spark):
    """Tiny corpus where add-one bigram probabilities are computable by
    hand; fluent repetition must outscore unseen-word garbage."""
    import math

    from mwas_rfam_spark.operators.text import bigram_logprob, train_bigram_counts

    corpus = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran"), (3, "the dog sat")],
        ["doc_id", "text"],
    )
    bigrams, unigrams = train_bigram_counts(corpus)
    bg = {(r["w1"], r["w2"]): r["cnt"] for r in bigrams.collect()}
    un = {r["w1"]: r["cnt"] for r in unigrams.collect()}
    assert bg[("<s>", "the")] == 3 and bg[("the", "cat")] == 2
    assert un["<s>"] == 3 and un["the"] == 3 and un["cat"] == 2

    # V = distinct w2 in the model = {the, cat, dog, sat, ran} = 5
    scored = bigram_logprob(corpus, bigrams, unigrams)
    got = {r["id"]: r for r in scored.collect()}
    # doc 1 "the cat sat": bigrams (<s>,the)(the,cat)(cat,sat)
    expect = (
        math.log2((3 + 1) / (3 + 5))
        + math.log2((2 + 1) / (3 + 5))
        + math.log2((1 + 1) / (2 + 5))
    ) / 3
    assert got[1]["n_bigrams"] == 3
    assert abs(got[1]["mean_log2p"] - expect) < 1e-12

    # unseen-word garbage scores strictly lower than an in-domain doc
    test_docs = spark.createDataFrame(
        [(10, "the cat sat"), (11, "zz qq ww")], ["doc_id", "text"]
    )
    s = {r["id"]: r["mean_log2p"] for r in bigram_logprob(test_docs, bigrams, unigrams).collect()}
    assert s[10] > s[11]


def test_repetition_profile_hand_computed(spark):
    from mwas_rfam_spark.operators.text import repetition_profile

    docs = spark.createDataFrame(
        [
            (1, "a b\na b\nc d"),    # repeated line "a b"; repeated 2-gram "a b"
            (2, "x y x y x y"),      # one line; "x y" x3 overlaps "y x" x2
            (3, ""),                 # empty doc -> all fractions 0
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in repetition_profile(
            docs, ngram_sizes=(2,), dup_ngram_sizes=(2,)
        ).collect()
    }

    # doc 1: chars=11, lines ["a b","a b","c d"], tokens [a,b,a,b,c,d]
    d1 = out[1]
    assert d1["n_lines"] == 3
    assert d1["dup_line_frac"] == pytest.approx(2 / 3)
    assert d1["dup_line_char_frac"] == pytest.approx(2 * 3 / 11)
    # 2-grams: "a b" x2, "b a" x1, "b c" x1, "c d" x1
    assert d1["top2gram_char_frac"] == pytest.approx(2 * 3 / 11)
    assert d1["dup2gram_char_frac"] == pytest.approx(2 * 3 / 11)

    # doc 2: chars=11, one unrepeated line; 2-grams "x y" x3, "y x" x2 —
    # overlapping occurrences double-count chars (standard approximation),
    # so the dup fraction may exceed 1.
    d2 = out[2]
    assert d2["n_lines"] == 1
    assert d2["dup_line_frac"] == 0.0
    assert d2["top2gram_char_frac"] == pytest.approx(3 * 3 / 11)
    assert d2["dup2gram_char_frac"] == pytest.approx((3 * 3 + 2 * 3) / 11)

    # doc 3: empty — no content lines since the r11 blank-line fix,
    # zero tokens, every fraction 0
    d3 = out[3]
    assert d3["n_lines"] == 0
    for k, v in d3.items():
        if k.endswith("_frac"):
            assert v == 0.0, k


def test_repetition_profile_short_docs_and_defaults(spark):
    """Docs shorter than the gram size produce zero grams (not an error),
    and the default column set is the Gopher table-A1 shape."""
    from mwas_rfam_spark.operators.text import repetition_profile

    docs = spark.createDataFrame(
        [(1, "one two three"), (2, "solo")], "doc_id long, text string"
    )
    out = repetition_profile(docs)
    cols = set(out.columns)
    assert cols == {
        "doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac",
        "top2gram_char_frac", "top3gram_char_frac", "top4gram_char_frac",
        "dup5gram_char_frac", "dup10gram_char_frac",
    }
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    # 3-token doc: no 5-grams or 10-grams exist -> 0.0; top3gram covers
    # the whole doc once (cnt=1, len("one two three")=13, chars=13)
    assert rows[1]["dup5gram_char_frac"] == 0.0
    assert rows[1]["top3gram_char_frac"] == pytest.approx(1.0)
    assert rows[2]["top2gram_char_frac"] == 0.0


def test_decontaminate_planted_overlap(spark):
    """A training doc sharing a full 3-gram window with the benchmark is
    flagged; disjoint docs are not; too-short docs appear with zero
    shingles and contaminated=False."""
    from mwas_rfam_spark.operators.text import decontaminate

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),        # shares "alpha beta gamma"
            (2, "one two three four five"),       # disjoint
            (3, "hi"),                            # < n tokens: no shingles
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma epsilon")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r.asDict()
           for r in decontaminate(train, bench, n=3, threshold=0.5).collect()}
    assert set(out) == {1, 2, 3}
    # doc 1: shingles {"alpha beta gamma", "beta gamma delta"} -> 1/2 hit
    assert out[1]["n_shingles"] == 2 and out[1]["n_contaminated"] == 1
    assert out[1]["contamination"] == pytest.approx(0.5)
    assert out[1]["contaminated"] is True  # >= threshold (boundary)
    assert out[2]["n_contaminated"] == 0 and out[2]["contaminated"] is False
    assert out[3]["n_shingles"] == 0 and out[3]["contaminated"] is False
    assert out[3]["contamination"] == 0.0


def test_decontaminate_broadcast_off_matches_and_validates(spark):
    """broadcast_benchmark=False (the giant-benchmark shuffle path) gives
    identical results; a bad threshold raises."""
    from mwas_rfam_spark.operators.text import decontaminate

    docs = spark.range(0, 40).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', 'w', CAST(id % 7 AS STRING), 'x', CAST(id % 3 AS STRING), "
        "'y', CAST(id % 5 AS STRING)) AS text",
    )
    bench = docs.where("doc_id % 10 = 0")
    train = docs.where("doc_id % 10 != 0")
    a = sorted(decontaminate(train, bench, n=4, threshold=0.1).collect())
    b = sorted(
        decontaminate(train, bench, n=4, threshold=0.1,
                      broadcast_benchmark=False).collect()
    )
    assert a == b and len(a) == 36
    with pytest.raises(ValueError):
        decontaminate(train, bench, threshold=1.5)


def test_decontaminate_self_identity(spark):
    """Decontaminating a corpus against itself: every doc with at least
    one shingle is 100% contaminated; shingle-less docs stay at 0."""
    from mwas_rfam_spark.operators.text import decontaminate

    docs = spark.range(0, 30).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 7 = 0 THEN 'x' ELSE concat_ws(' ', 'a', CAST(id AS STRING), "
        "'b', CAST(id % 4 AS STRING), 'c', 'd') END AS text",
    )
    out = decontaminate(docs, docs, n=3, threshold=0.5).collect()
    assert len(out) == 30
    for r in out:
        if r["n_shingles"] > 0:
            assert r["contamination"] == 1.0 and r["contaminated"] is True
        else:
            assert r["contamination"] == 0.0 and r["contaminated"] is False


def test_strip_markup(spark):
    from mwas_rfam_spark.operators.text import strip_markup

    docs = spark.createDataFrame(
        [
            (1, "<html><head><style>p {color: red}</style></head>"
                "<body><p>Hello <b>world</b></p><!-- hidden -->"
                "<script>var x = 'evil';</script>Bye &amp; good &lt;night&gt;</body>"),
            (2, "no markup at all"),
            (3, "<p>unclosed"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["clean"]
           for r in docs.select("doc_id", strip_markup(F.col("text")).alias("clean")).collect()}
    assert out[1] == "Hello world Bye & good <night>"
    assert out[2] == "no markup at all"
    assert out[3] == "unclosed"


def test_tfidf_top_terms(spark):
    """Hand-checked tf-idf: corpus-ubiquitous tokens get near-zero idf,
    document-unique tokens rank first; rank is dense 1..k per doc."""
    import math

    from mwas_rfam_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common rare1 common common"),
            (2, "common rare2"),
            (3, "common rare2 rare2"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k_per_doc=2)
    rows = {(r["doc_id"], r["token"]): r for r in out.collect()}
    # doc 1: rare1 tf=1 df=1 -> 1*ln(4/2); common tf=3 df=3 -> 3*ln(4/4)=0
    assert rows[(1, "rare1")]["rank"] == 1
    assert abs(rows[(1, "rare1")]["tfidf"] - math.log(2.0)) < 1e-6
    assert rows[(1, "common")]["tfidf"] == 0.0
    # doc 3: rare2 tf=2 df=2 -> 2*ln(4/3) beats common's 0
    assert rows[(3, "rare2")]["rank"] == 1
    assert abs(rows[(3, "rare2")]["tfidf"] - 2 * math.log(4 / 3)) < 1e-6
    per_doc = {d: sorted(r["rank"] for (dd, t), r in rows.items() if dd == d)
               for d in (1, 2, 3)}
    assert all(v == list(range(1, len(v) + 1)) for v in per_doc.values())


def test_tfidf_matches_duckdb(spark, sf_dir):
    """TF-IDF top terms replayed in DuckDB SQL over the same parquet:
    identical (doc, token, tf, df, tfidf, rank) rows. Rank ties are
    broken by token asc on both sides, so the comparison is exact."""
    import duckdb

    from mwas_rfam_spark.operators.text import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    got = {
        (r["doc_id"], r["token"]): (r["tf"], r["df"], r["tfidf"], r["rank"])
        for r in tfidf_top_terms(docs, k_per_doc=5).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW docs AS SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    )
    want = {
        (r[0], r[1]): (r[2], r[3], r[4], r[5])
        for r in con.sql(
            """
            WITH toks AS (
              SELECT doc_id, t.tok AS token
              FROM docs, LATERAL unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(tok)
              WHERE t.tok <> ''),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
            dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n FROM docs),
            scored AS (
              SELECT tf.doc_id, tf.token, tf.tf, dfr.df,
                     round(tf.tf * ln((n.n + 1) / CAST(dfr.df + 1 AS DOUBLE)), 6) AS tfidf,
                     tf.tf * ln((n.n + 1) / CAST(dfr.df + 1 AS DOUBLE)) AS raw
              FROM tf JOIN dfr USING (token), n)
            SELECT doc_id, token, tf, df, tfidf,
                   CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY raw DESC, token ASC) AS BIGINT) AS rank
            FROM scored
            QUALIFY rank <= 5
            """
        ).fetchall()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_normalize_unicode_docs(spark):
    """Unicode hygiene kernel: mojibake repaired, NFC composition,
    control/zero-width strip, NULL passthrough, clean text untouched,
    flags accurate."""
    import unicodedata

    from mwas_rfam_spark.operators.text import normalize_unicode_docs

    decomposed = "café"  # e + combining acute
    rows = [
        (1, "cafÃ© au lait â€” naÃ¯ve"),  # mojibake
        (2, decomposed),
        (3, "plain ascii text"),
        (4, None),
        (5, "zero​width and ﻿bom and ctrl\x07bell"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in normalize_unicode_docs(docs).collect()}

    assert got[1]["text"] == "café au lait — naïve"
    assert got[1]["was_mojibake"] and got[1]["was_changed"]
    assert got[2]["text"] == "café" and got[2]["was_changed"]
    assert not got[2]["was_mojibake"]
    assert got[3]["text"] == "plain ascii text" and not got[3]["was_changed"]
    assert got[4]["text"] is None and not got[4]["was_changed"]
    assert got[5]["text"] == "zerowidth and bom and ctrlbell"
    assert got[5]["was_changed"] and not got[5]["was_mojibake"]

    # schema: original columns + the two flags
    assert normalize_unicode_docs(docs).columns == [
        "doc_id", "text", "was_mojibake", "was_changed"
    ]

    import pytest

    with pytest.raises(ValueError, match="form"):
        normalize_unicode_docs(docs, form="NFX")

    # NFKC folds compatibility forms (fullwidth digits)
    wide = spark.createDataFrame([(1, "１２３")], "doc_id long, text string")
    assert normalize_unicode_docs(wide, form="NFKC").first()["text"] == "123"


def test_normalize_unicode_idempotent_property():
    """Property: normalize(normalize(x)) == normalize(x) for arbitrary
    text incl. mojibake-marker-bearing strings, and clean NFC ASCII is
    a fixpoint with no flags."""
    import unicodedata

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mwas_rfam_spark.operators.text import _fix_mojibake_str

    @given(st.text(max_size=200))
    @settings(max_examples=200, deadline=None)
    def check(t):
        once, _ = _fix_mojibake_str(t)
        once = unicodedata.normalize("NFC", once)
        twice, again = _fix_mojibake_str(once)
        # a second repair pass must not fire on already-repaired text
        # unless the ORIGINAL text legitimately still contains markers
        # that cannot round-trip (then it is a no-op anyway)
        assert unicodedata.normalize("NFC", twice) == once or not again

    check()


def test_normalize_unicode_strip_before_compose_and_reapply(spark):
    """Review regressions: an invisible code point BETWEEN a base and
    its combining mark must still yield composed output (strip runs
    before NFC), and applying the operator to its own output is a
    schema-stable no-op (flag columns replaced, not duplicated)."""
    from mwas_rfam_spark.operators.text import normalize_unicode_docs

    tricky = "e​́"  # base + ZWSP + combining acute
    docs = spark.createDataFrame([(1, tricky)], "doc_id long, text string")
    once = normalize_unicode_docs(docs)
    r1 = once.first()
    assert r1["text"] == "é"  # composed, not e + U+0301

    twice = normalize_unicode_docs(once)
    assert twice.columns == ["doc_id", "text", "was_mojibake", "was_changed"]
    r2 = twice.first()
    assert r2["text"] == "é" and not r2["was_changed"]


def test_curate_normalize_unicode_composition(spark):
    """normalize_unicode=True makes byte-different spellings of the
    same text dedup together inside curate_corpus — the composition the
    operator exists for (without it the mojibake twin survives)."""
    from mwas_rfam_spark.operators.curation import curate_corpus

    base = "the quick brown fox jumps over the lazy dog again and again"
    moji = base.replace("again and again", "again and again cafÃ©")
    clean = base.replace("again and again", "again and again café")
    docs = spark.createDataFrame(
        [(1, clean), (2, moji), (3, base + " other tail")],
        "doc_id long, text string",
    )
    plain = curate_corpus(docs, min_tokens=3, redact=False)
    assert plain.count() == 3  # mojibake twin is byte-different: both survive

    normed = curate_corpus(docs, min_tokens=3, redact=False, normalize_unicode=True)
    rows = {r["doc_id"]: r["text"] for r in normed.collect()}
    assert len(rows) == 2 and 3 in rows
    assert 1 in rows  # keep-FIRST: the lowest-id twin survives
    assert all("Ã" not in t for t in rows.values())

    # the benchmark side normalizes too: a mojibake training doc is
    # caught by a clean-spelled benchmark (and vice versa), which a
    # one-sided repair would miss
    bench = spark.createDataFrame([(100, clean)], "doc_id long, text string")
    decon = curate_corpus(
        spark.createDataFrame([(2, moji)], "doc_id long, text string"),
        benchmark=bench,
        min_tokens=3,
        redact=False,
        normalize_unicode=True,
        decontam_n=4,
        decontam_threshold=0.05,
    )
    assert decon.count() == 0  # contaminated doc dropped


def test_compression_ratio_signal(spark):
    """zlib ratio separates repetitive from natural-ish text; hand-pinned
    against direct zlib; null/empty rows preserved with NULL ratio."""
    import zlib

    from mwas_rfam_spark.operators.text import compression_ratio

    natural = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "zebras argue about quantum chromodynamics near a vending machine"
    )
    spammy = "buy cheap pills now " * 40
    docs = spark.createDataFrame(
        [(1, natural), (2, spammy), (3, None), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    assert len(got) == 4
    for doc_id, t in ((1, natural), (2, spammy)):
        raw = t.encode()
        want = len(raw) / len(zlib.compress(raw, 6))
        assert got[doc_id]["compression_ratio"] == want
        assert got[doc_id]["n_bytes"] == len(raw)
    assert got[2]["compression_ratio"] > 3 * got[1]["compression_ratio"]
    assert got[3]["compression_ratio"] is None and got[3]["n_bytes"] == 0
    assert got[4]["compression_ratio"] is None

    # review regressions: non-default id_col, string ids, NULL ids, and
    # multibyte text (n_bytes is BYTES, what zlib saw)
    cjk = "\u4e16\u754c" * 50
    other = spark.createDataFrame(
        [("a", cjk), (None, "plain text here")], "uid string, body string"
    )
    rows = {
        r["uid"]: r
        for r in compression_ratio(other, text_col="body", id_col="uid").collect()
    }
    assert rows["a"]["n_bytes"] == len(cjk.encode("utf-8"))  # 3 bytes/char
    assert rows[None]["compression_ratio"] is not None  # null id preserved


def test_text_r11_review_guards(spark):
    """r11 review findings (verified before fixing): blank lines counted
    as duplicate groups (normal multi-paragraph prose failed the Gopher
    dup-line gate); top-n-gram coverage picked max(cnt*len) instead of
    the MOST FREQUENT gram; NULL text NULL-propagated through every
    count and outscored empty docs; CR/FF deletion glued words; &amp;
    decoded before &lt; double-decoded escaped entities; '(212)555-0199'
    phones were never redacted; redact_pii_docs renamed the id column
    and emitted NULL counts for NULL text."""
    import math

    from mwas_rfam_spark.operators.text import (
        normalize_unicode_docs,
        quality_score,
        redact_pii_docs,
        repetition_profile,
        strip_markup,
        token_count,
    )

    para = "Some opening prose here.\n\nA second paragraph follows.\n\nAnd a third one."
    docs = spark.createDataFrame(
        [(1, para),
         (2, "aa bb aa bb aa bb superlongtoken anotherverylongtoken"),
         (3, ""), (4, None)],
        "doc_id long, text string",
    )
    prof = {r["doc_id"]: r for r in repetition_profile(docs, ngram_sizes=[2]).collect()}
    assert prof[1]["dup_line_frac"] == 0.0  # blank separators excluded
    assert prof[1]["n_lines"] == 3
    # most-frequent 2-gram is 'aa bb' (cnt 3): 15/53, not the long one-off
    assert abs(prof[2]["top2gram_char_frac"] - 15 / 53) < 1e-9
    assert prof[3]["dup_line_frac"] == 0.0 and prof[3]["n_lines"] == 0
    assert 4 in prof  # NULL text keeps its profile row

    # NULL text counts 0 tokens and scores like empty text
    sc = docs.select("doc_id", token_count(F.col("text")).alias("n"),
                     quality_score(F.col("text")).alias("q")).collect()
    by = {r["doc_id"]: r for r in sc}
    assert by[4]["n"] == 0 and by[3]["n"] == 0
    assert abs(by[4]["q"] - by[3]["q"]) < 1e-12

    # entity decode order + separator-class controls
    m = spark.createDataFrame([(1, "a &amp;lt; b"), (2, "x &lt; y")],
                              "doc_id long, text string")
    got = {r["doc_id"]: r["s"] for r in
           m.select("doc_id", strip_markup(F.col("text")).alias("s")).collect()}
    assert got[1] == "a &lt; b" and got[2] == "x < y"
    ctrl = spark.createDataFrame([(1, "line one\rline two")], "doc_id long, text string")
    fixed = normalize_unicode_docs(ctrl).collect()[0]["text"]
    assert "oneline" not in fixed and "one line" in fixed

    # phone w/o separator after (ddd); id name + NULL count preserved
    pii = spark.createDataFrame(
        [(1, "call (212)555-0199 now"), (2, None)], "doc_id long, text string"
    )
    red = {r["doc_id"]: r for r in redact_pii_docs(pii).collect()}
    assert "[PHONE]" in red[1]["text"] and red[1]["n_redactions"] == 1
    assert red[2]["n_redactions"] == 0


# --- the one whitespace tokenizer and the one word-n-gram builder ----------

# NULL, empty, a trailing newline, every ASCII whitespace character, fewer
# tokens than n, and characters Java's \s does not split on (NBSP, \x1c)
EDGE_ROWS = [
    (1, None),
    (2, ""),
    (3, "a b\n"),
    (4, " \t\nx  y\x0bz\fw\r v\n\n"),
    (5, "One two"),
    (6, "solo"),
    (7, "a b a b a b c d e f"),
    (8, "\u00a0nbsp\u00a0inside p\x1cq r"),
]


def ref_tokens(text):
    """Pure-Python reference: split on ASCII whitespace, drop empties."""
    return [t for t in re.split(r"[ \t\n\x0b\f\r]+", text or "") if t]


def ref_ngrams(text, n):
    toks = ref_tokens(text)
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")


def test_tokens_and_word_ngrams_match_the_reference(edge_docs):
    ns = (1, 2, 3, 5)
    out = edge_docs.select("doc_id", "text", tokens(F.col("text")).alias("toks")).select(
        "text", "toks", *[word_ngrams("toks", n).alias(f"g{n}") for n in ns]
    )
    for r in out.collect():
        assert r["toks"] == ref_tokens(r["text"]), r["text"]
        for n in ns:
            assert r[f"g{n}"] == ref_ngrams(r["text"], n), (r["text"], n)


def test_ngram_consumers_match_the_reference(edge_docs):
    """Positional n-grams, BM25 tokens and the repetition profile's gram
    statistics, all against the reference."""
    from mwas_rfam_spark.operators.dedup import _positional_ngrams
    from mwas_rfam_spark.operators.retrieval import _lowered_tokens
    from mwas_rfam_spark.operators.text import repetition_profile

    texts = dict(EDGE_ROWS)
    for n in (1, 3, 5):
        got = {}
        for r in _positional_ngrams(edge_docs, n, "text", "doc_id").collect():
            got.setdefault(r["id"], []).append((r["pos"], r["span"]))
        want = {i: list(enumerate(ref_ngrams(t, n), 1)) for i, t in texts.items()}
        assert {i: sorted(v) for i, v in got.items()} == {i: v for i, v in want.items() if v}

    for r in edge_docs.select("doc_id", _lowered_tokens("text").alias("bm25")).collect():
        assert r["bm25"] == ref_tokens((texts[r["doc_id"]] or "").lower())

    profile = repetition_profile(edge_docs, ngram_sizes=(1, 3), dup_ngram_sizes=(1, 5))
    for r in profile.collect():
        text = texts[r["doc_id"]] or ""
        chars = max(len(text), 1)
        for n in (1, 3):
            counts = Counter(ref_ngrams(text, n))
            top = max(((c, c * len(g)) for g, c in counts.items()), default=(0, 0))[1]
            assert r[f"top{n}gram_char_frac"] == pytest.approx(top / chars), (text, n)
        for n in (1, 5):
            dup = sum(c * len(g) for g, c in Counter(ref_ngrams(text, n)).items() if c >= 2)
            assert r[f"dup{n}gram_char_frac"] == pytest.approx(dup / chars), (text, n)


def _body(path, name):
    fn = next(
        node for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == name
    )
    return range(fn.lineno, fn.end_lineno + 1)


def _called(node):
    return isinstance(node, ast.Call) and getattr(node.func, "attr", getattr(node.func, "id", None))


def test_one_tokenizer_and_one_ngram_builder_in_the_package():
    """Text is split on ``\\s+`` only in text.tokens (tokenize.py's BPE
    pre-split on Unicode whitespace is another tokenizer), and word
    n-grams are rendered only in text.word_ngrams. An n-gram rendering is a
    concat_ws/array_join over element_at/slice inside a per-position
    lambda, in Python or in SQL text."""
    text_py = PACKAGE / "operators" / "text.py"
    allowed = {(text_py, n) for name in ("tokens", "word_ngrams") for n in _body(text_py, name)}
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, (ast.Constant, ast.JoinedStr)):
                sql = "".join(
                    v.value if isinstance(v, ast.Constant) else "{}"
                    for v in (node.values if isinstance(node, ast.JoinedStr) else [node])
                    if isinstance(v, ast.FormattedValue) or isinstance(v.value, str)
                )
                if re.search(r"\bsplit\(.*'\\+s\+'", sql) or (
                    "->" in sql
                    and re.search(r"concat_ws\(\s*' '|array_join\(", sql)
                    and re.search(r"\b(element_at|slice)\(", sql)
                ):
                    hits.append((path, node.lineno))
            elif _called(node) == "split" and any(
                isinstance(a, ast.Constant) and a.value == r"\s+" for a in node.args
            ):
                hits.append((path, node.lineno))
            elif isinstance(node, ast.Lambda):
                hits += [
                    (path, call.lineno)
                    for call in ast.walk(node.body)
                    if _called(call) in ("concat_ws", "array_join")
                    and any(_called(sub) in ("element_at", "slice") for sub in ast.walk(call))
                ]
    assert [f"{p.relative_to(PACKAGE)}:{n}" for p, n in hits if (p, n) not in allowed] == []
