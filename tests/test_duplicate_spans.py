"""Exact duplicate-span detection/removal (Lee et al. 2021 re-expressed
relationally): hand-built corpora where the answer is known, DuckDB
cross-engine parity on the real documents table, and removal invariants
(coverage merging, order preservation, empty-doc survival)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mwas_rfam_spark.operators.dedup import duplicate_spans, strip_duplicate_spans


def test_hand_built_spans(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a quick brown fox jumps far away"),
            (3, "quick brown fox jumps over fences daily"),
            (4, "completely unrelated text here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["span"]: (r["n_occurrences"], r["n_docs"])
        for r in duplicate_spans(docs, n=4, min_occurrences=2).collect()
    }
    # "quick brown fox jumps" appears in docs 1, 2, 3
    assert out["quick brown fox jumps"] == (3, 3)
    # "brown fox jumps over" in docs 1 and 3
    assert out["brown fox jumps over"] == (2, 2)
    assert all(cnt >= 2 for cnt, _ in out.values())


def test_within_doc_repeat_counts_occurrences(spark):
    docs = spark.createDataFrame(
        [(1, "ha ha ha ha ha")], ["doc_id", "text"]
    )
    out = duplicate_spans(docs, n=2, min_occurrences=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r["span"] == "ha ha" and r["n_occurrences"] == 4 and r["n_docs"] == 1
    # examples are the rank-capped smallest (doc, pos) pairs
    assert [(e["doc_id"], e["pos"]) for e in r["examples"]] == [(1, 1), (1, 2), (1, 3)]
    assert r["examples_truncated"]


def test_matches_duckdb(spark, sf_dir):
    got = {
        r["span"]: (r["n_occurrences"], r["n_docs"])
        for r in duplicate_spans(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            n=5,
            min_occurrences=2,
        ).collect()
    }
    con = duckdb.connect()
    want = {
        r[0]: (r[1], r[2])
        for r in con.sql(
            f"""
            WITH toks AS (
              -- list_filter mirrors text.tokens: boundary empties from
              -- non-space whitespace must not fabricate phantom grams
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS t
              FROM '{sf_dir}/documents.parquet'),
            grams AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
                            i -> array_to_string(list_slice(t, i, i + 4), ' ')))
                         AS span
              FROM toks WHERE len(t) >= 5)
            SELECT span, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
            FROM grams GROUP BY 1 HAVING count(*) >= 2
            """
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_strip_removes_exactly_covered_tokens(spark):
    docs = spark.createDataFrame(
        [
            (1, "intro words SPAM SPAM SPAM SPAM closing words"),
            (2, "other start SPAM SPAM SPAM SPAM trailing bit"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["text"]
        for r in strip_duplicate_spans(docs, n=4, min_occurrences=2).collect()
    }
    assert out[1] == "intro words closing words"
    assert out[2] == "other start trailing bit"


def test_strip_merges_overlapping_coverage(spark):
    """A run longer than n produces overlapping duplicate occurrences;
    coverage must union them (cut the whole run), not double-cut."""
    docs = spark.createDataFrame(
        [(1, "x x x x x tail1"), (2, "x x x x x tail2")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["text"]
        for r in strip_duplicate_spans(docs, n=3, min_occurrences=2).collect()
    }
    assert out == {1: "tail1", 2: "tail2"}


def test_strip_keeps_unaffected_docs_and_empties(spark):
    docs = spark.createDataFrame(
        [
            (1, "common phrase here padding"),
            (2, "common phrase here other"),
            (3, "totally unique content"),
            (4, "common phrase here"),  # fully covered -> empty
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["text"]
        for r in strip_duplicate_spans(docs, n=3, min_occurrences=2).collect()
    }
    assert out[1] == "padding" and out[2] == "other"
    assert out[3] == "totally unique content"
    assert out[4] == ""
    assert len(out) == 4


def test_bad_params_raise(spark):
    d = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        duplicate_spans(d, n=0)
    with pytest.raises(ValueError):
        duplicate_spans(d, min_occurrences=1)


def test_boundary_whitespace_no_phantom_spans(spark):
    """trim() strips only spaces; a trailing newline must not fabricate
    an n-gram ending in an empty token that matches on n-1 real tokens."""
    docs = spark.createDataFrame(
        [(1, "x foo bar\n"), (2, "y foo bar\n")], ["doc_id", "text"]
    )
    assert duplicate_spans(docs, n=3, min_occurrences=2).count() == 0
    # the real 2-token repeat is found at its true length
    out = duplicate_spans(docs, n=2, min_occurrences=2).collect()
    assert {r["span"] for r in out} == {"foo bar"}


def test_strip_preserves_untouched_docs_exactly(spark):
    """Documents without a duplicate occurrence pass through
    byte-identical — original whitespace, NULL text, and extra columns
    intact; only cut docs are whitespace-normalized."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta padding one", "a"),
            (2, "alpha beta gamma delta cushion two", "b"),
            (3, "line1\nline2\t tabbed  spaced ", "c"),
            (4, None, "d"),
        ],
        ["doc_id", "text", "extra"],
    )
    out = {r["doc_id"]: (r["text"], r["extra"])
           for r in strip_duplicate_spans(docs, n=4, min_occurrences=2).collect()}
    assert out[1] == ("padding one", "a")
    assert out[2] == ("cushion two", "b")
    assert out[3] == ("line1\nline2\t tabbed  spaced ", "c")  # byte-identical
    assert out[4] == (None, "d")  # NULL stays NULL
