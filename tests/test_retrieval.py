"""Hybrid-retrieval tests: RRF fusion against a hand model, weighting,
single-arm degeneracy, and the composed lexical+semantic search over
the driver's documents/embeddings tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mwas_rfam_spark.operators.retrieval import hybrid_search, rrf_fuse, with_rank


def _arm(spark, pairs):
    return spark.createDataFrame(pairs, ["doc_id", "rank"])


def test_rrf_hand_model(spark):
    a = _arm(spark, [(1, 1), (2, 2), (3, 3)])
    b = _arm(spark, [(2, 1), (4, 2)])
    out = rrf_fuse({"a": a, "b": b}, k=10, rrf_k=60).collect()
    got = {r["doc_id"]: r["rrf_score"] for r in out}
    want = {
        1: 1 / 61,
        2: 1 / 62 + 1 / 61,
        3: 1 / 63,
        4: 1 / 62,
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)
    # doc 2 appears in both arms and must rank first
    assert out[0]["doc_id"] == 2
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["a_rank"] == 1 and by_id[1]["b_rank"] is None
    assert by_id[2]["a_rank"] == 2 and by_id[2]["b_rank"] == 1


def test_rrf_weights_and_limit(spark):
    a = _arm(spark, [(1, 1), (2, 2)])
    b = _arm(spark, [(2, 1), (3, 2)])
    out = rrf_fuse({"a": a, "b": b}, k=2, rrf_k=10, weights={"b": 3.0}).collect()
    assert len(out) == 2
    got = {r["doc_id"]: r["rrf_score"] for r in out}
    assert got[2] == pytest.approx(1 / 12 + 3 / 11, rel=1e-12)
    # weighted arm b dominates: doc 3 (b rank 2) beats doc 1 (a rank 1)
    assert sorted(got) == [2, 3]


def test_single_arm_is_rank_order(spark):
    a = _arm(spark, [(5, 1), (6, 2), (7, 3)])
    out = rrf_fuse({"only": a}, k=3).collect()
    assert [r["doc_id"] for r in out] == [5, 6, 7]


def test_empty_arms_raise(spark):
    with pytest.raises(ValueError):
        rrf_fuse({})


def test_with_rank_orders(spark):
    df = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.7)], ["doc_id", "score"]
    )
    ranked = with_rank(df, [F.desc("score"), F.asc("doc_id")]).collect()
    by_id = {r["doc_id"]: r["rank"] for r in ranked}
    assert by_id == {2: 1, 3: 2, 1: 3}


def test_hybrid_search_end_to_end(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    row = docs.orderBy("doc_id").limit(1).collect()[0]
    qtext = row["text"]
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == row["doc_id"]).collect()[0]["embedding"]
    ]
    out = hybrid_search(docs, emb, qtext, qvec, k=10, k_each=50).collect()
    assert 0 < len(out) <= 10
    # the query document itself leads both arms, so it must win fusion
    assert out[0]["doc_id"] == row["doc_id"]
    assert out[0]["lexical_rank"] == 1 and out[0]["semantic_rank"] == 1
    # scores strictly ordered, columns complete
    scores = [r["rrf_score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_bm25_indexed_equivalence_and_pruning(spark, sf_dir, tmp_path):
    """The materialized inverted index returns IDENTICAL scores to the
    scan formulation, and the probe's scan carries a bucket
    PartitionFilter (only the query terms' partitions are opened)."""
    from pyspark.sql import functions as F

    from mwas_rfam_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        materialize_text_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    path = str(tmp_path / "text_index")
    materialize_text_index(docs, path, n_buckets=16)

    terms = ["the", "data", "pipeline"]
    direct = [
        (r["doc_id"], round(r["score"], 9), r["n_matched"])
        for r in bm25_topk(docs, terms, k=12).collect()
    ]
    indexed = [
        (r["doc_id"], round(r["score"], 9), r["n_matched"])
        for r in bm25_topk_indexed(spark, path, terms, k=12).collect()
    ]
    assert indexed == direct and len(direct) == 12

    plan = (
        bm25_topk_indexed(spark, path, terms, k=12)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters:" in plan
    pf = plan.split("PartitionFilters:")[1][:160]
    assert "bucket" in pf  # the probe prunes by term-hash bucket

    with pytest.raises(ValueError):
        bm25_topk_indexed(spark, path, [])
    with pytest.raises(ValueError):
        materialize_text_index(docs, path, n_buckets=0)


def test_bm25_term_bucket_twins_agree(spark):
    """The driver-side and engine-side bucket functions must stay
    bit-identical — the probe's partition filter depends on it."""
    from mwas_rfam_spark.operators.retrieval import _term_bucket_col, _term_bucket_py

    terms = ["the", "data", "pipeline", "ünïcode", "x" * 50, ""]
    got = {
        r["term"]: r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term", _term_bucket_col(16).alias("b"))
        .collect()
    }
    for t in terms:
        assert got[t] == _term_bucket_py(t, 16)


def test_mwaspkl_and_bm25_null_safety(spark, tmp_path):
    """bm25_topk over a corpus with NULL text must match the same corpus
    with empty text (review r5)."""
    from mwas_rfam_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        materialize_text_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, "alpha")], "doc_id long, text string"
    )
    path = str(tmp_path / "null_idx")
    materialize_text_index(docs, path, n_buckets=4)
    direct = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk(docs, ["alpha"], k=5).collect()
    ]
    indexed = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_indexed(spark, path, ["alpha"], k=5).collect()
    ]
    assert direct == indexed and len(direct) == 2


def test_append_text_index_equals_full_rebuild(spark, sf_dir, tmp_path):
    """index(A) + append(B) must score IDENTICALLY to index(A ∪ B):
    postings are raw per-doc facts, idf/N/avgdl derive at probe time."""
    from pyspark.sql import functions as F

    from mwas_rfam_spark.operators.retrieval import (
        append_text_index,
        bm25_topk_indexed,
        materialize_text_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    a = docs.where("doc_id % 3 != 0")
    b = docs.where("doc_id % 3 = 0")

    inc_path = str(tmp_path / "inc_idx")
    materialize_text_index(a, inc_path, n_buckets=16)
    append_text_index(b, inc_path)

    full_path = str(tmp_path / "full_idx")
    materialize_text_index(docs, full_path, n_buckets=16)

    terms = ["the", "data", "pipeline"]
    got = {
        r["doc_id"]: round(r["score"], 9)
        for r in bm25_topk_indexed(spark, inc_path, terms, k=25).collect()
    }
    want = {
        r["doc_id"]: round(r["score"], 9)
        for r in bm25_topk_indexed(spark, full_path, terms, k=25).collect()
    }
    assert got == want and len(got) > 0

    # stats row reflects the union
    stats = spark.read.parquet(f"{inc_path}/stats").collect()[0]
    fstats = spark.read.parquet(f"{full_path}/stats").collect()[0]
    assert int(stats["n_docs"]) == int(fstats["n_docs"])
    assert abs(float(stats["avgdl"]) - float(fstats["avgdl"])) < 1e-9

    # appending an empty batch is a no-op
    before = spark.read.parquet(f"{inc_path}/stats").collect()
    append_text_index(docs.where("doc_id < 0"), inc_path)
    assert spark.read.parquet(f"{inc_path}/stats").collect() == before


def test_compact_text_index_bounds_files_and_preserves_scores(spark, sf_dir, tmp_path):
    """Append-many-then-compact (r5 verdict task #7): repeated appends
    grow per-bucket small files; the compactor rewrites postings to a
    bounded file count, keeps the bucket partitioning (probes still
    prune), and leaves bm25_topk_indexed score-identical."""
    from mwas_rfam_spark.operators.retrieval import (
        append_text_index,
        bm25_topk_indexed,
        compact_text_index,
        materialize_text_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    path = str(tmp_path / "idx")
    materialize_text_index(docs.where("doc_id % 5 = 0"), path, n_buckets=8)
    for m in range(1, 5):  # four append batches → small files pile up
        append_text_index(docs.where(f"doc_id % 5 = {m}"), path)

    terms = ["the", "data", "pipeline"]
    before = [
        (r["doc_id"], round(r["score"], 9), r["n_matched"])
        for r in bm25_topk_indexed(spark, path, terms, k=25).collect()
    ]

    def n_files():
        import glob

        return len(glob.glob(f"{path}/postings/bucket=*/part-*"))

    files_before = n_files()
    files_after = compact_text_index(spark, path, target_rows_per_file=1 << 20)
    assert files_after == n_files() < files_before
    assert files_after <= 8  # one file per bucket at this tiny scale

    after = [
        (r["doc_id"], round(r["score"], 9), r["n_matched"])
        for r in bm25_topk_indexed(spark, path, terms, k=25).collect()
    ]
    assert after == before and len(after) > 0

    # probes still prune: the scan keeps PartitionFilters on bucket
    plan = (
        bm25_topk_indexed(spark, path, terms, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "bucket" in plan.split(
        "PartitionFilters:"
    )[1][:200]


def test_remove_from_text_index_equals_rebuild(spark, sf_dir, tmp_path):
    """index(A ∪ B) − remove(B) must score IDENTICALLY to index(A):
    touched buckets only are rewritten, emptied buckets are deleted,
    stats rebase exactly — including a zero-token doc whose dl exists
    in no posting."""
    from pyspark.sql import functions as F

    from mwas_rfam_spark.operators.retrieval import (
        bm25_topk_indexed,
        materialize_text_index,
        remove_from_text_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    empty_doc = spark.createDataFrame([(999_999, "   ")], "doc_id long, text string")
    full = docs.unionByName(empty_doc)
    keep = docs.where("doc_id % 3 != 0")
    gone = docs.where("doc_id % 3 = 0").unionByName(empty_doc)

    inc = str(tmp_path / "inc")
    materialize_text_index(full, inc, n_buckets=16)
    remove_from_text_index(gone, inc)

    ref = str(tmp_path / "ref")
    materialize_text_index(keep, ref, n_buckets=16)

    terms = ["the", "data", "pipeline"]
    got = [
        (r["doc_id"], round(r["score"], 9), r["n_matched"])
        for r in bm25_topk_indexed(spark, inc, terms, k=25).collect()
    ]
    want = [
        (r["doc_id"], round(r["score"], 9), r["n_matched"])
        for r in bm25_topk_indexed(spark, ref, terms, k=25).collect()
    ]
    assert got == want and len(got) > 0
    assert not {v for v, _s, _n in got} & {r["doc_id"] for r in gone.collect()}

    s_inc = spark.read.parquet(f"{inc}/stats").collect()[0]
    s_ref = spark.read.parquet(f"{ref}/stats").collect()[0]
    assert int(s_inc["n_docs"]) == int(s_ref["n_docs"])
    assert abs(float(s_inc["avgdl"]) - float(s_ref["avgdl"])) < 1e-9

    # a bucket emptied entirely disappears (stale files would keep
    # serving removed postings): single-doc index, remove the doc —
    # every touched bucket is emptied by construction (a multi-doc
    # corpus can collide other docs' terms into the same bucket)
    tiny = str(tmp_path / "tiny")
    t = spark.createDataFrame([(1, "zzzuniqueterm")], "doc_id long, text string")
    materialize_text_index(t, tiny, n_buckets=256)
    import glob

    from mwas_rfam_spark.operators.retrieval import _term_bucket_py

    b = _term_bucket_py("zzzuniqueterm", 256)
    assert glob.glob(f"{tiny}/postings/bucket={b}")
    remove_from_text_index(t, tiny)
    assert not glob.glob(f"{tiny}/postings/bucket={b}")
    assert bm25_topk_indexed(spark, tiny, ["zzzuniqueterm"], k=5).count() == 0
    s_tiny = spark.read.parquet(f"{tiny}/stats").collect()[0]
    assert int(s_tiny["n_docs"]) == 0 and s_tiny["avgdl"] is None


def test_drained_index_schema_and_duplicate_removal_slice(spark, tmp_path):
    """Two remove-path regressions (r6 ADVICE): (1) a drained index
    built over STRING doc ids must return the string id schema from the
    empty-probe early return (the stats row persists id_type — there is
    no posting file left to infer from), so unions against non-empty
    probes don't see two shapes; (2) a removed-slice carrying duplicate
    ids subtracts each doc's token count exactly ONCE when rebasing
    avgdl."""
    from mwas_rfam_spark.operators.retrieval import (
        bm25_topk_indexed,
        materialize_text_index,
        remove_from_text_index,
    )

    # (1) string ids, drain completely
    p = str(tmp_path / "sidx")
    docs = spark.createDataFrame(
        [("a", "alpha beta"), ("b", "beta gamma")], "doc_id string, text string"
    )
    materialize_text_index(docs, p, n_buckets=8)
    stats = spark.read.parquet(f"{p}/stats").collect()[0]
    assert stats["id_type"] == "string"
    remove_from_text_index(docs, p)
    empty = bm25_topk_indexed(spark, p, ["alpha"], k=5)
    assert empty.count() == 0
    assert dict(empty.dtypes)["doc_id"] == "string"
    # the empty frame unions cleanly against a non-empty probe shape
    q = str(tmp_path / "sidx2")
    materialize_text_index(docs, q, n_buckets=8)
    probe = bm25_topk_indexed(spark, q, ["alpha"], k=5)
    assert probe.unionByName(empty).count() == probe.count()

    # (2) duplicate ids in the removed slice: avgdl must rebase as if
    # each doc were subtracted once
    r = str(tmp_path / "dup")
    three = spark.createDataFrame(
        [(1, "one two three four"), (2, "five six"), (3, "seven eight")],
        "doc_id long, text string",
    )
    materialize_text_index(three, r, n_buckets=8)
    dup_slice = spark.createDataFrame(
        [(1, "one two three four"), (1, "one two three four")],
        "doc_id long, text string",
    )
    remove_from_text_index(dup_slice, r)
    s = spark.read.parquet(f"{r}/stats").collect()[0]
    assert int(s["n_docs"]) == 2
    assert abs(float(s["avgdl"]) - 2.0) < 1e-9  # (2 + 2) / 2, not (8-8)/2


def test_legacy_index_id_type_backfill_from_postings(spark, tmp_path):
    """Review regression: appending to a PRE-id_type index must backfill
    the built type from the stored postings schema, NOT from the
    mutating slice's dtype (a caller may hand ints to a bigint-built
    index)."""
    from pyspark.sql import functions as F

    from mwas_rfam_spark.operators.retrieval import materialize_text_index

    p = str(tmp_path / "legacy")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    materialize_text_index(docs, p, n_buckets=8)
    # simulate a legacy stats row (no id_type column)
    legacy = spark.read.parquet(f"{p}/stats").select("n_docs", "avgdl", "n_buckets")
    legacy.collect()  # materialize before overwriting the file we read
    spark.createDataFrame(legacy.collect(), legacy.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{p}/stats")
    assert "id_type" not in spark.read.parquet(f"{p}/stats").columns

    from mwas_rfam_spark.operators.retrieval import append_text_index

    new = spark.createDataFrame(
        [(3, "delta")], "doc_id int, text string"  # WRONG dtype on purpose
    ).select(F.col("doc_id"), "text")
    append_text_index(new, p)
    stats = spark.read.parquet(f"{p}/stats").collect()[0]
    assert stats["id_type"] == "bigint"  # from the postings, not the slice


def test_retrieval_r11_review_guards(spark, tmp_path):
    """r11 review findings: whitespace-bearing query terms silently
    matched nothing (now normalized under the document rule — multi-word
    inputs contribute each word, pure-whitespace raises); a wrong-typed
    append refuses before polluting posting files (safe integer
    widenings cast); rrf_fuse names typo'd weight keys; hybrid_search
    degrades to semantic-only on queries shorter than the shingle
    width instead of crashing."""
    import pytest as _pt

    from mwas_rfam_spark.operators.retrieval import (
        append_text_index,
        bm25_topk,
        hybrid_search,
        materialize_text_index,
        rrf_fuse,
    )

    docs = spark.createDataFrame(
        [(1, "machine learning pipeline"), (2, "data pipeline tools"),
         (3, "gardening and botany")],
        "doc_id long, text string",
    ).cache()

    # multi-word / padded terms now match (bag-of-words)
    got = {r["doc_id"] for r in bm25_topk(docs, ["machine learning"], k=3).collect()}
    assert 1 in got
    padded = {r["doc_id"] for r in bm25_topk(docs, ["pipeline "], k=3).collect()}
    assert padded == {1, 2}
    with _pt.raises(ValueError, match="no tokens"):
        bm25_topk(docs, ["   "], k=3)

    path = str(tmp_path / "tix")
    materialize_text_index(docs, path)
    wrong = spark.createDataFrame([("x1", "new doc")], "doc_id string, text string")
    with _pt.raises(ValueError, match="built with bigint"):
        append_text_index(wrong, path)

    a = spark.createDataFrame([(1, 1)], "doc_id long, rank long")
    with _pt.raises(ValueError, match="unknown arms"):
        rrf_fuse({"lexical": a}, weights={"lexcal": 2.0})

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],  # 3 zero-norm
        "vec_id long, embedding array<double>",
    )
    out = hybrid_search(docs, emb, "hi", [1.0, 0.0], k=3, n=3).collect()
    # semantic-only fusion; the zero-norm vector earns no RRF credit
    assert {r["doc_id"] for r in out} == {1, 2}


def test_bm25_query_terms_split_like_document_tokens(spark):
    """Query terms split on ASCII whitespace only, as `text.tokens`
    splits documents: NBSP and the \\x1c-\\x1f separators stay inside a
    token on both sides, so a query for a token holding one matches it
    (``str.split()`` cut it in two and matched nothing)."""
    from mwas_rfam_spark.operators.retrieval import _normalize_terms, bm25_topk

    docs = spark.createDataFrame(
        [(1, "café\xa0bar menu"), (2, "café bar"), (3, "x\x1cy")],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in bm25_topk(docs, ["café\xa0bar"], k=3).collect()}
    assert got == {1}
    assert {r["doc_id"] for r in bm25_topk(docs, ["X\x1cY"], k=3).collect()} == {3}
    assert _normalize_terms([" A\tb\x0bc\x0cd\re\n"], "t") == ["a", "b", "c", "d", "e"]
