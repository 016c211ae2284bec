"""Hybrid retrieval: reciprocal-rank fusion of heterogeneous rankers.

A training-data pipeline retrieves documents two ways — lexically
(shingle/Jaccard, `dedup.similar_documents`) and semantically (embedding
cosine, `similarity.brute_force_topk` / the PQ and IVF variants) — and
the standard way to combine incomparable score scales is Reciprocal
Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009):

    rrf(d) = Σ_arms  w_arm / (rrf_k + rank_arm(d))

using each arm's RANK (robust to score distribution) rather than its
score. Documents missing from an arm contribute 0 for that arm.

Scale shape: each arm is already a top-``k_each`` relation (TakeOrdered
— per-partition heads, never a global sort of the corpus), so the
fusion operates on ``arms × k_each`` rows — constant-size regardless of
corpus. The outer-join + aggregate over that tiny relation is noise; at
100 TB all the cost lives in the arms, which carry their own scale
stories (inverted-index broadcast semi-join; codes-only ADC scan).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..pinning import checkpoint, pin
from ..sources import storage
from .text import tokens


def with_rank(df: DataFrame, order: list[Column]) -> DataFrame:
    """Attach 1-based ``rank`` by the given order. Meant for arm results
    that are ALREADY top-k (bounded); the single-partition window is
    deliberate and safe there — never apply this to a corpus-sized
    relation."""
    w = Window.orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w))


def rrf_fuse(
    arms: dict[str, DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuse named ranked arms (each with ``id_col`` + ``rank``) into a
    top-``k`` by RRF score. Returns one row per document seen by any
    arm (outer union of the arms), with per-arm ``<name>_rank`` columns
    (null where the arm missed the document) and ``rrf_score``
    descending; ties break on id for determinism."""
    if not arms:
        raise ValueError("rrf_fuse: need at least one arm")
    weights = weights or {}
    unknown = set(weights) - set(arms)
    if unknown:
        # a typo'd weight key would silently leave both arms at 1.0 and
        # the intended boost vanishes with plausible-looking results
        raise ValueError(
            f"rrf_fuse: weights for unknown arms {sorted(unknown)}; "
            f"arms are {sorted(arms)}"
        )
    pieces = []
    for name, df in arms.items():
        w = float(weights.get(name, 1.0))
        pieces.append(
            df.select(
                F.col(id_col),
                F.lit(name).alias("__arm"),
                F.col("rank").cast("long").alias("__rank"),
                (F.lit(w) / (F.lit(float(rrf_k)) + F.col("rank"))).alias("__score"),
            )
        )
    union = pieces[0]
    for p in pieces[1:]:
        union = union.unionByName(p)
    fused = union.groupBy(id_col).agg(
        F.sum("__score").alias("rrf_score"),
        *[
            F.max(F.when(F.col("__arm") == name, F.col("__rank"))).alias(
                f"{name}_rank"
            )
            for name in arms
        ],
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(k)


def hybrid_search(
    docs: DataFrame,
    emb: DataFrame,
    query_text: str,
    query_vec: list[float],
    k: int = 10,
    k_each: int = 50,
    rrf_k: int = 60,
    n: int = 3,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lexical + semantic retrieval fused by RRF: the shingle-Jaccard
    arm over ``docs`` and the cosine arm over ``emb`` (ids must share a
    domain — vec_id == doc_id in the driver's tables), each cut to
    ``k_each`` before fusion. Output: (doc_id, rrf_score, lexical_rank,
    semantic_rank) — per-arm ranks kept for explainability."""
    from .dedup import similar_documents
    from .similarity import brute_force_topk

    # NULL-cosine (zero-norm) vectors have no defined similarity: they
    # used to survive the top-k cut on a small corpus and collect RRF
    # credit at the tail ranks (r11 review finding) — cut them like the
    # lexical arm's shared>0 rule cuts non-matches
    sem = brute_force_topk(
        emb, query_vec, k=k_each, id_col=vec_id_col, vec_col=vec_col
    ).where(F.col("cosine").isNotNull())
    sem = with_rank(sem, [F.desc("cosine"), F.asc(vec_id_col)]).select(
        F.col(vec_id_col).alias(id_col), "rank"
    )
    arms = {"semantic": sem}
    # a query shorter than the shingle width has NO lexical arm — a
    # normal runtime input, not an error: fuse semantic-only instead of
    # propagating similar_documents' ValueError (r11 review finding)
    if len(query_text.split()) >= n:
        lex = similar_documents(
            docs, query_text, k=k_each, n=n, text_col=text_col, id_col=id_col
        )
        lex = with_rank(lex, [F.desc("jaccard"), F.asc(id_col)])
        arms["lexical"] = lex.select(id_col, "rank")
    elif weights and "lexical" in weights:
        weights = {k_: v for k_, v in weights.items() if k_ != "lexical"}
    return rrf_fuse(
        arms,
        k=k,
        rrf_k=rrf_k,
        weights=weights,
        id_col=id_col,
    )


# the ASCII whitespace Java's \s matches in `text.tokens`; str.split()
# would also split on NBSP and \x1c-\x1f, which stay inside a document
# token, so such a query term could never match
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _normalize_terms(query_terms: list[str], caller: str) -> list[str]:
    """Query terms under the SAME rule documents are tokenized with
    (lowercase, ASCII-whitespace split, empties dropped): a term carrying
    whitespace ('pipeline ' / 'machine learning') can never equal a
    stored token, so it used to match NOTHING silently (r11 review
    finding) — multi-word inputs now contribute each word (BM25 is
    bag-of-words) and pure-whitespace inputs raise by name."""
    terms = sorted({w for t in query_terms for w in _ASCII_WS.split(t.lower()) if w})
    if not terms:
        raise ValueError(
            f"{caller}: query_terms {query_terms!r} contain no tokens "
            "after whitespace normalization"
        )
    return terms


def _lowered_tokens(text_col: str):
    """The tokenization every BM25 surface shares (scan, index build,
    probe equivalence depends on it): lowercased `text.tokens`, whose
    NULL text is the empty document — F.size(NULL) would count the row
    in n_docs but silently exclude it from avgdl, skewing every score."""
    return tokens(F.lower(F.col(text_col)))


def _term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of the index's bucket function — md5-based so a
    probe derives its partition filter WITHOUT a Spark job (xxhash64 has
    no stdlib twin). Must stay bit-identical to `_term_bucket_col`."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def _term_bucket_col(n_buckets: int):
    """Engine-side twin of `_term_bucket_py`: first 8 md5 hex digits as
    an integer, mod n_buckets."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


def _bm25_rank(matched: DataFrame, dfreq: DataFrame, n_docs, avgdl, k1: float, b: float, k: int, id_col: str) -> DataFrame:
    """The scoring tail BOTH BM25 surfaces share (the pinned scan/index
    equivalence is structural, not two copies kept in sync by hand):
    ``matched`` is (id, term, tf, dl), ``dfreq`` is (term, df), and
    ``n_docs``/``avgdl`` are Columns or Python numbers.

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))
    """
    n_docs = n_docs if isinstance(n_docs, Column) else F.lit(float(n_docs))
    avgdl = avgdl if isinstance(avgdl, Column) else F.lit(float(avgdl))
    scored = (
        matched.join(F.broadcast(dfreq), "term")
        .withColumn(
            "idf", F.log(1.0 + (n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5))
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + F.lit(k1) * (1.0 - b + F.lit(b) * F.col("dl") / avgdl)),
        )
        .groupBy("id")
        .agg(F.sum("term_score").alias("score"), F.count("*").alias("n_matched"))
    )
    return scored.select(
        F.col("id").alias(id_col),
        "score",
        F.col("n_matched").cast("int").alias("n_matched"),
    ).orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 top-``k`` (Robertson & Zaragoza 2009) — the standard
    lexical ranker, as one declarative plan (formula in `_bm25_rank`,
    tokenization in `_lowered_tokens`; both shared with the indexed
    surface). Returns (id, score, n_matched) descending, ties broken on
    id.

    Scale shape: the exploded token stream is filtered to the QUERY
    TERMS (a broadcast IN-list of a handful of literals) before any
    shuffle, so the per-(doc, term) aggregation shuffles only matching
    tokens — corpus-size-independent for a fixed query. Document length
    rides through the explode (no doc-length join); N/avgdl come from
    one scalar aggregate (broadcast via crossJoin of a 1-row relation);
    top-k is TakeOrdered, never a global sort. This is the index-free
    form; per-query cost is TWO column-pruned corpus scans (the scalar
    totals pass and the matched pass — caching the tokenized corpus per
    query would hold corpus-sized state for a one-shot read, the wrong
    trade; r11 review corrected the old one-scan claim). The right
    baseline for the bench corpus; `bm25_topk_indexed` is the
    ingest-time-indexed scale path that amortizes both scans.
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    if k < 1:
        raise ValueError(f"bm25_topk: k must be >= 1, got {k}")
    terms = _normalize_terms(query_terms, "bm25_topk")

    base = docs.select(F.col(id_col).alias("id"), _lowered_tokens(text_col).alias("toks"))
    totals = base.select(F.size("toks").alias("dl")).agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    matched = (
        base.select("id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = matched.groupBy("term").agg(F.count("*").alias("df"))
    return _bm25_rank(
        matched.crossJoin(F.broadcast(totals)),
        dfreq,
        F.col("n_docs"),
        F.col("avgdl"),
        k1,
        b,
        k,
        id_col,
    )


def _build_postings(docs, text_col: str, id_col: str, n_buckets: int):
    """The ONE definition of the index's posting rows — materialize and
    append must build identically or probe equivalence breaks, so both
    call here. Returns (checkpointed tokenized base, postings)."""
    base = pin(docs.select(
        F.col(id_col).alias("id"), _lowered_tokens(text_col).alias("toks")
    ), "_build_postings:base")
    postings = (
        base.select("id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .groupBy("term", "id")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
        .withColumn("bucket", _term_bucket_col(n_buckets))
    )
    return base, postings


def _postings_id_type(spark, path: str) -> str | None:
    """The id type an index was BUILT with, inferred from the stored
    postings parquet schema (footer read only, no data scan) — the
    backfill source when a pre-id_type stats row is rebased by
    append/remove. The mutating SLICE's dtype is deliberately not
    used: a caller may hand ints to a bigint-built index and the
    persisted type would silently flip. None when no posting file
    exists to infer from (drained legacy index — the probe's 'long'
    fallback covers it). Only the no-files shapes may pass; a real read
    failure (permissions, corrupt footer) must surface — silently
    falling back would launder a string-built index into wrong-typed
    'long' probes (``sources/storage.missing_ok``)."""
    postings = storage.missing_ok(lambda: spark.read.parquet(f"{path}/postings"))
    return None if postings is None else dict(postings.dtypes)["id"]


def materialize_text_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Build the persistent inverted index behind `bm25_topk_indexed`:
    postings (term, id, tf, dl) stored as parquet PARTITIONED BY a
    term-hash bucket (md5-derived — `_term_bucket_col`, whose driver
    twin lets probes skip a hashing job), plus a one-row stats table
    (n_docs, avgdl, n_buckets). The same build-vs-probe split as the
    IVF ANN index (`similarity.materialize_ivf`): indexing is one
    corpus scan at ingest (the tokenized projection is checkpointed so
    the stats aggregate reuses it instead of re-reading the corpus);
    afterwards a query touches only the partitions its terms hash into
    — partition PRUNING, so at 100 TB a 3-term query opens
    ~3/n_buckets of the index files and never the corpus.

    dl (the document's token count) is denormalized onto every posting
    so scoring needs no doc-length join at probe time — the same move
    as the in-memory formulation, paid once in storage (one long per
    posting)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    base, postings = _build_postings(docs, text_col, id_col, n_buckets)
    postings.write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/postings")
    stats = base.select(F.size("toks").alias("dl")).agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.lit(n_buckets).alias("n_buckets"),
        # persisted so drained-index probes can reconstruct the id
        # column's type without any posting file to infer from
        F.lit(dict(docs.dtypes)[id_col]).alias("id_type"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def remove_from_text_index(
    docs_removed: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Remove documents from a `materialize_text_index` — the delete
    half of the index lifecycle (create → append → compact → REMOVE),
    fed by `summary.corpus_diff`'s 'removed' slice (which carries the
    old snapshot's text; the text is needed to locate the touched
    buckets and rebase the stats without scanning the index).

    Scale shape: the removed docs' terms hash to their buckets
    driver-free (`_term_bucket_col` — the same function that placed
    them), so ONLY those partitions are read (PartitionFilter), the
    removed ids anti-join away, and dynamic overwrite rewrites just the
    touched directories; a bucket emptied entirely is deleted
    explicitly (dynamic overwrite never rewrites a partition absent
    from the output — the stale files would keep serving the removed
    postings). Stats rebase exactly: n_docs -= n_removed, avgdl
    re-derived from the removed docs' true token counts (computed from
    their text, so zero-token docs rebase correctly too — their dl
    never appears in any posting).

    Contract: ids must currently be IN the index (the mirror of
    append's must-be-new contract) — removing an absent id would
    rebase the stats against documents that never contributed. Write
    order: postings first, stats second; a crash between the two
    leaves scores computed with a slightly-stale N/avgdl, never
    corrupt (same note as append). Probe equivalence vs a full rebuild
    on the remainder is pytest-pinned."""
    spark = docs_removed.sparkSession
    stats = spark.read.parquet(f"{path}/stats").collect()[0]
    n_buckets = int(stats["n_buckets"])
    # resolve the built id type NOW (pre-id_type backfill reads the
    # postings schema, and this function may be about to delete the
    # last posting files)
    id_type = stats.asDict().get("id_type") or _postings_id_type(spark, path)
    # dedupe on id BEFORE any aggregation: a removed-slice carrying
    # duplicate ids must subtract each doc's token count exactly once
    # or the rebased avgdl silently drifts
    base = pin(
        docs_removed.select(
            F.col(id_col).alias("id"), _lowered_tokens(text_col).alias("toks")
        ).dropDuplicates(["id"]),
        "remove_from_text_index:base",
    )
    gone = base.select("id")
    # one combined aggregate (count + token sum) over the checkpointed
    # base — append_text_index's mirror shape; it was two driver jobs
    agg = base.select(F.size("toks").alias("dl")).agg(
        F.count("*").alias("n_removed"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    n_removed = int(agg["n_removed"] or 0)
    if n_removed == 0:
        return
    # buckets the removed docs' terms hash into — parameter-sized list
    buckets = [
        int(r["bucket"])
        for r in base.select(F.explode("toks").alias("term"))
        .distinct()
        .withColumn("bucket", _term_bucket_col(n_buckets))
        .select("bucket")
        .distinct()
        .collect()
    ]
    if buckets:
        postings = spark.read.parquet(f"{path}/postings").where(
            F.col("bucket").isin(buckets)  # partition pruning
        )
        kept = checkpoint(postings.join(
            gone.withColumnRenamed("id", "__gone"),
            postings["id"] == F.col("__gone"),
            "left_anti",
        ), "remove_from_text_index:kept")  # source == destination: materialize first
        written = {int(r["bucket"]) for r in kept.select("bucket").distinct().collect()}
        (
            kept.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(f"{path}/postings")
        )
        emptied = [b for b in buckets if b not in written]
        if emptied:
            from ..sources.sinks import delete_partition_dirs

            delete_partition_dirs(spark, f"{path}/postings", "bucket", emptied)
    # stats rebase from the removed docs' true token counts
    rm = agg
    n_docs = int(stats["n_docs"]) - n_removed
    if n_docs < 0:
        raise ValueError(
            f"removing {n_removed} docs from an index of {stats['n_docs']} "
            "(were these ids ever indexed?)"
        )
    avgdl = (
        (float(stats["n_docs"]) * float(stats["avgdl"] or 0.0) - float(rm["sum_dl"] or 0))
        / n_docs
        if n_docs > 0
        else None
    )
    spark.createDataFrame(
        [(n_docs, avgdl, n_buckets, id_type)],
        "n_docs BIGINT, avgdl DOUBLE, n_buckets INT, id_type STRING",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def compact_text_index(
    spark,
    path: str,
    target_rows_per_file: int = 1 << 20,
) -> int:
    """Small-files repair for a :func:`materialize_text_index` that has
    taken many :func:`append_text_index` batches — each append lands at
    least one new file in every bucket its terms hash into, so file
    count (and with it open/footer overhead per probe) grows with
    APPEND COUNT, not data. Rewrites ``{path}/postings`` through the
    maintenance compactor, preserving the bucket partitioning the
    probes prune on; the stats row and every posting row are untouched,
    so `bm25_topk_indexed` is score-identical before/after
    (pytest-pinned). Returns the data-file count after the rewrite."""
    from mwas_rfam_spark.sources.sinks import compact_files

    return compact_files(
        spark, f"{path}/postings", target_rows_per_file, partition_col="bucket"
    )


def bm25_topk_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-``k`` over the materialized index — identical scores to
    `bm25_topk` on the indexed corpus (the equivalence is STRUCTURAL:
    both call `_bm25_rank` over `_lowered_tokens`-derived postings, and
    it is pytest-pinned besides), with per-query cost bound by the
    TOUCHED PARTITIONS: the query terms' buckets are computed
    driver-side (`_term_bucket_py` — no Spark job) and become a
    partition filter (plan-asserted PartitionFilters in tests),
    document frequencies come from the same posting slice, and N/avgdl
    from the one-row stats table. Nothing corpus-sized is read or
    shuffled."""
    if not query_terms:
        raise ValueError("bm25_topk_indexed: query_terms must be non-empty")
    if k < 1:
        raise ValueError(f"bm25_topk_indexed: k must be >= 1, got {k}")
    terms = _normalize_terms(query_terms, "bm25_topk_indexed")
    stats = spark.read.parquet(f"{path}/stats").collect()[0]
    n_buckets = int(stats["n_buckets"])
    if int(stats["n_docs"]) == 0:
        # drained (every doc removed) or freshly-bootstrapped empty
        # index: the partitioned postings dir has no files to infer a
        # schema from — the correct answer is simply no hits, with the
        # id type the index was built over (persisted in the stats row;
        # 'long' only for pre-id_type indexes) so the empty frame
        # unions/writes cleanly against non-empty probes
        id_type = stats.asDict().get("id_type") or "long"
        return spark.createDataFrame(
            [], f"{id_col} {id_type}, score double, n_matched int"
        )
    buckets = sorted({_term_bucket_py(t, n_buckets) for t in terms})
    postings = (
        spark.read.parquet(f"{path}/postings")
        .where(F.col("bucket").isin(buckets))  # partition pruning
        .where(F.col("term").isin(terms))
    )
    # NOTE both dfreq and the scoring join consume this slice, so the
    # touched partition files decode twice per probe; pinning it would
    # hide the plan-asserted PartitionFilters evidence behind an
    # ExistingRDD scan, and the slice is query-term-sized — the double
    # decode is the cheaper honest trade (r11 review, adjudicated)
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df"))
    return _bm25_rank(
        postings,
        dfreq,
        float(stats["n_docs"]),
        float(stats["avgdl"]),
        k1,
        b,
        k,
        id_col,
    )


def append_text_index(
    docs_new: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incrementally extend a `materialize_text_index` with NEW
    documents — no touch of existing postings.

    This works because the index stores raw per-document facts
    (term, id, tf, dl) and every corpus-level quantity (idf from df,
    N, avgdl) is derived at probe time from the stats row and the
    touched posting slice: appending rows and bumping the stats keeps
    `bm25_topk_indexed` score-identical to a full rebuild over the
    union (equivalence is pytest-pinned). New postings hash into the
    SAME term buckets (n_buckets comes from the stored stats), so
    partition pruning keeps working and each appended file lands only
    in the buckets its terms belong to.

    Contract: ``docs_new`` ids must not already be in the index (feed
    the 'added' slice of `summary.corpus_diff`) — a re-appended id
    would double its postings. Write order is postings first, stats
    second; a crash between the two leaves scores computed with the
    old N/avgdl (slightly stale, never corrupt)."""
    spark = docs_new.sparkSession
    stats = spark.read.parquet(f"{path}/stats").collect()[0]
    n_buckets = int(stats["n_buckets"])
    # resolve the built id type BEFORE appending: afterwards the
    # postings schema is polluted by the slice's own files, so a
    # wrong-typed slice would launder its dtype into the stats
    id_type = stats.asDict().get("id_type") or _postings_id_type(spark, path)
    new_type = dict(docs_new.dtypes)[id_col]
    if id_type is not None and new_type != id_type:
        # mixed-schema posting files can brick the index: a later
        # postings read picks one footer schema and may throw on files
        # of the other type (r11 review finding — the stats row was
        # protected but the files themselves were not). Lossless
        # integer widenings are CAST to the stored type; anything else
        # (string vs numeric, narrowing) refuses by name.
        widenable = {"tinyint", "smallint", "int"}
        if id_type == "bigint" and new_type in widenable:
            docs_new = docs_new.withColumn(
                id_col, F.col(id_col).cast("bigint")
            )
        else:
            raise ValueError(
                f"append_text_index: {id_col!r} is {new_type} but the "
                f"index at {path} was built with {id_type} ids; cast "
                "the slice before appending"
            )
    base, postings = _build_postings(docs_new, text_col, id_col, n_buckets)
    postings.write.mode("append").partitionBy("bucket").parquet(f"{path}/postings")
    new = base.select(F.size("toks").alias("dl")).agg(
        F.count("*").alias("n_new"), F.sum("dl").alias("sum_dl_new")
    ).collect()[0]
    n_new = int(new["n_new"] or 0)
    if n_new == 0:
        return
    n_docs = int(stats["n_docs"]) + n_new
    # avgdl is NULL when the index was materialized over an empty
    # corpus (avg of 0 rows) — the create-empty-then-append bootstrap
    avgdl = (
        float(stats["n_docs"]) * float(stats["avgdl"] or 0.0)
        + float(new["sum_dl_new"] or 0)
    ) / n_docs
    spark.createDataFrame(
        [(n_docs, avgdl, n_buckets, id_type)],
        "n_docs BIGINT, avgdl DOUBLE, n_buckets INT, id_type STRING",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
