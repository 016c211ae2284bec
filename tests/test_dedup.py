"""Dedup operator tests: planted duplicates must be found, distinct docs
must not collide."""

import re

import pytest
from pyspark.sql import functions as F

from mwas_rfam_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dup_pairs,
    word_shingles,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup of 1
    (4, "completely different content about spark dataframes and shuffle partitions"),
    (5, "another unrelated document mentioning catalyst optimizer rules and codegen"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


def test_exact_dedup_groups(docs):
    groups = exact_dedup_groups(docs).collect()
    by_n = {r["n_docs"]: r for r in groups}
    assert len(groups) == 4  # 1+2 merge; 3,4,5 alone
    assert by_n[2]["keep_id"] == 1
    # the unbounded member array is opt-in; default schema is bounded
    assert "doc_ids" not in groups[0].asDict()


def test_exact_dedup_doc_ids_cap(spark):
    """Clone bomb: one content hash owning the whole corpus must NOT
    produce an unbounded doc_ids array — the cap bounds both the output
    row and the aggregation buffer (ids beyond the cap are rank-filtered
    before collect_list, not collected then sliced)."""
    clones = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit("same boilerplate text").alias("text")
    )
    row = exact_dedup_groups(clones, doc_ids_cap=8).collect()
    assert len(row) == 1
    r = row[0]
    assert r["n_docs"] == 10_000
    assert r["keep_id"] == 0
    assert r["doc_ids"] == list(range(8))
    assert r["doc_ids_truncated"] is True

    plan = exact_dedup_groups(clones, doc_ids_cap=8)._jdf.queryExecution().toString()
    assert plan.count("Exchange hashpartitioning") <= 1, plan

    with pytest.raises(ValueError):
        exact_dedup_groups(clones, doc_ids_cap=0)


def test_word_shingles_count(docs):
    sh = word_shingles(docs.filter("doc_id = 1"), n=3)
    # 13 tokens -> 11 trigrams, but "the quick brown ..." has repeated
    # 'the'; shingles are distinct strings
    n_tokens = len(DOCS[0][1].split())
    assert sh.count() <= n_tokens - 2
    assert sh.count() >= n_tokens - 4


def test_word_shingles_duplicate_id_contract(spark):
    """The documented unique-id precondition (r13 dropped the redundant
    post-explode distinct on it): a unique-id input yields distinct
    (id, shingle) rows; an input repeating the same id on two rows emits
    that id's shingles once PER ROW — the caller must dedupe ids
    upstream, word_shingles will not."""
    one = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    sh_one = word_shingles(one, n=3).collect()
    assert len(sh_one) == 2  # 4 tokens -> 2 trigrams
    assert len({(r["id"], r["shingle"]) for r in sh_one}) == 2

    dup = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (1, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    sh_dup = word_shingles(dup, n=3).collect()
    # documented behavior: per-row emission, NOT collapsed per id
    assert len(sh_dup) == 4
    assert len({(r["id"], r["shingle"]) for r in sh_dup}) == 2


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0  # one-word change
    assert not any({a, b} & {4, 5} for a, b in pairs)


def test_ngram_jaccard_max_df_recall(spark, docs):
    """The stop-shingle cap (max_df) keeps results identical to the exact
    join on a corpus where near-dup pairs share rare shingles alongside a
    hot one — the configuration the cap targets. Exactness is only
    forfeited for pairs whose EVERY shared prefix shingle is hot."""
    # every doc carries the same hot boilerplate sentence (df = n_docs);
    # docs 1/2 are near-dups via their rare remainder
    boiler = "subscribe to our newsletter for updates today"
    rows = [
        (1, boiler + " aurora borealis shimmered over quiet fjords"),
        (2, boiler + " aurora borealis shimmered over quiet valleys"),
        (3, boiler + " completely unrelated musings about sourdough starters"),
        (4, boiler + " tax form instructions for fiscal year reporting"),
    ]
    hot = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(hot, n=3, threshold=0.3).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(hot, n=3, threshold=0.3, max_df=3).collect()
    }
    assert (1, 2) in exact
    assert capped == exact
    # on the standard fixture the cap is inert at df ceiling = corpus size
    base = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    wide = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=100).collect()
    }
    assert wide == base


def test_ngram_jaccard_max_df_drops_hot_only_pairs(spark):
    """Documented trade: a pair whose ONLY shared shingles are hot is
    unreachable with the cap on (and found with it off)."""
    boiler = "one two three four five six seven eight"
    rows = [(i, boiler) for i in range(1, 5)]  # 4 identical hot-only docs
    clones = spark.createDataFrame(rows, "doc_id long, text string")
    assert ngram_jaccard_pairs(clones, n=3, threshold=0.9).count() == 6
    assert ngram_jaccard_pairs(clones, n=3, threshold=0.9, max_df=3).count() == 0


def test_minhash_lsh_candidates(docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs  # high-similarity pair must survive banding
    assert not any({a, b} & {4, 5} for a, b in pairs)


def test_simhash_identity_and_pairs(docs):
    hashes = {r["id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert hashes[1] == hashes[2]  # identical text -> identical simhash
    # bands must exceed max_hamming for the pigeonhole recall guarantee
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dup_pairs(docs, max_hamming=10, bands=16).collect()}
    assert pairs[(1, 2)] == 0
    # near-dup differs by one token -> small Hamming distance
    if (1, 3) in pairs:
        assert pairs[(1, 3)] <= 10


def test_simhash32_md5_identity_and_range(docs):
    from mwas_rfam_spark.operators.dedup import simhash32_md5

    hashes = {r["id"]: r["simhash"] for r in simhash32_md5(docs).collect()}
    assert hashes[1] == hashes[2]  # identical text
    assert all(0 <= h < (1 << 32) for h in hashes.values())
    # near-dup (one token differs) → small Hamming distance on 32 bits
    ham = bin(hashes[1] ^ hashes[3]).count("1")
    assert ham <= 8
    ham_far = bin(hashes[1] ^ hashes[4]).count("1")
    assert ham_far > ham


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0, 0.0], 0),  # near-dup of 1, same block
        (3, [0.0, 1.0, 0.0, 0.0], 0),  # orthogonal, same block
        (4, [1.0, 0.0, 0.0, 0.0], 1),  # dup of 1 but different block -> unseen
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert (1, 3) not in pairs
    assert (1, 4) not in pairs  # blocking bounds the self-join


def test_embedding_subdivide_guard_inert_on_small_blocks(spark):
    """Blocks at or under subdivide_above keep exact within-block
    semantics: the default guard produces bit-identical results to
    subdivide_above=None on a small corpus."""
    rows = [
        (i, [[1.0, 0.2, 0.1, 0.05][(k + i) % 4] for k in range(4)], i % 2)
        for i in range(1, 21)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    guarded = sorted(
        (r["id_a"], r["id_b"], round(r["cosine"], 9))
        for r in embedding_near_dup_pairs(emb, threshold=0.5).collect()
    )
    exact = sorted(
        (r["id_a"], r["id_b"], round(r["cosine"], 9))
        for r in embedding_near_dup_pairs(
            emb, threshold=0.5, subdivide_above=None
        ).collect()
    )
    assert guarded == exact and len(exact) > 0


def test_embedding_subdivide_guard_bounds_big_blocks(spark):
    """An oversized block is split by seeded Rademacher sign bits:
    identical vectors always share every bit (same dot, same sign), so
    exact-duplicate pairs survive subdivision, the output is a subset of
    the exact join, and the biggest sub-block is genuinely smaller."""
    import random

    rnd = random.Random(5)
    rows = []
    for i in range(120):
        v = [rnd.uniform(-1, 1) for _ in range(8)]
        rows.append((i, v, 0))              # ONE label block of 240 rows
        rows.append((i + 1000, list(v), 0))  # exact duplicate of each
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.999, subdivide_above=None
        ).collect()
    }
    sub = embedding_near_dup_pairs(
        emb, threshold=0.999, subdivide_above=50, subdivide_bits=3
    )
    got = {(r["id_a"], r["id_b"]) for r in sub.collect()}
    dup_pairs = {(i, i + 1000) for i in range(120)}
    assert dup_pairs <= got, "identical vectors must never be split apart"
    assert got <= exact

    with pytest.raises(ValueError):
        embedding_near_dup_pairs(emb, subdivide_above=0).collect()


def test_winnowing_guarantee(spark):
    """Docs sharing a substring of length >= k+w-1 must share at least one
    fingerprint; disjoint docs share none."""
    from mwas_rfam_spark.operators.text import winnowing_fingerprints

    shared = "the quick brown fox jumped over the lazy dog"
    rows = [
        (1, f"AAAA {shared} BBBB"),
        (2, f"CCCC {shared} DDDD"),
        (3, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnowing_fingerprints(docs, k=8, w=4)
    by_doc = {
        r["id"]: set(r["fps"])
        for r in fps.groupBy("id").agg(F.collect_set("fingerprint").alias("fps")).collect()
    }
    assert by_doc[1] & by_doc[2], "shared substring must yield a common fingerprint"
    assert not (by_doc[1] & by_doc[3])


def test_jaccard_pairs_plan_has_no_cartesian(docs):
    # the inverted-index formulation must never fall back to a cross product
    physical = ngram_jaccard_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in physical


def test_word_shingles_short_docs(spark):
    """Docs with fewer than n tokens must yield zero shingles — not an
    ANSI INVALID_ARRAY_INDEX_IN_ELEMENT_AT from sequence(0, -1). NULL
    text, a trailing newline and mixed whitespace shingle like the
    ASCII-whitespace split."""
    rows = [
        (1, "only two"), (2, "one"), (3, ""), (4, "exactly four tokens here"),
        (5, None), (6, "a b\n"), (7, "\tx  y\x0bz\fx y\r\n"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (1, 3):
        by_id = {}
        for r in word_shingles(docs, n=n).collect():
            by_id.setdefault(r["id"], set()).add(r["shingle"])
        want = {}
        for i, text in rows:
            toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text or "") if t]
            grams = {" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)}
            if grams:
                want[i] = grams
        assert by_id == want, n
    assert want[4] == {"exactly four tokens", "four tokens here"}
    # the downstream pipelines must survive a short-doc corpus too
    assert ngram_jaccard_pairs(docs, n=3, threshold=0.5).count() == 0
    assert minhash_lsh_pairs(docs, num_hashes=16, bands=4, n=3).count() == 0


def test_simhash_bands_guard(docs):
    """max_hamming >= bands silently loses pairs (pigeonhole broken) —
    must be rejected."""
    with pytest.raises(ValueError, match="max_hamming < bands"):
        simhash_near_dup_pairs(docs, max_hamming=4, bands=4)
    # bands > 64 makes width = 64 // bands zero — every chunk collapses
    # to 0 and the candidate join silently degenerates to all-pairs
    with pytest.raises(ValueError, match=r"bands must be in \[1, 64\]"):
        simhash_near_dup_pairs(docs, max_hamming=4, bands=65)
    with pytest.raises(ValueError, match=r"bands must be in \[1, 64\]"):
        simhash_near_dup_pairs(docs, max_hamming=-1, bands=0)


def test_dedup_pipeline_collapses_clones(spark):
    """Clone-heavy corpus: exact groups collapse before the near-dup join,
    rep pairs carry the group sizes, and no clone-pair blowup rows."""
    from mwas_rfam_spark.operators.dedup import dedup_pipeline_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    rows = [(i, base) for i in range(1, 6)]  # 5 exact clones
    rows += [(i, near) for i in range(6, 9)]  # 3 clones of a near-dup
    rows += [(9, "completely different content about spark dataframes and shuffles")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup_pipeline_pairs(docs, n=3, threshold=0.5).collect()
    # exactly ONE rep-level pair (1↔6), not 5×3 doc pairs
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 6)
    assert (r["n_docs_a"], r["n_docs_b"]) == (5, 3)
    assert 0.5 <= r["jaccard"] < 1.0


def test_dedup_clusters_components(spark):
    """Chained pairs (1-2, 2-3) must merge into one cluster labeled by the
    min id; docs in no pair are singleton clusters; keep marks reps."""
    from mwas_rfam_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 0.9), (7, 9, 0.8)], ["id_a", "id_b", "jaccard"]
    )
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)], ["doc_id"])
    out = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in dedup_clusters(pairs, docs).collect()}
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[3] == (1, False)  # transitive: 3 reaches 1 through 2
    assert out[5] == (5, True)  # singleton
    assert out[7] == (7, True)
    assert out[9] == (7, False)


def test_embedding_lsh_blocking(spark):
    """planes= blocking: near-identical vectors land in one sign bucket
    and pair up; opposite vectors never share a bucket."""
    rows = [
        (1, [1.0, 0.1, 0.0, 0.0]),
        (2, [0.99, 0.12, 0.0, 0.0]),   # near-dup of 1
        (3, [-1.0, -0.1, 0.0, 0.0]),   # antipode of 1
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    planes = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(
            emb, threshold=0.9, block_col=None, planes=planes
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert not any(3 in p for p in pairs)


def test_dedup_clusters_matches_union_find(spark):
    """Property: on a deterministic pseudo-random pair graph, the Spark
    min-label propagation must equal a plain-Python union-find."""
    import hashlib

    n = 60
    edges = []
    for i in range(1, n + 1):
        for j in range(i + 1, n + 1):
            if int(hashlib.md5(f"{i}-{j}".encode()).hexdigest(), 16) % 37 == 0:
                edges.append((i, j, 1.0))
    assert edges, "fixture must have edges"

    parent = list(range(n + 1))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(1, n + 1)}

    from mwas_rfam_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(edges, ["id_a", "id_b", "jaccard"])
    docs = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs, docs).collect()}
    assert got == expected


def test_dedup_clusters_path_graph_log_rounds(spark):
    """Adversarial high-diameter probe: a 2,000-node PATH graph (diameter
    1,999 — the templated/serially-derived-document shape). Plain
    min-label propagation needs diameter rounds and would blow any sane
    iteration cap; pointer doubling must converge within the default
    max_iters=25 (~log2(diameter) + settle rounds) to a single cluster
    labeled by the minimum node."""
    from mwas_rfam_spark.operators.dedup import dedup_clusters

    n = 2000
    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(1, n)], ["id_a", "id_b", "jaccard"]
    )
    out = dedup_clusters(pairs).collect()  # default max_iters=25
    assert len(out) == n
    assert {r["cluster_id"] for r in out} == {1}
    assert sum(r["keep"] for r in out) == 1


def test_dedup_clusters_nonconvergence_raises(spark):
    """An iteration cap below log2(diameter) must raise loudly — falling
    through silently would split one component into several keep=true
    representatives and let duplicates survive the drop list."""
    import pytest

    from mwas_rfam_spark.operators.dedup import dedup_clusters

    n = 600  # diameter 599 >> 2^2
    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(1, n)], ["id_a", "id_b", "jaccard"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        # local_threshold_edges=None: the local union-find path has no
        # iteration cap to test — force the distributed loop
        dedup_clusters(pairs, max_iters=2, local_threshold_edges=None)


def test_embedding_lsh_plane_dim_mismatch_raises(spark):
    """Mismatched plane dimension must fail fast, not silently collapse
    all vectors into one bucket (the full cross product)."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    bad_planes = [[1.0, 0.0]]  # dim 2 vs embedding dim 4
    with pytest.raises(Exception, match="dimension"):
        embedding_near_dup_pairs(
            emb, threshold=0.5, block_col=None, planes=bad_planes
        ).collect()


def test_curate_corpus_stages_and_modes(spark):
    """Planted junk lands in the right stage, in pipeline order (a
    low-quality duplicate is 'quality'); filter mode == mark-then-filter;
    redaction and sharding apply only to kept rows."""
    import pytest

    from mwas_rfam_spark.operators.curation import curate_corpus

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),        # kept
            (2, "alpha beta gamma delta epsilon zeta"),        # duplicate of 1
            (3, "tiny"),                                       # quality (too short)
            (4, "tiny"),                                       # quality, NOT duplicate
            (5, "the bench mark secret answer string here ok"),# contaminated
            (6, "mail me at bob@example.com more words here"), # kept, redacted
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the bench mark secret answer string here ok")],
        "doc_id long, text string",
    )
    marked = curate_corpus(docs, bench, min_tokens=5, decontam_n=5,
                           decontam_threshold=0.2, mode="mark")
    stages = {r["doc_id"]: r["drop_stage"] for r in marked.collect()}
    assert stages == {1: "kept", 2: "duplicate", 3: "quality",
                      4: "quality", 5: "contaminated", 6: "kept"}

    kept = curate_corpus(docs, bench, min_tokens=5, decontam_n=5,
                         decontam_threshold=0.2, n_shards=4, seed=1)
    rows = {r["doc_id"]: r for r in kept.collect()}
    assert set(rows) == {1, 6}
    assert "[EMAIL]" in rows[6]["text"] and "@" not in rows[6]["text"]
    assert all(0 <= r["shard"] < 4 and r["seq"] >= 1 for r in rows.values())
    # mark-mode survivors == filter-mode survivors
    assert {k for k, v in stages.items() if v == "kept"} == set(rows)

    with pytest.raises(ValueError):
        curate_corpus(docs, mode="bogus")


def test_incremental_exact_dedup_batches(spark):
    """Batch 1 seeds the hash state; batch 2 drops both its internal dups
    and anything already seen; state grows by exactly the new distincts."""
    from mwas_rfam_spark.operators.dedup import incremental_exact_dedup

    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "ALPHA   beta"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    s1, h1 = incremental_exact_dedup(b1)
    assert {r["doc_id"] for r in s1.collect()} == {1, 3}  # 2 is a normalize-dup of 1
    assert h1.count() == 2

    b2 = spark.createDataFrame(
        [(10, "gamma delta"), (11, "epsilon zeta"), (12, "epsilon  zeta")],
        "doc_id long, text string",
    )
    s2, h2 = incremental_exact_dedup(b2, h1)
    assert {r["doc_id"] for r in s2.collect()} == {11}  # 10 seen, 12 in-batch dup
    assert h2.count() == 3
    # survivors carry the original schema (no helper columns)
    assert s2.columns == ["doc_id", "text"]


def test_curate_corpus_lang_gate(spark):
    """allowed_langs drops documents whose heuristic language is outside
    the allow-list at the quality stage."""
    from mwas_rfam_spark.operators.curation import curate_corpus

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog in a house"),       # en
            (2, "le chat et le chien est un animal"),    # fr
            (3, "xyzzy qwerty plugh foobar quux corge"), # und
        ],
        "doc_id long, text string",
    )
    marked = curate_corpus(docs, min_tokens=3, allowed_langs=("en",), mode="mark")
    stages = {r["doc_id"]: r["drop_stage"] for r in marked.collect()}
    assert stages == {1: "kept", 2: "quality", 3: "quality"}


def test_curate_corpus_repetition_gate(spark):
    """max_dup_line_frac drops line-repetitive documents at the quality
    stage; the gate is inert when unset."""
    from mwas_rfam_spark.operators.curation import curate_corpus

    rep = "same line here\n" * 6 + "one different closing line"
    docs = spark.createDataFrame(
        [(1, "normal words spread over one line nicely"), (2, rep)],
        "doc_id long, text string",
    )
    stages = {r["doc_id"]: r["drop_stage"]
              for r in curate_corpus(docs, min_tokens=3, max_dup_line_frac=0.5,
                                     mode="mark").collect()}
    assert stages == {1: "kept", 2: "quality"}
    off = curate_corpus(docs, min_tokens=3, mode="mark")
    assert {r["drop_stage"] for r in off.collect()} == {"kept"}


def test_curate_repetition_profiles_only_quality_survivors(spark):
    """The repetition explode+rollup runs over cheap-gate survivors, not
    the whole corpus: a doc that fails the token gate marks 'quality'
    without ever being profiled, and the optimized plan's Generate
    (explode) sits above a Filter on the token-count condition."""
    from mwas_rfam_spark.operators.curation import curate_corpus

    rep = "same line again\n" * 6 + "distinct closing line of this document"
    docs = spark.createDataFrame(
        [(1, "short"), (2, rep), (3, "plenty of ordinary words in this one")],
        "doc_id long, text string",
    )
    marked = curate_corpus(docs, min_tokens=3, max_dup_line_frac=0.5, mode="mark")
    stages = {r["doc_id"]: r["drop_stage"] for r in marked.collect()}
    assert stages == {1: "quality", 2: "quality", 3: "kept"}

    plan = marked._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    gen = next(i for i, ln in enumerate(lines) if "Generate explode" in ln)
    # the explode's subtree (indented below it) must contain the cheap
    # quality filter — i.e. profiling consumes pre-filtered rows
    assert any(
        "Filter" in ln and "split(" in ln for ln in lines[gen + 1:]
    ), f"no token-gate Filter below the explode:\n{plan}"


def test_curate_corpus_dedup_lines_stage(spark):
    """dedup_lines=True line-dedups BEFORE the gates: the later copy of
    a repeated line vanishes from surviving docs, and a doc made of
    nothing but repeated lines empties and fails the token gate."""
    from mwas_rfam_spark.operators.curation import curate_corpus

    rows = [
        (1, "one two three four five\nshared boilerplate line here"),
        (2, "shared boilerplate line here\nsix seven eight nine ten"),
        (3, "shared boilerplate line here"),  # emptied -> quality fail
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"]: r["text"]
            for r in curate_corpus(docs, min_tokens=3, dedup_lines=True,
                                   redact=False).collect()}
    assert kept == {
        1: "one two three four five\nshared boilerplate line here",
        2: "six seven eight nine ten",
    }
    marked = {r["doc_id"]: r["drop_stage"]
              for r in curate_corpus(docs, min_tokens=3, dedup_lines=True,
                                     mode="mark").collect()}
    assert marked == {1: "kept", 2: "kept", 3: "quality"}


def test_similar_documents_search(spark):
    """Shared-shingle scoring: the near-copy ranks first with the right
    Jaccard, disjoint docs never appear, and the k cap holds."""
    import pytest

    from mwas_rfam_spark.operators.dedup import similar_documents

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # near-copy of the query
            (2, "alpha beta gamma nothing else"),   # partial overlap
            (3, "completely different words here"), # disjoint -> absent
        ],
        "doc_id long, text string",
    )
    out = similar_documents(docs, "alpha beta gamma delta epsilon", k=5, n=3)
    rows = [(r["doc_id"], r["shared"], r["jaccard"]) for r in out.collect()]
    assert [r[0] for r in rows] == [1, 2]
    assert rows[0][1] == 3 and rows[0][2] == 1.0  # identical shingle set
    # doc 2 shares exactly "alpha beta gamma": 1/(3+3-1)
    assert rows[1][1] == 1 and abs(rows[1][2] - 1 / 5) < 1e-6
    assert similar_documents(docs, "alpha beta gamma delta epsilon", k=1).count() == 1
    with pytest.raises(ValueError):
        similar_documents(docs, "too short")


def test_corpus_overlap_estimate(spark):
    """Identical corpora -> 1.0; disjoint -> 0.0; a constructed 50%
    shingle overlap estimates within MinHash error (~3/sqrt(k))."""
    import pytest

    from mwas_rfam_spark.operators.dedup import corpus_overlap_estimate

    def corpus(lo, hi):
        # doc i contributes exactly one distinct 3-shingle "s i end"
        return spark.range(lo, hi).selectExpr(
            "id AS doc_id", "concat('s ', CAST(id AS STRING), ' end') AS text"
        )

    a = corpus(0, 200)
    assert corpus_overlap_estimate(a, corpus(0, 200)) == 1.0
    assert corpus_overlap_estimate(a, corpus(200, 400)) == 0.0
    # corpus b shares shingles 100..200 with a; J = 100/300
    est = corpus_overlap_estimate(a, corpus(100, 300), num_hashes=256)
    assert abs(est - 1 / 3) < 3 / (256 ** 0.5), est
    with pytest.raises(ValueError):
        corpus_overlap_estimate(a, corpus(0, 10), num_hashes=0)
    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError):
        corpus_overlap_estimate(a, empty)


def test_overlap_matrix_from_signatures(spark, sf_dir):
    """Stored-signature overlap matrix agrees with the direct pairwise
    estimator, self-overlap of identical corpora is 1.0, and mixed
    signature widths are rejected."""
    import pytest as _pt

    from mwas_rfam_spark.operators.dedup import (
        corpus_overlap_estimate,
        corpus_signature,
        overlap_matrix_from_signatures,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    a = d.where("doc_id % 3 = 0")
    b = d.where("doc_id % 3 = 1")
    sigs = (
        corpus_signature(a, "a")
        .unionByName(corpus_signature(b, "b"))
        .unionByName(corpus_signature(a, "a2"))  # identical content to a
    )
    m = {
        (r["corpus_a"], r["corpus_b"]): r["overlap_est"]
        for r in overlap_matrix_from_signatures(sigs).collect()
    }
    assert len(m) == 3
    assert m[("a", "a2")] == 1.0  # identical shingle sets -> identical signature
    direct = corpus_overlap_estimate(a, b)
    assert m[("a", "b")] == _pt.approx(direct, abs=1e-9)

    bad = corpus_signature(a, "w64", num_hashes=64)
    with _pt.raises(ValueError, match="mixed num_hashes"):
        overlap_matrix_from_signatures(sigs.unionByName(bad)).collect()


def test_auto_max_df_policy(spark, sf_dir):
    """VERDICT r4 task #6: the default max_df='auto' derives the
    stop-shingle cap from the corpus's own df distribution — None
    (exact) on high-vocab corpora, a p95 cap on low-vocab ones — and on
    the real documents corpus (low-vocab by measurement, mean shingle
    df ~9.6 at sf0.1) auto keeps recall identical to the exact join."""
    from mwas_rfam_spark.operators.dedup import auto_max_df, word_shingles

    # high-vocab: 40 docs of distinct content -> mean df ~1 -> exact
    hi = spark.createDataFrame(
        [(i, f"unique alpha{i} beta{i} gamma{i} delta{i} epsilon{i}") for i in range(40)],
        "doc_id long, text string",
    )
    dfc = (
        word_shingles(hi, 3).groupBy("shingle").agg(F.count("*").alias("df"))
    )
    assert auto_max_df(dfc) is None
    # low-vocab: every doc is a permutation of the same tiny vocabulary
    lo = spark.createDataFrame(
        [(i, "one two three four five six seven eight nine ten " * 2) for i in range(60)],
        "doc_id long, text string",
    )
    dfc_lo = (
        word_shingles(lo, 3).groupBy("shingle").agg(F.count("*").alias("df"))
    )
    cap = auto_max_df(dfc_lo)
    assert cap is not None and cap >= 10

    # real corpus: auto engages AND recall is unchanged vs exact
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    exact = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(d, n=3, threshold=0.5, max_df=None).collect()
    }
    auto = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(d, n=3, threshold=0.5).collect()
    }
    assert auto == exact


def test_auto_max_df_bad_string(spark, docs):
    with pytest.raises(ValueError, match="max_df"):
        ngram_jaccard_pairs(docs, max_df="always").count()


def test_dedup_clusters_local_vs_distributed(spark):
    """The size-adaptive local union-find cutover must produce labels
    IDENTICAL to the distributed pointer-doubling loop — randomized
    graphs incl. chains (the adversarial diameter shape), stars, and
    isolated nodes."""
    import random

    rng = random.Random(7)
    nodes = list(range(100))
    edges = [(a, b) for a, b in zip(nodes, nodes[1:30])]  # a chain
    edges += [(50, x) for x in range(51, 60)]  # a star
    edges += [(rng.randrange(60, 95), rng.randrange(60, 95)) for _ in range(40)]
    edges = [(a, b) for a, b in edges if a != b]
    from mwas_rfam_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    docs = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    local = {
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in dedup_clusters(pairs, docs=docs).collect()
    }
    dist = {
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in dedup_clusters(pairs, docs=docs, local_threshold_edges=None).collect()
    }
    assert local == dist and len(local) == 100


def test_dedup_clusters_local_empty_pairs(spark):
    from mwas_rfam_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    rows = {(r["doc_id"], r["cluster_id"], r["keep"]) for r in dedup_clusters(pairs, docs=docs).collect()}
    assert rows == {(1, 1, True), (2, 2, True)}


def test_soft_dedup_weights(spark):
    """Cluster mass = 1 regardless of member count; singletons keep 1;
    composes end-to-end from real dedup_clusters output."""
    from pyspark.sql import functions as F

    from mwas_rfam_spark.operators.dedup import dedup_clusters, soft_dedup_weights

    docs = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    clusters = dedup_clusters(pairs)
    got = {
        r["doc_id"]: r["weight"]
        for r in soft_dedup_weights(docs, clusters).collect()
    }
    assert got[1] == got[2] == got[3] == pytest.approx(1 / 3)
    assert got[5] == got[6] == pytest.approx(1 / 2)
    assert got[4] == got[7] == 1.0
    # total sampling mass = number of distinct contents
    assert sum(got.values()) == pytest.approx(1 + 1 + 2)  # 2 clusters + 2 singletons


def test_approx_dedup_quality_report(spark, sf_dir):
    """Report metrics must agree with independently recomputed set
    arithmetic on the same slice, and MinHash at 64/16 on this corpus
    should dominate SimHash at reproducing the Jaccard relation."""
    from mwas_rfam_spark.operators.dedup import (
        approx_dedup_quality_report,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    rep = {
        r["method"]: r
        for r in approx_dedup_quality_report(
            docs, threshold=0.5, sample_docs=150, seed=3
        ).collect()
    }
    assert set(rep) == {"minhash_lsh", "simhash"}

    # recompute the slice + sets independently
    from mwas_rfam_spark.functions.scalar import md5_uniform

    u = md5_uniform(F.concat_ws(":", F.lit("eval"), F.lit("3"), F.col("doc_id").cast("string")))
    sl = docs.withColumn("__u", u).orderBy("__u", "doc_id").limit(150).drop("__u").cache()
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(sl, threshold=0.5, max_df=None).collect()
    }
    mh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(sl, threshold=0.5).collect()}
    sh = {(r["id_a"], r["id_b"]) for r in simhash_near_dup_pairs(sl).collect()}
    assert rep["minhash_lsh"]["n_truth"] == len(truth) > 0
    assert rep["minhash_lsh"]["n_pred"] == len(mh)
    assert rep["minhash_lsh"]["true_pos"] == len(mh & truth)
    assert rep["simhash"]["n_pred"] == len(sh)
    assert rep["simhash"]["true_pos"] == len(sh & truth)
    for m, s in (("minhash_lsh", mh), ("simhash", sh)):
        tp = len(s & truth)
        assert rep[m]["precision"] == pytest.approx(tp / len(s) if s else 0.0)
        assert rep[m]["recall"] == pytest.approx(tp / len(truth))
    assert rep["minhash_lsh"]["f1"] >= rep["simhash"]["f1"]


def test_semantic_decontaminate_exact_hand_model(spark):
    from mwas_rfam_spark.operators.dedup import semantic_decontaminate

    d = 8
    e = lambda i: [1.0 if j == i else 0.0 for j in range(d)]
    eval_emb = spark.createDataFrame(
        [(10, e(0)), (11, e(1)), (12, e(0))],  # 12 duplicates 10: tie -> 10
        "vec_id long, embedding array<double>",
    )
    near = [0.99] + [0.0405] * (d - 1)  # cos to e(0) ~ 0.96
    train = spark.createDataFrame(
        [
            (1, [2.0] + [0.0] * (d - 1)),  # scaled e(0): cos 1.0
            (2, near),
            (3, e(3)),                     # orthogonal
            (4, None),                     # NULL: never contaminated
            (5, [0.0] * d),                # zero norm: never contaminated
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["matched_eval_id"], round(r["cosine"], 6))
        for r in semantic_decontaminate(train, eval_emb, threshold=0.95).collect()
    }
    assert set(got) == {1, 2}
    assert got[1] == (10, 1.0)  # tie between eval 10 and 12 -> smallest id
    assert got[2][0] == 10 and got[2][1] >= 0.95

    # empty eval side -> empty relation, stable schema
    empty = semantic_decontaminate(
        train, eval_emb.limit(0), threshold=0.95
    )
    assert empty.columns == ["vec_id", "matched_eval_id", "cosine"]
    assert empty.count() == 0


def test_semantic_decontaminate_blocked_path_agrees_on_clones(spark, sf_dir):
    """The above-threshold-eval blocked path must find every exact clone
    the broadcast path finds (identical vectors share a cell under any
    quantizer), and report the same cosines for them."""
    from mwas_rfam_spark.operators.dedup import semantic_decontaminate

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    eval_emb = emb.where(F.col("vec_id") % 11 == 0)
    # train contains exact clones of eval (ids shifted) plus other vectors
    clones = eval_emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    train = emb.where(F.col("vec_id") % 11 != 0).unionByName(clones)

    exact = {
        r["vec_id"]: (r["matched_eval_id"], round(r["cosine"], 6))
        for r in semantic_decontaminate(train, eval_emb, threshold=0.999).collect()
    }
    blocked = {
        r["vec_id"]: (r["matched_eval_id"], round(r["cosine"], 6))
        for r in semantic_decontaminate(
            train, eval_emb, threshold=0.999, max_broadcast_eval=0
        ).collect()
    }
    clone_ids = {r["vec_id"] for r in clones.select("vec_id").collect()}
    assert clone_ids <= set(exact)
    assert clone_ids <= set(blocked)
    for cid in clone_ids:
        assert exact[cid][1] == blocked[cid][1] == 1.0
    # blocked is the documented under-approximation of exact
    assert set(blocked) <= set(exact)


def test_semantic_decontaminate_tolerates_ragged_eval(spark):
    """A wrong-dimension eval row is excluded (like the blocked path's
    NULL cell), not fatal (regression: np.asarray used to raise on the
    inhomogeneous matrix)."""
    from mwas_rfam_spark.operators.dedup import semantic_decontaminate

    d = 8
    e = lambda i: [1.0 if j == i else 0.0 for j in range(d)]
    eval_emb = spark.createDataFrame(
        [(10, e(0)), (11, [1.0, 0.0])],  # 11 is 2-dim: excluded
        "vec_id long, embedding array<double>",
    )
    train = spark.createDataFrame(
        [(1, [3.0] + [0.0] * (d - 1))], "vec_id long, embedding array<double>"
    )
    got = semantic_decontaminate(train, eval_emb, threshold=0.95).collect()
    assert [(r["vec_id"], r["matched_eval_id"]) for r in got] == [(1, 10)]


def test_boundary_whitespace_tokenization_fixes(spark):
    """r11 review findings (verified-by-execution set): trailing \\n/\\t
    must not change exact-dedup hashes, fabricate phantom shingles, or
    flip SimHash bits — `trim` strips only spaces, so the pre-fix
    pipeline treated 'hello world\\n' and 'hello world' as different
    docs while matching fabricated 3-grams across 2-token texts."""
    from mwas_rfam_spark.operators.dedup import (
        exact_dedup_groups,
        simhash32_md5,
        simhash64,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(1, "hello world\n"), (2, "hello world\t"), (3, "hello world")],
        "doc_id long, text string",
    )
    groups = exact_dedup_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["n_docs"] == 3  # one hash, all three

    # 2 real tokens at n=3: NO shingles for any variant (the phantom
    # empty token used to fabricate 'hello world ' for docs 1 and 2)
    assert word_shingles(docs, n=3).count() == 0
    # and with n=2 all three docs emit the SAME single shingle
    sh = word_shingles(docs, n=2).collect()
    assert {r["shingle"] for r in sh} == {"hello world"} and len(sh) == 3

    for fn in (simhash64, simhash32_md5):
        h = {r["id"]: r["simhash"] for r in fn(docs).collect()}
        assert h[1] == h[2] == h[3]


def test_line_dedup_preserves_paragraph_boundaries(spark):
    """r11 review finding: at min_dedup_len=0 the empty line used to
    dedup GLOBALLY — every doc after the corpus-first lost its blank
    lines and paragraphs silently merged."""
    from mwas_rfam_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "a\n\nb"), (2, "c\n\nd")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["text"] for r in line_dedup(docs).collect()}
    assert got == {1: "a\n\nb", 2: "c\n\nd"}


def test_hamming_band_pairs_bands_one_exact_match(spark):
    """r11 review finding: bands=1 (the documented-legal exact-hash
    configuration) crashed at plan build — (1<<64)-1 overflows Long;
    the all-bits mask in signed arithmetic is -1."""
    from mwas_rfam_spark.operators.dedup import hamming_band_pairs

    df = spark.createDataFrame(
        [(1, 7), (2, 7), (3, -7), (4, -7), (5, 9)], "id long, h long"
    )
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in hamming_band_pairs(df, "h", "id", max_hamming=0, bands=1).collect()
    )
    assert got == [(1, 2), (3, 4)]  # exact matches only, negatives incl.


def test_semantic_decontaminate_majority_dim_and_string_ids(spark):
    """r11 review findings: (a) one corrupt short vector holding the
    SMALLEST eval id used to define the reference dimension and
    silently discard the entire valid eval set — the majority dimension
    now wins; (b) the broadcast path hardcoded int64 eval ids while the
    blocked path accepted any type — string ids crashed only below the
    broadcast cutoff."""
    from mwas_rfam_spark.operators.dedup import semantic_decontaminate

    d = 6
    e = lambda i: [1.0 if j == i else 0.0 for j in range(d)]
    eval_emb = spark.createDataFrame(
        [(1, [0.5, 0.5]), (10, e(0)), (11, e(1)), (12, e(2))],  # id 1 corrupt
        "vec_id long, embedding array<double>",
    )
    train = spark.createDataFrame(
        [(100, [3.0] + [0.0] * (d - 1))], "vec_id long, embedding array<double>"
    )
    got = semantic_decontaminate(train, eval_emb, threshold=0.95).collect()
    assert [(r["vec_id"], r["matched_eval_id"]) for r in got] == [(100, 10)]

    seval = spark.createDataFrame(
        [("mmlu-001", e(0)), ("mmlu-002", e(1))],
        "vec_id string, embedding array<double>",
    )
    got = semantic_decontaminate(train, seval, threshold=0.95).collect()
    assert [(r["vec_id"], r["matched_eval_id"]) for r in got] == [(100, "mmlu-001")]
    assert dict(
        semantic_decontaminate(train, seval, threshold=0.95).dtypes
    )["matched_eval_id"] == "string"


def test_embedding_near_dup_null_block_key_raises(spark):
    """r11 review finding: NULL block keys never self-equi-join, so
    such rows silently skipped ALL near-dup comparison; fail fast by
    name instead (the planes path already did for null dots)."""
    import pytest as _pt

    from mwas_rfam_spark.operators.dedup import embedding_near_dup_pairs

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [1.0, 0.0], None)],
        "vec_id long, embedding array<double>, label string",
    )
    with _pt.raises(Exception, match="NULL 'label' block key"):
        embedding_near_dup_pairs(emb, block_col="label").collect()
