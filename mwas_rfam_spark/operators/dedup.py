"""Deduplication operators for large-scale training-data pipelines.

Beyond-parity extensions (SURVEY.md §7 M5): exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup — all formulated as
shuffle-conscious DataFrame plans:

* Pairwise similarity is NEVER all-pairs: candidates come from an
  inverted index (shared shingle / LSH band bucket), so cost scales with
  collision counts, not n².
* Hashes are computed with built-in JVM functions (md5/xxhash64), keeping
  the hot path inside whole-stage codegen; no Python UDFs.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..pinning import held, overlap, pin
from .text import tokens, word_ngrams


def normalize_text(col):
    """Canonical text for hashing: lowercase, collapsed whitespace.
    Collapse BEFORE trim: `trim` strips only ASCII spaces, so trimming
    first left a boundary artifact when the text started/ended with
    \n or \t ('hello world\n' -> 'hello world ') and exact dedup
    missed documents differing only by a trailing newline — the
    near-universal crawled-text case (r11 review finding, verified)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup_groups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    doc_ids_cap: int | None = None,
) -> DataFrame:
    """Exact duplicate groups by md5 of normalized text (hash-groupBy).

    Returns (content_hash, n_docs, keep_id) — keep_id is the minimum id
    (deterministic canonical representative). The full member list is NOT
    emitted by default: at corpus scale a pathological hash group
    (billions of identical boilerplate docs) would make one row own an
    unbounded array. Pass ``doc_ids_cap=k`` to add ``doc_ids`` (the k
    smallest member ids) plus a ``doc_ids_truncated`` marker; ids beyond
    the cap are pre-filtered by a rank window that shares the groupBy's
    hash exchange, so the aggregation buffer is bounded by k — they are
    never collected then sliced.
    """
    hashed = docs.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    )
    if doc_ids_cap is None:
        return hashed.groupBy("content_hash").agg(
            F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id")
        )
    if doc_ids_cap < 1:
        raise ValueError(f"doc_ids_cap must be >= 1, got {doc_ids_cap}")
    w = Window.partitionBy("content_hash").orderBy(id_col)
    ranked = hashed.withColumn("__rk", F.row_number().over(w))
    return ranked.groupBy("content_hash").agg(
        F.count("*").alias("n_docs"),
        F.min(id_col).alias("keep_id"),
        F.sort_array(
            F.collect_list(F.when(F.col("__rk") <= doc_ids_cap, F.col(id_col)))
        ).alias("doc_ids"),
        (F.count("*") > doc_ids_cap).alias("doc_ids_truncated"),
    )


def _fp_ceil(x):
    """ceil for candidate-bound arithmetic on FLOAT thresholds:
    ``ceil(0.7 * 10)`` is 8 in doubles (0.7*10 = 7.000000000000001),
    which would demand one more shared shingle than the verification's
    ``ratio >= t`` accepts — an off-by-one that silently DROPS
    exact-boundary pairs at candidate generation. Subtracting a 1e-9
    slack before ceil errs only toward MORE candidates (never fewer),
    so exactness is preserved and the cost is at most one extra prefix
    position when t·sz sits within 1e-9 above an integer."""
    return F.ceil(x - F.lit(1e-9))


def word_shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Word n-gram shingles per document: (id, shingle) rows, distinct
    per UNIQUE doc id.

    CONTRACT: ``id_col`` must be unique per input row. The output is
    distinct by construction (array_distinct dedups within the doc, the
    id is constant per doc) — r13 removed the redundant trailing
    ``.distinct()`` (a full extra Exchange + HashAggregate pair in every
    shingle consumer) on exactly this precondition. An input carrying
    the same id on two rows emits that id's shingles once PER ROW, which
    inflates every downstream df/sz/overlap count; dedupe ids upstream
    (every current caller passes a primary-key id).

    Built from `text.tokens` and `text.word_ngrams` (higher-order
    functions, JVM-side); the explode is the scalable long form feeding
    the inverted index. Documents with fewer than n tokens yield no
    shingles.
    """
    toked = docs.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
    shingle = word_ngrams("toks", n)
    # (id, shingle) is already distinct here: array_distinct dedups
    # WITHIN the doc before the explode, and id is constant per doc —
    # the .distinct() this returned through r13 was a redundant full
    # exchange + two hash aggregates over the exploded relation in
    # EVERY shingle consumer (plan audit, r13 opt round: sql-node dump
    # showed HashAggregate×2 at 260k rows ahead of doc_sets' own
    # aggregation with identical row counts in and out)
    return toked.select(
        "id", F.explode(F.array_distinct(shingle)).alias("shingle")
    ).where(F.col("shingle") != "")


#: auto stop-shingle policy: engage only when the corpus is low-vocab
#: (mean shingle df above this bound — the regenerated sf0.1 corpus that
#: motivated the guard measures 9.6; high-vocab natural text sits ~1-2)
AUTO_MAX_DF_MEAN_BOUND = 5.0
#: when engaged, cap at this df quantile (drops only the hottest tail)
AUTO_MAX_DF_QUANTILE = 0.95
#: never cap below this df — tiny corpora keep every shingle
AUTO_MAX_DF_FLOOR = 10


def auto_max_df(df_counts: DataFrame) -> int | None:
    """Derive the PPJoin+ stop-shingle cap from the corpus's own
    document-frequency distribution (one aggregation over the DISTINCT
    shingles — parameter-sized result): returns None (exact join) when
    the corpus is high-vocabulary (mean df <= AUTO_MAX_DF_MEAN_BOUND —
    hot shingles are rare enough that prefix filtering alone bounds
    candidates), else the AUTO_MAX_DF_QUANTILE df (floored at
    AUTO_MAX_DF_FLOOR) so only the hottest ~5% of shingles leave
    candidate generation. Candidate cost is then bounded ~cap² per
    indexed shingle instead of Σ df² (SCALE.md: 202k candidates for 256
    true pairs on the low-vocab corpus, unbounded)."""
    row = df_counts.agg(
        F.mean("df").alias("m"),
        F.expr(
            f"approx_percentile(df, {AUTO_MAX_DF_QUANTILE}, 10000)"
        ).alias("q"),
    ).collect()[0]
    if row["m"] is None or row["m"] <= AUTO_MAX_DF_MEAN_BOUND:
        return None
    return max(int(row["q"]), AUTO_MAX_DF_FLOOR)


def _shingle_index(
    docs: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    max_df,
    prefix_threshold: float | None = None,
):
    """The ONE construction of the set-similarity inverted index shared
    by the Jaccard and containment joins → (doc_sets, ranked,
    resolved_max_df).

    doc_sets: (id, shingles sorted, sz), localCheckpoint'ed (multiple
    verify-join consumers would otherwise re-plan the shingle subtree).
    ranked: (id, shingle, pos, sz) with pos the 0-based canonical rank
    (df ascending, then shingle text), optionally cut to each doc's
    Jaccard prefix (``prefix_threshold``) BEFORE the checkpoint so the
    symmetric join materializes prefixes only, and with the PPJoin+
    ``max_df`` stop-shingle cap applied AFTER ranks are fixed (so
    surviving shingles keep the canonical positions the positional
    bound reasons about). ``max_df="auto"`` resolves via
    :func:`auto_max_df`."""
    sh = word_shingles(docs, n, text_col, id_col)
    doc_sets = pin(sh.groupBy("id").agg(
        F.sort_array(F.collect_list("shingle")).alias("shingles"),
        F.count("*").alias("sz"),
    ), "_shingle_index:doc_sets")

    # every downstream pass (df counts — incl. the auto_max_df probe —
    # and the ranked index) re-derives the shingle relation by EXPLODING
    # the pinned per-doc arrays: shingles are distinct per doc, so this
    # is exactly word_shingles' output without re-scanning and
    # re-tokenizing the corpus once per consumer (r13 opt round: the
    # tokenize+scan ran 2-3× per index build)
    sh = doc_sets.select("id", F.explode("shingles").alias("shingle"))

    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    if isinstance(max_df, str):
        if max_df != "auto":
            raise ValueError(f"max_df must be an int, None, or 'auto': {max_df!r}")
        max_df = auto_max_df(df_counts)
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("shingle"))
    ranked = (
        sh.join(df_counts, "shingle")
        .withColumn("pos", F.row_number().over(w) - 1)  # 0-based canonical rank
        .join(doc_sets.select("id", "sz"), "id")
    )
    if prefix_threshold is not None:
        # Jaccard prefix length: |d| - ceil(t*|d|) + 1 (fp-safe ceil —
        # a double ceil overshoots at exact boundaries, see _fp_ceil)
        ranked = ranked.where(
            F.col("pos")
            < F.col("sz") - _fp_ceil(F.lit(prefix_threshold) * F.col("sz")) + 1
        )
    if max_df is not None:
        ranked = ranked.where(F.col("df") <= max_df)
    ranked = pin(ranked.select("id", "shingle", "pos", "sz"), "_shingle_index:ranked")
    return doc_sets, ranked, max_df


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None | str = "auto",
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity — EXACT
    with ``max_df=None``; the default ``max_df="auto"`` is exact on
    high-vocabulary corpora and trades bounded recall for bounded cost
    on low-vocabulary ones (details under ``max_df`` below — this
    default changed from ``None`` in r5; callers needing bit-exact
    all-pairs output must pass ``max_df=None``).

    Prefix-filtered set-similarity join (the PPJoin family — Xiao et al.,
    WWW'08 — expressed relationally):

    1. rank each doc's shingles in a global canonical order, rarest first
       (document frequency, then shingle text);
    2. a pair with Jaccard >= t MUST share a shingle within each doc's
       first ``|d| - ceil(t·|d|) + 1`` ranked shingles, so the
       inverted-index self-join runs on that PREFIX only — hot (high-df)
       shingles land at the tail of every prefix ordering and stop
       driving the quadratic candidate blowup that kills the naive
       formulation at scale;
    3. candidates get a length-ratio filter (t·|a| <= |b|) and the
       POSITIONAL upper bound: if the first shared shingle (in canonical
       order) sits at 0-based ranks (pa, pb), every common shingle ranks
       >= pa in a and >= pb in b, so |a∩b| <= min(|a|-pa, |b|-pb); pairs
       whose bound misses α = ceil(t/(1+t)·(|a|+|b|)) are pruned BEFORE
       any full shingle set is shipped;
    4. survivors are verified exactly with array_intersect.

    Returns (id_a, id_b, jaccard) with id_a < id_b — identical results to
    the naive all-shared-shingles join, with cost bound by prefix
    collisions instead of total collisions.

    ``max_df`` (the PPJoin+ stop-shingle refinement) additionally drops
    shingles whose document frequency exceeds the bound from CANDIDATE
    GENERATION only — verification stays exact over full shingle sets.
    This is the guard for low-vocabulary corpora, where a handful of hot
    shingles land inside many prefixes and candidates grow ~Σ df²
    regardless of prefix filtering (measured on the regenerated sf0.1
    corpus: 27k distinct shingles over 260k occurrences → 202k candidates
    for 256 true pairs — SCALE.md). With the cap, candidate cost is
    bounded by ``max_df²`` per indexed shingle. The trade: a pair is
    missed only when EVERY prefix shingle it shares is hot (df > bound) —
    at dedup thresholds a near-duplicate pair shares most of its rare
    shingles too, so recall on tested corpora is unchanged;
    ``max_df=None`` keeps the join exact.

    The default ``max_df="auto"`` derives the cap from the corpus's own
    df distribution (:func:`auto_max_df`): high-vocabulary corpora
    resolve to None (exact join, no behavior change), low-vocabulary
    corpora — where prefix filtering alone cannot bound candidates —
    get the hottest ~5% of shingles capped out of candidate generation
    without the caller knowing the knob. The resolution costs one extra
    aggregation pass over the shingles (parameter-sized result). Pass
    ``max_df=None`` explicitly where bit-exact parity with a full
    all-pairs oracle is required (the registered correctness entries
    do).
    """
    doc_sets, ranked, max_df = _shingle_index(
        docs, n, text_col, id_col, max_df, prefix_threshold=threshold
    )
    alpha = _fp_ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("sz_a") + F.col("sz_b"))
    )
    cand = (
        ranked.select(F.col("id").alias("id_a"), "shingle", F.col("pos").alias("pa"), F.col("sz").alias("sz_a"))
        .join(
            ranked.select(F.col("id").alias("id_b"), "shingle", F.col("pos").alias("pb"), F.col("sz").alias("sz_b")),
            "shingle",
        )
        .where(
            (F.col("id_a") < F.col("id_b"))
            # length filter: t <= J(a,b) requires t*max(sz) <= min(sz);
            # 1e-9 slack for the same fp boundary as _fp_ceil
            & (F.lit(threshold) * F.greatest("sz_a", "sz_b") - F.lit(1e-9)
               <= F.least("sz_a", "sz_b"))
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("pa").alias("pa"),
            F.min("pb").alias("pb"),
            F.first("sz_a").alias("sz_a"),
            F.first("sz_b").alias("sz_b"),
        )
    )
    if max_df is None:
        # positional prune is only sound over the FULL index: with hot
        # shingles dropped, min(pa) overestimates the first-shared rank
        # (a dropped hot shingle may rank earlier), so the bound would
        # wrongly prune true pairs reachable through a rare shingle. The
        # df cap already bounds candidate volume, which is all this
        # filter buys.
        cand = cand.where(
            F.least(F.col("sz_a") - F.col("pa"), F.col("sz_b") - F.col("pb")) >= alpha
        )
    cand = cand.select("id_a", "id_b")
    # explicit repartition: AQE sizes this stage by candidate BYTES (tiny
    # id pairs) but each row pays an array_intersect over full shingle
    # sets — compute AQE can't see; without it verification runs ~2-wide
    n_part = max(docs.sparkSession.sparkContext.defaultParallelism * 2, 8)
    verified = (
        cand.repartition(n_part, "id_a", "id_b")
        .join(
            doc_sets.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            doc_sets.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .withColumn("shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


def dedup_pipeline_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    pair_fn=None,
    max_df: int | None | str = None,
) -> DataFrame:
    """Composed dedup: exact-collapse → near-dup on representatives →
    group sizes re-attached. ``max_df`` passes through to the default
    exact-Jaccard matcher (None — exact, bit-replayable by the SQL
    oracle; "auto" engages the stop-shingle guard on low-vocab corpora).

    The exact Jaccard join is output-bound on clone-heavy corpora (every
    clone pair is a result row — SCALE.md measured 4 s → 74 s at 10×
    clone mass). Collapsing exact duplicate groups FIRST (hash-groupBy,
    one shuffle) and running the near-dup join only on each group's
    canonical representative removes that blowup structurally: near-dup
    cost scales with DISTINCT content, not clone count.

    Returns (id_a, id_b, jaccard, n_docs_a, n_docs_b): one row per
    representative pair, where n_docs_* are the exact-group sizes — the
    implicit doc-level pair count is n_docs_a × n_docs_b, deliberately
    NOT materialized (that would reintroduce the quadratic output).
    ``pair_fn`` swaps the representative-level matcher (default: exact
    n-gram Jaccard; any (docs) → (id_a, id_b, jaccard)-shaped operator
    such as minhash_lsh_pairs_md5 works).
    """
    # checkpoint: `groups` feeds the representative semi-join and both
    # group-size re-attach joins — one exact-dedup pass, not three
    groups = pin(exact_dedup_groups(docs, text_col, id_col), "dedup_pipeline_pairs:groups")
    reps = docs.join(
        groups.select(F.col("keep_id").alias(id_col)), [id_col], "left_semi"
    )
    if pair_fn is None:
        pairs = ngram_jaccard_pairs(reps, n, threshold, text_col, id_col, max_df=max_df)
    else:
        pairs = pair_fn(reps)
    score_col = pairs.columns[2]
    gsz = groups.select("keep_id", "n_docs")
    return (
        pairs.join(
            gsz.select(F.col("keep_id").alias("id_a"), F.col("n_docs").alias("n_docs_a")),
            "id_a",
        )
        .join(
            gsz.select(F.col("keep_id").alias("id_b"), F.col("n_docs").alias("n_docs_b")),
            "id_b",
        )
        .select("id_a", "id_b", score_col, "n_docs_a", "n_docs_b")
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures over word shingles: (id, sig ARRAY<BIGINT>).

    Hash family via Kirsch–Mitzenmacher double hashing (published in
    "Less Hashing, Same Performance", ESA'06): ONE xxhash64 per shingle
    split into two 32-bit halves, then h_i = (h1 + i·h2) mod 2^32 —
    64 long-arithmetic expressions instead of 64 full string hashes
    (~2× faster signature build), products bounded under 2^38 so ANSI
    overflow checking never trips. One aggregate pass per doc.
    """
    sh = word_shingles(docs, n, text_col, id_col)
    hashed = sh.select("id", *_km_hash_pair())
    agg = hashed.groupBy("id").agg(*_km_mins(num_hashes))
    return agg.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def _km_hash_pair():
    """(h1, h2) Kirsch–Mitzenmacher halves of ONE xxhash64 per shingle:
    h1 the high 32 bits, h2 an odd 31-bit stride — the hash family of
    :func:`minhash_signatures` and the global corpus MinHash."""
    base = F.xxhash64("shingle")
    h1 = F.shiftrightunsigned(base, 32)
    h2 = F.shiftrightunsigned(base, 1).bitwiseAND(F.lit(0x7FFFFFFE)) + 1  # odd, 31-bit
    return h1.alias("h1"), h2.alias("h2")


def _km_mins(num_hashes: int):
    """min over h_i = (h1 + i·h2) mod 2^32, one aggregate per slot.
    Built as parsed SQL strings: the per-operator py4j Column
    construction cost num_hashes × ~6 driver round-trips per PLANNING
    of the query (see simhash64's rationale, r13 opt round)."""
    return [
        F.expr(f"min((h1 + {i} * h2) & 4294967295)").alias(f"h{i}")
        for i in range(num_hashes)
    ]


# Version of the PERSISTED banding scheme: the (band, bucket) keys a
# stored incremental/streaming dedup state carries are a pure function
# of (1) text canonicalization (_canonical_text), (2) the shingle rule,
# (3) the minhash signature scheme (h1 + i*h2, 32-bit mask), and
# (4) _band_buckets' bucket-hash derivation. BUMP this whenever any of
# those changes semantically: a stamped state dir written under a
# different version is REFUSED by the streaming sink/compactor instead
# of silently diverging (old buckets never collide with new probes —
# every historical near-dup would pass as novel). r12 stretch; the
# single-definition guarantee (r11) made the rule unforkable, this
# makes it un-upgradable-past silently.
BANDING_VERSION = 1


def _band_buckets(sigs: DataFrame, bands: int, rows: int, bucket_hash: str) -> DataFrame:
    """(id, band, bucket) from an (id, sig) signature relation — THE
    banding/bucketing definition, shared by both pair finders and the
    stored incremental state (:func:`minhash_band_buckets`). One
    definition because the bucket key is PERSISTED: a fix applied to a
    pair finder but not the stored-state builder (or vice versa) would
    silently diverge probe from state (r11 review finding — this logic
    existed in three hand-synced copies). ``bucket_hash``: 'sha2' for
    the xxhash64 long signatures (cast to string first), 'md5' for the
    hex-string signatures (the ANSI-SQL-replayable variant)."""

    # expressions built as parsed SQL strings (py4j construction cost —
    # see simhash64's rationale); sig[] is 0-based in both APIs
    def _bucket(bi: int) -> str:
        if bucket_hash == "sha2":
            parts = ", ".join(
                f"cast(sig[{bi * rows + r}] as string)" for r in range(rows)
            )
            return f"sha2(concat_ws(',', {parts}), 256)"
        if bucket_hash == "md5":
            parts = ", ".join(f"sig[{bi * rows + r}]" for r in range(rows))
            return f"md5(concat_ws(',', {parts}))"
        raise ValueError(f"unknown bucket_hash {bucket_hash!r}")

    band_cols = ", ".join(
        f"struct({bi} as band, {_bucket(bi)} as bucket)" for bi in range(bands)
    )
    return sigs.select(
        "id", F.expr(f"explode(array({band_cols}))").alias("bb")
    ).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _band_candidates(buckets: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs from band-bucket
    occupancy — the equi-join that replaces all-pairs."""
    return (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "bucket"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, verified by the
    signature-estimated Jaccard.

    bands × rows (rows = num_hashes / bands): docs colliding in ANY band
    bucket become candidates (band-bucket equi-join — the scale path: no
    all-pairs). Estimated Jaccard = fraction of matching signature slots.
    Returns (id_a, id_b, est_jaccard >= threshold).
    """
    assert num_hashes % bands == 0
    # checkpoint: consumed by the band explode AND both estimate joins
    sigs = minhash_signatures(docs, num_hashes, n, text_col, id_col)
    sigs = pin(sigs, "minhash_lsh_pairs:signatures")
    return _lsh_estimate_pairs(sigs, num_hashes, bands, threshold, "sha2")


def _lsh_estimate_pairs(
    sigs: DataFrame, num_hashes: int, bands: int, threshold: float, bucket_hash: str
) -> DataFrame:
    """The LSH tail both pair finders share, after their signature pin:
    band-bucket candidates (:func:`_band_candidates`), the estimated
    Jaccard (fraction of equal signature slots) joined on for both ids,
    and the threshold. ``bucket_hash`` as in :func:`_band_buckets`."""
    cand = _band_candidates(_band_buckets(sigs, bands, num_hashes // bands, bucket_hash))
    return (
        cand.join(sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .withColumn(
            "est_jaccard",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
            / F.lit(float(num_hashes)),
        )
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_pairs_md5(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-engine-checkable MinHash LSH: hash family = md5(shingle|i)
    with LEXICOGRAPHIC min over the hex strings — every step (signature,
    band bucket, candidate join, estimate) reproduces in ANSI SQL, so
    the full LSH pipeline is hash-verified at the correctness gate. The
    xxhash64/Kirsch-Mitzenmacher variant stays the throughput default.
    Returns (id_a, id_b, est_jaccard >= threshold).
    """
    assert num_hashes % bands == 0
    sh = word_shingles(docs, n, text_col, id_col)
    # hash each DISTINCT shingle once and join back, instead of hashing
    # per (doc, shingle) occurrence: shingles repeat heavily across
    # documents (10:1 at sf0.1; far higher for common n-grams at corpus
    # scale), so the num_hashes md5s per occurrence were mostly repeat
    # work — measured 1.75x on the signature stage. The join re-expands
    # to |sh| rows on a well-spread high-cardinality key (hot-shingle
    # skew goes to AQE skew-split like any join).
    # hash/min expressions as parsed SQL strings (py4j construction cost
    # — see simhash64's rationale, r13 opt round)
    #
    # The per-doc min aggregates over the 16-BYTE unhex'd digests, not
    # the 32-char hex strings (r14 opt round, guide §2.3 narrower
    # types): fixed-length lowercase hex is order-isomorphic to the
    # underlying bytes (nibble order == character order), so
    # min(unhex(h)) == unhex(min(h)) exactly — the hex signature
    # reconstructed AFTER the aggregate (lower(hex(...)); Spark's hex()
    # is uppercase, md5's output lowercase) is byte-identical to the
    # old one, and everything downstream (band-bucket md5s, slot
    # equality) is pinned unchanged by the oracle. min over a
    # variable-width type is a SortAggregate either way; halving the
    # value bytes halves the join expansion + sort/partial-agg state of
    # the query's dominant stage.
    hs = [
        F.expr(f"unhex(md5(concat_ws('|', shingle, '{i}')))").alias(f"h{i}")
        for i in range(num_hashes)
    ]
    shingle_hashes = sh.select("shingle").distinct().select("shingle", *hs)
    mins = [F.expr(f"min(h{i})").alias(f"h{i}") for i in range(num_hashes)]
    hex_sig = ", ".join(f"lower(hex(h{i}))" for i in range(num_hashes))
    # pinned: the signature relation must not re-plan/re-run per consumer
    sigs = pin(
        sh.join(shingle_hashes, "shingle")
        .groupBy("id")
        .agg(*mins)
        .select("id", F.expr(f"array({hex_sig})").alias("sig")),
        "minhash_lsh_pairs_md5:signatures",
    )
    return _lsh_estimate_pairs(sigs, num_hashes, bands, threshold, "md5")


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document from token xxhash64 bit votes.

    Long-form: explode tokens → per-bit vote aggregation → reassemble.
    All built-in functions; one shuffle on doc id.

    Vote counters are LANE-PACKED: aggregate g of 32 sums the ones-count
    of bit g in its low 32 bits and of bit g+32 in its high 32 bits (a
    32-bit lane only overflows past 2^31 tokens in one document), so the
    aggregation state is 33 longs per group instead of 64 — half the
    partial-aggregate shuffle bytes — and the whole aggregation is 33
    expressions instead of 64 ±1-vote CASEs. The expressions are built
    as SQL strings (`F.expr`) because constructing them as Column trees
    costs one py4j round-trip per operator: the old per-bit Column build
    was measured at 1.9-3.6 s of driver time PER PLANNING of this query
    (r13 optimization round), vs ~0.2 s for the parsed form. Bit b of
    the result is set iff ones_b > tokens/2, i.e. 2*ones_b > n — exactly
    the old sum(±1) > 0 rule (cross-checked row-identical at sf0.1).
    Returns (id, simhash BIGINT).
    """
    return _simhash_votes(
        docs, text_col, id_col, F.xxhash64("tok"), n_bits=64,
        bit=lambda b: f"(shiftright(h, {b}) & 1)",
        weight=lambda b: f"shiftleft(cast(1 as bigint), {b})",
    )


def simhash32_md5(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash from md5 hex-digit bits — the cross-engine-checkable
    variant of simhash64 (xxhash64 isn't reproducible in ANSI SQL; md5
    hex plus digit/bit arithmetic is).

    Bit b (0..31) of a token's hash = bit (3 - b%4) of hex digit b//4 of
    md5(token). Long-form per-bit vote aggregation as in simhash64.
    Returns (id, simhash BIGINT in [0, 2^32)).
    """

    # bit(b) = floor(digit/2^(3-b%4)) % 2 with digit = instr(hex)-1 in
    # 0..15; integer `div` is identical to the old float floor-divide on
    # that domain. Bit b lands at position 31-b (hex digit order).
    def bit(b: int) -> str:
        d = f"(instr('0123456789abcdef', substring(h, {b // 4 + 1}, 1)) - 1)"
        return f"(({d} div {2 ** (3 - b % 4)}) % 2)"

    return _simhash_votes(
        docs, text_col, id_col, F.md5("tok"), n_bits=32,
        bit=bit,
        weight=lambda b: f"cast({1 << (31 - b)} as bigint)",
    )


def _simhash_votes(docs, text_col, id_col, token_hash, n_bits, bit, weight):
    """The lane-packed vote-and-reassemble body both SimHash variants
    share: explode tokens, hash each with ``token_hash`` (column ``h``),
    count per-document votes for each of ``n_bits`` bits — ``bit(b)`` is
    the SQL 0/1 expression for bit b of ``h`` — and set ``weight(b)``
    (a SQL bigint) in the result iff 2*ones_b > tokens. Aggregate g of
    n_bits/2 carries the ones-count of bit g in its low 32-bit lane and
    of bit g + n_bits/2 in its high lane (see :func:`simhash64`)."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).withColumn("h", token_hash)
    half = n_bits // 2
    packed = [
        F.expr(
            f"sum(cast({bit(g)} as bigint) + shiftleft(cast({bit(g + half)} as bigint), 32))"
        ).alias(f"p{g}")
        for g in range(half)
    ]
    votes = toks.groupBy("id").agg(F.count("*").alias("n"), *packed)
    terms = []
    for b in range(n_bits):
        ones = f"(p{b} & 4294967295)" if b < half else f"shiftright(p{b - half}, 32)"
        terms.append(f"if(2 * {ones} > n, {weight(b)}, cast(0 as bigint))")
    return votes.select("id", F.expr(" | ".join(terms)).alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded for scale.

    Pigeonhole: two hashes within Hamming distance < bands must agree on
    at least one of `bands` contiguous 16-bit chunks — candidates come
    from an equi-join on (band, chunk) buckets, never all-pairs. Verify
    with bit_count(xor) <= max_hamming (JVM-side, codegen'd).

    Recall is guaranteed ONLY when max_hamming < bands (with
    max_hamming == bands the differing bits can land one per chunk and
    the pair shares no bucket) — enforced, not just documented.
    Returns (id_a, id_b, hamming).
    """
    sh = simhash64(docs, text_col, id_col)
    return hamming_band_pairs(sh, "simhash", "id", max_hamming, bands)


def hamming_band_pairs(
    hashed: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int,
    bands: int,
) -> DataFrame:
    """Near-dup pairs among 64-bit hashes by banded Hamming distance —
    the pigeonhole candidate-join core shared by SimHash text dedup and
    perceptual image dedup (`multimodal.image_near_dup_pairs`): two
    hashes within Hamming distance < ``bands`` must agree on at least
    one of ``bands`` contiguous chunks, so candidates come from an
    equi-join on (band, chunk) buckets, never all-pairs; verify is
    bit_count(xor) <= max_hamming, JVM-side. Recall is guaranteed ONLY
    when ``max_hamming < bands`` — enforced. Returns
    (id_a, id_b, hamming)."""
    if not 1 <= bands <= 64:
        # bands > 64 would make width = 64 // bands zero: every chunk
        # collapses to 0, the equi-join degenerates to all-pairs, and
        # results stay correct (the bit_count verify holds) while cost
        # silently explodes — reject instead
        raise ValueError(f"bands must be in [1, 64], got {bands}")
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole recall requires max_hamming < bands; got "
            f"max_hamming={max_hamming}, bands={bands} (raise bands to "
            f"at least {max_hamming + 1})"
        )
    width = 64 // bands
    # bands=1 -> width=64 -> (1<<64)-1 overflows Long; the all-bits
    # mask in signed-long arithmetic is -1 (r11 review finding — the
    # documented-legal exact-match configuration crashed at plan build)
    mask = F.lit(-1 if width == 64 else (1 << width) - 1).cast("long")
    sh = hashed.select(F.col(id_col).alias("id"), F.col(hash_col).alias("__h"))
    chunk_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.shiftrightunsigned(F.col("__h"), bi * width)
            .bitwiseAND(mask)
            .alias("chunk"),
        )
        for bi in range(bands)
    ]
    buckets = sh.select(
        "id", "__h", F.explode(F.array(*chunk_cols)).alias("bc")
    ).select("id", "__h", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    x = buckets.select(F.col("id").alias("id_a"), F.col("__h").alias("ha"), "band", "chunk")
    y = buckets.select(F.col("id").alias("id_b"), F.col("__h").alias("hb"), "band", "chunk")
    return (
        x.join(y, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iters: int = 25,
    local_threshold_edges: int | None = 500_000,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id, keep).

    cluster_id = the minimum doc id reachable through the pair graph.
    Each round combines min-label propagation (every node takes the min
    of its neighbors' labels) with POINTER DOUBLING (label := label of
    own label — the parallel shortcutting step of classic PRAM/MapReduce
    connected-components algorithms, e.g. Shiloach-Vishkin '82 and the
    hash-to-min family, Rastogi et al. ICDE'13), so convergence is
    O(log diameter) rounds instead of O(diameter): a 10k-node path graph
    — the adversarial shape for plain propagation (templated/serially-
    derived documents) — converges in ~15 rounds, not 10k (measured;
    SCALE.md).
    ``keep`` marks the canonical representative (doc_id == cluster_id) —
    the corpus after dedup is exactly the keep=true rows. Docs appearing
    in no pair (pass ``docs``) are their own singleton clusters.

    This is the step that turns pairwise dedup output into an actionable
    drop list at corpus scale; the loop is driver-ORCHESTRATED but all
    data stays distributed (each round: one join + one aggregate), and
    each round's labels are localCheckpoint'ed — iterative plans
    otherwise nest the whole previous round's lineage and the plan tree
    grows exponentially until the driver OOMs just *printing* it (on a
    real cluster with a checkpoint dir, ``checkpoint()`` gives the same
    truncation with fault tolerance).

    Size-adaptive execution (``local_threshold_edges``): the edge set is
    counted first (one job — it forces the persist the loop needs
    anyway, so nothing runs twice), and when it fits comfortably on the
    driver the components are computed by a local union-find and the
    label map shipped back — the SAME cost-model move as Spark's own
    broadcast join (collect the small side rather than shuffle the big
    one). Near-dup pair sets are usually a vanishing fraction of the
    corpus (dedup output, not input), so even 100 TB corpora often land
    here; when they don't (> threshold edges ≈ tens of MB), the
    distributed pointer-doubling loop below runs unchanged. The two
    paths produce identical labels (min reachable id; equivalence
    pinned by a randomized test). ``local_threshold_edges=None`` forces
    the distributed path.
    """
    edges_f = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # the edge set and the stats-reset caches are released on every exit;
    # the final label map survives in its localCheckpoint blocks, so
    # downstream actions recompute only the trailing projection
    with held(
        edges_f.unionByName(
            edges_f.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    ) as edges, ExitStack() as resets:
        if local_threshold_edges is not None:
            n_edges = edges.count()  # forces the persist; one scan either way
            if n_edges <= local_threshold_edges:
                # collect from the PERSISTED symmetrized union — a
                # collect on edges_f would be a different plan, miss the
                # cache, and re-execute the whole upstream pair join.
                # The reversed duplicates are harmless to union-find
                # (2× rows, bounded by the threshold).
                rows = edges.collect()
                parent: dict = {}

                def find(x):
                    root = x
                    while parent[root] != root:
                        root = parent[root]
                    while parent[x] != root:  # path compression
                        parent[x], x = root, parent[x]
                    return root

                for r in rows:
                    a, b = r["src"], r["dst"]
                    parent.setdefault(a, a)
                    parent.setdefault(b, b)
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        # union by MIN root so the representative is the
                        # minimum id — the distributed loop's invariant
                        lo, hi = (ra, rb) if ra < rb else (rb, ra)
                        parent[hi] = lo
                spark = pairs.sparkSession
                out = spark.createDataFrame(
                    [(n, find(n)) for n in parent],
                    schema=pairs.select(
                        F.col("id_a").alias(id_col),
                        F.col("id_b").alias("cluster_id"),
                    ).schema,
                )
                if docs is not None:
                    singles = (
                        docs.select(id_col)
                        .join(out.select(id_col), id_col, "left_anti")
                        .withColumn("cluster_id", F.col(id_col))
                    )
                    out = out.unionByName(singles)
                return out.withColumn("keep", F.col(id_col) == F.col("cluster_id"))

        labels = pin(
            edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node")),
            "dedup_clusters:labels",
        )
        for _round in range(max_iters):
            neighbor_min = (
                edges.join(labels.withColumnRenamed("node", "dst"), "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.min("label").alias("nbr_label"))
            )
            stepped = labels.withColumnRenamed("label", "old").join(
                neighbor_min, "node", "left"
            ).select(
                "node",
                "old",
                F.least(F.col("old"), F.coalesce("nbr_label", F.col("old"))).alias("mid"),
            )
            # pointer doubling: follow one more hop through the label map
            # (label := label of own label). Each round the distance to the
            # component root roughly halves, so a diameter-D component needs
            # ~log2(D) rounds instead of D — the difference between 15 and
            # 10,000 rounds on a 10k path graph.
            hop = stepped.select(
                F.col("node").alias("mid_node"), F.col("mid").alias("mid2")
            )
            new_labels = pin(
                stepped.join(hop, stepped["mid"] == hop["mid_node"], "left")
                .select(
                    "node",
                    "old",
                    F.least(F.col("mid"), F.coalesce("mid2", F.col("mid"))).alias("label"),
                )
                .withColumn("changed", F.col("label") < F.col("old"))
                .drop("old"),
                "dedup_clusters:labels",
            )
            # PERIODIC persist on top of the checkpoint to break the
            # size-estimate bomb: Spark's join stats multiply the two
            # sides' sizeInBytes, and a checkpoint PRESERVES the product
            # via LogicalRDD's originStats — so an iterative self-join
            # SQUARES the estimate every round and the BigInt's digit
            # count DOUBLES (≈2^round digits; measured 8,517 digits by
            # round 12, driver stats arithmetic exploding past round ~16:
            # 0.4s → 70s per round while executors sat idle). The
            # materialized cache reports its REAL byte size, resetting
            # the estimate — but persisting EVERY round costs more than
            # the bomb below its explosion point (measured +1.4 s/round
            # on a 64-partition label map), so reset once per 10 rounds:
            # digits stay ≤ ~2^10 (BigInt ops at that size are
            # microseconds) and the overhead amortizes to 10%. SCALE.md
            # has the full forensics. The previous reset cache is released
            # once this one is counted, so at most two are alive at once.
            if (_round + 1) % 10 == 0:
                with resets.pop_all():
                    new_labels = resets.enter_context(held(new_labels))
                    n_changed = new_labels.filter(F.col("changed")).count()
            else:
                n_changed = new_labels.filter(F.col("changed")).count()
            labels = new_labels.drop("changed")
            if n_changed == 0:
                break
        else:
            # falling through silently would split one component into several
            # clusters with multiple keep=true reps — duplicates survive the
            # drop list. Long chains (templated/serial docs) are exactly the
            # shape that exceeds small iteration caps.
            raise RuntimeError(
                f"dedup_clusters did not converge within max_iters={max_iters} "
                "rounds (a component's diameter exceeds it); raise max_iters"
            )
        out = labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))
        if docs is not None:
            singletons = (
                docs.select(id_col)
                .join(out.select(id_col), id_col, "left_anti")
                .withColumn("cluster_id", F.col(id_col))
            )
            out = out.unionByName(singletons)
    return out.withColumn("keep", F.col(id_col) == F.col("cluster_id"))


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    planes: list[list[float]] | None = None,
    subdivide_above: int | None = 10_000,
    subdivide_bits: int = 4,
    seed: int = 0,
) -> DataFrame:
    """Embedding-cosine near-duplicates, blocked by a coarse key.

    Blocking keeps the self-join off the full cross product: either an
    existing categorical column (``block_col``) or, for unlabeled corpora
    at scale, an LSH sign-projection bucket (``planes``) — vectors at
    cosine ≥ 0.98 are ~11.5° apart, so with a handful of hyperplanes they
    land in the same sign bucket with high probability (each plane
    separates them with p = angle/π ≈ 0.064). Cosine via
    zip_with/aggregate — JVM higher-order functions, no UDF.

    ``subdivide_above`` is the scale guard on the within-block quadratic
    (measured: wall grows linearly in Σ C(block,2) — SCALE.md): a block
    whose row count exceeds the bound gets its key extended with
    ``subdivide_bits`` sign-projection bits, computed ENTIRELY in-plan
    from seeded Rademacher (±1) pseudo-planes via xxhash64 — no driver
    collect, no dimension parameter, deterministic given ``seed``. Blocks
    at or under the bound keep exact within-block semantics, so small-
    block results (including every oracle entry) are bit-identical with
    the guard on; oversized blocks trade recall exactly like the
    ``planes`` path (near-identical vectors split across sub-buckets with
    probability ≈ bits·angle/π). Set ``subdivide_above=None`` to forbid
    subdivision (exact within every block regardless of size).

    Two explicit limits of the guard (it is a mitigation, not a hard
    bound): (1) identical vectors share every sign bit by construction —
    the same property that makes exact-duplicate recall perfect means a
    CLONE-dominated block is never split; clone mass must be exact-
    collapsed before this join (`semantic_dedup` stage 1 does exactly
    that). (2) the split is one-shot 2^bits-way, so a diverse block of
    size m lands at ~m/2^bits expected per sub-block — raise
    ``subdivide_bits`` if m/2^bits still exceeds the bound; the split is
    not recursive.
    """
    norm = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))
    if planes is not None:
        def _bit(p):
            dot = F.aggregate(
                F.zip_with(
                    vec_col,
                    F.array(*[F.lit(float(x)) for x in p]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            # a plane/embedding dimension mismatch null-pads the zip and
            # nulls the dot; falling through to '0' would silently put
            # EVERY vector in one bucket — the full cross product the
            # blocking exists to prevent. Fail fast instead.
            return (
                F.when(dot >= 0, F.lit("1"))
                .when(dot < 0, F.lit("0"))
                .otherwise(
                    F.raise_error(
                        F.lit(
                            "embedding_near_dup_pairs: plane dimension does "
                            "not match the embedding dimension (null dot)"
                        )
                    ).cast("string")
                )
            )

        bits = [_bit(p) for p in planes]
        blk = [F.concat(*bits).alias("blk")]
    elif block_col:
        # NULL block keys never match a self-equi-join — such rows would
        # be silently excluded from ALL comparison (not even against
        # each other) and their near-dups survive dedup with no signal
        # (r11 review finding). Same fail-fast as the planes path's
        # null-dot guard; coalesce the key upstream to opt NULLs into a
        # shared bucket deliberately.
        blk = [
            F.when(F.col(block_col).isNotNull(), F.col(block_col))
            .otherwise(
                F.raise_error(
                    F.lit(
                        f"embedding_near_dup_pairs: NULL {block_col!r} "
                        "block key — NULL never equi-joins, so the row "
                        "would silently skip near-dup comparison; "
                        "coalesce the blocking column first"
                    )
                ).cast(dict(emb.dtypes)[block_col])
            )
            .alias("blk")
        ]
    else:
        blk = [F.lit(0).alias("blk")]
    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm.alias("nrm"),
        *blk,
    )
    if subdivide_above is not None:
        if subdivide_above < 1:
            raise ValueError("subdivide_above must be >= 1 (or None)")
        # per-block row count in-plan (window over blk — the join shuffles
        # on blk anyway, so this adds no new partitioning scheme)
        cnt = F.count("*").over(Window.partitionBy("blk"))
        # Rademacher pseudo-plane j: weight for element i is ±1 from the
        # parity of xxhash64(seed, j, i); sign of Σ v[i]·w_ij is the bit.
        # Valid SRP hyperplanes (Achlioptas 2003 — ±1 entries suffice for
        # Johnson-Lindenstrauss-style projections), and expressible
        # without knowing the dimension or leaving the JVM.
        def _rbit(j: int):
            dot = F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.sequence(F.lit(0), F.size("v") - 1),
                    lambda x, i: x.cast("double")
                    * F.when(
                        F.pmod(F.xxhash64(F.lit(seed), F.lit(j), i), F.lit(2)) == 0,
                        F.lit(1.0),
                    ).otherwise(F.lit(-1.0)),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0"))

        sub_bits = F.concat(*[_rbit(j) for j in range(subdivide_bits)])
        base = base.withColumn(
            "blk",
            F.when(
                cnt > subdivide_above,
                F.concat(F.col("blk").cast("string"), F.lit("#"), sub_bits),
            ).otherwise(F.col("blk").cast("string")),
        )
    # explicit repartition before the self-join: AQE sizes the join's
    # shuffle by BYTES (vectors are small) and coalesces it to ~1
    # partition, but each joined row pays a dim-length dot product —
    # compute AQE can't see (same trap as the ngram verification join;
    # measured here: 2.7 s single-task vs sub-second spread). A
    # user-requested repartition is exempt from AQE coalescing and the
    # blk-hash distribution satisfies the join on both sides.
    n_part = max(emb.sparkSession.sparkContext.defaultParallelism, 8)
    base = base.repartition(n_part, "blk")
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "blk")
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "blk")
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen_hashes: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Dedup a NEW batch against the already-ingested corpus — the
    steady-state form of exact dedup once a pipeline runs continuously:
    (1) keep-first within the batch (window-min per content hash), then
    (2) anti-join the batch's content hashes against ``seen_hashes``, the
    running one-column (content_hash) corpus state.

    Returns ``(survivors, updated_hashes)`` — write ``updated_hashes``
    back as the next batch's state. The state relation is hashes only
    (16 bytes-ish per distinct document ever seen), never text; the
    anti-join shuffles on content_hash, so a 100 TB corpus history costs
    one hash-partitioned probe per batch, and partitioned state storage
    makes it a co-located join. The streaming twin is
    ``streaming.streaming_exact_dedup`` (bounded watermark state); this
    is the unbounded-history batch complement.
    """
    from pyspark.sql import Window

    hashed = new_docs.withColumn("content_hash", F.md5(normalize_text(F.col(text_col))))
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col))
    batch_first = (
        hashed.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )
    if seen_hashes is not None:
        survivors = batch_first.join(seen_hashes, "content_hash", "left_anti")
        updated = seen_hashes.unionByName(
            survivors.select("content_hash")
        ).distinct()
    else:
        survivors = batch_first
        updated = survivors.select("content_hash").distinct()
    return survivors.drop("content_hash"), updated


def similar_documents(
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents most Jaccard-similar to a query text — the textual
    twin of the embedding ANN search (similarity.brute_force_topk).

    The query's distinct shingles broadcast as a one-column relation and
    the corpus inverted index equi-joins against them (shared-shingle
    counting), so only documents sharing at least one shingle are scored
    — never a scan-wide similarity computation — and the join stays a
    BroadcastHashJoin no matter how long the query document is. jaccard
    = shared / (|doc| + |query| - shared); top-k via orderBy+limit
    (TakeOrdered, no global sort shuffle). Returns (id, shared, sz,
    jaccard) for documents with shared > 0.
    """
    toks = query_text.split()
    q_shingles = sorted({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})
    if not q_shingles:
        raise ValueError(f"query has fewer than n={n} tokens")
    sh = word_shingles(docs, n, text_col, id_col)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    qdf = docs.sparkSession.createDataFrame(
        [(s,) for s in q_shingles], "shingle string"
    )
    shared = (
        sh.join(F.broadcast(qdf), "shingle")
        .groupBy("id")
        .agg(F.count("*").alias("shared"))
    )
    nq = len(q_shingles)
    return (
        shared.join(sizes, "id")
        .select(
            F.col("id").alias(id_col),
            "shared",
            "sz",
            F.round(
                F.col("shared") / (F.col("sz") + F.lit(nq) - F.col("shared")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc(id_col))
        .limit(k)
    )


def _global_minhash_row(docs, num_hashes: int, n: int, text_col: str, id_col: str):
    """One Row of num_hashes global MinHash slots over the corpus's
    distinct shingles — same 32-bit Kirsch-Mitzenmacher family as
    minhash_signatures (masked to 32 bits so i*h2 never overflows ANSI
    long arithmetic); all map-side combine, one row collected."""
    sh = word_shingles(docs, n, text_col, id_col).select("shingle").distinct()
    return sh.select(*_km_hash_pair()).agg(*_km_mins(num_hashes)).collect()[0]


def corpus_signature(
    docs: DataFrame,
    label: str,
    num_hashes: int = 128,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(corpus, signature ARRAY<BIGINT>): the STORED-state form of the
    global corpus MinHash — write one row per corpus/snapshot at ingest
    time and any later pairwise-overlap question is answered from the
    state table alone (``overlap_matrix_from_signatures``), no corpus
    rescan. Same state-table pattern as ``cardinality_sketch_state``:
    tiny, append-only, engine-portable (plain integers). Signatures are
    comparable only when built with the same (num_hashes, n) — keep one
    convention per state table."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    row = _global_minhash_row(docs, num_hashes, n, text_col, id_col)
    if row[0] is None:
        raise ValueError(f"corpus {label!r} contains no shingles")
    spark = docs.sparkSession
    return spark.createDataFrame(
        [(label, [int(row[i]) for i in range(num_hashes)])],
        "corpus STRING, signature ARRAY<BIGINT>",
    )


def overlap_matrix_from_signatures(signatures: DataFrame) -> DataFrame:
    """All pairwise corpus-overlap estimates from stored signatures:
    (corpus_a, corpus_b, overlap_est) for every unordered pair, computed
    driver-side — the state table is one row per corpus (parameter-
    sized), so K corpora cost K(K-1)/2 slot comparisons of 128 ints
    each, no data access at all. Estimate semantics and error match
    ``corpus_overlap_estimate`` (~1/sqrt(num_hashes) standard error)."""
    raw = signatures.collect()
    if any(r["corpus"] is None for r in raw):
        raise ValueError("state table contains a null corpus label")
    # sort by label: collect() order from a multi-file state table is
    # not stable, and consumers key on the (corpus_a, corpus_b) tuple
    rows = sorted(raw, key=lambda r: r["corpus"])
    if len(rows) < 2:
        raise ValueError("need at least two corpus signatures")
    if any(r["signature"] is None for r in rows):
        bad = [r["corpus"] for r in rows if r["signature"] is None]
        raise ValueError(f"null signature for corpora: {bad}")
    lens = {len(r["signature"]) for r in rows}
    if len(lens) != 1:
        raise ValueError(f"signatures have mixed num_hashes: {sorted(lens)}")
    k = lens.pop()
    out = []
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            est = sum(
                1 for s in range(k) if a["signature"][s] == b["signature"][s]
            ) / k
            out.append((a["corpus"], b["corpus"], round(est, 6)))
    spark = signatures.sparkSession
    return spark.createDataFrame(
        out, "corpus_a STRING, corpus_b STRING, overlap_est DOUBLE"
    )


def corpus_overlap_estimate(
    a: DataFrame,
    b: DataFrame,
    num_hashes: int = 128,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> float:
    """Estimated Jaccard overlap between two corpora's SHINGLE SETS — the
    corpus-level decontamination question ("how much does the new crawl
    overlap what we already trained on") answered without any join.

    One global MinHash signature per corpus: per Kirsch-Mitzenmacher
    (same construction as minhash_signatures) each corpus aggregates to
    num_hashes mins over all its distinct shingles — a single row per
    corpus regardless of size, all map-side combine — and the estimate
    is the fraction of matching signature slots. Standard error is
    ~1/sqrt(num_hashes) (~0.09 at 128). The only driver-side data is the
    two signatures.
    """
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")

    def signature(docs):
        return _global_minhash_row(docs, num_hashes, n, text_col, id_col)

    sig_a, sig_b = signature(a), signature(b)
    if sig_a[0] is None or sig_b[0] is None:
        raise ValueError("both corpora must contain at least one shingle")
    return sum(1 for i in range(num_hashes) if sig_a[i] == sig_b[i]) / num_hashes


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_dedup_len: int = 0,
    sep: str = "\n",
) -> DataFrame:
    """Cross-document LINE-level dedup (the C4 preprocessing rule,
    Raffel et al. 2020 §2.2: "we discarded all but one of any three-
    sentence span occurring more than once", applied at line granularity
    as in the public C4 reproduction pipelines): only the globally FIRST
    occurrence of each distinct line survives — ordered by (doc id, line
    position) — and each document is reassembled from its surviving
    lines in original order. Documents left with no lines disappear.

    ``min_dedup_len``: lines shorter than this many characters are kept
    everywhere rather than deduplicated (boilerplate removal targets
    substantial repeated lines; deduping one-word lines like "Yes."
    would mangle unrelated documents). 0 dedups every line.

    ``sep``: the unit boundary — "\n" (default) dedups lines,
    "\n\n" dedups PARAGRAPHS (the Dolma/Gopher convention; repeated
    boilerplate usually spans a whole paragraph, and paragraph grain
    never splits a sentence across a dedup boundary). Split and rejoin
    use the same literal separator, so unaffected structure round-trips.

    Scale shape: one posexplode (rows = total line count), then the
    first occurrence per line via groupBy(line).min(struct(id, pos)) —
    map-side combinable, so a globally hot line (blank lines, common
    separators) collapses to one partial per task instead of funneling
    every occurrence into a single task the way a line-partitioned
    window would — an equi-join back on the line (hot keys there are
    AQE skew-join territory), and one shuffle on doc id for reassembly
    (sort_array over collected (pos, line) structs — per-doc memory,
    not a global sort).
    """
    import re as _re

    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("pos", "line"),
    )
    firsts = lines.groupBy("line").agg(
        F.min(F.struct("id", "pos")).alias("first")
    )
    survivors = lines.join(firsts, "line").where(
        ((F.col("first.id") == F.col("id")) & (F.col("first.pos") == F.col("pos")))
        | (F.length("line") < min_dedup_len)
        # the EMPTY line is a paragraph boundary, not content — at the
        # default min_dedup_len=0 it used to dedup GLOBALLY, silently
        # merging paragraphs in every doc but the corpus-first (r11
        # review finding, verified); structure is unconditionally kept
        | (F.length("line") == 0)
    )
    return (
        survivors.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("a"))
        .select(
            F.col("id").alias(id_col),
            F.concat_ws(
                sep, F.transform("a", lambda s: s["line"])
            ).alias(text_col),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    k_cells: int = 64,
    threshold: float = 0.95,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means cluster the embedding space, find
    cosine-near pairs WITHIN each cluster only, connected-components the
    pairs, keep one representative per component.

    Returns (id, cluster_id, keep) — the corpus after semantic dedup is
    exactly the keep=true rows; a vector near no other is its own
    singleton with keep=true.

    Composition of independently verified pieces, in cost order:

    1. EXACT-COLLAPSE identical vectors (hash-groupBy on a 128-bit
       vector hash, min id is the representative). This stage is what
       makes clone mass safe: byte-identical vectors have identical dot
       products with every hyperplane, so the sign-projection
       `subdivide_above` guard can NEVER split them apart — exactly the
       property that keeps its recall perfect also means a clone-
       dominated cell stays quadratic under subdivision. Collapsing
       first (the `dedup_pipeline_pairs` move) removes that mass before
       anything cosine-joins.
    2. Broadcast cell assignment over representatives
       (`assign_ivf_cells`, narrow map) with deterministic Lloyd
       training (`train_ivf_centroids` — k centroid rows on the driver,
       a parameter not data; pass pretrained ``centroids`` for the
       build-vs-probe split).
    3. Within-cell cosine self-join (`embedding_near_dup_pairs`,
       cell-blocked; the `subdivide_above` guard bounds DIVERSE
       oversized cells).
    4. Pointer-doubling connected components over representative pairs
       (`dedup_clusters`), then every clone inherits its
       representative's cluster.

    Nothing is all-pairs; the cross-cell recall trade is the published
    algorithm's own (near-dups straddling a k-means boundary are
    missed — SemDeDup accepts this by construction).
    """
    from mwas_rfam_spark.operators.similarity import (
        assign_ivf_cells,
        train_ivf_centroids,
    )

    if k_cells < 1:
        raise ValueError(f"k_cells must be >= 1, got {k_cells}")

    # stage 1: identical-vector collapse. Two independently seeded
    # xxhash64 slots ≈ a 128-bit key; a collision would need BOTH to
    # collide on different vectors.
    hashed = emb.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.xxhash64(F.lit(1), vec_col).alias("__vh1"),
        F.xxhash64(F.lit(2), vec_col).alias("__vh2"),
    )
    # groupBy, not a hash-partitioned window: the min is map-side
    # combinable, so a clone-dominated hash group never funnels into a
    # single window task (the join back on the hash key is AQE
    # skew-join territory)
    rep_of = hashed.groupBy("__vh1", "__vh2").agg(F.min("__id").alias("__rep"))
    # checkpoint: the collapse feeds THREE consumers (members, the cell
    # assignment, and dedup_clusters' singleton anti-join) — without it
    # the groupBy+join subplan re-executes per consumer
    with_rep = pin(hashed.join(rep_of, ["__vh1", "__vh2"]), "semantic_dedup:with_rep")
    members = with_rep.select("__id", "__rep")
    reps = with_rep.where(F.col("__id") == F.col("__rep")).select(
        F.col("__id").alias(id_col), F.col("__vec").alias(vec_col)
    )

    if centroids is None:
        centroids = train_ivf_centroids(
            reps, k=k_cells, iters=iters, id_col=id_col, vec_col=vec_col
        )
    cells = assign_ivf_cells(reps, centroids, id_col, vec_col)
    pairs = embedding_near_dup_pairs(
        cells,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_col="cell",
    )
    rep_clusters = dedup_clusters(
        pairs.select(F.col("id_a"), F.col("id_b")),
        docs=reps.select(id_col),
        id_col=id_col,
    ).select(F.col(id_col).alias("__rep"), "cluster_id")

    # stage 4: clones inherit their representative's cluster; keep marks
    # the single global-minimum id of each merged component
    return (
        members.join(rep_clusters, "__rep")
        .select(
            F.col("__id").alias(id_col),
            "cluster_id",
            (F.col("__id") == F.col("cluster_id")).alias("keep"),
        )
    )


def minhash_band_buckets(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, bucket) LSH band occupancy — the same banding as
    `minhash_lsh_pairs`, exposed as a relation so it can be STORED as
    incremental-dedup state (partition the stored table by band for a
    co-located probe join). Documents too short to shingle occupy no
    bucket."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes, n, text_col, id_col)
    return _band_buckets(sigs, bands, rows, "sha2")


def incremental_minhash_dedup(
    new_docs: DataFrame,
    seen_buckets: DataFrame | None = None,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_delta: bool = False,
):
    """NEAR-dup dedup of a new batch against the running corpus — the
    fuzzy complement of `incremental_exact_dedup`, using the band-
    collision rule most production LLM dedup pipelines apply (Lee et
    al. 2022 "Deduplicating Training Data...", and the public FineWeb/
    Dolma reproductions): two documents sharing ANY LSH band bucket are
    duplicates — no pairwise verification pass, candidates never
    materialize as pairs at all.

    Rule, exactly: a new document is DROPPED iff any of its band
    buckets (a) appears in ``seen_buckets`` (the corpus state), or (b)
    is also occupied by a smaller-id document of the same batch
    (whether or not that document itself survives — the one-pass
    min-per-bucket rule; the chain a~b, b~c therefore drops both b and
    c even when a≁c, which is the same greedy-transitive behavior as
    bucket-graph connected components with min keepers).

    Returns ``(survivors, updated_buckets)``: write ``updated_buckets``
    back as the next batch's state. State is (band, bucket) DISTINCT
    rows for SURVIVING documents only — ~48 bytes × bands per kept doc,
    never text or signatures; a dropped document claims nothing, so a
    later near-duplicate of a dropped (but not of a kept) document
    survives — keep-first semantics, same as the exact variant. The
    probe is a band+bucket equi-join; with the state stored partitioned
    by band it is co-located, and a 100 TB corpus history costs one
    hash-partitioned semi-join per batch.

    ``with_delta=True`` returns ``(survivors, updated_buckets,
    kept_buckets)`` — the batch's own bucket DELTA, already derived for
    the union; state kept as an append-only table (the streaming sink)
    should persist this instead of rewriting the whole union, and
    re-deriving it externally would re-shingle every survivor.
    """
    buckets = pin(minhash_band_buckets(
        new_docs, num_hashes, bands, n, text_col, id_col
    ), "incremental_minhash_dedup:buckets")

    first_ids = buckets.groupBy("band", "bucket").agg(F.min("id").alias("first_id"))
    drop_batch = (
        buckets.join(first_ids, ["band", "bucket"])
        .where(F.col("id") > F.col("first_id"))
        .select("id")
    )
    if seen_buckets is not None:
        drop_state = buckets.join(
            seen_buckets, ["band", "bucket"], "leftsemi"
        ).select("id")
        dropped = drop_batch.unionByName(drop_state).distinct()
    else:
        dropped = drop_batch.distinct()

    survivors = new_docs.join(
        dropped.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
    kept_buckets = (
        buckets.join(dropped, "id", "left_anti").select("band", "bucket").distinct()
    )
    if seen_buckets is not None:
        updated = seen_buckets.unionByName(kept_buckets).distinct()
    else:
        updated = kept_buckets
    if with_delta:
        return survivors, updated, kept_buckets
    return survivors, updated


def _positional_ngrams(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, pos, span): EVERY word n-gram occurrence with its 1-based
    token position — positional, not the set-semantics `word_shingles`
    (duplicate-span detection needs each occurrence, not each distinct
    shingle per doc). Case-sensitive: exact substring duplication is.
    Positions index the NON-EMPTY token sequence (see `text.tokens`)."""
    toked = docs.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks"))
    return toked.select(
        "id", F.posexplode(word_ngrams("__toks", n)).alias("pos0", "span")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "span")


def duplicate_spans(
    docs: DataFrame,
    n: int = 20,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    examples_cap: int = 3,
) -> DataFrame:
    """Exact duplicate-substring detection at fixed span length — the
    relational re-expression of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better"): every word n-gram occurring at
    >= ``min_occurrences`` token positions across the corpus, with its
    occurrence count, distinct-document count, and up to ``examples_cap``
    (doc_id, pos) example locations.

    The paper builds a suffix array — a single-machine structure; for a
    FIXED n the equivalent is one positional-n-gram explode + hash
    groupBy. Cost is a token-count-sized shuffle, the method's inherent
    price (a suffix array also touches every token) — but parallelized,
    and map-side partial aggregation collapses within-partition repeats
    before the wire. Example locations come from the two-phase
    top-k-per-group shape (operators/topk.py): a NARROW local window
    keyed on (span, physical partition id) keeps each task's smallest
    ``examples_cap`` (id, pos) pairs first, so a boilerplate span
    repeated a billion times never funnels its occurrences through one
    span-keyed window task — the exact window ranks ≤ cap × partitions
    survivors, and the count aggregation keeps its map-side combine
    (a plain per-span row_number before the groupBy would forfeit
    both). Spans shorter than n tokens never match (same as the paper's
    minimum-match length).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_occurrences < 2:
        raise ValueError(f"min_occurrences must be >= 2, got {min_occurrences}")
    # the two consumers re-derive this projection; cheaper than caching
    # a token-count-sized relation (same call as importance_weights)
    grams = _positional_ngrams(docs, n, text_col, id_col)
    counts = _duplicate_span_counts(grams, min_occurrences)
    order = [F.col("id"), F.col("pos")]
    w_local = Window.partitionBy("span", F.spark_partition_id()).orderBy(*order)
    w = Window.partitionBy("span").orderBy(*order)
    examples = (
        grams.withColumn("__lrk", F.row_number().over(w_local))
        .where(F.col("__lrk") <= examples_cap)
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= examples_cap)
        .groupBy("span")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("id").alias("doc_id"), F.col("pos").alias("pos"))
                )
            ).alias("examples")
        )
    )
    return counts.join(examples, "span").select(
        F.md5("span").alias("span_hash"),
        "span",
        "n_occurrences",
        "n_docs",
        "examples",
        (F.col("n_occurrences") > examples_cap).alias("examples_truncated"),
    )


def _duplicate_span_counts(grams: DataFrame, min_occurrences: int) -> DataFrame:
    """(span, n_occurrences, n_docs) over a positional-n-gram relation,
    gated at >= min_occurrences — the map-side-combinable core of
    :func:`duplicate_spans`, shared with :func:`strip_duplicate_spans`
    so the stripper never pays the example-location window machinery
    whose output it would immediately discard (r11 review finding)."""
    return (
        grams.groupBy("span")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= min_occurrences)
    )


def strip_duplicate_spans(
    docs: DataFrame,
    n: int = 20,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The removal half of Lee et al. 2021: rebuild ONLY the documents
    containing a duplicate occurrence, with all covered tokens cut out
    (overlapping occurrences merge naturally — coverage is a distinct
    position set, so adjacent/overlapping spans union without interval
    arithmetic). Untouched documents pass through with their text
    byte-identical — including original whitespace and NULLs; a rebuild
    is token-joined, so it is only applied where a cut actually happened.
    Affected documents whose every token is covered come back as empty
    strings (drop with a length gate downstream if desired); surviving
    tokens keep their relative order, whitespace-normalized.

    Plan shape: the duplicate spans (aggregated, corpus-small after the
    >= min_occurrences gate) semi-join back against the positional
    n-grams to find occurrences; each occurrence explodes to its n
    covered positions (bounded: occurrences × n); only AFFECTED docs'
    tokens anti-join the covered set on (id, position) and reassemble.
    All shuffles keyed on span or doc id — never a cross product; the
    rebuild's cost scales with the contaminated slice, not the corpus.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_occurrences < 2:
        raise ValueError(f"min_occurrences must be >= 2, got {min_occurrences}")
    grams = _positional_ngrams(docs, n, text_col, id_col)
    # counts-only span detection: the example-location windows
    # duplicate_spans adds are for the REPORT surface, not removal
    hot = _duplicate_span_counts(grams, min_occurrences).select("span")
    occ = grams.join(hot, "span", "leftsemi")
    covered = occ.select(
        "id", F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("tpos")
    ).distinct()
    cut_ids = covered.select("id").distinct().withColumnRenamed("id", id_col)
    affected = docs.join(cut_ids, id_col, "left_semi")
    toks = affected.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("tpos0", "tok"),
    ).select("id", (F.col("tpos0") + 1).alias("tpos"), "tok")
    kept = toks.join(covered, ["id", "tpos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("__stripped")
    )
    return (
        docs.join(rebuilt.withColumnRenamed("id", id_col), id_col, "left")
        .join(cut_ids.withColumn("__cut", F.lit(True)), id_col, "left")
        .select(
            *[c for c in docs.columns if c != text_col],
            # __stripped is null for a cut doc whose EVERY token was
            # covered — that is an empty result, not a pass-through
            F.when(F.col("__cut"), F.coalesce("__stripped", F.lit("")))
            .otherwise(F.col(text_col))
            .alias(text_col),
        )
    )


def train_dedup_quantizer(
    emb: DataFrame,
    cell_target: int = 128,
    iters: int = 2,
    min_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Auto-k coarse quantizer for the embedding-dedup family: k is
    derived from the CURRENT corpus size at a constant target cell
    population (k = max(min_cells, n / cell_target)), so per-cell
    candidate products stay bounded as the corpus grows — the
    production policy the semantic-dedup bench entry uses, packaged
    as the default for `embedding_dedup_state` builders.

    The frozen-quantizer contract is unchanged: call this at INDEX /
    RE-INDEX time only, store the centroids with the state, and pass
    the SAME centroids to every `incremental_embedding_dedup` probe —
    re-deriving per batch would silently re-cell the stored state and
    break cross-batch comparability. Cost: one count + `iters`
    distributed Lloyd passes; the returned list is parameter-sized
    (k × dim floats)."""
    if cell_target < 1:
        raise ValueError(f"cell_target must be >= 1, got {cell_target}")
    from mwas_rfam_spark.operators.similarity import train_ivf_centroids

    n = emb.count()
    k = max(min_cells, round(n / cell_target))
    return train_ivf_centroids(emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)


def embedding_dedup_state(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the stored state for `incremental_embedding_dedup`:
    (cell, id, vec, nrm) per KEPT vector, cell-assigned by the shared
    coarse quantizer. Write it partitioned by ``cell`` so every later
    probe is a co-located equi-join."""
    from mwas_rfam_spark.operators.similarity import assign_ivf_cells

    cells = assign_ivf_cells(emb, centroids, id_col, vec_col)
    nrm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    return cells.select(
        "cell",
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        nrm.alias("nrm"),
    )


def incremental_embedding_dedup(
    new_emb: DataFrame,
    seen_state: DataFrame | None,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subdivide_above: int | None = None,
):
    """SEMANTIC dedup of a new batch against the running corpus — the
    embedding-space member of the incremental family (exact anti-join /
    Bloom / MinHash band-state are the lexical ones). The corpus state
    is `embedding_dedup_state` rows for SURVIVORS only; both sides
    share one coarse quantizer (train once, reuse — re-training would
    silently re-cell the state and break comparability, so centroids
    are an explicit parameter, never derived here).

    Rule, exactly (keep-first, mirroring `incremental_minhash_dedup`):
    a new vector is DROPPED iff, within its cell, it has cosine >=
    ``threshold`` with (a) any state vector, or (b) any smaller-id
    vector of the same batch (whether or not that one survives — the
    greedy one-pass rule). Cross-cell near-dups are missed, the same
    published recall trade as SemDeDup (the batch variant here,
    `semantic_dedup`, accepts it too).

    Returns ``(survivors, updated_state)``. Scale shape: the batch
    probes ONLY the state cells it occupies (cell equi-join; with state
    stored partitioned by cell it is co-located), never rescans corpus
    vectors wholesale; per-batch cost is Σ_cell batch_c × state_c plus
    the within-batch Σ C(batch_c, 2) — both bounded by cell granularity.
    Derive the centroids with :func:`train_dedup_quantizer` at index /
    re-index time — it scales k with the corpus at a constant cell
    target (the `semantic_dedup` production policy), which keeps
    per-batch cost ~flat as state grows (SCALE.md probe G').

    ``subdivide_above`` defaults to None so the rule above holds EXACTLY
    (the SRP sub-bucket guard trades recall inside oversized cells,
    which would silently weaken rule (b) while rule (a) kept full
    recall); pass a bound only when a batch can overload one cell and
    the asymmetry is acceptable.
    """
    batch = embedding_dedup_state(new_emb, centroids, id_col, vec_col)
    batch = pin(batch, "incremental_embedding_dedup:batch")

    # (b) within-batch: blocked pair finding, drop the larger id of any pair
    pairs = embedding_near_dup_pairs(
        batch.select(F.col("id").alias(id_col), F.col("vec").alias(vec_col), "cell"),
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_col="cell",
        subdivide_above=subdivide_above,
    )
    drop_batch = pairs.select(F.col("id_b").alias("id")).distinct()

    if seen_state is not None:
        dot = F.aggregate(
            F.zip_with("vec", "svec", lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        drop_state = (
            batch.join(
                seen_state.select(
                    "cell", F.col("vec").alias("svec"), F.col("nrm").alias("snrm")
                ),
                "cell",
            )
            .withColumn("cos", dot / (F.col("nrm") * F.col("snrm")))
            .where(F.col("cos") >= threshold)
            .select("id")
            .distinct()
        )
        dropped = drop_batch.unionByName(drop_state).distinct()
    else:
        dropped = drop_batch

    kept_state = batch.join(dropped, "id", "left_anti")
    survivors = new_emb.join(
        kept_state.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )
    updated = (
        seen_state.unionByName(kept_state) if seen_state is not None else kept_state
    )
    return survivors, updated


def ngram_containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None | str = "auto",
) -> DataFrame:
    """EXACT containment pairs by word-n-gram sets: (id_contained,
    id_container, containment) with ``|A∩B| / |A| >= threshold`` —
    the ASYMMETRIC relation symmetric Jaccard misses (a short document
    quoted wholesale inside a long one scores low Jaccard but 1.0
    containment; Broder 1997 calls this the containment coefficient).

    Same inverted-index discipline as :func:`ngram_jaccard_pairs`, with
    the asymmetric prefix filter: |A∩B| >= ceil(t·|a|) forces the
    CONTAINED side to share a shingle within its first
    ``|a| - ceil(t·|a|) + 1`` canonically-ranked shingles, while the
    container side indexes ALL its shingles (containment puts no upper
    bound on |b|, so its prefix cannot shrink). Candidates then pass the
    size filter |b| >= ceil(t·|a|) and verify exactly with
    array_intersect. ``max_df`` (PPJoin+ stop shingles, candidate
    generation only, "auto" derives from the df distribution) is the
    same low-vocabulary guard with the same documented trade.

    Self-containment and mirrored duplicates are excluded only as
    (a, a); both (a⊂b) and (b⊂a) rows can appear — the relation is
    directional by design.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # containment has no container-side prefix (no upper bound on |b|),
    # so the index keeps every shingle (prefix_threshold=None); the
    # contained-side prefix is applied below
    doc_sets, ranked, max_df = _shingle_index(
        docs, n, text_col, id_col, max_df, prefix_threshold=None
    )

    contained = ranked.where(
        F.col("pos") < F.col("sz") - _fp_ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select(F.col("id").alias("id_a"), "shingle", F.col("sz").alias("sz_a"))
    container = ranked.select(F.col("id").alias("id_b"), "shingle", F.col("sz").alias("sz_b"))
    cand = (
        contained.join(container, "shingle")
        .where(
            (F.col("id_a") != F.col("id_b"))
            # |A∩B| <= min(|a|, |b|), so containment needs |b| >= t*|a|
            # (fp-safe ceil — see _fp_ceil)
            & (F.col("sz_b") >= _fp_ceil(F.lit(threshold) * F.col("sz_a")))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    n_part = max(docs.sparkSession.sparkContext.defaultParallelism * 2, 8)
    verified = (
        cand.repartition(n_part, "id_a", "id_b")
        .join(
            doc_sets.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            doc_sets.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .withColumn(
            "containment",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.col("sz_a"),
        )
        .where(F.col("containment") >= threshold)
    )
    return verified.select(
        F.col("id_a").alias("id_contained"),
        F.col("id_b").alias("id_container"),
        F.round("containment", 6).alias("containment"),
    )


def soft_dedup_weights(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Soft dedup: (id, weight) with weight = 1 / |near-dup cluster| —
    the DOWNWEIGHT-instead-of-drop policy. Hard dedup (keep one per
    cluster) discards paraphrase diversity; reweighting keeps every
    member while the CLUSTER's total sampling mass stays that of one
    document, so boilerplate families stop dominating the mix without
    vanishing from it. Documents outside any cluster get weight 1.

    ``clusters`` is :func:`dedup_clusters` output (or any
    (id, cluster_id) relation). Plan: one cluster-size aggregation
    (map-side combinable) + one left join from the corpus — the weights
    column feeds `plans/sampling.weighted_mix_exact`, DSIR temperature
    reweighting, or a sampled-training shard writer directly."""
    member = clusters.select(
        F.col(id_col).alias("id"), F.col("cluster_id").alias("c")
    )
    sizes = member.groupBy("c").agg(F.count("*").alias("n"))
    weighted = member.join(sizes, "c").select(
        "id", (F.lit(1.0) / F.col("n")).alias("w")
    )
    return docs.select(F.col(id_col).alias("id")).join(
        weighted, "id", "left_outer"
    ).select(
        F.col("id").alias(id_col),
        F.coalesce("w", F.lit(1.0)).alias("weight"),
    )


def approx_dedup_quality_report(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    simhash_max_hamming: int = 3,
    simhash_bands: int = 4,
    sample_docs: int | None = None,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Precision/recall of each approximate near-dup family against the
    EXACT word-n-gram Jaccard relation at ``threshold`` — the
    measurement every production dedup rollout needs before trusting an
    approximation at corpus scale ("what fraction of true near-dup
    pairs does MinHash at these band settings actually find, on THIS
    corpus?").

    One row per method: (method, n_truth, n_pred, true_pos, precision,
    recall, f1). Methods measured: ``minhash_lsh`` (banded candidates,
    signature-estimated Jaccard >= threshold) and ``simhash`` (banded
    Hamming <= ``simhash_max_hamming`` — a DIFFERENT similarity notion;
    its row quantifies how well bit-level similarity reproduces the
    Jaccard relation, which is exactly what you need to know before
    substituting it).

    The ground truth is the exact all-pairs lister (``max_df=None``),
    which is inherently output-bound — so the report is designed to run
    on a BOUNDED, deterministic slice: ``sample_docs`` keeps the
    bottom-k documents by the seeded draw md5('eval:{seed}:{id}') (a
    uniform corpus sample, replayable cross-engine). At 100 TB you
    measure on the sample, then run only the winning approximation on
    the corpus; the report itself is never the scale path.
    """
    from mwas_rfam_spark.functions.scalar import md5_uniform

    if sample_docs is not None:
        u = md5_uniform(
            F.concat_ws(
                ":", F.lit("eval"), F.lit(str(seed)), F.col(id_col).cast("string")
            )
        )
        docs = (
            docs.withColumn("__u", u)
            .orderBy(F.asc("__u"), F.asc(id_col))
            .limit(int(sample_docs))
            .drop("__u")
            # a global limit lands on ONE partition, which would leave
            # every downstream shingle/signature pass single-threaded
            # (measured 2.4× on the whole report) — same trap as the
            # blocked cosine self-join's AQE coalesce
            .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        )
    docs = pin(docs, "approx_dedup_quality_report:docs")  # shared by truth + every method

    # materialize the three pair sets CONCURRENTLY: each family's cost
    # at sample size is dominated by fixed scheduler/shuffle rounds
    # (~2.3 s each here regardless of data volume), so serializing them
    # triples the floor. Thunks, because building each pair set already
    # runs its own pins.
    def _truth():
        return pin(ngram_jaccard_pairs(
            docs, n=n, threshold=threshold, text_col=text_col,
            id_col=id_col, max_df=None,
        ).select("id_a", "id_b"), "approx_dedup_quality_report:truth")

    def _minhash():
        return pin(minhash_lsh_pairs(
            docs, num_hashes=num_hashes, bands=bands, n=n,
            threshold=threshold, text_col=text_col, id_col=id_col,
        ).select("id_a", "id_b"), "approx_dedup_quality_report:minhash")

    def _simhash():
        return pin(simhash_near_dup_pairs(
            docs, max_hamming=simhash_max_hamming, bands=simhash_bands,
            text_col=text_col, id_col=id_col,
        ).select("id_a", "id_b"), "approx_dedup_quality_report:simhash")

    truth, mh, sh = overlap([_truth, _minhash, _simhash])
    n_truth = truth.count()

    preds = {"minhash_lsh": mh, "simhash": sh}
    # ONE action for all methods: tag, union, left-join the truth set,
    # count hits per method (the per-method count-then-semi-join version
    # costs 2 actions × methods in scheduler round-trips alone)
    tagged = None
    for method, p in preds.items():
        t = p.withColumn("__method", F.lit(method))
        tagged = t if tagged is None else tagged.unionByName(t)
    per_method = {
        r["__method"]: r
        for r in tagged.join(
            truth.withColumn("__hit", F.lit(1)), ["id_a", "id_b"], "left"
        )
        .groupBy("__method")
        .agg(
            F.count(F.lit(1)).alias("n_pred"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("tp"),
        )
        .collect()
    }
    rows = []
    for method in preds:
        n_pred = int(per_method[method]["n_pred"]) if method in per_method else 0
        tp = int(per_method[method]["tp"]) if method in per_method else 0
        prec = tp / n_pred if n_pred else 0.0
        rec = tp / n_truth if n_truth else 0.0
        f1 = 2 * prec * rec / (prec + rec) if (prec + rec) else 0.0
        rows.append((method, n_truth, n_pred, tp, prec, rec, f1))
    return docs.sparkSession.createDataFrame(
        rows,
        "method string, n_truth long, n_pred long, true_pos long, "
        "precision double, recall double, f1 double",
    )


def semantic_decontaminate(
    train_emb: DataFrame,
    eval_emb: DataFrame,
    threshold: float = 0.95,
    max_broadcast_eval: int = 100_000,
    cell_target: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic
    complement of `text.decontaminate`'s n-gram overlap: a training item
    is CONTAMINATED when its cosine to ANY eval item reaches
    ``threshold`` (paraphrases and translations that shingle overlap
    can't see). Returns (``id_col``, matched_eval_id, cosine) — one row
    per contaminated training item, matched to its most-similar eval
    item (ties → smallest eval id); anti-join the ids to clean.

    Size-adaptive execution, the same cost-model move as
    `dedup_clusters`: eval sets are benchmark-sized (thousands), so the
    DEFAULT path broadcasts the eval matrix and scans training
    embeddings ONCE with a per-batch numpy GEMM (batch × |eval| cosine
    block — the `_assign_cells_arrow` pattern) — EXACT, shuffle-free,
    and the only data motion at 100 TB is the train scan itself. An
    eval side above ``max_broadcast_eval`` switches to the blocked
    path: a shared coarse quantizer (trained on the eval side, the
    distribution being probed), both sides cell-assigned, candidates
    joined per cell — the `semantic_dedup` approximation with its
    documented boundary-miss tradeoff.

    NULL / wrong-dimension training embeddings are never contaminated
    (they have no similarity); NULL and zero-norm eval vectors are
    excluded from the matrix (cosine undefined).
    """
    import numpy as np

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    spark = train_emb.sparkSession
    ev = eval_emb.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("eval_id"), F.col(vec_col).alias("ev")
    )

    eval_id_type = eval_emb.schema[id_col].dataType

    def _empty():
        return (
            train_emb.select(F.col(id_col))
            .limit(0)
            .withColumn("matched_eval_id", F.lit(None).cast(eval_id_type))
            .withColumn("cosine", F.lit(None).cast("double"))
        )

    # ONE eval-side job decides the path AND fetches the broadcast data
    # (count-then-collect would run the eval plan twice); the +1 row
    # only signals "too big", it is never used
    rows = ev.limit(max_broadcast_eval + 1).collect()
    if not rows:
        return _empty()
    if len(rows) <= max_broadcast_eval:
        # reference dimension: the MAJORITY dimension (count desc, then
        # smaller d — deterministic). Taking it from the single
        # smallest-id row meant one corrupt short vector holding that id
        # silently discarded the ENTIRE valid eval set and contamination
        # passed unreported (r11 review finding); other-dimension and
        # zero-norm eval rows are excluded, mirroring the blocked path's
        # NULL-cell drop. Ids stay Python objects — the eval id column
        # keeps ITS OWN type (the blocked path always did; hardcoding
        # int64 here made the same call crash on string ids only below
        # the broadcast cutoff).
        rows = sorted(rows, key=lambda r: r["eval_id"])
        from collections import Counter

        dim_counts = Counter(len(r["ev"]) for r in rows)
        best = max(dim_counts.values())
        modal = {d_ for d_, c in dim_counts.items() if c == best}
        # ties (e.g. 1 vs 1) fall back to the old stable rule applied
        # among the modal dims only: the smallest eval id's dimension
        d = next(len(r["ev"]) for r in rows if len(r["ev"]) in modal)
        rows = [r for r in rows if len(r["ev"]) == d]
        ids = [r["eval_id"] for r in rows]
        M = np.asarray([list(r["ev"]) for r in rows], dtype=np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        keep = norms > 0.0
        ids = [i for i, k in zip(ids, keep) if k]
        M, norms = M[keep], norms[keep]
        if len(ids) == 0:
            return _empty()  # all eval rows degenerate
        Mn = M / norms[:, None]  # pre-normalized: cosine = (x/|x|) . Mn^T
        bc = spark.sparkContext.broadcast((ids, Mn))

        from pyspark.sql import types as T

        out_schema = T.StructType(
            [
                train_emb.schema[id_col],
                T.StructField("matched_eval_id", eval_id_type),
                T.StructField("cosine", T.DoubleType()),
            ]
        )
        src = train_emb.select(id_col, vec_col)

        def kernel(batches):
            import pandas as pd

            eids, E = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vecs = [
                    np.asarray(v, dtype=np.float64)
                    if v is not None and len(v) == d
                    else None
                    for v in pdf[vec_col]
                ]
                valid = [i for i, v in enumerate(vecs) if v is not None]
                hit_rows, hit_eids, hit_cos = [], [], []
                if valid:
                    X = np.stack([vecs[i] for i in valid])
                    xn = np.sqrt((X * X).sum(axis=1))
                    ok = xn > 0.0
                    if ok.any():
                        Xn = X[ok] / xn[ok, None]
                        S = Xn @ E.T  # (batch, n_eval) cosine block
                        best = S.argmax(axis=1)  # first max = smallest eval id
                        best_cos = S[np.arange(len(best)), best]
                        rows_ok = np.asarray(valid)[ok]
                        for r, b, c in zip(rows_ok, best, best_cos):
                            if c >= threshold:
                                hit_rows.append(r)
                                hit_eids.append(eids[b])
                                hit_cos.append(float(c))
                yield pd.DataFrame(
                    {
                        # iloc[[]] keeps the input dtype for empty batches
                        id_col: pdf[id_col].iloc[hit_rows].to_numpy(),
                        # object dtype: Arrow casts to the declared eval
                        # id type (long ids AND string ids both work)
                        "matched_eval_id": pd.Series(hit_eids, dtype="object"),
                        "cosine": pd.Series(hit_cos, dtype="float64"),
                    }
                )

        return src.mapInPandas(kernel, out_schema)

    # blocked path: shared quantizer from the EVAL distribution
    from mwas_rfam_spark.operators.similarity import (
        _dot,
        _norm,
        assign_ivf_cells,
    )

    eval_named = ev.select(F.col("eval_id").alias(id_col), F.col("ev").alias(vec_col))
    centroids = train_dedup_quantizer(
        eval_named, cell_target=cell_target, id_col=id_col, vec_col=vec_col
    )
    ev_cells = assign_ivf_cells(eval_named, centroids, id_col, vec_col).select(
        F.col(id_col).alias("eval_id"), F.col(vec_col).alias("ev"), "cell"
    )
    tr_cells = assign_ivf_cells(
        train_emb.where(F.col(vec_col).isNotNull()).select(id_col, vec_col),
        centroids, id_col, vec_col,
    )
    cos = _dot(F.col(vec_col), F.col("ev")) / (
        _norm(F.col(vec_col)) * _norm(F.col("ev"))
    )
    scored = (
        tr_cells.join(ev_cells, "cell")
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("cosine"), F.asc("eval_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(id_col, F.col("eval_id").alias("matched_eval_id"), "cosine")
    )
