"""Sequence packing for training-data pipelines: assign documents to
fixed-token-budget packs.

The classic formulation (greedy first-fit over a global order) is
inherently sequential; the scalable relational form packs WITHIN hash
buckets — documents are spread over ``n_buckets`` by id hash, each bucket
packs independently with a running token cumsum (one window per bucket),
and packs never span buckets. With per-bucket doc counts ~uniform, the
wasted tail per bucket is bounded by one max-length document — at corpus
scale (buckets ≫ executors) this is embarrassingly parallel where the
greedy algorithm is a single thread.

Deterministic end to end (hash order inside buckets), so the whole
assignment is reproducible in ANSI SQL and cross-engine checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import token_count, tokens

# pack_id encoding: bucket * PACK_BUCKET_SHIFT + per-bucket pack ordinal
# (ordinals start at 1). Both packers encode with this constant and
# consumers decode with pack_ordinal() — the pack CLI's chunk count used
# to re-implement the shift inline, so an encoding change here would
# have silently corrupted its printed count (r13 review finding).
PACK_BUCKET_SHIFT = 1 << 32


def pack_ordinal(pack_id_col: str = "pack_id", bucket_col: str = "bucket"):
    """Column expression decoding a ``pack_id`` back to its per-bucket
    pack ordinal — the inverse of the encoding above."""
    return F.col(pack_id_col) - F.col(bucket_col) * F.lit(PACK_BUCKET_SHIFT)


def _counts_expr(counts):
    """Shared token-count normalization: NULL packs as a zero-size doc
    (r12 rule), a NEGATIVE precomputed count refuses in-plan (r13
    review finding) — a -1 'unknown' sentinel silently RAISED bin-pack
    capacity above the budget (rem -= -1 overfills every later pack)
    and made the cumsum packer's running total non-monotonic (a doc
    assigned to an earlier, already-full chunk)."""
    n = F.coalesce(counts, F.lit(0))
    return F.when(
        n < 0,
        F.raise_error(
            F.concat(
                F.lit("packing: negative token count "),
                n.cast("string"),
                F.lit(" — token_count_col must be >= 0 or NULL"),
            )
        ).cast("long"),
    ).otherwise(n)


def _bucket_expr(id_col: str, n_buckets: int):
    """THE id→bucket derivation both packers share (r12: it was
    copy-pasted and the NULL/validation semantics had already drifted).
    ``hex_prefix_u32(md5(id)) pmod n_buckets`` — the repo-wide
    engine-portable randomness primitive (r13: the old two-hex-digit
    source capped usable parallelism at 256 buckets, which at corpus
    scale forces arbitrarily large per-bucket state into each packing
    kernel call, and a hand-rolled digit decode is exactly the drift
    hazard scalar.hex_prefix_u32's docstring warns about — ONE decode
    definition repo-wide). The 32-bit source also removes the
    short-prefix pmod bias the helper documents. n_buckets stays
    bounded at 65,536 (beyond any plausible executor count; 0 was a
    mid-job ANSI DIVIDE_BY_ZERO — r12 review finding). NULL ids refuse
    in-plan: a deterministic assignment needs an identity (the same
    rule as the selection family's seeded draws)."""
    if not 1 <= n_buckets <= 65536:
        raise ValueError(
            f"n_buckets must be in [1, 65536], got {n_buckets}"
        )
    from ..functions.scalar import hex_prefix_u32

    h = F.md5(F.col(id_col).cast("string"))
    bucket = F.pmod(hex_prefix_u32(h), F.lit(n_buckets)).cast("long")
    return F.when(
        F.col(id_col).isNull(),
        F.raise_error(
            F.lit("packing: NULL doc id — deterministic pack assignment "
                  "needs a non-null id; fill ids first")
        ).cast("long"),
    ).otherwise(bucket)


def pack_documents(
    docs: DataFrame,
    max_tokens_per_pack: int,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_count_col: str | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, bucket, pack_id) — pack_id is unique across
    buckets (bucket * 2^32 + pack ordinal within the bucket).

    Semantics are CONCAT-THEN-CHUNK (the standard pretraining packing),
    not bin packing: each bucket's documents are concatenated in hash
    order and the token stream is chunked at exact ``max_tokens_per_pack``
    boundaries; a document whose tokens straddle a boundary is split
    across chunks in the physical stream, and ``pack_id`` is the chunk
    holding its LAST token. Every emitted chunk except each bucket's
    final one is exactly full — no padding waste, which is why training
    pipelines prefer this over first-fit (inherently sequential and
    pad-lossy).

    ``token_count_col`` packs by a PRECOMPUTED per-doc token count —
    e.g. ``tokenize.bpe_encode(..., emit_tokens=False)``'s real BPE
    ``n_tokens`` — instead of the whitespace proxy on ``text_col``
    (which is then never read).
    """
    if max_tokens_per_pack < 1:
        raise ValueError(f"max_tokens_per_pack must be >= 1, got {max_tokens_per_pack}")
    counts = (
        F.col(token_count_col).cast("long")
        if token_count_col is not None
        else token_count(F.col(text_col))
    )
    base = docs.select(
        F.col(id_col),
        # NULL packs as zero-size, negatives refuse (_counts_expr; the
        # NULL used to leak into the output column — r12 review
        # finding, oracle moved in lockstep)
        _counts_expr(counts).alias("n_tokens"),
        _bucket_expr(id_col, n_buckets).alias("bucket"),
        # project the order hash ONCE — the window otherwise recomputed
        # md5 per row after the shuffle (r12 review finding)
        F.md5(F.col(id_col).cast("string")).alias("__h"),
    )
    w = Window.partitionBy("bucket").orderBy(F.col("__h"), F.col(id_col))
    # greatest(..., 1): a zero-token doc sorting first in its bucket has
    # cum 0 → ceil 0, which would mint a phantom pack 0 below ordinal 1
    packed = base.withColumn("cum_tokens", F.sum("n_tokens").over(w)).withColumn(
        "pack_in_bucket",
        F.greatest(
            F.ceil((F.col("cum_tokens")) / F.lit(max_tokens_per_pack)).cast("long"),
            F.lit(1).cast("long"),
        ),
    )
    return packed.select(
        id_col,
        "n_tokens",
        "bucket",
        (F.col("bucket") * F.lit(PACK_BUCKET_SHIFT) + F.col("pack_in_bucket")).alias("pack_id"),
    )  # __h dropped by the explicit select


def chunk_documents(
    docs: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split long documents into token-window chunks — the complement of
    :func:`pack_documents` (that concatenates short docs; this slices
    long ones for a fixed context window).

    Output (id, chunk_id, chunk_text, n_tokens): chunk windows start
    every ``max_tokens - overlap`` tokens, each carrying up to
    ``max_tokens`` whitespace tokens; the final window may be short, and
    a doc at or under ``max_tokens`` yields exactly one chunk (chunk 0).
    Empty/whitespace-only docs yield no chunks. Tokens re-join with a
    single space (inter-token whitespace is not preserved — the same
    normalization every other token operator here applies).

    Pure column expressions: one split, one sequence/transform over
    window starts, one posexplode — no shuffle at all. Memory caveat
    (r12): the transform materializes ALL of a document's windows in
    one row before the Generate explodes them, so per-row memory is
    O(n_tokens × max_tokens/step) — with near-total overlap (step ≪
    max_tokens) a very long document multiplies itself; keep overlap a
    small fraction of max_tokens (the standard setting) and chunk
    pathological documents with a smaller overlap first.
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(f"overlap must be in [0, max_tokens), got {overlap}")
    step = max_tokens - overlap
    toked = docs.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("__toks"),
    )
    n = F.size("__toks")
    # window starts: 0, step, 2*step, ... while start < n (at least one
    # window for any non-empty doc); sequence is inclusive so cap at n-1
    starts = F.when(n > 0, F.sequence(F.lit(0), (n - 1) - ((n - 1) % step), F.lit(step)))
    chunks = toked.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.slice(F.col("__toks"), s + 1, max_tokens),
            )
        ).alias("chunk_id", "__chunk"),
    )
    # drop overlap-only tails: a window wholly contained in the previous
    # one adds no new tokens (happens when the last start lands inside
    # the previous window's overlap region)
    return (
        chunks.where((F.col("chunk_id") == 0) | (F.size("__chunk") > overlap))
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
            F.size("__chunk").cast("long").alias("n_tokens"),
        )
    )


def bin_pack_documents(
    docs: DataFrame,
    max_tokens_per_pack: int,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_count_col: str | None = None,
    oversize: str = "own_pack",
) -> DataFrame:
    """WHOLE-document packing (no splitting) → (doc_id, n_tokens,
    bucket, pack_id, oversize) — the complement of
    :func:`pack_documents` for pipelines whose loss masking requires
    document boundaries to survive (each pack is a training sequence of
    intact documents + padding).

    Algorithm: best-fit-decreasing WITHIN hash buckets. The classic
    FFD/BFD greedy is inherently sequential over a global order, so —
    exactly like the cumsum packer — documents spread over
    ``n_buckets`` by id hash and each bucket packs independently
    (embarrassingly parallel, packs never span buckets; the waste vs a
    global greedy is bounded by one partially-filled pack per bucket).
    Within a bucket: documents sorted by (tokens desc, id), each placed
    into the fullest pack that still fits (best fit via bisect —
    O(n log n), not the O(n²) scan), else a new pack. BFD shares FFD's
    11/9·OPT + 6/9 worst-case guarantee (Johnson 1973; Dósa 2007 for
    the tight additive constant).

    ``oversize``: a document longer than the budget cannot pack whole —
    ``"own_pack"`` (default) isolates it in its own flagged pack (the
    caller chunks or drops those; `chunk_documents` is the splitter),
    ``"error"`` raises inside the task.

    Deterministic: bucket assignment and in-bucket order are md5/id
    functions of the data, so re-runs and different partitionings give
    identical pack ids. Scale shape: one hash shuffle; per-bucket state
    is the bucket's (id, count) pairs — scale ``n_buckets`` with the
    corpus exactly as with `pack_documents`.
    """
    if max_tokens_per_pack < 1:
        raise ValueError(f"max_tokens_per_pack must be >= 1, got {max_tokens_per_pack}")
    if oversize not in ("own_pack", "error"):
        raise ValueError(f"oversize must be 'own_pack' or 'error', got {oversize!r}")
    counts = (
        F.col(token_count_col).cast("long")
        if token_count_col is not None
        else token_count(F.col(text_col))
    )
    base = docs.select(
        F.col(id_col).alias("__id"),
        # NULL packs as zero-size (the NaN would otherwise kill the
        # pandas kernel's int sort key), negatives refuse — same
        # _counts_expr rule as the cumsum packer
        _counts_expr(counts).alias("n_tokens"),
        _bucket_expr(id_col, n_buckets).alias("bucket"),
    )
    id_type = docs.schema[id_col].dataType.simpleString()
    # backticked like temperature_mix's schema: an id column named with
    # a space/hyphen/reserved word used to die in an opaque DDL parse
    # error (r13 review finding)
    schema = (
        f"`{id_col}` {id_type}, n_tokens BIGINT, bucket BIGINT, "
        "pack_id BIGINT, oversize BOOLEAN"
    )
    budget = int(max_tokens_per_pack)

    def pack(pdf):
        import bisect

        import pandas as pd

        bucket = int(pdf["bucket"].iloc[0])
        rows = sorted(
            zip(pdf["__id"], pdf["n_tokens"]),
            key=lambda t: (-int(t[1]), t[0]),
        )
        # packs: bisect-sorted list of [remaining, pack_ordinal]
        open_packs: list[list[int]] = []
        n_packs = 0
        out_id, out_n, out_pack, out_over = [], [], [], []
        for doc_id, n in rows:
            n = int(n)
            if n > budget:
                if oversize == "error":
                    raise ValueError(
                        f"document {doc_id!r} has {n} tokens > "
                        f"max_tokens_per_pack={budget} (use oversize='own_pack' "
                        "or chunk_documents first)"
                    )
                n_packs += 1
                out_id.append(doc_id)
                out_n.append(n)
                out_pack.append(n_packs)
                out_over.append(True)
                continue
            # best fit: the SMALLEST remaining capacity that still fits
            i = bisect.bisect_left(open_packs, [n, -1])
            if i < len(open_packs):
                rem, ordinal = open_packs.pop(i)
                rem -= n
            else:
                n_packs += 1
                ordinal = n_packs
                rem = budget - n
            if rem > 0:
                # retire full packs: no n>=1 doc can ever fit rem==0,
                # and keeping them made a many-tiny-docs bucket's
                # insort/pop O(n*P) — quadratic in one task (r12 review
                # finding; zero-token docs still place into whichever
                # open pack remains, or a new one)
                bisect.insort(open_packs, [rem, ordinal])
            out_id.append(doc_id)
            out_n.append(n)
            out_pack.append(ordinal)
            out_over.append(False)
        return pd.DataFrame(
            {
                id_col: out_id,
                "n_tokens": pd.Series(out_n, dtype="int64"),
                "bucket": pd.Series([bucket] * len(out_id), dtype="int64"),
                "pack_id": pd.Series(
                    [bucket * PACK_BUCKET_SHIFT + p for p in out_pack],
                    dtype="int64",
                ),
                "oversize": out_over,
            }
        )

    return base.groupBy("bucket").applyInPandas(pack, schema)


def pack_utilization(
    packs: DataFrame,
    max_tokens_per_pack: int,
) -> DataFrame:
    """One-row packing report over a :func:`bin_pack_documents`
    assignment: (n_packs, n_docs, total_tokens, avg_fill, waste_frac) —
    ``avg_fill`` is mean per-pack utilization over non-oversize packs,
    ``waste_frac`` the padding share of the non-oversize budget. Two
    map-side-combinable aggregations.

    WHOLE-document packers only (the ``oversize`` column is the
    marker): :func:`pack_documents` attributes a straddling doc's full
    count to the chunk holding its last token, so its per-pack sums can
    exceed the budget and these fill metrics would read >1 / negative —
    that packer has no padding waste by construction, and feeding it
    here raises instead of reporting nonsense."""
    if max_tokens_per_pack < 1:
        # same guard as the packers — a zero budget reported
        # Infinity/negative metrics instead of raising (r12 review)
        raise ValueError(f"max_tokens_per_pack must be >= 1, got {max_tokens_per_pack}")
    if "oversize" not in packs.columns:
        raise ValueError(
            "pack_utilization needs a whole-document packing (bin_pack_documents "
            "output with an 'oversize' column); pack_documents' concat-then-chunk "
            "assignment has no per-pack fill notion (chunks are exactly full)"
        )
    per_pack = packs.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.count("*").alias("n_docs"),
        F.max(F.coalesce(F.col("oversize"), F.lit(False))).alias("oversize"),
    )
    return per_pack.agg(
        F.count("*").alias("n_packs"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("fill").alias("total_tokens"),
        F.round(
            F.avg(
                F.when(
                    ~F.col("oversize"),
                    F.col("fill") / F.lit(float(max_tokens_per_pack)),
                )
            ),
            6,
        ).alias("avg_fill"),
        F.round(
            1.0
            - F.sum(F.when(~F.col("oversize"), F.col("fill"))).cast("double")
            / (
                F.sum(F.when(~F.col("oversize"), 1).otherwise(0))
                * F.lit(float(max_tokens_per_pack))
            ),
            6,
        ).alias("waste_frac"),
    )
