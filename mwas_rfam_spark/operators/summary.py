"""Post-hoc results analytics (SURVEY.md §2.4 A9) — the
mwas_results_analyze.py:19-69 summary as one groupBy.

One row per bioproject: test counts by kind, distinct groups/sets, and
the scheduling weight (num_biosamples × num_permutation_tests,
mwas_results_analyze.py:62-65) used to plan cluster scheduling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def summarize_results(results: DataFrame, ref_df: DataFrame | None = None) -> DataFrame:
    is_perm = F.col("status").contains("permutation")
    is_skip = F.col("status").contains("skipped")
    agg = results.groupBy("bioproject").agg(
        F.count("*").alias("number_tests"),
        F.count(F.when(is_perm, True)).alias("number_permutation_tests"),
        F.count(F.when(is_skip, True)).alias("number_skipped_tests"),
        F.countDistinct("metadata_field", "metadata_value").alias("number_metadata_sets"),
        F.countDistinct("group").alias("number_groups"),
        F.count(F.when(F.col("status").contains("significant"), True)).alias("num_significant"),
        F.round(F.max("runtime_seconds"), 6).alias("max_runtime"),
        F.round(F.avg("runtime_seconds"), 6).alias("avg_runtime"),
        F.round(F.avg(F.when(is_perm, F.col("runtime_seconds"))), 6).alias("avg_perms_runtime"),
        F.round(F.sum("runtime_seconds"), 6).alias("total_runtime"),
        F.max("memory_usage_bytes").alias("max_memory"),
        F.round(F.avg("memory_usage_bytes"), 2).alias("avg_memory"),
    )
    if ref_df is not None:
        sizes = ref_df.select(
            F.col("bioproject"), F.col("n").alias("num_biosamples")
        )
        agg = agg.join(sizes, "bioproject", "left").withColumn(
            "weight", F.col("num_biosamples") * F.col("number_permutation_tests")
        )
    return agg


def grouped_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    probabilities: tuple = (0.5, 0.9, 0.99),
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group quantiles of a numeric column — exact or sketched.

    ``exact=False`` (the 100 TB default) uses `approx_percentile`
    (Greenwald–Khanna sketch): each task folds its rows into a bounded
    sketch, partial sketches MERGE map-side, and the error is rank-based
    (<= 1/``accuracy`` of the rank, distribution-independent) — one
    narrow aggregation regardless of data volume, the only formulation
    that survives a terabyte group. ``exact=True`` uses `percentile`
    (true order statistic with linear interpolation, matching DuckDB's
    ``quantile_cont``): it buffers each group's values, so reserve it
    for bounded groups (tests, oracles, final small rollups).

    Output: one row per group with a ``p{prob}`` column per requested
    probability (p0.5, p0.9, ...), names shared by the Spark and oracle
    sides.
    """
    if not probabilities:
        raise ValueError("probabilities must be non-empty")
    if not all(0.0 <= p <= 1.0 for p in probabilities):
        raise ValueError(f"probabilities must be in [0, 1]: {probabilities}")
    names = [f"p{p:g}" for p in probabilities]
    if len(set(names)) != len(names):
        # duplicate probabilities minted duplicate output columns —
        # every later select threw AMBIGUOUS_REFERENCE (r12 review)
        raise ValueError(f"duplicate probabilities: {probabilities}")
    if not exact and accuracy < 1:
        raise ValueError(f"accuracy must be >= 1, got {accuracy}")
    fn = (
        (lambda c, p: F.percentile(c, F.lit(p)))
        if exact
        else (lambda c, p: F.approx_percentile(c, F.lit(p), F.lit(accuracy)))
    )
    aggs = [
        fn(F.col(value_col), p).alias(f"p{p:g}") for p in probabilities
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def grouped_cardinality(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    exact: bool = False,
    lg_k: int = 12,
) -> DataFrame:
    """Distinct-count per group — exact or HLL-sketched.

    ``exact=False`` (the 100 TB default) uses the Datasketches
    HyperLogLog aggregate (`hll_sketch_agg`): each task folds keys into
    a bounded 2^``lg_k``-register sketch, partials merge map-side, and
    the relative error is ~1.04/sqrt(2^lg_k) (~1.6% at the default)
    regardless of cardinality — where `countDistinct` would shuffle
    every distinct key. ``exact=True`` keeps `countDistinct` for
    bounded inputs and oracle checks. Output column: ``n_distinct``
    (estimate cast to BIGINT either way).
    """
    key = F.col(key_col).cast("string")
    agg = (
        F.countDistinct(key)
        if exact
        else F.hll_sketch_estimate(F.hll_sketch_agg(key, F.lit(lg_k)))
    ).alias("n_distinct")
    if group_cols:
        return df.groupBy(*group_cols).agg(agg)
    return df.agg(agg)


def cardinality_sketch_state(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch (binary) per group — the MERGEABLE state form of
    distinct counting. This is the piece that matters at 100 TB: write
    one sketch row per (day, shard, source) at ingest time, and any
    later rollup — per source, per month, global — is a
    `hll_union_agg` over a few thousand kilobyte-sized rows instead of
    a rescan of the corpus. Same state-table pattern as the
    incremental-dedup hash relation: tiny, append-only, engine-agnostic
    (Datasketches' wire format is portable).
    """
    key = F.col(key_col).cast("string")
    agg = F.hll_sketch_agg(key, F.lit(lg_k)).alias("sketch")
    if group_cols:
        return df.groupBy(*group_cols).agg(agg)
    return df.agg(agg)


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    support: float = 0.01,
    total_rows: int | None = None,
) -> DataFrame:
    """EXACT heavy hitters (keys with frequency ≥ ``support`` × rows)
    without a full-key shuffle — the two-phase candidate/verify pattern
    (same shape as the Bloom dedup prefilter):

    Phase 1 — candidates, shuffle-free AND memory-bounded: each
    partition runs a Misra–Gries summary with ceil(1/support) counters
    over its Arrow batches (per-batch ``value_counts`` is bounded by the
    batch size; the summary never exceeds its capacity) and emits every
    surviving key. Misra–Gries guarantees any key with local frequency
    > partition_rows / (capacity+1) < support × partition_rows stays in
    the summary, and by averaging any key with GLOBAL frequency ≥
    support × N clears that bar in at least one partition — so the
    candidate set provably contains every true heavy hitter, at most
    1/support keys per partition regardless of vocabulary size, with
    O(1/support + batch) per-task memory (a plain dict of every
    partition-local key would be the partition's whole vocabulary).

    Phase 2 — exact verify: one aggregation of the input SEMI-JOINED
    (null-safely — a null key is a countable value here, pandas and the
    join both keep it) to the broadcast candidate set; only candidate
    keys shuffle. Output: (key, cnt, frac), true heavy hitters only,
    exact counts, descending.

    `countDistinct`-style full-vocab shuffles are what this avoids: at
    100 TB of text the token vocabulary is billions of keys, the heavy
    hitters a handful. ``total_rows`` skips the count job when the
    caller already knows N.
    """
    if not (0.0 < support <= 1.0):
        raise ValueError(f"support must be in (0, 1]: {support}")
    import math as _math

    cap = int(_math.ceil(1.0 / support))
    key = F.col(key_col).cast("string")
    keyed = df.select(key.alias("__k"))
    n = total_rows if total_rows is not None else keyed.count()

    def local_candidates(batches):
        import pandas as pd

        counts: dict = {}
        for pdf in batches:
            # dropna=False: null keys count like any other value (they
            # surface as None/NaN in the object column — canonicalized
            # to None below so dict keys stay stable across batches)
            for k_, c in pdf["__k"].value_counts(dropna=False).items():
                if pd.isna(k_):
                    k_ = None
                counts[k_] = counts.get(k_, 0) + int(c)
            if len(counts) > cap:
                # Misra–Gries decrement: subtract the (cap+1)-th largest
                # count from everyone, drop the non-positive — at most
                # cap keys survive, and no key with frequency above
                # rows/(cap+1) can be evicted
                dec = sorted(counts.values(), reverse=True)[cap]
                counts = {k_: c - dec for k_, c in counts.items() if c > dec}
        yield pd.DataFrame({"__k": pd.Series(list(counts), dtype="object")})

    cands = keyed.mapInPandas(local_candidates, "__k STRING").distinct()
    verified = (
        keyed.alias("d")
        .join(
            F.broadcast(cands).alias("c"),
            F.col("d.__k").eqNullSafe(F.col("c.__k")),
            "left_semi",
        )
        .groupBy("__k")
        .agg(F.count("*").alias("cnt"))
        # compare as cnt/n >= support, NOT cnt >= support*n: the float
        # product rounds away from the bar (0.01*300 == 3.0000000000000004,
        # dropping a key sitting exactly AT support × rows). Correctly-
        # rounded division maps an exact-ratio count onto the same double
        # as the support literal (3/300 == 0.01), so ties stay kept per
        # the documented '>= support × rows' contract.
        .where(F.col("cnt") / F.lit(float(n)) >= F.lit(float(support)))
    )
    return verified.select(
        F.col("__k").alias(key_col),
        "cnt",
        (F.col("cnt") / F.lit(float(n))).alias("frac"),
    ).orderBy(F.desc("cnt"), F.asc(key_col))


def cardinality_from_states(
    states: DataFrame,
    group_cols: list[str] | None = None,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Roll stored sketch states up to estimates: union the sketches
    within each (coarser) group and estimate — no source-data access.
    ``allowDifferentLgConfigK=True`` so states written at different
    precisions still merge (the union downgrades to the coarsest)."""
    agg = F.hll_sketch_estimate(
        F.hll_union_agg(F.col(sketch_col), F.lit(True))
    ).alias("n_distinct")
    if group_cols:
        return states.groupBy(*group_cols).agg(agg)
    return states.agg(agg)


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",  # unused since r12 (kept for API compat)
) -> DataFrame:
    """One-row corpus health report — the numbers every ingest run wants
    before anything downstream trusts the data: document and token
    counts, token-length distribution (median/p95 via percentile_approx
    — a rank-error sketch returning observed values, NOT the exact
    interpolated quantile; r12 docstring correction), empty-document
    fraction, estimated exact-duplicate
    rate (HLL over the normalized content hash — same normalization as
    the dedup family, so the estimate predicts what `dedup_exact` will
    find), and estimated vocabulary size.

    Two aggregation jobs (doc-grain profile + exploded token pass),
    each a full scan with map-side combine; the outputs are one row
    each and cross-join. Sketched fields (`*_est`) trade exactness for
    never shuffling a vocabulary- or corpus-sized key set — at 100 TB
    the report costs two scans, nothing else.
    """
    from .dedup import normalize_text
    from .text import tokens

    # no id projection: nothing below aggregates per doc, and selecting
    # id_col made the report CLI (which exposes no --id-col flag) crash
    # on any corpus without a 'doc_id' column (r12 review finding).
    # NULL text keeps a NULL hash and is counted as ONE extra distinct
    # group (r13 review finding, execution-confirmed): groupBy collects
    # all NULL hashes into one group in exact_dedup_groups, SEPARATE
    # from the empty-string group — the r12 coalesce-to-'' repair of
    # the dropped-by-approx_count_distinct bug over-corrected by
    # merging NULL docs into the empty-doc group, so any corpus with
    # >= 1 NULL doc and >= 1 empty doc reported duplicates dedup_exact
    # will never find.
    profile = docs.select(
        F.size(tokens(F.col(text_col))).alias("__n_toks"),
        F.md5(normalize_text(F.col(text_col))).alias("__h"),
    )
    doc_stats = profile.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("__n_toks") == 0, 1).otherwise(0)).alias("n_empty"),
        F.sum("__n_toks").alias("n_tokens"),
        F.round(F.avg("__n_toks"), 2).alias("avg_tokens"),
        F.expr("percentile_approx(__n_toks, 0.5)").alias("p50_tokens"),
        F.expr("percentile_approx(__n_toks, 0.95)").alias("p95_tokens"),
        (
            F.approx_count_distinct("__h")
            + F.max(F.when(F.col("__h").isNull(), 1).otherwise(0))
        ).alias("__distinct_docs"),
    ).withColumn(
        "dup_rate_est",
        F.round(
            # clamp at 0: HLL++ (~5% rsd) can estimate MORE distinct
            # hashes than rows — a negative duplicate rate is nonsense
            # (r12 review finding)
            F.greatest(
                F.col("n_docs") - F.col("__distinct_docs"), F.lit(0)
            )
            / F.greatest(F.col("n_docs"), F.lit(1)),
            4,
        ),
    ).drop("__distinct_docs")
    vocab = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("t"))
        .agg(F.approx_count_distinct("t").alias("vocab_est"))
    )
    # both sides are 1-row aggregates; the hint keeps the plan visibly
    # broadcast like every other crossJoin in the codebase
    return doc_stats.crossJoin(F.broadcast(vocab))


def skew_report(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
    parallelism: int | None = None,
) -> DataFrame:
    """Join/aggregation-key skew diagnosis — the pre-flight check before
    any key-partitioned operation at scale: one aggregation pass yields
    the ``top_n`` hottest keys with, per key,

    - ``cnt`` / ``frac`` — absolute and relative mass;
    - ``skew_ratio``     — cnt / (rows/parallelism), i.e. how many
      "fair task shares" the key occupies (1.0 = perfectly spread);
    - ``salt_factor``    — ceil(skew_ratio): the salt fan-out that
      brings this key's partitions back to a fair share (1 = no salting
      needed). Feed it to a salted join/agg, or rely on AQE skew-join
      if the op qualifies.

    NULL keys count as a key (they're the classic silent hot spot —
    every unmatched/default row hashes together). The per-key counts
    are a map-side-combinable groupBy: the shuffle carries one partial
    row per (task, distinct-key-in-task) — for skew DIAGNOSIS the heavy
    keys dominate mass by definition, and if the distinct-key count is
    itself the problem, `heavy_hitters` (bounded-memory Misra–Gries)
    answers the same question without the full-key shuffle; this
    operator prefers exact counts because its output feeds a
    partitioning DECISION.
    """
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    par = parallelism or df.sparkSession.sparkContext.defaultParallelism
    counts = df.groupBy(
        F.col(key_col).cast("string").alias("key")
    ).agg(F.count("*").alias("cnt"))
    totals = counts.agg(F.sum("cnt").alias("n_rows"))
    return (
        counts.crossJoin(F.broadcast(totals))
        .withColumn("frac", F.col("cnt") / F.col("n_rows"))
        .withColumn(
            "skew_ratio", F.col("cnt") / (F.col("n_rows") / F.lit(float(par)))
        )
        .withColumn("salt_factor", F.ceil("skew_ratio").cast("int"))
        .select("key", "cnt", F.round("frac", 6).alias("frac"),
                F.round("skew_ratio", 4).alias("skew_ratio"), "salt_factor")
        .orderBy(F.desc("cnt"), F.asc_nulls_first("key"))
        .limit(top_n)
    )


def _content_hash(cols: list[str]):
    """md5 over content columns with an INJECTIVE encoding: each value
    renders as 'N' for NULL else 'V' + char_length + ':' + value. The
    length prefix makes the concatenation unambiguous — without it a
    value containing the separator could shift content across column
    boundaries and two different rows would hash identically (e.g.
    ('x\\x01Vy', 'z') vs ('x', 'y\\x01Vz')). NULL vs '' also differ
    ('N' vs 'V0:'). Plain string functions, reproducible in ANSI SQL
    for cross-engine checks."""
    parts = [
        F.when(F.col(c).isNull(), F.lit("N")).otherwise(
            F.concat(
                F.lit("V"),
                F.length(F.col(c).cast("string")).cast("string"),
                F.lit(":"),
                F.col(c).cast("string"),
            )
        )
        for c in cols
    ]
    return F.md5(F.concat_ws("|", *parts))


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff → (id, status) with status in
    {'added', 'removed', 'changed', 'unchanged'}.

    ``content_cols`` default to every shared non-id column. One content
    hash per side (map-local), one full outer join on the id — the only
    shuffle. Feed the 'changed'+'added' slice to incremental dedup /
    re-embedding instead of reprocessing the snapshot; pair with
    `merge_upsert_partitioned` for the write-back.

    Each side's ids must be unique — a duplicate would multiply rows
    through the join and emit conflicting statuses; an in-plan window
    guard raises at execution (lazily, the codebase's duplicate-guard
    convention) naming the offending side."""
    if content_cols is None:
        shared = [c for c in old.columns if c in set(new.columns) and c != id_col]
        if not shared:
            raise ValueError("no shared content columns to diff")
        content_cols = shared
    for side_name, side in (("old", old), ("new", new)):
        missing = [c for c in content_cols + [id_col] if c not in side.columns]
        if missing:
            raise ValueError(f"{side_name} side is missing columns {missing}")
    def hashed(side: DataFrame, side_name: str, h_name: str) -> DataFrame:
        dup_n = F.count("*").over(Window.partitionBy(id_col))
        guarded = F.when(
            dup_n > 1,
            F.raise_error(
                F.concat(
                    F.lit(f"corpus_diff: duplicate {id_col} on the {side_name} side: "),
                    F.col(id_col).cast("string"),
                )
            ),
        ).otherwise(_content_hash(content_cols))
        return side.select(F.col(id_col).alias("id"), guarded.alias(h_name))

    o = hashed(old, "old", "h_old")
    n = hashed(new, "new", "h_new")
    # eqNullSafe: a NULL id present on both sides never matched the
    # plain equi-join and came back as 'removed' PLUS 'added' — the
    # downstream slices would delete its postings and re-embed it on
    # every diff run (r12 review finding; the duplicate guard above
    # groups NULLs, so at most one NULL id per side reaches the join)
    joined = o.join(
        n.withColumnRenamed("id", "__nid"),
        F.col("id").eqNullSafe(F.col("__nid")),
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("id"), F.col("__nid")).alias(id_col),
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def diff_status_counts(diff: DataFrame) -> DataFrame:
    """Fixed-shape counts over a :func:`corpus_diff` relation (statuses
    with zero rows appear with n = 0) — separate so a caller that also
    wants the detail rows never executes the diff twice."""
    statuses = ["added", "removed", "changed", "unchanged"]
    frame = diff.sparkSession.createDataFrame(
        [(s,) for s in statuses], "status string"
    )
    counts = diff.groupBy("status").agg(F.count("*").alias("n"))
    # the hint goes on the BUILD side: for a left-outer join Spark can
    # only broadcast the right relation — hinting the preserved left
    # side was ignored with a warning and the two tiny relations
    # shuffle-joined (r12 review finding)
    return (
        frame.join(F.broadcast(counts), "status", "left_outer")
        .select("status", F.coalesce("n", F.lit(0)).alias("n"))
    )


def corpus_diff_summary(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_cols: list[str] | None = None,
) -> DataFrame:
    """One row per status with counts — :func:`diff_status_counts` over
    :func:`corpus_diff`."""
    return diff_status_counts(corpus_diff(old, new, id_col, content_cols))
