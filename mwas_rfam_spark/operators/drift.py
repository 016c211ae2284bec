"""Distribution-drift detection between corpus snapshots.

Beyond-parity extension (SURVEY.md §7 M5): a training-data pipeline
re-ingests its corpus continuously; before a new snapshot replaces the
old one you want a cheap, exact answer to "did the distribution move?"
— quality scores, document lengths, language mix, source mix.

Three detectors, all single-pass DataFrame plans:

* :func:`ks_drift` — exact two-sample Kolmogorov–Smirnov statistic
  over a numeric column. The ECDF difference changes only at sample
  points, so ``KS = max over distinct values of |F_a(v) - F_b(v)|``.
  The cumulative counts use a two-level prefix sum: range-partition by
  value, window WITHIN each partition (parallel), then add broadcast
  per-partition offsets — the only driver-side collect is one row per
  partition (parameter-sized, same policy as the IVF centroids), never
  a single-task global window.
* :func:`categorical_drift` — per-category counts → PSI (population
  stability index, the standard banking/monitoring metric) and the
  Pearson chi-square statistic, with add-eps smoothing for categories
  absent on one side. One groupBy, broadcast scalar totals.
* :func:`drift_report` — one row per watched column with the matching
  statistic, for dashboard-shaped consumption.

100 TB shape: ks_drift shuffles the distinct-value relation once
(range partition) and keeps every window partition-local; categorical
drift is one hash aggregation. Nothing is quadratic, nothing collects
data rows.
"""

from __future__ import annotations

import math
from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..pinning import overlap, pin


def _finite_cond(df: DataFrame, col: str, alias: str | None = None):
    """NULL-and-NaN exclusion predicate for a numeric monitoring column
    (dtype-aware: isnan only applies to float/double — an int column
    can't carry NaN and F.isnan would not analyze on it). NaN passes
    isNotNull and sorts greater than every number in Spark, so without
    this every ECDF/bucket statistic silently absorbed the NaN rate
    (r12 review finding)."""
    c = F.col(alias or col)
    cond = c.isNotNull()
    # case-INSENSITIVE dtype lookup (r13 review finding,
    # execution-confirmed): Spark resolves column names
    # case-insensitively by default, so `ks_drift(df, "score")` against
    # a column declared `Score double` resolved the column fine while
    # the exact-string dict lookup returned None — silently skipping
    # the ~isnan filter and re-opening the NaN-inflation bug this
    # helper exists to close
    dtypes_ci = {k.lower(): v for k, v in df.dtypes}
    if dtypes_ci.get(col.lower()) in ("double", "float"):
        cond = cond & ~F.isnan(c)
    return cond


def baseline_quantile_bucket(
    baseline: DataFrame,
    value_col: str,
    bins: int,
    relative_error: float,
):
    """(edges, bucket_expr) — THE frozen-baseline-quantile bucketing
    shared by the batch monitor (:func:`binned_numeric_drift`) and the
    streaming one (``windowed_numeric_psi_stream``). One definition
    because the two hand-copies had already diverged — the
    relative_error guard landed in only one of them (r12 review
    finding). ``bucket_expr`` routes NULL AND NaN to bucket -1 (a
    missing-ish value is not 'greater than every edge') and counts
    edges strictly below the value otherwise; duplicate/degenerate
    edges collapse naturally. ``bins`` is bounded: the bucket
    expression is a bins-deep when-chain, and an unbounded value builds
    a pathologically deep Catalyst tree (codegen fallback, ultimately
    StackOverflow) instead of failing fast."""
    if not 2 <= bins <= 10_000:
        raise ValueError(f"bins must be in [2, 10000], got {bins}")
    if not 0 < relative_error <= 1.0:
        # > 1 passed a bare positivity check and died inside
        # percentile_approx with an unrelated 'accuracy must be greater
        # than 0' (int(1/relative_error) == 0)
        raise ValueError(
            f"relative_error must be in (0, 1], got {relative_error}"
        )
    qs = [i / bins for i in range(1, bins)]
    edges_row = baseline.where(_finite_cond(baseline, value_col)).agg(
        F.percentile_approx(
            F.col(value_col), F.lit(qs), F.lit(int(1.0 / relative_error))
        ).alias("edges")
    ).first()
    edges = [float(e) for e in (edges_row["edges"] or []) if e is not None]
    if not edges:
        raise ValueError(f"baseline has no non-null values in {value_col}")
    # bucket_expr is applied to OTHER frames too (df_b in
    # binned_numeric_drift, the stream in windowed_numeric_psi_stream)
    # whose dtype may differ from the baseline's: derive the NaN rule
    # from the VALUE, not the baseline's dtype — cast to double and
    # isnan unconditionally (isnan over a cast-to-double int column is
    # always false), so a float frame compared against an integral
    # baseline routes its NaN rows to bucket -1 instead of sorting them
    # above every edge into the top bucket (r13 ADVICE item). The cast
    # is also what `v > lit(double)` implied already — no comparison
    # semantics change.
    v = F.col(value_col).cast("double")
    bucket = F.lit(0)
    for e in edges:
        bucket = bucket + F.when(v > F.lit(e), 1).otherwise(0)
    finite = v.isNotNull() & ~F.isnan(v)
    bucket = F.when(~finite, F.lit(-1)).otherwise(bucket)
    return edges, bucket


def _two_level_cumsum(
    per_value: DataFrame,
    value_col: str,
    partitions: int,
    group_cols=(),
    with_totals: bool = False,
    max_offset_groups: int = 100_000,
):
    """THE prefix sum of the drift and evaluation families: exact
    inclusive cumulative sums of cnt_a / cnt_b in ``value_col`` order
    (restarting per ``group_cols`` key) without a global single-task
    window: range-partition on (group..., value), a local window inside
    each (partition, group), and broadcast prefix offsets collected as
    one row per (partition, group).

    Returns (group..., value_col, cnt_a, cnt_b, cum_a, cum_b).
    ``with_totals=True`` returns ``(cums, n_a, n_b)`` — the grand
    totals fall out of the per-partition offsets collected here anyway,
    so a caller that needs them (ks_drift's side totals) skips its own
    separate aggregation job over the input (r14 opt round, guide §5
    driver/job-count).

    With group keys the collected offsets are O(partitions + groups)
    rows, so the distinct-group count is checked first and the call
    refuses above ``max_offset_groups`` with the remedy named, instead
    of dying in an unexplained driver OOM. Group keys must be hashable
    driver-side: complex types are refused before any job runs (they
    threw a TypeError AFTER the cluster work — r12 review finding), and
    NULL keys are legitimate slices, matched null-safely."""
    group_cols = list(group_cols)
    dtypes = dict(per_value.dtypes)
    for c in group_cols:
        if dtypes[c].startswith(("array", "map", "struct")):
            raise ValueError(
                f"group column {c!r} has complex type {dtypes[c]} — the "
                "per-(partition, group) offset accumulation needs hashable "
                "scalar keys; cast or serialize the column first"
            )
    ranged = per_value.repartitionByRange(
        partitions, *group_cols, value_col
    ).withColumn("__pid", F.spark_partition_id())
    ranged = pin(ranged, "_two_level_cumsum:ranged", eager=False)

    w_local = (
        Window.partitionBy("__pid", *group_cols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumns({
        "loc_a": F.sum("cnt_a").over(w_local),
        "loc_b": F.sum("cnt_b").over(w_local),
    })

    if group_cols:
        # runs on the checkpointed reduced relation, so the input is
        # scanned once for the guard and the collect below
        n_groups = ranged.select(*group_cols).distinct().count()
        if n_groups > max_offset_groups:
            raise ValueError(
                f"grouped_auc: {n_groups} distinct groups exceeds "
                f"max_offset_groups={max_offset_groups}; the per-(partition,"
                " group) prefix offsets are collected to the driver, which is"
                " sized for slice-style keys (language, source), not"
                " per-entity keys. Aggregate the key first (e.g. bucket"
                " domains), filter to the slices you report on, or raise"
                " max_offset_groups if the driver has the memory."
            )
    # per-(partition, group) totals: parameter-sized
    totals = (
        ranged.groupBy("__pid", *group_cols)
        .agg(F.sum("cnt_a").alias("ta"), F.sum("cnt_b").alias("tb"))
        .collect()
    )
    # running offsets per group in pid order (range partitioning makes
    # pid order == value order within a group). The dict key canonicalizes
    # NaN: Spark's groupBy/joins treat NaN as equal to NaN, but each
    # collected Row yields a fresh nan (nan != nan), so a NaN slice got
    # offset 0 after its first partition — a silently wrong AUC (r13
    # review finding). The emitted offset row keeps the real float.
    acc: dict = {}
    offsets = []
    for r in sorted(totals, key=lambda r: r["__pid"]):
        key = tuple(
            "__nan__" if isinstance(r[c], float) and math.isnan(r[c]) else r[c]
            for c in group_cols
        )
        off_a, off_b = acc.get(key, (0, 0))
        offsets.append((r["__pid"], *(r[c] for c in group_cols), off_a, off_b))
        acc[key] = (off_a + (r["ta"] or 0), off_b + (r["tb"] or 0))

    schema = ", ".join(
        ["__pid int"] + [f"`{c}` {dtypes[c]}" for c in group_cols]
        + ["off_a long", "off_b long"]
    )
    off_df = per_value.sparkSession.createDataFrame(offsets, schema).withColumnsRenamed(
        {"__pid": "__o_pid", **{c: f"__o_{c}" for c in group_cols}}
    )
    cond = F.col("__pid") == F.col("__o_pid")
    for c in group_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__o_{c}"))
    cums = local.join(F.broadcast(off_df), cond).select(
        *group_cols,
        value_col,
        "cnt_a",
        "cnt_b",
        (F.col("loc_a") + F.col("off_a")).alias("cum_a"),
        (F.col("loc_b") + F.col("off_b")).alias("cum_b"),
    )
    if with_totals:
        return cums, sum(a for a, _ in acc.values()), sum(b for _, b in acc.values())
    return cums


def ks_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    partitions: int | None = None,
) -> DataFrame:
    """Exact two-sample KS statistic → one row
    (n_a, n_b, ks_stat, ks_at_value).

    ``ks_at_value`` is the largest value where the ECDF gap attains its
    maximum (deterministic tie-break) — the "where did it move"
    diagnostic. Nulls AND NaNs are excluded on both sides (an ECDF is
    undefined over them — r12 review finding: NaN passed isNotNull and,
    sorting greater than every number, inflated the statistic by the
    NaN-rate difference); use :func:`categorical_drift` on an
    is-null/is-nan indicator to watch missingness drift. The ECDFs
    come from :func:`_two_level_cumsum`, the one prefix sum the AUC
    finishers (``evaluation._auc_finish``) share."""
    if partitions is None:
        partitions = df_a.sparkSession.sparkContext.defaultParallelism
    a = df_a.select(F.col(value_col).alias("v")).where(_finite_cond(df_a, value_col, "v"))
    b = df_b.select(F.col(value_col).alias("v")).where(_finite_cond(df_b, value_col, "v"))
    tagged = a.withColumn("__is_a", F.lit(1)).unionByName(
        b.withColumn("__is_a", F.lit(0))
    )
    # lazy checkpoint: _two_level_cumsum's ranged relation and its
    # sampling pass both consume this reduced relation — without it
    # the union+groupBy over both corpora ran twice per call (r12
    # review finding)
    per_value = pin(tagged.groupBy("v").agg(
        F.sum("__is_a").alias("cnt_a"),
        F.sum(1 - F.col("__is_a")).alias("cnt_b"),
    ), "ks_drift:per_value", eager=False)
    # side totals as driver scalars (two numbers), folded in as
    # literals — never an all-rows window (that would be one task), and
    # not a separate aggregation job either: they fall out of the
    # per-partition offsets the cumsum collects anyway (r14 opt round —
    # one full job removed per watched numeric column)
    cums, n_a, n_b = _two_level_cumsum(per_value, "v", partitions, with_totals=True)
    n_a, n_b = int(n_a), int(n_b)
    if n_a == 0 or n_b == 0:
        raise ValueError(f"ks_drift needs non-empty sides, got n_a={n_a}, n_b={n_b}")
    gap = cums.select(
        "v",
        F.abs(F.col("cum_a") / F.lit(n_a) - F.col("cum_b") / F.lit(n_b)).alias("gap"),
    )
    # max(struct(gap, v)): the statistic plus, on ties, the largest
    # attaining value — one map-side-combinable aggregation
    best = F.max(F.struct(F.col("gap"), F.col("v")))
    return gap.agg(
        F.lit(n_a).alias("n_a"),
        F.lit(n_b).alias("n_b"),
        F.round(best.getField("gap"), 9).alias("ks_stat"),
        best.getField("v").alias("ks_at_value"),
    )


def categorical_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    category_col: str,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-category drift → one row
    (n_categories, psi, chi2_stat, top_mover, top_mover_psi).

    PSI = Σ (p_a - p_b) · ln(p_a / p_b) with proportions smoothed by
    ``eps`` so one-sided categories stay finite (the standard
    monitoring convention: PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25
    major shift). chi2 is the Pearson statistic of the a-side counts
    against b-side expected proportions. NULL is a category of its own
    (null-rate drift is drift)."""
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    a = df_a.select(F.col(category_col).alias("c")).withColumn("__is_a", F.lit(1))
    b = df_b.select(F.col(category_col).alias("c")).withColumn("__is_a", F.lit(0))
    # lazy checkpoint: three consumers (totals, top-mover subplan, the
    # final agg) each re-ran the union+groupBy over both corpora (r12
    # review finding)
    counts = pin(
        a.unionByName(b)
        .groupBy("c")
        .agg(
            F.sum("__is_a").alias("cnt_a"),
            F.sum(1 - F.col("__is_a")).alias("cnt_b"),
        ),
        "categorical_drift:counts", eager=False,
    )
    n_a, n_b = counts.agg(F.sum("cnt_a"), F.sum("cnt_b")).first()
    n_a, n_b = int(n_a or 0), int(n_b or 0)
    if n_a == 0 or n_b == 0:
        raise ValueError(f"categorical_drift needs non-empty sides, got n_a={n_a}, n_b={n_b}")

    pa = F.col("cnt_a") / F.lit(n_a) + F.lit(eps)
    pb = F.col("cnt_b") / F.lit(n_b) + F.lit(eps)
    per_cat = counts.select(
        "c",
        ((pa - pb) * F.log(pa / pb)).alias("psi_term"),
        # Pearson: (observed_a - expected_a)^2 / expected_a with
        # expected from the b-side proportions (smoothed likewise)
        (
            F.pow(F.col("cnt_a") - pb * F.lit(n_a), F.lit(2.0)) / (pb * F.lit(n_a))
        ).alias("chi2_term"),
    )
    top = per_cat.orderBy(F.desc("psi_term"), F.asc_nulls_last("c")).limit(1).select(
        F.col("c").alias("top_mover"), F.round("psi_term", 9).alias("top_mover_psi")
    )
    agg = per_cat.agg(
        F.count("*").alias("n_categories"),
        F.round(F.sum("psi_term"), 9).alias("psi"),
        F.round(F.sum("chi2_term"), 6).alias("chi2_stat"),
    )
    return agg.join(F.broadcast(top), how="cross")


def drift_report(
    df_a: DataFrame,
    df_b: DataFrame,
    numeric_cols: list[str] | None = None,
    categorical_cols: list[str] | None = None,
    psi_threshold: float = 0.25,
    ks_threshold: float = 0.1,
    numeric_mode: str = "exact",
    bins: int = 10,
) -> DataFrame:
    """One row per watched column:
    (column, kind, statistic, value, flagged).

    ``numeric_mode="exact"`` scores numeric columns with the exact KS
    statistic; ``"binned"`` uses :func:`binned_numeric_drift` (baseline-
    quantile PSI — the monitoring-loop shape, judged against
    ``psi_threshold``). The loop is over the COLUMN LIST
    (parameter-sized), not data — each iteration contributes one
    single-row subplan and the union of K single-row relations is
    trivially cheap."""
    if not numeric_cols and not categorical_cols:
        raise ValueError("drift_report needs at least one column to watch")
    if numeric_mode not in ("exact", "binned"):
        raise ValueError(f"numeric_mode must be 'exact' or 'binned', got {numeric_mode!r}")
    spark = df_a.sparkSession

    def _numeric(col: str) -> DataFrame:
        if numeric_mode == "binned":
            return binned_numeric_drift(df_a, df_b, col, bins=bins).select(
                F.lit(col).alias("column"),
                F.lit("numeric").alias("kind"),
                F.lit("psi_binned").alias("statistic"),
                F.col("psi").alias("value"),
                (F.col("psi") > psi_threshold).alias("flagged"),
            )
        return ks_drift(df_a, df_b, col).select(
            F.lit(col).alias("column"),
            F.lit("numeric").alias("kind"),
            F.lit("ks").alias("statistic"),
            F.col("ks_stat").alias("value"),
            (F.col("ks_stat") > ks_threshold).alias("flagged"),
        )

    def _categorical(col: str) -> DataFrame:
        return categorical_drift(df_a, df_b, col).select(
            F.lit(col).alias("column"),
            F.lit("categorical").alias("kind"),
            F.lit("psi").alias("statistic"),
            F.col("psi").alias("value"),
            (F.col("psi") > psi_threshold).alias("flagged"),
        )

    # each column's subplan CONSTRUCTION runs driver actions (exact-KS
    # totals + prefix offsets, binned quantiles, category props), so a
    # sequential loop serializes ~3 small jobs per column; building the
    # subplans concurrently overlaps them — measured 3× on a 3-component
    # embedding report. The assembled relation is identical: thunks are
    # ordered, only their construction interleaves.
    parts = overlap(
        [partial(_numeric, c) for c in numeric_cols or []]
        + [partial(_categorical, c) for c in categorical_cols or []]
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def ks_p_value(ks_stat: float, n_a: int, n_b: int, terms: int = 100) -> float:
    """Asymptotic two-sample KS p-value (Smirnov's series) — a driver-
    side scalar helper for interpreting :func:`ks_drift` output; kept
    out of the plan because it consumes the single aggregated row."""
    if not 0.0 <= ks_stat <= 1.0:
        raise ValueError(f"ks_stat must be in [0, 1], got {ks_stat}")
    if n_a < 1 or n_b < 1:
        raise ValueError("need n_a, n_b >= 1")
    en = math.sqrt(n_a * n_b / (n_a + n_b))
    lam = (en + 0.12 + 0.11 / en) * ks_stat
    if lam <= 0:
        return 1.0
    s = 0.0
    for k in range(1, terms + 1):
        s += (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
    return max(0.0, min(1.0, 2.0 * s))


def binned_numeric_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    bins: int = 10,
    eps: float = 1e-6,
    relative_error: float = 0.001,
) -> DataFrame:
    """Sketch-path numeric drift → one row
    (n_a, n_b, n_bins, psi, ks_lower_bound).

    The exact :func:`ks_drift` shuffles the distinct-value relation —
    linear and parallel, but for continuous doubles that relation is
    row-sized. This is the monitoring-loop variant: bin edges are the
    BASELINE's ``bins``-quantiles (one `approx_percentile` sketch
    aggregation — mergeable, KB-sized state), both sides then reduce to
    ``bins + 2`` bucket counts via arithmetic bucketing and the PSI
    formula runs over that parameter-sized relation. Edges freeze at
    baseline time, the same convention as the categorical monitor and
    :func:`windowed_psi_stream`; NULLs AND NaNs get their own bucket (-1)
    — the bucketing rule is shared with the streaming monitor via
    :func:`baseline_quantile_bucket`.

    ``ks_lower_bound`` is the largest |cumulative (p_a − p_b)| over the
    value-ordered non-null bins with non-null totals — a provable lower
    bound on :func:`ks_drift`'s exact statistic (each bin edge is a real
    value threshold), so it composes with the same thresholds.
    """
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    # edges + NULL/NaN-to-bucket(-1) rule shared with the streaming
    # monitor (r12: the hand-copies had diverged); bins and
    # relative_error validate in the helper
    _edges, bucket = baseline_quantile_bucket(
        df_a, value_col, bins, relative_error
    )

    def counted(df: DataFrame, name: str) -> DataFrame:
        return df.select(bucket.alias("bucket")).groupBy("bucket").agg(
            F.count("*").alias(name)
        )

    # lazy checkpoint: the totals .first() and the returned plan both
    # consume the parameter-sized counts relation — without it the two
    # corpus groupBys re-ran per consumer (r12 review finding)
    counts = pin(counted(df_a, "cnt_a").join(counted(df_b, "cnt_b"), "bucket", "full_outer").select(
        "bucket",
        F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
        F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
    ), "binned_numeric_drift:counts", eager=False)
    # ONE totals job for all four scalars (overall + non-null) instead
    # of two separate aggregation jobs (r12 review finding)
    nn_a = F.when(F.col("bucket") >= 0, F.col("cnt_a")).otherwise(F.lit(0))
    nn_b = F.when(F.col("bucket") >= 0, F.col("cnt_b")).otherwise(F.lit(0))
    tot = counts.agg(
        F.sum("cnt_a"), F.sum("cnt_b"), F.sum(nn_a), F.sum(nn_b)
    ).first()
    n_a, n_b = int(tot[0] or 0), int(tot[1] or 0)
    na_nn, nb_nn = int(tot[2] or 0), int(tot[3] or 0)
    if n_a == 0 or n_b == 0:
        raise ValueError(f"binned_numeric_drift needs non-empty sides, got n_a={n_a}, n_b={n_b}")
    pa = F.col("cnt_a") / F.lit(n_a) + F.lit(eps)
    pb = F.col("cnt_b") / F.lit(n_b) + F.lit(eps)
    # the binned KS lower bound is the max |CUMULATIVE (p_a - p_b)| over
    # value-ordered NON-NULL bins with proportions over the NON-NULL
    # totals (matching ks_drift's domain): each bin edge is a real value
    # threshold, so the binned CDF gap there equals the exact CDF gap at
    # that point and can never exceed the exact supremum. A per-bin gap
    # does not have this property — mass moving from bins 1 and 3 into
    # bin 2 gives per-bin gaps of 1.0 against a true KS of 0.5. The
    # window is over <= bins+2 rows (parameter-sized), so the
    # single-task sort is fine.
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum_gap = F.when(
        (F.col("bucket") >= 0) & F.lit(na_nn > 0 and nb_nn > 0),
        F.abs(
            F.sum(
                F.when(
                    F.col("bucket") >= 0,
                    F.col("cnt_a") / F.lit(max(na_nn, 1))
                    - F.col("cnt_b") / F.lit(max(nb_nn, 1)),
                ).otherwise(0.0)
            ).over(w_cum)
        ),
    )
    per_bin = counts.select(
        "bucket",
        ((pa - pb) * F.log(pa / pb)).alias("psi_term"),
        cum_gap.alias("cum_gap"),
    )
    return per_bin.agg(
        F.lit(n_a).alias("n_a"),
        F.lit(n_b).alias("n_b"),
        F.count("*").alias("n_bins"),
        F.round(F.sum("psi_term"), 9).alias("psi"),
        F.round(F.max("cum_gap"), 9).alias("ks_lower_bound"),
    )


def embedding_drift_report(
    emb_base: DataFrame,
    emb_cur: DataFrame,
    k: int = 4,
    ks_threshold: float = 0.1,
    vec_col: str = "embedding",
    model: dict | None = None,
) -> DataFrame:
    """Distribution drift between two EMBEDDING corpora — did the
    vectors a model (or a frozen dedup/IVF quantizer) was fit on still
    look like what's arriving? Raw high-dimensional KS is meaningless;
    the standard monitoring move is to project both corpora onto the
    BASELINE's top-``k`` principal components (fit once on the baseline
    — the distribution being protected, same frozen-quantizer contract
    as the index family) and score the exact two-sample KS per
    component. A mean shift, variance collapse, or new mode in any
    retained direction shows up as a flagged component; drift in a
    direction PCA discarded is invisible, which is the documented
    tradeoff of every projected drift monitor.

    Returns one row per component: (column='pc<i>', kind='numeric',
    statistic='ks', value, flagged) — the same shape as
    :func:`drift_report`, so downstream alerting is shared. Cost: one
    PCA fit on the baseline (one Arrow pass + O(d²) combine), one
    map-only projection per side, k exact-KS subplans. A monitoring
    loop that scores every arriving snapshot against one frozen
    baseline should fit once and pass ``model`` (a :func:`fit_pca`
    result with >= k components) — the build-vs-probe split.
    """
    from mwas_rfam_spark.operators.decomposition import fit_pca, pca_project

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if model is None:
        model = fit_pca(emb_base.where(F.col(vec_col).isNotNull()), k, vec_col=vec_col)
    elif len(model["components"]) < k:
        raise ValueError(
            f"model has {len(model['components'])} components, need >= {k}"
        )
    else:
        # variance-descending order makes the top-k slice THE k-model
        model = {"mean": model["mean"], "components": model["components"][:k]}
    cols = [f"pc{i}" for i in range(k)]

    def proj(df):
        p = pca_project(
            df.where(F.col(vec_col).isNotNull()), model, vec_col=vec_col, out_col="__p"
        )
        # pinned: drift_report builds an independent KS subplan per
        # component, each of which would otherwise re-scan the corpus
        # and recompute the d-dimensional projection — k-fold redundant
        return pin(p.select(
            *[F.col("__p")[i].alias(c) for i, c in enumerate(cols)]
        ), "embedding_drift_report:projected")

    return drift_report(
        proj(emb_base),
        proj(emb_cur),
        numeric_cols=cols,
        categorical_cols=[],
        ks_threshold=ks_threshold,
        numeric_mode="exact",
    )
