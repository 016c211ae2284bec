"""Distributed binary-classifier evaluation — exact, no sklearn.

The quality-model workflow (`selection.score_quality_linear`,
`curation.curate_corpus(quality_model_weights=...)`) gates corpora on a
classifier score; before anyone trusts a threshold at 100 TB they need
the score EVALUATED against labels at the same scale. sklearn's
`roc_auc_score` collects everything to one machine; every statistic
here is a Spark plan over rank/aggregate primitives, exact (not
sampled), and cross-engine replayable in plain SQL:

- AUC via the Mann–Whitney probability form with the standard
  midrank tie handling: AUC = P(s⁺ > s⁻) + ½·P(s⁺ = s⁻)
  = Σ_s pos(s)·(neg_below(s) + ½·neg_at(s)) / (n⁺·n⁻), computed over
  the per-DISTINCT-SCORE counts with the drift module's two-level
  prefix sum (`drift._two_level_cumsum`: range partition + local
  window + broadcast offsets) — NOT an unpartitioned rank window,
  which Spark executes as one task holding every row. Equal to the
  trapezoidal ROC area with ties handled the way scipy/sklearn
  handle them (the midrank identity is pytest-pinned against the
  rank-sum reference).
- precision / recall / F1 at caller thresholds: one conditional
  aggregate per confusion cell, all thresholds in ONE pass (no
  per-threshold jobs).
- calibration: equal-width score bins → (mean predicted, observed
  positive rate, count) per bin, plus ECE (expected calibration
  error, the count-weighted |gap| sum). One aggregate pass.

Reference scope note: the MWAS reference repo has no evaluation layer;
this extends the engine's training-data surface (cited convention:
SURVEY.md §2 extensions table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..pinning import pin


def binary_auc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    partitions: int | None = None,
) -> DataFrame:
    """Exact ROC AUC → one row (auc, n_pos, n_neg, n_null).

    Midrank tie handling, identical to sklearn's trapezoidal
    `roc_auc_score` incl. ties. NULL or NaN scores and NULL labels are
    excluded and counted in n_null (a silent drop would bias the
    estimate invisibly; letting NaN through would be worse — Spark
    sorts NaN greater than every number, so it would silently rank as
    the top score where sklearn raises).

    Scale shape: the corpus reduces to per-DISTINCT-SCORE (pos, neg)
    counts in one map-side-combinable aggregate; the cumulative
    negatives come from the drift module's two-level prefix sum (range
    partition + LOCAL window + broadcast per-partition offsets), so no
    stage ever holds all rows in one task — the naive
    `rank().over(Window.orderBy(score))` formulation does exactly
    that (Spark's "No Partition Defined for Window" single-partition
    execution) and is the reason this isn't written as a rank window.
    Degenerate inputs (single-class) return NULL auc rather than
    raising — a monitoring pipeline must survive an all-negative
    batch."""
    if partitions is None:
        partitions = scored.sparkSession.sparkContext.defaultParallelism
    # ONE corpus scan reduced to per-distinct-score counts; the
    # parameter-sized result is lazily checkpointed because three
    # consumers (cumsum, contrib join, null row) would otherwise each
    # re-run the corpus aggregate
    per_s = pin(per_score_counts(scored, score_col, label_col), "binary_auc:counts", eager=False)
    return auc_from_score_counts(
        per_s, partitions=partitions, assume_folded=True
    )


def per_score_counts(
    scored: DataFrame, score_col: str = "score", label_col: str = "label"
) -> DataFrame:
    """Per-DISTINCT-SCORE (v, cnt_a, cnt_b, cnt_null) counts — the
    corpus-scan stage of :func:`binary_auc`, public because the counts
    are LINEAR: they sum across corpus slices and micro-batches, so
    exact AUC state can be maintained incrementally
    (:func:`streaming.requests.streaming_eval_counts`) and finished by
    :func:`auc_from_score_counts` without re-touching rows. Invalid
    rows (NULL/NaN score or NULL label) fold into a dedicated v-NULL
    group — a valid row's score is never NULL, so the group is
    unambiguous."""
    # thin wrapper over the grouped twin with group_cols=[] — ONE
    # implementation of the invalid-row folding rule (r12 review
    # finding: the two bodies were line-for-line copies; the r11 fold
    # fix had to be applied to both AUC finishers for the same reason)
    return grouped_per_score_counts(
        scored, [], score_col, label_col, track_invalid=True
    )


def auc_from_score_counts(
    per_s: DataFrame,
    partitions: int | None = None,
    assume_folded: bool = False,
) -> DataFrame:
    """Midrank AUC from a per-DISTINCT-SCORE counts relation
    (v, cnt_a, cnt_b[, cnt_null]) — the second stage of
    :func:`binary_auc`, public because these counts are LINEAR (they
    sum across corpus slices / micro-batches), which makes exact AUC
    computable over any pre-aggregated or streamed state
    (:func:`streaming.requests.streaming_eval_counts`) without ever
    re-touching the rows. Rows with v IS NULL carry the invalid
    (NULL/NaN score or NULL label) tally in cnt_null. Always exactly
    one row (auc, n_pos, n_neg, n_null); empty or all-invalid counts
    give a NULL auc and zero class counts. The cumulative negatives
    come from ``drift._two_level_cumsum``, the prefix sum ks_drift and
    the grouped finisher share.

    Because the counts sum linearly, the input need NOT be pre-folded
    to one row per distinct score: duplicate v rows (a raw multi-batch
    state union) are folded HERE first — without the fold the prefix
    sum would treat each duplicate as a separate distinct score,
    silently mis-ranking every tie (r11 review finding).
    ``assume_folded=True`` skips that aggregate as a pure optimization
    for callers that just produced exactly-folded counts
    (:func:`binary_auc`, the state readers)."""
    return _auc_finish(per_s, [], partitions, assume_folded)


def threshold_report(
    scored: DataFrame,
    thresholds: list[float],
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Confusion-matrix metrics at each threshold, ALL in one aggregate
    pass → (threshold, tp, fp, fn, tn, precision, recall, f1,
    selected_frac). Prediction rule: score >= threshold. NULL/NaN
    score and NULL label rows are excluded (see `binary_auc`).
    Empty-cell precision/recall are NULL, not 0/0 errors."""
    return _threshold_cells(scored, [], thresholds, score_col, label_col)


def grouped_threshold_report(
    scored: DataFrame,
    group_cols: list[str],
    thresholds: list[float],
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Per-slice confusion metrics — :func:`threshold_report`'s grouped
    twin (r10 carry-over stretch; the third grouped twin after
    grouped_auc / grouped_calibration_report): one row per
    (group..., threshold), the fairness/ops question "does the
    production threshold select the same fraction, at the same
    precision, on every language/source?" in ONE aggregate pass
    instead of a driver loop over filters.

    Scale shape: like the calibration twin this needs NO prefix sums,
    NO window, and NO driver-side offsets — every confusion cell is a
    map-side-combinable conditional SUM, so the whole relation is one
    groupBy(group...) over ≤ n_groups × n_thresholds output rows that
    stays distributed end to end. NULL/NaN scores and NULL labels are
    excluded per group (the family's shared exclusion rule); NULL
    group values are legitimate slices and kept. Per-group ==
    ungrouped-on-the-slice is pytest-pinned via the shared body."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use threshold_report)")
    return _threshold_cells(scored, group_cols, thresholds, score_col, label_col)


def _threshold_cells(
    scored: DataFrame,
    group_cols: list[str],
    thresholds: list[float],
    score_col: str,
    label_col: str,
) -> DataFrame:
    """The ONE confusion aggregation both the ungrouped and grouped
    reports run (the `_calibration_binned` convention — prediction
    rule, exclusion rule, and empty-cell NULL semantics live here
    exactly once)."""
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    s = F.col(score_col).cast("double")
    # ONE label rule family-wide (r13 review finding): try_cast, then
    # post-cast-NULL rows are invalid. The old pre-cast isNotNull filter
    # plus a plain cast (a) threw CAST_INVALID_INPUT under ANSI on a
    # NaN/uncastable label instead of excluding the row, and (b) with
    # ANSI off counted an uncastable label ('unknown') as a NEGATIVE
    # here while the counts family excluded it — breaking the pinned
    # row-level == from-counts equality.
    yc = F.col(label_col).try_cast("int")
    y = F.when(yc > 0, 1).otherwise(0)
    valid = scored.where(
        s.isNotNull() & ~F.isnan(s) & yc.isNotNull()
    ).select(
        *group_cols, s.alias("__s"), y.alias("__y")
    )
    aggs = []
    for i, t in enumerate(thresholds):
        pred = (F.col("__s") >= F.lit(float(t))).cast("int")
        aggs += [
            F.sum(pred * F.col("__y")).alias(f"tp{i}"),
            F.sum(pred * (1 - F.col("__y"))).alias(f"fp{i}"),
            F.sum((1 - pred) * F.col("__y")).alias(f"fn{i}"),
            F.sum((1 - pred) * (1 - F.col("__y"))).alias(f"tn{i}"),
        ]
    row = valid.groupBy(*group_cols).agg(*aggs)
    return _threshold_metrics(row, group_cols, thresholds)


def _threshold_metrics(
    row: DataFrame, group_cols: list[str], thresholds: list[float]
) -> DataFrame:
    """Explode the wide per-threshold cell columns (tp{i}/fp{i}/fn{i}/
    tn{i}) into the family's pinned (threshold, tp, fp, fn, tn,
    precision, recall, f1, selected_frac) rows — shared by the
    row-level cells and the counts-state reconstruction so the derived
    metrics and NULL-cell semantics cannot diverge."""
    per = [
        F.struct(
            F.lit(float(t)).alias("threshold"),
            F.col(f"tp{i}").alias("tp"),
            F.col(f"fp{i}").alias("fp"),
            F.col(f"fn{i}").alias("fn"),
            F.col(f"tn{i}").alias("tn"),
        )
        for i, t in enumerate(thresholds)
    ]
    exploded = row.select(
        *group_cols, F.explode(F.array(*per)).alias("m")
    ).select(
        *group_cols,
        "m.threshold",
        # empty/all-invalid input leaves the global aggregate's sums
        # NULL; the honest count is 0, not NULL — same convention
        # auc_from_score_counts pins for n_pos/n_neg (r12 review
        # finding, execution-confirmed on an all-NaN batch)
        *[F.coalesce(F.col(f"m.{c}"), F.lit(0)).alias(c) for c in ("tp", "fp", "fn", "tn")],
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))
    )
    rec = F.when(
        F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))
    )
    total = F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    return exploded.select(
        *group_cols,
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        prec.alias("precision"),
        rec.alias("recall"),
        # sklearn parity: a defined-but-zero precision AND recall is
        # f1 = 0.0 (the model got everything wrong), not NULL — NULL
        # stays reserved for undefined cells (r12 review finding; a
        # dashboard ranking by f1 silently dropped exactly the
        # worst-performing thresholds)
        F.when(prec + rec > 0, 2 * prec * rec / (prec + rec))
        .when(prec.isNotNull() & rec.isNotNull(), F.lit(0.0))
        .alias("f1"),
        # guard: with the cells coalesced to 0 an empty input would hit
        # 0/0 (ANSI throw) — NULL is the honest fraction of nothing
        F.when(total > 0, (F.col("tp") + F.col("fp")) / total).alias(
            "selected_frac"
        ),
    )


def threshold_report_from_score_counts(
    per: DataFrame,
    thresholds: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Threshold confusion metrics RECONSTRUCTED from a per-(group...,)
    DISTINCT-score counts relation (:func:`per_score_counts` shape, or
    a ``streaming_eval_counts`` state dir's rows) — the prediction rule
    ``score >= threshold`` is a pure score function, so every confusion
    cell is an exact weighted sum over counts rows: tp(t) = Σ_{v≥t}
    cnt_a, fp(t) = Σ_{v≥t} cnt_b, fn/tn the complements. Same pinned
    columns and NULL-cell semantics as :func:`threshold_report` /
    :func:`grouped_threshold_report` (shared metric tail,
    pytest-pinned equality on the same rows). Counts need no pre-fold
    (sums are linear over duplicate v rows), so a raw multi-batch
    state union feeds this directly; v-NULL tally rows are the invalid
    rows the row-level report excludes. On a ``quantize=``-d state the
    report is that of the ROUNDED scores — a threshold inside a grid
    cell moves decisions by at most the cell's tie mass."""
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    gcols = list(group_cols or [])
    valid = per.where(F.col("v").isNotNull())
    aggs = []
    for i, t in enumerate(thresholds):
        sel = (F.col("v") >= F.lit(float(t))).cast("long")
        aggs += [
            F.sum(sel * F.col("cnt_a")).alias(f"tp{i}"),
            F.sum(sel * F.col("cnt_b")).alias(f"fp{i}"),
            F.sum((1 - sel) * F.col("cnt_a")).alias(f"fn{i}"),
            F.sum((1 - sel) * F.col("cnt_b")).alias(f"tn{i}"),
        ]
    row = valid.groupBy(*gcols).agg(*aggs)
    return _threshold_metrics(row, gcols, thresholds)


def calibration_report(
    scored: DataFrame,
    n_bins: int = 10,
    score_col: str = "score",
    label_col: str = "label",
    score_min: float = 0.0,
    score_max: float = 1.0,
) -> DataFrame:
    """Equal-width calibration bins over [score_min, score_max] →
    (bin, bin_lo, bin_hi, n, mean_score, pos_rate, gap). Scores at or
    past the edges clamp into the terminal bins (a sigmoid output can
    sit exactly at 1.0). One aggregate pass; ECE is
    Σ n_b/N · |gap_b| — compute it from the returned relation
    (`ece()` below does) so the per-bin table and the scalar can't
    disagree."""
    return _calibration_binned(
        scored, [], n_bins, score_col, label_col, score_min, score_max
    ).orderBy("bin")


def _bin_rule(s, n_bins: int, score_min: float, score_max: float):
    """The ONE equal-width bin rule every calibration surface shares
    (validation + terminal-bin clamp): returns (width, bin column for
    score expression ``s``). Extracted so the row-level reports and the
    counts-state reconstruction (:func:`calibration_from_score_counts`)
    cannot bin differently."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    if not score_max > score_min:
        raise ValueError("score_max must exceed score_min")
    width = (score_max - score_min) / n_bins
    # clamp in the DOUBLE domain BEFORE floor/cast: an out-of-range or
    # infinite score (raw pre-sigmoid output, exp overflow) made
    # floor()'s long conversion CAST_OVERFLOW under ANSI — aborting the
    # whole job instead of clamping into the terminal bin the docstring
    # promises (r12 review finding, execution-confirmed on 3e8 and +inf)
    ratio = (s - F.lit(score_min)) / F.lit(width)
    b = F.floor(
        F.least(F.lit(float(n_bins - 1)), F.greatest(F.lit(0.0), ratio))
    ).cast("int")
    return width, b


def calibration_from_score_counts(
    per: DataFrame,
    group_cols: list[str] | None = None,
    n_bins: int = 10,
    score_min: float = 0.0,
    score_max: float = 1.0,
) -> DataFrame:
    """Calibration report RECONSTRUCTED from a per-(group...,) DISTINCT-
    score counts relation (:func:`per_score_counts` /
    :func:`grouped_per_score_counts` shape, or a
    ``streaming_eval_counts`` state dir's rows) — same
    (group..., bin, bin_lo, bin_hi, n, mean_score, pos_rate, gap)
    columns as :func:`calibration_report` / the grouped twin, equal on
    the same rows (pytest-pinned): bins are a pure function of the
    score and every row behind a counts row has exactly score v, so
    n = Σ(cnt_a+cnt_b), mean_score = Σ v·(cnt_a+cnt_b)/n and
    pos_rate = Σ cnt_a/n per bin reproduce the row-level aggregate.
    The v-NULL tally rows are the invalid rows the row-level report
    excludes — excluded here too. Counts rows need not be pre-folded
    per distinct score (they sum linearly), so a multi-batch state dir
    feeds this directly. On a ``quantize=``-d state the report is the
    calibration of the ROUNDED scores — same ≤ half-grid-step
    mean_score perturbation the sink documents for AUC ties."""
    gcols = list(group_cols or [])
    width, b = _bin_rule(F.col("v"), n_bins, score_min, score_max)
    rel = (
        per.where(F.col("v").isNotNull())
        .select(
            *gcols,
            b.alias("bin"),
            F.col("v").alias("__v"),
            (F.col("cnt_a") + F.col("cnt_b")).alias("__n"),
            F.col("cnt_a").alias("__a"),
        )
        .groupBy(*gcols, "bin")
        .agg(
            F.sum("__n").alias("n"),
            (F.sum(F.col("__v") * F.col("__n")) / F.sum("__n")).alias(
                "mean_score"
            ),
            (F.sum("__a") / F.sum("__n")).alias("pos_rate"),
        )
        .select(
            *gcols,
            "bin",
            (F.lit(score_min) + F.col("bin") * width).alias("bin_lo"),
            (F.lit(score_min) + (F.col("bin") + 1) * width).alias("bin_hi"),
            "n",
            "mean_score",
            "pos_rate",
            (F.col("pos_rate") - F.col("mean_score")).alias("gap"),
        )
    )
    return rel.orderBy("bin") if not gcols else rel


def _calibration_binned(
    scored: DataFrame,
    group_cols: list[str],
    n_bins: int,
    score_col: str,
    label_col: str,
    score_min: float,
    score_max: float,
) -> DataFrame:
    """The ONE calibration aggregation both the ungrouped and grouped
    reports run — bin rule, terminal-bin clamp, and NULL/NaN exclusion
    live here exactly once, so the two surfaces cannot silently
    diverge (the per-group == ungrouped-on-the-slice pytest pins the
    equivalence)."""
    s = F.col(score_col).cast("double")
    # same unified try_cast label rule as _threshold_cells (r13)
    yc = F.col(label_col).try_cast("int")
    y = F.when(yc > 0, 1).otherwise(0)
    width, b = _bin_rule(s, n_bins, score_min, score_max)
    valid = scored.where(
        s.isNotNull() & ~F.isnan(s) & yc.isNotNull()
    )
    return (
        valid.select(*group_cols, b.alias("bin"), s.alias("__s"), y.alias("__y"))
        .groupBy(*group_cols, "bin")
        .agg(
            F.count("*").alias("n"),
            F.avg("__s").alias("mean_score"),
            F.avg("__y").alias("pos_rate"),
        )
        .select(
            *group_cols,
            "bin",
            (F.lit(score_min) + F.col("bin") * width).alias("bin_lo"),
            (F.lit(score_min) + (F.col("bin") + 1) * width).alias("bin_hi"),
            "n",
            "mean_score",
            "pos_rate",
            (F.col("pos_rate") - F.col("mean_score")).alias("gap"),
        )
    )


def ece(calibration: DataFrame) -> float:
    """Expected calibration error from a `calibration_report` relation
    (count-weighted mean |gap|). One tiny aggregate; returns 0.0 for an
    empty report."""
    row = calibration.agg(
        F.sum(F.col("n") * F.abs(F.col("gap"))).alias("w"),
        F.sum("n").alias("n"),
    ).collect()[0]
    return float(row["w"] / row["n"]) if row["n"] else 0.0


def grouped_auc(
    scored: DataFrame,
    group_cols: list[str],
    score_col: str = "score",
    label_col: str = "label",
    partitions: int | None = None,
    max_offset_groups: int = 100_000,
) -> DataFrame:
    """Per-slice exact AUC → one row per group (group_cols..., auc,
    n_pos, n_neg) — the fairness/QA question "is the quality model as
    good on lang=ko as on lang=en?" answered in ONE plan instead of a
    driver loop over filters.

    Same midrank arithmetic as :func:`binary_auc`, with the same
    no-single-task-window discipline: the per-(group, distinct score)
    counts are RANGE-partitioned on (group..., score), the cumulative
    negatives come from a window local to each (partition, group)
    slice, and per-(partition, group) totals — a parameter-sized
    relation (≤ partitions + number of groups rows: range partitioning
    keeps each group contiguous) — are collected once to compute the
    broadcast prefix offsets. A hot group with millions of distinct
    scores therefore spans MANY tasks instead of collapsing into one
    (`Window.partitionBy(group)` would hand the whole group's distinct
    scores to a single task — the per-group version of the wall
    binary_auc refuses). Single-class groups get NULL auc; NULL/NaN
    score and NULL label rows are excluded per group.

    DRIVER-SIDE BOUND: the offset relation is O(partitions + n_groups)
    rows collected to the driver — parameter-sized for dashboard-style
    slices (languages, sources) but NOT for a high-cardinality key
    (per-domain AUC over millions of domains). The group count is
    checked first (one cheap agg on the already-reduced per-score
    relation) and the call REFUSES above ``max_offset_groups`` with
    the remedy named, instead of dying in an unexplained driver OOM —
    the same cost-model move `dedup_clusters` makes with
    `local_threshold_edges`."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use binary_auc)")
    per = grouped_per_score_counts(
        scored, group_cols, score_col, label_col, track_invalid=False
    )
    return grouped_auc_from_score_counts(
        per,
        group_cols,
        partitions=partitions,
        max_offset_groups=max_offset_groups,
        include_null_counts=False,
        assume_folded=True,
    )


def grouped_per_score_counts(
    scored: DataFrame,
    group_cols: list[str],
    score_col: str = "score",
    label_col: str = "label",
    track_invalid: bool = True,
) -> DataFrame:
    """Per-(group..., DISTINCT score) (v, cnt_a, cnt_b, cnt_null)
    counts — :func:`per_score_counts`' grouped twin and the corpus-scan
    stage of :func:`grouped_auc`. Public for the same reason: the
    counts are LINEAR per group, so exact per-slice AUC state can be
    maintained incrementally (``streaming_eval_counts(group_cols=...)``)
    and finished by :func:`grouped_auc_from_score_counts` without
    re-touching rows. Invalid rows (NULL/NaN score or NULL label) fold
    into the group's dedicated v-NULL row; NULL GROUP values are
    legitimate slices and kept (groupBy keeps NULL keys).
    ``track_invalid=False`` drops invalid rows with a pre-aggregation
    filter instead (no v-NULL rows, no cnt_null column) — the
    :func:`grouped_auc` batch path takes it because it discards the
    null tally anyway, and the filter keeps the scan inside one
    codegen stage with no wasted aggregation over invalid rows.
    ``group_cols=[]`` is legal — :func:`per_score_counts` IS this
    function ungrouped (one shared body, r12)."""
    s = F.col(score_col).cast("double")
    # try_cast: an uncastable/NaN label is an INVALID row, not an ANSI
    # CAST_INVALID_INPUT abort (r13 review finding; monitoring must
    # survive dirty labels the way it survives NaN scores)
    y = F.col(label_col).try_cast("int")
    if not track_invalid:
        valid = scored.where(s.isNotNull() & ~F.isnan(s) & y.isNotNull())
        return valid.groupBy(*group_cols, s.alias("v")).agg(
            F.sum(F.when(y > 0, 1).otherwise(0)).alias("cnt_a"),
            F.sum(F.when(y > 0, 0).otherwise(1)).alias("cnt_b"),
        )
    base = scored.select(
        *group_cols,
        s.alias("__s"),
        F.when(y > 0, 1).otherwise(0).alias("__y"),
        (s.isNull() | F.isnan(s) | y.isNull()).alias("__null"),
    )
    return (
        base.groupBy(
            *group_cols, F.when(~F.col("__null"), F.col("__s")).alias("v")
        )
        .agg(
            F.sum(
                F.when(~F.col("__null") & (F.col("__y") == 1), 1).otherwise(0)
            ).alias("cnt_a"),
            F.sum(
                F.when(~F.col("__null") & (F.col("__y") == 0), 1).otherwise(0)
            ).alias("cnt_b"),
            F.sum(F.col("__null").cast("long")).alias("cnt_null"),
        )
    )


def grouped_auc_from_score_counts(
    per: DataFrame,
    group_cols: list[str],
    partitions: int | None = None,
    max_offset_groups: int = 100_000,
    include_null_counts: bool = True,
    assume_folded: bool = False,
) -> DataFrame:
    """Per-group midrank AUC from a per-(group..., DISTINCT score)
    counts relation (group..., v, cnt_a, cnt_b[, cnt_null]) — the
    second stage of :func:`grouped_auc`, public because the counts are
    LINEAR per group (they sum across corpus slices / micro-batches),
    which makes exact per-slice AUC computable over streamed or
    pre-aggregated state (``eval_state_grouped_auc``) without
    re-touching rows. Same range-partition + local-window +
    broadcast-offset discipline and the same ``max_offset_groups``
    driver-side cost guard as :func:`grouped_auc` (see its docstring).

    ``include_null_counts=True`` (the state-reader shape) adds an
    ``n_null`` column and KEEPS all-invalid groups (auc NULL, counts
    0 — a slice whose every score was NaN should show up in monitoring,
    not vanish); ``False`` (the :func:`grouped_auc` shape) drops the
    null tally and the all-invalid groups, preserving that surface's
    pinned schema and semantics.

    Like :func:`auc_from_score_counts`, duplicate (group..., v) rows —
    a raw multi-batch state union — are folded HERE by default: the
    local window's prefix sum would otherwise count each duplicate as a
    separate distinct score and silently mis-rank every tie (r11 review
    finding, empirically a 0.875→0.75 AUC corruption on a 2-batch
    union). ``assume_folded=True`` skips the fold for callers that just
    produced exactly-folded counts."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    return _auc_finish(
        per, group_cols, partitions, assume_folded, max_offset_groups,
        include_null_counts,
    )


def _auc_finish(
    per: DataFrame,
    group_cols: list[str],
    partitions: int | None,
    assume_folded: bool,
    max_offset_groups: int = 100_000,
    include_null_counts: bool = True,
) -> DataFrame:
    """The ONE midrank AUC finisher behind :func:`auc_from_score_counts`
    (``group_cols=[]``: always exactly one row) and
    :func:`grouped_auc_from_score_counts`: fold duplicate (group..., v)
    rows, run the drift module's prefix sum
    (``drift._two_level_cumsum``), sum the midrank contributions and
    coalesce the counts."""
    from mwas_rfam_spark.operators.drift import _two_level_cumsum

    if partitions is None:
        partitions = per.sparkSession.sparkContext.defaultParallelism
    if "cnt_null" not in per.columns:
        per = per.withColumn("cnt_null", F.lit(0).cast("long"))
    if not assume_folded:
        # the folded parameter-sized relation is consumed by the cumsum
        # input and the null tally — without the lazy pin
        # each re-runs the upstream scan+fold (the same reason
        # binary_auc checkpoints its counts — r12 review finding)
        per = pin(per.groupBy(*group_cols, "v").agg(
            F.sum("cnt_a").alias("cnt_a"),
            F.sum("cnt_b").alias("cnt_b"),
            F.sum("cnt_null").alias("cnt_null"),
        ), "_auc_finish:folded", eager=False)
    valid_per = per.where(F.col("v").isNotNull()).select(
        *group_cols, "v", "cnt_a", "cnt_b"
    )
    cums = _two_level_cumsum(
        valid_per, "v", partitions, group_cols, max_offset_groups=max_offset_groups
    )
    if include_null_counts:
        # the invalid tally joins the same aggregate, so an ALL-invalid
        # group still surfaces (auc NULL, counts 0) and a NULL group
        # value stays its own group
        cums = cums.unionByName(per.select(*group_cols, "cnt_null"), allowMissingColumns=True)
    # AUC = Σ_s pos(s)·(neg_below(s) + ½·neg_at(s)) / (n⁺·n⁻); the
    # inclusive cum_b minus half the at-score negatives is exactly
    # neg_below + ½·neg_at (the midrank identity)
    rel = cums.groupBy(*group_cols).agg(
        F.sum(
            F.col("cnt_a") * (F.col("cum_b") - F.col("cnt_b") / 2.0)
        ).alias("__u"),
        F.sum("cnt_a").alias("n_pos"),
        F.sum("cnt_b").alias("n_neg"),
        *([F.sum("cnt_null").alias("n_null")] if include_null_counts else []),
    )
    return rel.select(
        *group_cols,
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("__u") / (F.col("n_pos") * F.col("n_neg")),
        ).alias("auc"),
        # an all-invalid corpus or slice leaves the sums NULL; the
        # honest count is 0, not NULL
        F.coalesce(F.col("n_pos"), F.lit(0)).alias("n_pos"),
        F.coalesce(F.col("n_neg"), F.lit(0)).alias("n_neg"),
        *([F.coalesce(F.col("n_null"), F.lit(0)).alias("n_null")]
          if include_null_counts else []),
    )


def grouped_calibration_report(
    scored: DataFrame,
    group_cols: list[str],
    n_bins: int = 10,
    score_col: str = "score",
    label_col: str = "label",
    score_min: float = 0.0,
    score_max: float = 1.0,
) -> DataFrame:
    """Per-slice calibration — :func:`calibration_report`'s grouped
    twin (r8 verdict task #8): one row per (group..., bin) with the
    same (bin_lo, bin_hi, n, mean_score, pos_rate, gap) columns, the
    fairness/QA question "is the model as well-CALIBRATED on lang=ko
    as on lang=en?" in ONE aggregate pass instead of a driver loop.

    Scale shape: unlike :func:`grouped_auc` this needs NO prefix sums
    and NO driver-side offsets — bins are a pure function of the score,
    so the whole statistic is one map-side-combinable
    groupBy(group..., bin) over ≤ n_groups × n_bins output rows. No
    window, no collect, no cardinality guard needed (the output is the
    only group-sized thing and it stays distributed). NULL/NaN scores
    and NULL labels are excluded per group (same exclusion rule as
    every evaluation surface here — Spark would otherwise rank/bin NaN
    silently); NULL group values are legitimate slices and kept
    (groupBy keeps NULL keys). Scores at or past the edges clamp into
    the terminal bins, identical to the ungrouped report —
    per-group-equals-ungrouped-on-the-slice is pytest-pinned."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use calibration_report)")
    return _calibration_binned(
        scored, group_cols, n_bins, score_col, label_col, score_min, score_max
    )


def grouped_ece(calibration: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-group expected calibration error from a
    :func:`grouped_calibration_report` relation → (group_cols..., ece,
    n). The scalar is DERIVED from the same relation the per-bin table
    comes from (the :func:`ece` convention: table and scalar cannot
    disagree), and stays a DataFrame — no collect, so a million-group
    report aggregates distributed and the caller decides what to
    materialize."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use ece)")
    return (
        calibration.groupBy(*group_cols)
        .agg(
            F.sum(F.col("n") * F.abs(F.col("gap"))).alias("__w"),
            F.sum("n").alias("n"),
        )
        .select(
            *group_cols,
            F.when(F.col("n") > 0, F.col("__w") / F.col("n")).alias("ece"),
            "n",
        )
    )
