"""The MWAS pipeline (SURVEY.md §3.1) as one lazy DataFrame plan.

Reference lifecycle (main/mwas_general.py:549-679, 452-546, 344-449):
input CSV → catalog join → RPM → per-(bioproject, group) dense vectors →
per-set cohort split loop → Welch t / permutation test → CSV rows.

Spark-first re-expression, designed for the 100 TB case:

* **No dense positional vectors.** The reference preallocates an
  n_biosamples float vector per (bioproject, group) (mg:470-518). Here the
  rollup stays long-form relational.
* **Cohort stats by subtraction.** The reference classifies every
  biosample for every set (an n_sets × n_biosamples loop per group,
  mg:365-385). We aggregate each group ONCE (count/sum/sumsq) and each
  set's *minority side* once (|members| rows), then derive the majority
  side as total − minority. Work drops from O(sets × biosamples) to
  O(sets × |minority|) with implicit zeros contributing nothing.
* **Tests as one vectorized kernel pass.** Welch t + df are closed-form
  Spark SQL over the summary stats; the t-distribution tail and the
  permutation resampling run together in ONE Arrow-native cogrouped
  kernel per (bioproject, group) — embarrassingly parallel, which is
  exactly what the reference lacked (its permutation tests dominate
  runtime, mwas_results_analyze.py:62-65).
* Statistic-signature memoization (mg:350,396-399) is replaced by
  vectorization: the Welch tail is one numpy call over all of a group's
  t-test rows, and one shared permutation null serves all of its sets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import pinning
from ..config import DEFAULT_CONFIG, MwasConfig
from ..functions.sqlexpr import sql_double
from ..functions.stattests import (
    grouped_permutation_mean_diff,
    perm_chunk_rows,
    student_t_sf,
)


# Every projection, filter and aggregate list below is parsed SQL text:
# it costs one py4j round trip per expression, where a Column tree costs
# one per operator, and a request builds this whole plan on the driver.
def _exprs(*sql: str) -> list[Column]:
    return [F.expr(e) for e in sql]


def _named_exprs(**sql: str) -> dict[str, Column]:
    return {name: F.expr(e) for name, e in sql.items()}


def release_mwas_persists() -> int:
    """Alias of :func:`..pinning.release`: unpersist the current pin
    scope's persisted pins and return how many were dropped. The scope's
    own exit releases them too; the HTTP handler calls this once its
    reply is built, which marks where a request's server-side work ends."""
    return pinning.release()


# ---------------------------------------------------------------------------
# stage 1 — resolve runs & normalize (mg:572-577, 506-518)
# ---------------------------------------------------------------------------


def resolve_and_normalize(
    input_df: DataFrame, catalog_df: DataFrame, cfg: MwasConfig = DEFAULT_CONFIG
) -> DataFrame:
    """input ⟗ catalog on run (J1) + RPM normalization (F2/P11/P12).

    Returns (bio_project, bio_sample, run, group, rpm) followed by every
    other input column except ``quantifier`` — the streaming paths'
    ``request_id`` rides through, so batch and stream share this one
    resolve. Rows whose run is unknown to the catalog cannot be
    attributed to a bioproject and are dropped (the reference carries
    them through its outer merge but they never match a bioproject
    subset, mg:467).
    """
    catalog = catalog_df.withColumn(
        # spots == 0 → the sentinel replacement (mg:180)
        "spots",
        F.expr(
            f"CASE WHEN spots = 0 THEN {sql_double(cfg.zero_spots_replacement)}"
            " ELSE spots END"
        ),
    )
    joined = input_df.join(catalog, "run", "left")
    quantifier = "coalesce(quantifier, 0.0D)"  # fillna, mg:577
    # reads per million, quantifier / spots * 1e6 (old/mwas_rfam.py:255;
    # mg:510-511 divides by spots*1e6 in its multi-run branch, a known
    # quirk, SURVEY.md §2.7 F2); zero spots yields 0
    rpm = (
        quantifier
        if cfg.already_normalized
        else f"CASE WHEN spots != 0 THEN {quantifier} / spots * "
        f"{sql_double(cfg.normalizing_const)} ELSE 0.0D END"
    )
    if cfg.blacklist:
        joined = joined.filter(~F.col("bio_project").isin(list(cfg.blacklist)))
    rest = [
        "`" + c.replace("`", "``") + "`"
        for c in input_df.columns
        if c not in ("run", "group", "quantifier")
    ]
    return joined.where("bio_project IS NOT NULL AND bio_sample IS NOT NULL").selectExpr(
        "bio_project", "bio_sample", "run", "`group`", f"{rpm} AS rpm", *rest
    )


def biosample_rollup(resolved: DataFrame) -> DataFrame:
    """A4 — mean RPM per (bio_project, group, bio_sample) over its runs
    (mg:503-518: np.mean of per-run normalized values), plus the run
    count ``n_runs`` the group skip rule sums."""
    return resolved.groupBy("bio_project", "group", "bio_sample").agg(
        *_exprs("avg(rpm) AS rpm", "count(*) AS n_runs")
    )


def group_skip_flags(rollup: DataFrame, cfg: MwasConfig) -> DataFrame:
    """Group-level skip rule (mg:483-491): a group with fewer provided rows
    than the threshold is processed with skip_tests=True (descriptive rows
    only). NB the reference counts post-fillna non-null rows — i.e. ALL
    rows — despite the 'nonzeros' name (SURVEY.md §7 parity flag); we
    reproduce that row-count semantics by summing the rollup's per-
    biosample ``n_runs``, so the resolved rows need no pin of their own.
    """
    threshold = (
        cfg.group_nonzeros_threshold if cfg.implicit_zeros else cfg.min_cohort_for_permutation
    )
    return rollup.groupBy("bio_project", "group").agg(
        F.expr(f"sum(n_runs) < {threshold} AS skip_tests")
    )


# ---------------------------------------------------------------------------
# stage 2 — cohort statistics by subtraction (replaces mg:344-391 loop)
# ---------------------------------------------------------------------------


def cohort_stats(
    rollup: DataFrame,
    sets_df: DataFrame,
    ref_df: DataFrame,
    cfg: MwasConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Per-(bioproject, group, set) true/false cohort summary statistics.

    With implicit zeros (cfg default), every metadata biosample not observed
    in a group contributes rpm=0 — so group totals over *observed* rows are
    already the totals over all n biosamples, and cohort means/sds follow
    from sums and sum-of-squares alone (population sd, ddof=0, matching
    np.nanstd at mg:382-385).

    Output grain: one row per (bio_project, group, set_id) with
    n_true/n_false/mean/sd per side plus labels and membership arrays.
    """
    ref_long = ref_df.selectExpr("bioproject", "explode(biosamples_ref) AS __ref_bs")
    # restrict to biosamples present in the metadata (missing-biosample
    # path, mg:496-499)
    obs = rollup.join(
        ref_long, F.expr("bio_project = bioproject AND bio_sample = __ref_bs")
    ).selectExpr("bio_project", "`group`", "bio_sample", "rpm")

    group_stats = obs.groupBy("bio_project", "group").agg(
        *_exprs("count(*) AS n_obs", "sum(rpm) AS sum_all", "sum(rpm * rpm) AS ss_all")
    )

    sets_meta = sets_df.selectExpr(
        "bioproject", "set_id", "attributes", "`values`", "include", "members",
        "size(members) AS n_members",
    )

    membership = sets_meta.selectExpr("bioproject", "set_id", "explode(members) AS __m_bs")
    member_obs = (
        membership.join(obs, F.expr("bioproject = bio_project AND __m_bs = bio_sample"))
        .groupBy("bioproject", "group", "set_id")
        .agg(*_exprs("count(*) AS n_obs_m", "sum(rpm) AS sum_m", "sum(rpm * rpm) AS ss_m"))
    )

    n_all = "n" if cfg.implicit_zeros else "n_obs"
    n_m = "n_members" if cfg.implicit_zeros else "n_obs_m"

    # minority side = the members; the true side is the minority for
    # include sets and its complement (total − minority) otherwise. The
    # first projection is `na.fill`'s: a double NaN fills like a NULL.
    pairs = (
        sets_meta.join(ref_df.select("bioproject", "n"), "bioproject")
        .join(group_stats, F.expr("bioproject = bio_project"))
        .join(member_obs, ["bioproject", "group", "set_id"], "left")
        .withColumns(
            _named_exprs(
                n_obs_m="coalesce(n_obs_m, 0L)",
                sum_m="coalesce(nanvl(sum_m, NULL), 0.0D)",
                ss_m="coalesce(nanvl(ss_m, NULL), 0.0D)",
            )
        )
        .withColumns(
            _named_exprs(
                n_true=f"CASE WHEN include THEN {n_m} ELSE {n_all} - {n_m} END",
                sum_true="CASE WHEN include THEN sum_m ELSE sum_all - sum_m END",
                ss_true="CASE WHEN include THEN ss_m ELSE ss_all - ss_m END",
            )
        )
    )
    n_false = f"({n_all} - n_true)"

    def _mean(s: str, n: str) -> str:
        return f"CASE WHEN {n} > 0 THEN {s} / {n} ELSE NULL END"

    def _sd(ss: str, s: str, n: str) -> str:
        mean = f"({s} / {n})"
        return (
            f"CASE WHEN {n} > 0 THEN sqrt(greatest({ss} / {n} - {mean} * {mean}, 0.0D))"
            " ELSE NULL END"
        )

    return pairs.selectExpr(
        "bioproject AS bio_project", "`group`", "set_id", "attributes", "`values`",
        "include", "members", "n_obs_m", "n_true",
        f"{n_false} AS n_false",
        f"{_mean('sum_true', 'n_true')} AS mean_rpm_true",
        f"{_mean('(sum_all - sum_true)', n_false)} AS mean_rpm_false",
        f"{_sd('ss_true', 'sum_true', 'n_true')} AS sd_rpm_true",
        f"{_sd('(ss_all - ss_true)', '(sum_all - sum_true)', n_false)} AS sd_rpm_false",
    )


# ---------------------------------------------------------------------------
# stage 3 — statistical tests (mg:344-449)
# ---------------------------------------------------------------------------


_TEST_RESULT = T.StructType(
    [
        T.StructField("bio_project", T.StringType()),
        T.StructField("group", T.StringType()),
        T.StructField("set_id", T.StringType()),
        T.StructField("stat", T.DoubleType()),
        T.StructField("p", T.DoubleType()),
        T.StructField("kernel_seconds", T.DoubleType()),
        T.StructField("kernel_bytes", T.LongType()),
    ]
)


def _make_grouped_test_fn(n_resamples: int, base_seed: int):
    """Per-(bio_project, group) test kernel for ``cogroup(...).applyInArrow``:
    ONE Python pass gives every tested row of the group its p-value.

    The left side holds the group's tested rows (``is_t`` marks the
    Welch rows, whose ``stat``/``welch_df`` come from SQL); the right
    side holds the group's pooled observed values (``obs_rpm``, one row)
    when any row takes the permutation test. Cogrouped, not joined:
    joining the pooled array onto every set row would hold |sets| copies
    of an up-to-cap-sized vector in one Arrow batch, defeating
    max_group_observations (r11 review finding).

    * Welch rows: p = 2·sf(|t|, df), one vectorized call over the group.
      A NULL t (no stats) keeps a NULL p; t = NaN (0/0) gives p = NaN.
    * Permutation rows: every set of a group splits the SAME pooled
      vector, so one shared permutation-matrix pass (prefix-cumsum trick
      in grouped_permutation_mean_diff) serves all of them — the
      per-test resampling cost the reference pays (mg:413-419) is
      amortized across sets. Seeded per (bio_project, group): evaluating
      any subset of sets reproduces identical p-values. With no pooled
      row the permutation rows yield no output row (p stays NULL).
    """
    import hashlib

    def kernel(key: tuple, left, right):
        import time

        import pyarrow as pa

        m = left.num_rows
        is_t = np.asarray(left.column("is_t").to_numpy(zero_copy_only=False), dtype=bool)
        stat = np.asarray(left.column("stat").to_numpy(zero_copy_only=False), dtype=np.float64)
        p = np.full(m, np.nan)
        seconds = np.zeros(m)
        nbytes = np.zeros(m, dtype=np.int64)
        if is_t.any():
            dfree = left.column("welch_df").to_numpy(zero_copy_only=False)
            p[is_t] = 2.0 * student_t_sf(np.abs(stat[is_t]), dfree[is_t])
        perm = ~is_t
        if perm.any() and right.num_rows:
            # T5 telemetry (reference mg:354-356,437-438 emits per-test
            # wall time + tracemalloc peak): the shared-null pass is
            # amortized, so per-test runtime = group kernel time / #tests;
            # bytes = the permutation buffer high-water mark
            t0 = time.perf_counter()
            seed_hex = hashlib.sha256(f"{key[0].as_py()}|{key[1].as_py()}".encode()).hexdigest()[:15]
            seed = (int(seed_hex, 16) ^ base_seed) & 0x7FFFFFFFFFFFFFFF
            n_xs = np.asarray(left.column("n_true").to_numpy(zero_copy_only=False), dtype=np.int64)
            # pooled = the group's full value vector: observed rpms padded
            # with implicit zeros to the cohort universe size, in canonical
            # sorted order (ListScalar.values: the flat array, no Python list)
            n_tot = int(n_xs[0]) + int(left.column("n_false")[0].as_py())
            obs = np.asarray(
                right.column("obs_rpm")[0].values.to_numpy(zero_copy_only=False),
                dtype=np.float64,
            )
            pooled = np.zeros(n_tot, dtype=np.float64)
            pooled[: obs.shape[0]] = obs
            pooled = np.sort(pooled)
            p[perm] = grouped_permutation_mean_diff(
                pooled, n_xs[perm], stat[perm], n_resamples, np.random.default_rng(seed)
            )
            seconds[perm] = (time.perf_counter() - t0) / int(perm.sum())
            nbytes[perm] = perm_chunk_rows(n_resamples, n_tot) * n_tot * 8
        out = pa.table(
            {
                "bio_project": left.column("bio_project"),
                "group": left.column("group"),
                "set_id": left.column("set_id"),
                "stat": left.column("stat"),
                "p": pa.array(p, mask=left.column("stat").is_null().to_numpy(zero_copy_only=False)),
                "kernel_seconds": pa.array(seconds),
                "kernel_bytes": pa.array(nbytes),
            }
        )
        if right.num_rows == 0 and not is_t.all():
            out = out.filter(pa.array(is_t))
        return out

    return kernel


def _welch_columns(df: DataFrame) -> DataFrame:
    """Closed-form Welch t statistic + Welch–Satterthwaite df in Spark SQL
    (identical formulas to scipy.stats.ttest_ind_from_stats(equal_var=False),
    fed population SDs exactly as the reference does — mg:407-412).

    Degenerate-cohort algebra mirrors the numpy kernel
    (``stattests.welch_ttest_from_stats`` under errstate-ignore) rather
    than raw SQL division, because Spark 4's default ANSI mode THROWS
    on x/0 — one both-SDs-zero cohort anywhere in the input used to
    abort the entire run_mwas job with DIVIDE_BY_ZERO (r11 review
    finding, reproduced end-to-end):

    * both variances 0, means differ → t = ±inf, df 1, p 0 — perfectly
      separated cohorts are SIGNIFICANT (the reference's numbers);
    * both variances 0, means equal → t NaN (0/0), p NaN;
    * a single-observation cohort (population SD 0 by definition) makes
      its df denominator term 0/0 = NaN in numpy → df 1 here (the NULL
      branch folds through the existing coalesce)."""
    vn1 = "(power(sd_rpm_true, 2) / n_true)"
    vn2 = "(power(sd_rpm_false, 2) / n_false)"
    vsum = f"({vn1} + {vn2})"
    md = "(mean_rpm_true - mean_rpm_false)"
    # Outer IS NOT NULL gate: NULL stats must yield NULL t, never ±inf.
    # Without it, a NULL vsum (any NULL sd) makes `vsum > 0` NULL and
    # the chain falls through to the sign-of-md branches — today NULL
    # sd co-occurs with NULL means so md is NULL too and the branches
    # stay NULL, but an upstream change yielding non-NULL means with
    # NULL sds would silently mint ±inf significance (r12 advice).
    t = (
        f"CASE WHEN {vsum} IS NOT NULL AND {md} IS NOT NULL THEN "
        f"CASE WHEN {vsum} > 0 THEN {md} / sqrt({vsum}) "
        f"WHEN {md} > 0 THEN {sql_double(np.inf)} "
        f"WHEN {md} < 0 THEN {sql_double(-np.inf)} "
        f"ELSE {sql_double(np.nan)} END END"
    )
    # n==1 ⟹ population SD 0 ⟹ vn 0 ⟹ numpy 0/0 = NaN term: NULL here,
    # nulling the whole df expression into the coalesce(., 1.0) below —
    # exactly numpy's isnan(df) → 1.0 replacement. When vsum > 0 and
    # both n > 1, the denominator is strictly positive (the nonzero vn
    # contributes a positive term), so the division is ANSI-safe.
    den1 = f"CASE WHEN n_true > 1 THEN power({vn1}, 2) / (n_true - 1) END"
    den2 = f"CASE WHEN n_false > 1 THEN power({vn2}, 2) / (n_false - 1) END"
    dfree = f"CASE WHEN {vsum} > 0 THEN power({vsum}, 2) / (({den1}) + ({den2})) END"
    return df.selectExpr(
        "*", f"{t} AS test_statistic", f"coalesce({dfree}, 1.0D) AS welch_df"
    )


def run_tests(
    stats_df: DataFrame,
    rollup: DataFrame,
    ref_df: DataFrame,
    skip_flags: DataFrame,
    cfg: MwasConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """T1–T4: dispatch Welch t vs permutation per cohort row, compute
    p-values, significance labels and cohort accession lists.

    Returns the 18-column RESULT_SCHEMA relation (13 columns under
    ``legacy_13col``). Its telemetry is measured for permutation rows:
    ``runtime_seconds`` is the group's kernel time divided by its
    permutation tests and ``memory_usage_bytes`` the permutation
    buffer's size; Welch and skipped rows carry 0 (SURVEY.md §2.8 T5
    excludes both columns from value comparison).
    """
    flags = skip_flags.selectExpr("bio_project AS sf_bp", "`group` AS sf_g", "skip_tests")
    base = (
        stats_df.join(flags, F.expr("bio_project = sf_bp AND `group` = sf_g"), "left")
        .drop("sf_bp", "sf_g")
        # row-level skip rules (mg:376-389)
        .where(
            f"n_true >= {cfg.min_cohort_size} AND n_false >= {cfg.min_cohort_size}"
            " AND NOT (mean_rpm_true = 0 AND mean_rpm_false = 0)"
        )
        .withColumn(
            "skip_tests",
            F.expr(f"coalesce(skip_tests, true) OR {str(cfg.skip_tests).lower()}"),
        )
    )
    # the kernel input, the pooled-vector eligibility and the final join
    # all consume `base`; without pinning, each re-executes the full
    # upstream pipeline (catalog join → rollup → cohort stats)
    base = pinning.pin(base, "run_tests:base")

    use_t_test = (
        f"(least(n_true, n_false) < {cfg.min_cohort_for_permutation}"
        f" OR {str(cfg.t_test_only).lower()})"
    )

    # one row per tested cohort: Welch t/df from SQL for t-test rows, the
    # observed mean difference for permutation rows. The kernel needs only
    # (pooled group values, per-set cohort size, per-set observed mean
    # difference) — the per-set true/false VALUE arrays the reference
    # materializes (mg:365-372) are never built.
    tested = _welch_columns(base.where("NOT skip_tests")).selectExpr(
        "bio_project", "`group`", "set_id", "n_true", "n_false",
        f"{use_t_test} AS is_t",
        f"CASE WHEN {use_t_test} THEN test_statistic"
        " ELSE mean_rpm_true - mean_rpm_false END AS stat",
        "welch_df",
    )
    # pooled vectors ONLY for permutation-eligible groups: without the
    # semi-join the collect_list materialized a potentially multi-
    # million-element array per group for groups no kernel would ever
    # read (most rows take the t-test at the default thresholds —
    # r11 review finding)
    # renamed keys: eligible and rollup share upstream lineage (both
    # trace to the rollup), and a name-based semi-join trips the
    # ambiguous-self-join analyzer when lineage is not checkpoint-cut
    # under t_test_only `is_t` is the literal true, so Catalyst folds
    # this side to an empty relation and never builds the aggregation.
    eligible = (
        tested.where("NOT is_t")
        .selectExpr("bio_project AS __e_bp", "`group` AS __e_g")
        .distinct()
    )
    group_vals = (
        rollup.join(
            eligible, F.expr("bio_project = __e_bp AND `group` = __e_g"), "left_semi"
        )
        .join(
            ref_df.selectExpr("bioproject", "explode(biosamples_ref) AS bs"),
            F.expr("bio_project = bioproject AND bio_sample = bs"),
        )
        .groupBy("bio_project", "group")
        .agg(F.expr("collect_list(rpm) AS obs_rpm"))
    )
    if cfg.max_group_observations is not None:
        # the pooled vector is the one row bounded by biosamples-per-
        # bioproject (the reference's 50 MB cap analog) — fail loudly at
        # the source instead of OOMing inside the Arrow batch. The guard
        # sits on the one-row-per-group values relation AFTER the
        # eligibility semi-join, so a job with no permutation-eligible
        # set in an oversized group never trips on a vector the kernel
        # would not consume — and the checked vector is never
        # replicated per set row.
        cap = cfg.max_group_observations
        group_vals = group_vals.withColumn(
            "obs_rpm",
            F.expr(
                f"CASE WHEN size(obs_rpm) <= {cap} THEN obs_rpm ELSE CAST(raise_error("
                "concat('pooled observed-value vector for (', bio_project, ', ', `group`,"
                " ') has ', CAST(size(obs_rpm) AS STRING), ' elements, over "
                f"max_group_observations={cap}; raise the cap or pre-aggregate the "
                "input')) AS ARRAY<DOUBLE>) END"
            ),
        )
    # one Arrow-native kernel call per (bio_project, group) gives every
    # tested row its p-value (see _make_grouped_test_fn). The explicit
    # repartition spreads groups evenly over ONE wave of tasks
    # (defaultParallelism partitions): the natural hash layout packs
    # several CPU-heavy groups per partition and AQE keeps that skew
    # (bytes are tiny; the cost is compute, which AQE can't see), while
    # every extra wave pays the Python workers' per-task start-up again.
    n_part = stats_df.sparkSession.sparkContext.defaultParallelism
    # fresh attribute ids on the values side: both cogroup sides trace
    # to the rollup, and a cogroup (unlike a name-list join) has no
    # disambiguation rule for shared-lineage columns; cogroup matches
    # keys by POSITION, so the rename is free
    gv = group_vals.selectExpr("bio_project AS __gv_bp", "`group` AS __gv_g", "obs_rpm")
    tested_p = (
        tested.repartition(n_part, "bio_project", "group")
        .groupBy("bio_project", "group")
        .cogroup(
            gv.repartition(n_part, "__gv_bp", "__gv_g").groupBy("__gv_bp", "__gv_g")
        )
        .applyInArrow(
            _make_grouped_test_fn(cfg.permutation_resamples, cfg.permutation_seed),
            _TEST_RESULT,
        )
    )

    # skipped rows (mg:390-394) and permutation rows without a pooled
    # vector find no kernel row: NULL statistic and p, zero telemetry
    all_rows = base.join(tested_p, ["bio_project", "group", "set_id"], "left").selectExpr(
        "bio_project", "`group`", "set_id", "attributes", "`values`", "include",
        "members", "n_true", "n_false", "mean_rpm_true", "mean_rpm_false",
        "sd_rpm_true", "sd_rpm_false",
        "stat AS test_statistic",
        "p AS p_value",
        "CASE WHEN skip_tests THEN 'skipped_statistical_testing'"
        f" WHEN {use_t_test} THEN 't_test' ELSE 'permutation_test' END AS status",
        "coalesce(kernel_seconds, 0.0D) AS runtime_seconds",
        "CAST(coalesce(kernel_bytes, 0) AS BIGINT) AS memory_usage_bytes",
    )
    return finalize_results(all_rows, ref_df, cfg)


def finalize_results(
    rows: DataFrame, ref_df: DataFrame, cfg: MwasConfig = DEFAULT_CONFIG
) -> DataFrame:
    """T4/A12/F1/F3 — significance suffix, fold change, cohort accession
    lists (with swap for exclude-encoded sets, mg:426-434), output cleanup.

    The biosample lists are only emitted for significant rows (typically
    a small fraction at p < 0.005), so the full ``biosamples_ref`` array
    is joined ONLY onto that branch and the non-significant majority is
    unioned back untouched — at scale the old single-join formulation
    replicated an n-biosample array across O(results) rows for nothing.

    List-gating parity (mg:427-432): the reference gates the MEMBERS
    list by num_true and the COMPLEMENT list by num_false, *then* swaps
    the two strings for exclude-encoded sets — so for include=False the
    list emitted as true_biosamples (the complement, num_true elements)
    is gated by num_false and vice versa. We reproduce that pre-swap
    gating exactly.
    """
    significant = f"p_value < {sql_double(cfg.p_value_threshold)}"
    # legacy generation (old/mwas_rfam.py:100-111) emits numeric ±inf fold
    # change; the main generation emits the sentinel strings (mg:325-336):
    # (0,0) → 0, true==0 → 'negative inf', false==0 → 'inf', else the
    # log2 ratio
    legacy = cfg.legacy_output or cfg.legacy_13col
    log2_ratio = "log2(mean_rpm_true / mean_rpm_false)"
    if legacy:
        zero, neg, pos, ratio = "0.0D", sql_double(-np.inf), sql_double(np.inf), log2_ratio
    else:
        zero, neg, pos, ratio = "'0'", "'negative inf'", "'inf'", f"CAST({log2_ratio} AS STRING)"
    fold_change = (
        "CASE WHEN status = 'skipped_statistical_testing'"
        f" THEN CAST(NULL AS {'DOUBLE' if legacy else 'STRING'}) ELSE CASE"
        f" WHEN mean_rpm_true = 0 AND mean_rpm_false = 0 THEN {zero}"
        f" WHEN mean_rpm_true = 0 THEN {neg} WHEN mean_rpm_false = 0 THEN {pos}"
        f" ELSE {ratio} END END"
    )
    # commas → spaces in output text fields (mg:441)
    fields = (
        "regexp_replace(attributes, ',', ' ') AS metadata_field",
        "regexp_replace(`values`, ',', ' ') AS metadata_value",
    )
    counts = ("CAST(n_true AS INT) AS num_true", "CAST(n_false AS INT) AS num_false")
    stats = ("mean_rpm_true", "mean_rpm_false", "sd_rpm_true", "sd_rpm_false")

    if cfg.legacy_13col:
        # the legacy generation's narrower column set (old/mwas_rfam.py:11-12
        # MWAS_COLS / :169-170 output_cols): no status, telemetry, or
        # biosample-list columns — so no significant/rest fanout and no
        # biosamples_ref join are needed at all; this is a single projection
        # over the test results, globally p-sorted (old:369-370)
        return rows.selectExpr(
            "bio_project AS bioproject_id", "`group` AS family", *fields, *counts,
            *stats, f"{fold_change} AS fold_change", "test_statistic", "p_value",
        ).orderBy(F.asc_nulls_last("p_value"))

    # two-branch fanout over `rows` — pin so the shared upstream
    # (including the permutation kernel) runs once
    rows = pinning.pin(rows, "finalize_results:rows")

    too_many = "'too many biosamples to list'"
    pre_true = (
        f"CASE WHEN n_true < {cfg.max_listed_biosamples}"
        f" THEN array_join(members, '; ') ELSE {too_many} END"
    )
    pre_false = (
        f"CASE WHEN n_false < {cfg.max_listed_biosamples}"
        f" THEN array_join(array_except(biosamples_ref, members), '; ') ELSE {too_many} END"
    )

    sig = (
        rows.where(significant)
        .join(
            ref_df.selectExpr("bioproject AS bio_project", "biosamples_ref"),
            "bio_project",
            "left",
        )
        .withColumns(
            _named_exprs(
                status="concat(status, '; significant')",
                fold_change=fold_change,
                true_biosamples=f"CASE WHEN include THEN {pre_true} ELSE {pre_false} END",
                false_biosamples=f"CASE WHEN include THEN {pre_false} ELSE {pre_true} END",
            )
        )
        .drop("biosamples_ref")
    )
    rest = rows.where(f"NOT ({significant}) OR p_value IS NULL").withColumns(
        _named_exprs(fold_change=fold_change, true_biosamples="''", false_biosamples="''")
    )
    selected = sig.unionByName(rest).selectExpr(
        "bio_project AS bioproject", "`group`", *fields, "status", "runtime_seconds",
        "memory_usage_bytes", *counts, *stats, "fold_change", "test_statistic",
        "p_value", "true_biosamples", "false_biosamples",
    )
    if cfg.legacy_output:
        # old/mwas_rfam.py:369-370 sorts the combined output by p-value
        # (pandas sort_values: NaN/None last); the main generation emits
        # in processing order
        selected = selected.orderBy(F.asc_nulls_last("p_value"))
    return selected


# ---------------------------------------------------------------------------
# top-level assembly
# ---------------------------------------------------------------------------


def _pin_inputs(
    input_df: DataFrame,
    catalog_df: DataFrame,
    sets_df: DataFrame,
    ref_df: DataFrame,
    cfg: MwasConfig,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Pin the rollup, sets and ref relations, overlapping the three
    independent jobs (the rollup reads input+catalog; sets/ref read the
    metadata relation)."""
    rollup = biosample_rollup(resolve_and_normalize(input_df, catalog_df, cfg))
    return tuple(
        pinning.overlap(
            [
                lambda: pinning.pin(rollup, "run_mwas:rollup"),
                lambda: pinning.pin(sets_df, "run_mwas:sets"),
                lambda: pinning.pin(ref_df, "run_mwas:ref"),
            ]
        )
    )


def run_mwas(
    input_df: DataFrame,
    catalog_df: DataFrame,
    sets_df: DataFrame,
    ref_df: DataFrame,
    cfg: MwasConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """End-to-end MWAS: the reference's whole §3.1 lifecycle as one plan.

    Shared subplans are pinned (:func:`..pinning.pin`): ``rollup`` feeds
    cohort stats, the skip flags and the permutation value arrays, and
    the metadata relations are joined at three points — without pinning
    each consumer re-executes the whole upstream pipeline. Metadata that
    arrives already checkpointed (the server's) is not copied again.

    EAGER: constructing the result executes the pipeline (including the
    test kernel) — each shared subplan is materialized before its
    fan-out. The pins follow the innermost :func:`..pinning.scope`.
    ``use_local_checkpoint=False`` must run inside a ``keep_lineage``
    scope, which persists the pins (the full lineage stays in the plan)
    and unpersists them when it exits; outside one it raises
    ValueError instead of silently checkpointing. Checkpoint blocks are
    freed by the ContextCleaner once the result is garbage-collected.
    """
    if not cfg.use_local_checkpoint and not pinning.keeps_lineage():
        raise ValueError(
            "use_local_checkpoint=False persists run_mwas's pins: run it "
            "inside pinning.scope(True), which owns and releases them"
        )
    rollup, sets_df, ref_df = _pin_inputs(input_df, catalog_df, sets_df, ref_df, cfg)
    skip_flags = group_skip_flags(rollup, cfg)
    # stats_df has exactly ONE consumer — run_tests' `base`, which is
    # itself pinned right after joining in the skip flags — so `base`'s
    # pin computes cohort_stats inline (a separate stats pin would add a
    # redundant job wave, ~0.5 s of the mwas_full wall at sf0.1)
    stats_df = cohort_stats(rollup, sets_df, ref_df, cfg)
    return run_tests(stats_df, rollup, ref_df, skip_flags, cfg)
