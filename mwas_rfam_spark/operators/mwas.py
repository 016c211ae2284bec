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
from pyspark import StorageLevel

from ..config import DEFAULT_CONFIG, MwasConfig
from ..functions.scalar import replace_zero_spots, rpm
from ..functions.stattests import (
    grouped_permutation_mean_diff,
    perm_chunk_rows,
    student_t_sf,
)

# every relation run_mwas/finalize_results materializes, so callers can
# free the storage once the output is written (without this each call
# leaked its cached subplans for the session lifetime)
_LIVE_PERSISTS: list[DataFrame] = []


def _materialize(df: DataFrame, cfg: MwasConfig) -> DataFrame:
    """Pin a multiply-consumed subplan; a relation that is already an
    eager checkpoint (e.g. the server's pinned metadata) is returned
    as-is instead of being copied again.

    Default: ``localCheckpoint`` — eager (so fan-out branches can never
    race an unsettled cache) and lineage-truncating (so every downstream
    consumer plans against a short ExistingRDD scan instead of re-running
    Catalyst over the whole condense+cohort tree; measured 25-40% of the
    relational core's wall at sf0.1 was exactly that re-planning —
    SCALE.md). ``use_local_checkpoint=False`` falls back to a lazy
    persist (recomputable lineage for fault-tolerant cluster runs);
    callers that fan out must settle it themselves (they do — the two
    count() settles below).
    """
    plan = df._jdf.logicalPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD" and plan.rdd().isCheckpointed():
        return df
    if cfg.use_local_checkpoint:
        df = df.localCheckpoint()
    else:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE_PERSISTS.append(df)
    return df


def release_mwas_persists() -> int:
    """Release every subplan pinned by run_mwas / finalize_results in
    this process and return how many were dropped. Call after the result
    has been materialized (written / collected). Persisted relations are
    unpersisted immediately; localCheckpoint'ed blocks are freed by the
    ContextCleaner once the last DataFrame referencing them (including
    the returned result) is garbage-collected — dropping our references
    here is what makes that possible."""
    n = len(_LIVE_PERSISTS)
    for df in _LIVE_PERSISTS:
        try:
            df.unpersist()
        except Exception:
            pass
    _LIVE_PERSISTS.clear()
    return n

# ---------------------------------------------------------------------------
# stage 1 — resolve runs & normalize (mg:572-577, 506-518)
# ---------------------------------------------------------------------------


def resolve_and_normalize(
    input_df: DataFrame, catalog_df: DataFrame, cfg: MwasConfig = DEFAULT_CONFIG
) -> DataFrame:
    """input ⟗ catalog on run (J1) + RPM normalization (F2/P11/P12).

    Returns (bio_project, bio_sample, run, group, rpm). Rows whose run is
    unknown to the catalog cannot be attributed to a bioproject and are
    dropped (the reference carries them through its outer merge but they
    never match a bioproject subset, mg:467).
    """
    catalog = catalog_df.withColumn(
        "spots", replace_zero_spots(F.col("spots"), cfg.zero_spots_replacement)
    )
    joined = input_df.join(catalog, "run", "left")
    quantifier = F.coalesce(F.col("quantifier"), F.lit(0.0))  # fillna, mg:577
    rpm_col = (
        quantifier
        if cfg.already_normalized
        else rpm(quantifier, F.col("spots"), cfg.normalizing_const)
    )
    if cfg.blacklist:
        joined = joined.filter(~F.col("bio_project").isin(list(cfg.blacklist)))
    return joined.filter(
        F.col("bio_project").isNotNull() & F.col("bio_sample").isNotNull()
    ).select(
        "bio_project",
        "bio_sample",
        "run",
        "group",
        rpm_col.alias("rpm"),
    )


def biosample_rollup(resolved: DataFrame) -> DataFrame:
    """A4 — mean RPM per (bio_project, group, bio_sample) over its runs
    (mg:503-518: np.mean of per-run normalized values), plus the run
    count ``n_runs`` the group skip rule sums."""
    return resolved.groupBy("bio_project", "group", "bio_sample").agg(
        F.avg("rpm").alias("rpm"), F.count("*").alias("n_runs")
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
        (F.sum("n_runs") < F.lit(threshold)).alias("skip_tests")
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
    ref_long = ref_df.select(
        "bioproject", F.explode("biosamples_ref").alias("bio_sample")
    )
    # restrict to biosamples present in the metadata (missing-biosample
    # path, mg:496-499)
    obs = rollup.join(
        ref_long,
        (rollup.bio_project == ref_long.bioproject)
        & (rollup.bio_sample == ref_long.bio_sample),
        "inner",
    ).select(rollup.bio_project, rollup.group, rollup.bio_sample, rollup.rpm)

    group_stats = obs.groupBy("bio_project", "group").agg(
        F.count("*").alias("n_obs"),
        F.sum("rpm").alias("sum_all"),
        F.sum(F.col("rpm") * F.col("rpm")).alias("ss_all"),
    )

    sets_meta = sets_df.select(
        "bioproject",
        "set_id",
        "attributes",
        "values",
        "include",
        "members",
        F.size("members").alias("n_members"),
    )

    membership = sets_meta.select(
        "bioproject", "set_id", F.explode("members").alias("bio_sample")
    )
    member_obs = (
        membership.join(
            obs,
            (membership.bioproject == obs.bio_project)
            & (membership.bio_sample == obs.bio_sample),
        )
        .groupBy("bioproject", "group", "set_id")
        .agg(
            F.count("*").alias("n_obs_m"),
            F.sum("rpm").alias("sum_m"),
            F.sum(F.col("rpm") * F.col("rpm")).alias("ss_m"),
        )
    )

    n_all = F.col("n") if cfg.implicit_zeros else F.col("n_obs")
    n_m = F.col("n_members") if cfg.implicit_zeros else F.col("n_obs_m")

    # minority side = the members; the true side is the minority for
    # include sets and its complement (total − minority) otherwise
    pairs = (
        sets_meta.join(ref_df.select("bioproject", "n"), "bioproject")
        .join(
            group_stats,
            sets_meta.bioproject == group_stats.bio_project,
        )
        .join(member_obs, ["bioproject", "group", "set_id"], "left")
        .na.fill({"n_obs_m": 0, "sum_m": 0.0, "ss_m": 0.0})
        .withColumns(
            {
                "n_true": F.when(F.col("include"), n_m).otherwise(n_all - n_m),
                "sum_true": F.when(F.col("include"), F.col("sum_m")).otherwise(
                    F.col("sum_all") - F.col("sum_m")
                ),
                "ss_true": F.when(F.col("include"), F.col("ss_m")).otherwise(
                    F.col("ss_all") - F.col("ss_m")
                ),
            }
        )
    )
    n_true, sum_true, ss_true = F.col("n_true"), F.col("sum_true"), F.col("ss_true")
    n_false = n_all - n_true
    sum_false = F.col("sum_all") - sum_true
    ss_false = F.col("ss_all") - ss_true

    def _mean(s: Column, n: Column) -> Column:
        return F.when(n > 0, s / n).otherwise(F.lit(None))

    def _sd(ss: Column, s: Column, n: Column) -> Column:
        mean = s / n
        var = F.greatest(ss / n - mean * mean, F.lit(0.0))
        return F.when(n > 0, F.sqrt(var)).otherwise(F.lit(None))

    return pairs.select(
        F.col("bioproject").alias("bio_project"),
        "group",
        "set_id",
        "attributes",
        "values",
        "include",
        "members",
        "n_obs_m",
        "n_true",
        n_false.alias("n_false"),
        _mean(sum_true, n_true).alias("mean_rpm_true"),
        _mean(sum_false, n_false).alias("mean_rpm_false"),
        _sd(ss_true, sum_true, n_true).alias("sd_rpm_true"),
        _sd(ss_false, sum_false, n_false).alias("sd_rpm_false"),
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
    vn1 = F.col("sd_rpm_true") ** 2 / F.col("n_true")
    vn2 = F.col("sd_rpm_false") ** 2 / F.col("n_false")
    vsum = vn1 + vn2
    md = F.col("mean_rpm_true") - F.col("mean_rpm_false")
    # Outer isNotNull gate: NULL stats must yield NULL t, never ±inf.
    # Without it, a NULL vsum (any NULL sd) makes `vsum > 0` NULL and
    # the chain falls through to the sign-of-md branches — today NULL
    # sd co-occurs with NULL means so md is NULL too and the branches
    # stay NULL, but an upstream change yielding non-NULL means with
    # NULL sds would silently mint ±inf significance (r12 advice).
    t = F.when(
        vsum.isNotNull() & md.isNotNull(),
        F.when(vsum > 0, md / F.sqrt(vsum))
        .when(md > 0, F.lit(float("inf")))
        .when(md < 0, F.lit(float("-inf")))
        .otherwise(F.lit(float("nan"))),
    )
    # n==1 ⟹ population SD 0 ⟹ vn 0 ⟹ numpy 0/0 = NaN term: NULL here,
    # nulling the whole df expression into the coalesce(., 1.0) below —
    # exactly numpy's isnan(df) → 1.0 replacement. When vsum > 0 and
    # both n > 1, the denominator is strictly positive (the nonzero vn
    # contributes a positive term), so the division is ANSI-safe.
    den1 = F.when(F.col("n_true") > 1, vn1**2 / (F.col("n_true") - 1))
    den2 = F.when(F.col("n_false") > 1, vn2**2 / (F.col("n_false") - 1))
    dfree = F.when(vsum > 0, vsum**2 / (den1 + den2))
    return df.withColumns(
        {"test_statistic": t, "welch_df": F.coalesce(dfree, F.lit(1.0))}
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

    Returns the 18-column result relation (RESULT_SCHEMA minus the
    per-test telemetry, which is emitted as 0 — SURVEY.md §2.8 T5 notes it
    as excluded from value comparison).
    """
    flags = skip_flags.select(
        F.col("bio_project").alias("sf_bp"),
        F.col("group").alias("sf_g"),
        "skip_tests",
    )
    base = (
        stats_df.join(
            flags,
            (stats_df.bio_project == flags.sf_bp) & (stats_df.group == flags.sf_g),
            "left",
        )
        .drop("sf_bp", "sf_g")
        .na.fill({"skip_tests": True})
        # row-level skip rules (mg:376-389)
        .filter(
            (F.col("n_true") >= cfg.min_cohort_size)
            & (F.col("n_false") >= cfg.min_cohort_size)
        )
        .filter(~((F.col("mean_rpm_true") == 0) & (F.col("mean_rpm_false") == 0)))
        .withColumn("skip_tests", F.col("skip_tests") | F.lit(cfg.skip_tests))
    )
    # the kernel input, the pooled-vector eligibility and the final join
    # all consume `base`; without pinning, each re-executes the full
    # upstream pipeline (catalog join → rollup → cohort stats)
    base = _materialize(base, cfg)

    use_t_test = (
        F.least(F.col("n_true"), F.col("n_false")) < cfg.min_cohort_for_permutation
    ) | F.lit(cfg.t_test_only)

    # one row per tested cohort: Welch t/df from SQL for t-test rows, the
    # observed mean difference for permutation rows. The kernel needs only
    # (pooled group values, per-set cohort size, per-set observed mean
    # difference) — the per-set true/false VALUE arrays the reference
    # materializes (mg:365-372) are never built.
    tested = _welch_columns(base.filter(~F.col("skip_tests"))).select(
        "bio_project",
        "group",
        "set_id",
        "n_true",
        "n_false",
        use_t_test.alias("is_t"),
        F.when(use_t_test, F.col("test_statistic"))
        .otherwise(F.col("mean_rpm_true") - F.col("mean_rpm_false"))
        .alias("stat"),
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
    eligible = tested.filter(~F.col("is_t")).select(
        F.col("bio_project").alias("__e_bp"), F.col("group").alias("__e_g")
    ).distinct()
    group_vals = (
        rollup.join(
            eligible,
            (rollup.bio_project == F.col("__e_bp"))
            & (rollup.group == F.col("__e_g")),
            "left_semi",
        )
        .join(
            ref_df.select("bioproject", F.explode("biosamples_ref").alias("bs")),
            (rollup.bio_project == F.col("bioproject"))
            & (rollup.bio_sample == F.col("bs")),
        )
        .groupBy("bio_project", "group")
        .agg(F.collect_list("rpm").alias("obs_rpm"))
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
        group_vals = group_vals.withColumn(
            "obs_rpm",
            F.when(
                F.size("obs_rpm") <= cfg.max_group_observations, F.col("obs_rpm")
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("pooled observed-value vector for ("),
                        F.col("bio_project"),
                        F.lit(", "),
                        F.col("group"),
                        F.lit(") has "),
                        F.size("obs_rpm").cast("string"),
                        F.lit(
                            " elements, over max_group_observations="
                            f"{cfg.max_group_observations}; raise the cap or "
                            "pre-aggregate the input"
                        ),
                    )
                ).cast("array<double>")
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
    gv = group_vals.select(
        F.col("bio_project").alias("__gv_bp"),
        F.col("group").alias("__gv_g"),
        "obs_rpm",
    )
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
    all_rows = base.join(tested_p, ["bio_project", "group", "set_id"], "left").select(
        "bio_project", "group", "set_id", "attributes", "values", "include",
        "members", "n_true", "n_false", "mean_rpm_true", "mean_rpm_false",
        "sd_rpm_true", "sd_rpm_false",
        F.col("stat").alias("test_statistic"),
        F.col("p").alias("p_value"),
        F.when(F.col("skip_tests"), F.lit("skipped_statistical_testing"))
        .when(use_t_test, F.lit("t_test"))
        .otherwise(F.lit("permutation_test"))
        .alias("status"),
        F.coalesce("kernel_seconds", F.lit(0.0)).alias("runtime_seconds"),
        F.coalesce("kernel_bytes", F.lit(0)).cast("long").alias("memory_usage_bytes"),
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
    from ..functions.scalar import (
        clean_csv_field,
        log2_fold_change,
        log2_fold_change_numeric,
    )

    significant = F.col("p_value") < cfg.p_value_threshold
    # legacy generation (old/mwas_rfam.py:100-111) emits numeric ±inf fold
    # change; the main generation emits the sentinel strings (mg:325-336)
    legacy = cfg.legacy_output or cfg.legacy_13col
    fc_fn = log2_fold_change_numeric if legacy else log2_fold_change
    fc_null = F.lit(None).cast("double" if legacy else "string")
    fold_change = F.when(
        F.col("status") == "skipped_statistical_testing", fc_null
    ).otherwise(fc_fn(F.col("mean_rpm_true"), F.col("mean_rpm_false")))

    if cfg.legacy_13col:
        # the legacy generation's narrower column set (old/mwas_rfam.py:11-12
        # MWAS_COLS / :169-170 output_cols): no status, telemetry, or
        # biosample-list columns — so no significant/rest fanout and no
        # biosamples_ref join are needed at all; this is a single projection
        # over the test results, globally p-sorted (old:369-370)
        return rows.select(
            F.col("bio_project").alias("bioproject_id"),
            F.col("group").alias("family"),
            clean_csv_field(F.col("attributes")).alias("metadata_field"),
            clean_csv_field(F.col("values")).alias("metadata_value"),
            F.col("n_true").cast("int").alias("num_true"),
            F.col("n_false").cast("int").alias("num_false"),
            "mean_rpm_true",
            "mean_rpm_false",
            "sd_rpm_true",
            "sd_rpm_false",
            fold_change.alias("fold_change"),
            "test_statistic",
            "p_value",
        ).orderBy(F.asc_nulls_last("p_value"))

    # two-branch fanout over `rows` — materialize so the shared upstream
    # (including the permutation kernel) runs once, same rationale as the
    # stats_df settle in run_mwas (localCheckpoint is already eager; the
    # persist fallback needs the explicit count settle)
    rows = _materialize(rows, cfg)
    if not cfg.use_local_checkpoint:
        rows.count()

    too_many = F.lit("too many biosamples to list")
    complement = F.array_except(F.col("biosamples_ref"), F.col("members"))
    pre_true = F.when(
        F.col("n_true") < cfg.max_listed_biosamples, F.array_join(F.col("members"), "; ")
    ).otherwise(too_many)
    pre_false = F.when(
        F.col("n_false") < cfg.max_listed_biosamples, F.array_join(complement, "; ")
    ).otherwise(too_many)

    sig = (
        rows.filter(significant)
        .join(
            ref_df.select(F.col("bioproject").alias("bio_project"), "biosamples_ref"),
            "bio_project",
            "left",
        )
        .withColumns(
            {
                "status": F.concat(F.col("status"), F.lit("; significant")),
                "fold_change": fold_change,
                "true_biosamples": F.when(F.col("include"), pre_true).otherwise(pre_false),
                "false_biosamples": F.when(F.col("include"), pre_false).otherwise(pre_true),
            }
        )
        .drop("biosamples_ref")
    )
    rest = rows.filter(~significant | F.col("p_value").isNull()).withColumns(
        {
            "fold_change": fold_change,
            "true_biosamples": F.lit(""),
            "false_biosamples": F.lit(""),
        }
    )
    out = sig.unionByName(rest)
    selected = out.select(
        F.col("bio_project").alias("bioproject"),
        "group",
        clean_csv_field(F.col("attributes")).alias("metadata_field"),
        clean_csv_field(F.col("values")).alias("metadata_value"),
        "status",
        "runtime_seconds",
        "memory_usage_bytes",
        F.col("n_true").cast("int").alias("num_true"),
        F.col("n_false").cast("int").alias("num_false"),
        "mean_rpm_true",
        "mean_rpm_false",
        "sd_rpm_true",
        "sd_rpm_false",
        "fold_change",
        "test_statistic",
        "p_value",
        "true_biosamples",
        "false_biosamples",
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


def run_mwas(
    input_df: DataFrame,
    catalog_df: DataFrame,
    sets_df: DataFrame,
    ref_df: DataFrame,
    cfg: MwasConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """End-to-end MWAS: the reference's whole §3.1 lifecycle as one plan.

    Shared subplans are persisted (spill-safe): ``rollup`` feeds cohort
    stats, the skip flags and the permutation value arrays, and the
    metadata relations are joined at three points — without persistence
    each consumer re-executes the whole upstream pipeline. Metadata that
    arrives already checkpointed (the server's) is not copied again.

    EAGER: constructing the result executes the pipeline (including the
    test kernel) — each shared subplan is materialized before its
    fan-out, since branches racing an unsettled cache inside one action
    were measured recomputing the kernel concurrently (~2× end-to-end).
    With the default ``use_local_checkpoint`` the materialization also
    truncates lineage, so downstream stages re-plan against short
    ExistingRDD scans instead of the whole tree (25-40% of the
    relational core's wall at sf0.1 was that re-planning). Plan
    inspection without execution: use the stage functions directly, or
    set ``use_local_checkpoint=False`` (lazy persists + count settles).
    The pinned subplans stay materialized so the returned DataFrame can
    be re-queried cheaply; call :func:`release_mwas_persists` once the
    output is written to let them be freed.
    """
    # The three pins are independent (the rollup reads input+catalog;
    # sets/ref read the metadata relation), but each eager
    # localCheckpoint is a blocking job — run serially the cluster idles
    # through three job tails. Overlap them from a small thread pool
    # (guide §2.6: actions are only sequential because the driver calls
    # them sequentially); results are byte-identical, only job
    # scheduling changes.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        rollup, sets_df, ref_df = pool.map(
            lambda df: _materialize(df, cfg),
            [
                biosample_rollup(resolve_and_normalize(input_df, catalog_df, cfg)),
                sets_df,
                ref_df,
            ],
        )
    skip_flags = group_skip_flags(rollup, cfg)
    # stats_df has exactly ONE consumer — run_tests' `base`, which is
    # itself materialized right after joining in the skip flags — so a
    # separate stats materialization is a redundant extra job wave (plan
    # compile + codegen + write + read of the same rows `base` pins
    # moments later; measured ~0.5 s of the mwas_full wall at sf0.1,
    # r13 opt round). The checkpoint path lets `base`'s checkpoint
    # compute cohort_stats inline; the persist fallback keeps the
    # explicit settle (its lazy caches would otherwise race in the
    # kernel/join fan-out).
    stats_df = cohort_stats(rollup, sets_df, ref_df, cfg)
    if not cfg.use_local_checkpoint:
        stats_df = _materialize(stats_df, cfg)
        stats_df.count()
    return run_tests(stats_df, rollup, ref_df, skip_flags, cfg)
