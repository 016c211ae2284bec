"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps each implemented operator family from SURVEY.md §2 (plus
the training-data-pipeline extensions) to a callable ``(spark, sf_dir) →
DataFrame``; ``oracle_sql()`` holds the equivalent DuckDB SQL over the
pre-registered views. Column names/aliases match exactly between both
sides; floating aggregates are rounded identically on both sides so the
order-insensitive value hash is stable across engines.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mwas_rfam_spark.config import MwasConfig
from mwas_rfam_spark.operators.condense import condense_metadata
from mwas_rfam_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from mwas_rfam_spark.operators.multimodal import (
    attach_binary,
    decode_images,
    extract_audio_features,
)
from mwas_rfam_spark.operators.mwas import (
    _pin_inputs,
    _welch_columns,
    cohort_stats,
    resolve_and_normalize,
    run_mwas,
)
from mwas_rfam_spark.operators.similarity import brute_force_topk, lsh_ann_topk
from mwas_rfam_spark.operators.text import (
    fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    token_count,
)
from mwas_rfam_spark.plans.testdata_mwas import (
    mwas_catalog_from_orders,
    mwas_input_from_events,
    mwas_metadata_long_from_customer,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table with the ts column normalized to epoch-nanos
    long regardless of the parquet generation's timestamp physical type
    (see plans/testdata_mwas.ensure_epoch_nanos)."""
    from mwas_rfam_spark.plans.testdata_mwas import load

    return load(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# flagship — full MWAS pipeline
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the complete MWAS engine (catalog join → RPM → metadata
    condensation → cohort split → Welch t / seeded permutation tests) over
    MWAS-shaped views derived from /root/testdata/sf0.001."""
    # the driver hands us an untuned session; these are runtime-settable
    for k, v in {
        "spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    sf_dir = "/root/testdata/sf0.001"
    cfg = MwasConfig(permutation_resamples=2000)
    input_df = mwas_input_from_events(spark, sf_dir)
    catalog_df = mwas_catalog_from_orders(spark, sf_dir)
    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    sets_df, ref_df = condense_metadata(meta)
    return run_mwas(input_df, catalog_df, sets_df, ref_df, cfg)


def _mwas_stats_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = MwasConfig()
    input_df = mwas_input_from_events(spark, sf_dir)
    catalog_df = mwas_catalog_from_orders(spark, sf_dir)
    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    # pin the multiply-consumed relations: cohort_stats joins sets/ref at
    # three points, and without pinning the whole condense subplan is
    # inlined at every use (measured: 20 scans of the same parquet in one
    # physical plan, no exchange reuse)
    sets_df, ref_df = condense_metadata(meta)
    rollup, sets_df, ref_df = _pin_inputs(input_df, catalog_df, sets_df, ref_df, cfg)
    return cohort_stats(rollup, sets_df, ref_df, cfg)


def q_mwas_cohort_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end relational MWAS through cohort stats + closed-form Welch
    t/df (everything except p-values, which need the t-distribution)."""
    stats = _mwas_stats_df(spark, sf_dir)
    filtered = stats.filter(
        (F.col("n_true") >= 2)
        & (F.col("n_false") >= 2)
        & ~((F.col("mean_rpm_true") == 0) & (F.col("mean_rpm_false") == 0))
    )
    vn1 = F.col("sd_rpm_true") ** 2 / F.col("n_true")
    vn2 = F.col("sd_rpm_false") ** 2 / F.col("n_false")
    welch = _welch_columns(filtered).filter((vn1 + vn2) > 0)
    return welch.select(
        "bio_project",
        F.col("group").alias("group_name"),
        "attributes",
        F.col("values").alias("set_values"),
        F.col("n_true").cast("long").alias("n_true"),
        F.col("n_false").cast("long").alias("n_false"),
        F.round("mean_rpm_true", 6).alias("mean_rpm_true"),
        F.round("mean_rpm_false", 6).alias("mean_rpm_false"),
        F.round("sd_rpm_true", 6).alias("sd_rpm_true"),
        F.round("sd_rpm_false", 6).alias("sd_rpm_false"),
        F.round("test_statistic", 6).alias("t_stat"),
        F.round("welch_df", 6).alias("welch_df"),
    )


_MWAS_CTES_HEAD = """
WITH nord AS (SELECT max(o_orderkey) AS n FROM orders),
inp AS (
  SELECT 'R' || CAST((event_id % (SELECT n FROM nord)) + 1 AS VARCHAR) AS run,
         event_type AS grp, value AS quantifier
  FROM events),
cat AS (
  SELECT 'PRJ' || CAST(c_nationkey AS VARCHAR) AS bp,
         'SAM' || CAST(c_custkey AS VARCHAR) AS bs,
         'R' || CAST(o_orderkey AS VARCHAR) AS run,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS spots
  FROM orders JOIN customer ON o_custkey = c_custkey),
resolved AS (
  SELECT c.bp, c.bs, i.grp,
         COALESCE(i.quantifier, 0)
           / (CASE WHEN c.spots = 0 THEN 1000000 ELSE c.spots END) * 1000000 AS rpm
  FROM inp i JOIN cat c ON i.run = c.run),
ru AS (SELECT bp, grp, bs, avg(rpm) AS rpm FROM resolved GROUP BY 1, 2, 3),
meta0 AS (
  SELECT 'PRJ' || CAST(c_nationkey AS VARCHAR) AS bp,
         'SAM' || CAST(c_custkey AS VARCHAR) AS bs,
         t.attribute, t.attr_pos, t.value
  FROM customer, LATERAL (VALUES
    ('mktsegment', 0, c_mktsegment),
    ('balance_bucket', 1, CASE WHEN c_acctbal < 0 THEN 'negative'
                               WHEN c_acctbal < 5000 THEN 'low'
                               ELSE 'high' END)) AS t(attribute, attr_pos, value))"""

# the full-metadata chain (standard) and the first-8-biosamples-per-
# bioproject restriction (the exact-enumeration permutation fixture)
_META_FULL = ",\nmeta AS (SELECT * FROM meta0)"
_META_FIRST8 = """,
keep8 AS (
  SELECT bp, bs FROM (SELECT DISTINCT bp, bs FROM meta0)
  QUALIFY row_number() OVER (PARTITION BY bp ORDER BY length(bs), bs) <= 8),
meta AS (SELECT m.* FROM meta0 m JOIN keep8 k ON m.bp = k.bp AND m.bs = k.bs)"""

_MWAS_CTES_TAIL = """,
ref AS (SELECT bp, count(DISTINCT bs) AS n FROM meta GROUP BY 1
        HAVING count(DISTINCT bs) >= 3),
-- a COLUMN is (attribute, attr_pos): prune per column, and membership
-- joins carry attr_pos, so duplicate attribute names stay independent
-- (r12 lockstep with condense_metadata's window partition). informative
-- mirrors condense_metadata's filter of the same name (pandas NA tokens ==
-- missing; the synthetic values never contain them, so this is the
-- lockstep guard, not a behavior change on this corpus)
informative AS (
  SELECT * FROM meta
  WHERE value IS NOT NULL AND value NOT IN
    ('', '#N/A', '#N/A N/A', '#NA', '-1.#IND', '-1.#QNAN', '-NaN',
     '-nan', '1.#IND', '1.#QNAN', '<NA>', 'N/A', 'NA', 'NULL', 'NaN',
     'None', 'n/a', 'nan', 'null')),
nuniq AS (SELECT bp, attribute, attr_pos, count(DISTINCT value) AS nu
          FROM informative GROUP BY 1, 2, 3),
factors AS (
  SELECT m.bp, m.attribute, m.attr_pos, m.value,
         count(DISTINCT m.bs) AS cnt,
         md5(string_agg(DISTINCT m.bs, chr(31) ORDER BY m.bs)) AS sig
  FROM informative m GROUP BY 1, 2, 3, 4),
pruned AS (
  SELECT f.*, r.n FROM factors f
  JOIN nuniq u ON f.bp = u.bp AND f.attribute = u.attribute
                AND f.attr_pos = u.attr_pos
  JOIN ref r ON f.bp = r.bp
  WHERE u.nu > 1 AND u.nu < r.n AND f.cnt >= 2 AND f.cnt < r.n),
sets AS (
  SELECT bp, sig, any_value(n) AS n, any_value(cnt) AS cnt,
         string_agg(attribute, '; ' ORDER BY attr_pos, value) AS attributes,
         string_agg(value, '; ' ORDER BY attr_pos, value) AS set_values
  FROM pruned GROUP BY bp, sig),
membership AS (
  SELECT DISTINCT m.bp, p.sig, m.bs
  FROM meta m JOIN pruned p
    ON m.bp = p.bp AND m.attribute = p.attribute
   AND m.attr_pos = p.attr_pos AND m.value = p.value),
uni AS (SELECT DISTINCT bp, bs FROM meta),
group_stats AS (
  SELECT r.bp, r.grp, count(*) AS n_obs, sum(r.rpm) AS sum_all,
         sum(r.rpm * r.rpm) AS ss_all
  FROM ru r JOIN uni u ON r.bp = u.bp AND r.bs = u.bs
  JOIN ref ON r.bp = ref.bp
  GROUP BY 1, 2),
memstats AS (
  SELECT mem.bp, mem.sig, r.grp, count(*) AS n_obs_m,
         sum(r.rpm) AS sum_m, sum(r.rpm * r.rpm) AS ss_m
  FROM membership mem JOIN ru r ON mem.bp = r.bp AND mem.bs = r.bs
  GROUP BY 1, 2, 3),
pairs AS (
  SELECT s.bp, s.sig, g.grp, s.attributes, s.set_values,
         s.cnt AS n_true, s.n - s.cnt AS n_false,
         COALESCE(ms.sum_m, 0) AS sum_true,
         g.sum_all - COALESCE(ms.sum_m, 0) AS sum_false,
         COALESCE(ms.ss_m, 0) AS ss_true,
         g.ss_all - COALESCE(ms.ss_m, 0) AS ss_false
  FROM sets s
  JOIN group_stats g ON s.bp = g.bp
  LEFT JOIN memstats ms ON s.bp = ms.bp AND s.sig = ms.sig AND g.grp = ms.grp),
stats AS (
  SELECT bp AS bio_project, grp AS group_name, attributes, set_values,
         CAST(n_true AS BIGINT) AS n_true, CAST(n_false AS BIGINT) AS n_false,
         sum_true / n_true AS mean_t, sum_false / n_false AS mean_f,
         sqrt(greatest(ss_true / n_true - (sum_true / n_true) ^ 2, 0)) AS sd_t,
         sqrt(greatest(ss_false / n_false - (sum_false / n_false) ^ 2, 0)) AS sd_f
  FROM pairs
  WHERE n_true >= 2 AND n_false >= 2
    AND NOT (sum_true / n_true = 0 AND sum_false / n_false = 0))
"""

_MWAS_ORACLE_CTES = _MWAS_CTES_HEAD + _META_FULL + _MWAS_CTES_TAIL
_MWAS_CTES_FIRST8 = _MWAS_CTES_HEAD + _META_FIRST8 + _MWAS_CTES_TAIL

_MWAS_ORACLE = (
    _MWAS_ORACLE_CTES
    + """
SELECT bio_project, group_name, attributes, set_values, n_true, n_false,
       round(mean_t, 6) AS mean_rpm_true, round(mean_f, 6) AS mean_rpm_false,
       round(sd_t, 6) AS sd_rpm_true, round(sd_f, 6) AS sd_rpm_false,
       round((mean_t - mean_f) / sqrt(sd_t ^ 2 / n_true + sd_f ^ 2 / n_false), 6) AS t_stat,
       round((sd_t ^ 2 / n_true + sd_f ^ 2 / n_false) ^ 2
             / ((sd_t ^ 2 / n_true) ^ 2 / (n_true - 1)
                + (sd_f ^ 2 / n_false) ^ 2 / (n_false - 1)), 6) AS welch_df
FROM stats
WHERE (sd_t ^ 2 / n_true + sd_f ^ 2 / n_false) > 0
"""
)


# Full 18-column t_test_only output (see q_mwas_t_only_full). Significance
# at threshold 1.1 ⟺ p finite ⟺ pooled variance vsum > 0 (vsum == 0 makes
# the Welch df 0/0 → NaN → p NaN, engine functions/stattests.py
# `betainc_reg`).
# List contents: the true list is ALWAYS the factor-matching cohort and the
# false list its complement (the minority encoding cancels against the
# include-swap), but the too-many GATES follow the reference's pre-swap
# sizes (mg:427-432): the match list is gated by n_true when include else
# n_false, and vice versa.
_T_ONLY_CTES = (
    _MWAS_ORACLE_CTES
    + """
, skipflags AS (
  SELECT bp, grp, count(*) < 3 AS skip_tests FROM resolved GROUP BY 1, 2),
matchlists AS (
  SELECT bp, sig, string_agg(bs, '; ' ORDER BY bs) AS match_str
  FROM membership GROUP BY 1, 2),
complists AS (
  SELECT m2.bp, m2.sig, string_agg(u.bs, '; ' ORDER BY u.bs) AS nonmatch_str
  FROM (SELECT DISTINCT bp, sig FROM membership) m2
  JOIN uni u ON u.bp = m2.bp
  LEFT JOIN membership mm ON mm.bp = m2.bp AND mm.sig = m2.sig AND mm.bs = u.bs
  WHERE mm.bs IS NULL
  GROUP BY 1, 2),
fullrows AS (
  SELECT p.bp, p.grp, p.sig, p.attributes, p.set_values,
         p.n_true, p.n_false,
         (p.n_true < s2.n / 2.0) AS include,
         p.sum_true / p.n_true AS mean_t,
         p.sum_false / p.n_false AS mean_f,
         sqrt(greatest(p.ss_true / p.n_true - (p.sum_true / p.n_true) ^ 2, 0)) AS sd_t,
         sqrt(greatest(p.ss_false / p.n_false - (p.sum_false / p.n_false) ^ 2, 0)) AS sd_f,
         COALESCE(k.skip_tests, TRUE) AS skip_tests
  FROM pairs p
  JOIN sets s2 ON p.bp = s2.bp AND p.sig = s2.sig
  LEFT JOIN skipflags k ON p.bp = k.bp AND p.grp = k.grp
  WHERE p.n_true >= 2 AND p.n_false >= 2
    AND NOT (p.sum_true / p.n_true = 0 AND p.sum_false / p.n_false = 0)),
final AS (
  SELECT f.*, (sd_t ^ 2 / n_true + sd_f ^ 2 / n_false) AS vsum,
         ml.match_str, cl.nonmatch_str
  FROM fullrows f
  LEFT JOIN matchlists ml ON f.bp = ml.bp AND f.sig = ml.sig
  LEFT JOIN complists cl ON f.bp = cl.bp AND f.sig = cl.sig)
"""
)

_MWAS_T_ONLY_FULL_ORACLE = (
    _T_ONLY_CTES
    + """
SELECT bp AS bioproject, grp AS group_name,
       replace(attributes, ',', ' ') AS metadata_field,
       replace(set_values, ',', ' ') AS metadata_value,
       CASE WHEN skip_tests THEN 'skipped_statistical_testing'
            WHEN vsum > 0 THEN 't_test; significant'
            ELSE 't_test' END AS status,
       CAST(0.0 AS DOUBLE) AS runtime_seconds,
       CAST(0 AS BIGINT) AS memory_usage_bytes,
       CAST(n_true AS INT) AS num_true,
       CAST(n_false AS INT) AS num_false,
       round(mean_t, 6) AS mean_rpm_true,
       round(mean_f, 6) AS mean_rpm_false,
       round(sd_t, 6) AS sd_rpm_true,
       round(sd_f, 6) AS sd_rpm_false,
       CASE WHEN skip_tests THEN NULL
            WHEN mean_t = 0 AND mean_f = 0 THEN 'zero'
            WHEN mean_t = 0 THEN 'neg_inf'
            WHEN mean_f = 0 THEN 'pos_inf'
            ELSE 'ratio' END AS fc_class,
       CASE WHEN NOT skip_tests AND mean_t <> 0 AND mean_f <> 0
            THEN round(log2(mean_t / mean_f), 6) END AS fc_value,
       CASE WHEN NOT skip_tests AND vsum > 0
            THEN round((mean_t - mean_f) / sqrt(vsum), 6) END AS t_stat,
       CASE WHEN NOT skip_tests AND vsum > 0 THEN
            CASE WHEN (CASE WHEN include THEN n_true ELSE n_false END) < 1000
                 THEN match_str ELSE 'too many biosamples to list' END
            ELSE '' END AS true_biosamples,
       CASE WHEN NOT skip_tests AND vsum > 0 THEN
            CASE WHEN (CASE WHEN include THEN n_false ELSE n_true END) < 1000
                 THEN nonmatch_str ELSE 'too many biosamples to list' END
            ELSE '' END AS false_biosamples
FROM final
"""
)


# A9 summary aggregates over the t_only relation — every input column is
# SQL-derivable (runtimes/memory are the constant 0 in t-test mode), so the
# results-analytics operator itself gets a hash-verified row.
_MWAS_SUMMARY_T_ONLY_ORACLE = (
    _T_ONLY_CTES
    + """
, summary AS (
  SELECT bp,
         count(*) AS number_tests,
         CAST(0 AS BIGINT) AS number_permutation_tests,
         count(CASE WHEN skip_tests THEN 1 END) AS number_skipped_tests,
         count(DISTINCT replace(attributes, ',', ' ') || chr(30) ||
               replace(set_values, ',', ' ')) AS number_metadata_sets,
         count(DISTINCT grp) AS number_groups,
         count(CASE WHEN NOT skip_tests AND vsum > 0 THEN 1 END) AS num_significant
  FROM final GROUP BY 1)
SELECT s.bp AS bioproject, s.number_tests, s.number_permutation_tests,
       s.number_skipped_tests, s.number_metadata_sets, s.number_groups,
       s.num_significant,
       CAST(0.0 AS DOUBLE) AS max_runtime,
       CAST(0.0 AS DOUBLE) AS avg_runtime,
       CAST(NULL AS DOUBLE) AS avg_perms_runtime,
       CAST(0.0 AS DOUBLE) AS total_runtime,
       CAST(0 AS BIGINT) AS max_memory,
       CAST(0.0 AS DOUBLE) AS avg_memory,
       CAST(r.n AS BIGINT) AS num_biosamples,
       CAST(0 AS BIGINT) AS weight
FROM summary s JOIN ref r ON s.bp = r.bp
"""
)


# ---------------------------------------------------------------------------
# relational operator queries (SURVEY.md §2)
# ---------------------------------------------------------------------------


def q_s1_scan_project(spark, sf_dir):
    """S1/P1 — projection + pushed-down filter on the parquet scan."""
    return (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


def q_p_predicates(spark, sf_dir):
    """P2/P4/P5/P7/P8 — equality, prefix, membership, threshold, substring."""
    o = _t(spark, sf_dir, "orders")
    return o.where(
        (F.col("o_orderstatus") == "O")
        & F.col("o_orderpriority").startswith("1")
        & (F.col("o_totalprice") > 50_000)
        & F.col("o_orderpriority").contains("URGENT")
    ).select("o_orderkey", "o_custkey", "o_totalprice")


def q_j1_outer_join_agg(spark, sf_dir):
    """J1/P12 — full outer join + null-fill + aggregate (input⟗catalog analog)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "full_outer")
        .groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.sum(F.coalesce("o_totalprice", F.lit(0.0))), 4).alias("total"),
        )
    )


def q_j4_cascading_lookup(spark, sf_dir):
    """J2/J3/J4 — inner + broadcast-lookup joins with coalesce fallback."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey, "left")
        .join(p, li.l_partkey == p.p_partkey, "left")
        .withColumn("resolved_val", F.coalesce("s_acctbal", "p_retailprice", F.lit(-1.0)))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("resolved_val"), 4).alias("sum_resolved"),
        )
    )


def q_j6_semi_join(spark, sf_dir):
    """J6 — left-semi join (IN-list pushdown analog)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
    )


def q_so1_anti_join(spark, sf_dir):
    """SO1 — anti-join: customers with NO high-value order (>300k).

    The unfiltered customers-without-orders variant is 0 rows on the
    driver's synthetic data (every customer has an order), which made the
    oracle row trivially green; filtering the right side keeps left_anti
    semantics and yields survivors at every SF (3 / 30 / 308)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return (
        c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_customers"))
    )


def q_a2_count_distinct(spark, sf_dir):
    """A1/A2 — distinct-count profile (nunique pruning decision)."""
    p = _t(spark, sf_dir, "part")
    return p.agg(
        F.countDistinct("p_brand").alias("n_brand"),
        F.countDistinct("p_type").alias("n_type"),
        F.countDistinct("p_size").alias("n_size"),
        F.count("*").alias("n_rows"),
    )


def q_a3_value_counts(spark, sf_dir):
    """A3 — value frequency with HAVING count >= 2 (factor pruning)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand", "p_size")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= 2)
    )


def q_a4_two_level_rollup(spark, sf_dir):
    """A4/A6 — biosample-rollup analog: per-entity mean then cohort stats."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.avg("o_totalprice").alias("cust_avg"))
    )
    return per_cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_cust"),
        F.round(F.avg("cust_avg"), 4).alias("mean_avg"),
        F.round(F.stddev_pop("cust_avg"), 4).alias("sd_avg"),
    )


def q_a5_conditional_count(spark, sf_dir):
    """A5 — conditional counts (nonzeros-threshold analog)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.when(F.col("value") > 100, True)).alias("n_big"),
        F.count("*").alias("n"),
    )


def q_a7_signature_dedup(spark, sf_dir):
    """A7 — identical-cohort dedup via sorted-membership signature."""
    p = _t(spark, sf_dir, "part")
    per_brand = p.groupBy("p_brand").agg(
        F.sort_array(F.collect_set("p_size")).alias("sizes")
    )
    sig = per_brand.withColumn(
        "sig", F.md5(F.concat_ws(",", F.transform("sizes", lambda x: x.cast("string"))))
    )
    return sig.groupBy("sig").agg(
        F.count("*").alias("n_brands"),
        F.array_join(F.sort_array(F.collect_list("p_brand")), "; ").alias("brands"),
    )


def q_a9_summary_agg(spark, sf_dir):
    """A9 — summary aggregates incl. conditional mean (results-analyze)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
        F.round(
            F.avg(F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))),
            4,
        ).alias("avg_urgent_price"),
        F.count("*").alias("n"),
    )


def q_a12_capped_list_agg(spark, sf_dir):
    """A12 — '; '-joined list aggregation with too-many cap."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    per_nation = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_supp"),
            F.sort_array(F.collect_list("s_name")).alias("names"),
        )
    )
    return per_nation.select(
        "n_name",
        "n_supp",
        F.when(F.col("n_supp") < 5, F.array_join("names", "; "))
        .otherwise(F.lit("too many to list"))
        .alias("suppliers"),
    )


def q_w1_topk_sort(spark, sf_dir):
    """W1/W5 — global sort + limit (deterministic tie-break)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(20)
    )


def q_w5_topk_per_group(spark, sf_dir):
    """Window extension — top-3 per group: a per-group window's
    parallelism is the GROUP COUNT, and 3 groups at 100 TB would be 3
    giant sorts without a bound; the optimizer's WindowGroupLimit
    pushes a task-local top-k below the exchange (r12 dropped the
    hand-rolled prefilter after it benchmarked strictly worse)."""
    from mwas_rfam_spark.operators.topk import top_k_per_group

    li = _t(spark, sf_dir, "lineitem")
    out = top_k_per_group(
        li,
        ["l_returnflag"],
        [F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        k=3,
    )
    return out.select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rank"
    )


def q_f_string_funcs(spark, sf_dir):
    """F3/F4/F5/F6 — replace, concat_ws, split/element_at, case convert."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.element_at(F.split("p_type", " "), 1).alias("type_first_word"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
    )


def q_f1_fold_change(spark, sf_dir):
    """F1 — log2 fold change with sentinel case classes."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.when(F.col("c_mktsegment") == "BUILDING", F.col("o_totalprice"))).alias("b"),
            F.sum(F.when(F.col("c_mktsegment") == "AUTOMOBILE", F.col("o_totalprice"))).alias("a"),
        )
    )
    return per.select(
        "c_nationkey",
        F.when(F.col("b").isNull() & F.col("a").isNull(), "both_missing")
        .when(F.col("b").isNull(), "true_missing")
        .when(F.col("a").isNull(), "false_missing")
        .otherwise("ratio")
        .alias("case_class"),
        F.when(
            F.col("b").isNotNull() & F.col("a").isNotNull(),
            F.round(F.log2(F.col("b") / F.col("a")), 6),
        ).alias("fold_change"),
    )


def q_f2_rpm_normalize(spark, sf_dir):
    """F2/P11 — RPM normalization over the derived input⋈catalog."""
    cfg = MwasConfig()
    resolved = resolve_and_normalize(
        mwas_input_from_events(spark, sf_dir),
        mwas_catalog_from_orders(spark, sf_dir),
        cfg,
    )
    return resolved.groupBy(F.col("group").alias("group_name")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("rpm"), 6).alias("avg_rpm"),
    )


def q_t1_welch_from_stats(spark, sf_dir):
    """T1 — Welch t + Satterthwaite df from summary stats, closed form."""
    li = _t(spark, sf_dir, "lineitem")
    sides = li.groupBy((F.col("l_returnflag") == "R").alias("is_true")).agg(
        F.count("*").alias("n"),
        F.avg("l_discount").alias("m"),
        F.stddev_pop("l_discount").alias("s"),
    )
    t_side = sides.where("is_true").select(
        F.col("n").alias("n1"), F.col("m").alias("m1"), F.col("s").alias("s1")
    )
    f_side = sides.where(~F.col("is_true")).select(
        F.col("n").alias("n2"), F.col("m").alias("m2"), F.col("s").alias("s2")
    )
    both = t_side.crossJoin(F.broadcast(f_side))  # two 1-row aggregates
    vn1 = F.col("s1") ** 2 / F.col("n1")
    vn2 = F.col("s2") ** 2 / F.col("n2")
    return both.select(
        "n1",
        "n2",
        F.round("m1", 6).alias("m1r"),
        F.round("m2", 6).alias("m2r"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(vn1 + vn2), 6).alias("t_stat"),
        F.round(
            (vn1 + vn2) ** 2 / (vn1**2 / (F.col("n1") - 1) + vn2**2 / (F.col("n2") - 1)),
            6,
        ).alias("welch_df"),
    )


_J5_SQL = """
    SELECT s.s_name, n.n_name, count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE l.l_quantity > 25
    GROUP BY s.s_name, n.n_name
    HAVING count(*) >= 2
"""


def q_j5_sql_api(spark, sf_dir):
    """J5 — raw SQL over registered views (the reference's server-side SQL
    join mode); Catalyst compiles it to the same plan as the DataFrame
    API, pushdown included."""
    from mwas_rfam_spark.plans.sql_api import sql

    return sql(spark, _J5_SQL, sf_dir)


def q_condense_sets(spark, sf_dir):
    """§2.9 — the full metadata-condensation pipeline (melt → prune →
    factor cohorts → minority encoding → signature dedup) surfaced as its
    own relation."""
    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    # carry_n replaces the sets ⋈ ref output join: every sets row already
    # joined ref at the pruning stage, so re-joining only re-aggregated
    # the biosample universe a second time (plan audit r13: the ref
    # subtree + melt scan appeared twice, no exchange reuse)
    sets_df, _ref_df = condense_metadata(meta, carry_n=True)
    return sets_df.select(
        "bioproject",
        "attributes",
        F.col("values").alias("set_values"),
        F.size("members").cast("long").alias("n_members"),
        "include",
        F.col("n").cast("long").alias("n_biosamples"),
    )


def q_condense_readable(spark, sf_dir):
    """S5/SO2 — condensed sets exported human-readable: minority-side
    encoding expanded back to explicit included-biosample accessions."""
    from mwas_rfam_spark.operators.condense import sets_to_readable

    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    sets_df, ref_df = condense_metadata(meta)
    r = sets_to_readable(sets_df, ref_df)
    return r.select(
        "bioproject",
        "attributes",
        F.col("values").alias("set_values"),
        "n_included",
        "included_biosamples",
    )


def q_j7_positional_join(spark, sf_dir):
    """J7 — positional join: posexplode a sorted ref array back to rows,
    join on the value to recover per-position attributes."""
    s = _t(spark, sf_dir, "supplier")
    ref = s.groupBy("s_nationkey").agg(
        F.sort_array(F.collect_list("s_name")).alias("names")
    )
    pos = ref.select("s_nationkey", F.posexplode("names").alias("pos", "s_name"))
    return pos.join(s, ["s_nationkey", "s_name"]).select(
        "s_nationkey",
        F.col("pos").cast("long").alias("pos"),
        "s_name",
        F.round("s_acctbal", 4).alias("acctbal"),
    )


def q_so2_complement(spark, sf_dir):
    """SO2 — exclude-list → include-list complement over range(n) via
    array_except(sequence(...), positions)."""
    s = _t(spark, sf_dir, "supplier")
    per = s.groupBy("s_nationkey").agg(
        F.sort_array(F.collect_list("s_name")).alias("names"),
        F.sort_array(
            F.collect_set(F.when(F.col("s_acctbal") < 0, F.col("s_name")))
        ).alias("neg_names"),
    )
    neg_pos = F.transform("neg_names", lambda nm: F.array_position("names", nm) - 1)
    comp = F.array_except(
        F.sequence(F.lit(0).cast("long"), (F.size("names") - 1).cast("long")), neg_pos
    )
    return per.select(
        "s_nationkey", F.explode(comp).alias("pos"), "names"
    ).select(
        "s_nationkey",
        "pos",
        F.element_at("names", (F.col("pos") + 1).cast("int")).alias("name"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline extensions
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups by content hash; member list capped at 4 ids
    with an overflow marker (the unbounded per-group array is opt-in)."""
    d = _t(spark, sf_dir, "documents")
    return exact_dedup_groups(d, doc_ids_cap=4).select(
        "content_hash",
        "n_docs",
        "keep_id",
        F.array_join("doc_ids", ";").alias("doc_ids"),
        "doc_ids_truncated",
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Word-3-gram Jaccard near-dup pairs (inverted-index formulation)."""
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, n=3, threshold=0.5, max_df=None).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates (engine-only: xxhash64 family)."""
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, num_hashes=64, bands=16, threshold=0.5).select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def q_s13_synthetic_input(spark, sf_dir):
    """S13 — deterministic stratified synthetic input generator (bucket by
    log2 size, top-k per bucket, hash-derived group/quantifier)."""
    from mwas_rfam_spark.plans.sampling import stratified_synthetic_input

    cat = mwas_catalog_from_orders(spark, sf_dir)
    return stratified_synthetic_input(cat, per_bucket=2)


def q_mwas_summary(spark, sf_dir):
    """A9 — per-bioproject results analytics over the full MWAS output
    (rows-only: aggregates over permutation p-values)."""
    from mwas_rfam_spark.operators.summary import summarize_results

    cfg = MwasConfig(permutation_resamples=1000)
    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    sets_df, ref_df = condense_metadata(meta)
    out = run_mwas(
        mwas_input_from_events(spark, sf_dir),
        mwas_catalog_from_orders(spark, sf_dir),
        sets_df,
        ref_df,
        cfg,
    )
    return summarize_results(out, ref_df)


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs via banded Hamming-LSH (engine-only:
    xxhash64 bit votes — no SQL-expressible oracle)."""
    d = _t(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(d, max_hamming=3, bands=4)


def q_dedup_minhash_md5(spark, sf_dir):
    """Cross-engine MinHash LSH (md5 string min-hash family) — the whole
    signature → band → candidate → estimate pipeline is hash-verified."""
    from mwas_rfam_spark.operators.dedup import minhash_lsh_pairs_md5

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs_md5(d, num_hashes=32, bands=8, threshold=0.5).select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def q_dedup_simhash32(spark, sf_dir):
    """32-bit md5 SimHash per document — the cross-engine-checkable
    SimHash (bit votes from md5 hex-digit bits)."""
    from mwas_rfam_spark.operators.dedup import simhash32_md5

    d = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    return simhash32_md5(d).withColumnRenamed("id", "doc_id")


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, blocked by label.

    Threshold 0.35: the driver's regenerated embeddings top out at
    cosine ~0.45-0.51 within label blocks, so the old 0.9 produced a
    trivially green 0-row oracle entry; 0.35 yields 14 / 26 / 391 pairs
    at sf0.001 / 0.01 / 0.1 — real arithmetic is pinned by the hash."""
    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(e, threshold=0.35).select(
        "id_a", "id_b", F.round("cosine", 5).alias("cosine")
    )


def q_multimodal_meta(spark, sf_dir):
    """Multimodal: opaque binary payload + typed metadata struct; filters
    on metadata never touch payload bytes."""
    m = attach_binary(_t(spark, sf_dir, "documents"))
    return m.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.sha256").alias("sha"),
        F.col("media_meta.magic").alias("magic"),
        F.col("media_meta.media_type").alias("media_type"),
    )


def q_multimodal_decode(spark, sf_dir):
    """Multimodal: Arrow-batched mapInPandas image decode (deterministic
    sha256-derived fake — reproducible in ANSI SQL, so even the Python
    stage is oracle-checked)."""
    m = attach_binary(_t(spark, sf_dir, "documents"))
    return decode_images(m, fake=True)


def q_multimodal_audio(spark, sf_dir):
    """Multimodal: mapInPandas audio feature extraction (stubbed decode,
    real Spark plumbing)."""
    m = attach_binary(_t(spark, sf_dir, "documents"))
    return extract_audio_features(m, fake=True).select(
        "doc_id",
        "sample_rate",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
    )


def q_multimodal_pipeline(spark, sf_dir):
    """The full multimodal surface in one hash-verified entry (absorbed
    the former `multimodal_meta` / `multimodal_decode` / `multimodal_audio`
    rows — driver caps the correctness gate at 50 entries): opaque binary
    payload + typed metadata struct, Arrow-batched mapInPandas image
    decode (doc_id % 3 == 0 rows) and audio feature extraction
    (doc_id % 3 == 1 rows), left-joined back so each document carries its
    metadata plus whichever modality decoded. The deterministic
    sha256-derived fakes keep even the Python stages oracle-checkable;
    bench still times the pure decode stage as `multimodal_decode`."""
    m = attach_binary(_t(spark, sf_dir, "documents"))
    meta = m.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.sha256").alias("sha"),
        F.col("media_meta.magic").alias("magic"),
        F.col("media_meta.media_type").alias("media_type"),
    )
    img = decode_images(m, fake=True)
    aud = extract_audio_features(m, fake=True).select(
        "doc_id",
        "sample_rate",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
    )
    return meta.join(img, "doc_id", "left").join(aud, "doc_id", "left")


def q_text_lang_quality(spark, sf_dir):
    """Full per-document text profile — token counts (whitespace + BPE-ish),
    punctuation/stopword ratios, mean token length, quality score, heuristic
    language ID, prefix fingerprint — in a single-split plan (text is
    tokenized once; absorbed the former `text_stats` entry)."""
    from mwas_rfam_spark.operators.text import text_profile

    d = _t(spark, sf_dir, "documents").where(F.length("text") > 0)
    p = text_profile(d)
    return p.select(
        "doc_id",
        "n_tokens",
        "n_pieces",
        "n_chars",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("quality", 6).alias("quality"),
        "lang_pred",
        "fingerprint",
    )


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition filters (Rae et al. 2021, table A1):
    duplicate-line fraction, duplicate-line character fraction, top-n-gram
    character coverage (n=2,3,4) and duplicate-n-gram character coverage
    (n=5,10) per document — the standard pre-training repetition gates.
    Fully relational (explode → two doc-keyed shuffles), so the exact
    pipeline reproduces in ANSI SQL."""
    from mwas_rfam_spark.operators.text import repetition_profile

    d = _t(spark, sf_dir, "documents")
    p = repetition_profile(d)
    return p.select(
        "doc_id",
        "n_lines",
        *[
            F.round(c, 6).alias(c)
            for c in (
                "dup_line_frac",
                "dup_line_char_frac",
                "top2gram_char_frac",
                "top3gram_char_frac",
                "top4gram_char_frac",
                "dup5gram_char_frac",
                "dup10gram_char_frac",
            )
        ],
    )


def q_text_bigram_quality(spark, sf_dir):
    """Bigram-LM quality scoring (perplexity proxy), hash-verified: train
    the add-one-smoothed bigram model on the corpus and score each
    document's mean log2 P(w2|w1) under it. The whole model — counts,
    vocabulary size, smoothing — is relational, so the Python-free
    pipeline reproduces exactly in ANSI SQL."""
    from mwas_rfam_spark.operators.text import bigram_logprob, train_bigram_counts

    d = _t(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    bigrams, unigrams = train_bigram_counts(d)
    # model hyperparameter (like the IVF centroids): V = |{w2}| of the
    # trained model — a scalar from the tiny count relation, not data
    v = bigrams.select("w2").distinct().count()
    out = bigram_logprob(d, bigrams, unigrams, vocab_size=v)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_bigrams",
        F.round("mean_log2p", 6).alias("mean_log2p"),
    )


def q_text_winnowing(spark, sf_dir):
    """Winnowing (rolling-hash window-min) fingerprints — shared
    substrings of length >= k+w-1 are guaranteed a common fingerprint."""
    from mwas_rfam_spark.operators.text import winnowing_fingerprints

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return winnowing_fingerprints(d, k=8, w=4).withColumnRenamed("id", "doc_id")


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k against the min-id embedding as query."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = (
        e.orderBy("vec_id").select("embedding").limit(1).collect()[0]["embedding"]
    )
    top = brute_force_topk(e, [float(x) for x in qvec], k=10)
    return top.select("vec_id", F.round("cosine", 5).alias("cosine"))


def q_ann_knn_batch(spark, sf_dir):
    """Batch k-NN: broadcast query side, per-query ranking window."""
    from mwas_rfam_spark.operators.similarity import knn_per_query

    e = _t(spark, sf_dir, "embeddings")
    qs = (
        e.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    out = knn_per_query(e, qs, k=5)
    return out.select(
        "q_id",
        "vec_id",
        F.round("cosine", 5).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


_PQ_CODEBOOK_CACHE: dict[tuple, list] = {}


def _pq_codebooks(spark, sf_dir, m=8, k=32, iters=5):
    """PQ codebooks trained once per (sf_dir, m, k, iters) per process —
    codebook training is an index-build step (deterministic seeded
    k-means on a bounded sample), not part of the search query, same
    policy as :func:`_ivf_centroids`."""
    from mwas_rfam_spark.operators.quantization import train_pq_codebooks

    key = (sf_dir, m, k, iters)
    if key not in _PQ_CODEBOOK_CACHE:
        e = _t(spark, sf_dir, "embeddings")
        _PQ_CODEBOOK_CACHE[key] = train_pq_codebooks(
            e, m=m, k=k, iters=iters, sample_size=512
        )
    return _PQ_CODEBOOK_CACHE[key]


def q_pq_adc_topk(spark, sf_dir):
    """Product-quantization two-stage search (Jégou et al. TPAMI'11;
    extension — the reference has no vector surface): the corpus-wide
    scan reads 8-byte PQ codes instead of 256-byte vectors (32× smaller
    at 100 TB), ADC ranks a rerank pool via per-subspace lookup-table
    sums inside codegen, and the exact distance re-ranks only the
    broadcast candidate ids. Bench-only surface (registry is at the
    driver's 50-entry cap); correctness is pinned by
    tests/test_quantization.py: ADC == LUT-sum exactly, refined top-k
    == numpy exact top-k."""
    from mwas_rfam_spark.operators.quantization import pq_encode, pq_topk_refined

    e = _t(spark, sf_dir, "embeddings")
    qvec = e.orderBy("vec_id").select("embedding").limit(1).collect()[0]["embedding"]
    books = _pq_codebooks(spark, sf_dir)
    codes = pq_encode(e, books)
    top = pq_topk_refined(codes, e, [float(x) for x in qvec], books, k=10, rerank=200)
    return top.select("vec_id", F.round("dist", 5).alias("dist"))


_SQ_PARAMS_CACHE: dict[str, dict] = {}


def q_sq8_topk(spark, sf_dir):
    """8-bit scalar-quantized two-stage search (bench surface): the
    corpus scan reads SQ8 codes (4× narrower than float32), scoring is
    one zip_with against a premultiplied query folded driver-side, and
    exact cosine re-ranks only the broadcast candidate pool.
    Correctness pinned by tests/test_quantization.py (numpy parity on
    decoded codes, refined == exact brute force, DuckDB replay of the
    encode + folded-query arithmetic). Params are one min/max pass,
    memoized per process (build-vs-probe)."""
    from mwas_rfam_spark.operators.quantization import (
        sq_encode,
        sq_topk_refined,
        train_sq_params,
    )

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    if sf_dir not in _SQ_PARAMS_CACHE:
        _SQ_PARAMS_CACHE[sf_dir] = train_sq_params(e)
    params = _SQ_PARAMS_CACHE[sf_dir]
    qvec = [float(x) for x in e.orderBy("vec_id").first()["embedding"]]
    codes = sq_encode(e, params)
    top = sq_topk_refined(e, codes, qvec, params, k=10, rerank=50)
    return top.select("vec_id", F.round("cosine", 5).alias("cosine"))


_IVF_CENTROID_CACHE: dict[tuple, list] = {}


def _ivf_centroids(spark, sf_dir, k=8, iters=2):
    """Coarse quantizer trained once per (sf_dir, k, iters) per process.
    Index construction is a build step, not part of the probe query —
    the seeded Lloyd iterations are deterministic, so memoizing changes
    nothing about results while letting the bench time probe-vs-scan
    instead of folding ~2 distributed training passes into every run."""
    from mwas_rfam_spark.operators.similarity import train_ivf_centroids

    key = (sf_dir, k, iters)
    if key not in _IVF_CENTROID_CACHE:
        e = _t(spark, sf_dir, "embeddings")
        _IVF_CENTROID_CACHE[key] = train_ivf_centroids(e, k=k, iters=iters)
    return _IVF_CENTROID_CACHE[key]


_IVF_INDEX_CACHE: dict[str, tuple[str, list]] = {}


def _ivf_index(spark, sf_dir, k=8, iters=2):
    """Session-scoped IVF index build (index construction is a build
    step, not part of the probe query): centroids from the memoized
    seeded Lloyd trainer, then vectors + centroids materialized as
    parquet at a deterministic per-SF path
    (``spark-warehouse/ivf_index/<sf>``). Rebuilt once per process so a
    driver-side testdata regeneration can never leave a stale index
    behind; the oracle replays probe + top-k over the SAME files."""
    import os

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse", "ivf_index", tag
    )
    if path not in _IVF_INDEX_CACHE:
        from mwas_rfam_spark.operators.similarity import materialize_ivf

        cents = _ivf_centroids(spark, sf_dir, k=k, iters=iters)
        materialize_ivf(_t(spark, sf_dir, "embeddings"), cents, path)
        _IVF_INDEX_CACHE[path] = (path, cents)
    return _IVF_INDEX_CACHE[path]


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN over the MATERIALIZED index (round-3 verdict task #1):
    probe = partition pruning on the cell-partitioned parquet, centroids
    stored beside the vectors, so the whole probe + top-k is
    oracle-replayable SQL over the same files. The entry was rows-only
    through round 3 only because it retrained centroids in-query."""
    from mwas_rfam_spark.operators.similarity import ivf_ann_topk_indexed

    e = _t(spark, sf_dir, "embeddings")
    qvec = e.orderBy("vec_id").select("embedding").limit(1).collect()[0]["embedding"]
    path, cents = _ivf_index(spark, sf_dir, k=8, iters=2)
    top = ivf_ann_topk_indexed(
        spark, f"{path}/vectors", [float(x) for x in qvec], cents, k=10, nprobe=3
    )
    return top.select("vec_id", F.round("cosine", 5).alias("cosine"))


def q_dedup_approx_eval(spark, sf_dir):
    """Approximation-quality report: precision/recall/F1 of MinHash-LSH
    and SimHash against the EXACT n-gram Jaccard relation on a bounded
    seeded slice (the pre-rollout measurement — complements the
    registered `dedup_quality` boolean recall GATE with the full
    numbers; bench-only surface, arithmetic pinned by
    tests/test_dedup.py::test_approx_dedup_quality_report's independent
    set recomputation)."""
    from mwas_rfam_spark.operators.dedup import approx_dedup_quality_report

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return approx_dedup_quality_report(
        docs, threshold=0.5, sample_docs=300, seed=3
    ).orderBy("method")


def q_semantic_decontam(spark, sf_dir):
    """Embedding-space benchmark decontamination (bench surface): the
    eval slice broadcast as a normalized matrix, training embeddings
    scanned once with a per-batch GEMM cosine block — EXACT, shuffle-
    free (the 100 TB cost is the train scan). Arithmetic pinned by
    tests/test_dedup.py's hand-model + blocked-path-agreement tests."""
    from mwas_rfam_spark.operators.dedup import semantic_decontaminate

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    eval_emb = e.where(F.col("vec_id") % 11 == 0)
    # the synthetic embeddings are near-orthogonal across any split, so
    # plant every 3rd eval item back into the training side under a
    # shifted id — the contamination the scan must find (plus whatever
    # organic near-matches exist)
    leaked = eval_emb.where(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    train = e.where(F.col("vec_id") % 11 != 0).unionByName(leaked)
    return semantic_decontaminate(train, eval_emb, threshold=0.9).select(
        "vec_id", "matched_eval_id", F.round("cosine", 5).alias("cosine")
    )


def q_ann_knn_join(spark, sf_dir):
    """Batch ANN retrieval (bench surface): k-NN JOIN for a 16-query
    batch, IVF-blocked — probe cells per query via broadcast GEMM, cell
    equi-join against the assigned corpus (broadcast query side, corpus
    never shuffles), two-phase per-query top-k. Exactness at
    nprobe=k_cells and probe semantics pinned by
    tests/test_similarity.py::test_ivf_knn_join_parity_and_probe_semantics."""
    from mwas_rfam_spark.operators.similarity import ivf_knn_join

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = _ivf_centroids(spark, sf_dir, k=8, iters=2)
    queries = e.orderBy("vec_id").limit(16).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ivf_knn_join(e, queries, cents, k=5, nprobe=3)
    return out.select("q_id", "vec_id", F.round("cosine", 5).alias("cosine"), "rank")


def q_ivfpq_knn_join(spark, sf_dir):
    """Batch retrieval over the materialized IVF-PQ index (bench
    surface): a 16-query k-NN join whose corpus scan reads the 8-byte
    PQ codes (the 32x-narrower table), ADC via the per-query-LUT Arrow
    kernel, exact re-rank of survivors only. Single-query equivalence
    with the registered ivfpq_indexed entry is pytest-pinned."""
    from mwas_rfam_spark.operators.quantization import ivfpq_knn_join

    e = _t(spark, sf_dir, "embeddings")
    path, _cents, _books = _ivfpq_index(spark, sf_dir)
    queries = e.orderBy("vec_id").limit(16).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    out = ivfpq_knn_join(spark, path, queries, k=5, nprobe=3, rerank=100)
    return out.select("q_id", "vec_id", F.round("dist", 5).alias("dist"), "rank")


_DRIFT_PCA_CACHE: dict[str, dict] = {}


def _drift_pca_model(spark, sf_dir, base, k=3):
    """Baseline PCA model for the drift monitor, fit once per process
    AND materialized as parquet at a deterministic per-SF path (one row
    per component: pc, component, mean) — the same build-vs-probe
    convention as `_ivfpq_index`, and what lets the driver's DuckDB
    oracle replay the projection arithmetic over the stored model
    instead of trusting the engine's fit."""
    import os

    if sf_dir not in _DRIFT_PCA_CACHE:
        from mwas_rfam_spark.operators.decomposition import fit_pca

        model = fit_pca(base.where(F.col("embedding").isNotNull()), k)
        tag = os.path.basename(os.path.normpath(sf_dir))
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "spark-warehouse", "drift_pca", tag,
        )
        spark.createDataFrame(
            [(i, model["components"][i], model["mean"]) for i in range(k)],
            "pc int, component array<double>, mean array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(path)
        _DRIFT_PCA_CACHE[sf_dir] = model
    return _DRIFT_PCA_CACHE[sf_dir]


def q_embed_drift(spark, sf_dir):
    """Embedding-distribution drift: both corpus halves projected onto
    the baseline half's top-3 principal components, exact two-sample KS
    per component. Registered correctness entry since r7 — the DuckDB
    oracle replays projection + exact KS over the materialized baseline
    model (`_drift_pca_model`); also pinned by tests/test_drift.py's
    scalar-drift_report cross-check + mean-shift detection test. The
    baseline PCA model is fit once per process (build-vs-probe: a
    monitoring loop freezes the baseline model and scores every
    snapshot against it)."""
    from mwas_rfam_spark.operators.drift import embedding_drift_report

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = e.where(F.col("vec_id") % 2 == 0)
    rep = embedding_drift_report(
        base,
        e.where(F.col("vec_id") % 2 == 1),
        k=3,
        ks_threshold=0.2,
        model=_drift_pca_model(spark, sf_dir, base, k=3),
    )
    return rep.select("column", "kind", "statistic", F.round("value", 6).alias("value"), "flagged")


def q_image_dedup(spark, sf_dir):
    """Perceptual image dedup (bench surface): dHash fingerprints →
    banded-Hamming candidate join → connected components → drop list.
    Testdata payloads are synthetic (text bytes), so the fingerprint
    stage runs its deterministic fake path — what's timed is the real
    Arrow decode-stage plumbing plus the FULL banding/verify/cluster
    pipeline on 8-byte hashes; the real-codec hash path (PNG/GIF/JPEG,
    BT.601 luma, 9×8 thumb) is pinned by tests/test_multimodal.py's
    hand-model + invariance tests."""
    from mwas_rfam_spark.operators.dedup import dedup_clusters
    from mwas_rfam_spark.operators.multimodal import (
        attach_binary,
        image_near_dup_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    media = attach_binary(d)
    pairs = image_near_dup_pairs(media, max_hamming=6, bands=8, fake=True)
    images = media.where(F.col("media_meta.media_type") == "image").select(
        F.col("doc_id")
    )
    return dedup_clusters(pairs, images).orderBy("doc_id")


def q_source_mix(spark, sf_dir):
    """Temperature-based source rebalancing (GPT-3/PaLM-style n^alpha
    mixture weights). Registered correctness entry since r7: the DuckDB
    oracle replays the FULL composition — largest-remainder
    apportionment (n^alpha weights, remainder-desc/source-asc
    tie-break), whole-pass copies, and the seeded md5('mix:11:{id}')
    bottom-rem remainder draw — and `sum_ids` pins the exact sampled
    MEMBERSHIP per (source, copy), not just the counts. Also pinned by
    tests/test_selection.py (exact counts, remainder-rule replay,
    upsample/cap semantics)."""
    from mwas_rfam_spark.operators.selection import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    mixed = temperature_mix(docs, alpha=0.3, target_rows=int(n * 0.8), seed=11)
    return (
        mixed.groupBy("source", "copy")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("source", "copy")
    )


_IVFPQ_INDEX_CACHE: dict[str, tuple] = {}


def _ivfpq_index(spark, sf_dir, k_cells=8, m=8, k=32):
    """Session-scoped IVF×PQ index build (build-vs-probe split as
    `_ivf_index`): coarse centroids + PQ codebooks from the memoized
    seeded trainers, then vectors/codes/centroids/codebooks materialized
    once per process at a deterministic per-SF path."""
    import os

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse", "ivfpq_index", tag
    )
    if path not in _IVFPQ_INDEX_CACHE:
        from mwas_rfam_spark.operators.quantization import materialize_ivfpq

        cents = _ivf_centroids(spark, sf_dir, k=k_cells, iters=2)
        books = _pq_codebooks(spark, sf_dir, m=m, k=k)
        # residual=False EXPLICITLY (the r11 recipe default is residual;
        # see materialize_ivfpq's docstring): this index feeds the
        # driver's DuckDB replay, whose SQL reconstructs the raw-vector
        # ADC — and _pq_codebooks above are raw-trained. The residual
        # path holds its own coverage (probe r9o + the raw-vs-residual
        # recall test in tests/test_quantization.py).
        materialize_ivfpq(
            _t(spark, sf_dir, "embeddings"), cents, books, path, residual=False
        )
        # the quantizers are frozen at build: pin them with the path so
        # the probe entry never re-collects the meta tables (the
        # steady-state serving shape; ivfpq_topk_with_meta)
        _IVFPQ_INDEX_CACHE[path] = (path, cents, books)
    return _IVFPQ_INDEX_CACHE[path]


def q_ivfpq_indexed(spark, sf_dir):
    """Search over the MATERIALIZED IVF×PQ index — the full faiss-style
    composition as parquet: nprobe cells resolved from the stored coarse
    centroids, the ADC scan partition-pruned to those cells' 8-byte
    codes, exact re-rank broadcast-joined into the equally-pruned full
    vectors. Registry-slotted in r6 wave 2 (took ann_knn_batch's slot);
    the oracle replays the whole composition — probe, LUT, ADC, rerank —
    in DuckDB over the same index files. Also pinned by
    tests/test_quantization.py (indexed == on-the-fly == exact within
    probed cells; append/remove/compact == rebuild). The probe runs in
    the steady-state serving shape: quantizers pinned in memory since
    build (ivfpq_topk_with_meta), not re-collected per query."""
    from mwas_rfam_spark.operators.quantization import ivfpq_topk_with_meta

    e = _t(spark, sf_dir, "embeddings")
    qvec = e.orderBy("vec_id").select("embedding").limit(1).collect()[0]["embedding"]
    path, cents, books = _ivfpq_index(spark, sf_dir)
    top = ivfpq_topk_with_meta(
        spark, path, cents, books, [float(x) for x in qvec],
        k=10, nprobe=3, rerank=100, residual=False,  # raw build above —
        # resolved here once, not via a per-query meta read
    )
    return top.select("vec_id", F.round("dist", 5).alias("dist"))


def q_ann_lsh_topk(spark, sf_dir):
    """Approximate top-k via signed-random-projection LSH bucket filter
    (engine-only: approximate by design — no exact oracle)."""
    import numpy as np

    e = _t(spark, sf_dir, "embeddings")
    qvec = e.orderBy("vec_id").select("embedding").limit(1).collect()[0]["embedding"]
    dim = len(qvec)
    rng = np.random.default_rng(42)
    planes = rng.standard_normal((6, dim)).tolist()
    top = lsh_ann_topk(e, [float(x) for x in qvec], planes, k=10)
    return top.select("vec_id", F.round("cosine", 5).alias("cosine"))


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: lexical (shingle-Jaccard inverted index) +
    semantic (cosine) arms fused by reciprocal-rank fusion (Cormack et
    al. SIGIR'09). Bench-only surface (registry at the 50-entry cap);
    RRF arithmetic is hand-model-tested and both arms are pinned by
    their own green entries (`dedup_ngram_jaccard` family /
    `ann_knn_batch`)."""
    from mwas_rfam_spark.operators.retrieval import hybrid_search

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    row = docs.orderBy("doc_id").limit(1).collect()[0]
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == row["doc_id"])
        .collect()[0]["embedding"]
    ]
    out = hybrid_search(docs, emb, row["text"], qvec, k=10, k_each=50)
    return out.select(
        "doc_id", F.round("rrf_score", 6).alias("rrf_score"), "lexical_rank", "semantic_rank"
    )


def q_dsir_select(spark, sf_dir):
    """DSIR-style importance resampling (Xie et al. 2023): hashed-n-gram
    log-likelihood-ratio weights for every raw doc against a target
    split, Gumbel-top-k selection of 200. Bench-only surface (registry
    at the 50-entry cap); the ENTIRE pipeline — weights and the selected
    set, order included — is replayed exactly by DuckDB SQL in
    tests/test_selection.py (md5 features, md5-keyed Gumbel noise)."""
    from mwas_rfam_spark.operators.selection import importance_resample

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    raw = d.where(F.col("doc_id") % 7 != 0)
    tgt = d.where(F.col("doc_id") % 7 == 0)
    return importance_resample(raw, tgt, k=200, seed=42).select(
        "doc_id", F.round("log_weight", 6).alias("log_weight"),
        F.round("selection_key", 6).alias("selection_key"),
    )


def q_quality_linear(spark, sf_dir):
    """fastText-shaped linear quality scoring: hashed-feature mean dotted
    with a broadcast weight vector, sigmoid, threshold gate. Bench-only
    surface; hand-model sigmoid arithmetic and the featureless/empty-doc
    paths are pinned in tests/test_selection.py. The bench weight vector
    is a deterministic Knuth-hash synthetic (a real deployment loads a
    trained model relation)."""
    from mwas_rfam_spark.operators.selection import score_quality_linear

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    weights = spark.range(4096).select(
        F.col("id").cast("int").alias("bucket"),
        ((F.col("id") * F.lit(2654435761)) % 1000 / F.lit(1000.0) - F.lit(0.5)).alias(
            "weight"
        ),
    )
    out = score_quality_linear(d, weights, bias=0.0, threshold=0.5)
    return out.select("doc_id", F.round("score", 6).alias("score"), "keep")


def q_cluster_sample(spark, sf_dir):
    """Cluster-balanced embedding subset: Lloyd-trained coarse centroids,
    nearest-cell assignment, exact per-cell hash-rank sample. Bench-only
    surface; per-cell caps and determinism are pinned in
    tests/test_selection.py, the centroid training and assignment
    arithmetic by the green `ann_recall`/`ann_ivf_topk` family."""
    from mwas_rfam_spark.operators.similarity import cluster_balanced_sample

    emb = _t(spark, sf_dir, "embeddings")
    # session-memoized quantizer (same build-vs-probe policy as every
    # other ANN entry — r4 verdict task #5): training is a build step,
    # the bench times assignment + per-cell sampling
    cents = _ivf_centroids(spark, sf_dir, k=8, iters=2)
    return cluster_balanced_sample(emb, cents, per_cluster=20).select(
        "vec_id", "cell", "sample_rank"
    )


def q_dup_spans(spark, sf_dir):
    """Exact duplicate-substring detection (Lee et al. 2021, fixed span
    length): positional 5-gram explode + hash groupBy, rank-capped
    example locations. Bench-only surface; DuckDB parity on the real
    documents table in tests/test_duplicate_spans.py."""
    from mwas_rfam_spark.operators.dedup import duplicate_spans

    d = _t(spark, sf_dir, "documents")
    return duplicate_spans(d, n=5, min_occurrences=2).select(
        "span_hash", "n_occurrences", "n_docs"
    )


def q_fuzzy_editdist(spark, sf_dir):
    """Edit-distance fuzzy self-join (PassJoin pigeonhole blocking,
    Li et al. PVLDB 2011) on 15-char document prefixes at d=2.
    Registered correctness entry since r6 (driver-gated DuckDB oracle:
    brute-force levenshtein over the same normalized prefixes);
    brute-force parity also in tests/test_fuzzy.py."""
    from mwas_rfam_spark.operators.fuzzy import edit_distance_pairs

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 15).alias("text")
    )
    return edit_distance_pairs(d, max_dist=2)


_BPE_MERGES_CACHE: dict[str, list] = {}


def _bpe_merges(spark, sf_dir) -> list:
    """Seeded BPE merge table for the sf corpus, memoized per process
    (build-vs-probe policy — training is bounded-sample parameter
    estimation, same deterministic result on every engine run)."""
    from mwas_rfam_spark.operators.tokenize import train_bpe_merges

    if sf_dir not in _BPE_MERGES_CACHE:
        d = _t(spark, sf_dir, "documents")
        _BPE_MERGES_CACHE[sf_dir] = [
            (r["left"], r["right"])
            for r in sorted(
                train_bpe_merges(d, num_merges=256, sample_docs=300).collect(),
                key=lambda r: r["rank"],
            )
        ]
    return _BPE_MERGES_CACHE[sf_dir]


def q_bpe_tokenize(spark, sf_dir):
    """Corpus-scale BPE encode with broadcast merges (bench surface;
    hand-model + round-trip + determinism tests in
    tests/test_tokenize.py; the registered `bpe_tokenize` correctness
    entry is q_bpe_roundtrip). Training is parameter estimation on a
    bounded hash-sample — build cost, memoized per process like the
    IVF centroids/PQ codebooks (build-vs-probe policy)."""
    from mwas_rfam_spark.operators.tokenize import bpe_encode

    d = _t(spark, sf_dir, "documents")
    enc = bpe_encode(d, _bpe_merges(spark, sf_dir), emit_tokens=False)
    return enc.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


_PCA_MODEL_CACHE: dict[str, dict] = {}


def q_embed_pca_reduce(spark, sf_dir):
    """PCA embedding reduction 64 → 16 dims (bench surface; numpy
    parity + composition + cross-engine JL parity in
    tests/test_decomposition.py). Fit is one distributed Gram pass,
    memoized per process (build-vs-probe: a model is fit at index time
    and applied wherever the corpus is read); the timed body is the
    map-only projection."""
    from mwas_rfam_spark.operators.decomposition import fit_pca, pca_project

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    if sf_dir not in _PCA_MODEL_CACHE:
        _PCA_MODEL_CACHE[sf_dir] = fit_pca(e, k=16)
    return pca_project(e, _PCA_MODEL_CACHE[sf_dir])


def q_model_eval(spark, sf_dir):
    """Distributed classifier evaluation (registered correctness entry
    since r9 — driver-gated DuckDB oracle replays the midrank AUC, the
    3-threshold confusion report, and the 10-bin calibration gaps in
    plain SQL; exact-AUC numpy + DuckDB midrank parity, one-pass
    threshold report and calibration/ECE also in
    tests/test_evaluation.py): exact midrank AUC + f1@{.25,.5,.75} +
    per-bin calibration gap over a squashed score of the embeddings'
    first component vs label parity, folded into one (metric, value)
    relation.

    The score squash is the ALGEBRAIC sigmoid 0.5 + x/(2(1+|x|)), not
    1/(1+e^-x): exp() is a libm transcendental whose last bit differs
    between the JVM and DuckDB's C runtime, which would perturb tie
    structure and threshold/bin membership cross-engine; +,*,/,abs are
    IEEE-exactly-rounded, so the scores are bit-identical in both
    engines. Same monotone (0,1) squash, zero cross-engine noise."""
    from mwas_rfam_spark.operators.evaluation import (
        binary_auc,
        calibration_report,
        threshold_report,
    )

    e = _model_eval_scored(spark, sf_dir).select("score", "label")
    auc = binary_auc(e).select(
        F.lit("auc").alias("metric"), F.round("auc", 6).alias("value")
    )
    thr = threshold_report(e, [0.25, 0.5, 0.75]).select(
        F.concat(F.lit("f1@"), F.col("threshold").cast("string")).alias("metric"),
        F.round("f1", 6).alias("value"),
    )
    cal = calibration_report(e, n_bins=10).select(
        F.concat(F.lit("gap@bin"), F.col("bin").cast("string")).alias("metric"),
        F.round("gap", 6).alias("value"),
    )
    return auc.unionByName(thr).unionByName(cal).orderBy("metric")


def _model_eval_scored(spark, sf_dir):
    """The shared scored relation for the evaluation family: algebraic
    sigmoid of the embeddings' first component (bit-identical
    cross-engine — see q_model_eval) vs label parity."""
    x = F.col("embedding")[0].cast("double")
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.lit(0.5) + x / (F.lit(2.0) * (F.lit(1.0) + F.abs(x)))).alias("score"),
        (F.col("label") % 2).alias("label"),
    )


def q_grouped_auc(spark, sf_dir):
    """Per-slice exact AUC (bench surface since r9 — the 100 TB
    fairness query; per-group == binary_auc equivalence, the
    cardinality guard, and NaN exclusion in tests/test_evaluation.py;
    DuckDB replay via relocated_oracles): 8 slices of the embeddings
    by vec_id % 8, grouped two-level prefix sum, no unpartitioned
    window anywhere."""
    from mwas_rfam_spark.operators.evaluation import grouped_auc

    scored = _model_eval_scored(spark, sf_dir).withColumn(
        "grp", (F.col("vec_id") % 8).cast("int")
    )
    return grouped_auc(scored, ["grp"]).select(
        "grp", F.round("auc", 6).alias("auc"), "n_pos", "n_neg"
    )


def q_threshold_report(spark, sf_dir):
    """One-pass confusion-matrix metrics at three thresholds (full
    relation form; the f1 column also rides inside the registered
    `model_eval` oracle; DuckDB replay via relocated_oracles)."""
    from mwas_rfam_spark.operators.evaluation import threshold_report

    return threshold_report(
        _model_eval_scored(spark, sf_dir), [0.25, 0.5, 0.75]
    ).select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
        F.round("selected_frac", 6).alias("selected_frac"),
    )


def q_grouped_threshold_report(spark, sf_dir):
    """Per-slice confusion metrics at three thresholds (replay-only
    surface like threshold_report/grouped_auc — DuckDB parity via
    relocated_oracles, not a 50-cap slot; hand golden + slice
    equivalence in tests/test_evaluation.py): 8 slices of the
    embeddings by vec_id % 8, one map-side-combinable aggregate."""
    from mwas_rfam_spark.operators.evaluation import grouped_threshold_report

    scored = _model_eval_scored(spark, sf_dir).withColumn(
        "grp", (F.col("vec_id") % 8).cast("int")
    )
    return grouped_threshold_report(scored, ["grp"], [0.25, 0.5, 0.75]).select(
        "grp",
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
        F.round("selected_frac", 6).alias("selected_frac"),
    )


def q_grouped_calibration(spark, sf_dir):
    """Per-slice calibration + per-group ECE (registered correctness
    entry since r11 — driver-gated DuckDB oracle; grouped == ungrouped-
    on-the-slice equivalence, NULL-group retention, terminal-bin clamp
    and NaN exclusion in tests/test_evaluation.py): 4 slices of the
    embeddings by vec_id % 4, 10 equal-width bins over the algebraic-
    sigmoid score (bit-identical cross-engine — see q_model_eval), one
    map-side-combinable groupBy(grp, bin) for the table and one more
    parameter-sized aggregate for the per-group ECE. No window, no
    collect, no prefix sums — the 100 TB fairness-calibration query is
    two shuffles over ≤ n_groups x n_bins rows of output."""
    from mwas_rfam_spark.operators.evaluation import (
        grouped_calibration_report,
        grouped_ece,
    )

    scored = _model_eval_scored(spark, sf_dir).withColumn(
        "grp", (F.col("vec_id") % 4).cast("int")
    )
    rep = grouped_calibration_report(scored, ["grp"], n_bins=10).localCheckpoint(
        eager=False
    )
    e = grouped_ece(rep, ["grp"]).select("grp", F.round("ece", 6).alias("grp_ece"))
    return rep.join(e, "grp").select(
        "grp",
        "bin",
        F.round("bin_lo", 6).alias("bin_lo"),
        F.round("bin_hi", 6).alias("bin_hi"),
        "n",
        F.round("mean_score", 6).alias("mean_score"),
        F.round("pos_rate", 6).alias("pos_rate"),
        F.round("gap", 6).alias("gap"),
        "grp_ece",
    )


_EVAL_STATES: dict[tuple[str, tuple[str, ...]], str] = {}


def _ensure_eval_state(spark, sf_dir, group_cols=()):
    """Build (once per process, memoized) the 3-batch partially-
    compacted streaming eval-counts state dir the eval_state_* entries
    read: the scored embeddings (sliced by grp = vec_id % 4 when
    ``group_cols=("grp",)``) split into three ingest batches
    (vec_id % 3), reduced to per-(group..., DISTINCT score)
    (v, cnt_a, cnt_b, cnt_null) counts per batch — exactly the
    foreachBatch body of ``streaming_eval_counts(group_cols=...)`` —
    then batches 0..1 crash-safely compacted into a frozen negative
    partition, so the readers answer over a MIXED frozen+raw layout.
    Each process builds into its own temp dir (removed at exit), so no
    process deletes a state another one is reading."""
    import atexit
    import os
    import shutil
    import tempfile

    from mwas_rfam_spark.operators.evaluation import grouped_per_score_counts
    from mwas_rfam_spark.streaming.requests import compact_eval_state

    key = (os.path.abspath(sf_dir), tuple(group_cols))
    if key not in _EVAL_STATES:
        state_dir = tempfile.mkdtemp(prefix="eval_state_")
        atexit.register(shutil.rmtree, state_dir, True)
        scored = _model_eval_scored(spark, sf_dir)
        if group_cols:
            scored = scored.withColumn("grp", (F.col("vec_id") % 4).cast("int"))
        for b in range(3):
            grouped_per_score_counts(
                scored.where(F.col("vec_id") % 3 == b), list(group_cols), "score", "label"
            ).write.mode("overwrite").parquet(f"{state_dir}/ingest_batch={b}")
        compact_eval_state(spark, state_dir, up_to_batch=1)
        _EVAL_STATES[key] = state_dir
    return _EVAL_STATES[key]


def q_eval_state_auc(spark, sf_dir):
    """Streaming exact-AUC state → read-side AUC (registered
    correctness entry since r11 — driver-gated DuckDB oracle replays
    the midrank AUC over the SAME scored relation the state was folded
    from; stream==batch parity, compaction identity, and the deepest-
    complete-frozen-bar reader rule in tests/test_streaming.py /
    tests/test_evaluation.py): the scored embeddings are split into
    three ingest batches (vec_id % 3) and reduced to per-DISTINCT-SCORE
    (v, cnt_a, cnt_b, cnt_null) counts per batch — exactly the
    foreachBatch body of streaming_eval_counts — then batches 0..1 are
    crash-safely compacted into a frozen negative partition, and
    eval_state_auc answers over the mixed frozen+raw state without
    re-touching a single scored row. Because the per-score counts are
    LINEAR, the state AUC equals binary_auc over the full relation —
    which is what the oracle computes in plain SQL (midrank form), so a
    fold/compaction/reader bug anywhere in the state path is
    hash-visible. State build is ingest-time work, memoized per process
    (build-vs-probe, same policy as the index entries; shared with
    q_eval_state_calibration via _ensure_eval_state)."""
    from mwas_rfam_spark.streaming.requests import eval_state_auc

    state_dir = _ensure_eval_state(spark, sf_dir)
    return eval_state_auc(spark, state_dir).select(
        F.round("auc", 6).alias("auc"), "n_pos", "n_neg", "n_null"
    )


def q_eval_state_calibration(spark, sf_dir):
    """Streaming eval-counts state → read-side calibration report
    (registered correctness entry since r12 — driver-gated DuckDB
    oracle; stream==batch parity, counts-reconstruction equality
    (calibration_from_score_counts == calibration_report on the same
    rows), terminal-bin clamp and NaN exclusion in
    tests/test_streaming.py / tests/test_evaluation.py): reads the
    SAME mixed frozen+raw state dir q_eval_state_auc answers over
    (memoized per process, _ensure_eval_state). Per-score counts are
    LINEAR and the 10 equal-width bins are a pure function of the
    score, so the state-side calibration equals calibration_report
    over the full scored relation — which is what the oracle computes
    in plain SQL. A fold/compaction/reader/bin-rule bug anywhere in
    the state path is hash-visible; live calibration monitoring costs
    a state-sized aggregate, no scored-row rescan (the 100 TB point
    of the state readers)."""
    from mwas_rfam_spark.streaming.requests import eval_state_calibration

    state_dir = _ensure_eval_state(spark, sf_dir)
    return eval_state_calibration(spark, state_dir).select(
        "bin",
        F.round("bin_lo", 6).alias("bin_lo"),
        F.round("bin_hi", 6).alias("bin_hi"),
        "n",
        F.round("mean_score", 6).alias("mean_score"),
        F.round("pos_rate", 6).alias("pos_rate"),
        F.round("gap", 6).alias("gap"),
    )


def q_eval_state_grouped_auc(spark, sf_dir):
    """Streaming eval-counts state → PER-SLICE read-side AUC
    (registered correctness entry since r13 — driver-gated DuckDB
    oracle; stream==batch parity, layout derivation/pinning, the
    all-invalid-slice row, and compaction slice-intactness in
    tests/test_streaming.py): reads a GROUPED mixed frozen+raw state
    dir (grp = vec_id % 4, memoized via _ensure_eval_state).
    Per-(grp, score) counts are LINEAR, so each slice's state AUC
    equals the midrank AUC over that slice of the full scored relation
    — which is what the oracle computes in plain SQL (same midrank
    window form as the green eval_state_auc row, PARTITION BY grp) —
    making a fold/compaction/reader/key-derivation bug anywhere in the
    grouped state path hash-visible. The 100 TB point: "is the live
    model still as good on every slice?" costs a state-sized aggregate
    with the same range-partition + broadcast-offset finisher as
    grouped_auc — no unpartitioned window, no scored-row rescan."""
    from mwas_rfam_spark.streaming.requests import eval_state_grouped_auc

    state_dir = _ensure_eval_state(spark, sf_dir, ("grp",))
    return eval_state_grouped_auc(spark, state_dir).select(
        "grp", F.round("auc", 6).alias("auc"), "n_pos", "n_neg", "n_null"
    )


def q_eval_state_threshold_report(spark, sf_dir):
    """Streaming eval-counts state → PER-SLICE threshold
    precision/recall/F1 (registered correctness entry since r13 wave 2
    — driver-gated DuckDB oracle; stream==batch parity,
    counts-reconstruction equality (threshold_report_from_score_counts
    == the row-level report on the same rows), the all-invalid-cell
    NULL semantics, and the sklearn-parity f1-zero rule in
    tests/test_streaming.py / tests/test_evaluation.py): reads the
    SAME grouped mixed frozen+raw state dir q_eval_state_grouped_auc
    answers over (memoized, _ensure_eval_state). ``score >= t``
    is a pure score function, so every confusion cell is an exact
    weighted sum over the per-(grp, score) counts — equal to the
    row-level threshold report over each slice of the scored relation,
    which is what the oracle computes in plain SQL. The last of the
    three eval-state readers to take a driver slot (r11: AUC, r12:
    calibration): "what would the production threshold select over
    everything scored so far, per slice" costs a state-sized
    aggregate, no scored-row rescan."""
    from mwas_rfam_spark.streaming.requests import eval_state_threshold_report

    state_dir = _ensure_eval_state(spark, sf_dir, ("grp",))
    return eval_state_threshold_report(
        spark, state_dir, thresholds=[0.3, 0.5, 0.7]
    ).select(
        "grp",
        F.round("threshold", 6).alias("threshold"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
        F.round("selected_frac", 6).alias("selected_frac"),
    )


def q_cms_freq(spark, sf_dir):
    """Count-min sketch build + point lookups (bench surface; one-sided
    guarantee, merge==one-pass, weighted counts and bit-exact DuckDB
    sketch replay in tests/test_sketches.py): sketch the documents'
    token stream (exploded) at 4x2048 counters, then estimate the
    frequency of a probe set of common words."""
    from mwas_rfam_spark.operators.sketches import cms_build, cms_lookup

    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
    )
    sketch = cms_build(toks, "tok", width=2048, depth=4, seed=5)
    probes = spark.createDataFrame(
        [("the",), ("data",), ("pipeline",), ("of",), ("zzz-absent",)], "tok string"
    )
    return cms_lookup(sketch, probes, "tok", width=2048, depth=4, seed=5).orderBy("key")


_OPQ_MODEL_CACHE: dict[str, dict] = {}


def q_opq_encode(spark, sf_dir):
    """OPQ rotate + PQ encode (bench surface; rotation-orthogonality,
    error-reduction vs identity split, geometry preservation and
    determinism in tests/test_quantization.py). The OPQ model is
    trained once per process (build-vs-probe, like every quantizer
    here); the timed body is the map-only rotate + encode pass."""
    from mwas_rfam_spark.operators.decomposition import project_embeddings
    from mwas_rfam_spark.operators.quantization import pq_encode

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    opq = _opq_model(spark, sf_dir)
    rotated = project_embeddings(e, opq["rotation"])
    return pq_encode(rotated, opq["codebooks"]).select(
        "vec_id", F.col("codes")
    ).orderBy("vec_id")


def _opq_model(spark, sf_dir):
    """OPQ model (rotation + codebooks), trained once per process AND
    materialized as parquet at a deterministic per-SF path — the same
    build-vs-probe + oracle-replay convention as `_drift_pca_model`:
    the driver's DuckDB oracle replays projection + per-subspace argmin
    over the STORED model files instead of trusting the engine's
    training. Layout: rotation/ (row, vals — row = output dim) and
    codebooks/ (subspace, centroid_id, centroid)."""
    import os

    from mwas_rfam_spark.operators.quantization import train_opq

    if sf_dir not in _OPQ_MODEL_CACHE:
        e = _t(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        model = train_opq(e, m=8, k=32, opq_iters=2)
        tag = os.path.basename(os.path.normpath(sf_dir))
        base = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "spark-warehouse", "opq_model", tag,
        )
        spark.createDataFrame(
            [(i, row) for i, row in enumerate(model["rotation"])],
            "row int, vals array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "rotation"))
        spark.createDataFrame(
            [
                (j, c, centroid)
                for j, book in enumerate(model["codebooks"])
                for c, centroid in enumerate(book)
            ],
            "subspace int, centroid_id int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "codebooks"))
        _OPQ_MODEL_CACHE[sf_dir] = model
    return _OPQ_MODEL_CACHE[sf_dir]


def q_opq_encode_replay(spark, sf_dir):
    """OPQ rotate + PQ encode, oracle-replayable form (registered
    correctness entry since r9): the rotation and codebooks are
    materialized parquet (`_opq_model`), the rotated coordinates are
    snapped to a 1e-7 grid BEFORE encoding on both sides, and the codes
    come back exploded as (vec_id, subspace, code) so the DuckDB oracle
    can replay projection + per-subspace argmin in plain SQL.

    Why the grid snap: the engine's 64x64 projection runs the Arrow
    GEMM path (BLAS summation order) while SQL's list_sum is a left
    fold — the same doubles differ in the last ~bit between the two
    associations. Snapping both sides collapses that ulp noise before
    the argmin. The snap is floor(x*1e7 + 0.5)/1e7 — the SAME sequence
    of IEEE-exactly-rounded double ops in both engines — NOT round(x,7):
    Spark's round works HALF_UP on the double's shortest DECIMAL repr
    while DuckDB rounds the binary value, so a coordinate whose
    shortest repr ends in ...5 at the 8th decimal can round differently
    across engines (review finding). After the snap, the argmin sees
    bit-identical inputs (centroid distances are 8-term sums whose
    sub-ulp association noise cannot flip a non-tied argmin). Ties
    break to the lowest centroid id in both engines (numpy argmin /
    ORDER BY d, centroid_id). The unsnapped scale-path form stays the
    bench row (`bench_queries()['opq_encode']`)."""
    from mwas_rfam_spark.operators.decomposition import project_embeddings
    from mwas_rfam_spark.operators.quantization import pq_encode

    model = _opq_model(spark, sf_dir)
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rotated = project_embeddings(e, model["rotation"]).withColumn(
        "embedding",
        F.transform(
            "embedding",
            lambda x: F.floor(x * F.lit(1e7) + F.lit(0.5)).cast("double")
            / F.lit(1e7),
        ),
    )
    return (
        pq_encode(rotated, model["codebooks"])
        .select("vec_id", F.posexplode("codes").alias("subspace", "code"))
        .orderBy("vec_id", "subspace")
    )


def q_fuzzy_editdist_long(spark, sf_dir):
    """Realistic-field fuzzy join variant (r5 verdict task #5): 80-char
    prefixes — title-length strings, not the 15-char oracle shape — so
    the bench row exercises the slimmed candidate exchange where string
    payload width would actually matter. Same parity-tested operator."""
    from mwas_rfam_spark.operators.fuzzy import edit_distance_pairs

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 80).alias("text")
    )
    return edit_distance_pairs(d, max_dist=2)


def q_dedup_containment(spark, sf_dir):
    """Asymmetric n-gram containment pairs (Broder's containment
    coefficient — quote/boilerplate inclusion that symmetric Jaccard
    misses). Registered correctness entry since r6 (driver-gated
    DuckDB oracle); brute-force + DuckDB parity also in
    tests/test_fuzzy.py. Exact join (max_df=None) on 120-char
    prefixes, matching the parity tests' shape."""
    from mwas_rfam_spark.operators.dedup import ngram_containment_pairs

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 120).alias("text")
    )
    return ngram_containment_pairs(d, n=3, threshold=0.7, max_df=None)


def q_cdc_dedup(spark, sf_dir):
    """Chunk-grain binary dedup accounting over content-defined chunks
    (bench surface — the registered `cdc_dedup` correctness entry is
    q_cdc_roundtrip; vectorized-vs-sequential gear-hash equality,
    insertion-survival, and reassembly invariants in
    tests/test_multimodal.py). Payloads are the documents' bytes with a
    10-doc clone block planted so the dedup_ratio is non-trivial."""
    from mwas_rfam_spark.operators.multimodal import (
        binary_dedup_stats,
        cdc_chunk_payloads,
    )

    d = _t(spark, sf_dir, "documents")
    payloads = d.select(
        "doc_id",
        F.encode(
            F.when(F.col("doc_id") % 10 == 0, F.lit("CLONEBLOCK " * 64)).otherwise(
                F.col("text")
            ),
            "UTF-8",
        ).alias("payload"),
    )
    return binary_dedup_stats(cdc_chunk_payloads(payloads, avg_size=256))


def q_drift_report(spark, sf_dir):
    """Corpus drift between snapshot halves (registered correctness
    entry since r6 — driver-gated DuckDB oracle; exact-
    KS reference + DuckDB window-SQL parity in tests/test_drift.py):
    even vs odd event ids, numeric KS on value + categorical PSI on
    event_type, one row per watched column."""
    from mwas_rfam_spark.operators.drift import drift_report

    e = _t(spark, sf_dir, "events")
    return drift_report(
        e.where(F.col("event_id") % 2 == 0),
        e.where(F.col("event_id") % 2 == 1),
        numeric_cols=["value"],
        categorical_cols=["event_type"],
    )


def q_cdc_roundtrip(spark, sf_dir):
    """CDC chunking correctness, oracle-checkable form (registered as
    ``cdc_dedup`` in round 6): chunk the planted payload corpus with
    the real gear-hash kernel, BIND each chunk's kernel-computed sha256
    to the bytes it claims to cover (a mismatch drops the row and
    breaks the reassembly hash), then reassemble per doc in chunk
    order. The output (doc_id, n_bytes, payload_md5) hash-matches the
    oracle's direct md5 over the same payload expression iff the
    chunker tiles every byte exactly once, in order, with correct
    per-chunk hashes — the invariants that make chunk-grain dedup
    sound. The dedup-ratio accounting stays pytest-pinned
    (tests/test_multimodal.py) and benched as the ``cdc_dedup`` bench
    row (binary_dedup_stats over the same corpus)."""
    from mwas_rfam_spark.operators.multimodal import cdc_chunk_payloads

    # null filter BEFORE the clone-plant, matching the oracle's
    # WHERE text IS NOT NULL ahead of its CASE — otherwise a null-text
    # doc at doc_id % 10 == 0 would get a payload here but not there
    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id",
        F.encode(
            F.when(F.col("doc_id") % 10 == 0, F.lit("CLONEBLOCK " * 64)).otherwise(
                F.col("text")
            ),
            "UTF-8",
        ).alias("payload"),
    ).where(F.octet_length("payload") > 0)
    chunks = cdc_chunk_payloads(payloads, avg_size=256)
    bound = (
        chunks.join(payloads, "doc_id")
        .withColumn(
            "chunk_bytes", F.expr("substring(payload, offset + 1, length)")
        )
        # bind the kernel's sha to the covered bytes: a wrong chunk_sha
        # drops its chunk here, which breaks the doc's reassembled md5
        .where(F.sha2("chunk_bytes", 256) == F.col("chunk_sha"))
    )
    return bound.groupBy("doc_id").agg(
        F.octet_length(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_bytes"))),
                F.lit(b""),
                lambda acc, x: F.concat(acc, x["chunk_bytes"]),
            )
        ).alias("n_bytes"),
        F.md5(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_bytes"))),
                F.lit(b""),
                lambda acc, x: F.concat(acc, x["chunk_bytes"]),
            )
        ).alias("payload_md5"),
    )


def q_bpe_roundtrip(spark, sf_dir):
    """BPE tokenizer correctness, oracle-checkable form (registered as
    ``bpe_tokenize`` in round 6): train on the seeded bounded sample,
    encode the corpus with the real Arrow kernel, then invert the
    tokenization ENTIRELY IN THE PLAN — one end-of-word-marked token
    per source word (n_words) and the decoded text (concat + marker →
    space). Both are independently derivable by the oracle from the
    raw text (lowercase + whitespace collapse), so a kernel that
    drops/splits/merges words or mangles bytes hash-mismatches. Token
    COUNTS under the learned merges are not SQL-derivable and stay
    pytest-pinned (tests/test_tokenize.py) + benched as the
    ``bpe_tokenize`` bench row."""
    from mwas_rfam_spark.functions.bpe import EOW
    from mwas_rfam_spark.operators.tokenize import bpe_encode

    d = _t(spark, sf_dir, "documents")
    enc = bpe_encode(d, _bpe_merges(spark, sf_dir), emit_tokens=True)
    return enc.select(
        "doc_id",
        F.size(
            F.filter("tokens", lambda t: t.contains(EOW))
        ).cast("long").alias("n_words"),
        F.trim(
            F.regexp_replace(F.concat_ws("", "tokens"), re.escape(EOW), " ")
        ).alias("decoded"),
    )


def q_mwas_full(spark, sf_dir):
    """Full MWAS incl. seeded permutation tests (rows-only check: the
    resampling kernel is iterative/stateful, not SQL-expressible; the
    relational core is hash-verified by mwas_cohort_welch)."""
    cfg = MwasConfig(permutation_resamples=1000)
    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    sets_df, ref_df = condense_metadata(meta)
    return run_mwas(
        mwas_input_from_events(spark, sf_dir),
        mwas_catalog_from_orders(spark, sf_dir),
        sets_df,
        ref_df,
        cfg,
    )


def q_mwas_perm_exact(spark, sf_dir):
    """T2 — the permutation kernel's exact-enumeration regime,
    hash-verified INCLUDING p-values: metadata restricted to the first 8
    biosamples per bioproject makes every permutation-eligible cohort a
    4/4 split of n=8, so C(8,4)=70 <= resamples triggers complete
    enumeration — p is the exact rational 2*min(ge,le)/70, reproducible
    by bitmask enumeration in SQL (the randomized regime stays rows-only
    in mwas_full by nature)."""
    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    w = Window.partitionBy("bioproject").orderBy(
        F.length("biosample_id"), F.col("biosample_id")
    )
    keep = (
        meta.select("bioproject", "biosample_id")
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 8)
        .drop("rk")
    )
    meta8 = meta.join(keep, ["bioproject", "biosample_id"])
    sets_df, ref_df = condense_metadata(meta8)
    cfg = MwasConfig(permutation_resamples=100)
    out = run_mwas(
        mwas_input_from_events(spark, sf_dir),
        mwas_catalog_from_orders(spark, sf_dir),
        sets_df,
        ref_df,
        cfg,
    )
    return out.filter(F.col("status").startswith("permutation")).select(
        "bioproject",
        F.col("group").alias("group_name"),
        "metadata_field",
        "metadata_value",
        "num_true",
        "num_false",
        F.round("mean_rpm_true", 6).alias("mean_rpm_true"),
        F.round("mean_rpm_false", 6).alias("mean_rpm_false"),
        F.round("sd_rpm_true", 6).alias("sd_rpm_true"),
        F.round("sd_rpm_false", 6).alias("sd_rpm_false"),
        F.round("test_statistic", 6).alias("t_stat"),
        F.round("p_value", 6).alias("p_value"),
    )


def q_mwas_perm_calibration(spark, sf_dir):
    """T2 calibration gate for the RANDOMIZED permutation regime (r4
    verdict task #3, ann_recall mold): metadata restricted to the first
    14 biosamples per bioproject puts the largest cohort split at
    C(14,7)=3432 — one run at resamples=4000 is therefore fully EXACT
    (complete enumeration, p an exact rational), and a second run at
    resamples=3000 executes the splits with C(n,k) > 3000 through the
    RANDOMIZED kernel (seeded Fisher–Yates draws, +1/+1 correction).
    Each test's randomized p must sit inside the 3σ binomial band of
    its exact p. The p-value is TWO-SIDED — p = 2·q with q = min(ge,le)
    tail fraction — so the estimator's sd is 2·sqrt(q(1−q)/R) with
    q = p_e/2, NOT sqrt(p_e(1−p_e)/R) (the un-doubled band is ~half
    width and rejects ~9% of tests; measured at sf0.01 before the fix).
    Band: |p_r − p_e| <= 6·sqrt((p_e/2)(1−p_e/2)/R) + 2/(R+1); the
    additive term covers the +1/+1 correction and draw discreteness;
    splits small enough that both runs enumerate agree exactly and pass
    trivially. Seeded kernel + deterministic data ⇒ a deterministic
    boolean relation; the oracle independently derives n_compared (the
    permutation-eligible test count under the same restriction) from
    the relational CTEs, so an eligibility drift also fails the gate.
    """
    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    w = Window.partitionBy("bioproject").orderBy(
        F.length("biosample_id"), F.col("biosample_id")
    )
    keep = (
        meta.select("bioproject", "biosample_id")
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 14)
        .drop("rk")
    )
    meta14 = meta.join(keep, ["bioproject", "biosample_id"])
    sets_df, ref_df = condense_metadata(meta14)
    inp = mwas_input_from_events(spark, sf_dir)
    cat = mwas_catalog_from_orders(spark, sf_dir)
    key = ["bioproject", "group", "metadata_field", "metadata_value"]

    def perm_p(resamples: int, alias: str) -> DataFrame:
        out = run_mwas(inp, cat, sets_df, ref_df, MwasConfig(permutation_resamples=resamples))
        return out.filter(F.col("status").startswith("permutation")).select(
            *key, F.col("p_value").alias(alias)
        )

    R = 3000
    j = perm_p(4000, "p_exact").join(perm_p(R, "p_rand"), key)
    q = F.col("p_exact") / 2.0
    band = 6.0 * F.sqrt(q * (1.0 - q) / F.lit(float(R))) + F.lit(2.0 / (R + 1))
    agg = j.agg(
        F.count("*").alias("n"),
        F.sum(
            (F.abs(F.col("p_rand") - F.col("p_exact")) <= band).cast("long")
        ).alias("n_agree"),
    )
    return agg.select(
        F.lit("randomized_vs_exact").alias("check_name"),
        F.col("n").alias("n_compared"),
        ((F.col("n") > 0) & (F.col("n_agree") >= F.ceil(F.col("n") * 0.95))).alias(
            "meets_target"
        ),
    )


def q_mwas_legacy_full(spark, sf_dir):
    """Legacy-generation output mode (old/mwas_rfam.py:100-111,369-370)
    hash-verified: numeric ±inf fold change survives the cross-engine
    compare directly (both engines print IEEE inf as 'inf'), so unlike
    mwas_t_only_full no class/value split is needed. The p-sort is a
    no-op for the order-insensitive hash but exercises the code path."""
    cfg = MwasConfig(t_test_only=True, p_value_threshold=1.1, legacy_output=True)
    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    sets_df, ref_df = condense_metadata(meta)
    out = run_mwas(
        mwas_input_from_events(spark, sf_dir),
        mwas_catalog_from_orders(spark, sf_dir),
        sets_df,
        ref_df,
        cfg,
    )
    p_finite = F.col("p_value").isNotNull() & ~F.isnan("p_value")
    return out.select(
        "bioproject",
        F.col("group").alias("group_name"),
        "metadata_field",
        "metadata_value",
        "status",
        "num_true",
        "num_false",
        F.round("mean_rpm_true", 6).alias("mean_rpm_true"),
        F.round("mean_rpm_false", 6).alias("mean_rpm_false"),
        F.round("fold_change", 6).alias("fold_change"),
        F.when(p_finite, F.round("test_statistic", 6)).alias("t_stat"),
        "true_biosamples",
        "false_biosamples",
    )


def q_mwas_legacy_13col(spark, sf_dir):
    """The legacy generation's NARROW 13-column schema
    (old/mwas_rfam.py:11-12 MWAS_COLS / :169-170 output_cols),
    hash-verified via the t-only regime: `legacy_13col` drops
    status/telemetry/biosample-list columns entirely and p-sorts, so the
    finalize stage collapses to a single projection (no fanout, no
    biosamples_ref join — plan-asserted in tests). p_value is reduced to
    its SQL-expressible finiteness (finite iff pooled variance > 0 in
    t-only mode), as in the other t-only entries."""
    cfg = MwasConfig(t_test_only=True, legacy_13col=True)
    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    sets_df, ref_df = condense_metadata(meta)
    out = run_mwas(
        mwas_input_from_events(spark, sf_dir),
        mwas_catalog_from_orders(spark, sf_dir),
        sets_df,
        ref_df,
        cfg,
    )
    p_finite = F.col("p_value").isNotNull() & ~F.isnan("p_value")
    return out.select(
        "bioproject_id",
        "family",
        "metadata_field",
        "metadata_value",
        "num_true",
        "num_false",
        F.round("mean_rpm_true", 6).alias("mean_rpm_true"),
        F.round("mean_rpm_false", 6).alias("mean_rpm_false"),
        F.round("sd_rpm_true", 6).alias("sd_rpm_true"),
        F.round("sd_rpm_false", 6).alias("sd_rpm_false"),
        F.round("fold_change", 6).alias("fold_change"),
        F.when(p_finite, F.round("test_statistic", 6)).alias("t_stat"),
        p_finite.alias("p_finite"),
    )


def q_mwas_summary_t_only(spark, sf_dir):
    """A9/S12 — per-bioproject results analytics hash-verified: the same
    summarize_results plan as mwas_summary, run over the t_test_only
    relation where every input column is SQL-derivable (the permutation
    variant stays rows-only because its p-values and telemetry aren't)."""
    from mwas_rfam_spark.operators.summary import summarize_results

    cfg = MwasConfig(t_test_only=True, p_value_threshold=1.1)
    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    sets_df, ref_df = condense_metadata(meta)
    out = run_mwas(
        mwas_input_from_events(spark, sf_dir),
        mwas_catalog_from_orders(spark, sf_dir),
        sets_df,
        ref_df,
        cfg,
    )
    return summarize_results(out, ref_df)


def q_dedup_pipeline(spark, sf_dir):
    """Composed dedup: exact-collapse → n-gram Jaccard on representatives
    → exact-group sizes re-attached. The clone-heavy scale path: near-dup
    cost follows DISTINCT content, not clone count (SCALE.md probe)."""
    from mwas_rfam_spark.operators.dedup import dedup_pipeline_pairs

    d = _t(spark, sf_dir, "documents")
    return dedup_pipeline_pairs(d, n=3, threshold=0.5).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard"), "n_docs_a", "n_docs_b"
    )


def q_condense_accounting(spark, sf_dir):
    """S12 — per-bioproject condensation accounting (the reference's
    conversion_results.csv relational form, converter_.py:72-117)."""
    from mwas_rfam_spark.operators.condense import condense_accounting

    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    sets_df, _ = condense_metadata(meta)
    return condense_accounting(meta, sets_df)


def q_ann_recall(spark, sf_dir):
    """ANN accuracy as a driver-checkable relation: recall@10 of the IVF
    (k=8, nprobe=3 ≈ 37% scan) and multi-probe LSH (6 planes, 16 of 64
    buckets = 25% scan) paths against the exact brute-force top-10.
    Seeded centroids/planes + deterministic data ⇒ deterministic hit
    counts; the oracle pins the floor (IVF ≥ 8, LSH ≥ 4 — the testdata
    embeddings are near-random, cosine gap ~0.37 vs 0.25 background,
    which bounds what sign-projection LSH can recall at this scan
    fraction)."""
    import numpy as np

    from mwas_rfam_spark.operators.similarity import ivf_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in e.orderBy("vec_id").select("embedding").limit(1).collect()[0]["embedding"]
    ]
    exact = brute_force_topk(e, qvec, k=10).select("vec_id")
    cents = _ivf_centroids(spark, sf_dir, k=8, iters=2)
    ivf = ivf_ann_topk(e, qvec, cents, k=10, nprobe=3).select("vec_id")
    planes = np.random.default_rng(42).standard_normal((6, len(qvec))).tolist()
    lsh = lsh_ann_topk(e, qvec, planes, k=10, n_probes=16).select("vec_id")

    def meets(method: str, approx: DataFrame, floor: int) -> DataFrame:
        return (
            approx.join(exact, "vec_id", "left_semi")
            .agg(F.count("*").alias("n_hits"))
            .select(
                F.lit(method).alias("method"),
                F.lit(10).alias("k"),
                (F.col("n_hits") >= floor).alias("meets_target"),
            )
        )

    return meets("ivf", ivf, 8).unionByName(meets("lsh", lsh, 4))


def q_j8_interval_join(spark, sf_dir):
    """J8 (engine extension — absent in the reference): time-window range
    join via bucketized equi-join (no theta cross product). Pairs of
    click/error events within 60 s, rolled up per day."""
    from mwas_rfam_spark.operators.interval import interval_join_within

    # whole-seconds timeline: ts precision differs across testdata
    # generations (TIMESTAMP(NANOS) vs micros — see ensure_epoch_nanos);
    # second granularity puts both engines on identical integers either way
    e = _t(spark, sf_dir, "events")  # ts arrives as epoch nanos (see _t)
    sec = F.floor(F.col("ts") / F.lit(1_000_000_000)).cast("long").alias("ts")
    clicks = e.where(F.col("event_type") == "click").select("event_id", sec)
    errors = e.where(F.col("event_type") == "error").select("event_id", sec)
    pairs = interval_join_within(clicks, errors, tolerance=60)
    # day truncation in the integer domain + NTZ rebuild — timezone-free
    # on any session (see q_events_hourly)
    day = F.expr(
        "timestampadd(SECOND, (ts_a div 86400) * 86400, "
        "TIMESTAMP_NTZ'1970-01-01 00:00:00')"
    )
    # sum of integer second deltas is exact cross-engine (an avg of
    # doubles can flip the last rounded digit with summation order)
    return pairs.groupBy(day.alias("day")).agg(
        F.count("*").alias("n_pairs"),
        F.sum("abs_delta").alias("sum_abs_delta_s"),
    )


def q_a11_grouping_sets(spark, sf_dir):
    """A11 (engine extension): ROLLUP over (status, priority) with
    grouping_id disambiguating the aggregation level."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
    )


def q_so4_intersect(spark, sf_dir):
    """SO4 (engine extension): INTERSECT of two derived key sets."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    big_spenders = (
        o.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("s"))
        .where(F.col("s") > 100_000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return building.intersect(big_spenders)


def q_dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup with LSH sign-bucket blocking — the unlabeled-
    corpus scale path (no categorical block key needed). Threshold 0.25
    exercises the machinery on the near-random testdata embeddings (their
    cosine ceiling is ~0.37); the oracle replicates the same seeded
    buckets, so candidate generation AND verification are hash-checked."""
    import numpy as np

    e = _t(spark, sf_dir, "embeddings")
    planes = np.random.default_rng(7).standard_normal((4, 64)).tolist()
    return embedding_near_dup_pairs(
        e, threshold=0.25, block_col=None, planes=planes
    ).select("id_a", "id_b", F.round("cosine", 5).alias("cosine"))


def q_text_vocab_topk(spark, sf_dir):
    """Corpus vocabulary top-k by term frequency (tokenizer-training
    primitive): (token, tf, df, rank)."""
    from mwas_rfam_spark.operators.text import vocabulary_topk

    d = _t(spark, sf_dir, "documents")
    return vocabulary_topk(d, k=50)


def q_dedup_first_seen(spark, sf_dir):
    """Batch analog of streaming_exact_dedup's keep-first semantics: one
    surviving doc per content hash, earliest event-time wins (doc_id
    tie-break) — verifies the same keep-the-first rule the watermarked
    dropDuplicatesWithinWatermark path applies incrementally."""
    from mwas_rfam_spark.operators.dedup import normalize_text

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "events").select("event_id", "ts")
    # deterministic per-doc event time: pair doc_id with an event row
    with_ts = d.join(e, d.doc_id == e.event_id, "inner").select(
        "doc_id", "text", F.floor(F.col("ts") / 1_000_000_000).cast("long").alias("ts_s")
    )
    hashed = with_ts.withColumn("content_hash", F.md5(normalize_text(F.col("text"))))
    w = Window.partitionBy("content_hash").orderBy(F.asc("ts_s"), F.asc("doc_id"))
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("content_hash", "doc_id", "ts_s")
    )


def q_line_dedup(spark, sf_dir):
    """C4-style cross-document line dedup (r4 addition): globally first
    (doc id, position) occurrence of each distinct line survives; docs
    reassemble from surviving lines in original order. Hash-verified
    against an independent DuckDB window/string_agg formulation."""
    from mwas_rfam_spark.operators.dedup import line_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return line_dedup(d)


#: SemDeDup production policy: cluster count scales with the corpus so
#: cell size stays ~constant (Abbas et al. 2023 run 50k clusters on
#: LAION-440M ≈ 9k vectors/cell; at our dims the measured within-cell
#: pair-volume knee is far lower — SCALE.md probe: fixed k is 29.6 s at
#: 10× where scaled k holds 1.34×). 128 keeps cells comfortably under
#: the quadratic knee while leaving enough rows per cell for recall.
SEMANTIC_DEDUP_CELL_TARGET = 128
_EMB_COUNT_CACHE: dict[str, int] = {}


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup in the PRODUCTION configuration (r4 verdict task #4):
    k_cells derived from the corpus size at a constant target cell
    size — the knob SemDeDup itself scales — instead of a fixed k=8.
    The quantizer comes from the session-memoized trainer (same
    build-vs-probe split as ann_ivf_topk); the corpus count is memoized
    alongside (one count job per process, a build-time catalog stat in
    production). Correctness via pytest incl. cluster-invariant checks
    on the real embeddings; threshold 0.4 reflects these embeddings'
    cosine range. The old fixed-k=8 shape remains probed in
    tools/scale_probe.py as the documented anti-pattern."""
    from mwas_rfam_spark.operators.dedup import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    if sf_dir not in _EMB_COUNT_CACHE:
        _EMB_COUNT_CACHE[sf_dir] = e.count()
    n = _EMB_COUNT_CACHE[sf_dir]
    k = max(8, round(n / SEMANTIC_DEDUP_CELL_TARGET))
    cents = _ivf_centroids(spark, sf_dir, k=k, iters=1)
    return semantic_dedup(e, k_cells=k, threshold=0.4, centroids=cents)


def q_sessionize(spark, sf_dir):
    """Gap-based batch sessionization rollup (bench surface; DuckDB
    parity in tests): one user-keyed shuffle, summaries reuse it."""
    from mwas_rfam_spark.operators.interval import session_summaries
    from mwas_rfam_spark.plans.testdata_mwas import load

    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    return session_summaries(ev, gap=30 * 60 * 1_000_000_000)


def q_events_quantiles(spark, sf_dir):
    """Per-event-type value quantiles via the mergeable GK sketch
    (bench surface; exact-variant DuckDB parity in tests)."""
    from mwas_rfam_spark.operators.summary import grouped_quantiles
    from mwas_rfam_spark.plans.testdata_mwas import load

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    return grouped_quantiles(ev, "value", ["event_type"], (0.5, 0.9, 0.99))


def q_dedup_quality(spark, sf_dir):
    """Quality gate for the engine-only (xxhash64) dedup variants, in the
    ann_recall mold: both MinHash-LSH and SimHash are deterministic, so
    their recall of the exact-Jaccard >= 0.7 pair set is a fixed number
    the oracle can pin as a boolean floor (the md5 twins are already
    value-hash-verified; this pins the throughput variants too)."""
    d = _t(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(d, n=3, threshold=0.7, max_df=None).select("id_a", "id_b")
    mh = minhash_lsh_pairs(d, num_hashes=64, bands=16, threshold=0.5).select(
        "id_a", "id_b"
    )
    # Hamming <= 7 of 64 bits ≈ cosine of the Jaccard-0.7 token overlap
    # (64·angle/π) — the radius at which SimHash is EXPECTED to recover
    # Jaccard-0.7 pairs (measured 96-100% here; <= 3 is a much stricter
    # notion and recalls only ~60-75%)
    sh = simhash_near_dup_pairs(d, max_hamming=7, bands=8).select("id_a", "id_b")

    def gate(method: str, found: DataFrame) -> DataFrame:
        hits = found.join(exact, ["id_a", "id_b"], "left_semi").agg(
            F.count("*").alias("n_hits")
        )
        total = exact.agg(F.count("*").alias("n_exact"))
        return hits.crossJoin(F.broadcast(total)).select(  # 1-row aggregates
            F.lit(method).alias("method"),
            # >= 90% of true high-similarity pairs must be recovered
            (F.col("n_hits") >= F.ceil(F.col("n_exact") * 0.9)).alias("meets_target"),
        )

    return gate("minhash_lsh", mh).unionByName(gate("simhash", sh))


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the exact-Jaccard near-dup pairs → per-doc
    (cluster_id, keep) — the actionable corpus drop list. Iterative
    min-label propagation on the engine side; recursive-CTE reachability
    in the oracle."""
    from mwas_rfam_spark.operators.dedup import dedup_clusters

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5, max_df=None)
    return dedup_clusters(pairs, docs=d)


def q_sample_stratified(spark, sf_dir):
    """Exact deterministic stratified sample (training-mix primitive):
    k smallest-md5 rows per label stratum."""
    from mwas_rfam_spark.plans.sampling import stratified_sample_exact

    e = _t(spark, sf_dir, "embeddings")
    return stratified_sample_exact(e, "label", 5, "vec_id").select(
        "vec_id", "label", "sample_rank"
    )


def q_doc_packing(spark, sf_dir):
    """Concat-then-chunk sequence packing: per-bucket token cumsum over a
    deterministic hash order; every chunk but each bucket's last is
    exactly full."""
    from mwas_rfam_spark.operators.packing import pack_documents

    d = _t(spark, sf_dir, "documents")
    return pack_documents(d, max_tokens_per_pack=512, n_buckets=64)


def q_mwas_t_only_full(spark, sf_dir):
    """T3/T4/A12/F1 — the FULL 18-column MWAS output, hash-verified.

    t_test_only makes every test closed-form, and p_value_threshold=1.1
    routes every finite-p row down the significant path — so the whole
    finalize stage (status suffix, fold-change sentinel strings, capped
    & swap-gated biosample lists, mg:426-434) is driver-checked, not just
    pytest-golden-checked. Two projections make the row cross-engine
    comparable: p_value (the Lentz continued-fraction t-tail, not
    SQL-expressible) is reduced to its effect on the row — in this mode
    p is finite iff the pooled variance is nonzero, which IS expressible
    — and the fold-change string is split into (sentinel class, numeric
    value) because Java and DuckDB format doubles-as-strings differently.
    """
    cfg = MwasConfig(t_test_only=True, p_value_threshold=1.1)
    meta = mwas_metadata_long_from_customer(spark, sf_dir)
    sets_df, ref_df = condense_metadata(meta)
    out = run_mwas(
        mwas_input_from_events(spark, sf_dir),
        mwas_catalog_from_orders(spark, sf_dir),
        sets_df,
        ref_df,
        cfg,
    )
    fc = F.col("fold_change")
    sentinel = fc.isin("0", "negative inf", "inf")
    p_finite = F.col("p_value").isNotNull() & ~F.isnan("p_value")
    return out.select(
        "bioproject",
        F.col("group").alias("group_name"),
        "metadata_field",
        "metadata_value",
        "status",
        "runtime_seconds",
        "memory_usage_bytes",
        "num_true",
        "num_false",
        F.round("mean_rpm_true", 6).alias("mean_rpm_true"),
        F.round("mean_rpm_false", 6).alias("mean_rpm_false"),
        F.round("sd_rpm_true", 6).alias("sd_rpm_true"),
        F.round("sd_rpm_false", 6).alias("sd_rpm_false"),
        F.when(fc.isNull(), F.lit(None).cast("string"))
        .when(fc == "0", F.lit("zero"))
        .when(fc == "negative inf", F.lit("neg_inf"))
        .when(fc == "inf", F.lit("pos_inf"))
        .otherwise(F.lit("ratio"))
        .alias("fc_class"),
        F.when(fc.isNotNull() & ~sentinel, F.round(fc.cast("double"), 6)).alias("fc_value"),
        F.when(p_finite, F.round("test_statistic", 6)).alias("t_stat"),
        "true_biosamples",
        "false_biosamples",
    )


def q_events_hourly(spark, sf_dir):
    """Time-window aggregation (batch analog of the streaming rollup)."""
    e = _t(spark, sf_dir, "events")
    # ts arrives as nanos-since-epoch long (see _t). Truncate to the hour
    # in the INTEGER domain and rebuild an NTZ timestamp against an NTZ
    # epoch literal: no session/system timezone is consulted anywhere
    # (date_trunc on an LTZ value buckets in session tz — the driver's
    # session is untuned, so nothing guarantees UTC there).
    hour = F.expr(
        "timestampadd(MICROSECOND, (ts div 3600000000000) * 3600000000, "
        "TIMESTAMP_NTZ'1970-01-01 00:00:00')"
    )
    return e.groupBy(
        hour.alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))


def q_text_decontam(spark, sf_dir):
    """Benchmark decontamination (Brown et al. 2020 appendix C): per
    training document, the fraction of its distinct word 5-gram shingles
    that collide with the held-out eval split (doc_id % 97 == 0 plays the
    benchmark). The eval side collapses to distinct shingles and
    broadcasts; training docs flow only as (id, shingle) rows."""
    from mwas_rfam_spark.operators.text import decontaminate

    d = _t(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 97 != 0)
    bench = d.where(F.col("doc_id") % 97 == 0)
    return decontaminate(train, bench, n=5, threshold=0.2)


def q_shuffle_shard(spark, sf_dir):
    """Deterministic epoch shuffle + shard assignment for training-order
    writes: md5(seed:id) is the shuffle key, shard = first-two-hex-digits
    mod 8, seq = position within the shard. Engine-independent (unlike
    rand(seed)), so the exact shard layout is reproducible in ANSI SQL."""
    from mwas_rfam_spark.plans.sampling import shuffle_shard

    d = _t(spark, sf_dir, "documents")
    return shuffle_shard(d, n_shards=8, seed=42).select("doc_id", "shard", "seq")


def q_asof_join(spark, sf_dir):
    """As-of join (bench-only; DuckDB-ASOF parity in tests/test_asof.py):
    attach the most recent prior error event per user to every event —
    one union + one per-user running-last window, no range join."""
    from mwas_rfam_spark.operators.interval import asof_join

    e = _t(spark, sf_dir, "events")
    errors = (
        e.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )
    return asof_join(e.select("event_id", "user_id", "ts"), errors, by="user_id")


def q_curation_pipeline(spark, sf_dir):
    """Composed end-to-end curation (bench-only; every stage is an
    independently oracle-verified operator): quality gates → keep-first
    exact dedup → benchmark decontamination → PII redaction → epoch
    shuffle-shard."""
    from mwas_rfam_spark.operators.curation import curate_corpus

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    return curate_corpus(
        d.where(F.col("doc_id") % 97 != 0), bench,
        min_tokens=5, decontam_n=5, decontam_threshold=0.2, n_shards=8, seed=42,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver-checked registry — capped at 50 entries BY THE DRIVER
    (r02 verified exactly the first 50 of 62), so every entry here gets a
    fresh correctness row each round instead of silently rotating.

    Consolidation map (round 3) — every deregistered surface stays
    hash-verified inside a registered green entry (and stays covered by
    pytest + benchable via :func:`bench_queries`):

    - s1_scan_project      → scan+projection+pushdown via `p_predicates`;
                             the positional-rename reader via reader tests
    - a2_count_distinct    → distinct/count-distinct pruning is the heart
                             of `condense_sets` (nunique factor pruning)
    - a5_conditional_count → group-skip conditional counts drive the
                             `status` column of `mwas_t_only_full`
    - f1_fold_change       → fc_class/fc_value in `mwas_t_only_full` and
                             the numeric fold_change in `mwas_legacy_full`
    - a12_capped_list_agg  → capped & swap-gated biosample lists in
                             `mwas_t_only_full` / `mwas_legacy_full`
    - w1_topk_sort         → global p-sort in `mwas_legacy_full`; top-k
                             via `w5_topk_per_group`
    - t1_welch_from_stats  → Welch t/df/p hash-verified end-to-end in
                             `mwas_cohort_welch`
    - mwas_summary         → deterministic analog `mwas_summary_t_only`
                             is green; the randomized kernel stays
                             visible through the `mwas_full` rows-only row
    - ann_cosine_topk      → single-query brute force is the exact arm of
                             `ann_recall`; batch ranking via `ann_knn_batch`
    - ann_lsh_topk         → recall-floor-pinned inside `ann_recall`
    - dedup_simhash        → construction via `dedup_simhash32`, recall
                             via `dedup_quality`
    - dedup_minhash_lsh    → the xxhash64 family's band→candidate→
                             estimate pipeline is hash-verified by its
                             md5 twin `dedup_minhash_md5` and its recall
                             by `dedup_quality`; its slot went to the
                             hash-verified `text_bigram_quality` (a ✓
                             row instead of a rows-only row)
    - multimodal_meta/decode/audio → one `multimodal_pipeline` entry
    - a4_two_level_rollup  → the two-level biosample rollup IS stage one
                             of `mwas_cohort_welch` (per-biosample mean →
                             cohort stats, hash-verified there incl. the
                             sd columns); its slot went to the
                             hash-verified `text_repetition` Gopher gates
    - a3_value_counts      → value counts + HAVING >= 2 is the factor-
                             pruning core of `condense_sets`
                             (operators/condense.py:66-74, hash-verified
                             there); its slot went to the hash-verified
                             `shuffle_shard` epoch-shuffle primitive
    - dedup_first_seen     → (r4) the keep-first window-min rule stays
                             hash-verified as the 'duplicate' stage of
                             the curation parity tests and exercised by
                             the streaming keep-first parity test; its
                             slot went to the hash-verified C4-style
                             `line_dedup` (still benchable below)
    - f_string_funcs       → F3-F6 each hash-verified inside larger green
                             entries: regexp_replace/cast in
                             `condense_sets`, concat_ws in
                             `condense_readable`, split/element_at in the
                             `text_*` tokenization; its slot went to the
                             hash-verified `text_decontam` benchmark-
                             decontamination gate

    - so4_intersect        → (r5) INTERSECT is a single built-in set op
                             whose arithmetic (groupBy-sum + filter +
                             set semantics) is pinned by the green
                             so1/so2/j6 family; it stays DuckDB-parity-
                             verified in tests/test_parity_and_edges.py
                             (same SQL the oracle ran). Its slot went to
                             `mwas_perm_calibration` — the randomized
                             permutation kernel's driver-pinned gate
                             (r4 verdict task #3), which closes the last
                             rows-only surface's calibration question.

    Round-6 rotation (r5 verdict task #1): six slots moved from thin
    entries whose arithmetic is already hash-pinned inside larger green
    rows to the round-5 operator families, so the newest surface gets
    driver-checked rows. Every rotated-out entry keeps its EXACT former
    oracle SQL as a pytest DuckDB-parity test
    (tests/test_parity_and_edges.py::test_relocated_oracle_parity, via
    :func:`relocated_oracles`) and stays benchable below:

    - f2_rpm_normalize     → RPM normalization incl. the mg-quirk is
                             hash-pinned inside `mwas_cohort_welch` /
                             `mwas_t_only_full` (every mean_rpm_* column
                             flows through it); slot → `bm25_topk`
    - so2_complement       → the index-set complement is the 'readable'
                             half of `condense_readable` (same
                             complement arithmetic, hash-pinned); slot →
                             `fuzzy_editdist`
    - j4_cascading_lookup  → cascading-COALESCE lookups are J2-J4's
                             surface; the join+coalesce core is pinned
                             by `j1_outer_join_agg` (outer join + NULL
                             coalesce) and the mwas lookup chain; slot →
                             `dedup_containment`
    - j6_semi_join         → LEFT SEMI is pinned as the IN-list pushdown
                             inside `p_predicates`' plan family and by
                             `so1_anti_join` (same rewrite, negated);
                             slot → `drift_report`
    - s13_synthetic_input  → the stratified synthetic source's sampling
                             arithmetic is the green `sample_stratified`
                             family's (deterministic md5 strata); slot →
                             `cdc_dedup` (chunk-tiling roundtrip form —
                             see q_cdc_roundtrip; the stats form stays
                             the bench row)
    - a7_signature_dedup   → cohort-signature dedup is ALSO hash-pinned
                             as the signature stage of `condense_sets`
                             (operators/condense.py:95-101); slot →
                             `bpe_tokenize` (decode-inverse roundtrip
                             form — see q_bpe_roundtrip; the counts form
                             stays the bench row)

    Round-6 wave-2 rotation (one slot):

    - ann_knn_batch        → batched brute-force kNN; its cosine + top-k
                             arithmetic stays driver-pinned via
                             `ann_ivf_topk` (same cosine ranking over
                             the pruned index) and `ann_recall`, and the
                             batched form keeps its exact former oracle
                             in relocated_oracles + stays benchable;
                             slot → `ivfpq_indexed` (the materialized
                             IVF×PQ search, oracle-replayed end to end
                             over the index files)

    Round-7 rotation (r6 verdict task #1): five slots moved from thin
    entries whose arithmetic is already pinned elsewhere to the round-6
    operator families. Every rotated-out entry keeps its EXACT former
    oracle SQL in :func:`relocated_oracles` (pytest DuckDB-parity) and
    stays benchable below:

    - j5_sql_api           → a surface wrapper (spark.sql over temp
                             views) whose underlying plans are the green
                             join/agg family; slot → `ivfpq_knn_join`
                             (batch ADC retrieval, full DuckDB replay
                             over the index files incl. per-query LUTs)
    - dedup_simhash32      → SimHash construction; its banded-Hamming
                             candidate core is now ALSO driver-pinned
                             via `image_dedup` (shared
                             hamming_band_pairs), recall via
                             `dedup_quality`; slot → `embed_drift`
                             (exact-KS drift over a materialized
                             baseline PCA model, projection replayed
                             from the stored model files)
    - dedup_embedding_lsh  → the signed-random-projection family's
                             recall is pinned by `dedup_quality` and its
                             cosine verify by `dedup_embedding_cosine`;
                             slot → `source_mix` (largest-remainder
                             temperature apportionment + seeded md5
                             remainder draw, sum_ids pins membership)
    - text_vocab_topk      → tf/df counting is the text family's core,
                             pinned inside `text_bigram_quality` /
                             `bm25_topk` (df arithmetic); slot →
                             `image_dedup` (fake-dhash banding +
                             connected components replayed in SQL; the
                             real-codec dhash is pytest-pinned)
    - ann_ivf_topk         → single-query IVF probe + cosine ranking is
                             a strict subset of the green
                             `ivfpq_indexed` composition (same probe
                             arithmetic over the same stored centroids)
                             and stays bracketed by `ann_recall`; slot →
                             `sq8_topk` (SQ8 encode trained in-SQL +
                             folded-query ranking + exact re-rank)

    Round-9 rotation (r8 verdict task #1, same machinery): three slots
    moved to the r7 evaluation/sketch/OPQ families. Every rotated-out
    entry keeps its EXACT former oracle SQL in :func:`relocated_oracles`
    (pytest DuckDB-parity) and stays benchable below:

    - a9_summary_agg       → summary aggregates (A9/S12) are hash-pinned
                             inside `mwas_summary_t_only` (same
                             max/avg/sum/conditional-avg family) and
                             `condense_accounting`; slot → `model_eval`
                             (midrank AUC + f1@t + calibration gaps, all
                             replayed in plain SQL — the score squash is
                             the algebraic sigmoid so both engines see
                             bit-identical scores)
    - j7_positional_join   → J7/F10's window-position + array access
                             also flow through the condense family
                             (`condense_readable` complement indexing)
                             and `a11_grouping_sets`' struct access;
                             slot → `cms_freq` (count-min sketch build +
                             probe lookups; the md5 bucket derivation is
                             plain SQL so the sketch CONTENT replays
                             bit-for-bit)
    - dedup_exact          → exact-collapse is STAGE ONE of the green
                             `dedup_pipeline` (same content-hash
                             groupBy, hash-pinned there) and of
                             `line_dedup`; slot → `opq_encode`
                             (= q_opq_encode_replay: materialized
                             rotation+codebooks, projection +
                             per-subspace argmin replayed in SQL; the
                             unrounded scale form stays the bench row)

    Round-11 rotation (r10 verdict task #1, same machinery): two slots
    moved to the two newest evaluation surfaces — the last r9 additions
    that held no green oracle rows. Every rotated-out entry keeps its
    EXACT former oracle SQL in :func:`relocated_oracles` (pytest
    DuckDB-parity) and stays benchable below:

    - drift_report         → the scalar drift family's exact-KS +
                             eps-smoothed-PSI arithmetic is a strict
                             subset of the still-registered
                             `embed_drift` (same exact-KS two-level
                             prefix sum over the projected components,
                             replayed there from the stored PCA model)
                             and stays hand-model-pinned in
                             tests/test_drift.py; slot →
                             `grouped_calibration` (per-slice bins +
                             per-group ECE, the grouped twin whose
                             ungrouped form rides green inside
                             `model_eval`'s gap@bin rows)
    - condense_accounting  → the accounting sink's countDistinct /
                             status-rule arithmetic is the condense
                             family's, hash-pinned by the still-
                             registered `condense_sets` +
                             `condense_readable` (same meta/sets CTE
                             chain — S12 stays (r)-covered exactly as
                             A9 has been since r9); slot →
                             `eval_state_auc` (the streaming exact-AUC
                             state reader incl. crash-safe compaction,
                             folded counts == full-relation midrank
                             AUC replayed in plain SQL)

    Round-12 rotation (r11 verdict task #3, same machinery — one slot
    to the second of the three eval-state readers):

    - j1_outer_join_agg    → the full-outer-join + NULL-coalesce +
                             aggregate core is hash-pinned as stage one
                             of EVERY green mwas entry (the input⟗
                             catalog join, operators/mwas.py:93-113);
                             exact former oracle SQL in
                             relocated_oracles, stays benchable; slot →
                             `eval_state_calibration` (10-bin
                             calibration reconstructed from the mixed
                             frozen+raw counts state == row-level
                             report over the full scored relation,
                             replayed in plain SQL)

    Round-13 rotation (r12 verdict task #4 + the "missing #1" closure,
    same machinery — the remaining two eval-state readers take slots,
    so all THREE readers are driver-gated):

    - so1_anti_join        → anti-join arithmetic stays driver-pinned
                             inside the green `text_decontam` row;
                             exact former oracle SQL in
                             relocated_oracles, stays benchable; slot →
                             `eval_state_grouped_auc` (per-slice
                             midrank AUC from the grouped mixed
                             frozen+raw counts state, PARTITION BY grp
                             in plain SQL)
    - mwas_summary_t_only  → a strict rollup of the green
                             `mwas_t_only_full` relation (same
                             max/avg/sum/conditional family the A9/S12
                             rows pin); exact former oracle SQL in
                             relocated_oracles, stays benchable; slot →
                             `eval_state_threshold_report` (per-slice
                             confusion cells reconstructed from the
                             same grouped state — score >= t is a pure
                             score function, replayed in plain SQL)

    Round-4 second-wave surfaces (registry full at 50 all-green; each is
    pytest-pinned and benchable where noted, with its exactness anchored
    to an existing green entry where semantics overlap):

    - PQ / ADC / IVF×PQ     → tests/test_quantization.py (ADC == LUT sum
                              exactly; refined top-k == numpy exact;
                              partition pruning plan-asserted); benched
                              as `pq_adc_topk`; shares the cosine/L2
                              arithmetic pinned green by `ann_ivf_topk`
                              (and, since the r6 wave-2 rotation, the
                              full IVF×PQ composition is itself
                              driver-pinned as `ivfpq_indexed`)
    - Bloom incremental     → tests/test_bloom.py randomized equivalence
      dedup                   against `incremental_exact_dedup`, whose
                              keep-first/anti-join semantics are the
                              green `dedup_exact` family's
    - HLL cardinality       → tests/test_cardinality.py exact-vs-sketch
                              tolerance + state rollups; the exact arm
                              IS `countDistinct`, green via `condense_sets`
    - heavy_hitters         → tests/test_heavy_hitters.py equivalence
                              with the full groupBy (green via
                              `text_vocab_topk`'s counting) under random
                              and adversarial partitionings
    - hybrid RRF retrieval  → tests/test_retrieval.py hand-model fusion;
                              arms are the green Jaccard/cosine
                              surfaces; benched as `hybrid_rrf`
    - maintenance sinks     → tests/test_maintenance_sinks.py
      (upsert/compaction)     (untouched-partition immutability, data
                              identity, writer-capped file sizes)
    - DSIR importance       → tests/test_selection.py FULL DuckDB replay
      resampling              (weights AND the Gumbel-top-k selected
                              set, order included — the same md5 recipe
                              the green `shuffle_shard` pins); benched
                              as `dsir_select`
    - linear quality score  → tests/test_selection.py hand-model sigmoid
                              + empty-doc paths; benched as
                              `quality_linear`
    - cluster-balanced      → tests/test_selection.py per-cell caps +
      sampling                determinism; the strata sampler IS the
                              green `sample_stratified`; benched as
                              `cluster_sample`
    - duplicate spans       → tests/test_duplicate_spans.py hand-built
      (Lee et al. 2021)       corpora + DuckDB parity on the documents
                              table (find + strip halves); benched as
                              `dup_spans`
    - hash_split            → tests/test_selection.py determinism +
                              proportions + grow-stability (same
                              md5_u32 primitive the green
                              `shuffle_shard` pins)
    - corpus_report         → tests/test_selection.py hand-computed
                              corpus (exact fields exact; HLL fields
                              are the green `condense` countDistinct
                              family's sketch form)
    - embed_documents       → tests/test_multimodal.py determinism +
                              custom-encoder batch contract + ANN
                              hand-off (stub convention of the
                              multimodal codec family)
    - validation/quarantine → tests/test_validation.py hand-computed
                              report, reason arrays, empty-batch and
                              null semantics (one lazy aggregation
                              pass; the uniqueness count is the
                              condense countDistinct family)
    - curation model gate   → tests/test_curation_parity.py composition
      + threshold_at_quantile (scored only over cheap-gate survivors;
                              the scorer itself benched as
                              `quality_linear`)
    - corpus signatures /   → tests/test_dedup.py identity + agreement
      overlap matrix          with the direct estimator + mixed-width
                              rejection (stored-state twin of the
                              pytest-pinned corpus_overlap_estimate)

    Round-5 surfaces (registry still 50; the one swap this round is
    so4_intersect → mwas_perm_calibration, documented above):

    - BM25 (scan + indexed) → tests/test_r5_ops.py DuckDB score parity
                              + hand model; tests/test_retrieval.py
                              indexed==scan equivalence + PartitionFilter
                              plan assert; benched as `bm25_topk`
    - leakage-safe split    → tests/test_r5_ops.py cluster cohesion,
                              hash_split reduction, real-dedup e2e;
                              CLI `split --clusters` e2e in test_cli.py
    - incremental embedding → tests/test_r5_ops.py numpy-reference
      dedup                   equivalence + state growth + keep-first;
                              benched as `incremental_embedding`
    - skew_report           → tests/test_r5_ops.py hand-computed fair-
                              share ratios incl. the null key
    - PNG codec (stdlib)    → tests/test_multimodal.py round-trip, all
                              5 filters, corrupt rejections, Spark e2e
                              through decode_images(fake=False)
    - mwaspkl DataSource    → tests/test_mwaspkl_source.py decode +
                              partition-per-file + sentinel skip (S5
                              native-format scan)

    Round-5 session-2 surfaces (registry unchanged at 50):

    - GIF codec (stdlib)    → tests/test_multimodal.py round-trip,
      + real video frames     interlace, disposal/transparency
                              compositing, corrupt rejections, Spark
                              e2e through sample_video_frames(
                              fake=False) — all three media families
                              now have an in-container real decoder
    - fuzzy edit-distance   → tests/test_fuzzy.py brute-force parity
      join (PassJoin)         (self + R-S, d=1..3, short strings) +
                              DuckDB levenshtein parity on documents;
                              benched as `fuzzy_editdist`
    - drift detectors       → tests/test_drift.py exact-KS reference
      (KS / PSI / chi2)       + DuckDB window-SQL parity + PSI/chi2
                              hand models; CLI `drift` e2e; benched
                              as `drift_report`
    - BPE tokenizer         → tests/test_tokenize.py hand-verified
                              merges (Sennrich example), encode/
                              decode inverse, partitioning-
                              independent determinism; CLI `tokenize`
                              e2e; benched as `bpe_tokenize`;
                              composes into pack_documents via
                              token_count_col
    - CDC binary dedup      → tests/test_multimodal.py vectorized==
                              sequential gear-hash equality,
                              insertion survival, reassembly, Spark
                              dedup stats; benched as `cdc_dedup`
    - corpus snapshot diff  → tests/test_drift.py status matrix +
                              DuckDB parity on real documents; CLI
                              `diff` e2e
    - containment dedup     → tests/test_fuzzy.py brute-force +
                              DuckDB parity incl. quote-inclusion;
                              benched as `dedup_containment`
    - incremental indexes   → append==rebuild equivalence tests
      (BM25 + IVF appends)    (test_retrieval / test_similarity);
                              CLI `index` e2e
    - BPE vocab/id streams  → tests/test_tokenize.py coverage +
                              round-trip + determinism
    - streaming PSI (cat +  → tests/test_streaming.py batch/stream
      numeric bins)           parity, null-influx, hand models
    - binned numeric drift  → tests/test_drift.py ks_lower_bound
                              counterexample + null isolation
    - property suite        → tests/test_properties.py GIF/BPE/CDC
                              invariants under hypothesis
    """
    return {
        "mwas_cohort_welch": q_mwas_cohort_welch,
        "mwas_full": q_mwas_full,
        "mwas_t_only_full": q_mwas_t_only_full,
        "mwas_legacy_full": q_mwas_legacy_full,
        "mwas_legacy_13col": q_mwas_legacy_13col,
        "mwas_perm_exact": q_mwas_perm_exact,
        "condense_sets": q_condense_sets,
        "condense_readable": q_condense_readable,
        "eval_state_auc": q_eval_state_auc,
        "eval_state_calibration": q_eval_state_calibration,
        # r13 rotation: slot from so1_anti_join (its anti-join
        # arithmetic stays driver-pinned inside the green text_decontam
        # row and exact former SQL lives in relocated_oracles)
        "eval_state_grouped_auc": q_eval_state_grouped_auc,
        # r13 rotation wave 2: slot from mwas_summary_t_only (a strict
        # rollup of the green mwas_t_only_full relation; exact former
        # SQL lives in relocated_oracles, stays benchable) — closes the
        # eval-state reader family: all three readers driver-slotted
        "eval_state_threshold_report": q_eval_state_threshold_report,
        "p_predicates": q_p_predicates,
        "j8_interval_join": q_j8_interval_join,
        "mwas_perm_calibration": q_mwas_perm_calibration,
        "shuffle_shard": q_shuffle_shard,
        "a11_grouping_sets": q_a11_grouping_sets,
        "w5_topk_per_group": q_w5_topk_per_group,
        "text_decontam": q_text_decontam,
        "bm25_topk": q_bm25_topk,
        "fuzzy_editdist": q_fuzzy_editdist,
        "dedup_containment": q_dedup_containment,
        "grouped_calibration": q_grouped_calibration,
        "cdc_dedup": q_cdc_roundtrip,
        "bpe_tokenize": q_bpe_roundtrip,
        "model_eval": q_model_eval,
        "cms_freq": q_cms_freq,
        "opq_encode": q_opq_encode_replay,
        "dedup_pipeline": q_dedup_pipeline,
        "dedup_clusters": q_dedup_clusters,
        "line_dedup": q_line_dedup,
        "dedup_quality": q_dedup_quality,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_md5": q_dedup_minhash_md5,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "text_lang_quality": q_text_lang_quality,
        "text_repetition": q_text_repetition,
        "text_winnowing": q_text_winnowing,
        "text_bigram_quality": q_text_bigram_quality,
        "multimodal_pipeline": q_multimodal_pipeline,
        "ivfpq_indexed": q_ivfpq_indexed,
        "ivfpq_knn_join": q_ivfpq_knn_join,
        "sq8_topk": q_sq8_topk,
        "embed_drift": q_embed_drift,
        "source_mix": q_source_mix,
        "image_dedup": q_image_dedup,
        "ann_recall": q_ann_recall,
        "sample_stratified": q_sample_stratified,
        "doc_packing": q_doc_packing,
        "events_hourly": q_events_hourly,
    }


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 lexical top-k over documents (registered correctness
    entry since r6 — driver-gated DuckDB oracle;
    DuckDB score-for-score parity + hand model in tests/test_r5_ops.py).
    Index-free form: one token scan filtered to the broadcast query
    terms before any shuffle."""
    from mwas_rfam_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, ["the", "data", "pipeline"], k=15).select(
        "doc_id", F.round("score", 6).alias("score"), "n_matched"
    )


_EMB_STATE_CACHE: dict[str, "DataFrame"] = {}


def q_incremental_embedding(spark, sf_dir):
    """Incremental embedding dedup probe (bench-only; numpy-reference
    equivalence + state-growth semantics in tests/test_r5_ops.py):
    even-id vectors are the stored corpus state, odd-id vectors the
    fresh batch — probe joins only same-cell state."""
    from mwas_rfam_spark.operators.dedup import (
        embedding_dedup_state,
        incremental_embedding_dedup,
    )

    e = _t(spark, sf_dir, "embeddings")
    # cell count scales with the corpus (constant target cell size) —
    # the same production policy as q_semantic_dedup; a fixed k would
    # let state cells grow with corpus and the probe's per-cell product
    # with them
    if sf_dir not in _EMB_COUNT_CACHE:
        _EMB_COUNT_CACHE[sf_dir] = e.count()
    k = max(8, round(_EMB_COUNT_CACHE[sf_dir] / SEMANTIC_DEDUP_CELL_TARGET))
    cents = _ivf_centroids(spark, sf_dir, k=k, iters=1)
    # state is STORED in production (partitioned by cell) — building it
    # is ingest-time work, not probe cost; memoize per process like the
    # IVF index (build-vs-probe policy)
    if sf_dir not in _EMB_STATE_CACHE:
        _EMB_STATE_CACHE[sf_dir] = embedding_dedup_state(
            e.where(F.col("vec_id") % 2 == 0), cents
        ).localCheckpoint()
    surv, _updated = incremental_embedding_dedup(
        e.where(F.col("vec_id") % 2 == 1), _EMB_STATE_CACHE[sf_dir], cents, threshold=0.9
    )
    return surv.select("vec_id")


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Everything in :func:`queries` plus the deregistered-but-still-
    benched entries, so bench.py keeps its per-query series comparable
    across rounds (the correctness registry is driver-capped at 50; the
    bench headline list is not)."""
    return {
        **queries(),
        # r6 rotation: the six deregistered entries stay benchable, and
        # the two bench rows whose registry slots now hold the oracle-
        # checkable roundtrip forms keep their r5 timing semantics (the
        # explicit keys below override the registry values, so the
        # cdc_dedup / bpe_tokenize bench series stay comparable)
        "f2_rpm_normalize": q_f2_rpm_normalize,
        "so2_complement": q_so2_complement,
        "j4_cascading_lookup": q_j4_cascading_lookup,
        "j6_semi_join": q_j6_semi_join,
        "s13_synthetic_input": q_s13_synthetic_input,
        "a7_signature_dedup": q_a7_signature_dedup,
        "cdc_dedup": q_cdc_dedup,
        "bpe_tokenize": q_bpe_tokenize,
        "cdc_roundtrip": q_cdc_roundtrip,
        "bpe_roundtrip": q_bpe_roundtrip,
        "fuzzy_editdist_long": q_fuzzy_editdist_long,
        "embed_pca_reduce": q_embed_pca_reduce,
        # r6 wave-2 rotation: ann_knn_batch's slot went to ivfpq_indexed
        # (its oracle lives on in relocated_oracles + the parity test)
        "ann_knn_batch": q_ann_knn_batch,
        "dedup_approx_eval": q_dedup_approx_eval,
        "semantic_decontam": q_semantic_decontam,
        "ann_knn_join": q_ann_knn_join,
        # r7 wave: evaluation / sketch / OPQ surfaces — registered since
        # the r9 rotation; opq_encode's bench row stays the UNROUNDED
        # scale-path form (the registry holds q_opq_encode_replay)
        "model_eval": q_model_eval,
        "cms_freq": q_cms_freq,
        "opq_encode": q_opq_encode,
        # r9 rotation: the three deregistered entries stay benchable
        # (their former oracle SQL lives on in relocated_oracles)
        "a9_summary_agg": q_a9_summary_agg,
        "j7_positional_join": q_j7_positional_join,
        "dedup_exact": q_dedup_exact,
        # r11 rotation: the two deregistered entries stay benchable
        # (their former oracle SQL lives on in relocated_oracles)
        "drift_report": q_drift_report,
        "condense_accounting": q_condense_accounting,
        # r12 rotation: slot → eval_state_calibration; stays benchable
        # (exact former oracle SQL in relocated_oracles)
        "j1_outer_join_agg": q_j1_outer_join_agg,
        # r13 rotation: slot → eval_state_grouped_auc; stays benchable
        # (exact former oracle SQL in relocated_oracles)
        "so1_anti_join": q_so1_anti_join,
        # r13 rotation wave 2: slot → eval_state_threshold_report;
        # stays benchable (exact former oracle SQL in relocated_oracles)
        "mwas_summary_t_only": q_mwas_summary_t_only,
        # r9: evaluation-family replay surfaces (DuckDB parity via
        # relocated_oracles; grouped_auc is also a HEADLINE bench row —
        # the per-slice fairness query needed plan-regression coverage)
        "grouped_auc": q_grouped_auc,
        "threshold_report": q_threshold_report,
        # r11 stretch: the grouped confusion twin (replay-only, same
        # convention)
        "grouped_threshold_report": q_grouped_threshold_report,
        # r7 rotation: the five deregistered entries stay benchable
        # (their former oracle SQL lives on in relocated_oracles); the
        # five r6 families that took their slots — sq8_topk, source_mix,
        # image_dedup, embed_drift, ivfpq_knn_join — now come in through
        # **queries() above
        "j5_sql_api": q_j5_sql_api,
        "dedup_simhash32": q_dedup_simhash32,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "text_vocab_topk": q_text_vocab_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "t1_welch_from_stats": q_t1_welch_from_stats,
        "a4_two_level_rollup": q_a4_two_level_rollup,
        "dedup_simhash": q_dedup_simhash,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "ann_cosine_topk": q_ann_cosine_topk,
        "multimodal_decode": q_multimodal_decode,
        "s1_scan_project": q_s1_scan_project,
        "a3_value_counts": q_a3_value_counts,
        "f_string_funcs": q_f_string_funcs,
        "curation_pipeline": q_curation_pipeline,
        "j9_asof_join": q_asof_join,
        "dedup_first_seen": q_dedup_first_seen,
        "so4_intersect": q_so4_intersect,
        "incremental_embedding": q_incremental_embedding,
        "semantic_dedup": q_semantic_dedup,
        "j10_sessionize": q_sessionize,
        "events_quantiles": q_events_quantiles,
        "pq_adc_topk": q_pq_adc_topk,
        "hybrid_rrf": q_hybrid_rrf,
        "dsir_select": q_dsir_select,
        "quality_linear": q_quality_linear,
        "cluster_sample": q_cluster_sample,
        "dup_spans": q_dup_spans,
    }


# T2 — the permutation test's EXACT-ENUMERATION regime, hash-verified.
# With metadata restricted to the first 8 biosamples per bioproject, every
# permutation-eligible cohort is a 4/4 split of n=8 (min cohort 4 forces
# it), so C(8,4)=70 <= resamples switches the kernel to complete
# enumeration (functions/stattests.py `_exact_null_mean_diff`) — and 70 subset sums ARE
# expressible in SQL as bitmask enumeration. p-values are then exact
# rationals k/70, identical across engines; the tie tolerance gamma =
# 1e-14*max(1, |obs|, max|pooled|) absorbs the cross-engine ulp noise in
# subset sums (same formula as functions/stattests.py).
_MWAS_PERM_EXACT_ORACLE = (
    _MWAS_CTES_FIRST8
    + """
, skipflags AS (
  SELECT bp, grp, count(*) < 3 AS skip_tests FROM resolved GROUP BY 1, 2),
uni_obs AS (
  SELECT r.bp, r.grp, r.rpm
  FROM ru r JOIN uni u ON r.bp = u.bp AND r.bs = u.bs
  JOIN ref ON r.bp = ref.bp),
vals AS (
  SELECT o.bp, o.grp, list_sort(list(o.rpm)) AS obs, any_value(ref.n) AS n
  FROM uni_obs o JOIN ref ON o.bp = ref.bp GROUP BY 1, 2),
pooledv AS (
  SELECT bp, grp, n,
         list_concat(obs, list_transform(range(1, CAST(n - len(obs) + 1 AS BIGINT)),
                                         x -> 0.0)) AS pooled,
         list_max(list_transform(obs, x -> abs(x))) AS pmax
  FROM vals WHERE n = 8),
masks AS (
  SELECT m FROM (SELECT unnest(range(0, 256)) AS m)
  WHERE ((m >> 0) & 1) + ((m >> 1) & 1) + ((m >> 2) & 1) + ((m >> 3) & 1)
      + ((m >> 4) & 1) + ((m >> 5) & 1) + ((m >> 6) & 1) + ((m >> 7) & 1) = 4),
nullstats AS (
  SELECT p.bp, p.grp, ms.m, any_value(p.pmax) AS pmax,
         sum(CASE WHEN ((ms.m >> (pos.i - 1)) & 1) = 1
                  THEN p.pooled[pos.i] ELSE 0.0 END) / 4.0
         - (any_value(p.total)
            - sum(CASE WHEN ((ms.m >> (pos.i - 1)) & 1) = 1
                       THEN p.pooled[pos.i] ELSE 0.0 END)) / 4.0 AS stat
  FROM (SELECT *, list_sum(pooled) AS total FROM pooledv) p
  CROSS JOIN masks ms
  CROSS JOIN (SELECT unnest(range(1, 9)) AS i) pos
  GROUP BY 1, 2, 3),
rows8 AS (
  SELECT s.*, (s.mean_t - s.mean_f) AS obs_stat
  FROM stats s
  LEFT JOIN skipflags k ON s.bio_project = k.bp AND s.group_name = k.grp
  WHERE s.n_true = 4 AND s.n_false = 4 AND NOT COALESCE(k.skip_tests, TRUE)),
counts AS (
  SELECT r.bio_project, r.group_name, r.attributes, r.set_values,
         r.n_true, r.n_false, r.mean_t, r.mean_f, r.sd_t, r.sd_f, r.obs_stat,
         sum(CASE WHEN ns.stat >= r.obs_stat
                       - 1e-14 * greatest(1.0, abs(r.obs_stat), ns.pmax)
                  THEN 1 ELSE 0 END) AS ge,
         sum(CASE WHEN ns.stat <= r.obs_stat
                       + 1e-14 * greatest(1.0, abs(r.obs_stat), ns.pmax)
                  THEN 1 ELSE 0 END) AS le,
         count(*) AS denom
  FROM rows8 r JOIN nullstats ns ON r.bio_project = ns.bp AND r.group_name = ns.grp
  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
SELECT bio_project AS bioproject, group_name,
       replace(attributes, ',', ' ') AS metadata_field,
       replace(set_values, ',', ' ') AS metadata_value,
       CAST(n_true AS INT) AS num_true, CAST(n_false AS INT) AS num_false,
       round(mean_t, 6) AS mean_rpm_true, round(mean_f, 6) AS mean_rpm_false,
       round(sd_t, 6) AS sd_rpm_true, round(sd_f, 6) AS sd_rpm_false,
       round(obs_stat, 6) AS t_stat,
       round(least(1.0, 2.0 * least(ge, le) / denom), 6) AS p_value
FROM counts
"""
)

# Calibration gate oracle (mwas_perm_calibration): the oracle cannot
# replay the randomized kernel, but it CAN independently derive the
# number of permutation-eligible tests under the first-14 restriction
# from the same relational CTE chain (eligibility = min cohort >= 4 and
# the group-skip rule — exactly what q_mwas_perm_exact's 4/4-at-n=8
# condition generalizes to), and pin meets_target TRUE. A Spark-side
# eligibility drift breaks n_compared; a kernel mis-calibration breaks
# the 3σ band and flips the boolean — both hash-visible.
_MWAS_PERM_CALIB_ORACLE = (
    _MWAS_CTES_HEAD
    + _META_FIRST8.replace("<= 8", "<= 14")
    + _MWAS_CTES_TAIL
    + """
, skipflags AS (
  SELECT bp, grp, count(*) < 3 AS skip_tests FROM resolved GROUP BY 1, 2)
SELECT 'randomized_vs_exact' AS check_name,
       CAST(count(*) AS BIGINT) AS n_compared,
       TRUE AS meets_target
FROM stats s
LEFT JOIN skipflags k ON s.bio_project = k.bp AND s.group_name = k.grp
WHERE least(s.n_true, s.n_false) >= 4 AND NOT COALESCE(k.skip_tests, TRUE)
"""
)


def _emb_lsh_oracle() -> str:
    """Sign-bucket blocking with the SAME seeded planes as the query —
    plane components are emitted as 17-significant-digit literals, which
    round-trip exactly to the float64 values Spark uses."""
    import numpy as np

    planes = np.random.default_rng(7).standard_normal((4, 64)).tolist()

    def arr(p):
        return "CAST([" + ", ".join(repr(float(x)) for x in p) + "] AS DOUBLE[])"

    bits = "\n               || ".join(
        f"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), {arr(p)}) >= 0"
        " THEN '1' ELSE '0' END)"
        for p in planes
    )
    return f"""
        WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                          {bits} AS blk
                   FROM embeddings)
        SELECT a.vec_id AS id_a, c.vec_id AS id_b,
               round(list_cosine_similarity(a.v, c.v), 5) AS cosine
        FROM b a JOIN b c ON a.blk = c.blk AND a.vec_id < c.vec_id
        WHERE list_cosine_similarity(a.v, c.v) >= 0.25
    """


def oracle_sql() -> dict[str, str]:
    return {
        "mwas_cohort_welch": _MWAS_ORACLE,
        "mwas_t_only_full": _MWAS_T_ONLY_FULL_ORACLE,
        # Grouped streaming threshold-report state replay (r13 wave 2):
        # the same grouped state dir as eval_state_grouped_auc; score >=
        # t is a pure score function so each confusion cell is an exact
        # weighted sum over the per-(grp, score) counts — the oracle
        # recomputes the cells from the scored relation in plain SQL,
        # with the reader's NULL-cell (undefined precision/recall) and
        # sklearn-parity f1-zero rules.
        "eval_state_threshold_report": """
            WITH v AS (
              SELECT CAST(vec_id % 4 AS INT) AS grp,
                     0.5 + x / (2.0 * (1.0 + abs(x))) AS s,
                     CASE WHEN label % 2 > 0 THEN 1 ELSE 0 END AS y
              FROM (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x, label
                    FROM embeddings)
              WHERE x IS NOT NULL AND NOT isnan(x) AND label IS NOT NULL),
            cells AS (
              SELECT grp, CAST(t.ts AS DOUBLE) AS threshold,
                     CAST(sum(CASE WHEN s >= CAST(t.ts AS DOUBLE)
                              THEN y ELSE 0 END) AS BIGINT) AS tp,
                     CAST(sum(CASE WHEN s >= CAST(t.ts AS DOUBLE)
                              THEN 1 - y ELSE 0 END) AS BIGINT) AS fp,
                     CAST(sum(CASE WHEN s < CAST(t.ts AS DOUBLE)
                              THEN y ELSE 0 END) AS BIGINT) AS fn,
                     CAST(sum(CASE WHEN s < CAST(t.ts AS DOUBLE)
                              THEN 1 - y ELSE 0 END) AS BIGINT) AS tn
              FROM v, unnest(['0.3', '0.5', '0.7']) AS t(ts)
              GROUP BY 1, 2)
            SELECT grp, round(threshold, 6) AS threshold,
                   tp, fp, fn, tn,
                   round(p, 6) AS precision, round(rc, 6) AS recall,
                   round(CASE WHEN COALESCE(p, 0) + COALESCE(rc, 0) > 0
                              THEN 2 * p * rc / (p + rc)
                              WHEN p IS NOT NULL AND rc IS NOT NULL
                              THEN 0.0 END, 6) AS f1,
                   round(CAST(tp + fp AS DOUBLE) / (tp + fp + fn + tn), 6)
                       AS selected_frac
            FROM (SELECT *,
                         CASE WHEN tp + fp > 0
                              THEN CAST(tp AS DOUBLE) / (tp + fp) END AS p,
                         CASE WHEN tp + fn > 0
                              THEN CAST(tp AS DOUBLE) / (tp + fn) END AS rc
                  FROM cells)
        """,
        "mwas_perm_exact": _MWAS_PERM_EXACT_ORACLE,
        "mwas_legacy_full": _T_ONLY_CTES
        + """
SELECT bp AS bioproject, grp AS group_name,
       replace(attributes, ',', ' ') AS metadata_field,
       replace(set_values, ',', ' ') AS metadata_value,
       CASE WHEN skip_tests THEN 'skipped_statistical_testing'
            WHEN vsum > 0 THEN 't_test; significant'
            ELSE 't_test' END AS status,
       CAST(n_true AS INT) AS num_true,
       CAST(n_false AS INT) AS num_false,
       round(mean_t, 6) AS mean_rpm_true,
       round(mean_f, 6) AS mean_rpm_false,
       CASE WHEN skip_tests THEN NULL
            WHEN mean_t = 0 AND mean_f = 0 THEN 0.0
            WHEN mean_t = 0 THEN CAST('-infinity' AS DOUBLE)
            WHEN mean_f = 0 THEN CAST('infinity' AS DOUBLE)
            ELSE round(log2(mean_t / mean_f), 6) END AS fold_change,
       CASE WHEN NOT skip_tests AND vsum > 0
            THEN round((mean_t - mean_f) / sqrt(vsum), 6) END AS t_stat,
       CASE WHEN NOT skip_tests AND vsum > 0 THEN
            CASE WHEN (CASE WHEN include THEN n_true ELSE n_false END) < 1000
                 THEN match_str ELSE 'too many biosamples to list' END
            ELSE '' END AS true_biosamples,
       CASE WHEN NOT skip_tests AND vsum > 0 THEN
            CASE WHEN (CASE WHEN include THEN n_false ELSE n_true END) < 1000
                 THEN nonmatch_str ELSE 'too many biosamples to list' END
            ELSE '' END AS false_biosamples
FROM final
""",
        "mwas_legacy_13col": _T_ONLY_CTES
        + """
SELECT bp AS bioproject_id, grp AS family,
       replace(attributes, ',', ' ') AS metadata_field,
       replace(set_values, ',', ' ') AS metadata_value,
       CAST(n_true AS INT) AS num_true,
       CAST(n_false AS INT) AS num_false,
       round(mean_t, 6) AS mean_rpm_true,
       round(mean_f, 6) AS mean_rpm_false,
       round(sd_t, 6) AS sd_rpm_true,
       round(sd_f, 6) AS sd_rpm_false,
       CASE WHEN skip_tests THEN NULL
            WHEN mean_t = 0 AND mean_f = 0 THEN 0.0
            WHEN mean_t = 0 THEN CAST('-infinity' AS DOUBLE)
            WHEN mean_f = 0 THEN CAST('infinity' AS DOUBLE)
            ELSE round(log2(mean_t / mean_f), 6) END AS fold_change,
       CASE WHEN NOT skip_tests AND vsum > 0
            THEN round((mean_t - mean_f) / sqrt(vsum), 6) END AS t_stat,
       (NOT skip_tests AND vsum > 0) AS p_finite
FROM final
""",
        "p_predicates": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_orderstatus = 'O' AND o_orderpriority LIKE '1%'
              AND o_totalprice > 50000 AND o_orderpriority LIKE '%URGENT%'
        """,
        # Grouped streaming exact-AUC state replay (r13 rotation): the
        # grouped state dir q_eval_state_grouped_auc folds (grp =
        # vec_id % 4 data column beside v, three per-batch partitions,
        # batches 0..1 compacted frozen) carries counts that are LINEAR
        # per slice, so each slice's state-side AUC equals the midrank
        # AUC over that slice of the scored relation — the same midrank
        # window form as the green eval_state_auc row, PARTITION BY grp.
        # The FULL OUTER join keeps an all-invalid slice visible as
        # (auc NULL, 0, 0, n_null), matching the reader's monitoring
        # contract.
        "eval_state_grouped_auc": """
            WITH raw AS (
              SELECT CAST(embedding[1] AS DOUBLE) AS x, label,
                     CAST(vec_id % 4 AS INT) AS grp
              FROM embeddings),
            v AS (
              SELECT grp, 0.5 + x / (2.0 * (1.0 + abs(x))) AS s,
                     CASE WHEN label % 2 > 0 THEN 1 ELSE 0 END AS y
              FROM raw
              WHERE x IS NOT NULL AND NOT isnan(x) AND label IS NOT NULL),
            nn AS (
              SELECT grp, count(*) AS n_null FROM raw
              WHERE x IS NULL OR isnan(x) OR label IS NULL
              GROUP BY 1),
            r AS (
              SELECT grp, y,
                     rank() OVER (PARTITION BY grp ORDER BY s)
                       + (count(*) OVER (PARTITION BY grp, s) - 1) / 2.0
                         AS midrank
              FROM v),
            agg AS (
              SELECT grp,
                     round((sum(CASE WHEN y = 1 THEN midrank END)
                              - sum(y) * (sum(y) + 1) / 2.0)
                           / nullif(sum(y) * sum(1 - y), 0), 6) AS auc,
                     CAST(sum(y) AS BIGINT) AS n_pos,
                     CAST(sum(1 - y) AS BIGINT) AS n_neg
              FROM r GROUP BY 1)
            SELECT COALESCE(a.grp, nn.grp) AS grp, a.auc,
                   COALESCE(a.n_pos, 0) AS n_pos,
                   COALESCE(a.n_neg, 0) AS n_neg,
                   COALESCE(nn.n_null, 0) AS n_null
            FROM agg a FULL OUTER JOIN nn ON a.grp = nn.grp
        """,
        "shuffle_shard": """
            WITH k AS (SELECT doc_id,
                              md5('42:' || CAST(doc_id AS VARCHAR)) AS key
                       FROM documents),
            s AS (SELECT doc_id, key,
                         CAST(CAST('0x' || substr(key, 1, 8) AS BIGINT) % 8
                              AS INT) AS shard
                  FROM k)
            SELECT doc_id, shard,
                   CAST(row_number() OVER (PARTITION BY shard
                                           ORDER BY key, doc_id) AS BIGINT) AS seq
            FROM s
        """,
        "text_repetition": """
            WITH toks AS (
              SELECT doc_id,
                     length(text) AS chars,
                     -- empty lines are paragraph boundaries, excluded
                     -- from the dup-line stats (r11, lockstep with
                     -- repetition_profile)
                     list_filter(string_split(text, chr(10)),
                                 l -> l <> '') AS lines,
                     list_filter(regexp_split_to_array(text, '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents
            ),
            units AS (
              -- sentinel keeps empty/all-blank docs in the output
              SELECT doc_id, chars, -1 AS n, '' AS gram FROM toks
              UNION ALL
              SELECT doc_id, chars, 0 AS n, unnest(lines) AS gram FROM toks
              UNION ALL
              SELECT doc_id, chars, ns.n AS n,
                     unnest(CASE WHEN len(tk) >= ns.n THEN
                        list_transform(range(1, len(tk) - ns.n + 2),
                          i -> array_to_string(list_slice(tk, i, i + ns.n - 1), ' '))
                        ELSE CAST([] AS VARCHAR[]) END) AS gram
              FROM toks CROSS JOIN (SELECT unnest([2, 3, 4, 5, 10]) AS n) ns
            ),
            counted AS (
              SELECT doc_id, n, gram, count(*) AS cnt, any_value(chars) AS chars
              FROM units GROUP BY 1, 2, 3
            ),
            per_doc AS (
              SELECT doc_id,
                     any_value(chars) AS chars,
                     sum(CASE WHEN n = 0 THEN cnt ELSE 0 END) AS n_lines,
                     sum(CASE WHEN n = 0 AND cnt >= 2 THEN cnt ELSE 0 END) AS dup_lines,
                     sum(CASE WHEN n = 0 AND cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup_line_chars,
                     -- Gopher A1: coverage of the MOST FREQUENT gram
                     -- (arg_max by cnt, ties to larger coverage — r11,
                     -- lockstep with repetition_profile's max_by)
                     -- composite key cnt*2^32 + coverage == the
                     -- lexicographic (cnt, coverage) struct order the
                     -- Spark side's max_by uses. BOUND: assumes
                     -- per-doc gram coverage < 2^32 chars and
                     -- cnt < 2^31 — a multi-GB single document would
                     -- overflow BIGINT here and diverge from the
                     -- Spark struct ordering. Fine for the bench
                     -- corpora (docs are KB-scale); clamp both sides
                     -- if giant docs ever enter the oracle corpus.
                     coalesce(arg_max(cnt * length(gram),
                        CASE WHEN n = 2 THEN cnt * 4294967296 + cnt * length(gram) END), 0) AS top2,
                     coalesce(arg_max(cnt * length(gram),
                        CASE WHEN n = 3 THEN cnt * 4294967296 + cnt * length(gram) END), 0) AS top3,
                     coalesce(arg_max(cnt * length(gram),
                        CASE WHEN n = 4 THEN cnt * 4294967296 + cnt * length(gram) END), 0) AS top4,
                     sum(CASE WHEN n = 5 AND cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup5,
                     sum(CASE WHEN n = 10 AND cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup10
              FROM counted GROUP BY 1
            )
            SELECT doc_id,
                   CAST(n_lines AS BIGINT) AS n_lines,
                   round(CASE WHEN n_lines > 0
                              THEN dup_lines / CAST(n_lines AS DOUBLE)
                              ELSE 0.0 END, 6) AS dup_line_frac,
                   round(dup_line_chars / greatest(chars, 1), 6) AS dup_line_char_frac,
                   round(top2 / greatest(chars, 1), 6) AS top2gram_char_frac,
                   round(top3 / greatest(chars, 1), 6) AS top3gram_char_frac,
                   round(top4 / greatest(chars, 1), 6) AS top4gram_char_frac,
                   round(dup5 / greatest(chars, 1), 6) AS dup5gram_char_frac,
                   round(dup10 / greatest(chars, 1), 6) AS dup10gram_char_frac
            FROM per_doc
        """,
        "w5_topk_per_group": """
            SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rank
            FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                         row_number() OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice DESC, l_orderkey ASC,
                                      l_linenumber ASC) AS rank
                  FROM lineitem)
            WHERE rank <= 3
        """,
        "text_decontam": """
            WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
                         FROM documents),
            sh AS (SELECT DISTINCT doc_id, s FROM (
                     SELECT doc_id,
                            unnest(list_transform(range(1, greatest(len(toks) - 3, 1)),
                                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                        || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
                     FROM tok)
                   WHERE s <> ''),
            bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
            tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
            stats AS (SELECT tr.doc_id,
                             count(*) AS n_shingles,
                             sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
                                 AS n_contaminated
                      FROM tr LEFT JOIN bench b ON tr.s = b.s
                      GROUP BY tr.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(st.n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(coalesce(st.n_contaminated, 0) AS BIGINT) AS n_contaminated,
                   round(coalesce(st.n_contaminated / CAST(st.n_shingles AS DOUBLE),
                                  0.0), 6) AS contamination,
                   (coalesce(st.n_contaminated / CAST(st.n_shingles AS DOUBLE), 0.0)
                        >= 0.2
                    AND coalesce(st.n_shingles, 0) > 0) AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
            LEFT JOIN stats st ON d.doc_id = st.doc_id
        """,
        "condense_sets": _MWAS_ORACLE_CTES
        + """
            SELECT bp AS bioproject, attributes, set_values,
                   CAST(CASE WHEN cnt < n / 2.0 THEN cnt ELSE n - cnt END AS BIGINT)
                       AS n_members,
                   cnt < n / 2.0 AS include,
                   CAST(n AS BIGINT) AS n_biosamples
            FROM sets
        """,
        "condense_readable": _MWAS_ORACLE_CTES
        + """
            SELECT s.bp AS bioproject, s.attributes, s.set_values,
                   CAST(s.cnt AS BIGINT) AS n_included,
                   string_agg(m.bs, '; ' ORDER BY m.bs) AS included_biosamples
            FROM sets s JOIN membership m ON s.bp = m.bp AND s.sig = m.sig
            GROUP BY s.bp, s.sig, s.attributes, s.set_values, s.cnt
        """,
        "j8_interval_join": """
            WITH clicks AS (SELECT event_id, ts FROM events
                            WHERE event_type = 'click'),
            errs AS (SELECT event_id, ts FROM events WHERE event_type = 'error'),
            pairs AS (
              SELECT epoch_us(c.ts) // 1000000 AS sec_a,
                     abs(epoch_us(c.ts) // 1000000 - epoch_us(e.ts) // 1000000) AS d
              FROM clicks c JOIN errs e
                ON abs(epoch_us(c.ts) // 1000000 - epoch_us(e.ts) // 1000000) <= 60)
            -- make_timestamp(micros) is NAIVE (epoch-based, no session
            -- TimeZone) — matches the Spark side's NTZ day rebuild;
            -- to_timestamp would yield TIMESTAMPTZ and shift on non-UTC hosts
            SELECT make_timestamp((sec_a // 86400) * 86400 * 1000000) AS day,
                   count(*) AS n_pairs,
                   CAST(sum(d) AS BIGINT) AS sum_abs_delta_s
            FROM pairs GROUP BY 1
        """,
        "a11_grouping_sets": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                   count(*) AS n, round(sum(o_totalprice), 4) AS total
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "mwas_perm_calibration": _MWAS_PERM_CALIB_ORACLE,
        "dedup_minhash_md5": """
            WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
                         FROM documents),
            sh AS (SELECT DISTINCT doc_id, s FROM (
                     SELECT doc_id,
                            unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
                     FROM tok)
                   WHERE s <> ''),
            seeds AS (SELECT unnest(generate_series(0, 31)) AS i),
            sig AS (SELECT doc_id, i,
                           min(md5(s || '|' || CAST(i AS VARCHAR))) AS mh
                    FROM sh, seeds GROUP BY 1, 2),
            bands AS (SELECT doc_id, CAST(i // 4 AS INT) AS band,
                             md5(string_agg(mh, ',' ORDER BY i)) AS bucket
                      FROM sig GROUP BY doc_id, i // 4),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                     FROM bands a JOIN bands b
                       ON a.band = b.band AND a.bucket = b.bucket
                      AND a.doc_id < b.doc_id),
            est AS (SELECT c.id_a, c.id_b,
                           sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 32.0 AS e
                    FROM cand c
                    JOIN sig x ON x.doc_id = c.id_a
                    JOIN sig y ON y.doc_id = c.id_b AND x.i = y.i
                    GROUP BY 1, 2)
            SELECT id_a, id_b, round(e, 6) AS est_jaccard FROM est WHERE e >= 0.5
        """,
        "dedup_embedding_cosine": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 5)
                       AS cosine
            FROM embeddings a
            JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.35
        """,
        "multimodal_pipeline": """
            WITH meta AS (
              SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     sha256(text) AS sha, substr(sha256(text), 1, 8) AS magic,
                     -- ((x%3)+3)%3 == Spark's pmod (r12 lockstep: negative ids)
                     CASE WHEN ((doc_id % 3) + 3) % 3 = 0 THEN 'image'
                          WHEN ((doc_id % 3) + 3) % 3 = 1 THEN 'audio'
                          ELSE 'video' END AS media_type
              FROM documents),
            img AS (
              SELECT doc_id,
                     CAST(16 + (ascii(substr(sha, 1, 1)) * 256
                                + ascii(substr(sha, 2, 1))) % 512 AS INT) AS width,
                     CAST(16 + (ascii(substr(sha, 3, 1)) * 256
                                + ascii(substr(sha, 4, 1))) % 512 AS INT) AS height,
                     CAST(1 + ascii(substr(sha, 5, 1)) % 4 AS INT) AS channels
              FROM meta WHERE ((doc_id % 3) + 3) % 3 = 0),
            aud0 AS (
              SELECT doc_id,
                     CASE ascii(substr(sha, 1, 1)) % 4
                          WHEN 0 THEN 8000 WHEN 1 THEN 16000
                          WHEN 2 THEN 22050 ELSE 44100 END AS sample_rate,
                     1000 + (ascii(substr(sha, 2, 1)) * 256
                             + ascii(substr(sha, 3, 1))) * 17 AS n_samples
              FROM meta WHERE ((doc_id % 3) + 3) % 3 = 1),
            aud AS (
              SELECT doc_id, CAST(sample_rate AS INT) AS sample_rate,
                     CAST(n_samples AS BIGINT) AS n_samples,
                     round(n_samples * 1.0 / sample_rate, 6) AS duration_s
              FROM aud0)
            SELECT m.doc_id, m.n_bytes, m.sha, m.magic, m.media_type,
                   i.width, i.height, i.channels,
                   a.sample_rate, a.n_samples, a.duration_s
            FROM meta m
            LEFT JOIN img i ON m.doc_id = i.doc_id
            LEFT JOIN aud a ON m.doc_id = a.doc_id
        """,
        "dedup_pipeline": """
            WITH g AS (
              SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
                     min(doc_id) AS keep_id, count(*) AS n_docs
              FROM documents GROUP BY 1),
            reps AS (SELECT d.doc_id, d.text FROM documents d
                     JOIN g ON d.doc_id = g.keep_id),
            tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
                    FROM reps),
            sh AS (SELECT DISTINCT doc_id, s FROM (
                     SELECT doc_id,
                            unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
                     FROM tok)
                   WHERE s <> ''),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                       GROUP BY 1, 2),
            jac AS (
              SELECT id_a, id_b,
                     round(shared * 1.0 / (x.sz + y.sz - shared), 6) AS jaccard
              FROM shared JOIN sizes x ON id_a = x.doc_id
                          JOIN sizes y ON id_b = y.doc_id
              WHERE shared * 1.0 / (x.sz + y.sz - shared) >= 0.5)
            SELECT j.id_a, j.id_b, j.jaccard,
                   ga.n_docs AS n_docs_a, gb.n_docs AS n_docs_b
            FROM jac j JOIN g ga ON ga.keep_id = j.id_a
                       JOIN g gb ON gb.keep_id = j.id_b
        """,
        # Streaming exact-AUC state replay (r11 rotation): the state
        # dir q_eval_state_auc folds (three per-batch per-score counts
        # partitions, batches 0..1 compacted into a frozen partition)
        # carries counts that are LINEAR, so the state-side AUC equals
        # the midrank AUC over the full scored relation — which is what
        # this SQL computes directly (same midrank window form the
        # green model_eval row replays; n_null counted from the same
        # NULL/NaN-score-or-NULL-label rule the engine folds into the
        # v-IS-NULL state row).
        "eval_state_auc": """
            WITH raw AS (
              SELECT CAST(embedding[1] AS DOUBLE) AS x, label
              FROM embeddings),
            v AS (
              SELECT 0.5 + x / (2.0 * (1.0 + abs(x))) AS s,
                     CASE WHEN label % 2 > 0 THEN 1 ELSE 0 END AS y
              FROM raw
              WHERE x IS NOT NULL AND NOT isnan(x) AND label IS NOT NULL),
            nn AS (
              SELECT count(*) AS n_null FROM raw
              WHERE x IS NULL OR isnan(x) OR label IS NULL),
            r AS (
              SELECT y, rank() OVER (ORDER BY s)
                        + (count(*) OVER (PARTITION BY s) - 1) / 2.0 AS midrank
              FROM v)
            SELECT round((sum(CASE WHEN y = 1 THEN midrank END)
                            - sum(y) * (sum(y) + 1) / 2.0)
                         / (sum(y) * sum(1 - y)), 6) AS auc,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(1 - y) AS BIGINT) AS n_neg,
                   (SELECT CAST(n_null AS BIGINT) FROM nn) AS n_null
            FROM r
        """,
        # Streaming eval-state calibration replay (r12 rotation): the
        # same state dir as eval_state_auc above — per-score counts are
        # LINEAR and the bin rule is a pure score function, so the
        # state-side 10-bin calibration equals the direct row-level
        # report over the full scored relation, which this SQL computes
        # (same v/y derivation; same least/greatest terminal-bin clamp
        # as the grouped_calibration oracle).
        "eval_state_calibration": """
            WITH v AS (
              SELECT 0.5 + x / (2.0 * (1.0 + abs(x))) AS s,
                     CASE WHEN label % 2 > 0 THEN 1 ELSE 0 END AS y
              FROM (SELECT CAST(embedding[1] AS DOUBLE) AS x, label
                    FROM embeddings)
              WHERE x IS NOT NULL AND NOT isnan(x) AND label IS NOT NULL),
            cal AS (
              SELECT CAST(floor(least(9.0, greatest(0.0, s / 0.1))) AS INT) AS bin,
                     count(*) AS n, avg(s) AS mean_score, avg(y) AS pos_rate
              FROM v GROUP BY 1)
            SELECT bin,
                   round(bin * CAST(0.1 AS DOUBLE), 6) AS bin_lo,
                   round((bin + 1) * CAST(0.1 AS DOUBLE), 6) AS bin_hi,
                   CAST(n AS BIGINT) AS n,
                   round(mean_score, 6) AS mean_score,
                   round(pos_rate, 6) AS pos_rate,
                   round(pos_rate - mean_score, 6) AS gap
            FROM cal
        """,
        "ann_recall": """
            SELECT 'ivf' AS method, 10 AS k, TRUE AS meets_target
            UNION ALL
            SELECT 'lsh' AS method, 10 AS k, TRUE AS meets_target
        """,
        "dedup_quality": """
            SELECT 'minhash_lsh' AS method, TRUE AS meets_target
            UNION ALL
            SELECT 'simhash' AS method, TRUE AS meets_target
        """,
        "line_dedup": """
            WITH lines AS (
              SELECT doc_id, u.line, u.pos
              FROM (
                SELECT doc_id,
                       unnest(string_split(text, chr(10))) AS line,
                       unnest(range(1, len(string_split(text, chr(10))) + 1))
                           AS pos
                FROM documents
              ) u(doc_id, line, pos)
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY line
                            ORDER BY doc_id, pos) AS rn
              FROM lines
            )
            SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
            -- empty lines are paragraph boundaries, unconditionally kept
            -- (mirrors dedup.line_dedup's length(line) == 0 keep)
            FROM ranked WHERE rn = 1 OR length(line) = 0 GROUP BY doc_id
        """,
        "dedup_clusters": """
            WITH RECURSIVE
            tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
                    FROM documents),
            sh AS (SELECT DISTINCT doc_id, s FROM (
                     SELECT doc_id,
                            unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
                     FROM tok)
                   WHERE s <> ''),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                       GROUP BY 1, 2),
            jac AS (SELECT id_a, id_b FROM shared
                    JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
                    WHERE shared * 1.0 / (x.sz + y.sz - shared) >= 0.5),
            edges AS (SELECT id_a AS src, id_b AS dst FROM jac
                      UNION ALL SELECT id_b, id_a FROM jac),
            reach(node, origin) AS (
              SELECT src, src FROM (SELECT DISTINCT src FROM edges)
              UNION
              SELECT e.dst, r.origin FROM reach r JOIN edges e ON e.src = r.node),
            comp AS (SELECT node, min(origin) AS cluster_id FROM reach GROUP BY 1)
            SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
                   d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS keep
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        """,
        "sample_stratified": """
            SELECT vec_id, label, sample_rank
            FROM (SELECT vec_id, label,
                         row_number() OVER (PARTITION BY label
                             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                             AS sample_rank
                  FROM embeddings)
            WHERE sample_rank <= 5
        """,
        "doc_packing": """
            WITH base AS (
              SELECT doc_id,
                     -- COALESCE: NULL text counts 0 tokens, in lockstep
                     -- with token_count's coalesce (r12 — the CASE fell
                     -- through to NULL on NULL text)
                     COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) END, 0)
                         AS n_tokens,
                     -- hex_prefix_u32(md5(id)) % n (r13: the repo-wide
                     -- randomness primitive; the old short-prefix
                     -- decode capped parallelism and carried pmod
                     -- bias) — lockstep with packing._bucket_expr
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                          AS BIGINT) % 64
                         AS bucket
              FROM documents),
            packed AS (
              SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
                     sum(n_tokens) OVER (PARTITION BY bucket
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
              FROM base)
            SELECT doc_id, n_tokens, bucket,
                   bucket * 4294967296
                   + greatest(CAST(ceil(cum / 512.0) AS BIGINT), 1) AS pack_id
            FROM packed
        """,
        "dedup_ngram_jaccard": """
            WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
                         FROM documents),
            sh AS (SELECT DISTINCT doc_id, s FROM (
                     SELECT doc_id,
                            unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
                     FROM tok)
                   WHERE s <> ''),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                       GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(shared * 1.0 / (x.sz + y.sz - shared), 6) AS jaccard
            FROM shared JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
            WHERE shared * 1.0 / (x.sz + y.sz - shared) >= 0.5
        """,
        "text_lang_quality": """
            WITH base AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) END AS n_tokens,
                     length(text) AS n_chars,
                     length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                         AS n_punct
              FROM documents WHERE length(text) > 0),
            hits AS (
              SELECT *,
                len(list_filter(toks, t -> list_contains(
                    ['the','and','of','to','a','in','is'], t))) AS h_en,
                len(list_filter(toks, t -> list_contains(
                    ['le','la','les','et','de','un','est'], t))) AS h_fr,
                len(list_filter(toks, t -> list_contains(
                    ['el','la','los','y','de','un','es'], t))) AS h_es,
                len(list_filter(toks, t -> list_contains(
                    ['der','die','das','und','ein','ist'], t))) AS h_de
              FROM base),
            scored AS (
              SELECT doc_id, text, n_tokens, n_chars, n_punct, toks,
                     CASE WHEN greatest(h_en, h_fr, h_es, h_de) = 0 THEN 'und'
                          WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
                          WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
                          WHEN h_en >= h_de THEN 'en'
                          ELSE 'de' END AS lang_pred,
                     CASE WHEN len(toks) > 0 THEN h_en * 1.0 / len(toks)
                          ELSE 0.0 END AS stop_ratio,
                     CASE WHEN len(toks) > 0 THEN
                          list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks)
                          ELSE 0.0 END AS mtl,
                     CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars
                          ELSE 0.0 END AS pr
              FROM hits)
            SELECT doc_id, n_tokens,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                       AS n_pieces,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   round(pr, 6) AS punct_ratio,
                   round(stop_ratio, 6) AS stopword_ratio,
                   round(mtl, 6) AS mean_token_len,
                   round((least(n_tokens / 50.0, 1.0)
                          + least(stop_ratio * 5.0, 1.0)
                          + (1.0 - least(pr * 10.0, 1.0))) / 3.0, 6) AS quality,
                   lang_pred,
                   md5(array_to_string(list_slice(toks, 1, 16), ' ')) AS fingerprint
            FROM scored
        """,
        "text_bigram_quality": """
            WITH d AS (SELECT doc_id,
                              list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
                       FROM documents WHERE length(trim(text)) > 0),
            t AS (SELECT doc_id, list_prepend('<s>', tk) AS toks FROM d),
            be AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
                     SELECT doc_id,
                            unnest(list_transform(range(1, len(toks)),
                                   i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
                     FROM t)),
            cb AS (SELECT w1, w2, count(*) AS cnt FROM be GROUP BY 1, 2),
            cu AS (SELECT w1, count(*) AS cnt FROM be GROUP BY 1),
            v AS (SELECT count(DISTINCT w2) AS v FROM cb),
            sc AS (SELECT be.doc_id,
                          log2(cb.cnt + 1.0)
                          - log2(cu.cnt + (SELECT v FROM v) * 1.0) AS lp
                   FROM be JOIN cb USING (w1, w2) JOIN cu USING (w1))
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(avg(lp), 6) AS mean_log2p
            FROM sc GROUP BY 1
        """,
        "text_winnowing": """
            WITH d AS (SELECT doc_id, lower(text) AS t FROM documents
                       WHERE doc_id < 200 AND length(text) >= 8),
            grams AS (
              SELECT doc_id, i AS pos, md5(substr(t, i, 8)) AS h
              FROM d, LATERAL (SELECT unnest(generate_series(1, length(t) - 7)) AS i)),
            sel AS (
              SELECT doc_id,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                         AS fingerprint
              FROM grams)
            SELECT DISTINCT doc_id, fingerprint FROM sel
        """,
        # Replays the FULL IVF×PQ search over the SAME materialized index
        # the Spark entry queries (built by _ivfpq_index at a
        # deterministic path; tools/check_oracle.py rewrites the sf tag
        # like ivf_index). Probe = 3 cells nearest the stored coarse
        # centroids (ties by cell, matching the engine's stable sort);
        # ADC = per-subspace LUT from the stored codebooks summed over
        # each row's codes (the engine's exact arithmetic, in DOUBLE);
        # the 100-candidate pool re-ranks by exact squared L2 from the
        # stored vectors — the rerank restores exactness, so the final
        # 10 rows agree even if float noise reorders the pool's tail.
        "ivfpq_indexed": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings ORDER BY vec_id LIMIT 1),
            probe AS (
                SELECT cell
                FROM read_parquet(
                    '/root/repo/spark-warehouse/ivfpq_index/sf0.01/centroids/*.parquet'), q
                ORDER BY list_sum(list_transform(centroid,
                                                 (x, i) -> (x - qv[i]) * (x - qv[i]))),
                         cell
                LIMIT 3),
            lut AS (
                -- subspace width from the stored codebook row itself
                -- (len(centroid) = d0), so the replay stays correct if
                -- m or the embedding dim ever changes
                SELECT subspace, centroid_id,
                       list_sum(list_transform(centroid,
                           (x, i) -> (x - qv[subspace * len(centroid) + i])
                                     * (x - qv[subspace * len(centroid) + i]))) AS d
                FROM read_parquet(
                    '/root/repo/spark-warehouse/ivfpq_index/sf0.01/codebooks/*.parquet'), q),
            c AS (
                SELECT vec_id, codes
                FROM read_parquet(
                    '/root/repo/spark-warehouse/ivfpq_index/sf0.01/codes/*/*.parquet',
                    hive_partitioning = true)
                WHERE cell IN (SELECT cell FROM probe)),
            terms AS (
                SELECT vec_id, unnest(codes) AS code,
                       unnest(range(len(codes))) AS j
                FROM c),
            adc AS (
                SELECT t.vec_id, sum(l.d) AS approx
                FROM terms t JOIN lut l
                  ON l.subspace = t.j AND l.centroid_id = t.code
                GROUP BY 1),
            cand AS (SELECT vec_id FROM adc ORDER BY approx, vec_id LIMIT 100),
            exact AS (
                SELECT v.vec_id,
                       list_sum(list_transform(CAST(v.embedding AS DOUBLE[]),
                           (x, i) -> (x - qv[i]) * (x - qv[i]))) AS dist
                FROM read_parquet(
                    '/root/repo/spark-warehouse/ivfpq_index/sf0.01/vectors/*/*.parquet',
                    hive_partitioning = true) v
                JOIN cand USING (vec_id), q)
            SELECT vec_id, round(dist, 5) AS dist
            FROM exact ORDER BY dist, vec_id LIMIT 10
        """,
        # SQ8 two-stage search replay: per-dimension min/max trained IN
        # SQL (unit range for degenerate dims, same as train_sq_params),
        # encode with round-half-away clamp, the folded-query dot
        # (const + codes . pre, pre_i = q_i*range_i/255 in that op
        # order), decoded-norm cosine ranking to rerank=50 candidates,
        # exact cosine re-rank to k=10. Mirrors the pytest replay that
        # pinned the arithmetic (tests/test_quantization.py), but
        # trains the params inside the query so the oracle is
        # self-contained.
        "sq8_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
            ex AS (SELECT vec_id, unnest(v) AS x, unnest(range(len(v))) AS i FROM e),
            dims AS (
              SELECT i, min(x) AS lo,
                     CASE WHEN max(x) > min(x) THEN max(x) ELSE min(x) + 1.0 END AS hi
              FROM ex GROUP BY i),
            parr AS (SELECT list(lo ORDER BY i) AS lo_l,
                            list(CASE WHEN hi - lo > 0 THEN 255.0 / (hi - lo) ELSE 0.0 END ORDER BY i) AS scale_l,
                            list((hi - lo) / 255.0 ORDER BY i) AS inv_l,
                            list(hi - lo ORDER BY i) AS rng_l
                     FROM dims),
            qd AS (SELECT qv,
                          list_sum(list_transform(list_zip(qv, lo_l), t -> t[1] * t[2])) AS cnst,
                          list_transform(list_zip(qv, rng_l), t -> t[1] * t[2] / 255.0) AS pre,
                          sqrt(list_inner_product(qv, qv)) AS qn
                   FROM q, parr),
            c AS (
              SELECT vec_id,
                     list_transform(list_zip(v, lo_l, scale_l),
                        t -> least(255, greatest(0, CAST(round((t[1] - t[2]) * t[3], 0) AS INT)))) AS codes
              FROM e, parr),
            scored AS (
              SELECT vec_id,
                     cnst + list_inner_product(list_transform(codes, x -> CAST(x AS DOUBLE)), pre) AS dot,
                     sqrt(list_inner_product(
                         list_transform(list_zip(codes, inv_l, lo_l), t -> CAST(t[1] AS DOUBLE) * t[2] + t[3]),
                         list_transform(list_zip(codes, inv_l, lo_l), t -> CAST(t[1] AS DOUBLE) * t[2] + t[3]))) AS nrm
              FROM c, parr, qd),
            cand AS (
              SELECT vec_id FROM scored, qd
              WHERE nrm > 0
              ORDER BY dot / (nrm * qn) DESC, vec_id LIMIT 50),
            exact AS (
              SELECT e.vec_id, list_cosine_similarity(e.v, qd.qv) AS cos
              FROM e JOIN cand USING (vec_id), qd)
            SELECT vec_id, round(cos, 5) AS cosine
            FROM exact ORDER BY cos DESC, vec_id LIMIT 10
        """,
        # Batch k-NN join over the materialized IVF-PQ index — the
        # 16-query generalization of the ivfpq_indexed replay: per-query
        # probe (L2 to stored coarse centroids, ties by cell), per-query
        # ADC lookup table from the stored codebooks, top-100 candidates
        # by (approx, vec_id), exact squared-L2 re-rank to rank<=5 over
        # the equally-pruned vectors.
        "ivfpq_knn_join": """
            WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings ORDER BY vec_id LIMIT 16),
            probe AS (
              SELECT q_id, cell FROM (
                SELECT q.q_id, c.cell,
                       row_number() OVER (PARTITION BY q.q_id
                           ORDER BY list_sum(list_transform(c.centroid,
                                        (x, i) -> (x - q.qv[i]) * (x - q.qv[i]))), c.cell) AS rn
                FROM read_parquet('/root/repo/spark-warehouse/ivfpq_index/sf0.01/centroids/*.parquet') c, q)
              WHERE rn <= 3),
            lut AS (
              SELECT q.q_id, b.subspace, b.centroid_id,
                     list_sum(list_transform(b.centroid,
                         (x, i) -> (x - q.qv[b.subspace * len(b.centroid) + i])
                                   * (x - q.qv[b.subspace * len(b.centroid) + i]))) AS d
              FROM read_parquet('/root/repo/spark-warehouse/ivfpq_index/sf0.01/codebooks/*.parquet') b, q),
            c AS (
              SELECT p.q_id, cd.vec_id, cd.codes
              FROM read_parquet('/root/repo/spark-warehouse/ivfpq_index/sf0.01/codes/*/*.parquet',
                                hive_partitioning = true) cd
              JOIN probe p USING (cell)),
            terms AS (
              SELECT q_id, vec_id, unnest(codes) AS code, unnest(range(len(codes))) AS j FROM c),
            adc AS (
              SELECT t.q_id, t.vec_id, sum(l.d) AS approx
              FROM terms t JOIN lut l
                ON l.q_id = t.q_id AND l.subspace = t.j AND l.centroid_id = t.code
              GROUP BY 1, 2),
            cand AS (
              SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id ORDER BY approx, vec_id) AS rn
                FROM adc) WHERE rn <= 100),
            exact AS (
              SELECT cand.q_id, v.vec_id,
                     list_sum(list_transform(CAST(v.embedding AS DOUBLE[]),
                         (x, i) -> (x - q.qv[i]) * (x - q.qv[i]))) AS dist
              FROM read_parquet('/root/repo/spark-warehouse/ivfpq_index/sf0.01/vectors/*/*.parquet',
                                hive_partitioning = true) v
              JOIN cand ON v.vec_id = cand.vec_id
              JOIN q ON q.q_id = cand.q_id)
            SELECT q_id, vec_id, round(dist, 5) AS dist, rank FROM (
              SELECT q_id, vec_id, dist,
                     -- BIGINT, not INT: the Spark side's rank is int64,
                     -- and matched widths keep the audit (and any
                     -- byte-level hash) assumption-free
                     CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS BIGINT) AS rank
              FROM exact)
            WHERE rank <= 5
        """,
        # Embedding drift replay over the MATERIALIZED baseline PCA model
        # (written by _drift_pca_model at build time — same build-vs-probe
        # convention as the index families): project both corpus halves
        # onto the stored components (mean-centered), exact two-sample KS
        # per component via cumulative count ratios.
        # Classifier-evaluation replay (r9 rotation): midrank AUC,
        # f1 at three thresholds, and 10-bin calibration gaps — all in
        # one SQL pass over the same algebraic-sigmoid score the Spark
        # entry computes (bit-identical cross-engine: no transcendentals;
        # see q_model_eval's docstring). tp/fp/fn are exact integers, so
        # f1 is a deterministic chain of single divisions; mean_score is
        # the only summation-order-sensitive term, absorbed by round 6.
        "model_eval": """
            WITH v AS (
              SELECT 0.5 + x / (2.0 * (1.0 + abs(x))) AS s,
                     CASE WHEN label % 2 > 0 THEN 1 ELSE 0 END AS y
              FROM (SELECT CAST(embedding[1] AS DOUBLE) AS x, label
                    FROM embeddings)
              WHERE x IS NOT NULL AND NOT isnan(x) AND label IS NOT NULL),
            r AS (
              SELECT y, rank() OVER (ORDER BY s)
                        + (count(*) OVER (PARTITION BY s) - 1) / 2.0 AS midrank
              FROM v),
            auc AS (
              SELECT 'auc' AS metric,
                     round((sum(CASE WHEN y = 1 THEN midrank END)
                              - sum(y) * (sum(y) + 1) / 2.0)
                           / (sum(y) * sum(1 - y)), 6) AS value
              FROM r),
            cells AS (
              SELECT t.ts,
                     sum(CASE WHEN s >= CAST(t.ts AS DOUBLE) AND y = 1
                              THEN 1 ELSE 0 END) AS tp,
                     sum(CASE WHEN s >= CAST(t.ts AS DOUBLE) AND y = 0
                              THEN 1 ELSE 0 END) AS fp,
                     sum(CASE WHEN s < CAST(t.ts AS DOUBLE) AND y = 1
                              THEN 1 ELSE 0 END) AS fn
              FROM v, unnest(['0.25', '0.5', '0.75']) AS t(ts)
              GROUP BY 1),
            f1 AS (
              SELECT 'f1@' || ts AS metric,
                     round(CASE WHEN COALESCE(p, 0) + COALESCE(rc, 0) > 0
                                THEN 2 * p * rc / (p + rc)
                                WHEN p IS NOT NULL AND rc IS NOT NULL
                                THEN 0.0 END, 6) AS value
              FROM (SELECT ts,
                           CASE WHEN tp + fp > 0
                                THEN CAST(tp AS DOUBLE) / (tp + fp) END AS p,
                           CASE WHEN tp + fn > 0
                                THEN CAST(tp AS DOUBLE) / (tp + fn) END AS rc
                    FROM cells)),
            cal AS (
              SELECT 'gap@bin' || CAST(bin AS VARCHAR) AS metric,
                     round(avg(y) - avg(s), 6) AS value
              FROM (SELECT CAST(floor(least(9.0, greatest(0.0,
                               s / 0.1))) AS INT) AS bin, s, y
                    FROM v)
              GROUP BY 1)
            SELECT metric, value FROM auc
            UNION ALL SELECT metric, value FROM f1
            UNION ALL SELECT metric, value FROM cal
        """,
        # Count-min sketch replay (r9 rotation): DuckDB builds the SAME
        # sketch (the md5 bucket derivation is plain SQL — depth d's
        # bucket is the d-th 8-hex-char slice of md5('cms:5:0:'||key)
        # for depth<=4) over the same token stream, then replays the
        # min-over-depths point lookups, absent buckets counting 0.
        "cms_freq": """
            WITH toks AS (
              SELECT t.tok AS key
              FROM documents,
                   LATERAL unnest(string_split_regex(lower(trim(text)), '\\s+'))
                       AS t(tok)
              WHERE t.tok <> ''),
            sk AS (
              SELECT d.d AS depth,
                     CAST(CAST(('0x' || substr(md5('cms:5:0:' || key),
                                               1 + 8 * d.d, 8)) AS UBIGINT)
                          % 2048 AS INT) AS bucket,
                     count(*) AS cnt
              FROM toks, unnest(range(4)) AS d(d)
              GROUP BY 1, 2),
            probes AS (
              SELECT unnest(['the', 'data', 'pipeline', 'of', 'zzz-absent'])
                  AS key),
            pr AS (
              SELECT key, d.d AS depth,
                     CAST(CAST(('0x' || substr(md5('cms:5:0:' || key),
                                               1 + 8 * d.d, 8)) AS UBIGINT)
                          % 2048 AS INT) AS bucket
              FROM probes, unnest(range(4)) AS d(d))
            SELECT key, min(COALESCE(sk.cnt, 0)) AS est
            FROM pr LEFT JOIN sk USING (depth, bucket)
            GROUP BY 1
        """,
        # OPQ encode replay (r9 rotation): projection (left-fold dot
        # against the STORED rotation rows) + 1e-7 grid snap
        # (floor(x*1e7+0.5)/1e7 — the same IEEE op sequence the engine
        # runs; see q_opq_encode_replay for why NOT round(x,7)) +
        # per-subspace argmin against the STORED codebooks — the whole
        # encode path recomputed from the materialized model files
        # (written by _opq_model; same build-vs-probe convention as
        # drift_pca). Ties break (d, centroid_id) ascending = numpy
        # argmin.
        "opq_encode": """
            WITH rot AS (
              SELECT row, vals
              FROM read_parquet(
                  '/root/repo/spark-warehouse/opq_model/sf0.01/rotation/*.parquet')),
            cb AS (
              SELECT subspace, centroid_id, centroid
              FROM read_parquet(
                  '/root/repo/spark-warehouse/opq_model/sf0.01/codebooks/*.parquet')),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
            proj AS (
              SELECT e.vec_id, r.row,
                     floor(list_sum(list_transform(list_zip(e.v, r.vals),
                                                   t -> t[1] * t[2]))
                           * 10000000.0 + 0.5) / 10000000.0 AS x
              FROM e, rot r),
            sub AS (
              SELECT vec_id, CAST(row // 8 AS INT) AS subspace,
                     list(x ORDER BY row) AS sv
              FROM proj GROUP BY 1, 2),
            dist AS (
              SELECT s.vec_id, s.subspace, c.centroid_id,
                     list_sum(list_transform(list_zip(s.sv, c.centroid),
                                             t -> (t[1] - t[2]) * (t[1] - t[2])))
                         AS d
              FROM sub s JOIN cb c ON c.subspace = s.subspace)
            SELECT vec_id, subspace, code
            FROM (SELECT vec_id, subspace, centroid_id AS code,
                         row_number() OVER (PARTITION BY vec_id, subspace
                                            ORDER BY d, centroid_id) AS rk
                  FROM dist)
            WHERE rk = 1
        """,
        "embed_drift": """
            WITH m AS (SELECT pc, component, mean
                       FROM read_parquet('/root/repo/spark-warehouse/drift_pca/sf0.01/*.parquet')),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            proj AS (
              SELECT e.vec_id, m.pc,
                     list_sum(list_transform(list_zip(e.v, m.mean, m.component),
                                             t -> (t[1] - t[2]) * t[3])) AS x,
                     e.vec_id % 2 = 0 AS is_a
              FROM e, m),
            per_v AS (
              SELECT pc, x, sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
                     sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
              -- NaN excluded like NULL (r12 lockstep with ks_drift)
              FROM proj WHERE NOT isnan(x) GROUP BY pc, x),
            tot AS (SELECT pc, sum(ca) AS na, sum(cb) AS nb FROM per_v GROUP BY pc),
            cum AS (
              SELECT p.pc,
                     sum(ca) OVER (PARTITION BY p.pc ORDER BY x) / t.na AS fa,
                     sum(cb) OVER (PARTITION BY p.pc ORDER BY x) / t.nb AS fb
              FROM per_v p JOIN tot t USING (pc)),
            ks AS (SELECT pc, max(abs(fa - fb)) AS v FROM cum GROUP BY pc)
            SELECT 'pc' || CAST(pc AS VARCHAR) AS "column", 'numeric' AS kind,
                   'ks' AS statistic, round(v, 6) AS value, v > 0.2 AS flagged
            FROM ks
        """,
        # Temperature-mix replay: n^0.3 largest-remainder apportionment
        # (remainder-desc/source-asc tie-break), whole passes + the
        # seeded md5('mix:11:{id}') bottom-rem remainder draw; sum_ids
        # pins exact sampled membership. CTEs are MATERIALIZED because
        # DuckDB re-evaluates plain CTEs per reference and the parallel
        # float sum of the weights can round differently between
        # evaluations, making floor/short inconsistent within one query.
        "source_mix": """
            WITH c AS MATERIALIZED (SELECT source, count(*) AS n FROM documents GROUP BY source),
            t0 AS MATERIALIZED (SELECT CAST(trunc(count(*) * 0.8) AS BIGINT) AS T FROM documents),
            w AS MATERIALIZED (SELECT source, n, pow(n, 0.3) AS wt FROM c),
            z AS MATERIALIZED (SELECT sum(wt) AS zz FROM w),
            raw AS MATERIALIZED (SELECT source, n, T * wt / zz AS rw FROM w, z, t0),
            base AS MATERIALIZED (SELECT source, n, rw, CAST(floor(rw) AS BIGINT) AS b FROM raw),
            short AS MATERIALIZED (SELECT (SELECT T FROM t0) - sum(b) AS s FROM base),
            tgt AS MATERIALIZED (
              SELECT source, n,
                     b + CASE WHEN row_number() OVER (ORDER BY rw - b DESC, source ASC)
                                   <= (SELECT s FROM short) THEN 1 ELSE 0 END AS target
              FROM base),
            plan AS MATERIALIZED (SELECT source, n, target // n AS fullp, target % n AS rem FROM tgt),
            sums AS (SELECT source, CAST(sum(doc_id) AS BIGINT) AS sum_all FROM documents GROUP BY source),
            fullrows AS (
              SELECT p.source, CAST(u.g AS INT) AS copy, p.n AS n_rows, s.sum_all AS sum_ids
              FROM plan p JOIN sums s USING (source), unnest(range(p.fullp)) AS u(g)),
            keyed AS (
              SELECT d.source, d.doc_id,
                     row_number() OVER (PARTITION BY d.source
                         ORDER BY CAST('0x' || substr(md5('mix:11:' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT),
                                  d.doc_id) AS rk
              FROM documents d),
            remrows AS (
              SELECT p.source, CAST(p.fullp AS INT) AS copy,
                     count(*) AS n_rows, CAST(sum(k.doc_id) AS BIGINT) AS sum_ids
              FROM keyed k JOIN plan p USING (source)
              WHERE p.rem > 0 AND k.rk <= p.rem
              GROUP BY 1, 2)
            SELECT source, copy, n_rows, sum_ids FROM fullrows
            UNION ALL
            SELECT source, copy, n_rows, sum_ids FROM remrows
        """,
        # Perceptual image dedup replay on the deterministic fake-dhash
        # path the entry runs over synthetic payloads (first 8 bytes of
        # sha256, two's-complement): banded-Hamming candidate join
        # (8 bands x 8 bits, pigeonhole), bit_count verify <= 6,
        # recursive-CTE connected components -> (doc_id, cluster_id,
        # keep). The real-codec dhash path is pytest-pinned.
        "image_dedup": """
            WITH RECURSIVE
            imgs AS (
              SELECT doc_id, CAST(('0x' || substr(sha256(text), 1, 16)) AS UBIGINT) AS vu
              FROM documents WHERE doc_id % 3 = 0),
            buckets AS (
              SELECT doc_id, vu, CAST(b.g AS INT) AS band,
                     (vu >> CAST(8 * b.g AS INT)) & 255 AS chunk
              FROM imgs, unnest(range(8)) AS b(g)),
            pairs AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM buckets x JOIN buckets y
                ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id
              WHERE bit_count(xor(x.vu, y.vu)) <= 6),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION ALL SELECT id_b, id_a FROM pairs),
            reach(node, origin) AS (
              SELECT src, src FROM (SELECT DISTINCT src FROM edges)
              UNION
              SELECT e.dst, r.origin FROM reach r JOIN edges e ON e.src = r.node),
            comp AS (SELECT node, min(origin) AS cluster_id FROM reach GROUP BY 1)
            SELECT i.doc_id, COALESCE(c.cluster_id, i.doc_id) AS cluster_id,
                   i.doc_id = COALESCE(c.cluster_id, i.doc_id) AS keep
            FROM imgs i LEFT JOIN comp c ON i.doc_id = c.node
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "bm25_topk": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''),
                                 x -> x <> '') AS toks
              FROM documents),
            lens AS (SELECT doc_id, len(toks) AS dl FROM base),
            totals AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
            matched AS (
              SELECT doc_id, t.term, count(*) AS tf
              FROM base, unnest(toks) AS t(term)
              WHERE t.term IN ('the', 'data', 'pipeline')
              GROUP BY 1, 2),
            dfreq AS (SELECT term, count(*) AS df FROM matched GROUP BY 1),
            scored AS (
              SELECT m.doc_id,
                     sum(ln(1 + (tt.n_docs - d.df + 0.5) / (d.df + 0.5))
                         * (m.tf * 2.2)
                         / (m.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / tt.avgdl))
                     ) AS score,
                     CAST(count(*) AS INT) AS n_matched
              FROM matched m
              JOIN dfreq d USING (term) JOIN lens l USING (doc_id), totals tt
              GROUP BY 1)
            SELECT doc_id, round(score, 6) AS score, n_matched
            FROM scored ORDER BY score DESC, doc_id LIMIT 15
        """,
        # PassJoin fuzzy self-join oracle: brute-force levenshtein over
        # the same normalized 15-char prefixes (cheap at the gate's
        # 500-doc documents table; the Spark side must produce the
        # IDENTICAL pair set through pigeonhole blocking).
        "fuzzy_editdist": """
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(substring(text, 1, 15)),
                                         '\\s+', ' ', 'g')) AS s
              FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.s, b.s) AS INT) AS dist
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE levenshtein(a.s, b.s) <= 2
        """,
        # Broder containment coefficient oracle: brute-force
        # |A∩B| / |A| over distinct word-3-gram sets of 120-char
        # prefixes — the Spark side's asymmetric prefix-filtered join
        # must match it pair for pair.
        "dedup_containment": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(
                         substring(text, 1, 120), '\\s+', ' ', 'g')), ' '),
                                 t -> t <> '') AS toks
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     )) AS s
              FROM t WHERE len(toks) >= 3)
            SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
                   round(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 6)
                       AS containment
            FROM sh a JOIN sh b ON a.doc_id != b.doc_id
            WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) >= 0.7
        """,
        # Grouped calibration replay (r11 rotation): the bin rule is a
        # pure function of the score (least/greatest clamp + floor over
        # equal widths — the same expression the green model_eval
        # gap@bin rows replay, here per (grp, bin)), and the per-group
        # ECE is re-derived from the SAME binned relation the table
        # comes from (the grouped_ece convention). mean_score is the
        # only summation-order-sensitive term, absorbed by round 6; the
        # score is the algebraic sigmoid so both engines bin
        # bit-identical values.
        "grouped_calibration": """
            WITH v AS (
              SELECT CAST(vec_id % 4 AS INT) AS grp,
                     0.5 + x / (2.0 * (1.0 + abs(x))) AS s,
                     CASE WHEN label % 2 > 0 THEN 1 ELSE 0 END AS y
              FROM (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x, label
                    FROM embeddings)
              WHERE x IS NOT NULL AND NOT isnan(x) AND label IS NOT NULL),
            cal AS (
              SELECT grp,
                     CAST(floor(least(9.0, greatest(0.0, s / 0.1))) AS INT) AS bin,
                     count(*) AS n, avg(s) AS mean_score, avg(y) AS pos_rate
              FROM v GROUP BY 1, 2),
            e AS (
              SELECT grp,
                     sum(n * abs(pos_rate - mean_score)) / sum(n) AS ece
              FROM cal GROUP BY 1)
            SELECT cal.grp, cal.bin,
                   round(cal.bin * CAST(0.1 AS DOUBLE), 6) AS bin_lo,
                   round((cal.bin + 1) * CAST(0.1 AS DOUBLE), 6) AS bin_hi,
                   CAST(cal.n AS BIGINT) AS n,
                   round(cal.mean_score, 6) AS mean_score,
                   round(cal.pos_rate, 6) AS pos_rate,
                   round(cal.pos_rate - cal.mean_score, 6) AS gap,
                   round(e.ece, 6) AS grp_ece
            FROM cal JOIN e ON cal.grp = e.grp
        """,
        # CDC roundtrip oracle: md5/byte-length of each planted payload
        # computed DIRECTLY — the Spark side reaches the same values
        # only by tiling every byte exactly once, in chunk order, with
        # kernel chunk hashes that match the bytes they cover.
        "cdc_dedup": """
            WITH p AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 = 0 THEN repeat('CLONEBLOCK ', 64)
                          ELSE text END AS s
              FROM documents WHERE text IS NOT NULL)
            SELECT doc_id,
                   CAST(octet_length(encode(s)) AS INT) AS n_bytes,
                   md5(s) AS payload_md5
            FROM p WHERE octet_length(encode(s)) > 0
        """,
        # BPE roundtrip oracle: the tokenizer's decode inverse and the
        # one-end-of-word-token-per-word invariant are derivable from
        # the raw text (lowercase + whitespace collapse) without
        # replaying the merges; token counts under the learned merges
        # stay pytest-pinned (not SQL-expressible).
        "bpe_tokenize": """
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(coalesce(text, '')),
                                         '\\s+', ' ', 'g')) AS norm
              FROM documents)
            SELECT doc_id,
                   CAST(CASE WHEN norm = '' THEN 0
                        ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_words,
                   norm AS decoded
            FROM t
        """,
    }


def relocated_oracles() -> dict[str, str]:
    """Oracle SQL for entries rotated OUT of the 50-cap registry in
    round 6 (their slots went to the r5 families). Each keeps running
    as a pytest DuckDB-parity test (tests/test_parity_and_edges.py)
    with the SAME SQL the driver's gate used through r5 — the surfaces
    stay cross-engine-verified, just not driver-slotted. r6 wave 2 adds
    ann_knn_batch (slot went to ivfpq_indexed; the batched-kNN
    arithmetic stays pinned here, and its cosine/rank components remain
    driver-pinned via ann_ivf_topk and ann_recall). r9 adds the three
    entries whose slots went to model_eval/cms_freq/opq_encode —
    a9_summary_agg, j7_positional_join, dedup_exact — with the exact
    SQL the driver's gate ran through r8, plus two replay-only
    evaluation surfaces that were never registry-slotted
    (threshold_report, grouped_auc — r8 verdict task #4: the per-slice
    AUC and the full confusion relation get standing cross-engine
    coverage without consuming 50-cap slots). r11 adds the two entries
    whose slots went to grouped_calibration/eval_state_auc —
    drift_report and condense_accounting — with the exact SQL the
    driver's gate ran through r10. r12 adds j1_outer_join_agg (slot →
    eval_state_calibration) with the exact SQL the gate ran through
    r11. r13 adds so1_anti_join (slot → eval_state_grouped_auc) with
    the exact SQL the gate ran through r12, and — wave 2 —
    mwas_summary_t_only (slot → eval_state_threshold_report, closing
    the eval-state reader family) with the exact SQL the gate ran
    through the start of r13."""
    return {
        # r13 wave-2 rotation OUT (slot → eval_state_threshold_report):
        # exact SQL the driver's gate ran through the start of r13. The
        # summary aggregates stay a strict rollup of the green
        # mwas_t_only_full relation (operators/summary.py:15).
        "mwas_summary_t_only": _MWAS_SUMMARY_T_ONLY_ORACLE,
        # r13 rotation OUT (slot → eval_state_grouped_auc): exact SQL
        # the driver's gate ran through r12. The anti-join arithmetic
        # also stays driver-pinned inside the green text_decontam row.
        "so1_anti_join": """
            SELECT c_mktsegment AS segment, count(*) AS n_customers
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
            GROUP BY 1
        """,
        # r12 rotation OUT (slot → eval_state_calibration): exact SQL
        # the driver's gate ran through r11. The outer-join + NULL-
        # coalesce arithmetic stays hash-pinned as stage one of every
        # green mwas entry (operators/mwas.py:93-113).
        "j1_outer_join_agg": """
            SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
                   count(o_orderkey) AS n_orders,
                   round(sum(COALESCE(o_totalprice, 0)), 4) AS total
            FROM orders FULL OUTER JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        # r11 rotation OUT (slot → grouped_calibration): exact SQL the
        # driver's gate ran through r10.
        "drift_report": """
            WITH t AS (
              SELECT CAST(value AS DOUBLE) AS v, (event_id % 2 = 0) AS is_a
              FROM events
              -- NaN excluded like NULL (r12 lockstep with ks_drift)
              WHERE value IS NOT NULL AND NOT isnan(value)),
            per_v AS (
              SELECT v, sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
                        sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
              FROM t GROUP BY v),
            cum AS (
              SELECT sum(ca) OVER (ORDER BY v) / (SELECT sum(ca) FROM per_v) AS fa,
                     sum(cb) OVER (ORDER BY v) / (SELECT sum(cb) FROM per_v) AS fb
              FROM per_v),
            ks AS (SELECT round(max(abs(fa - fb)), 9) AS value FROM cum),
            c AS (
              SELECT event_type,
                     sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
                     sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
              FROM events GROUP BY 1),
            tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c),
            psi AS (
              SELECT round(sum((ca / na + 1e-6 - (cb / nb + 1e-6))
                               * ln((ca / na + 1e-6) / (cb / nb + 1e-6))), 9)
                         AS value
              FROM c, tot)
            SELECT 'value' AS "column", 'numeric' AS kind, 'ks' AS statistic,
                   value, value > 0.1 AS flagged
            FROM ks
            UNION ALL
            SELECT 'event_type', 'categorical', 'psi', value, value > 0.25
            FROM psi
        """,
        # r11 rotation OUT (slot → eval_state_auc): exact SQL the
        # driver's gate ran through r10.
        "condense_accounting": _MWAS_ORACLE_CTES
        + """
            , acc_raw AS (
              SELECT bp, count(DISTINCT bs) AS n_raw,
                     count(DISTINCT attribute) AS n_attr
              FROM meta GROUP BY 1),
            acc_sets AS (SELECT bp, count(*) AS n_sets FROM sets GROUP BY 1)
            SELECT r.bp AS bioproject,
                   r.n_raw AS n_biosamples_raw,
                   r.n_raw AS n_biosamples_valid,
                   CAST(0 AS BIGINT) AS n_biosamples_dropped,
                   r.n_attr AS n_attributes,
                   COALESCE(s.n_sets, 0) AS n_sets,
                   CASE WHEN r.n_raw < 3 THEN 'too_few_biosamples'
                        WHEN COALESCE(s.n_sets, 0) = 0 THEN 'no_informative_sets'
                        ELSE 'ok' END AS status
            FROM acc_raw r LEFT JOIN acc_sets s ON r.bp = s.bp
        """,
        "threshold_report": """
            WITH v AS (
              SELECT 0.5 + x / (2.0 * (1.0 + abs(x))) AS s,
                     CASE WHEN label % 2 > 0 THEN 1 ELSE 0 END AS y
              FROM (SELECT CAST(embedding[1] AS DOUBLE) AS x, label
                    FROM embeddings)
              WHERE x IS NOT NULL AND NOT isnan(x) AND label IS NOT NULL),
            cells AS (
              SELECT CAST(t.ts AS DOUBLE) AS threshold,
                     sum(CASE WHEN s >= CAST(t.ts AS DOUBLE) AND y = 1
                              THEN 1 ELSE 0 END) AS tp,
                     sum(CASE WHEN s >= CAST(t.ts AS DOUBLE) AND y = 0
                              THEN 1 ELSE 0 END) AS fp,
                     sum(CASE WHEN s < CAST(t.ts AS DOUBLE) AND y = 1
                              THEN 1 ELSE 0 END) AS fn,
                     sum(CASE WHEN s < CAST(t.ts AS DOUBLE) AND y = 0
                              THEN 1 ELSE 0 END) AS tn
              FROM v, unnest(['0.25', '0.5', '0.75']) AS t(ts)
              GROUP BY 1)
            SELECT threshold, CAST(tp AS BIGINT) AS tp,
                   CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
                   CAST(tn AS BIGINT) AS tn,
                   round(p, 6) AS precision, round(rc, 6) AS recall,
                   round(CASE WHEN COALESCE(p, 0) + COALESCE(rc, 0) > 0
                              THEN 2 * p * rc / (p + rc)
                              WHEN p IS NOT NULL AND rc IS NOT NULL
                              THEN 0.0 END, 6) AS f1,
                   round(CAST(tp + fp AS DOUBLE) / (tp + fp + fn + tn), 6)
                       AS selected_frac
            FROM (SELECT *,
                         CASE WHEN tp + fp > 0
                              THEN CAST(tp AS DOUBLE) / (tp + fp) END AS p,
                         CASE WHEN tp + fn > 0
                              THEN CAST(tp AS DOUBLE) / (tp + fn) END AS rc
                  FROM cells)
        """,
        "grouped_threshold_report": """
            WITH v AS (
              SELECT CAST(vec_id % 8 AS INT) AS grp,
                     0.5 + x / (2.0 * (1.0 + abs(x))) AS s,
                     CASE WHEN label % 2 > 0 THEN 1 ELSE 0 END AS y
              FROM (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x, label
                    FROM embeddings)
              WHERE x IS NOT NULL AND NOT isnan(x) AND label IS NOT NULL),
            cells AS (
              SELECT grp, CAST(t.ts AS DOUBLE) AS threshold,
                     sum(CASE WHEN s >= CAST(t.ts AS DOUBLE) AND y = 1
                              THEN 1 ELSE 0 END) AS tp,
                     sum(CASE WHEN s >= CAST(t.ts AS DOUBLE) AND y = 0
                              THEN 1 ELSE 0 END) AS fp,
                     sum(CASE WHEN s < CAST(t.ts AS DOUBLE) AND y = 1
                              THEN 1 ELSE 0 END) AS fn,
                     sum(CASE WHEN s < CAST(t.ts AS DOUBLE) AND y = 0
                              THEN 1 ELSE 0 END) AS tn
              FROM v, unnest(['0.25', '0.5', '0.75']) AS t(ts)
              GROUP BY 1, 2)
            SELECT grp, threshold, CAST(tp AS BIGINT) AS tp,
                   CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
                   CAST(tn AS BIGINT) AS tn,
                   round(p, 6) AS precision, round(rc, 6) AS recall,
                   round(CASE WHEN COALESCE(p, 0) + COALESCE(rc, 0) > 0
                              THEN 2 * p * rc / (p + rc)
                              WHEN p IS NOT NULL AND rc IS NOT NULL
                              THEN 0.0 END, 6) AS f1,
                   round(CAST(tp + fp AS DOUBLE) / (tp + fp + fn + tn), 6)
                       AS selected_frac
            FROM (SELECT *,
                         CASE WHEN tp + fp > 0
                              THEN CAST(tp AS DOUBLE) / (tp + fp) END AS p,
                         CASE WHEN tp + fn > 0
                              THEN CAST(tp AS DOUBLE) / (tp + fn) END AS rc
                  FROM cells)
        """,
        "grouped_auc": """
            WITH v AS (
              SELECT CAST(vec_id % 8 AS INT) AS grp,
                     0.5 + x / (2.0 * (1.0 + abs(x))) AS s,
                     CASE WHEN label % 2 > 0 THEN 1 ELSE 0 END AS y
              FROM (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x, label
                    FROM embeddings)
              WHERE x IS NOT NULL AND NOT isnan(x) AND label IS NOT NULL),
            r AS (
              SELECT grp, y,
                     rank() OVER (PARTITION BY grp ORDER BY s)
                       + (count(*) OVER (PARTITION BY grp, s) - 1) / 2.0
                           AS midrank
              FROM v)
            SELECT grp,
                   round((sum(CASE WHEN y = 1 THEN midrank END)
                            - sum(y) * (sum(y) + 1) / 2.0)
                         / (sum(y) * sum(1 - y)), 6) AS auc,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(1 - y) AS BIGINT) AS n_neg
            FROM r GROUP BY 1
        """,
        "a9_summary_agg": """
            SELECT o_orderstatus, round(max(o_totalprice), 4) AS max_price,
                   round(avg(o_totalprice), 4) AS avg_price,
                   round(sum(o_totalprice), 4) AS sum_price,
                   round(avg(CASE WHEN o_orderpriority = '1-URGENT'
                                  THEN o_totalprice END), 4) AS avg_urgent_price,
                   count(*) AS n
            FROM orders GROUP BY 1
        """,
        "j7_positional_join": """
            SELECT s_nationkey,
                   row_number() OVER (PARTITION BY s_nationkey ORDER BY s_name) - 1
                       AS pos,
                   s_name, round(s_acctbal, 4) AS acctbal
            FROM supplier
        """,
        "dedup_exact": """
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
                   count(*) AS n_docs, min(doc_id) AS keep_id,
                   array_to_string(list_slice(list_sort(list(doc_id)), 1, 4), ';') AS doc_ids,
                   count(*) > 4 AS doc_ids_truncated
            FROM documents GROUP BY 1
        """,
        "j5_sql_api": _J5_SQL,
        "dedup_simhash32": """
            WITH toks AS (
              SELECT doc_id, md5(t.tok) AS h
              FROM documents,
                   LATERAL unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS t(tok)
              WHERE length(trim(text)) > 0),
            bits AS (
              SELECT doc_id, b.b,
                     CASE WHEN floor((strpos('0123456789abcdef',
                                             substr(h, CAST(b.b // 4 AS INT) + 1, 1)) - 1)
                                / power(2, 3 - (b.b % 4))) % 2 = 1
                          THEN 1 ELSE -1 END AS vote
              FROM toks, LATERAL (SELECT unnest(generate_series(0, 31)) AS b) AS b),
            votes AS (SELECT doc_id, b, sum(vote) AS v FROM bits GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0
                                 THEN power(2, 31 - b) ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY 1
        """,
        "dedup_embedding_lsh": _emb_lsh_oracle(),
        "text_vocab_topk": """
            WITH toks AS (
              SELECT doc_id, t.tok AS token
              FROM documents,
                   LATERAL unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS t(tok)
              WHERE t.tok <> ''),
            counts AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
                       FROM toks GROUP BY 1)
            SELECT token, tf, df, rank
            FROM (SELECT token, tf, df,
                         row_number() OVER (ORDER BY tf DESC, token ASC) AS rank
                  FROM counts)
            WHERE rank <= 50
        """,
        # Replays the IVF probe + top-k over the SAME materialized index
        # the Spark entry queries (built by _ivf_index at a deterministic
        # path; the driver's gate runs at sf0.01 — tools/check_oracle.py
        # rewrites the tag when checking other SFs). Probe set = 3 cells
        # nearest the stored centroids by L2 (ties by cell id, matching
        # the engine's stable sort); candidates = partition filter;
        # ranking = cosine DESC, vec_id.
        "ann_ivf_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings ORDER BY vec_id LIMIT 1),
            probe AS (
                SELECT cell
                FROM read_parquet(
                    '/root/repo/spark-warehouse/ivf_index/sf0.01/centroids/*.parquet'), q
                ORDER BY list_sum(list_transform(centroid,
                                                 (x, i) -> (x - qv[i]) * (x - qv[i]))),
                         cell
                LIMIT 3),
            cand AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                FROM read_parquet(
                    '/root/repo/spark-warehouse/ivf_index/sf0.01/vectors/*/*.parquet',
                    hive_partitioning = true)
                WHERE cell IN (SELECT cell FROM probe))
            SELECT vec_id, round(list_cosine_similarity(emb, qv), 5) AS cosine
            FROM cand, q
            ORDER BY list_cosine_similarity(emb, qv) DESC, vec_id
            LIMIT 10
        """,
        # Okapi BM25 (k1=1.2, b=0.75, Robertson idf with the +1 inside
        # the log) — independent DuckDB formulation of the same ranking
        # the Spark scan path computes; ties broken identically
        # (score DESC, doc_id).
        "ann_knn_batch": """
            WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings ORDER BY vec_id LIMIT 3),
            s AS (SELECT q.q_id, e.vec_id,
                         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
                             AS cos
                  FROM embeddings e CROSS JOIN q)
            SELECT q_id, vec_id, round(cos, 5) AS cosine, rank
            FROM (SELECT q_id, vec_id, cos,
                         row_number() OVER (PARTITION BY q_id
                                            ORDER BY cos DESC, vec_id ASC) AS rank
                  FROM s)
            WHERE rank <= 5
        """,
        "f2_rpm_normalize": """
            WITH nord AS (SELECT max(o_orderkey) AS n FROM orders),
            inp AS (SELECT 'R' || CAST((event_id % (SELECT n FROM nord)) + 1 AS VARCHAR) AS run,
                           event_type AS grp, value AS quantifier FROM events),
            cat AS (SELECT 'R' || CAST(o_orderkey AS VARCHAR) AS run,
                           CAST(floor(o_totalprice * 100) AS BIGINT) AS spots
                    FROM orders JOIN customer ON o_custkey = c_custkey)
            SELECT i.grp AS group_name, count(*) AS n,
                   round(avg(COALESCE(i.quantifier, 0)
                       / (CASE WHEN c.spots = 0 THEN 1000000 ELSE c.spots END)
                       * 1000000), 6) AS avg_rpm
            FROM inp i JOIN cat c ON i.run = c.run
            GROUP BY 1
        """,
        "s13_synthetic_input": """
            WITH cat AS (
              SELECT 'PRJ' || CAST(c_nationkey AS VARCHAR) AS bp,
                     'R' || CAST(o_orderkey AS VARCHAR) AS run
              FROM orders JOIN customer ON o_custkey = c_custkey),
            sizes AS (SELECT bp, count(*) AS n_runs FROM cat GROUP BY 1),
            keep AS (
              SELECT bp FROM (
                SELECT bp, row_number() OVER (
                    PARTITION BY CAST(floor(log2(n_runs)) AS BIGINT)
                    ORDER BY n_runs DESC, bp ASC) AS rk
                FROM sizes)
              WHERE rk <= 2)
            SELECT c.run,
                   ['A','B','C'][(ascii(substr(md5(c.run), 1, 1)) % 3) + 1] AS "group",
                   CAST(ascii(substr(md5(c.run), 2, 1)) % 2 AS DOUBLE) * 1000.0
                       AS quantifier
            FROM cat c WHERE c.bp IN (SELECT bp FROM keep)
        """,
        "j4_cascading_lookup": """
            SELECT l_returnflag, count(*) AS n,
                   round(sum(COALESCE(s_acctbal, p_retailprice, -1.0)), 4) AS sum_resolved
            FROM lineitem
            LEFT JOIN supplier ON l_suppkey = s_suppkey
            LEFT JOIN part ON l_partkey = p_partkey
            GROUP BY 1
        """,
        "j6_semi_join": """
            SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
            FROM lineitem
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
            GROUP BY 1
        """,
        "so2_complement": """
            SELECT s_nationkey, pos, s_name AS name
            FROM (SELECT s_nationkey, s_name, s_acctbal,
                         row_number() OVER (PARTITION BY s_nationkey
                                            ORDER BY s_name) - 1 AS pos
                  FROM supplier)
            WHERE s_acctbal >= 0
        """,
        "a7_signature_dedup": """
            SELECT sig, count(*) AS n_brands,
                   string_agg(p_brand, '; ' ORDER BY p_brand) AS brands
            FROM (SELECT p_brand,
                         md5(array_to_string(list_sort(list(DISTINCT p_size)), ',')) AS sig
                  FROM part GROUP BY 1)
            GROUP BY 1
        """,
    }
