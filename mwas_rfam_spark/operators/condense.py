"""Metadata condensation (SURVEY.md §2.9) — one relational job for all
BioProjects.

Re-expresses reference metadata_set_maker.py:13-110 (which loops one wide
CSV at a time, converter_.py:105-117) as a single long-form DataFrame plan:

    melt → valid-id filter → attribute pruning (nunique) → factor groups
    (freq >= 2, non-NaN) → minority-side encoding → cohort-signature dedup

Deliberate divergences from the reference, documented per SURVEY.md §7:
* ``n`` (row count used for pruning and the minority threshold) is the
  count of *valid* biosamples; the reference compares against the
  pre-filter row count even after dropping invalid ids
  (metadata_set_maker.py:23-35) — a quirk, normalized away here.
* The dedup key is sha2 over the sorted matching-cohort membership instead
  of an arbitrary-precision bitmap int (metadata_set_maker.py:81-87) —
  constant-size and shuffle-friendly at any cardinality.
* Values are kept as raw strings (no pandas dtype inference round-trip) —
  but pandas' default NA tokens ('NA', 'N/A', 'NaN', 'None', 'null', …)
  are treated as missing exactly as the reference's read_csv parse does
  (``_PANDAS_NA_TOKENS`` below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# pandas.read_csv's default NA token set (the reference reads wide
# metadata through pandas, so every one of these parses to NaN and is
# invisible to nunique/factor counting — metadata_set_maker.py:45-63 via
# pd.isna at msm:57-58). The engine keeps values as raw strings, so the
# SAME tokens must be excluded explicitly or a column holding 'NA'/'N/A'
# cells would emit cohort sets the reference never produces (r12 review
# finding; previously only NULL and lowercase 'nan' were excluded).
_PANDAS_NA_TOKENS = (
    "", "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None",
    "n/a", "nan", "null",
)


def condense_metadata(
    meta_long: DataFrame, min_biosamples: int = 3, carry_n: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Condense long-form metadata into distinct (attribute,value) cohort sets.

    Args:
        meta_long: (bioproject, biosample_id, attribute, attr_pos, value).
        min_biosamples: BioProjects with fewer valid biosamples are dropped
            (reference converter_.py:38-41 skips metadata with <= 2 rows).
        carry_n: append ref's per-bioproject biosample count as a trailing
            ``n`` column on sets_df (one extra long per row — it is already
            joined in at the pruning stage). Consumers that only need
            (sets ⋈ ref.n) skip re-joining ref, which would otherwise
            re-aggregate the whole biosample universe a second time in the
            same plan (no exchange reuse: the two ref subtrees project
            differently).

    Returns:
        (sets_df, ref_df) where sets_df is METADATA_SETS_SCHEMA-shaped
        (bioproject, set_id, attributes, values, members, include) and
        ref_df is (bioproject, biosamples_ref ARRAY<STRING> sorted, n).
    """
    valid = meta_long.filter(F.col("biosample_id").startswith("SAM"))

    # biosample universe per bioproject (reference: sorted biosamples_ref,
    # metadata_set_maker.py:25,108)
    ref_df = (
        valid.select("bioproject", "biosample_id")
        .distinct()
        .groupBy("bioproject")
        .agg(
            F.sort_array(F.collect_list("biosample_id")).alias("biosamples_ref"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= min_biosamples)
    )

    # factor cohorts: matching biosamples per (attribute, value), frequency
    # >= 2 (singletons skipped, metadata_set_maker.py:61-63). The
    # attribute-pruning statistic (nunique: drop constant <=1 and key-like
    # ==n columns, metadata_set_maker.py:45-50; NA tokens/null don't count,
    # pandas nunique semantics) is a window count over this SAME
    # aggregation — the factor rows ARE the distinct (attribute, value)
    # pairs — instead of a second full pass over the melted relation plus
    # a join. The window shuffles only the post-agg factor rows. It
    # partitions by attr_pos too: a COLUMN is (attribute, attr_pos) — two
    # columns sharing a name (real corpora have duplicate headers) must
    # prune independently, or their merged value count wrongly fails the
    # nunique < n key-like test (r12 review finding, execution-confirmed:
    # an informative column next to a same-named key-like column returned
    # zero sets).
    informative = F.col("value").isNotNull() & ~F.col("value").isin(
        *_PANDAS_NA_TOKENS
    )
    w_attr = Window.partitionBy("bioproject", "attribute", "attr_pos")
    factors = (
        valid.filter(informative)
        .groupBy("bioproject", "attribute", "attr_pos", "value")
        .agg(
            F.sort_array(F.collect_set("biosample_id")).alias("matching"),
            F.countDistinct("biosample_id").alias("cnt"),
        )
        .withColumn("nunique", F.count("*").over(w_attr))
        .filter(F.col("cnt") >= 2)
    )

    pruned = (
        factors.join(ref_df, "bioproject")
        .filter((F.col("nunique") > 1) & (F.col("nunique") < F.col("n")))
        .filter(F.col("cnt") < F.col("n"))  # a full-cohort factor is constant over valid rows
    )

    # minority-side encoding (metadata_set_maker.py:64,74): store the smaller
    # side, include=True iff the stored side is the true cohort
    encoded = pruned.select(
        "bioproject",
        *(["n"] if carry_n else []),
        "attr_pos",
        F.regexp_replace("attribute", ";", ":").alias("attribute"),
        F.regexp_replace("value", ";", ":").alias("value"),
        (F.col("cnt") < F.col("n") / 2).alias("include"),
        F.when(F.col("cnt") < F.col("n") / 2, F.col("matching"))
        .otherwise(F.array_except("biosamples_ref", "matching"))
        .alias("members"),
        # dedup key = the true-side cohort itself (reference keys the raw
        # boolean vector, metadata_set_maker.py:81)
        F.sha2(F.concat_ws("\x1f", "matching"), 256).alias("set_id"),
    )

    # cohort-signature dedup with "; "-joined label merge in original
    # column order then value order (metadata_set_maker.py:89-94)
    sets_df = (
        encoded.groupBy("bioproject", "set_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("attr_pos", "value", "attribute"))
            ).alias("labels"),
            F.first("members").alias("members"),
            F.first("include").alias("include"),
            # n is constant per bioproject, so first() under the
            # (bioproject, set_id) grouping reproduces the join value
            *([F.first("n").alias("n")] if carry_n else []),
        )
        .select(
            "bioproject",
            "set_id",
            F.array_join(F.transform("labels", lambda s: s["attribute"]), "; ").alias(
                "attributes"
            ),
            F.array_join(F.transform("labels", lambda s: s["value"]), "; ").alias(
                "values"
            ),
            "members",
            "include",
            *(["n"] if carry_n else []),
        )
    )
    return sets_df, ref_df


def sets_to_readable(sets_df: DataFrame, ref_df: DataFrame) -> DataFrame:
    """Human-readable export of the condensed sets — the Spark form of the
    reference's mwaspkl_to_readable_csv.py:20-29: expand the minority-side
    encoding back to explicit included-biosample accessions.

    Returns (bioproject, attributes, values, n_included, included_biosamples)
    with the include/exclude complement resolved (SO2).
    """
    joined = sets_df.join(ref_df.select("bioproject", "biosamples_ref"), "bioproject")
    included = F.when(F.col("include"), F.col("members")).otherwise(
        F.array_except("biosamples_ref", "members")
    )
    return joined.select(
        "bioproject",
        "attributes",
        "values",
        F.size(included).cast("long").alias("n_included"),
        F.array_join(F.sort_array(included), "; ").alias("included_biosamples"),
    )


def condense_accounting(
    meta_long: DataFrame,
    sets_df: DataFrame,
    min_biosamples: int = 3,
    blacklist: tuple[str, ...] = (),
) -> DataFrame:
    """S12 — per-bioproject condensation accounting, the relational form of
    the reference's conversion_results.csv / conversion_errors.txt
    (converter_.py:72-117: one row per file with sizes, time, and a
    skip/failure comment).

    File sizes and wall time are process artifacts; the relational
    equivalents are row/attribute/set counts plus a status classifying
    why a bioproject produced no sets: 'blacklisted' (conv:11-14,28-31),
    'too_few_biosamples' (conv:38-41: <= 2 rows → empty file),
    'no_informative_sets' (every attribute constant/key-like — the
    is_empty path, conv:55-58), else 'ok'.

    Returns (bioproject, n_biosamples_raw, n_biosamples_valid,
    n_biosamples_dropped, n_attributes, n_sets, status) — the dropped
    count is DISTINCT BIOSAMPLES with invalid ids, not raw rows.

    Blacklisted bioprojects ABSENT from ``meta_long`` still get a row
    (all counts 0, status='blacklisted'): the natural caller passes
    metadata already filtered by the blacklist, and the accounting must
    classify those projects rather than silently omit them (the
    reference's converter logs them before skipping, conv:28-31).
    """
    is_valid = F.col("biosample_id").startswith("SAM")
    raw = meta_long.groupBy("bioproject").agg(
        F.countDistinct("biosample_id").alias("n_biosamples_raw"),
        F.countDistinct(F.when(is_valid, F.col("biosample_id"))).alias(
            "n_biosamples_valid"
        ),
        F.countDistinct("attribute").alias("n_attributes"),
    )
    nsets = sets_df.groupBy("bioproject").agg(F.count("*").alias("n_sets"))
    joined = raw.join(nsets, "bioproject", "left").na.fill({"n_sets": 0})
    blacklisted = (
        F.col("bioproject").isin(list(blacklist)) if blacklist else F.lit(False)
    )
    status = (
        F.when(blacklisted, F.lit("blacklisted"))
        .when(F.col("n_biosamples_valid") < min_biosamples, F.lit("too_few_biosamples"))
        .when(F.col("n_sets") == 0, F.lit("no_informative_sets"))
        .otherwise(F.lit("ok"))
    )
    out = joined.select(
        "bioproject",
        "n_biosamples_raw",
        "n_biosamples_valid",
        (F.col("n_biosamples_raw") - F.col("n_biosamples_valid")).alias(
            "n_biosamples_dropped"
        ),
        "n_attributes",
        "n_sets",
        status.alias("status"),
    )
    if blacklist:
        spark = meta_long.sparkSession
        zero = F.lit(0).cast("long")
        missing = (
            # dedupe: the CLI's repeatable --blacklist flag can pass the
            # same project twice; without set() the anti-join keeps both
            # rows and the accounting sink breaks its one-row-per-
            # bioproject contract (r12 review finding)
            spark.createDataFrame(
                [(b,) for b in sorted(set(blacklist))], ["bioproject"]
            )
            .join(meta_long.select("bioproject").distinct(), "bioproject", "left_anti")
            .select(
                "bioproject",
                zero.alias("n_biosamples_raw"),
                zero.alias("n_biosamples_valid"),
                zero.alias("n_biosamples_dropped"),
                zero.alias("n_attributes"),
                zero.alias("n_sets"),
                F.lit("blacklisted").alias("status"),
            )
        )
        out = out.unionByName(missing)
    return out
