"""Scalar column expressions (SURVEY.md §2.7) — all JVM-side, codegen'd.

Each helper returns a pyspark Column so Catalyst can fold/push it; no
Python UDFs here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def log2_fold_change(true_mean: Column, false_mean: Column) -> Column:
    """log2(true/false) with the reference's sentinel strings.

    Reference main/mwas_general.py:325-336: (0,0) → 0; true==0 →
    'negative inf'; false==0 → 'inf'; else log2 ratio. Returned as STRING
    for output parity (the reference emits the literal words).
    """
    return (
        F.when((true_mean == 0) & (false_mean == 0), F.lit("0"))
        .when(true_mean == 0, F.lit("negative inf"))
        .when(false_mean == 0, F.lit("inf"))
        .otherwise(F.log2(true_mean / false_mean).cast("string"))
    )


def log2_fold_change_numeric(true_mean: Column, false_mean: Column) -> Column:
    """Numeric variant (legacy old/mwas_rfam.py:100-111 uses np.inf)."""
    return (
        F.when((true_mean == 0) & (false_mean == 0), F.lit(0.0))
        .when(true_mean == 0, F.lit(float("-inf")))
        .when(false_mean == 0, F.lit(float("inf")))
        .otherwise(F.log2(true_mean / false_mean))
    )


def rpm(quantifier: Column, spots: Column, normalizing_const: float = 1e6) -> Column:
    """Reads-per-million normalization: quantifier / spots * 1e6.

    Reference old/mwas_rfam.py:255 and the docstring intent of
    main/mwas_general.py:510-518. (mg:510-511 divides by spots*1e6 in the
    multi-run branch — a known reference quirk; we follow the documented
    semantics and normalize *, see SURVEY.md §2.7 F2.)
    Zero spots yields 0 (guard; normally spots==0 was already replaced
    upstream, mg:180).
    """
    return F.when(spots != 0, quantifier / spots * F.lit(normalizing_const)).otherwise(
        F.lit(0.0)
    )


def replace_zero_spots(spots: Column, replacement: float = 1_000_000.0) -> Column:
    """spots == 0 → 1e6 sentinel replacement (reference mg:180)."""
    return F.when(spots == 0, F.lit(replacement)).otherwise(spots)


def clean_csv_field(col: Column) -> Column:
    """Commas → spaces in output text fields (reference mg:441)."""
    return F.regexp_replace(col, ",", " ")


def hex_prefix_u32(hex_col: Column, slice_index: int = 0) -> Column:
    """8 hex digits of a hash string decoded to a uniform 32-bit long —
    the repo-wide engine-portable randomness primitive (DuckDB replay:
    ``CAST('0x' || substr(h, 1 + 8*i, 8) AS BIGINT)``). 8 digits, not
    fewer: a 2-digit decode mod n biases low buckets whenever n doesn't
    divide 256 (see plans/sampling.shuffle_shard). ``slice_index``
    selects the i-th non-overlapping 8-digit window of the digest (an
    md5 has four) — the CMS bucket derivation consumes all four per
    domain-tagged digest (r12: that decode was a hand-copy of this
    one; ONE definition so the replay invariant can't drift)."""
    return F.conv(F.substring(hex_col, 1 + 8 * slice_index, 8), 16, 10).cast(
        "long"
    )


def md5_u32(col: Column) -> Column:
    """Uniform 32-bit long keyed on md5 of a column — ONE definition so
    the cross-engine SQL-replay invariant can't drift between the
    selection/sampling/split consumers."""
    return hex_prefix_u32(F.md5(col))


def md5_uniform(col: Column) -> Column:
    """Deterministic Uniform(0,1) draw keyed on md5: (u32 + 0.5) / 2^32
    — strictly inside (0,1) so log/log-log transforms (Gumbel) are
    always finite."""
    return (md5_u32(col) + F.lit(0.5)) / F.lit(float(2**32))
