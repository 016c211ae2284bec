"""Scalar column expressions (SURVEY.md §2.7) — all JVM-side, codegen'd.

Each helper returns a pyspark Column so Catalyst can fold/push it; no
Python UDFs here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


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
