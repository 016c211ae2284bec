"""Sequential reference implementations the tests compare the engine
against. Test-support only: no engine code calls them."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mwas_rfam_spark.functions.cdc import _gear_table


def gear_hashes_reference(payload: bytes, seed: int = 0) -> list[int]:
    """Sequential recurrence — the spec the vectorized form must match
    (test-support; O(n) Python loop)."""
    g = [int(x) for x in _gear_table(seed)]
    out = []
    h = 0
    for b in payload:
        h = ((h << 1) + g[b]) & 0xFFFFFFFFFFFFFFFF
        out.append(h)
    return out


def expand_sets_to_membership(sets_df: DataFrame) -> DataFrame:
    """Explode condensed sets to (bioproject, set_id, include, biosample_id)
    membership rows — the long relational form used by the cohort-split
    stage (replaces the reference's positional index_list deref,
    main/mwas_general.py:497).
    """
    return sets_df.select(
        "bioproject",
        "set_id",
        "include",
        F.explode("members").alias("biosample_id"),
    )
