"""Bloom-filter prefilter for incremental corpus dedup.

``incremental_exact_dedup`` (operators/dedup.py) anti-joins every new
batch against the running seen-hashes state. At 100 TB the state
relation dwarfs each batch, and the anti-join touches it whether or not
the batch actually overlaps. A Bloom filter over the state changes
that:

  * rows the filter rejects are DEFINITELY unseen — they bypass the
    anti-join entirely (no shuffle, no state scan for them);
  * only "maybe seen" rows (true duplicates + an fpp-sized false-
    positive slice of the batch) proceed to the exact anti-join, which
    keeps the overall result EXACT — the filter is a prefilter, never
    the decision;
  * when a batch has zero maybe-seen rows (the common steady-state for
    fresh crawl data), the state join is skipped altogether — a
    driver-side decision costing one count over the already-filtered
    batch.

The filter itself is built distributively: partitions build local bit
arrays over Arrow batches (``mapInPandas`` with a vectorized numpy
kernel), OR-merged executor-side in a depth-2 treeAggregate so the
driver holds O(m/8) bytes, not one array per partition (≈120 KB per
million state rows at 1% fpp; per-task build memory is m/8, same as
Spark's built-in bloomFilter aggregate). Bit positions come from double hashing
(Kirsch–Mitzenmacher 2006: ``pos_i = h1 + i·h2 mod m``) over two
xxhash64 seeds computed JVM-side, so Python only ever sees two int64
columns, never the key strings.

State growth composes: ``bloom_add`` ORs a batch's survivors into the
filter without rebuilding (same m/k), and ``num_items`` tracks load so
callers can rebuild when the design fpp degrades.

Extension surface — the reference engine processes each input file
independently (mwas_general.py has no cross-run corpus state); this
supports the continuous-ingest dedup the Spark port adds.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pinning import pin

_SEED1 = 0x9E3779B9
_SEED2 = 0x85EBCA77


@dataclass
class BloomState:
    """A serialized Bloom filter: ``num_bits`` (m), ``num_hashes`` (k),
    the packed little-endian bit array, and the item count it was
    sized/loaded for (advisory — drives rebuild-when-overloaded)."""

    num_bits: int
    num_hashes: int
    bits: bytes
    num_items: int

    def false_positive_rate(self) -> float:
        """Expected fpp at the CURRENT load (standard Bloom formula)."""
        k, m, n = self.num_hashes, self.num_bits, max(self.num_items, 1)
        return (1.0 - math.exp(-k * n / m)) ** k


def _params(expected_items: int, fpp: float) -> tuple[int, int]:
    n = max(expected_items, 1)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = (m + 63) // 64 * 64  # whole words
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _hash_cols(df: DataFrame, col: str) -> DataFrame:
    return df.select(
        F.xxhash64(F.col(col), F.lit(_SEED1)).alias("__h1"),
        F.xxhash64(F.col(col), F.lit(_SEED2)).alias("__h2"),
    )


def _positions(h1, h2, num_bits: int, num_hashes: int):
    """(rows × k) bit positions via double hashing, all uint64 numpy —
    identical arithmetic on build and probe by construction."""
    import numpy as np

    a = h1.to_numpy(dtype="int64").astype(np.uint64)
    b = h2.to_numpy(dtype="int64").astype(np.uint64)
    m = np.uint64(num_bits)
    pos = np.empty((len(a), num_hashes), dtype=np.uint64)
    for i in range(num_hashes):
        pos[:, i] = (a + np.uint64(i) * b) % m
    return pos


def _or_merge(parts_df: DataFrame, nbytes: int):
    """OR per-partition bit arrays EXECUTOR-side (treeAggregate, depth 2)
    so the driver receives a handful of pre-merged arrays instead of one
    full-size array per partition. Per-task memory during the build is
    still m/8 bytes (inherent to a distributed Bloom build — Spark's own
    DataFrameStatFunctions.bloomFilter pays the same); what this removes
    is the num_partitions × m/8 driver inflow."""
    import numpy as np

    def seq(acc, row):
        b = row["bits"]
        if b:
            arr = np.frombuffer(b, dtype=np.uint8)
            if acc is None:
                return arr.copy()
            acc |= arr
        return acc

    def comb(a, b):
        if a is None:
            return b
        if b is None:
            return a
        a |= b
        return a

    merged = parts_df.rdd.treeAggregate(None, seq, comb, depth=2)
    return np.zeros(nbytes, dtype=np.uint8) if merged is None else merged


def bloom_build(
    hashes: DataFrame,
    col: str = "content_hash",
    fpp: float = 0.01,
    expected_items: int | None = None,
) -> BloomState:
    """Build a Bloom filter over a one-column relation (typically the
    seen-hashes dedup state). One distributed pass: per-partition bit
    arrays built from vectorized numpy over Arrow batches, OR-merged
    executor-side in a depth-2 tree (``_or_merge``) so driver memory is
    O(m/8), not O(partitions × m/8). ``expected_items`` defaults to
    ``hashes.count()`` (one extra count job); pass it when the caller
    already tracks state cardinality."""
    import numpy as np

    n = expected_items if expected_items is not None else hashes.count()
    m, k = _params(n, fpp)
    nbytes = m // 8

    def build(batches):
        import pandas as pd

        bits = np.zeros(nbytes, dtype=np.uint8)
        seen_any = False
        for pdf in batches:
            if len(pdf):
                seen_any = True
                pos = _positions(pdf["__h1"], pdf["__h2"], m, k).ravel()
                np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                                 (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)))
        yield pd.DataFrame({"bits": [bits.tobytes() if seen_any else b""]})

    parts = _hash_cols(hashes, col).mapInPandas(build, "bits BINARY")
    merged = _or_merge(parts, nbytes)
    return BloomState(num_bits=m, num_hashes=k, bits=merged.tobytes(), num_items=n)


def bloom_add(
    bloom: BloomState, hashes: DataFrame, col: str = "content_hash"
) -> BloomState:
    """OR a new batch of keys into an existing filter (same m/k — no
    rebuild; the returned state's ``num_items`` reflects the addition so
    ``false_positive_rate()`` stays honest)."""
    import numpy as np

    added = hashes.count()
    # the delta filter MUST use the original layout (same m/k) or the
    # OR would be meaningless
    m, k = bloom.num_bits, bloom.num_hashes
    nbytes = m // 8

    def build(batches):
        import pandas as pd

        bits = np.zeros(nbytes, dtype=np.uint8)
        for pdf in batches:
            if len(pdf):
                pos = _positions(pdf["__h1"], pdf["__h2"], m, k).ravel()
                np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                                 (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)))
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    parts = _hash_cols(hashes, col).mapInPandas(build, "bits BINARY")
    merged = np.frombuffer(bloom.bits, dtype=np.uint8).copy()
    merged |= _or_merge(parts, nbytes)
    return BloomState(m, k, merged.tobytes(), bloom.num_items + added)


def bloom_mark_maybe_seen(
    df: DataFrame, bloom: BloomState, col: str = "content_hash"
) -> DataFrame:
    """Add ``__maybe_seen``: False ⇒ DEFINITELY not in the filtered set
    (Bloom filters have no false negatives); True ⇒ needs exact check.
    The bit array ships once per executor via a Spark broadcast; the
    probe is a vectorized numpy pass over Arrow batches."""
    import numpy as np

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bloom.bits)
    m, k = bloom.num_bits, bloom.num_hashes
    keep = list(df.columns)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema
    ) + ", __maybe_seen BOOLEAN"

    hashed = df.select(
        "*",
        F.xxhash64(F.col(col), F.lit(_SEED1)).alias("__h1"),
        F.xxhash64(F.col(col), F.lit(_SEED2)).alias("__h2"),
    )

    def probe(batches):
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            if len(pdf):
                pos = _positions(pdf["__h1"], pdf["__h2"], m, k)
                byte_idx = (pos >> np.uint64(3)).astype(np.int64)
                bit = (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
                hit = (bits[byte_idx] & bit).astype(bool).all(axis=1)
            else:
                hit = np.zeros(0, dtype=bool)
            res = pdf[keep].copy()
            res["__maybe_seen"] = hit
            yield res

    return hashed.mapInPandas(probe, out_schema)


def incremental_exact_dedup_bloom(
    new_docs: DataFrame,
    seen_hashes: DataFrame | None,
    bloom: BloomState | None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, BloomState]:
    """Bloom-accelerated twin of ``incremental_exact_dedup`` — SAME
    output by construction (property-tested): within-batch keep-first,
    then the filter routes rows:

      definitely-unseen (filter miss)  → survive, NO state join
      maybe-seen (true dup or fp slice) → exact anti-join vs state

    If the maybe-seen slice is empty (counted on the already-hashed
    batch — a small job, no state access), the anti-join is skipped
    entirely. Returns ``(survivors, updated_hashes, updated_bloom)``;
    the updated filter ORs in the survivors' hashes (no rebuild).
    """
    from pyspark.sql import Window

    from .dedup import normalize_text

    # identical hash recipe to incremental_exact_dedup — the two paths
    # must agree bit-for-bit on content_hash or states can't be shared
    hashed = new_docs.withColumn(
        "content_hash", F.md5(normalize_text(F.col(text_col)))
    )
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col))
    batch_first = (
        hashed.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )
    if seen_hashes is None:
        survivors = batch_first
        updated = survivors.select("content_hash").distinct()
        new_bloom = bloom_build(updated)
        return survivors.drop("content_hash"), updated, new_bloom
    if bloom is None:
        # filter lost but the hash relation survived (e.g. a restart that
        # persisted only the parquet state): fall back to the plain exact
        # anti-join against the FULL state — never treat this as "no
        # state", which would readmit known duplicates and hand back an
        # updated relation missing all prior history — then rebuild the
        # filter from the merged state so the fast path resumes next batch
        survivors = batch_first.join(seen_hashes, "content_hash", "left_anti")
        updated = seen_hashes.unionByName(
            survivors.select("content_hash")
        ).distinct()
        new_bloom = bloom_build(updated)
        return survivors.drop("content_hash"), updated, new_bloom

    marked = bloom_mark_maybe_seen(batch_first, bloom)
    marked = pin(marked, "incremental_exact_dedup_bloom:marked", eager=False)
    definitely_new = marked.where(~F.col("__maybe_seen")).drop("__maybe_seen")
    maybe = marked.where(F.col("__maybe_seen")).drop("__maybe_seen")
    if maybe.limit(1).count() == 0:
        survivors = definitely_new
    else:
        survivors = definitely_new.unionByName(
            maybe.join(seen_hashes, "content_hash", "left_anti")
        )
    updated = seen_hashes.unionByName(survivors.select("content_hash")).distinct()
    new_bloom = bloom_add(bloom, survivors.select("content_hash"))
    return survivors.drop("content_hash"), updated, new_bloom
