"""Sinks (SURVEY.md §2.1 S9-S12).

The reference accumulates CSV strings per BioProject and concatenates
files by hand (mg:631-679); on Spark both shapes are one write:
partitioned output is `partitionBy`, the combined file is the same
DataFrame with coalesce(1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..pinning import checkpoint
from . import storage


def write_results_partitioned(
    results: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite"
) -> None:
    """S9 — one output per bioproject via partitioned write (replaces the
    per-BP csv loop at mg:631-650). ``mode="append"`` adds new
    bioprojects' partitions without touching finished ones (the W3
    resume path in operators/caching.run_mwas_resume)."""
    writer = results.write.mode(mode).partitionBy("bioproject")
    (writer.parquet(path) if fmt == "parquet" else writer.option("header", True).csv(path))


def write_results_combined(results: DataFrame, path: str) -> None:
    """S10 — single combined CSV (mg:668-679); coalesce(1) only because a
    single file is the contract — drop it for parallel output."""
    results.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def write_training_shards(
    docs: DataFrame,
    path: str,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Materialize a training epoch: one parquet directory per shard with
    rows stored in the deterministic shuffled order
    (plans/sampling.shuffle_shard's shard/seq — reproducible across
    engines and cluster layouts, unlike rand(seed)).

    One repartition keyed on shard aligns tasks with output directories;
    shuffle_shard's seq window already runs on that same
    (n_shards, shard) layout, so the planner drops this repartition and
    the write shuffles once. sortWithinPartitions pins the in-file row
    order to `seq`, so a reader streaming any shard file sees the epoch
    order directly — no shuffle at training time. At 100 TB pick
    n_shards = the file parallelism the trainer wants; each shard sorts
    independently.
    """
    from pyspark.sql import functions as F

    from mwas_rfam_spark.plans.sampling import shuffle_shard

    sharded = shuffle_shard(docs, n_shards=n_shards, seed=seed, id_col=id_col)
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "seq")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def _hive_partition_dir(spark, partition_col: str, value) -> str:
    """The directory component Spark's writer produced for this
    partition value: null → ``__HIVE_DEFAULT_PARTITION__``, unsafe
    chars %-escaped (Hive path escaping). Asks the JVM's own
    ``ExternalCatalogUtils.escapePathName`` so the rule can never drift
    from the writer.
    """
    if value is None:
        return f"{partition_col}=__HIVE_DEFAULT_PARTITION__"
    # render the value the way Spark's writer did: the partition path
    # fragment comes from a cast-to-string, which for double/decimal is
    # the JVM rendering ('1.0E-7'), NOT Python's str ('1e-07') — a
    # mismatch here leaves the emptied directory undeleted and the
    # moved key silently duplicated (r12 review finding)
    if isinstance(value, float):
        s = spark._jvm.java.lang.Double.toString(float(value))
    elif isinstance(value, bool):
        # JVM cast boolean→string is lowercase; Python str(True) is
        # 'True' — the mismatch left the emptied 'p=true' dir undeleted
        # (r13 review finding). bool before the generic str: it would
        # otherwise fall through.
        s = "true" if value else "false"
    else:
        import datetime
        import decimal

        if isinstance(value, decimal.Decimal):
            # format 'f' == java toPlainString at the declared scale
            # ('0.000000010000' for decimal(20,12) 1e-8) — verified
            # against Spark's ACTUAL directory rendering by the gold
            # test; an r13 review claim that Spark uses BigDecimal's
            # scientific notation here was falsified by that test
            s = format(value, "f")
        elif isinstance(value, datetime.datetime):
            # Spark renders timestamps with the fractional part's
            # trailing zeros trimmed ('...00.001'); Python str() pads
            # microseconds ('...00.001000')
            s = value.strftime("%Y-%m-%d %H:%M:%S")
            if value.microsecond:
                s += ("." + f"{value.microsecond:06d}").rstrip("0")
        else:
            s = str(value)
    esc = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)
    return f"{partition_col}={esc}"


def delete_partition_dirs(spark, base_path: str, partition_col: str, values) -> None:
    """Delete the partition directories for ``values`` under
    ``base_path`` (escaping + null/float rendering via
    :func:`_hive_partition_dir`) — the emptied-partition cleanup both
    the upsert sink and the index prunes need after a dynamic overwrite
    (dynamic overwrite never rewrites a partition absent from the
    output, so a partition whose every row moved away keeps its stale
    files). One definition so the escaping rule cannot drift between
    call sites (r12 review finding: retrieval.py carried a hand-rolled
    unescaped copy)."""
    for v in values:
        storage.delete(spark, f"{base_path}/{_hive_partition_dir(spark, partition_col, v)}")


def merge_upsert_partitioned(
    spark,
    base_path: str,
    updates: DataFrame,
    key_col: str,
    partition_col: str,
) -> list:
    """Copy-on-write upsert into a partitioned parquet corpus: rows in
    ``updates`` replace same-key rows and new keys append, touching ONLY
    the partitions the updates fall in.

    The affected partitions are the updates' own ``partition_col``
    values UNION every partition currently holding one of the updated
    keys — found by a column-pruned (partition_col, key_col) scan of the
    base semi-joined to the update keys. Without that second set, an
    update that MOVES a key to a new partition value would leave the
    key's old row stranded in its previous partition (never read, never
    anti-joined), silently violating the replace contract. The key scan
    reads two columns of the full base — bounded extra cost; a
    production table format would answer it from column statistics.
    Both lists are collected (parameter-sized, not data).

    The base is then read with a partition filter (pruning — untouched
    partitions' files are never opened), old versions of updated keys
    drop via anti-join, and the result is written back with DYNAMIC
    partition overwrite so only the affected directories are replaced.
    A partition whose every row moved away ends up EMPTY — dynamic
    overwrite never rewrites a partition absent from the output, so
    those directories are deleted explicitly. At 100 TB this is the
    immutable-corpus correction pattern: cost scales with the touched
    partitions (plus the 2-column key scan), not the corpus. The merged
    slice is materialized (localCheckpoint) before the write because
    source and destination are the same path — a production deployment
    would stage-and-swap or use a transactional table format; the
    read-isolate-write shape is identical.

    Updates must not collide on ``key_col`` internally (raises) —
    "last write wins" inside one batch would be order-dependent.
    NULL is a legal partition value throughout (null-safe partition
    filter; the Hive default-partition directory on delete).
    Returns the affected partition values (None = null partition).
    """
    from pyspark.sql import functions as F

    # ONE pre-flight job answers both checks (r13 review finding: these
    # were two driver-blocking jobs): per-key counts roll up to the max
    # multiplicity, and a NULL key survives groupBy as its own row
    pre = (
        updates.groupBy(key_col)
        .agg(F.count("*").alias("__n"))
        .agg(
            F.max("__n").alias("mx"),
            F.max(
                F.when(F.col(key_col).isNull(), 1).otherwise(0)
            ).alias("has_null"),
        )
        .first()
    )
    if (pre["mx"] or 0) > 1:
        raise ValueError("merge_upsert_partitioned: updates collide on key")
    # NULL keys are unjoinable: a NULL-key update would pass the dup
    # check (one NULL groups to count 1) yet never match the anti-join,
    # silently DUPLICATING an existing NULL-key base row instead of
    # replacing it (r12 review finding) — refuse, like the collision
    if pre["has_null"]:
        raise ValueError(
            f"merge_upsert_partitioned: updates contain a NULL {key_col!r} "
            "key — NULL keys cannot be matched for replacement"
        )
    upd_keys = updates.select(key_col).distinct()
    base_all = spark.read.parquet(base_path)
    # parquet partition-column type inference can read the partition
    # value back as int/double while `updates` carries the original
    # string (e.g. p='2021' → directory p=2021 → inferred int): align
    # the base's partition/key column types to the updates' — the
    # caller's live schema is the truth — or the collected value sets
    # mix Python types (sorted() TypeError) and the union/anti-join
    # compare across types (r12 review finding)
    cast_checks = []
    for c in (partition_col, key_col):
        if base_all.schema[c].dataType != updates.schema[c].dataType:
            target = updates.schema[c].dataType
            # the cast exists to undo partition-type INFERENCE drift; a
            # value the target type can't represent would cast to NULL
            # and silently move its row to the default partition (or
            # hide it from the anti-join) — refuse instead (r13 review
            # finding)
            # try_cast: the probe itself must never throw (under ANSI a
            # plain cast of an unparseable value aborts mid-scan with a
            # generic CAST_INVALID_INPUT instead of this named error)
            cast_checks.append(
                F.col(c).isNotNull() & F.col(c).try_cast(target).isNull()
            )
            base_all = base_all.withColumn(c, F.col(c).cast(target))
    if cast_checks:
        import functools
        import operator

        lossy = (
            spark.read.parquet(base_path)
            .where(functools.reduce(operator.or_, cast_checks))
            .limit(1)
            .count()
        )
        if lossy:
            raise ValueError(
                "merge_upsert_partitioned: aligning the base's "
                f"{partition_col!r}/{key_col!r} types to the updates' "
                "schema would NULL out existing values (unparseable "
                "under the updates' type) — the two schemas genuinely "
                "disagree; fix the updates' column types"
            )
    holding = (
        base_all.select(partition_col, key_col)
        .join(F.broadcast(upd_keys), key_col, "left_semi")
        .select(partition_col)
        .distinct()
        .collect()
    )
    parts_set = {r[0] for r in updates.select(partition_col).distinct().collect()} | {
        r[0] for r in holding
    }
    # NULL is a legal partition value (Spark writes it as the Hive
    # default-partition directory) but isin() never matches it — a key
    # moving OUT of the null partition would leave its stale row behind
    # (duplicate-key corruption). Track null membership explicitly and
    # build a null-safe partition filter.
    has_null = None in parts_set
    nonnull = sorted(p for p in parts_set if p is not None)
    parts = nonnull + ([None] if has_null else [])
    cond = F.col(partition_col).isin(nonnull) if nonnull else F.lit(False)
    if has_null:
        cond = cond | F.col(partition_col).isNull()
    base = base_all.where(cond)
    kept = base.join(
        F.broadcast(updates.select(key_col)), key_col, "left_anti"
    )
    merged = checkpoint(kept.unionByName(updates.select(*kept.columns)), "merge_upsert_partitioned:merged")
    written = {r[0] for r in merged.select(partition_col).distinct().collect()}
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(base_path)
    )
    emptied = [p for p in parts if p not in written]
    if emptied:
        delete_partition_dirs(spark, base_path, partition_col, emptied)
    return parts


def compact_files(
    spark,
    path: str,
    target_rows_per_file: int,
    partition_col: str | None = None,
) -> int:
    """Rewrite a parquet directory into ~``target_rows_per_file``-sized
    files — the small-files repair job every long-lived ingest pipeline
    needs (each streaming micro-batch / upsert leaves small files;
    metadata and task-scheduling overhead then grows with FILE COUNT,
    not data). Row-count-based sizing keeps it deterministic and cheap
    (one count job); returns the ACTUAL data-file count after the
    rewrite (listed from the output — in the partitioned path the count
    is the sum of per-partition-value ceils further split by task
    placement, so a global ceil(n/target) would be wrong).

    The per-file cap is enforced by the WRITER (``maxRecordsPerFile``),
    which splits a task's output at exactly the target — so the
    guarantee holds however the shuffle places rows. With
    ``partition_col``, rows additionally spread over
    ceil(value_rows / target) hash buckets per partition value (counts
    from one aggregation broadcast back in — NEVER a per-value
    row_number window, which would funnel each value through a single
    task, the exact bottleneck a compactor exists to remove): the
    buckets provide write parallelism for hot values, the writer option
    provides the size bound. The rewrite materializes before
    overwriting the same path (same caveat as
    merge_upsert_partitioned).
    """
    import math

    from pyspark.sql import functions as F

    df = spark.read.parquet(path)

    def _count_data_files() -> int:
        files = storage.list_dir(spark, path, recursive=True)
        return sum(name.startswith("part-") for name, _ in files)

    if partition_col is None:
        # guard: compacting a PARTITIONED directory flat would silently
        # destroy its layout (partition dirs become data columns in flat
        # part- files; pruning probes full-scan, later partitionBy
        # writes into the root corrupt it) — refuse instead (r12 review
        # finding)
        for name, is_dir in storage.list_dir(spark, path):
            if is_dir and "=" in name and not name.startswith("."):
                raise ValueError(
                    f"compact_files: {path!r} is partitioned "
                    f"(found directory {name!r}) — pass partition_col "
                    "or the rewrite would flatten the layout"
                )
        n = df.count()
        n_files = max(1, math.ceil(n / target_rows_per_file))
        out = checkpoint(df.repartition(n_files), "compact_files:out")
        (
            out.write.mode("overwrite")
            .option("maxRecordsPerFile", target_rows_per_file)
            .parquet(path)
        )
        return _count_data_files()
    counts = df.groupBy(partition_col).agg(
        F.ceil(F.count("*") / F.lit(target_rows_per_file)).cast("int").alias("__k")
    )
    # eqNullSafe join: NULL is a legal partition value (the Hive default
    # partition, produced by merge_upsert_partitioned) and a plain equi-
    # join would silently EXCLUDE it from compaction — its small files
    # would accumulate forever (r12 review finding)
    bucketed = df.join(
        F.broadcast(counts.withColumnRenamed(partition_col, "__pc")),
        F.col(partition_col).eqNullSafe(F.col("__pc")),
    ).drop("__pc").withColumn(
        "__b",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.greatest(F.col("__k"), F.lit(1))),
    )
    out = checkpoint(bucketed.repartition(F.col(partition_col), F.col("__b")).drop(
        "__b", "__k"
    ), "compact_files:out")
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy(partition_col)
        .parquet(path)
    )
    return _count_data_files()
