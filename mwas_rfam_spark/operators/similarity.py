"""Similarity search over embedding columns (extension surface).

Brute-force cosine top-k as the exact baseline; LSH sign-bucketed variant
as the scale path (candidates from bucket collisions instead of the full
cross product). Dot products via zip_with/aggregate — JVM higher-order
functions, Arrow never involved.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..pinning import checkpoint, pin


def _validate_unique_q_ids(queries: DataFrame, q_id_col: str, caller: str) -> None:
    """Duplicate query ids would silently MERGE distinct queries'
    candidates into one ranked top-k (the rank partitions on q_id
    alone) — refuse by name instead, the same contract
    quantization.ivfpq_knn_join enforces (r11 review finding: the
    brute-force and IVF joins lacked it). One query-sized aggregate."""
    dup = queries.groupBy(q_id_col).count().where(F.col("count") > 1).limit(1)
    if dup.count() > 0:
        raise ValueError(f"{caller}: duplicate {q_id_col} values in queries")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))


def _safe_cosine(a, b):
    """cosine(a, b) with a zero-norm side yielding NULL — Spark 4's
    default ANSI mode otherwise ABORTS the whole job with
    DIVIDE_BY_ZERO on the first degenerate vector anywhere in the
    corpus (r11 review finding, confirmed live; quantization.py's SQ
    path had the same guard already, and the CLI documents zero-norm
    vectors as 'score NULL cosine')."""
    den = _norm(a) * _norm(b)
    return F.when(den > 0, _dot(a, b) / den)


def cosine_to_query(
    emb: DataFrame, query_vec: list[float], id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Cosine similarity of every vector to a constant query vector
    (NULL for a zero-norm side — see :func:`_safe_cosine`). The
    query-embedding expression is rendered as parsed SQL — the
    per-element Column build costs one py4j round-trip per literal
    (functions/sqlexpr.py rationale)."""
    from mwas_rfam_spark.functions.sqlexpr import (
        sql_double_array,
        sql_dot,
        sql_norm,
    )

    q = sql_double_array(float(x) for x in query_vec)
    den = f"({sql_norm(vec_col)} * {sql_norm(q)})"
    cos = F.expr(
        f"case when {den} > 0 then {sql_dot(vec_col, q)} / {den} end"
    )
    return emb.select(F.col(id_col), cos.alias("cosine"))


def brute_force_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k by cosine to the query (deterministic id tie-break).

    At cluster scale this is a map + TakeOrdered (no full sort shuffle):
    Spark's global limit on an ordered stream keeps only k per partition.
    """
    return (
        cosine_to_query(emb, query_vec, id_col, vec_col)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def knn_per_query(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Brute-force k-NN for a batch of query vectors (broadcast the small
    query side; rank two-phase per query).

    A plain per-query window's parallelism is the QUERY COUNT — a batch
    of 3 queries over a 100 TB embedding table would be 3 single-task
    sorts of the whole scored relation. ``top_k_per_group`` leans on the
    optimizer's WindowGroupLimit, which pushes a per-task top-k bound
    below the exchange (r12 dropped the hand-rolled prefilter after it
    benchmarked strictly worse); (cosine desc, id) is a total order, so
    the result is exact.
    """
    from .topk import top_k_per_group

    _validate_unique_q_ids(queries, q_id_col, "knn_per_query")
    joined = emb.crossJoin(F.broadcast(queries)).withColumn(
        "cosine",
        _safe_cosine(F.col(vec_col), F.col(q_vec_col)),
    )
    out = top_k_per_group(
        joined, [q_id_col], [F.desc("cosine"), F.asc(id_col)], k=k
    )
    return out.select(q_id_col, id_col, "cosine", "rank")


def signed_random_projection_buckets(
    emb: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH bucket id per vector: sign bits against fixed hyperplanes
    (passed in, derived from a seeded RNG by the caller for determinism).
    """
    from mwas_rfam_spark.functions.sqlexpr import sql_double_array, sql_dot

    # parsed-SQL bit expressions (functions/sqlexpr.py rationale)
    bits = ", ".join(
        f"if({sql_dot(vec_col, sql_double_array(float(x) for x in p))} >= 0, '1', '0')"
        for p in planes
    )
    return emb.select(
        F.col(id_col), F.col(vec_col), F.expr(f"concat({bits})").alias("bucket")
    )


def train_ivf_centroids(
    emb: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Coarse quantizer for IVF: k centroids via Lloyd iterations.

    Deterministic: seeds from the k lowest-id vectors; each iteration is
    one distributed pass (broadcast centroids → argmin assign → groupBy
    mean). The returned centroids are a tiny driver-side list — the only
    data ever collected; assignments stay distributed.
    """
    emb = emb.where(F.col(vec_col).isNotNull())
    seeds = emb.orderBy(id_col).limit(k).select(vec_col).collect()
    if not seeds:
        raise ValueError(
            "train_ivf_centroids needs a non-empty corpus (every "
            f"{vec_col!r} was NULL or the input had no rows)"
        )
    centroids = [list(map(float, r[vec_col])) for r in seeds]
    dim = len(centroids[0])
    # per-dimension means as ONE parsed expression list (the old
    # per-element F.avg Column build cost ~0.4 s of driver time per
    # iteration at d=64 — functions/sqlexpr.py rationale)
    mean_aggs = [F.expr(f"avg({vec_col}[{i}])").alias(f"c{i}") for i in range(dim)]
    for _ in range(iters):
        assigned = assign_ivf_cells(emb, centroids, id_col, vec_col)
        new = assigned.groupBy("cell").agg(*mean_aggs).collect()
        by_cell = {
            r["cell"]: [float(r[f"c{i}"]) for i in range(dim)]
            for r in new
            # NULL cell (wrong-dim / NaN-element vectors) and NULL means
            # are excluded from the update — the cell keeps its previous
            # centroid instead of crashing float(None) (r11 review)
            if r["cell"] is not None
            and all(r[f"c{i}"] is not None for i in range(dim))
        }
        centroids = [by_cell.get(c, centroids[c]) for c in range(len(centroids))]
    return centroids


#: beyond this many centroids, assignment runs as an Arrow-batched GEMM
#: argmin with the centroid matrix broadcast once per executor, instead
#: of the inline expression (k*dim literals + k HOF aggregates in ONE
#: projection). Measured on 20k x d=64 vectors (SCALE.md probe I): the
#: expression path grows linearly in k (k=128: 8.8 s, k=256: 16.9 s —
#: it outgrows codegen's method limit and evaluates interpreted) while
#: the kernel is flat (~0.4 s from k=32 through k=1562). The cutover
#: keeps only tiny-k plans JVM-pure (no Python worker in the pipeline);
#: everything larger takes the kernel.
IVF_ASSIGN_CODEGEN_MAX_CELLS = 16


def assign_ivf_cells(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the nearest-centroid cell id (L2) to every vector — the IVF
    partitioning key.

    Two physical strategies, same semantics (argmin of squared L2,
    first/lowest cell on exact ties), chosen by k:

    * k <= IVF_ASSIGN_CODEGEN_MAX_CELLS: pure column expressions —
      per-centroid squared distance via zip_with/aggregate, argmin via
      array_position of array_min. Stays in the JVM, zero Python.
    * larger k (the auto-k policy at big corpora drives k ~ n/128, so
      100x corpora land here): Arrow-batched numpy kernel — one
      broadcast (k x d) centroid matrix per executor, one GEMM per
      batch, argmin row-wise. The inline expression at this k would be
      ~k*d literals in a single projection: past codegen's method
      limit, Catalyst falls back to interpreted eval and per-row cost
      becomes O(k*d) scalar ops — the measured wall in SCALE.md probe I.
    """
    if len(centroids) <= IVF_ASSIGN_CODEGEN_MAX_CELLS:
        from mwas_rfam_spark.functions.sqlexpr import sql_double_array, sql_sq_l2

        # parsed-SQL distance array: the per-centroid Column build
        # (k x d literals + two lambdas each) cost ~0.7 s of driver
        # time per call at k=8, d=64 (functions/sqlexpr.py rationale);
        # the parsed tree is byte-identical (cross-checked)
        dists = F.expr(
            "array("
            + ", ".join(
                sql_sq_l2(vec_col, sql_double_array(float(x) for x in c))
                for c in centroids
            )
            + ")"
        )
        # NaN-element guard: every distance is NaN for such a vector and
        # array_position(dists, array_min) MATCHES NaN (Spark's NaN ==
        # NaN in collection functions), silently filing the corrupt
        # vector into cell 0 — same failure the Arrow kernel had via
        # argmin of an all-NaN row (r11 review finding). Both paths now
        # agree: NULL element, wrong dim, or NaN element → NULL cell.
        clean = ~F.exists(
            F.col(vec_col), lambda x: F.isnan(x.cast("double"))
        )
        return emb.withColumn(
            "cell",
            F.when(
                clean,
                (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
            ),
        )
    return _assign_cells_arrow(emb, centroids, vec_col)


def _assign_cells_arrow(
    emb: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
) -> DataFrame:
    """Large-k cell assignment: broadcast centroid matrix + batch GEMM.
    argmin(|x - c|^2) = argmin(-2 x.C^T + |c|^2) — the |x|^2 term is
    constant per row, so it never enters the comparison; numpy argmin
    takes the FIRST minimum, matching the expression path's
    array_position tie-break (lowest cell id)."""
    import numpy as np

    from pyspark.sql import types as T

    if "cell" in emb.columns:
        emb = emb.drop("cell")  # match the expression path's withColumn replace
    spark = emb.sparkSession
    C = np.asarray(centroids, dtype=np.float64)
    d = C.shape[1]
    bc = spark.sparkContext.broadcast((C, (C * C).sum(axis=1)))
    schema = T.StructType(emb.schema.fields + [T.StructField("cell", T.IntegerType())])

    def kernel(batches):
        import pandas as pd

        Cm, c2 = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL / wrong-dimension / NaN-element vectors get a NULL
            # cell — the same semantics the expression path produces
            # (zip_with + aggregate evaluate to NULL there), so behavior
            # cannot flip on k. The NaN check matters: a NULL ELEMENT
            # arrives as NaN, every GEMM distance becomes NaN, and
            # np.argmin of an all-NaN row is 0 — the corrupt vector was
            # silently filed into cell 0's partition at production k
            # (r11 review finding, confirmed live)
            raw = [
                np.asarray(v, dtype=np.float64)
                if v is not None and len(v) == d
                else None
                for v in pdf[vec_col]
            ]
            vecs = [
                v if v is not None and not np.isnan(v).any() else None
                for v in raw
            ]
            valid = [i for i, v in enumerate(vecs) if v is not None]
            cells = np.full(len(vecs), -1, dtype=np.int64)
            if valid:
                X = np.stack([vecs[i] for i in valid])
                cells[valid] = np.argmin(X @ (-2.0 * Cm.T) + c2, axis=1)
            out = pdf.copy()
            out["cell"] = pd.array(
                [int(c) if c >= 0 else None for c in cells], dtype="Int32"
            )
            yield out

    return emb.mapInPandas(kernel, schema)


def _probe_cells(query_vec, centroids, nprobe: int) -> list[int]:
    """The nprobe nearest cells by squared L2, driver-side — ONE
    definition (it was duplicated in both single-query probes; the
    float recipe is parity-critical, see _assign_probe_cells)."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    order = sorted(
        range(len(centroids)),
        key=lambda c: float(np.sum((q - np.asarray(centroids[c])) ** 2)),
    )
    return order[:nprobe]


def ivf_ann_topk(
    emb: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: rank only vectors in the query's ``nprobe``
    nearest cells. With the table written partitioned by cell, the cell
    filter becomes partition pruning — the 100 TB scale path: scan cost
    drops by ~k/nprobe versus the full brute-force pass."""
    probe = _probe_cells(query_vec, centroids, nprobe)
    cells = assign_ivf_cells(emb, centroids, id_col, vec_col)
    cand = cells.where(F.col("cell").isin(probe))
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def _guard_dims(emb: DataFrame, centroids: list[list[float]], vec_col: str) -> DataFrame:
    """In-plan dimension check where user vectors meet a frozen
    quantizer: a mismatched vector would zip_with-pad to NULL distances
    and land in the NULL cell partition, where probes NEVER look — a
    silent permanent loss. raise_error keeps the plan lazy."""
    d = len(centroids[0])
    return emb.withColumn(
        vec_col,
        F.when(F.size(vec_col) == d, F.col(vec_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"vector dimension != quantizer dimension {d}: got "),
                    F.size(vec_col).cast("string"),
                )
            )
        ),
    )


def write_ivf_index(
    emb: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    assigned: DataFrame | None = None,
) -> None:
    """Materialize the IVF index: vectors written parquet partitioned by
    their nearest-centroid cell. This is what turns the probe's cell
    filter from a compute-then-discard scan into PARTITION PRUNING — at
    100 TB only nprobe/k_cells of the files are ever opened. The ONE
    definition of the index layout — materialize_ivf and
    append_ivf_index both write through here. ``assigned`` (a frame
    that ALREADY carries the ``cell`` column from
    :func:`assign_ivf_cells` over these centroids, dims guarded)
    skips the guard+assign here — the IVFPQ build/append paths assign
    once and write both the vectors and codes sides from it instead of
    paying the k_cells × dim assignment kernel twice."""
    if assigned is None:
        guarded = _guard_dims(emb, centroids, vec_col)
        assigned = assign_ivf_cells(guarded, centroids, id_col, vec_col)
    # cluster by cell before the partitioned write: without this every
    # task writes a sliver into every cell directory and the index is
    # n_tasks × n_cells small files (measured 64×80 = 5,120 at the 100×
    # probe — file-listing cost then dominates the probe's partition
    # pruning). One shuffle at BUILD time buys ~1 file per cell;
    # maxRecordsPerFile re-splits giant cells so files stay bounded.
    (
        assigned.repartition("cell")
        .write.option("maxRecordsPerFile", 1 << 20)
        .partitionBy("cell")
        .mode(mode)
        .parquet(path)
    )


def materialize_ivf(
    emb: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the COMPLETE IVF index at ``path``: the vectors as
    cell-partitioned parquet under ``path/vectors`` (the
    :func:`write_ivf_index` layout — probe = partition pruning) PLUS the
    trained centroids under ``path/centroids`` as (cell, centroid) rows.

    Storing the centroids beside the vectors is what makes the probe +
    top-k fully replayable by any SQL engine over the same files: the
    nprobe cell set is re-derivable from the stored centroids (argmin-k
    of L2 distance), the candidate scan is a filter on the partition
    column, and the ranking is a plain cosine ORDER BY ... LIMIT k —
    no Spark-side state needed beyond the parquet."""
    spark = emb.sparkSession
    write_ivf_index(emb, centroids, f"{path}/vectors", id_col, vec_col)
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_ann_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe over a :func:`write_ivf_index` table: the nprobe-cell
    membership is a filter on the PARTITION column, so non-probed cells'
    files are pruned at planning time (PartitionFilters in the scan —
    plan-asserted in tests), not scanned and discarded."""
    probe = _probe_cells(query_vec, centroids, nprobe)
    emb = spark.read.parquet(index_path).where(F.col("cell").isin(probe))
    return brute_force_topk(emb, query_vec, k, id_col, vec_col)


def lsh_ann_topk(
    emb: DataFrame,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 10,
    n_probes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: rank only vectors in the query's nearest LSH
    buckets (multi-probe, Lv et al. VLDB'07).

    A single sign-projection bucket misses any neighbor on the other side
    of ONE hyperplane, so recall collapses as planes grow. Multi-probe
    also searches the buckets reached by flipping the lowest-|margin|
    sign bits — the planes the query is closest to — ordered by the sum
    of flipped margins. The probe list is computed driver-side from the
    plane dots (tiny).

    COST HONESTY (r11 review): the buckets here are computed ON THE
    FLY, so every row still pays len(planes) dot products before the
    ``bucket IN (...)`` filter — the filter bounds what reaches the
    top-k RANKING (~n_probes/2^planes of the table), not the scan. The
    scale path for repeated queries is to MATERIALIZE
    ``signed_random_projection_buckets`` partitioned by bucket (then
    the IN list is partition pruning), exactly as the IVF family's
    indexed variants do; this convenience form is for one-off probes.
    """
    import numpy as _np
    from itertools import combinations

    dots = [float(_np.dot(_np.asarray(p), _np.asarray(query_vec))) for p in planes]
    base = ["1" if d >= 0 else "0" for d in dots]
    margins = [abs(d) for d in dots]
    # enumerate flip sets of bounded size, cheapest total margin first
    max_flip = min(len(planes), 3)
    scored: list[tuple[float, tuple[int, ...]]] = [(0.0, ())]
    for r in range(1, max_flip + 1):
        for subset in combinations(range(len(planes)), r):
            scored.append((sum(margins[i] for i in subset), subset))
    scored.sort()
    probes = []
    for _, subset in scored[:n_probes]:
        bits = list(base)
        for i in subset:
            bits[i] = "0" if bits[i] == "1" else "1"
        probes.append("".join(bits))

    bucketed = signed_random_projection_buckets(emb, planes, id_col, vec_col)
    cand = bucketed.where(F.col("bucket").isin(probes))
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def cluster_balanced_sample(
    emb: DataFrame,
    centroids: list[list[float]],
    per_cluster: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic-diversity subset: nearest-centroid cell assignment (the
    IVF coarse quantizer doubles as the cluster model) followed by an
    EXACT deterministic per-cell sample — min(per_cluster, |cell|) rows
    per cluster, smallest-md5 first (plans/sampling.
    stratified_sample_exact). Uniform sampling of a skewed embedding
    space over-represents its dense modes; capping per cluster is the
    standard diversity-balancing pass before training. Output: the
    embedding columns plus (cell, sample_rank). Scale shape: assignment
    is a pure projection against broadcast centroids; the sample is one
    hash-rank window per cell — no global sort, no collect."""
    from mwas_rfam_spark.plans.sampling import stratified_sample_exact

    cells = assign_ivf_cells(emb, centroids, id_col, vec_col)
    return stratified_sample_exact(cells, "cell", per_cluster, id_col)


def append_ivf_index(
    emb_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally extend a :func:`materialize_ivf` index with NEW
    vectors: assign each to its nearest cell under the STORED centroids
    (read from ``path/centroids`` — the quantizer is frozen at build
    time, the same contract as `embedding_dedup_state` /
    `incremental_embedding_dedup`) and append cell-partitioned files.
    Probes and the SQL replay are unchanged — they derive everything
    from the stored centroids plus the partitioned files.

    Contract: ids must be new (feed `summary.corpus_diff`'s 'added'
    slice). As the corpus drifts from the frozen quantizer, cells skew;
    `summary.skew_report` on the cell column is the rebuild signal."""
    from .quantization import _read_centroids

    spark = emb_new.sparkSession
    centroids = _read_centroids(spark, f"{path}/centroids")
    write_ivf_index(emb_new, centroids, f"{path}/vectors", id_col, vec_col, mode="append")


def remove_from_ivf_index(
    emb_removed: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Remove vectors from a :func:`materialize_ivf` index — the delete
    half of the lifecycle (create → append → compact → REMOVE), fed by
    `summary.corpus_diff`'s 'removed' slice (which carries the old
    snapshot's vectors; the vectors are needed to locate the touched
    cells under the FROZEN stored quantizer without scanning the
    index).

    Scale shape: removed vectors re-assign to their cells with the
    stored centroids (the same pure function that placed them), so
    ONLY those partitions are read (PartitionFilter), removed ids
    anti-join away, dynamic overwrite rewrites just the touched cell
    directories, and a cell emptied entirely is deleted explicitly
    (stale files would keep serving removed vectors). The centroids
    table is untouched — the quantizer stays frozen; probe equivalence
    vs a rebuild on the remainder is pytest-pinned."""
    from .quantization import _read_centroids

    spark = emb_removed.sparkSession
    centroids = _read_centroids(spark, f"{path}/centroids")
    assigned = pin(assign_ivf_cells(
        _guard_dims(emb_removed, centroids, vec_col), centroids, id_col, vec_col
    ), "remove_from_ivf_index:assigned")
    cells = [int(r["cell"]) for r in assigned.select("cell").distinct().collect()]
    if not cells:
        return
    gone = assigned.select(F.col(id_col).alias("__gone")).distinct()
    prune_partitioned_rows(spark, f"{path}/vectors", cells, gone, id_col)


def prune_partitioned_rows(
    spark,
    table_path: str,
    cells: list[int],
    gone: DataFrame,
    id_col: str,
    part_col: str = "cell",
) -> None:
    """Delete the rows whose ``id_col`` appears in ``gone`` (single
    column ``__gone``) from a ``part_col``-partitioned parquet table,
    touching ONLY the listed partitions: partition-pruned read,
    anti-join, dynamic-overwrite rewrite of just those directories, and
    explicit deletion of any partition left empty (dynamic overwrite
    never touches a partition it writes zero rows to, so a stale dir
    would keep serving removed rows). Shared by the IVF and IVF-PQ
    index removal paths — one definition of the delete dance."""
    rows = spark.read.parquet(table_path).where(
        F.col(part_col).isin(cells)  # partition pruning
    )
    kept = checkpoint(rows.join(
        gone, rows[id_col] == F.col("__gone"), "left_anti"
    ), "prune_partitioned_rows:kept")  # source == destination: materialize first
    written = {int(r[part_col]) for r in kept.select(part_col).distinct().collect()}
    (
        kept.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(table_path)
    )
    emptied = [c for c in cells if c not in written]
    if emptied:
        from ..sources.sinks import delete_partition_dirs

        delete_partition_dirs(spark, table_path, part_col, emptied)


def compact_ivf_index(
    spark,
    path: str,
    target_rows_per_file: int = 1 << 20,
) -> int:
    """Small-files repair for a :func:`materialize_ivf` index that has
    taken many :func:`append_ivf_index` batches — each append lands at
    least one new file per touched cell, so probe-time file overhead
    grows with append count. Rewrites ``{path}/vectors`` through the
    maintenance compactor, preserving the cell partitioning the probes
    prune on; vector rows and the centroids table are untouched, so
    `ivf_ann_topk_indexed` results are identical before/after
    (pytest-pinned). Returns the data-file count after the rewrite."""
    from mwas_rfam_spark.sources.sinks import compact_files

    return compact_files(
        spark, f"{path}/vectors", target_rows_per_file, partition_col="cell"
    )


def _assign_probe_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    q_vec_col: str,
) -> DataFrame:
    """Attach ``cell`` (exploded, one row per probed cell) to each query:
    the nprobe nearest coarse centroids by EXACT squared L2 —
    ``((x - C)**2).sum(axis=1)``, the same floats as the single-query
    probes (`ivf_ann_topk_indexed` / `ivfpq_topk_indexed`), NOT the
    GEMM rearrangement (-2xC^T + |c|^2 rounds differently at 1-ulp
    ties, which would let batch and single-query probe sets disagree).
    Ties and order are (distance, cell id) — the single-query probe's
    stable sort, so nprobe = k_cells reproduces exact search. NULL /
    wrong-dimension query vectors probe nothing and vanish from the
    output (documented)."""
    import numpy as np

    from pyspark.sql import types as T

    if "cell" in queries.columns:
        # match _assign_cells_arrow's withColumn-replace semantics: a
        # queries frame read back from a write_ivf_index layout carries
        # its own 'cell', and appending a second field would make the
        # declared schema disagree with the kernel's single-column
        # output (r11 review finding)
        queries = queries.drop("cell")
    spark = queries.sparkSession
    C = np.asarray(centroids, dtype=np.float64)
    d = C.shape[1]
    npb = min(nprobe, C.shape[0])
    bc = spark.sparkContext.broadcast(C)
    schema = T.StructType(
        queries.schema.fields + [T.StructField("cell", T.IntegerType())]
    )

    def kernel(batches):
        import pandas as pd

        Cm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_rows = []
            for i, v in enumerate(pdf[q_vec_col]):
                if v is None or len(v) != d:
                    continue
                x = np.asarray(v, dtype=np.float64)
                dist = ((x[None, :] - Cm) ** 2).sum(axis=1)
                order = np.lexsort((np.arange(len(dist)), dist))[:npb]
                for c in order:
                    out_rows.append((i, int(c)))
            if not out_rows:
                continue
            idx = [r for r, _ in out_rows]
            res = pdf.iloc[idx].copy()
            res["cell"] = pd.array([c for _, c in out_rows], dtype="Int32")
            yield res

    return queries.mapInPandas(kernel, schema)


def ivf_knn_join(
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Batch ANN retrieval — k nearest neighbors for EVERY row of a
    query table, IVF-blocked: the k-NN JOIN that turns the single-query
    probes into the retrieval primitive batch pipelines actually run
    (RAG corpus joins, hard-negative mining, cross-snapshot matching).

    Shape: queries get their ``nprobe`` nearest coarse cells (broadcast
    GEMM, exploded), vectors carry their one cell (pass a pre-assigned
    frame with a ``cell`` column — e.g. a `write_ivf_index` read — to
    skip re-assignment), and candidates come from the cell equi-join:
    scoring is nprobe/k_cells of the cross product `knn_per_query`
    would scan. With ``broadcast_queries`` (the common case — query
    batches are small) the join is a BroadcastHashJoin and the corpus
    never shuffles; set it False for query tables too big to broadcast
    and the join shuffles both sides on ``cell``. Exactness:
    ``nprobe >= len(centroids)`` probes every cell and reproduces
    `knn_per_query` exactly (pytest-pinned parity); smaller nprobe
    trades the standard IVF recall for the standard IVF cost. FP
    caveat (the standard one, same as faiss): the corpus side assigns
    cells with Spark-fold arithmetic while the probe kernel uses numpy
    sums — a centroid distance tied at 1 ulp could place a vector and
    its identical query on different sides of a cell boundary; real
    corpora don't sit on exact ties.

    Returns (q_id, vec_id, cosine, rank<=k)."""
    from .topk import top_k_per_group

    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    _validate_unique_q_ids(queries, q_id_col, "ivf_knn_join")
    pre_assigned = "cell" in emb.columns
    if not pre_assigned:
        emb = assign_ivf_cells(emb, centroids, id_col, vec_col)
    probes = _assign_probe_cells(queries, centroids, nprobe, q_vec_col)
    if pre_assigned:
        # STATIC partition filter on the corpus side: dynamic partition
        # pruning does not fire for a broadcast mapInPandas side, so a
        # cell-partitioned index read would otherwise scan EVERY cell's
        # files and only the equi-join would discard rows — full-index
        # IO per batch instead of the probed-union/k_cells fraction the
        # index exists for (r11 review finding; ivfpq_knn_join already
        # collects the probed-cell union the same way — query-batch ×
        # nprobe ints, parameter-sized). Pin probes FIRST: the collect
        # and the join below evaluate the same relation twice, and a
        # non-deterministic upstream (sample/limit) could otherwise
        # probe cells at join time that the static filter already
        # dropped — silent candidate loss (r12 advice; same pattern as
        # ivfpq's probe_df localCheckpoint).
        probes = pin(probes, "ivf_knn_join:probes")
        cells = sorted(
            {r["cell"] for r in probes.select("cell").distinct().collect()}
        )
        emb = emb.where(F.col("cell").isin(cells))
    if broadcast_queries:
        probes = F.broadcast(probes)
    joined = emb.join(probes, "cell").withColumn(
        "cosine",
        _safe_cosine(F.col(vec_col), F.col(q_vec_col)),
    )
    out = top_k_per_group(
        joined, [q_id_col], [F.desc("cosine"), F.asc(id_col)], k=k
    )
    return out.select(q_id_col, id_col, "cosine", "rank")
