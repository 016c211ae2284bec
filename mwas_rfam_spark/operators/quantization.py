"""Product quantization (PQ) for embedding search at corpus scale.

The ANN family so far (operators/similarity.py) prunes WHICH vectors are
scored (IVF cells, LSH buckets) but still stores and scans full
float vectors for every candidate. At 100 TB of embeddings the vectors
themselves are the cost: 64 float32 dims = 256 bytes/vector, while an
8-subspace PQ code is 8 bytes — a 32× scan-size reduction that turns the
candidate scan IO-bound → code-table-bound. This module implements the
classic PQ pipeline (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011):

  1. ``train_pq_codebooks`` — per-subspace k-means on a bounded,
     deterministic sample (driver-side numpy; the sample is the only
     data collected, and its size is a parameter, not corpus-scaled).
  2. ``pq_encode`` — assign each subvector its nearest centroid id.
     Arrow-batched ``mapInPandas`` with a numpy argmin kernel — a
     measured choice, not a shortcut: the pure-expression formulations
     (m × k ``zip_with``/``aggregate`` lambdas, or fully expanded
     per-dim arithmetic) cost 7–14 s of DRIVER-SIDE ANALYSIS for an
     8 × 32 codebook (the expression tree has thousands of nodes and
     higher-order functions are interpreted, not codegen'd), while the
     pandas variant plans in 0.1 s and executes at the same speed. The
     pass is shuffle-free either way; at 100 TB the per-batch numpy
     ``(batch × k × d0)`` distance matmul is the canonical PQ encode
     kernel (faiss does exactly this per block).
  3. ``pq_adc_scores`` / ``pq_topk`` — Asymmetric Distance Computation:
     the query is NOT quantized; a per-subspace lookup table of
     ``||q_j - c||²`` is computed driver-side (m × k doubles, tiny) and
     folded into the plan as array literals, so scoring a vector is m
     array lookups + adds inside whole-stage codegen. Top-k is an
     ordered limit (TakeOrdered — per-partition heads, no full sort).
  4. ``pq_topk_refined`` — the standard two-stage search: ADC ranks a
     candidate pool R ≫ k over codes only, then the exact distance is
     computed for just those R rows by joining the (broadcast) candidate
     ids back to the full vectors. At scale the codes table is the only
     full scan; full vectors are fetched for R rows.

Extension surface — the reference engine (mwas_general.py) has no
vector search; this completes the ANN story alongside IVF partition
pruning and multi-probe LSH.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pinning import held, pin
from ..sources import storage


def _sq_l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 10,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual_centroids: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks, trained driver-side on the
    ``sample_size`` lowest-id vectors (deterministic: same corpus → same
    codebooks; no RNG anywhere).

    ``residual_centroids``: train on RESIDUALS to the given coarse
    centroids instead of raw vectors — REQUIRED when the codebooks will
    feed a ``residual=True`` index (faiss trains IVFPQ codebooks on
    residuals for the same reason): residuals live near zero with
    within-cell spread, so raw-trained centroids sit far off-center and
    the quantization error EXPLODES instead of shrinking (measured ~15×
    WORSE on the r7 probe corpus before this contract was enforced in
    training; probe O / SCALE.md). The sample is cell-assigned
    driver-side — sample_size × k_cells distances, parameter-sized.

    Returns ``m`` codebooks of ``k`` centroids each, covering
    ``dim / m`` dims. Training on a bounded sample is the standard PQ
    recipe — codebook quality saturates quickly with sample size, and
    it keeps the driver's share O(sample × dim), never corpus-scaled.
    Seeds are the first ``k`` distinct subvectors in id order; empty
    clusters keep their previous centroid (same policy as
    ``train_ivf_centroids``).
    """
    import numpy as np

    rows = (
        emb.where(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(sample_size)
        .select(vec_col)
        .collect()
    )
    if not rows:
        raise ValueError(
            "train_pq_codebooks needs a non-empty corpus (every "
            f"{vec_col!r} was NULL or the input had no rows)"
        )
    X = np.asarray([list(map(float, r[vec_col])) for r in rows], dtype=np.float64)
    if residual_centroids is not None:
        Co = np.asarray(residual_centroids, dtype=np.float64)
        d2 = ((X[:, None, :] - Co[None, :, :]) ** 2).sum(axis=2)
        X = X - Co[d2.argmin(axis=1)]
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"train_pq_codebooks: dim {dim} not divisible by m={m}")
    d0 = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = X[:, j * d0 : (j + 1) * d0]
        seen: set = set()
        cents: list = []
        for row in sub:
            key = tuple(np.round(row, 9))
            if key not in seen:
                seen.add(key)
                cents.append(row)
            if len(cents) == k:
                break
        C = np.asarray(cents, dtype=np.float64)
        if C.shape[0] < k:
            # degenerate sample (< k distinct subvectors): pad by cycling
            reps = (k + C.shape[0] - 1) // C.shape[0]
            C = np.vstack([C] * reps)[:k].copy()
        for _ in range(iters):
            d = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    C[c] = sub[mask].mean(axis=0)
        books.append([[float(x) for x in c] for c in C])
    return books


def train_opq(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    opq_iters: int = 4,
    kmeans_iters: int = 10,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Optimized Product Quantization (OPQ-NP, Ge et al. CVPR'13): learn
    an ORTHOGONAL rotation R so the subspace split PQ imposes matches
    the data's correlation structure, then train codebooks in the
    rotated space. Plain PQ slices dimensions in storage order; when
    variance lies across slice boundaries (any correlated embedding
    space), rotating first cuts quantization error at the SAME code
    budget — the standard faiss `OPQMatrix` preprocessing.

    Alternating minimization, each round:
      1. codebooks <- train_pq_codebooks on the rotated corpus (bounded
         driver-side sample, deterministic — unchanged recipe);
      2. R <- argmin ||X R^T - Y||_F over orthogonal matrices, where Y
         is the quantized reconstruction of the rotated corpus: the
         orthogonal-Procrustes solution R = V U^T from the SVD
         U S V^T of the cross-moment M = X^T Y.

    Scale shape: step 2's only corpus-sized work is accumulating M — a
    d x d parameter — done exactly like `decomposition.fit_pca`: one
    Arrow pass of per-partition (count, d^2 partial) rows, a
    single-partition streamed combine, ONE parameter-sized row
    collected. Codebooks + R travel as broadcast parameters; no vector
    reaches the driver outside the bounded training sample. The SVD is
    driver math on a d x d matrix.

    Because R is orthogonal, exact L2/cosine geometry is untouched —
    brute-force search over rotated vectors returns IDENTICAL results
    (pytest-pinned); only the PQ approximation error changes (down).
    Returns {"rotation": d x d, "codebooks": m x k x d0} — compose via
    `decomposition.project_embeddings(emb, rotation)` before
    `pq_encode` / `materialize_ivfpq`, and rotate queries driver-side
    with the same matrix."""
    import numpy as np

    from mwas_rfam_spark.operators.decomposition import project_embeddings

    if opq_iters < 1:
        raise ValueError(f"opq_iters must be >= 1, got {opq_iters}")
    first = emb.where(F.col(vec_col).isNotNull()).select(
        F.size(vec_col).alias("d")
    ).first()
    if first is None:
        raise ValueError("train_opq needs a non-empty corpus")
    d = int(first["d"])
    if d % m != 0:
        raise ValueError(f"train_opq: dim {d} not divisible by m={m}")
    with held(
        emb.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
        )
    ) as src:
        R = np.eye(d)
        books = None
        for _ in range(opq_iters):
            rotated = project_embeddings(
                src, [[float(x) for x in row] for row in R], vec_col=vec_col
            )
            books = train_pq_codebooks(
                rotated, m=m, k=k, iters=kmeans_iters, sample_size=sample_size,
                id_col=id_col, vec_col=vec_col,
            )
            M = _opq_cross_moment(src, R, books, vec_col)
            U, _s, Vt = np.linalg.svd(M)
            # min ||X R^T - Y|| over orthogonal R: R = V U^T for M = X^T Y
            R = Vt.T @ U.T
        # final retrain: inside the loop each `books` was trained under
        # the PREVIOUS rotation and the Procrustes step then advanced R
        # once more — returning that pair hands callers codebooks that
        # were never trained in the returned rotated space (at
        # opq_iters=1 the books are trained on the UNROTATED corpus; the
        # train/encode-space mismatch this module's residual contract
        # documents as exploding quantization error; r11 review
        # finding). One more bounded-sample k-means pins them together.
        rotated = project_embeddings(
            src, [[float(x) for x in row] for row in R], vec_col=vec_col
        )
        books = train_pq_codebooks(
            rotated, m=m, k=k, iters=kmeans_iters, sample_size=sample_size,
            id_col=id_col, vec_col=vec_col,
        )
        return {
            "rotation": [[float(x) for x in row] for row in R],
            "codebooks": books,
        }


def _opq_cross_moment(src: DataFrame, R, books, vec_col: str):
    """M = X^T Y where Y = pq_decode(pq_encode(X R^T)) — accumulated as
    per-partition d^2 partials, combined in ONE single-partition stage,
    ONE parameter-sized row collected (the fit_pca pattern; repartition
    not coalesce, so the partials pass keeps its parallelism)."""
    import numpy as np

    spark = src.sparkSession
    d = R.shape[0]
    C = np.asarray(books, dtype=np.float64)  # (m, k, d0)
    m_, _k, d0 = C.shape
    bc = spark.sparkContext.broadcast((np.asarray(R, dtype=np.float64), C))
    schema = "n long, g array<double>"

    def partials(batches):
        import pandas as pd

        Rm, Cm = bc.value
        acc = np.zeros((d, d), dtype=np.float64)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Xr = X @ Rm.T
            Y = np.empty_like(Xr)
            for j in range(m_):
                sub = Xr[:, j * d0 : (j + 1) * d0]
                dist = ((sub[:, None, :] - Cm[j][None, :, :]) ** 2).sum(axis=2)
                Y[:, j * d0 : (j + 1) * d0] = Cm[j][dist.argmin(axis=1)]
            acc += X.T @ Y
            n += len(X)
        if n:
            yield pd.DataFrame({"n": [n], "g": [acc.ravel().tolist()]})

    def combine(batches):
        import pandas as pd

        acc = np.zeros(d * d, dtype=np.float64)
        n = 0
        for pdf in batches:
            for i in range(len(pdf)):
                n += int(pdf["n"].iloc[i])
                acc += np.asarray(pdf["g"].iloc[i])
        if n:
            yield pd.DataFrame({"n": [n], "g": [acc.tolist()]})

    try:
        rows = (
            src.select(vec_col)
            .mapInPandas(partials, schema)
            .repartition(1)
            .mapInPandas(combine, schema)
            .collect()
        )
    finally:
        # one broadcast per OPQ iteration: release it instead of
        # accumulating (R, codebooks) copies on every executor
        bc.unpersist()
    if not rows:
        raise ValueError("train_opq needs a non-empty corpus")
    return np.asarray(rows[0]["g"]).reshape(d, d)


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual_centroids: list[list[float]] | None = None,
    cell_col: str = "cell",
) -> DataFrame:
    """Attach ``codes`` (array<int>, one centroid id per subspace) and
    drop the full vector. All other columns (e.g. an IVF ``cell``) pass
    through, so PQ composes with the IVF layout: encode the
    cell-partitioned vectors and the codes table inherits the partition
    pruning.

    ``residual_centroids`` switches to RESIDUAL encoding (the faiss
    IVFPQ default): each row encodes ``x − centroid[cell]`` instead of
    ``x``, so the codebooks only have to cover the spread WITHIN a
    cell, not the whole space — materially finer quantization at the
    same 8 bytes once a coarse quantizer exists. Requires ``cell_col``
    on the input (the IVF assignment); the coarse centroids travel in
    the closure next to the codebooks.

    Shuffle-free ``mapInPandas`` pass; the codebooks travel in the
    closure (m × k × d0 doubles — a few KB). Ties break to the lowest
    centroid id (numpy argmin), matching the ``array_position`` /
    ``array_min`` first-occurrence convention, so results are
    deterministic. See the module docstring for why this is pandas and
    not column expressions (measured 70×+ planning-cost difference).
    """
    import numpy as np

    C = np.asarray(codebooks, dtype=np.float64)  # (m, k, d0)
    m, _, d0 = C.shape
    if residual_centroids is not None and cell_col not in emb.columns:
        raise ValueError(
            f"pq_encode: residual encoding needs the {cell_col!r} column"
        )
    Coarse = (
        np.asarray(residual_centroids, dtype=np.float64)
        if residual_centroids is not None
        else None
    )
    keep = [c for c in emb.columns if c != vec_col]
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in emb.schema
        if f.name != vec_col
    ) + ", codes ARRAY<INT>"

    def encode(batches):
        for pdf in batches:
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            out = np.empty((len(pdf), m), dtype=np.int32)
            if len(pdf):
                if X.shape[1] != m * d0:
                    raise ValueError(
                        f"pq_encode: vector dim {X.shape[1]} != m*d0 = {m * d0}"
                    )
                if Coarse is not None:
                    X = X - Coarse[pdf[cell_col].to_numpy(dtype=np.int64)]
                for j in range(m):
                    sub = X[:, j * d0 : (j + 1) * d0]
                    d = ((sub[:, None, :] - C[j][None, :, :]) ** 2).sum(axis=2)
                    out[:, j] = d.argmin(axis=1)
            res = pdf[keep].copy()
            res["codes"] = list(out)
            yield res

    return emb.mapInPandas(encode, out_schema)


def adc_lookup_table(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """ADC lookup table: ``lut[j][c] = ||q_j - codebooks[j][c]||²``.
    m × k doubles — computed once per query on the driver, folded into
    the plan as literals (never shipped as data)."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    m = len(codebooks)
    d0 = len(codebooks[0][0])
    if len(q) != m * d0:
        # numpy slicing would silently truncate a longer query (and
        # broadcast-error only sometimes on a shorter one) — every ADC
        # path funnels through here, so the dim check lives here once
        # (r11 review finding; sq_topk already had its own)
        raise ValueError(
            f"query dimension {len(q)} != codebook dimension {m}x{d0}"
            f"={m * d0}"
        )
    lut = []
    for j in range(m):
        qj = q[j * d0 : (j + 1) * d0]
        C = np.asarray(codebooks[j], dtype=np.float64)
        lut.append([float(x) for x in ((C - qj) ** 2).sum(axis=1)])
    return lut


def pq_adc_scores(
    codes_df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Approximate squared L2 distance of every coded vector to the
    query: sum over subspaces of the ADC table entry for that
    subspace's code. m ``element_at`` lookups + adds per row, entirely
    inside whole-stage codegen."""
    lut = adc_lookup_table(query_vec, codebooks)
    dist = None
    for j, row in enumerate(lut):
        term = F.element_at(
            F.array(*[F.lit(v) for v in row]), F.col(codes_col)[j] + 1
        )
        dist = term if dist is None else dist + term
    return codes_df.select(F.col(id_col), dist.alias("approx_dist"))


def pq_topk(
    codes_df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Top-k by ADC distance (ascending; id tie-break). Ordered limit =
    TakeOrdered: each partition keeps k rows, no global sort shuffle."""
    return (
        pq_adc_scores(codes_df, query_vec, codebooks, id_col, codes_col)
        .orderBy(F.asc("approx_dist"), F.asc(id_col))
        .limit(k)
    )


def pq_topk_refined(
    codes_df: DataFrame,
    emb: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "codes",
) -> DataFrame:
    """Two-stage PQ search: ADC over codes picks ``rerank`` candidates,
    the exact squared L2 re-ranks just those — the standard
    accuracy-recovery step (codes bound the error; exact re-rank removes
    it from the final k as long as the true neighbors reach the pool).

    The candidate set (``rerank`` ids) is broadcast into the vectors
    table, so the full-precision side is probed with a BroadcastHashJoin
    — at 100 TB the only full scan is the 32×-smaller codes table.
    """
    cand = pq_topk(codes_df, query_vec, codebooks, k=rerank, id_col=id_col, codes_col=codes_col)
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = (
        emb.join(F.broadcast(cand.select(id_col)), id_col)
        .withColumn("dist", _sq_l2(F.col(vec_col), qcol))
    )
    return (
        exact.select(id_col, "dist")
        # NULLS LAST: a stored vector with mismatched dims zip_with-pads
        # its exact dist to NULL, and plain asc ranks NULL FIRST —
        # garbage ids would displace every real neighbor (r11 review)
        .orderBy(F.asc_nulls_last("dist"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_topk(
    spark,
    ivf_index_path: str,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF × PQ — the full inverted-file product-quantization search
    over a :func:`similarity.write_ivf_index` layout: the nprobe cell
    filter is PARTITION PRUNING on the cell-partitioned parquet (only
    nprobe/k_cells of the files open), the pruned candidates are
    PQ-encoded and ADC-ranked (codes-only arithmetic), and the exact
    distance re-ranks the broadcast rerank pool from the same pruned
    scan. The 100 TB composition: IO bounded by partition pruning ×
    code size, exactness restored for the final k by the re-rank.

    (This encodes the probed cells on the fly, which suits a
    query-at-a-time pattern over a hot index; for a static corpus,
    materialize codes once with :func:`materialize_pq` over the
    cell-assigned vectors — ``cell`` passes through ``pq_encode`` — and
    feed that table to :func:`pq_topk_refined` directly.)"""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    order = sorted(
        range(len(centroids)),
        key=lambda c: float(np.sum((q - np.asarray(centroids[c])) ** 2)),
    )
    probe = order[:nprobe]
    cand = spark.read.parquet(ivf_index_path).where(F.col("cell").isin(probe))
    codes = pq_encode(cand, codebooks, id_col, vec_col)
    return pq_topk_refined(
        codes, cand, query_vec, codebooks, k=k, rerank=rerank,
        id_col=id_col, vec_col=vec_col,
    )


def materialize_pq(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the codes table + codebooks as parquet so ADC search
    is replayable by any engine over the same files (mirrors
    ``materialize_ivf``): ``path/codes`` holds (id, codes), and
    ``path/codebooks`` holds (subspace, centroid_id, centroid) rows."""
    spark = emb.sparkSession
    pq_encode(emb, codebooks, id_col, vec_col).write.mode("overwrite").parquet(
        f"{path}/codes"
    )
    _write_codebooks(spark, codebooks, f"{path}/codebooks")


def _write_codebooks(spark, codebooks: list[list[list[float]]], path: str) -> None:
    rows = [
        (j, c, [float(x) for x in cent])
        for j, book in enumerate(codebooks)
        for c, cent in enumerate(book)
    ]
    spark.createDataFrame(
        rows, "subspace INT, centroid_id INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _read_codebooks(spark, path: str) -> list[list[list[float]]]:
    rows = spark.read.parquet(path).collect()
    if not rows:
        raise ValueError(f"no codebooks found under {path}")
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by_sub.setdefault(int(r["subspace"]), {})[int(r["centroid_id"])] = list(
            r["centroid"]
        )
    return [
        [by_sub[j][c] for c in sorted(by_sub[j])] for j in sorted(by_sub)
    ]


def _read_centroids(spark, path: str) -> list[list[float]]:
    rows = sorted(spark.read.parquet(path).collect(), key=lambda r: r["cell"])
    if not rows:
        raise ValueError(f"no centroids found under {path}")
    return [list(r["centroid"]) for r in rows]


def materialize_ivfpq(
    emb: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> None:
    """Materialize the full IVF×PQ index — the faiss ``IVFPQ`` layout.

    ``residual=True`` contract: the ``codebooks`` MUST have been trained
    on residuals (``train_pq_codebooks(residual_centroids=centroids)``)
    — raw-trained codebooks sit far off-center for residual inputs and
    the quantization error explodes ~15× instead of shrinking (probe O).

    Default decision (r10 carry-over task #5): the RECIPE defaults to
    residual wherever this codebase trains the codebooks itself (the
    `index ivfpq build` CLI since r11 — probe r9o: +86% recall@10@
    rerank=100 on a clustered corpus, a wash on unclustered, never
    worse). THIS function's ``residual`` kwarg keeps ``False`` as its
    default on purpose: the flag is a CLAIM about how the caller
    trained the ``codebooks`` argument, not a preference — flipping it
    here would silently mis-declare every existing raw-trained book
    and recreate exactly the 15× error the contract above exists to
    prevent. Callers composing their own build pass it explicitly;
    the stored meta + refusal machinery handle the rest.
    The rest of the faiss ``IVFPQ`` layout
    re-expressed as self-describing parquet (extension; the reference
    engine has no vector search):

      - ``path/vectors``   — cell-partitioned full vectors (the
        :func:`similarity.write_ivf_index` layout; exact re-rank side)
      - ``path/codes``     — cell-partitioned (id, codes) PQ codes:
        the ADC scan side, ~32× narrower than the vectors
      - ``path/centroids`` — (cell, centroid): the frozen coarse
        quantizer, so probes re-derive the nprobe cell set from the
        files alone
      - ``path/codebooks`` — (subspace, centroid_id, centroid): the
        frozen fine quantizer, so ADC tables and future appends encode
        identically

    Unlike :func:`ivfpq_topk` (encodes probed cells per query — right
    for a hot, changing corpus), the codes here are encoded ONCE at
    build; at 100 TB each query's scan cost is nprobe/k_cells (the
    partition pruning) × 8 bytes/vector (the codes), and the full
    vectors are only touched for the broadcast re-rank pool."""
    from mwas_rfam_spark.operators.similarity import (
        _guard_dims,
        assign_ivf_cells,
        write_ivf_index,
    )

    spark = emb.sparkSession
    # in-progress marker FIRST: an in-place rebuild is not atomic (no
    # ordering of the writes can make it so — residual codes with raw
    # meta and raw codes with residual meta are both silently wrong),
    # so probes must REFUSE an interrupted build instead of guessing.
    # The marker is a SENTINEL FILE, not (only) the meta flag: the meta
    # dir itself is rewritten twice below with delete-then-write
    # semantics, so a crash inside either rewrite would leave NO meta —
    # and a missing meta is the soft legacy-raw fallback, silently
    # demoting a residual index (r11 review finding). The sentinel
    # survives both rewrites and is removed only after the final meta
    # commit; the meta building flag is kept for readers of the files
    # alone.
    _set_index_building(spark, path)
    spark.createDataFrame(
        [(bool(residual), True)], "residual BOOLEAN, building BOOLEAN"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    guarded = _guard_dims(emb, centroids, vec_col)
    write_ivf_index(guarded, centroids, f"{path}/vectors", id_col, vec_col)
    # codes side: re-read the JUST-WRITTEN cell-partitioned vectors
    # instead of running assign_ivf_cells again — the k_cells × dim
    # assignment kernel is the dominant build cost and was previously
    # paid twice per build (r11 review finding); the parquet read-back
    # carries the cell partition column pq_encode's residual path needs
    assigned = spark.read.parquet(f"{path}/vectors")
    # cluster by cell before the partitioned write (see
    # similarity.write_ivf_index): one file per cell instead of
    # n_tasks x n_cells slivers
    (
        pq_encode(
            assigned, codebooks, id_col, vec_col,
            residual_centroids=centroids if residual else None,
        )
        .repartition("cell")
        .write.option("maxRecordsPerFile", 1 << 20)
        .partitionBy("cell")
        .mode("overwrite")
        .parquet(f"{path}/codes")
    )
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell INT, centroid ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    _write_codebooks(spark, codebooks, f"{path}/codebooks")
    # self-describing encoding flag: probes and appends resolve it from
    # the files alone (absent meta = raw codes, the pre-residual layout);
    # building=false marks the build complete
    spark.createDataFrame(
        [(bool(residual), False)], "residual BOOLEAN, building BOOLEAN"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    _clear_index_building(spark, path)


def _set_index_building(spark, path: str) -> None:
    """Drop the crash sentinel an index mutation holds while its
    multi-write sequence is in flight — a single-file create, so it
    exists (and probes refuse) from before the first data write until
    :func:`_clear_index_building` after the last commit, surviving the
    meta dir's own delete-then-write rewrites."""
    storage.write_bytes(spark, f"{path}/_building", b"")


def _clear_index_building(spark, path: str) -> None:
    storage.delete(spark, f"{path}/_building")


def _index_is_residual(spark, path: str) -> bool:
    """The stored encoding flag; absent meta = raw codes (legacy
    layout). An index whose meta still says ``building`` was
    interrupted mid-(re)build and is REFUSED — its codes and flag may
    disagree, and either silent guess returns wrong ADC candidates.
    Any read failure other than a missing directory surfaces for the
    same reason. The missing-directory case is detected with a
    filesystem existence check (NOT by matching the AnalysisException
    message, which is formatted differently across Spark versions —
    a legacy no-meta index must stay a soft 'raw' fallback, never a
    hard failure). A meta that EXISTS but has no ``residual`` column is
    anomalous (written by some newer/foreign layout), not the
    documented legacy case — that raises rather than silently guessing
    raw and returning wrong ADC candidates (r8 ADVICE item);
    ``building`` stays soft-absent because a flag-less meta cannot be
    an interrupted write of a layout that always writes the flag."""
    # the sentinel outranks everything INCLUDING a missing meta: a crash
    # inside a meta rewrite deletes the dir, and falling through to the
    # legacy-raw branch would silently demote a residual index
    if storage.exists(spark, f"{path}/_building"):
        raise ValueError(
            f"IVF-PQ index at {path} has an interrupted build/append "
            "(_building sentinel present) — its sides may disagree; "
            "rebuild it or re-run the interrupted operation"
        )
    if not storage.exists(spark, f"{path}/meta"):
        return False  # legacy pre-meta layout = raw codes
    row = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    if row.get("building", False):
        raise ValueError(
            f"IVF-PQ index at {path} has an interrupted (re)build — "
            "its codes and encoding flag may disagree; rebuild it"
        )
    if "residual" not in row:
        raise ValueError(
            f"IVF-PQ index meta at {path}/meta has no 'residual' column "
            f"(columns: {sorted(row)}) — unknown meta layout; refusing to "
            "guess the encoding (a wrong guess silently returns wrong ADC "
            "candidates). Rebuild the index with this version."
        )
    return bool(row["residual"])


def ivfpq_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a :func:`materialize_ivfpq` index. Self-contained: the
    coarse centroids and PQ codebooks come from the index itself (two
    tiny driver-side reads), so the caller needs only the path — the
    index is the single source of truth for both quantizers.

    Plan shape (the 100 TB story): nprobe-cell membership is a filter
    on the PARTITION column of ``codes`` (PartitionFilters — only
    nprobe/k_cells of the code files open), ADC ranks the pruned codes
    inside whole-stage codegen, and the ``rerank`` survivor ids
    broadcast-join into the equally-pruned ``vectors`` table for the
    exact distances that produce the final k."""
    centroids = _read_centroids(spark, f"{path}/centroids")
    codebooks = _read_codebooks(spark, f"{path}/codebooks")
    return ivfpq_topk_with_meta(
        spark, path, centroids, codebooks, query_vec,
        k=k, nprobe=nprobe, rerank=rerank, id_col=id_col, vec_col=vec_col,
        residual=_index_is_residual(spark, path),
    )


def ivfpq_topk_with_meta(
    spark,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool | None = None,
) -> DataFrame:
    """:func:`ivfpq_topk_indexed` with the quantizers already in hand —
    the steady-state serving shape: both are frozen at build time, so a
    long-lived process reads them ONCE and probes many times without
    re-collecting two parquet tables per query."""
    import numpy as np

    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    q = np.asarray(query_vec, dtype=np.float64)
    order = sorted(
        range(len(centroids)),
        key=lambda c: float(np.sum((q - np.asarray(centroids[c])) ** 2)),
    )
    probe = order[:nprobe]
    codes = spark.read.parquet(f"{path}/codes").where(F.col("cell").isin(probe))
    if residual is None:
        # steady-state servers should resolve this ONCE next to the
        # quantizers and pass it (ivfpq_topk_indexed does) — the
        # fallback costs a meta read per call
        residual = _index_is_residual(spark, path)
    if residual:
        # per-cell ADC: codes in cell c encode x − centroid_c, and
        # ||q − x|| == ||(q − centroid_c) − (x − centroid_c)||, so each
        # probed cell ranks against the query's OWN residual — nprobe
        # small subplans over the pruned codes, unioned before the
        # global candidate cut (exactly faiss's per-list ADC)
        parts = [
            pq_adc_scores(
                codes.where(F.col("cell") == int(c)),
                [float(x) for x in (q - np.asarray(centroids[c]))],
                codebooks,
                id_col,
            )
            for c in probe
        ]
        scored = parts[0]
        for p in parts[1:]:
            scored = scored.unionByName(p)
        cand = (
            scored.orderBy(F.asc("approx_dist"), F.asc(id_col)).limit(rerank)
        )
    else:
        cand = pq_topk(codes, query_vec, codebooks, k=rerank, id_col=id_col)
    vectors = spark.read.parquet(f"{path}/vectors").where(F.col("cell").isin(probe))
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = vectors.join(F.broadcast(cand.select(id_col)), id_col).withColumn(
        "dist", _sq_l2(F.col(vec_col), qcol)
    )
    return exact.select(id_col, "dist").orderBy(
        F.asc_nulls_last("dist"), F.asc(id_col)  # see pq_topk_refined
    ).limit(k)


def append_ivfpq_index(
    emb_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally extend a :func:`materialize_ivfpq` index: new
    vectors are cell-assigned under the STORED centroids and PQ-encoded
    under the STORED codebooks (both quantizers frozen at build — the
    same contract as :func:`similarity.append_ivf_index`), then appended
    as new cell-partitioned files on both the vectors and codes sides.
    Search equivalence vs a full rebuild is pytest-pinned. Ids must be
    new (feed `summary.corpus_diff`'s 'added' slice); quantizer drift
    shows up in `summary.skew_report` on the cell column."""
    from mwas_rfam_spark.operators.similarity import (
        _guard_dims,
        assign_ivf_cells,
        write_ivf_index,
    )

    spark = emb_new.sparkSession
    # resolve the stored encoding BEFORE any write: _index_is_residual
    # is also the refusal gate (interrupted build, anomalous meta), and
    # refusing AFTER the vectors append would itself leave the two
    # sides inconsistent (r11 review finding)
    residual = _index_is_residual(spark, path)
    centroids = _read_centroids(spark, f"{path}/centroids")
    codebooks = _read_codebooks(spark, f"{path}/codebooks")
    guarded = _guard_dims(emb_new, centroids, vec_col)
    # assign ONCE (appends are increment-sized — the persist is bounded
    # by the new slice, not the corpus) and feed both sides from it;
    # the sentinel makes a crash between the two appends refuse at the
    # next probe instead of silently hiding the half-appended ids
    with held(assign_ivf_cells(guarded, centroids, id_col, vec_col)) as assigned:
        _set_index_building(spark, path)
        write_ivf_index(
            guarded, centroids, f"{path}/vectors", id_col, vec_col,
            mode="append", assigned=assigned,
        )
        (
            pq_encode(
                assigned, codebooks, id_col, vec_col,
                # honor the stored encoding: appending raw codes to a
                # residual index (or vice versa) would corrupt every probe
                residual_centroids=centroids if residual else None,
            )
            .repartition("cell")
            .write.option("maxRecordsPerFile", 1 << 20)
            .partitionBy("cell")
            .mode("append")
            .parquet(f"{path}/codes")
        )
    _clear_index_building(spark, path)


def remove_from_ivfpq_index(
    emb_removed: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Remove vectors from a :func:`materialize_ivfpq` index — both the
    vectors AND codes sides, touching only the removed vectors' own
    cells (re-assigned under the frozen stored centroids; partition-
    pruned read → anti-join → dynamic overwrite → emptied-dir delete,
    via the shared :func:`similarity.prune_partitioned_rows`). The
    quantizers stay frozen; search equivalence vs a rebuild on the
    remainder is pytest-pinned."""
    from mwas_rfam_spark.operators.similarity import (
        _guard_dims,
        assign_ivf_cells,
        prune_partitioned_rows,
    )

    spark = emb_removed.sparkSession
    centroids = _read_centroids(spark, f"{path}/centroids")
    assigned = pin(assign_ivf_cells(
        _guard_dims(emb_removed, centroids, vec_col), centroids, id_col, vec_col
    ), "remove_from_ivfpq_index:assigned")
    cells = [int(r["cell"]) for r in assigned.select("cell").distinct().collect()]
    if not cells:
        return
    gone = pin(assigned.select(F.col(id_col).alias("__gone")).distinct(), "remove_from_ivfpq_index:gone")
    # sentinel across the two prunes: a crash in between leaves removed
    # ids still ADC-visible in codes (they waste rerank slots until the
    # re-run) — refuse probes until the prune converges
    _set_index_building(spark, path)
    prune_partitioned_rows(spark, f"{path}/vectors", cells, gone, id_col)
    prune_partitioned_rows(spark, f"{path}/codes", cells, gone, id_col)
    _clear_index_building(spark, path)


def compact_ivfpq_index(
    spark,
    path: str,
    target_rows_per_file: int = 1 << 20,
) -> int:
    """Small-files repair after many :func:`append_ivfpq_index` batches:
    compacts BOTH cell-partitioned sides (vectors + codes) through the
    maintenance compactor, preserving the partitioning the probes prune
    on. Returns the total data-file count after the rewrite; search
    results are identical before/after (pytest-pinned)."""
    from mwas_rfam_spark.sources.sinks import compact_files

    n = compact_files(spark, f"{path}/vectors", target_rows_per_file, partition_col="cell")
    n += compact_files(spark, f"{path}/codes", target_rows_per_file, partition_col="cell")
    return n


# ----------------------------------------------------------------- SQ8

def train_sq_params(
    emb: DataFrame,
    vec_col: str = "embedding",
) -> dict:
    """Per-dimension min/max for 8-bit scalar quantization → {"min":
    [d floats], "max": [d floats]}. One aggregation pass (2d map-side-
    combinable aggregates — d is the embedding dim, a parameter);
    degenerate dims (min == max) get a unit range so encode stays
    defined. NULL embeddings are excluded (same convention as
    fit_pca)."""
    src = emb.where(F.col(vec_col).isNotNull())
    first = src.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("train_sq_params needs a non-empty corpus")
    d = int(first["d"])
    row = src.agg(
        *[F.min(F.col(vec_col)[i].cast("double")).alias(f"lo{i}") for i in range(d)],
        *[F.max(F.col(vec_col)[i].cast("double")).alias(f"hi{i}") for i in range(d)],
    ).first()
    lo = [float(row[f"lo{i}"]) for i in range(d)]
    hi = [
        float(row[f"hi{i}"]) if row[f"hi{i}"] > row[f"lo{i}"] else lo[i] + 1.0
        for i in range(d)
    ]
    return {"min": lo, "max": hi}


def sq_encode(
    emb: DataFrame,
    params: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """8-bit scalar quantization → (id, codes ARRAY<SMALLINT> in
    0..255, nrm) — 4× smaller than float32 storage (8× vs float64; the
    array element is stored as 2 bytes in Spark but 1 byte per code on
    parquet with byte-packing encodings, and the real saving is the
    scan/shuffle width either way).

    code_i = round(255 * (x_i - min_i) / (max_i - min_i)), clamped to
    [0, 255]; ``nrm`` is the DECODED vector's L2 norm, carried so
    cosine scoring needs no second pass. Pure column expressions
    (zip_with + transform — stays in codegen, no Python); decode error
    is at most range_i / 510 per dimension."""
    lo = params["min"]
    rng_ = [params["max"][i] - lo[i] for i in range(len(lo))]
    lo_arr = F.array(*[F.lit(float(x)) for x in lo])
    scale_arr = F.array(*[F.lit(255.0 / r if r > 0 else 0.0) for r in rng_])
    codes = F.zip_with(
        F.zip_with(F.col(vec_col), lo_arr, lambda x, m: x.cast("double") - m),
        scale_arr,
        lambda x, s: F.least(
            F.lit(255), F.greatest(F.lit(0), F.round(x * s, 0).cast("int"))
        ),
    )
    from mwas_rfam_spark.operators.similarity import _norm

    inv_arr = F.array(*[F.lit(r / 255.0) for r in rng_])
    decoded = F.zip_with(
        F.zip_with(codes, inv_arr, lambda c, s: c.cast("double") * s),
        lo_arr,
        lambda x, m: x + m,
    )
    nrm = _norm(decoded)
    return emb.select(
        F.col(id_col).alias("id"),
        codes.cast("array<smallint>").alias("codes"),
        nrm.alias("nrm"),
    )


def sq_topk(
    codes_df: DataFrame,
    query_vec: list[float],
    params: dict,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine top-k over SQ8 codes — EXACT over the decoded vectors
    (pytest-pinned against numpy on the decoded corpus), approximate
    w.r.t. the original floats only through the quantization error.

    The decode folds into the query driver-side:
    dot(x̂, q) = Σ q_i·min_i + Σ codes_i · (q_i·range_i/255)
    so scoring is ONE zip_with/aggregate against a premultiplied query
    array plus a constant — the codes never decode to a second array
    column, and the whole score is codegen'd. Top-k is an ordered limit
    (TakeOrdered)."""
    import math

    lo = params["min"]
    rng_ = [params["max"][i] - lo[i] for i in range(len(lo))]
    if len(query_vec) != len(lo):
        raise ValueError(f"query has {len(query_vec)} dims, params expect {len(lo)}")
    const = sum(float(q) * m for q, m in zip(query_vec, lo))
    pre = [float(q) * r / 255.0 for q, r in zip(query_vec, rng_)]
    qn = math.sqrt(sum(float(q) ** 2 for q in query_vec)) or 1.0
    from mwas_rfam_spark.operators.similarity import _dot

    pre_arr = F.array(*[F.lit(x) for x in pre])
    dot = F.lit(const) + _dot(F.col("codes"), pre_arr)
    return (
        codes_df.select(
            F.col("id").alias(id_col),
            # zero-norm decoded vectors (all-minima codes — realistic for
            # non-negative embeddings) have undefined cosine: NULL, which
            # desc ordering ranks last; an unguarded divide would abort
            # the whole query under ANSI mode (Spark 4 default)
            F.when(
                F.col("nrm") > 0, dot / (F.col("nrm") * F.lit(qn))
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def sq_topk_refined(
    emb: DataFrame,
    codes_df: DataFrame,
    query_vec: list[float],
    params: dict,
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage SQ search (the PQ-refined pattern): rank ``rerank``
    candidates over codes only, then score EXACT cosine for just those
    rows by joining the broadcast candidate ids back to the full
    vectors — at scale the codes table is the only full scan."""
    from mwas_rfam_spark.operators.similarity import brute_force_topk

    if rerank < k:
        raise ValueError(f"rerank={rerank} must be >= k={k}")
    cand = sq_topk(codes_df, query_vec, params, k=rerank, id_col=id_col).select(id_col)
    pool = emb.join(F.broadcast(cand), id_col)
    return brute_force_topk(pool, query_vec, k, id_col, vec_col)


def ivfpq_knn_join(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 50,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch ANN retrieval over a :func:`materialize_ivfpq` index — the
    k-NN JOIN whose corpus-side scan reads 8-byte PQ CODES, not
    vectors: at 100 TB this is the difference between joining the
    query batch against the corpus and joining it against a table 32×
    smaller. Composition: nprobe cells per query from the stored
    coarse centroids (`similarity._assign_probe_cells`, exploded +
    broadcast), the probed-cell UNION collected driver-side and pushed
    as a STATIC partition filter on both the codes and vectors scans
    (dynamic partition pruning does not fire for a broadcast
    mapInPandas side, so without the static filter every cell's files
    would be read — plan-asserted in tests), cell equi-join, ADC via
    an Arrow kernel (one lookup table per query from a broadcast
    q_id → vector map — query vectors are NOT shipped per candidate
    row; the literal-expression ADC alternative costs 3.5-4.7 s of
    DRIVER ANALYSIS per plan, the same measured wall that pushed
    `pq_encode` to pandas), two-phase per-query top-``rerank``, then
    the exact re-rank joins only the surviving pairs against the
    pruned vectors.

    ``q_id`` must be unique (validated — the per-query LUT keys on
    it); a NULL-id or NULL/ragged-vector query probes nothing and
    vanishes. Single-query equivalence: for one query row this returns
    exactly :func:`ivfpq_topk_indexed`'s rows (pytest-pinned; the
    kernel folds the m LUT terms LEFT-ASSOCIATED, matching
    `pq_adc_scores`' sequential add chain bit for bit — numpy pairwise
    .sum() differs at 1 ulp on ~40% of rows, enough to flip a rerank
    boundary). Returns (q_id, vec_id, dist, rank<=k)."""
    import numpy as np

    from mwas_rfam_spark.operators.similarity import _assign_probe_cells
    from mwas_rfam_spark.operators.topk import top_k_per_group

    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if rerank < k:
        raise ValueError(f"rerank must be >= k, got rerank={rerank}, k={k}")
    centroids = _read_centroids(spark, f"{path}/centroids")
    codebooks = _read_codebooks(spark, f"{path}/codebooks")
    residual = _index_is_residual(spark, path)

    qv = queries.select(q_id_col, q_vec_col).where(
        F.col(q_id_col).isNotNull() & F.col(q_vec_col).isNotNull()
    )
    q_rows = qv.collect()  # query batches are small by contract
    if len({r[q_id_col] for r in q_rows}) != len(q_rows):
        raise ValueError("ivfpq_knn_join: duplicate q_id values in queries")
    qmap = {r[q_id_col]: np.asarray(r[q_vec_col], dtype=np.float64) for r in q_rows}

    probe_df = pin(_assign_probe_cells(
        queries, centroids, nprobe, q_vec_col
    ).select(q_id_col, "cell"), "ivfpq_knn_join:probes")
    cells = sorted(
        r["cell"] for r in probe_df.select("cell").distinct().collect()
    )
    codes = spark.read.parquet(f"{path}/codes").where(F.col("cell").isin(cells))
    # a residual index needs the cell per row (the LUT is per
    # (query, cell) — codes encode x − centroid_cell)
    joined = codes.join(F.broadcast(probe_df), "cell").select(
        q_id_col, id_col, "codes", *(["cell"] if residual else [])
    )

    C = np.asarray(codebooks, dtype=np.float64)  # (m, k, d0)
    m, _, d0 = C.shape
    Coarse = np.asarray(centroids, dtype=np.float64) if residual else None
    bc = spark.sparkContext.broadcast((C, qmap, Coarse))
    id_t = joined.schema[id_col].dataType.simpleString()
    q_t = joined.schema[q_id_col].dataType.simpleString()
    out_schema = f"`{q_id_col}` {q_t}, `{id_col}` {id_t}, approx_dist double"

    def adc(batches):
        import pandas as pd

        Cm, qm, Co = bc.value
        m_ = Cm.shape[0]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dist = np.full(len(pdf), np.nan, dtype=np.float64)
            # scalar grouper when raw (keys come back as scalars),
            # two-column grouper when residual (keys are 2-tuples) —
            # a one-element LIST grouper's key shape varies across
            # pandas versions, so avoid it
            grouper = [q_id_col, "cell"] if Co is not None else q_id_col
            for gkey, idx in pdf.groupby(grouper, dropna=False).indices.items():
                qid = gkey[0] if Co is not None else gkey
                q = qm.get(qid)
                if q is None or len(q) != m_ * d0:
                    continue  # stays NaN; dropped by the rerank join
                if Co is not None:
                    # per-(query, cell) residual: same identity as the
                    # single-query path — ||q − x|| over residuals
                    q = q - Co[int(gkey[1])]
                # lut[j][c] = ||q_j - cb[j][c]||² — same floats as
                # adc_lookup_table (per-subspace numpy sum)
                lut = ((Cm - q.reshape(m_, 1, d0)) ** 2).sum(axis=2)
                cd = np.stack(pdf["codes"].iloc[idx].to_numpy())
                # LEFT-ASSOCIATED fold over subspaces: bit-identical to
                # pq_adc_scores' sequential add chain (numpy .sum's
                # pairwise order differs at 1 ulp — enough to flip a
                # rerank-boundary candidate between batch and single)
                acc = lut[0][cd[:, 0]]
                for j in range(1, m_):
                    acc = acc + lut[j][cd[:, j]]
                dist[idx] = acc
            yield pd.DataFrame(
                {
                    q_id_col: pdf[q_id_col].to_numpy(),
                    id_col: pdf[id_col].to_numpy(),
                    "approx_dist": dist,
                }
            )

    scored = joined.mapInPandas(adc, out_schema).where(
        ~F.isnan("approx_dist")
    )
    cand = top_k_per_group(
        scored, [q_id_col], [F.asc("approx_dist"), F.asc(id_col)], k=rerank
    ).select(q_id_col, id_col)
    vectors = spark.read.parquet(f"{path}/vectors").where(F.col("cell").isin(cells))
    exact = vectors.join(
        F.broadcast(cand.join(qv, q_id_col)), id_col
    ).withColumn("dist", _sq_l2(F.col(vec_col), F.col(q_vec_col)))
    out = top_k_per_group(
        exact, [q_id_col], [F.asc("dist"), F.asc(id_col)], k=k
    )
    return out.select(q_id_col, id_col, "dist", "rank")
