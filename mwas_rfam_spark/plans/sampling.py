"""S13 — stratified synthetic MWAS input (SURVEY.md §2.1).

The reference samples 10 BioProjects per power-of-2 size bucket from the
live catalog and assigns random group ∈ {A,B,C} and quantifier ∈
{0, 1000} (main/bioproject_sampling.py:55-92). This version is fully
deterministic — bucket rank replaces random.sample, and group/quantifier
derive from md5(run) ascii arithmetic — so the generator itself is
oracle-checkable in ANSI SQL and reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

GROUPS = ["A", "B", "C"]


def stratified_synthetic_input(catalog_df: DataFrame, per_bucket: int = 2) -> DataFrame:
    """(run, group, quantifier) over a stratified bioproject sample.

    BioProjects bucket by floor(log2(n_runs)); the top ``per_bucket`` per
    bucket (by n_runs desc, name asc — deterministic) contribute all
    their runs. Group/quantifier are hash-derived per run.
    """
    sizes = catalog_df.groupBy("bio_project").agg(F.count("*").alias("n_runs"))
    w = Window.partitionBy("bucket").orderBy(F.desc("n_runs"), F.asc("bio_project"))
    keep = (
        sizes.withColumn("bucket", F.floor(F.log2("n_runs")))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= per_bucket)
        .select("bio_project")
    )
    runs = catalog_df.join(keep, "bio_project", "left_semi")
    h = F.md5("run")
    group = F.element_at(
        F.array(*[F.lit(g) for g in GROUPS]),
        (F.ascii(F.substring(h, 1, 1)) % 3 + 1).cast("int"),
    )
    quantifier = (F.ascii(F.substring(h, 2, 1)) % 2).cast("double") * 1000.0
    return runs.select(
        "run", group.alias("group"), quantifier.alias("quantifier")
    )


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    k_per_stratum: int,
    id_col: str,
) -> DataFrame:
    """EXACT deterministic stratified sample: the k rows per stratum with
    the smallest md5(id) — the training-data-mix primitive.

    ``df.sampleBy`` gives only approximate per-stratum fractions and is
    seed-order sensitive; hash-rank sampling is exact (min(k, |stratum|)
    rows, always), engine-independent (same rows on any cluster layout,
    reproducible in ANSI SQL), and stable under resampling — growing k
    keeps every previously selected row (hash order is a fixed total
    order per stratum), which is what incremental mix tuning needs.

    Delegates to ``top_k_per_group`` (r12: this was a line-for-line copy
    of the former hand-rolled two-phase pattern; the optimizer's
    map-side ``WindowGroupLimit`` now provides the per-task bound — see
    topk.py's module docstring for the measured comparison). (md5(id),
    id) is a total order, so the sample is exact and layout-independent.
    """
    from mwas_rfam_spark.operators.topk import top_k_per_group

    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    return top_k_per_group(
        df, [strata_col], order, k_per_stratum, rank_col="sample_rank"
    )


def shuffle_shard(
    df: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
    with_seq: bool = True,
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-order
    writes: every row gets a ``shard`` in [0, n_shards) and (optionally) a
    ``seq`` giving its position within the shard under the shuffled order.

    The shuffle key is md5(seed || ':' || id) — engine-independent, so the
    exact shard layout is reproducible in ANSI SQL and across clusters
    (``rand(seed)`` is partition-layout sensitive; a hash of the row id is
    not). ``shard`` comes from the key's first EIGHT hex digits (32 bits)
    mod n_shards; because md5 is uniform and 2^32 >> n_shards, the modulo
    bias is < n_shards/2^32 (a 2-digit decode would systematically
    overload low shards whenever n_shards doesn't divide 256), so shards
    balance to ~|df|/n_shards without a global sort for ANY n_shards.
    Changing ``seed`` reshuffles every epoch.

    Scale shape: shard assignment is a pure projection (no shuffle at
    all); the per-shard ``seq`` is one hash-partitioned window sort —
    parallelism = n_shards, which for training-data writes is the file
    count you wanted anyway (hundreds to thousands at 100 TB). For writes
    that only need the grouping, ``with_seq=False`` keeps the plan
    shuffle-free and the writer's ``partitionBy("shard")`` does the rest.
    """
    if n_shards < 1 or n_shards > 65536:
        raise ValueError(f"n_shards must be in [1, 65536], got {n_shards}")
    from mwas_rfam_spark.functions.scalar import hex_prefix_u32

    key = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    out = df.withColumn("_shuffle_key", key).withColumn(
        "shard",
        (hex_prefix_u32(F.col("_shuffle_key")) % n_shards).cast("int"),
    )
    if with_seq:
        # the window's exchange is the writer's (n_shards, shard) layout,
        # so write_training_shards' repartition adds no second shuffle
        out = out.repartition(n_shards, "shard")
        w = Window.partitionBy("shard").orderBy(F.col("_shuffle_key"), F.col(id_col))
        out = out.withColumn("seq", F.row_number().over(w).cast("long"))
    return out.drop("_shuffle_key")


def weighted_mix_exact(
    df: DataFrame,
    strata_col: str,
    targets: dict,
    id_col: str,
) -> DataFrame:
    """Exact per-stratum mix: take EXACTLY min(targets[s], |stratum s|)
    rows from each stratum — the "40% web, 40% code, 20% books" data-mix
    primitive, with the same hash-rank determinism as
    :func:`stratified_sample_exact` (growing any stratum's target keeps
    every previously selected row; re-runs on appended data never swap
    picks).

    ``targets`` maps stratum value -> row count; strata absent from the
    map are dropped (explicit beats implicit for mix recipes). The
    per-stratum cap rides the same two-phase window shape as
    ``stratified_sample_exact`` — a task-local k-smallest-hash prefilter
    with k = max(targets) (narrow), then one exact stratum window over
    the ≤ k × n_partitions survivors — so a 3-source corpus at 100 TB is
    never 3 single-task sorts. The targets map itself is a tiny literal
    lookup (a broadcast CASE expression), not a join.
    """
    if not targets:
        raise ValueError("targets must name at least one stratum")
    bad = [k for k, v in targets.items() if v < 0]
    if bad:
        raise ValueError(f"negative targets for strata: {bad}")
    k_max = max(targets.values())
    target_expr = F.create_map(
        *[F.lit(x) for kv in targets.items() for x in kv]
    )[F.col(strata_col)]
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    # rank to the LARGEST stratum target via the shared operator (r12:
    # this was the third hand-rolled copy of the two-phase pattern),
    # then keep each stratum's own prefix
    from mwas_rfam_spark.operators.topk import top_k_per_group

    ranked = top_k_per_group(
        df.where(F.col(strata_col).isin(list(targets))),
        [strata_col],
        order,
        k_max,
        rank_col="sample_rank",
    )
    return ranked.where(F.col("sample_rank") <= target_expr)


def token_budget_mix(
    df: DataFrame,
    strata_col: str,
    budgets: dict,
    token_col: str,
    id_col: str,
) -> DataFrame:
    """Mix by TOKEN budget, not row count: per stratum, take rows in the
    deterministic hash order until the running token total first reaches
    the stratum's budget ("10B tokens web, 2B code" — the unit recipes
    are actually written in).

    The row that crosses the budget line is INCLUDED (so a budget > 0
    always yields at least one row when the stratum is non-empty, and
    the selection is a prefix of the same hash order
    :func:`stratified_sample_exact` uses — growing a budget only ever
    adds rows). Output adds ``cum_tokens``, the running total including
    the current row.

    Scale shape: one window per stratum computes the running sum in hash
    order. Unlike the k-row samplers there is no task-local prefilter
    (a token cumsum needs every earlier row), so parallelism is the
    stratum count — budget selection is meant for the final, already
    heavily-filtered mixing stage, not the raw corpus. Strata absent
    from ``budgets`` are dropped; non-positive budgets raise.
    """
    if not budgets:
        raise ValueError("budgets must name at least one stratum")
    bad = [k for k, v in budgets.items() if v <= 0]
    if bad:
        raise ValueError(f"budgets must be positive; got {bad}")
    budget_expr = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )[F.col(strata_col)]
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    w = (
        Window.partitionBy(strata_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = df.where(F.col(strata_col).isin(list(budgets))).withColumn(
        "cum_tokens", F.sum(F.col(token_col)).over(w).cast("long")
    )
    # keep every row whose PREVIOUS cumulative total was below budget —
    # i.e. the prefix through the first budget-crossing row
    return with_cum.where(
        (F.col("cum_tokens") - F.col(token_col)) < budget_expr
    )


def hash_split(
    df: DataFrame,
    fractions: dict[str, float],
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: a ``split`` column drawn
    by md5(seed:id) range partitioning of the unit interval — every row
    gets exactly one label, the SAME label on any engine, cluster
    layout, or re-run OF THIS VERSION of the operator (``randomSplit``
    is none of those: it resamples per partition layout and can
    drop/duplicate rows across actions). The 'split:'-tagged md5 key is
    part of the contract — re-deriving a split persisted under a
    different key recipe reassigns labels, so persist the assignment
    (or pin the engine version) when a holdout must survive releases.
    Growing one fraction at a fixed seed keeps previously-assigned rows
    in their split wherever interval prefixes are preserved — the same
    stability argument as ``stratified_sample_exact``.

    ``fractions`` maps label -> fraction; must sum to 1 (±1e-9).
    Assignment is a pure projection — no shuffle, no sampling pass;
    actual split sizes are binomial around n×fraction (md5 is uniform:
    deviation ~sqrt(n), negligible at corpus scale; use
    ``stratified_sample_exact`` when a split must be exactly k rows).
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    if any(f < 0 for f in fractions.values()):
        raise ValueError(f"fractions must be >= 0: {fractions}")
    from mwas_rfam_spark.functions.scalar import md5_uniform

    # 'split:' domain tag: without it this u would be the SAME draw as
    # shuffle_shard's md5('{seed}:{id}') and the DSIR Gumbel uniform at
    # equal seeds — making the test split exactly the top decile of the
    # shard/selection key (train/test leakage into top-k selection)
    u = md5_uniform(
        F.concat_ws(":", F.lit("split"), F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    expr = None
    upper = 0.0
    labels = list(fractions)
    for name in labels[:-1]:
        upper += fractions[name]
        cond = u < F.lit(upper)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(labels[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def leakage_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    fractions: dict[str, float],
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/val/test assignment that can NEVER put two near-duplicates
    on opposite sides of the split: the split unit is the duplicate
    CLUSTER, not the document. ``clusters`` is any (id, cluster_id)
    relation — `dedup_clusters` output (exact, MinHash, SimHash,
    semantic…) drops in directly; docs absent from it are their own
    singleton unit.

    Near-duplicate leakage is the standard eval failure this prevents:
    with doc-keyed hashing a template document and its near-copy land in
    train and test independently, and the model is scored on memorized
    content. Here the md5 range draw (same 'split:' domain tag and
    interval-prefix stability as `hash_split`) is keyed on
    coalesce(cluster_id, id), so every member of a cluster inherits one
    label.

    Scale shape: one broadcast-able (or hash-partitioned, if the
    cluster map is corpus-sized) left equi-join + a projection — no
    shuffle beyond the join, no sampling pass. Split sizes are binomial
    in CLUSTER counts; a pathological corpus that is one giant cluster
    ends up entirely in one split, which is exactly the correct answer.
    """
    cmap = clusters.select(
        F.col(clusters.columns[0]).alias(id_col),
        F.col("cluster_id").alias("__cluster"),
    )
    joined = docs.join(cmap, id_col, "left").withColumn(
        "__unit", F.coalesce(F.col("__cluster"), F.col(id_col))
    )
    # delegate to hash_split keyed on the unit: same validation
    # (fractions sum AND non-negativity), same 'split:' md5 domain —
    # singleton docs therefore get EXACTLY their hash_split label
    return hash_split(joined, fractions, seed=seed, id_col="__unit").drop(
        "__cluster", "__unit"
    )
