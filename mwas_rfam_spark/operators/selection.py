"""Data-selection operators: importance resampling and linear quality
scoring over hashed n-gram features.

Extension surface — the reference engine computes over whatever input it
is handed (mwas_general.py:744 reads the user CSV as-is); a 100 TB
pretraining pipeline has a step BEFORE that: choosing which slice of a
raw crawl to train on. The two standard tools:

* **DSIR-style importance resampling** (Xie et al., "Data Selection for
  Language Models via Importance Resampling", NeurIPS 2023): model the
  target corpus and the raw corpus as bag-of-hashed-n-gram
  distributions, weight every raw document by its log likelihood ratio,
  and sample proportionally to the weights. Documents that "look like"
  the target (Wikipedia, textbooks, curated data) get selected from the
  raw crawl without training a classifier.
* **Linear quality scoring** (the fastText shape — Joulin et al. 2016):
  a broadcast (bucket → weight) vector dotted with the document's
  hashed-feature counts, squashed by a sigmoid. Inference for any
  externally-trained linear text classifier.

Everything is deterministic and engine-independent by construction:
features hash through md5 (the repo-wide cross-engine recipe — see
plans/sampling.shuffle_shard), and the resampling "randomness" is the
Gumbel-top-k trick (Vieira 2014; Kool et al. 2019) keyed on
md5('dsir:{seed}:{doc_id}') — the 'dsir:' domain tag keeps the draw
independent of shuffle_shard's and hash_split's md5 keys at equal
seeds — so the exact selected set is reproducible in ANSI SQL, across
engines, and across cluster layouts (``rand(seed)`` is none of those).
The tagged key is part of the operator's contract: changing it (or
comparing against untagged draws) silently reassigns every selection.

Scale shape (the point of doing this relationally):

* the two corpus distributions are ONE aggregation each, down to
  ``n_buckets`` rows (a parameter, default 4096) — map-side combined,
  broadcast back out;
* per-document weights are one explode → broadcast-join → groupBy
  (doc_id) — a single data-sized shuffle keyed on doc_id;
* selection is a global top-k (TakeOrdered), never a full sort;
* nothing is ever collected except the two distribution totals
  (two scalars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mwas_rfam_spark.functions.scalar import md5_u32 as _md5_u32
from mwas_rfam_spark.functions.scalar import md5_uniform as _md5_uniform
from mwas_rfam_spark.operators.text import tokens, word_ngrams
from mwas_rfam_spark.pinning import overlap, pin


def _nonnull_id_guard(col: Column, caller: str, id_col: str, dtype) -> Column:
    """In-plan loud failure for NULL ids in the seeded-draw operators:
    every NULL-id row draws the identical md5 uniform (concat_ws skips
    NULLs) with a NULL tie-break, so which rows are selected becomes
    partition-order dependent — silently violating the documented
    'pure function of (corpus, seed)' contract (r12 review finding).
    Same lazy raise_error pattern as score_quality_linear's
    duplicate-bucket guard: no job runs until the caller executes."""
    return F.when(
        col.isNull(),
        F.raise_error(
            F.lit(
                f"{caller}: NULL {id_col!r} — the seeded draw needs a "
                "unique non-null id per row; fill ids first"
            )
        ).cast(dtype),
    ).otherwise(col)


def _bucket_occurrences(
    docs: DataFrame,
    n_buckets: int,
    text_col: str,
    id_col: str,
    bigrams: bool,
) -> DataFrame:
    """(doc_id, bucket), one row per n-gram OCCURRENCE — the un-aggregated
    feature stream both consumers reduce differently (the distributions
    by bucket alone, the per-doc scores by doc). Skipping the
    (doc_id, bucket) pre-aggregation removes a wide two-key shuffle the
    arithmetic never needed: Σ_occurrences f(bucket) ≡ Σ_buckets
    cnt·f(bucket), and the per-doc reduction's map-side combine already
    collapses each partition to ~one row per document."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    # lowercased tokens, as the DuckDB oracle's list_filter(
    # string_split_regex(lower(text), '\\s+'), t -> t <> '')
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    uni = F.col("__toks")
    grams = F.concat(uni, word_ngrams("__toks", 2)) if bigrams else uni
    return toked.select("doc_id", F.explode(grams).alias("gram")).select(
        "doc_id", (_md5_u32(F.col("gram")) % n_buckets).cast("int").alias("bucket")
    )


def hashed_ngram_features(
    docs: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigrams: bool = True,
) -> DataFrame:
    """(doc_id, bucket, cnt): hashed bag-of-n-grams per document —
    unigrams plus (optionally) word bigrams, md5-hashed into
    ``n_buckets``. The fixed-width feature space is what makes the
    distribution relations parameter-sized regardless of vocabulary.
    Empty documents contribute no rows (they carry no evidence either
    way; ``importance_weights`` gives them weight 0 via its left join).
    The weight/score operators below consume the occurrence stream
    directly (see ``_bucket_occurrences``); this aggregated form is the
    inspectable per-document feature relation.
    """
    return (
        _bucket_occurrences(docs, n_buckets, text_col, id_col, bigrams)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def _bucket_counts(occurrences: DataFrame) -> DataFrame:
    return occurrences.groupBy("bucket").agg(F.count("*").alias("c"))


def importance_weights(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigrams: bool = True,
) -> DataFrame:
    """(doc_id, log_weight) for every raw document: the DSIR importance
    log-weight  Σ_f cnt_f · [log p_target(f) − log p_raw(f)]  under
    add-``alpha`` smoothed hashed-n-gram distributions.

    The per-bucket log-ratio relation has at most ``n_buckets`` rows and
    broadcasts; buckets never seen in the target corpus fall back to the
    smoothing floor alpha/(T+alpha·B) via coalesce (every bucket of a
    raw document is present on the raw side by construction, so only
    the target side needs the floor). Documents with no features (empty
    text) keep log_weight 0.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    occ_raw = _bucket_occurrences(raw_docs, n_buckets, text_col, id_col, bigrams)
    occ_tgt = _bucket_occurrences(target_docs, n_buckets, text_col, id_col, bigrams)
    # pin the two ≤n_buckets-row count relations ONCE: the totals below
    # and the ratio relation then read parameter-sized state instead of
    # re-featurizing the corpora per consumer — one pass over the
    # target, two over raw (the per-doc reduction re-derives the
    # occurrence stream; at 100 TB recomputing that projection beats
    # caching a data-sized relation).
    # The two count chains read DIFFERENT corpora and share nothing, so
    # their pins overlap.
    q, p = overlap(
        [
            lambda: pin(_bucket_counts(occ_raw), "importance_weights:raw_counts"),
            lambda: pin(_bucket_counts(occ_tgt), "importance_weights:target_counts"),
        ]
    )
    # two scalars — the only driver-side values in the whole operator
    tot_q = q.agg(F.sum("c")).collect()[0][0] or 0
    tot_p = p.agg(F.sum("c")).collect()[0][0] or 0
    denom_q = float(tot_q) + alpha * n_buckets
    denom_p = float(tot_p) + alpha * n_buckets
    ratio = (
        q.join(p.withColumnRenamed("c", "cp"), "bucket", "left")
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("cp"), F.lit(0)) + F.lit(alpha)) / F.lit(denom_p))
                - F.log((F.col("c") + F.lit(alpha)) / F.lit(denom_q))
            ).alias("logratio"),
        )
    )
    # one doc-keyed shuffle: occurrence → broadcast ratio lookup → sum
    # per doc (map-side combine emits ~one partial row per doc per
    # partition, so the wire carries documents, not n-grams)
    per_doc = (
        occ_raw.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("logratio").alias("log_weight"))
    )
    ids = raw_docs.select(F.col(id_col).alias("doc_id"))
    return ids.join(per_doc, "doc_id", "left").select(
        "doc_id", F.coalesce("log_weight", F.lit(0.0)).alias("log_weight")
    )


def importance_resample(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    seed: int = 0,
    temperature: float = 1.0,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigrams: bool = True,
) -> DataFrame:
    """Select ``k`` raw documents, sampled WITHOUT replacement with
    probability ∝ exp(log_weight / temperature), via Gumbel top-k: each
    document's key is log_weight/temperature + Gumbel(0,1) noise and the
    k largest keys are exactly such a sample (Kool et al. 2019). The
    Gumbel draw is deterministic — u = (md5_32('dsir:{seed}:{id}')+0.5)
    / 2^32, g = −log(−log u) — so the selected set is a pure function of
    (corpus, seed) and replayable in SQL. ``temperature`` → 0 approaches
    hard top-k by weight; large values approach uniform sampling.

    Output: the selected documents' columns plus (log_weight,
    selection_key), ordered by selection_key descending. The plan is a
    global TakeOrdered over the weights join — no full sort.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    w = importance_weights(
        raw_docs, target_docs, n_buckets, alpha, text_col, id_col, bigrams
    )
    # 'dsir:' domain tag decorrelates this draw from shuffle_shard's
    # md5('{seed}:{id}') and hash_split's 'split:'-tagged uniform at
    # equal seeds (shared randomness would couple selection to shard or
    # split membership)
    u = _md5_uniform(
        F.concat_ws(":", F.lit("dsir"), F.lit(str(seed)), F.col("doc_id").cast("string"))
    )
    gumbel = -F.log(-F.log(u))
    # NULL ids break the determinism contract twice over: the inner
    # join with the weights relation silently drops them (while
    # importance_weights reports them eligible at log_weight 0), and
    # the seeded draw would be identical for every NULL-id row. Refuse
    # in-plan (r12 review finding).
    raw_keyed = raw_docs.withColumnRenamed(id_col, "doc_id").withColumn(
        "doc_id",
        _nonnull_id_guard(
            F.col("doc_id"),
            "importance_resample",
            id_col,
            raw_docs.schema[id_col].dataType,
        ),
    )
    keyed = raw_keyed.join(w, "doc_id").withColumn(
        "selection_key", F.col("log_weight") / F.lit(float(temperature)) + gumbel
    )
    out = keyed.orderBy(F.desc("selection_key"), F.asc("doc_id")).limit(k)
    # hand back the caller's own id column name (r12 review finding:
    # the internal rename leaked into the output)
    return out.withColumnRenamed("doc_id", id_col) if id_col != "doc_id" else out


def score_quality_linear(
    docs: DataFrame,
    weights: DataFrame,
    bias: float = 0.0,
    n_buckets: int = 4096,
    threshold: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigrams: bool = True,
    strict: bool = False,
) -> DataFrame:
    """(doc_id, score[, keep]): fastText-shaped linear classifier
    inference — the document's hashed-feature counts are AVERAGED
    against a broadcast (bucket, weight) vector and squashed:
    score = sigmoid(bias + Σ cnt·w / Σ cnt). ``weights`` is the trained
    model (at most ``n_buckets`` rows — training happens wherever the
    labels live; this is the 100 TB inference pass). Featureless (empty)
    documents score sigmoid(bias). With ``threshold`` a boolean ``keep``
    column is added — ``score >= threshold`` by default, ``score >
    threshold`` with ``strict=True``. Pass ``strict=True`` whenever the
    threshold came from ``threshold_at_quantile``: the sketch returns a
    member of the score distribution, so the inclusive comparison would
    also keep every row tied with the cutoff itself and overshoot
    ``keep_frac``.

    ``weights`` must be unique per bucket (fails at execution
    otherwise): a duplicated bucket row would fan out the broadcast
    join and silently inflate both Σ cnt·w and Σ cnt for every document
    touching that bucket. The check is IN-PLAN (a window count over the
    parameter-sized weights relation feeding raise_error), so building
    the plan stays lazy — no Spark job runs until the caller executes.
    """
    from pyspark.sql import Window

    dup_n = F.count("*").over(Window.partitionBy("bucket"))
    # same in-plan loud-failure treatment for a bucket OUTSIDE
    # [0, n_buckets): such a row can never match any occurrence (they
    # are md5 % n_buckets), which is the signature of a model trained
    # at a different bucket count — half the weights would silently
    # vanish from the join and every score drift toward sigmoid(bias)
    # (r12 review finding)
    # isNull too (r13 review finding): a NULL bucket made out_of_range
    # NULL, fell through to otherwise(weight), and the equi-join then
    # silently dropped the row — the exact weights-silently-vanish
    # failure this guard exists to catch
    out_of_range = (
        F.col("bucket").isNull()
        | (F.col("bucket") < 0)
        | (F.col("bucket") >= n_buckets)
    )
    weights = weights.withColumn(
        "weight",
        F.when(
            dup_n > 1,
            F.raise_error(
                F.lit("score_quality_linear: weights relation has duplicate bucket rows")
            ).cast("double"),
        )
        .when(
            out_of_range,
            F.raise_error(
                F.lit(
                    "score_quality_linear: weights relation has NULL or "
                    f"out-of-[0, {n_buckets}) bucket ids — was the model "
                    "trained with a different n_buckets?"
                )
            ).cast("double"),
        )
        .otherwise(F.col("weight")),
    )
    # the NULL refusal must ride the JOIN KEY, not the weight value:
    # Catalyst filters null-keyed build rows out BEFORE projecting
    # their columns, so a raise_error inside the weight expression
    # never evaluates for exactly the row it guards (r13 review
    # finding, execution-confirmed by the regression test)
    weights = weights.withColumn(
        "bucket",
        F.when(
            F.col("bucket").isNull(),
            F.raise_error(
                F.lit(
                    "score_quality_linear: weights relation has a NULL "
                    "bucket id — the weight would silently never apply"
                )
            ).cast(dict(weights.dtypes)["bucket"]),
        ).otherwise(F.col("bucket")),
    )
    occ = _bucket_occurrences(docs, n_buckets, text_col, id_col, bigrams)
    scored = (
        occ.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.coalesce(F.col("weight"), F.lit(0.0))) / F.count("*")
            ).alias("dot")
        )
    )
    ids = docs.select(F.col(id_col).alias("doc_id"))
    out = ids.join(scored, "doc_id", "left").select(
        "doc_id",
        (
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.lit(float(bias)) + F.coalesce("dot", F.lit(0.0)))))
        ).alias("score"),
    )
    if threshold is not None:
        cut = F.lit(float(threshold))
        out = out.withColumn(
            "keep", F.col("score") > cut if strict else F.col("score") >= cut
        )
    return out


def threshold_at_quantile(
    scored: DataFrame,
    keep_frac: float,
    score_col: str = "score",
    accuracy: int = 10_000,
) -> float:
    """Calibrate a score cutoff from the corpus itself: the threshold
    keeping (approximately) the top ``keep_frac`` of rows by
    ``score_col``. One Greenwald–Khanna sketch aggregation
    (`approx_percentile`, rank error <= 1/``accuracy``) — the standard
    move when the mandate is "keep the best 30%" rather than an
    absolute score bar, and the score distribution shifts per corpus.
    Returns a plain float (a parameter, not data). Filter with
    ``score > threshold`` (strict): the sketch returns a nearest-rank
    member of the distribution, so ``>=`` would also keep every row
    tied with the cutoff itself. When feeding this into
    ``score_quality_linear`` or ``curate_corpus``, pass their
    ``strict=True`` / ``quality_model_strict=True`` flag so the gate
    applies the same strict comparison."""
    if not (0.0 < keep_frac <= 1.0):
        raise ValueError(f"keep_frac must be in (0, 1]: {keep_frac}")
    if keep_frac == 1.0:
        # the sketch would return the min score and the strict > filter
        # would then drop every minimum-tied row. -inf keeps every row
        # with a comparable score; a score domain containing -inf or
        # NULL cannot express keep-all as ANY threshold — skip the
        # filter entirely in that case
        return float("-inf")
    row = scored.agg(
        F.approx_percentile(
            F.col(score_col), F.lit(1.0 - keep_frac), F.lit(accuracy)
        ).alias("cut")
    ).collect()[0]
    return float(row["cut"]) if row["cut"] is not None else float("-inf")


def _source_counts(docs: DataFrame, source_col: str, caller: str) -> dict:
    """Per-source row counts collected to the driver (sources are
    domains — a small relation by assumption) — ONE definition shared
    by temperature_mix and mix_report so the CLI can run the
    aggregation job once and feed both."""
    counts = {
        r["s"]: r["n"]
        for r in docs.groupBy(F.col(source_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if None in counts:
        raise ValueError(f"{caller}: NULL source values present")
    return counts


def _mix_plan(
    counts: dict, alpha: float, n_target: int, allow_upsample: bool
) -> list:
    """(source, full_passes, remainder) per source — the one place the
    upsample cap is applied, so the report and the mix can't disagree."""
    targets = _mix_targets(counts, alpha, n_target)
    plan = []
    for s, t in targets.items():
        full, rem = divmod(t, counts[s])
        if not allow_upsample and full >= 1:
            full, rem = 1, 0
        plan.append((s, full, rem))
    return plan


def _mix_targets(counts: dict, alpha: float, n_target: int) -> dict:
    """Largest-remainder apportionment of ``n_target`` rows across
    sources with mixture weight n_s^alpha — exact: the targets sum to
    ``n_target`` precisely (plain rounding can be off by ±|sources|)."""
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    # guard the one shared entry (mix AND report flow through here): a
    # negative target fell through Python floor-division as
    # (full=-1, rem>0) and EMITTED rows with copy=-1 (r12 review
    # finding, execution-confirmed)
    if n_target < 0:
        raise ValueError(f"target_rows must be >= 0, got {n_target}")
    # counts may be caller-supplied (temperature_mix/mix_report expose
    # the parameter): a zero/negative count used to surface as a bare
    # ZeroDivisionError from divmod deep in _mix_plan — and at alpha=0,
    # 0**0 == 1.0 would even ALLOCATE rows to the empty source (r13
    # review finding)
    bad = {s: n for s, n in counts.items() if not n >= 1}
    if bad:
        raise ValueError(
            f"source counts must be >= 1, got {bad} — drop empty "
            "sources before mixing"
        )
    w = {s: float(n) ** alpha for s, n in counts.items()}
    tot = sum(w.values())
    raw = {s: n_target * w[s] / tot for s in w}
    t = {s: int(raw[s]) for s in raw}
    short = n_target - sum(t.values())
    if short < 0:  # pragma: no cover - needs ~1e12-scale FP rounding
        # floating-point error can push int(raw) UP across an integer
        # boundary at huge n_target; the old [:short] slice with a
        # negative short then ADDED 1 to all-but-|short| sources,
        # amplifying the overshoot instead of correcting it (r13
        # review finding) — walk the overshoot back off the
        # smallest-remainder sources instead
        for s in sorted(raw, key=lambda s: (raw[s] - t[s], str(s)))[:-short]:
            t[s] -= 1
        short = 0
    # deterministic tie-break: remainder desc, then source asc
    for s in sorted(raw, key=lambda s: (-(raw[s] - t[s]), str(s)))[:short]:
        t[s] += 1
    return t


def temperature_mix(
    docs: DataFrame,
    alpha: float = 0.5,
    target_rows: int | None = None,
    source_col: str = "source",
    seed: int = 0,
    id_col: str = "doc_id",
    allow_upsample: bool = True,
    counts: dict | None = None,
) -> DataFrame:
    """Temperature-based source rebalancing — the standard LLM-mixture
    move (GPT-3's dataset weights, PaLM/mT5's alpha-scaled language
    sampling): source ``s`` with ``n_s`` documents contributes
    ``target_rows × n_s^alpha / Σ n^alpha`` rows. ``alpha=1`` keeps
    natural proportions; ``alpha=0`` equalizes sources; between, small
    sources are boosted sub-linearly.

    Exact and deterministic: per-source targets come from
    largest-remainder apportionment (they SUM to ``target_rows``
    exactly), and the within-source sample is the bottom-``rem`` rows
    by the seeded draw md5('mix:{seed}:{id}') — a pure function of
    (corpus, seed), SQL-replayable, domain-tagged so equal seeds don't
    couple this draw to hash_split ('split:') or DSIR ('dsir:').
    When a boosted source's target exceeds its size, the source is
    repeated whole ``target // n_s`` times plus a sampled remainder
    (``allow_upsample=False`` caps at one full pass instead); output
    rows carry a ``copy`` index (0-based pass number) so downstream
    epoch logic can tell replicas apart.

    Scale shape: one map-side-combinable count per source (source
    cardinality is assumed small — domains, not documents; the targets
    are driver math on that tiny relation), one two-phase per-group
    bottom-k (`top_k_per_group` — the optimizer's WindowGroupLimit
    bounds the shuffle; r12 dropped the hand-rolled prefilter after it
    benchmarked strictly worse),
    and a broadcast join of the per-source plan. No full sort, no
    driver-sized collect. ``counts`` accepts a precomputed
    {source: n_docs} map (e.g. shared with :func:`mix_report`) to skip
    the aggregation job.

    Related primitive: `plans.sampling.weighted_mix_exact` takes an
    EXPLICIT {stratum: rows} recipe and caps at stratum size (no
    temperature, no repetition) — use it when the mix is handed to you;
    use this when the mix is derived from corpus proportions and small
    sources may need repeat epochs.
    """
    if counts is None:
        counts = _source_counts(docs, source_col, "temperature_mix")
    if not counts:
        return docs.withColumn("copy", F.lit(0)).limit(0)
    total = sum(counts.values())
    n_target = total if target_rows is None else int(target_rows)
    plan = _mix_plan(counts, alpha, n_target, allow_upsample)
    spark = docs.sparkSession
    # build the tiny plan relation with STRING keys (native values of a
    # non-string source would fail createDataFrame's schema verification
    # before any cast could run), then cast back to the input's type
    plan_df = spark.createDataFrame(
        [(str(s), full, rem) for s, full, rem in plan],
        f"`{source_col}` string, __full int, __rem int",
    ).withColumn(source_col, F.col(source_col).cast(docs.schema[source_col].dataType))

    from mwas_rfam_spark.operators.topk import top_k_per_group

    max_rem = max((rem for _, _, rem in plan), default=0)
    u = _md5_uniform(
        F.concat_ws(
            ":", F.lit("mix"), F.lit(str(seed)), F.col(id_col).cast("string")
        )
    )
    # NULL ids would all draw the identical seeded uniform with a NULL
    # tie-break — selection becomes partition-order dependent (r12
    # review finding; same guard as importance_resample)
    docs = docs.withColumn(
        id_col,
        _nonnull_id_guard(
            F.col(id_col), "temperature_mix", id_col, docs.schema[id_col].dataType
        ),
    )
    keyed = docs.join(F.broadcast(plan_df), source_col)
    if max_rem > 0:
        # rem=0 sources (capped, or targets dividing evenly) contribute
        # nothing to the sampled remainder — keep their rows out of both
        # window sorts instead of ranking and then discarding them (r12
        # review finding)
        ranked = top_k_per_group(
            keyed.where(F.col("__rem") > 0).withColumn("__u", u),
            [source_col],
            [F.asc("__u"), F.asc(id_col)],
            max_rem,
            rank_col="__rank",
        )
        partial = (
            ranked.where(F.col("__rank") <= F.col("__rem"))
            .withColumn("copy", F.col("__full"))
            .drop("__u", "__rank")
        )
    else:
        partial = keyed.withColumn("copy", F.col("__full")).limit(0)
    whole = keyed.withColumn(
        "copy",
        F.explode(
            F.when(
                F.col("__full") > 0, F.sequence(F.lit(0), F.col("__full") - 1)
            ).otherwise(F.array().cast("array<int>"))
        ),
    )
    return whole.unionByName(partial).drop("__full", "__rem")


def mix_report(
    docs: DataFrame,
    alpha: float = 0.5,
    target_rows: int | None = None,
    source_col: str = "source",
    allow_upsample: bool = True,
    counts: dict | None = None,
) -> DataFrame:
    """The accounting side of :func:`temperature_mix`: one row per
    source with its natural share, the EFFECTIVE row target (after the
    same upsample cap the mix itself applies — the report and the mix
    derive from one shared plan and cannot disagree), and the implied
    epoch count (>1 means the source repeats). Drives the 'is alpha
    reasonable' review before a mix job is launched. Pass the same
    ``counts`` map to both functions to run the counting job once."""
    if counts is None:
        counts = _source_counts(docs, source_col, "mix_report")
    total = sum(counts.values())
    n_target = total if target_rows is None else int(target_rows)
    plan = _mix_plan(counts, alpha, n_target, allow_upsample)
    effective = {s: full * counts[s] + rem for s, full, rem in plan}
    eff_total = sum(effective.values())
    rows = [
        (
            str(s),
            counts[s],
            counts[s] / total,
            effective[s],
            effective[s] / eff_total if eff_total else 0.0,
            effective[s] / counts[s],
        )
        for s in sorted(counts, key=str)
    ]
    return docs.sparkSession.createDataFrame(
        rows,
        f"`{source_col}` string, n_docs long, natural_share double, "
        "target_rows long, mixed_share double, epochs double",
    )
