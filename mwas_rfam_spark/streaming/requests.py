"""Structured Streaming extension (SURVEY.md §2.10).

The reference has no streaming — its Flask server (server.py:14-58)
processes one POST synchronously. This module is the beyond-parity
replacement: a file-drop request queue (JSON observation batches landing
in a directory) processed incrementally, plus a windowed event rollup
demonstrating watermark/window semantics over the events table shape.
"""

from __future__ import annotations

import re
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG
from ..operators.mwas import resolve_and_normalize
from ..pinning import held
from ..sources import storage


REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.StringType(), False),
        T.StructField("run", T.StringType(), False),
        T.StructField("group", T.StringType(), False),
        T.StructField("quantifier", T.DoubleType(), True),
    ]
)


def read_request_stream(spark: SparkSession, drop_dir: str) -> DataFrame:
    """File-drop request source: JSON-lines observation batches."""
    return spark.readStream.schema(REQUEST_SCHEMA).json(drop_dir)


def rpm_rollup_stream(
    requests: DataFrame, catalog_df: DataFrame, cfg=None
) -> DataFrame:
    """Incremental stage-1 MWAS: resolve+normalize each micro-batch and
    maintain per-(request, bioproject, group, biosample) RPM aggregates.
    The static catalog joins stream-static (no state needed for the dim).
    The resolve IS batch ``resolve_and_normalize`` (``request_id`` rides
    through it), so stream==batch parity holds under ANY ``cfg``."""
    return (
        resolve_and_normalize(requests, catalog_df, cfg or DEFAULT_CONFIG)
        .groupBy("request_id", "bio_project", "group", "bio_sample")
        .agg(F.avg("rpm").alias("rpm"), F.count("*").alias("n_runs"))
    )


def windowed_event_rollup(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked sliding-window aggregate over a (ts, event_type, value)
    stream — late data beyond the watermark is dropped, state is bounded."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionized_event_rollup(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session-window aggregate: events for a key are grouped into
    dynamic windows that extend while successive events arrive within
    ``gap`` of each other and close after a quiet period — the
    user-session / burst-detection primitive tumbling windows can't
    express. Native ``F.session_window`` (merging-window state in the
    streaming engine, plain groupBy in batch — the same function works
    in both, parity-tested). Watermark bounds the open-session state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


ROLLUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cnt", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)

ROLLUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("bio_project", T.StringType()),
        T.StructField("group", T.StringType()),
        T.StructField("bio_sample", T.StringType()),
        T.StructField("rpm", T.DoubleType()),
        T.StructField("n_runs", T.LongType()),
    ]
)


def incremental_rollup_stream(resolved: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running mean RPM
    per (bio_project, group, bio_sample) maintained ACROSS micro-batches.

    This is the streaming form of biosample_rollup (A4): each arriving
    observation folds into per-key (count, sum) state — O(1) state per
    key, no re-aggregation of history — and the operator emits the
    updated running mean for keys touched by the batch. State lives in
    the Spark state store (checkpointed, partitioned by key hash), so it
    scales out with executors.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key: tuple, pdfs, state: GroupState):
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += int(len(pdf))
            # skipna=False (r13 review finding): pandas' default sum
            # SKIPS NaN while len() counts the row, so one NaN rpm
            # silently DILUTED the running mean forever; batch F.avg
            # propagates NaN, and with the NULL-rpm pre-filter below the
            # only NaNs reaching this fold are genuine NaN values.
            # (Representation note: the poisoned mean EMITS as NULL —
            # Arrow treats pandas NaN as the null sentinel on the way
            # out — where batch F.avg shows NaN; both read "undefined",
            # neither is a diluted number.)
            total += float(pdf["rpm"].sum(skipna=False))
        state.update((cnt, total))
        bp, group, bs = key
        yield pd.DataFrame(
            {
                "bio_project": [bp],
                "group": [group],
                "bio_sample": [bs],
                "rpm": [total / cnt if cnt else 0.0],
                "n_runs": [cnt],
            }
        )

    # NULL rpm rows are skipped by batch F.avg but are indistinguishable
    # from NaN after Arrow conversion (both arrive as nan in the float
    # column) — filter them Spark-side so the fold's skipna=False only
    # ever poisons on GENUINE NaN, exactly like F.avg
    return (
        resolved.where(F.col("rpm").isNotNull())
        .groupBy("bio_project", "group", "bio_sample")
        .applyInPandasWithState(
            update,
            ROLLUP_OUT_SCHEMA,
            ROLLUP_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def resolve_stream(
    requests: DataFrame, catalog_df: DataFrame, cfg=None
) -> DataFrame:
    """Stage-1 resolve+normalize for a request stream (stream-static join
    against the catalog dim; no state required) — batch
    ``resolve_and_normalize`` under the same ``cfg``."""
    return resolve_and_normalize(requests, catalog_df, cfg or DEFAULT_CONFIG).select(
        "bio_project", "group", "bio_sample", "rpm"
    )


def streaming_exact_dedup(
    docs: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup for a document ingest stream: content-hash
    the normalized text and keep only the first occurrence within the
    watermark (dropDuplicatesWithinWatermark keeps the state store
    bounded — a key is forgotten once the watermark passes it, unlike an
    unbounded dropDuplicates).
    """
    from ..operators.dedup import normalize_text

    hashed = docs.withColumn("content_hash", F.md5(normalize_text(F.col(text_col))))
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def serve_request(
    spark: SparkSession,
    rows: list[dict],
    catalog_df: DataFrame,
    sets_df: DataFrame,
    ref_df: DataFrame,
    cfg=None,
) -> DataFrame:
    """§3.2 server mode, end to end: a JSON request body through the FULL
    MWAS pipeline, returning the 18-column result relation. Unlike the
    reference's fire-and-forget POST (server.py:55 returns only an exit
    status), the caller gets the results to serve back."""
    from ..operators.mwas import run_mwas
    from ..sources.readers import input_from_rows

    df = input_from_rows(spark, rows)
    return run_mwas(df, catalog_df, sets_df, ref_df, cfg or DEFAULT_CONFIG)


def streaming_curate(
    docs: DataFrame,
    watermark: str = "1 hour",
    min_tokens: int = 5,
    max_tokens: int = 1_000_000,
    redact: bool = True,
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Streaming document curation: the stateless slice of
    :func:`operators.curation.curate_corpus` as an ingest stream —
    quality gate (pure projection), keep-first exact dedup within the
    watermark (bounded state), PII redaction (codegen'd regexp chain).

    Benchmark decontamination and epoch sharding are deliberately batch
    stages: they need a global view (eval shingle set / total order) and
    belong after the stream lands. Parity with the batch pipeline: same
    content groups survive, but streaming keeps each group's FIRST
    ARRIVAL (processing order) where batch keep-first keeps the min id,
    and streaming forgets dedup keys once the watermark passes them —
    both relations pinned by the parity test.
    """
    from ..operators.text import redact_pii, token_count

    toks = token_count(F.col(text_col))
    gated = docs.where((toks >= min_tokens) & (toks <= max_tokens))
    deduped = streaming_exact_dedup(gated, watermark, ts_col=ts_col, text_col=text_col)
    if redact:
        deduped = deduped.withColumn(text_col, redact_pii(F.col(text_col)))
    # drop the dedup-internal hash like batch curate_corpus drops its
    # _hash columns — the leaked column diverged from the batch schema
    # AND carried a PRE-redaction content fingerprint of redacted text
    # (r12 review finding)
    return deduped.drop("content_hash")


def _windowed_psi(
    events: DataFrame,
    matches: list,
    props: list[float],
    window: str,
    watermark: str,
    eps: float,
    psi_threshold: float,
) -> DataFrame:
    """Shared windowed-PSI tail for the categorical and numeric
    monitors: one watermarked windowed aggregation with a conditional
    sum per fixed bucket (``matches[i]`` must be a never-NULL boolean
    Column; the buckets must partition every row), PSI in the
    projection."""
    conds = [F.sum(F.when(m, 1).otherwise(0)) for m in matches]
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"))
        .agg(
            F.count("*").alias("n"),
            *[c.alias(f"__b{i}") for i, c in enumerate(conds)],
        )
    )
    n = F.col("n").cast("double")
    psi = None
    for i, p_base in enumerate(props):
        p_win = F.col(f"__b{i}") / n + F.lit(eps)
        p_b = F.lit(p_base + eps)
        term = (p_win - p_b) * F.log(p_win / p_b)
        psi = term if psi is None else psi + term
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "n",
        F.round(psi, 9).alias("psi"),
        (psi > F.lit(psi_threshold)).alias("flagged"),
    )


def windowed_psi_stream(
    events: DataFrame,
    baseline,
    category_col: str = "event_type",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    eps: float = 1e-6,
    psi_threshold: float = 0.25,
) -> DataFrame:
    """Per-window population-stability drift vs a FIXED baseline →
    (window_start, window_end, n, psi, flagged).

    The live-monitoring form of ``operators.drift.categorical_drift``:
    PSI buckets are frozen at baseline time (the standard monitoring
    convention — the baseline IS the bucket schema), so the whole
    computation is ONE watermarked windowed aggregation with a
    conditional sum per baseline category plus an ``__other__`` bucket
    for categories the baseline never saw; the PSI formula then runs in
    the projection over those fixed columns. No second stateful
    aggregation, so the query is append-mode legal; the same function
    on a batch DataFrame computes identical rows (parity-tested).

    ``baseline`` is a (category, n) DataFrame or a {category: n}
    mapping; it is parameter-sized (one row per bucket) and is folded
    into the plan as literals. NULL categories are a bucket of their
    own on both sides.
    """
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    if isinstance(baseline, DataFrame):
        rows = [(r[0], r[1]) for r in baseline.collect()]
    else:
        rows = list(dict(baseline).items())
    # SUM duplicate category rows (an un-aggregated baseline is
    # legitimate input) — a last-wins dict would silently skew every
    # bucket's proportion
    base_counts: dict = {}
    for c, n_ in rows:
        # a NULL count raised an opaque TypeError below; a negative one
        # silently NaN'd every window's psi (r12 review finding)
        if n_ is None or n_ < 0:
            raise ValueError(
                f"baseline count for category {c!r} must be a "
                f"non-negative number, got {n_!r}"
            )
        base_counts[c] = base_counts.get(c, 0) + n_
    if not base_counts:
        raise ValueError("baseline has no categories")
    total = float(sum(base_counts.values()))
    if total <= 0:
        raise ValueError("baseline counts sum to zero")
    props = {k: v / total for k, v in base_counts.items()}

    cat = F.col(category_col)
    buckets: list[tuple[str | None, float]] = list(props.items())
    # per-bucket membership via NULL-SAFE comparisons: `cat == lit(c)`
    # is NULL (not False) for NULL categories under three-valued logic,
    # which would drop NULL events from every bucket including
    # __other__ — eqNullSafe/isNull never evaluate to NULL, so the
    # negated disjunction below routes anything unmatched (NULLs
    # included, when the baseline has no NULL bucket) to __other__
    matches = [
        cat.isNull() if c is None else cat.eqNullSafe(F.lit(c)) for c, _p in buckets
    ]
    any_match = matches[0]
    for m in matches[1:]:
        any_match = any_match | m
    matches.append(~any_match)
    props_list = [p for _c, p in buckets] + [0.0]  # __other__
    return _windowed_psi(
        events, matches, props_list, window, watermark, eps, psi_threshold
    )


def windowed_numeric_psi_stream(
    events: DataFrame,
    baseline: DataFrame,
    value_col: str = "value",
    bins: int = 10,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    eps: float = 1e-6,
    psi_threshold: float = 0.25,
    relative_error: float = 0.001,
) -> DataFrame:
    """Numeric twin of :func:`windowed_psi_stream`: PSI per window over
    FROZEN baseline-quantile bins (the streaming form of
    ``operators.drift.binned_numeric_drift``). Bin edges come from one
    ``percentile_approx`` sketch over the baseline (a batch relation);
    each stream row then routes to a bucket with pure arithmetic —
    never-NULL conditions, NULLs in their own bucket — and the shared
    windowed-aggregation tail does the rest. Same rows in batch and
    stream."""
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    # edges + NULL/NaN-to-bucket(-1) rule + bins/relative_error
    # validation shared with the batch monitor (r12: the hand-copies
    # had diverged — the relative_error guard existed here only)
    from ..operators.drift import baseline_quantile_bucket

    edges, bucket_of = baseline_quantile_bucket(
        baseline, value_col, bins, relative_error
    )
    v = F.col(value_col)
    # baseline proportions over the SAME frozen buckets
    base_counts = {
        r["b"]: r["n"]
        for r in baseline.select(bucket_of.alias("b")).groupBy("b").count()
        .withColumnRenamed("count", "n").collect()
    }
    total = float(sum(base_counts.values()))
    n_buckets = len(edges) + 1
    # matcher 0 must be EXACTLY bucket -1's membership (NULL or NaN
    # under the shared rule), or stream rows would bucket differently
    # than the frozen baseline proportions
    matches = [bucket_of.eqNullSafe(F.lit(-1))] + [
        bucket_of.eqNullSafe(F.lit(i)) for i in range(n_buckets)
    ]
    props = [base_counts.get(-1, 0) / total] + [
        base_counts.get(i, 0) / total for i in range(n_buckets)
    ]
    return _windowed_psi(
        events, matches, props, window, watermark, eps, psi_threshold
    )


def streaming_minhash_dedup(
    docs_stream: DataFrame,
    state_dir: str,
    output_dir: str,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming NEAR-dup dedup of a document ingest stream — the fuzzy
    complement of :func:`streaming_exact_dedup`, built the way a 100 TB
    pipeline actually runs it: ``foreachBatch`` over the pinned batch
    kernel (`operators.dedup.incremental_minhash_dedup`), with the LSH
    band-bucket state as a band-partitioned parquet table instead of the
    state store.

    Why not ``applyInPandasWithState``: a document occupies ``bands``
    bucket keys and is dropped iff ANY of them collides, so per-key
    state would need a second stateful per-doc reduction behind the
    first (legal in append mode but emission then waits on the
    watermark), and the state store would hold the bucket universe —
    unbounded and unqueryable. The state TABLE is the better trade:
    the probe is the same band+bucket co-located semi-join as the batch
    path, state survives restarts for free, and any engine can inspect
    it.

    Exactly-once shape (foreachBatch is at-least-once, so BOTH sides
    must be replay-safe): survivors land at
    ``{output_dir}/ingest_batch=<id>`` and the batch's bucket delta at
    ``{state_dir}/ingest_batch=<id>``, each with per-batch OVERWRITE —
    and the probe EXCLUDES the current batch id from the state read, so
    a replay after a crash between the two writes re-derives the same
    survivor set instead of seeing its own first attempt's buckets as
    prior corpus (which would drop every survivor and overwrite the
    output with nothing). The per-batch state partitions stay distinct
    by construction (a survivor's buckets are absent from prior state
    and claimed once per batch under the keep-first rule).

    State-dir maintenance: do NOT run a generic ``compact_files`` pass
    over ``state_dir`` — merging ``ingest_batch=`` partitions across
    batch ids would break the current-batch exclusion above for any
    batch that can still replay. Use :func:`compact_minhash_state`
    with the stream's last COMMITTED batch id
    (:func:`last_committed_batch`): it folds only partitions whose
    batch can never re-run into a frozen negative-id partition that no
    live exclusion ever matches.

    Returns the configured ``DataStreamWriter`` (caller adds trigger /
    checkpoint and ``.start()``).
    """
    from ..operators.dedup import incremental_minhash_dedup

    stamp_ok = []  # memoized: the stamp and params are immutable, so
    # after one successful check the per-trigger Spark JSON read is
    # pure overhead (r12 review finding)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not stamp_ok:
            _verify_banding_stamp(spark, state_dir, num_hashes, bands, n)
            stamp_ok.append(True)
        # ONLY no-state-yet shapes may pass (storage.missing_ok): missing
        # dir (first batch) or existing-but-empty dir (crash before any
        # batch committed). A corrupt state table must FAIL the batch —
        # silently proceeding stateless would emit near-dups of the
        # whole corpus history as survivors.
        seen = storage.missing_ok(
            lambda: spark.read.parquet(state_dir)
            .where(F.col("ingest_batch") != batch_id)  # replay safety
            .select("band", "bucket")
        )
        survivors, _updated, delta = incremental_minhash_dedup(
            batch_df, seen, num_hashes, bands, n, text_col, id_col,
            with_delta=True,
        )
        survivors.write.mode("overwrite").parquet(
            f"{output_dir}/ingest_batch={batch_id}"
        )
        delta.write.partitionBy("band").mode("overwrite").parquet(
            f"{state_dir}/ingest_batch={batch_id}"
        )

    return docs_stream.writeStream.foreachBatch(_process)


_BANDING_STAMP_SCHEMA = "banding_version int, num_hashes int, bands int, n int"


def _verify_banding_stamp(
    spark: SparkSession,
    state_dir: str,
    num_hashes: int | None,
    bands: int | None,
    n: int | None,
) -> None:
    """Refuse to probe a band-bucket state dir written under a DIFFERENT
    banding scheme (r12 stretch, extending r11's single-definition
    guarantee): the stored (band, bucket) keys are a pure function of
    the banding version (``operators.dedup.BANDING_VERSION`` — the
    canonicalization/shingle/minhash/bucket-hash covenant) and the
    num_hashes/bands/n parameters, so a changed scheme never collides
    with historical buckets — every near-dup of the corpus history
    would silently pass as novel. The stamp lives at
    ``{state_dir}/_banding`` (underscore-prefixed: invisible to the
    state table's own parquet reads); a stamp-less dir (legacy, or
    first batch) is stamped and protected from that point on. The
    compactor passes None parameters to verify the version only."""
    from ..operators.dedup import BANDING_VERSION

    path = f"{state_dir}/_banding"
    want = {
        "banding_version": BANDING_VERSION,
        "num_hashes": num_hashes,
        "bands": bands,
        "n": n,
    }
    got = storage.missing_ok(
        lambda: spark.read.schema(_BANDING_STAMP_SCHEMA).json(path).collect()
    ) or []
    if got:
        if got[0]["banding_version"] is None:
            # a truncated/hand-edited stamp parses PERMISSIVE to an
            # all-NULL row; silently accepting it would permanently
            # disable the guard (r12 review finding) — refuse instead
            raise ValueError(
                f"corrupt banding stamp at {path!r} (unparseable or "
                "missing banding_version) — restore it or delete the "
                "file AND rebuild the state"
            )
        # a stored NULL for a parameter we're checking is a CORRUPT
        # stamp, not a free pass: the old `stored is not None` filter
        # silently skipped the comparison, so a truncated stamp that
        # kept banding_version but lost num_hashes/bands/n permanently
        # disabled the very guard it feeds (r13 review finding — same
        # class as the all-NULL refusal above)
        torn = [
            k for k, v in want.items() if v is not None and got[0][k] is None
        ]
        if torn:
            raise ValueError(
                f"corrupt banding stamp at {path!r} (missing stored "
                f"field(s) {torn}) — restore it or delete the file AND "
                "rebuild the state"
            )
        bad = {
            k: (got[0][k], v)
            for k, v in want.items()
            if v is not None and got[0][k] != v
        }
        if bad:
            raise ValueError(
                f"banding-scheme mismatch for state dir {state_dir!r}: "
                + ", ".join(
                    f"{k}: stored={s} requested={w}" for k, (s, w) in bad.items()
                )
                + " — stored band buckets were derived under a different "
                "scheme and can never match these probes; rebuild the "
                "state (or restart with the stored parameters)"
            )
        return
    if num_hashes is None:
        return  # version-only check (compactor) on a stamp-less dir
    spark.createDataFrame(
        [(BANDING_VERSION, num_hashes, bands, n)], _BANDING_STAMP_SCHEMA
    ).coalesce(1).write.mode("overwrite").json(path)


def last_committed_batch(spark: SparkSession, checkpoint_dir: str) -> int | None:
    """Highest batch id with a commit marker in a Structured Streaming
    checkpoint (``{checkpoint}/commits/<id>`` — written only after
    foreachBatch returned successfully, so a committed batch can never
    re-run; the at-least-once replay window is exactly the ids above
    this). Returns None for a checkpoint that has committed nothing."""
    commits = storage.list_dir(spark, f"{checkpoint_dir}/commits")
    return max((int(name) for name, _ in commits if name.isdigit()), default=None)


#: layout manifest written by the per-batch state COMPACTOR at the state
#: dir root (underscore-prefixed: Spark's file index ignores it as a
#: metadata file). Stamps the dir's merged schema (DDL) plus the
#: compaction watermark it covers, so readers can skip the per-read
#: O(#files) ``mergeSchema`` footer scan: partitions at or below the
#: watermark are schema-covered by the stamp; only the raw tail written
#: SINCE the compaction (usually a handful of partitions, zero right
#: after compaction) still needs a footer merge — which preserves the
#: mid-stream schema-upgrade contract exactly (an upgraded tail batch's
#: new columns still surface). Readers fall back to the full footer
#: merge when the manifest is absent or unreadable (r14 opt round,
#: guide §6 file listing / table-format manifests).
_LAYOUT_MANIFEST = "_layout_manifest.json"


def _write_layout_manifest(spark: SparkSession, state_dir: str, covers_up_to: int) -> None:
    """Stamp the state dir's CURRENT merged schema + watermark. One
    mergeSchema footer pass at compaction time buys every subsequent
    read out of its own; written through ``storage.write_bytes`` so
    readers never see a torn manifest, and best-effort (a failure just
    leaves readers on the footer-merge path)."""
    import json

    try:
        schema_json = (
            spark.read.option("mergeSchema", "true").parquet(state_dir).schema.json()
        )
        blob = json.dumps(
            {"version": 1, "covers_up_to": covers_up_to, "schema_json": schema_json}
        ).encode()
        storage.write_bytes(spark, f"{state_dir}/{_LAYOUT_MANIFEST}", blob)
    except Exception:
        pass


def _read_layout_manifest(spark: SparkSession, state_dir: str) -> dict | None:
    """Best-effort manifest read; None (→ footer-merge path) on any
    absence or failure."""
    import json

    try:
        data = storage.read_bytes(spark, f"{state_dir}/{_LAYOUT_MANIFEST}")
        if data is None:
            return None
        m = json.loads(data.decode())
        if m.get("version") != 1 or "schema_json" not in m or "covers_up_to" not in m:
            return None
        return m
    except Exception:
        return None


def _ingest_batch_ids(spark: SparkSession, state_dir: str) -> list[int]:
    """The ``ingest_batch=<id>`` partition ids under a state dir, for the
    readers and the compactor alike: one driver-side listing of
    directory names, so learning them costs no state-sized Spark job.
    Strict int syntax only: ``isdigit()`` admits strings
    ``int()`` rejects ('--5', unicode digits), so any other name is
    skipped like __HIVE_DEFAULT_PARTITION__ instead of crashing the
    caller. ``[]`` when the dir is absent."""
    ids = []
    for name, _is_dir in storage.list_dir(spark, state_dir):
        if name.startswith("ingest_batch="):
            suffix = name.split("=", 1)[1]
            if re.fullmatch(r"-?\d+", suffix, flags=re.ASCII):
                ids.append(int(suffix))
    return ids


def _compact_batch_state(
    spark: SparkSession,
    state_dir: str,
    up_to_batch: int | None,
    merge_write,
) -> int:
    """The crash-safe fold skeleton BOTH per-batch state compactors
    share (minhash buckets fold by DISTINCT, count-min counters fold by
    SUM — the callback owns that semantics): list ``ingest_batch=``
    partitions, fold into the fresh frozen partition
    ``-(up_to_batch + 1)``, write-target-first with _SUCCESS
    convergence, delete sources last.

    Source selection applies the READER's authoritative rule
    (:func:`cms_state_sketch`): the deepest *complete* (_SUCCESS-
    marked) frozen source already contains every batch at or below its
    bar, so raw partitions a crashed earlier compaction left behind —
    plus shallower frozen partitions it subsumed, plus any partial
    (_SUCCESS-less) frozen write — are DELETED WITHOUT FOLDING. Under
    SUM semantics folding them again would permanently double-count
    (the r7 ADVICE scenario: crash mid-delete at watermark 5, next
    compaction at watermark 9 folds both frozen -6 and the leftover raw
    batch 3 it contains); under DISTINCT the exclusion is a harmless
    no-op. See :func:`compact_minhash_state` for the replay-safety
    argument."""
    if up_to_batch is None:
        # the documented recipe feeds last_committed_batch() straight
        # in, and that returns None for a checkpoint with no commits
        # yet — nothing can be safely folded, so the compaction is a
        # clean no-op instead of a bare TypeError (r12 review finding)
        return 0
    if up_to_batch < 0:
        raise ValueError(f"up_to_batch must be >= 0, got {up_to_batch}")
    target_id = -(up_to_batch + 1)

    def _part(bid: int) -> str:
        return f"{state_dir}/ingest_batch={bid}"

    def _complete(bid: int) -> bool:
        return storage.exists(spark, f"{_part(bid)}/_SUCCESS")

    raws, frozen_ok, frozen_partial = [], [], []
    for bid in _ingest_batch_ids(spark, state_dir):
        if bid == target_id:
            continue
        if bid > up_to_batch:  # live batches may still re-run
            continue
        if bid >= 0:
            raws.append(bid)
        elif _complete(bid):
            frozen_ok.append(bid)
        else:
            frozen_partial.append(bid)

    fold = list(raws)
    subsumed = list(frozen_partial)  # partial frozen = garbage bytes
    deepest = min(frozen_ok) if frozen_ok else None
    if deepest is not None:
        bar = -deepest - 1  # deepest already holds every batch <= bar
        subsumed += [b for b in raws if b <= bar]
        subsumed += [b for b in frozen_ok if b != deepest]
        fold = [deepest] + [b for b in raws if b > bar]
    if not fold and not subsumed:
        return 0
    has_new = any(b >= 0 for b in fold)
    target = _part(target_id)
    target_done = _complete(target_id)
    if fold and not has_new and not target_done:
        # the lone (deepest) frozen partition IS the current folded
        # state — rewriting it into a deeper target would churn bytes
        # without changing totals. Just clear the subsumed leftovers —
        # including a partial (_SUCCESS-less) TARGET a crashed run left
        # at this watermark, which readers ignore but which would
        # otherwise linger until a higher watermark subsumes it
        # (r8 ADVICE item)
        storage.delete(spark, target)
        for bid in subsumed:
            storage.delete(spark, _part(bid))
        return len(subsumed)
    if not target_done:
        storage.delete(spark, target)  # partial write from a crashed compaction
    if fold and not target_done:
        # mergeSchema: a state dir upgraded mid-stream mixes partitions
        # with and without the CMS derivation column — the fold must
        # see the column wherever it exists (absent = legacy NULL)
        src_rows = spark.read.option("mergeSchema", "true").parquet(state_dir).where(
            F.col("ingest_batch").isin(fold)
        )
        merge_write(src_rows, target)
    for bid in subsumed + fold:
        storage.delete(spark, _part(bid))
    # stamp the layout manifest LAST (after the sources are gone, so the
    # stamped schema is the post-compaction dir's); a crash anywhere
    # above just leaves the previous (or no) manifest — readers of an
    # un-stamped or stale-stamped dir fall back to / tail-merge footers,
    # so the stamp is pure optimization, never authority
    _write_layout_manifest(spark, state_dir, up_to_batch)
    return len(subsumed) + len(fold)


def compact_minhash_state(
    spark: SparkSession,
    state_dir: str,
    up_to_batch: int | None,
) -> int:
    """Replay-safe small-files repair for a :func:`streaming_minhash_dedup`
    state table: every trigger lands one ``ingest_batch=<id>`` partition,
    so file count grows with BATCH COUNT, not data — but a naive
    compactor that merges those partitions would destroy the per-batch
    provenance the crash-replay invariant needs (the probe excludes the
    CURRENT batch id from the state read; a replayed batch whose first
    attempt's buckets were folded under another id would see them as
    prior corpus and drop every survivor).

    Safe rule: fold ONLY batches that can never re-run — ids ``<=
    up_to_batch``, which the caller takes from the stream's checkpoint
    via :func:`last_committed_batch` (a commit marker means foreachBatch
    completed; Structured Streaming replays only ids after it) — into
    ONE frozen partition at the negative id ``-(up_to_batch + 1)``.
    Live batch ids are non-negative, so the ``!= batch_id`` exclusion
    never matches a frozen partition and every replay still sees the
    full folded history. Earlier frozen partitions (previous
    compactions) are folded in too.

    Crash-safe and idempotent: the merged rows are written to the fresh
    target partition FIRST (band-partitioned, so probes keep pruning;
    ``distinct`` because a crash between write and cleanup leaves the
    same bucket in both the target and a source — harmless to the
    semi-join probe, and the re-run converges via the _SUCCESS marker),
    then the source partitions are deleted. Returns the number of
    partitions folded (0 = nothing to do)."""

    # version-only stamp check: folding partitions written under an
    # older banding scheme into state the current code will probe would
    # cement the silent-divergence hazard the stamp exists to stop
    _verify_banding_stamp(spark, state_dir, None, None, None)

    def merge_write(rows: DataFrame, path: str) -> None:
        (
            rows.select("band", "bucket")
            .distinct()
            .repartition("band")  # one write task per band, no slivers
            .write.partitionBy("band")
            .mode("errorifexists")
            .parquet(path)
        )

    return _compact_batch_state(spark, state_dir, up_to_batch, merge_write)


def compact_cms_state(
    spark: SparkSession,
    state_dir: str,
    up_to_batch: int | None,
) -> int:
    """:func:`compact_minhash_state`'s twin for a :func:`streaming_cms`
    state dir — count-min counters are LINEAR, so committed batch
    partitions fold by (depth, bucket) SUM into the frozen negative
    partition and :func:`cms_state_sketch` reads the identical totals
    before and after (pytest-pinned). Same crash-safety skeleton — but
    note the division of labor: under SUM a crash between the frozen
    write and the source deletes WOULD double-count, so the
    authoritative-frozen-partition rule lives in the READER
    (:func:`cms_state_sketch` excludes batches at or below the deepest
    frozen bar), and re-running this compactor converges the files.
    The folded partition stays ≤ depth × width rows forever, so
    repeated compaction keeps the state dir O(1) files regardless of
    how many triggers ever fired.

    Sketch identity: the hash derivation rides the state as the
    ``derivation`` column (see :func:`streaming_cms`); folding
    partitions built under DIFFERENT derivations would merge garbage
    (same (depth, bucket) ids, unrelated key→bucket maps), so the fold
    REFUSES mixed-derivation sources. Legacy partitions without the
    column count as 'md5' (the only derivation the pre-r9 sink ever
    wrote)."""

    def merge_write(rows: DataFrame, path: str) -> None:
        keys = ["depth", "bucket"]
        has_deriv = "derivation" in rows.columns
        if has_deriv:
            rows = rows.withColumn(
                "derivation", F.coalesce(F.col("derivation"), F.lit("md5"))
            )
            keys.append("derivation")
        # Fold FIRST (derivation is a grouping key, so a mixed state
        # never sums across derivations even transiently), then run the
        # identity check on the held ≤ depth × width × derivs
        # relation — the source-partition scan happens exactly once
        # instead of once for the check and again for the write
        # (r9 ADVICE). The distinct() collect fills the cache; the
        # write reuses it.
        agg = rows.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))
        with held(agg) if has_deriv else nullcontext(agg) as agg:
            if has_deriv:
                derivs = sorted(
                    r[0] for r in agg.select("derivation").distinct().collect()
                )
                if len(derivs) > 1:
                    raise ValueError(
                        "compact_cms_state: state dir mixes hash derivations "
                        f"{derivs} — sketches built under different "
                        "derivations must never be merged; split the state "
                        "dirs per derivation"
                    )
            (
                agg
                .coalesce(1)  # ≤ depth × width rows — one file
                .write.mode("errorifexists")
                .parquet(path)
            )

    return _compact_batch_state(spark, state_dir, up_to_batch, merge_write)


HH_OUT_SCHEMA = (
    "shard INT, key STRING, est_count LONG, shard_rows LONG"
)
HH_STATE_SCHEMA = "keys ARRAY<STRING>, counts ARRAY<LONG>, n_rows LONG"


def _mg_merge(summary: dict, incoming: dict, capacity: int) -> dict:
    """Mergeable Misra–Gries (Agarwal et al., 'Mergeable Summaries',
    PODS'12): sum counts keywise, then subtract the (capacity+1)-th
    largest count from everything and drop non-positives. The result
    keeps the MG guarantee: est_count(k) is in
    [true_count(k) - n/(capacity+1), true_count(k)] for n rows folded
    so far. ONE definition shared by the stateful operator and the
    hand-model replay in tests."""
    merged = dict(summary)
    for k, c in incoming.items():
        merged[k] = merged.get(k, 0) + c
    if len(merged) > capacity:
        vals = sorted(merged.values(), reverse=True)
        sub = vals[capacity]
        merged = {k: v - sub for k, v in merged.items() if v > sub}
    return merged


def streaming_heavy_hitters(
    events: DataFrame,
    key_col: str,
    capacity: int = 64,
    shards: int = 8,
) -> DataFrame:
    """Streaming heavy-hitter candidates — the streaming form of
    `summary.heavy_hitters`' phase 1, as a CUSTOM STATEFUL OPERATOR
    (applyInPandasWithState): keys hash into ``shards`` state keys (the
    'hh:' md5 domain, decorrelated from the split/shard/selection
    draws), each shard folds its batch's value counts into a bounded
    Misra–Gries summary (``capacity`` counters — state is O(capacity)
    per shard FOREVER, regardless of vocabulary size), and every batch
    emits the surviving (shard, key, est_count) rows for touched
    shards.

    Guarantees (each key lives in exactly one shard, so its full mass
    folds into one summary): any key with true count >
    shard_rows/(capacity+1) is IN the summary, and est_count is a lower
    bound within shard_rows/(capacity+1) of the true count —
    ``shard_rows`` is emitted with every row precisely so a consumer
    can compute that bound. Exact counts, as in the batch operator,
    come from a downstream verify of the candidate set — the stream's
    job is to keep the candidate set bounded while the vocabulary is
    unbounded. (Fold-order note: MG summaries depend on the order
    counts fold in — per Arrow chunk here — so two runs with different
    chunking may emit different, EQUALLY VALID summaries; the
    guarantees above hold for all fold orders.)
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions.scalar import md5_u32

    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    if shards < 1:
        # fail at sink construction, not inside the N-th micro-batch
        # (% 0 is DIVIDE_BY_ZERO under ANSI — r12 review finding)
        raise ValueError(f"shards must be >= 1, got {shards}")

    def update(key: tuple, pdfs, state: GroupState):
        if state.exists:
            keys, counts, n_rows = state.get
            summary = dict(zip(keys, counts))
        else:
            summary, n_rows = {}, 0
        for pdf in pdfs:
            n_rows += int(len(pdf))
            vc = pdf["__k"].value_counts()
            summary = _mg_merge(
                summary, {str(k): int(v) for k, v in vc.items()}, capacity
            )
        state.update((list(summary), [summary[k] for k in summary], n_rows))
        (shard,) = key
        out = sorted(summary.items(), key=lambda kv: (-kv[1], kv[0]))
        yield pd.DataFrame(
            {
                "shard": [shard] * len(out),
                "key": [k for k, _ in out],
                "est_count": [c for _, c in out],
                "shard_rows": [n_rows] * len(out),
            }
        )

    # drop NULL keys BEFORE sharding: they have no identity to count,
    # and they used to inflate one shard's n_rows (value_counts drops
    # NaN) — silently loosening the emitted shard_rows/(capacity+1)
    # error bound ~|nulls|-fold (r12 review finding)
    keyed = events.where(F.col(key_col).isNotNull()).select(
        (md5_u32(F.concat_ws(":", F.lit("hh"), F.col(key_col).cast("string")))
         % shards).cast("int").alias("__shard"),
        F.col(key_col).cast("string").alias("__k"),
    )
    return keyed.groupBy("__shard").applyInPandasWithState(
        update,
        HH_OUT_SCHEMA,
        HH_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_cms(
    docs_stream: DataFrame,
    state_dir: str,
    key_col: str,
    width: int = 2048,
    depth: int = 4,
    seed: int = 0,
    hash: str = "md5",
):
    """Streaming count-min maintenance: every micro-batch's keys fold
    into a persistent sketch under ``state_dir`` — the always-current
    "how frequent is X" answer over an unbounded ingest stream, in
    O(depth × width) state per batch partition regardless of key
    cardinality (the state-store alternative would hold every key).

    ``hash`` picks the bucket derivation (see
    ``operators.sketches._bucket_cols``). Ingest-scale deployments
    should pass ``hash="xxhash64"`` — this sink IS the ingest-scale
    path and the JVM hash measured ~6× faster than md5 at 27M tokens
    (SCALE.md probe N — 79 s md5-inlined / 45 s md5-staged / 9.3 s
    xxhash64); md5 buys bit-replayability in external SQL engines.
    The DEFAULT stays md5 deliberately: it must agree with
    ``cms_build``/``cms_lookup``'s default, because a caller who
    builds with this sink's default and probes with ``cms_lookup``'s
    default would otherwise read unrelated counters — silent
    undercounts that break the est ≥ true guarantee — and a pre-r9
    stream resumed on an existing (md5) state dir would start writing
    refusal-triggering mixed partitions. One family, one default;
    performance is an explicit opt-in. The derivation is PART OF THE
    SKETCH'S IDENTITY
    (same (depth, bucket) ids, unrelated key→bucket maps), so every
    state row records it in a ``derivation`` column and both the
    reader (:func:`cms_state_sketch`) and the compactor
    (:func:`compact_cms_state`) REFUSE to merge mixed-derivation
    partitions instead of summing garbage. Probes must pass the same
    ``hash`` to ``cms_lookup``.

    Replay-safe by construction, simpler than the minhash sink: a
    batch's sketch is a pure function of the batch, written with
    per-batch OVERWRITE to ``{state_dir}/ingest_batch=<id>`` — an
    at-least-once re-delivery rewrites identical bytes, and because
    count-min counters are linear, the merged estimate
    (:func:`cms_state_sketch` = read + re-aggregate) equals the
    one-pass sketch of everything ingested (pytest-pinned). Returns
    the configured writer (caller adds trigger/checkpoint and
    ``.start()``)."""
    from ..operators.sketches import cms_build

    if hash not in ("md5", "xxhash64"):
        # fail at sink construction, not inside the N-th micro-batch
        raise ValueError(f"hash must be 'md5' or 'xxhash64', got {hash!r}")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        cms_build(
            batch_df, key_col, width=width, depth=depth, seed=seed, hash=hash
        ).withColumn("derivation", F.lit(hash)).write.mode(
            "overwrite"
        ).parquet(f"{state_dir}/ingest_batch={batch_id}")

    return docs_stream.writeStream.foreachBatch(_process)


def streaming_eval_counts(
    scored_stream: DataFrame,
    state_dir: str,
    score_col: str = "score",
    label_col: str = "label",
    quantize: int | None = None,
    group_cols: list[str] | None = None,
):
    """Streaming EXACT-AUC state maintenance (r9 stretch): every
    micro-batch of (score, label) rows reduces to its per-DISTINCT-
    SCORE (v, cnt_a, cnt_b, cnt_null) counts — which are LINEAR, like
    count-min counters — and lands as one overwrite-on-replay
    ``ingest_batch=<id>`` partition. :func:`eval_state_auc` then
    answers "what is the exact ROC AUC of everything scored so far"
    at any moment without re-touching a single row: monitoring a
    quality model at ingest scale costs one tiny counts-aggregate per
    trigger plus a state-sized fold per read. Same replay-safety
    argument as :func:`streaming_cms` (a batch's counts are a pure
    function of the batch; at-least-once redelivery rewrites identical
    bytes), same crash-consistent compaction family
    (:func:`compact_eval_state`), pytest-pinned stream==batch parity.

    State size: ≤ (distinct scores in batch + 1) rows per batch, and
    compaction folds the partitions to one ≤ total-distinct-scores
    relation — which for a CONTINUOUS score (a float logit) is
    unbounded: every row a new distinct value, the "state" as big as
    the corpus. ``quantize=d`` bounds it BY CONSTRUCTION (r10
    carry-over task #4): scores are rounded to ``d`` decimal digits
    inside the sink before the per-batch fold, so total state
    cardinality over a [0, 1]-ranged score is ≤ 10^d + 1 rows forever,
    whatever the stream does. The AUC perturbation is at most the
    probability mass of the ties rounding creates: midrank handling
    gives each new tie group a ½ factor where the true order
    contributed 0..1, so |ΔAUC| ≤ Σ_g (pos_g · neg_g) / (n⁺ · n⁻) over
    the groups — at d=4 on a well-spread score that bound is ~10⁻⁴.
    Validated at sink construction (a bad value must not fail inside
    the N-th micro-batch); replay safety is unchanged (rounding is a
    pure row function, redelivered batches still rewrite identical
    bytes). NaN/NULL rows are unaffected — round(NaN) is NaN and still
    folds into the cnt_null row.

    ``group_cols`` folds per-(group..., v) counts instead (r11
    stretch): the state then answers PER-SLICE exact AUC via
    :func:`eval_state_grouped_auc` — still linear, still one tiny
    aggregate per trigger, state ≤ n_groups × distinct-scores rows
    (combine with ``quantize`` for the by-construction bound). A
    TIME-WINDOWED AUC is the same mechanism, no new machinery: put an
    event-time bucket (e.g. ``F.date_trunc('hour', ts)``) in
    ``group_cols`` and the state answers per-window exact AUC — one
    aggregate, no driver offsets beyond the window count
    (pytest-pinned). One state dir is one layout: the grouped
    reader/compactor derive the key set from the stored columns, so
    mixing grouped and ungrouped writes in a dir would mis-fold — use
    separate dirs per layout."""
    from ..operators.evaluation import grouped_per_score_counts, per_score_counts

    if quantize is not None and (not isinstance(quantize, int) or quantize < 0):
        raise ValueError(f"quantize must be a non-negative int, got {quantize!r}")
    gcols = list(group_cols or [])
    # same construction-time contract as quantize: a bad group_cols
    # must not fail inside the N-th micro-batch (or worse, silently
    # corrupt the layout derivation every reader relies on)
    reserved = {"v", "cnt_a", "cnt_b", "cnt_null", "ingest_batch"}
    bad = [c for c in gcols if c in reserved]
    if bad:
        raise ValueError(
            f"group_cols {bad} collide with the state layout's reserved "
            f"columns {sorted(reserved)}; rename the column(s) upstream."
        )
    missing = [c for c in gcols if c not in scored_stream.columns]
    if missing:
        raise ValueError(
            f"group_cols {missing} not in the stream's columns "
            f"{scored_stream.columns}"
        )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df
        if quantize is not None:
            b = b.withColumn(
                score_col, F.round(F.col(score_col).cast("double"), quantize)
            )
        counts = (
            grouped_per_score_counts(b, gcols, score_col, label_col)
            if gcols
            else per_score_counts(b, score_col, label_col)
        )
        counts.write.mode("overwrite").parquet(
            f"{state_dir}/ingest_batch={batch_id}"
        )

    return scored_stream.writeStream.foreachBatch(_process)


def eval_state_auc(
    spark: SparkSession, state_dir: str, partitions: int | None = None
) -> DataFrame:
    """Exact midrank ROC AUC over everything a
    :func:`streaming_eval_counts` stream has ingested → one row
    (auc, n_pos, n_neg, n_null), equal to ``binary_auc`` over the
    concatenated batches (pytest-pinned). Reads the state under the
    deepest-complete-frozen-bar rule (see
    :func:`_authoritative_state_rows` — counts fold by SUM, so the
    crash-consistency contract is count-min's), re-sums per distinct
    score, and finishes with the SAME plan ``binary_auc`` uses —
    ``drift._two_level_cumsum``, the one prefix sum of the AUC and KS
    statistics, so no unpartitioned window even when the folded score
    relation is large.

    Also correct over a GROUPED state dir
    (``streaming_eval_counts(group_cols=...)``): counts are linear
    across slices too, so summing away the group columns here yields
    exactly the global per-score counts — the corpus-wide AUC of a
    per-slice-monitored stream costs the same one fold (pytest-pinned
    vs ``binary_auc`` over the concatenated rows)."""
    from ..operators.evaluation import auc_from_score_counts

    # the finisher folds the raw state rows per distinct score and pins
    # the fold for its two consumers
    return auc_from_score_counts(
        _authoritative_state_rows(spark, state_dir), partitions=partitions
    )


# columns every eval-counts state layout shares; anything else stored
# beside them is a group key the writer added via group_cols=
_EVAL_STATE_COUNT_COLS = ("cnt_a", "cnt_b", "cnt_null")


def _eval_state_group_cols(columns: list[str]) -> list[str]:
    return [
        c
        for c in columns
        if c != "v" and c != "ingest_batch" and c not in _EVAL_STATE_COUNT_COLS
    ]


def eval_state_grouped_auc(
    spark: SparkSession,
    state_dir: str,
    group_cols: list[str] | None = None,
    partitions: int | None = None,
    max_offset_groups: int = 100_000,
) -> DataFrame:
    """PER-SLICE exact midrank ROC AUC over everything a
    ``streaming_eval_counts(group_cols=...)`` stream has ingested →
    one row per slice (group..., auc, n_pos, n_neg, n_null), equal to
    ``grouped_auc`` over the concatenated batches plus the per-group
    invalid tally (pytest-pinned) — "is the live quality model still
    as good on lang=ko as on lang=en?" answered from state without
    re-touching a single scored row.

    The key set is DERIVED from the stored columns (everything beside
    v/cnt_a/cnt_b/cnt_null and the ingest_batch partition id), so the
    reader needs no out-of-band layout record; pass ``group_cols`` to
    pin an expectation — a mismatch with the stored layout raises
    instead of silently slicing by the wrong key. An ungrouped dir
    raises too (use :func:`eval_state_auc`). Reads under the same
    deepest-complete-frozen-bar rule (counts fold by SUM per
    (group..., v)), finishes with ``grouped_auc_from_score_counts`` —
    the same range-partition + local-window + broadcast-offset plan and
    the same ``max_offset_groups`` driver guard as ``grouped_auc``.
    All-invalid slices surface as (auc NULL, 0, 0, n_null) rather than
    vanishing — monitoring must show a slice whose every score was NaN."""
    df = _authoritative_state_rows(spark, state_dir)
    stored = _eval_state_group_cols(df.columns)
    if group_cols is not None:
        want = list(group_cols)
        if sorted(want) != sorted(stored):
            raise ValueError(
                f"eval_state_grouped_auc: state dir {state_dir!r} stores "
                f"group columns {stored!r} but group_cols={want!r} was "
                "requested; one state dir is one layout — point at the "
                "dir written with these group_cols or drop the argument "
                "to derive the key set from the stored columns."
            )
        gcols = want  # caller's order wins for the output columns
    else:
        gcols = stored
    if not gcols:
        raise ValueError(
            f"eval_state_grouped_auc: state dir {state_dir!r} is ungrouped "
            "(columns are exactly v/cnt_a/cnt_b/cnt_null) — use "
            "eval_state_auc for the global AUC."
        )
    from ..operators.evaluation import grouped_auc_from_score_counts

    # the finisher folds per (group..., v) and pins the fold
    return grouped_auc_from_score_counts(
        df,
        gcols,
        partitions=partitions,
        max_offset_groups=max_offset_groups,
        include_null_counts=True,
    )


def eval_state_calibration(
    spark: SparkSession,
    state_dir: str,
    n_bins: int = 10,
    score_min: float = 0.0,
    score_max: float = 1.0,
    per_slice: bool = True,
) -> DataFrame:
    """Calibration report (+ ECE via ``ece``/``grouped_ece``) straight
    from a :func:`streaming_eval_counts` state dir — the per-score
    counts determine it exactly (every row behind a counts row has
    exactly score v; see ``calibration_from_score_counts``), so live
    calibration monitoring costs a state-sized aggregate, no scored-row
    rescan. Layout-agnostic like the AUC readers: an ungrouped dir
    yields ``calibration_report``'s shape, a grouped dir the grouped
    twin's (key set derived from the stored columns) —
    ``per_slice=False`` collapses a grouped dir to the GLOBAL report
    instead (counts are linear, the slices sum away exactly, same
    ungrouped-reader-over-grouped-dir move as :func:`eval_state_auc`).
    Reads under the same deepest-complete-frozen-bar rule; counts need
    no per-v pre-fold (they sum linearly into the bins). On a
    ``quantize=``-d state this is the calibration of the rounded
    scores."""
    from ..operators.evaluation import calibration_from_score_counts

    df = _authoritative_state_rows(spark, state_dir)
    gcols = _eval_state_group_cols(df.columns) if per_slice else []
    return calibration_from_score_counts(
        df.drop("ingest_batch"), gcols, n_bins, score_min, score_max
    )


def eval_state_threshold_report(
    spark: SparkSession,
    state_dir: str,
    thresholds: list[float],
    per_slice: bool = True,
) -> DataFrame:
    """Threshold precision/recall/F1 straight from a
    :func:`streaming_eval_counts` state dir — the per-score counts
    determine the confusion cells exactly (``score >= t`` is a pure
    score function; see ``threshold_report_from_score_counts``), so
    "what would the production threshold select over everything scored
    so far" costs a state-sized aggregate, no rescan. Same layout
    derivation and ``per_slice=False`` global-collapse semantics as
    :func:`eval_state_calibration`; on a ``quantize=``-d state the
    report is that of the rounded scores."""
    from ..operators.evaluation import threshold_report_from_score_counts

    df = _authoritative_state_rows(spark, state_dir)
    gcols = _eval_state_group_cols(df.columns) if per_slice else []
    return threshold_report_from_score_counts(
        df.drop("ingest_batch"), thresholds, gcols
    )


def compact_eval_state(
    spark: SparkSession,
    state_dir: str,
    up_to_batch: int | None,
) -> int:
    """:func:`compact_cms_state`'s twin for a
    :func:`streaming_eval_counts` state dir — per-score counts are
    linear, so committed batch partitions fold by per-``v`` SUM into
    the frozen negative partition and :func:`eval_state_auc` reads
    identical totals before and after (pytest-pinned). Same crash-
    safety skeleton and reader-side authority rule as count-min.
    Layout-agnostic like the readers: the fold keys are derived from
    the stored columns, so a GROUPED state dir
    (``streaming_eval_counts(group_cols=...)``) folds per
    (group..., v) and keeps its slices intact — a fixed groupBy("v")
    here would silently merge every slice into one on first compaction."""

    def merge_write(rows: DataFrame, path: str) -> None:
        keys = ["v"] + _eval_state_group_cols(rows.columns)
        (
            rows.groupBy(*keys)
            .agg(
                F.sum("cnt_a").alias("cnt_a"),
                F.sum("cnt_b").alias("cnt_b"),
                F.sum("cnt_null").alias("cnt_null"),
            )
            .coalesce(1)  # ≤ groups × distinct-scores rows — one file
            .write.mode("errorifexists")
            .parquet(path)
        )

    return _compact_batch_state(spark, state_dir, up_to_batch, merge_write)


def _read_state_with_manifest(
    spark: SparkSession, state_dir: str, ids: list[int]
) -> DataFrame:
    """The state-dir scan behind :func:`_authoritative_state_rows`:
    explicit-schema read when the compactor's layout manifest covers the
    dir (no footer inference at all), manifest + tail-footer merge when
    raw batches landed since the compaction (only THOSE partitions'
    footers are opened — the mid-stream schema-upgrade contract: an
    upgraded tail batch's new columns still surface, typed from its own
    footers), and the full ``mergeSchema`` footer merge when no usable
    manifest exists. Any inconsistency (unparsable manifest, a tail
    column re-typed vs the stamp) falls back to the full footer merge —
    the manifest is an optimization, never authority."""
    m = _read_layout_manifest(spark, state_dir)
    if m is not None:
        import json

        try:
            base_schema = T.StructType.fromJson(json.loads(m["schema_json"]))
            covers = int(m["covers_up_to"])
            # covered: raw ids at/below the stamped watermark, frozen ids
            # whose bar is at/below it (frozen -k holds batches <= k-1)
            tail = [
                i for i in ids if not (i <= covers if i >= 0 else (-i - 1) <= covers)
            ]
            if not tail:
                return spark.read.schema(base_schema).parquet(state_dir)
            tail_paths = [f"{state_dir}/ingest_batch={i}" for i in tail]
            tail_schema = (
                spark.read.option("mergeSchema", "true")
                .option("basePath", state_dir)
                .parquet(*tail_paths)
                .schema
            )
            by_name = {f.name: f for f in base_schema.fields}
            merged = list(base_schema.fields)
            for f in tail_schema.fields:
                have = by_name.get(f.name)
                if have is None:
                    merged.append(f)
                elif have.dataType != f.dataType:
                    raise ValueError("tail column re-typed vs manifest stamp")
            return spark.read.schema(T.StructType(merged)).parquet(state_dir)
        except Exception:
            pass
    return spark.read.option("mergeSchema", "true").parquet(state_dir)


def _authoritative_state_rows(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read a per-batch SUM-folded state dir applying the deepest-
    complete-frozen-bar rule (the crash-consistency contract
    :func:`cms_state_sketch` documents): the deepest _SUCCESS-complete
    frozen (negative-id) partition is authoritative for every batch at
    or below its bar; raw batches it subsumes, shallower frozen
    partitions, and partial (_SUCCESS-less) frozen writes are excluded,
    so a SUM reader folds each ingested row exactly once even racing or
    following a crashed compaction. Shared by every linear-counter
    state family (count-min, per-score eval counts); mid-stream schema
    upgrades surface their columns either via the compactor's layout
    manifest + tail-footer merge or, absent a manifest, the full
    mergeSchema footer read (:func:`_read_state_with_manifest`)."""
    ids = _ingest_batch_ids(spark, state_dir)
    df = _read_state_with_manifest(spark, state_dir, ids)
    neg = sorted(i for i in ids if i < 0)  # deepest first
    if neg:
        # the deepest COMPLETE frozen partition
        bar = next(
            (
                c for c in neg
                if storage.exists(spark, f"{state_dir}/ingest_batch={c}/_SUCCESS")
            ),
            None,
        )
        if bar is not None:
            folded_up_to = -bar - 1
            df = df.where(
                (F.col("ingest_batch") == bar)
                | (F.col("ingest_batch") > folded_up_to)
            )
        else:
            # no complete frozen partition: every negative id is a
            # partial write — ignore them, the raw batches are whole
            df = df.where(F.col("ingest_batch") >= 0)
    return df


def cms_state_sketch(
    spark: SparkSession, state_dir: str, expected_hash: str | None = None
) -> DataFrame:
    """The merged sketch over the ingested batch partitions — feed it
    to `operators.sketches.cms_lookup`. Counters are linear, so merge
    is one aggregate over at most depth × width × n_batches rows; fold
    the partitions with :func:`compact_cms_state` when batch count
    itself becomes a files problem.

    CRASH-CONSISTENT under compaction: unlike the minhash state (where
    a bucket duplicated between a frozen partition and a not-yet-
    deleted source is harmless to the DISTINCT semi-join), duplicated
    CM rows would DOUBLE-COUNT under SUM. The deepest frozen partition
    is therefore treated as AUTHORITATIVE for every batch at or below
    its bar: sources the compactor wrote into it but crashed before
    deleting (and older frozen partitions it subsumed) are excluded
    here, so a reader racing a compaction — or running after a crashed
    one — always sums each ingested row exactly once. A frozen
    partition is only honored as the bar when its _SUCCESS marker
    exists — a compaction that crashed mid-write (task files renamed
    into the target, job commit never reached) must not suppress the
    still-present source partitions, or the merged sketch silently
    undercounts until the compactor re-runs. Partial frozen partitions
    are excluded from the sum entirely (their rows duplicate a subset
    of the sources the crashed compactor never deleted).

    Sketch identity: if the summed partitions record more than one
    hash derivation (``derivation`` column; absent = legacy 'md5'),
    this REFUSES instead of returning a garbage merge — see
    :func:`streaming_cms`. The returned relation keeps the
    (depth, bucket, cnt) shape either way; pass the matching ``hash``
    to ``cms_lookup``, and pass it HERE as ``expected_hash`` too — the
    read then refuses when the state was built under a different
    derivation, instead of the probe silently reading unrelated
    counters (legacy column-less state counts as md5)."""
    df = _authoritative_state_rows(spark, state_dir)
    if "derivation" in df.columns:
        # identity check runs AFTER the bar filter: excluded (subsumed/
        # partial) partitions can't poison a read that never sums them
        derivs = sorted(
            r[0]
            for r in df.select(
                F.coalesce(F.col("derivation"), F.lit("md5")).alias("d")
            )
            .distinct()
            .collect()
        )
        if len(derivs) > 1:
            raise ValueError(
                "cms_state_sketch: state dir mixes hash derivations "
                f"{derivs} — sketches built under different derivations "
                "must never be merged; split the state dirs per derivation"
            )
    else:
        derivs = ["md5"]  # pre-derivation layout: the sink only wrote md5
    if expected_hash is not None and derivs and derivs != [expected_hash]:
        raise ValueError(
            f"cms_state_sketch: state at {state_dir} was built under "
            f"derivation {derivs[0]!r}, caller expects {expected_hash!r} — "
            "probing it with a different hash reads unrelated counters"
        )
    return df.groupBy("depth", "bucket").agg(F.sum("cnt").alias("cnt"))
