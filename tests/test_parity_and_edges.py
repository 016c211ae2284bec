"""Cross-surface parity and edge cases: streaming vs batch window
results, empty-input schema stability, MinHash estimate quality."""

import os

import pytest
from pyspark.sql import functions as F

from mwas_rfam_spark.config import MwasConfig
from mwas_rfam_spark.operators.condense import condense_metadata
from mwas_rfam_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
from mwas_rfam_spark.operators.mwas import run_mwas
from mwas_rfam_spark.schemas import CATALOG_SCHEMA, INPUT_SCHEMA
from mwas_rfam_spark.sources.readers import melt_wide_metadata
from mwas_rfam_spark.streaming.requests import windowed_event_rollup


def test_stream_batch_window_parity(spark, tmp_path):
    """The streaming windowed rollup must produce exactly the batch
    groupBy-window answer on the same data (bounded input, availableNow)."""
    ev = spark.createDataFrame(
        [
            ("2024-01-01 00:01:00", "click", 1.0),
            ("2024-01-01 00:04:59", "click", 2.0),
            ("2024-01-01 00:05:00", "click", 4.0),
            ("2024-01-01 00:03:00", "view", 8.0),
            ("2024-01-01 00:11:00", "view", 16.0),
        ],
        "ts_s string, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    src = tmp_path / "ev"
    ev.write.mode("overwrite").parquet(str(src))

    batch = (
        ev.groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type", "n", "sum_value",
        )
    )
    expected = {tuple(map(str, r)) for r in batch.collect()}

    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    q = (
        windowed_event_rollup(stream, window="5 minutes")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {tuple(map(str, r)) for r in spark.sql("SELECT * FROM parity_out").collect()}
    finally:
        q.stop()
    assert got == expected


def test_empty_input_keeps_schema(spark):
    """Zero input rows must produce an empty result with the stable
    18-column schema — never a crash (driver smoke contract)."""
    input_df = spark.createDataFrame([], INPUT_SCHEMA)
    catalog_df = spark.createDataFrame(
        [("P1", f"SAM0{i}", f"R{i}", 1_000_000) for i in range(1, 7)], CATALOG_SCHEMA
    )
    wide = spark.createDataFrame(
        [(f"SAM0{i}", "a" if i <= 3 else "b", "x" if i % 2 else "y") for i in range(1, 7)],
        ["biosample_id", "t1", "t2"],
    )
    sets_df, ref_df = condense_metadata(melt_wide_metadata(wide, "P1"))
    out = run_mwas(input_df, catalog_df, sets_df, ref_df, MwasConfig())
    assert out.count() == 0
    assert len(out.columns) == 18


def test_minhash_estimates_track_exact_jaccard(spark, sf_dir):
    """est_jaccard from 64-slot signatures must track exact Jaccard within
    banding noise on the real documents table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.5).collect()
    }
    assert exact, "fixture must contain near-duplicate documents"
    shared = set(exact) & set(est)
    # LSH at threshold 0.5 with 16 bands catches essentially all >=0.7 pairs
    high = {k for k, v in exact.items() if v >= 0.7}
    assert high <= set(est)
    for k in shared:
        assert abs(est[k] - exact[k]) <= 0.25  # 64-slot sampling noise


def test_stream_batch_rpm_parity(spark):
    """One observation must normalize to the SAME rpm through the batch
    resolve and the streaming resolve — including the spots==0 sentinel
    (rpm == quantifier) and null-spots cases."""
    from mwas_rfam_spark.operators.mwas import resolve_and_normalize
    from mwas_rfam_spark.streaming.requests import resolve_stream

    catalog = spark.createDataFrame(
        [("R1", "BP1", "BS1", 1000), ("R2", "BP1", "BS2", 0), ("R3", "BP1", "BS3", None)],
        "run string, bio_project string, bio_sample string, spots long",
    )
    inp = spark.createDataFrame(
        [("R1", "g", 500.0), ("R2", "g", 7.0), ("R3", "g", 3.0)], INPUT_SCHEMA
    )
    batch = {r["bio_sample"]: r["rpm"] for r in resolve_and_normalize(inp, catalog).collect()}
    req = inp.withColumn("request_id", F.lit("q"))
    stream = {r["bio_sample"]: r["rpm"] for r in resolve_stream(req, catalog).collect()}
    assert batch == stream
    assert stream["BS2"] == 7.0  # spots==0 → 1e6 sentinel → rpm == quantifier


def test_dedup_operators_empty_corpus(spark):
    """Every dedup/text operator must return an empty, correctly-typed
    relation on an empty corpus — not crash in a window, a checkpoint,
    or the clustering loop."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from mwas_rfam_spark.operators.dedup import (
        dedup_clusters,
        dedup_pipeline_pairs,
        exact_dedup_groups,
        minhash_lsh_pairs,
        minhash_lsh_pairs_md5,
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )
    from mwas_rfam_spark.operators.text import (
        bigram_logprob,
        redact_pii_docs,
        text_profile,
        train_bigram_counts,
        vocabulary_topk,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    empty = spark.createDataFrame([], schema)
    assert exact_dedup_groups(empty).count() == 0
    assert ngram_jaccard_pairs(empty).count() == 0
    assert minhash_lsh_pairs(empty).count() == 0
    assert minhash_lsh_pairs_md5(empty).count() == 0
    assert simhash_near_dup_pairs(empty).count() == 0
    assert dedup_pipeline_pairs(empty).count() == 0
    assert text_profile(empty).count() == 0
    assert vocabulary_topk(empty).count() == 0
    assert redact_pii_docs(empty).count() == 0
    bigrams, unigrams = train_bigram_counts(empty)
    assert bigram_logprob(empty, bigrams, unigrams, vocab_size=1).count() == 0

    no_pairs = spark.createDataFrame(
        [], "id_a long, id_b long, jaccard double"
    )
    docs = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    # no edges: every doc is its own singleton cluster
    out = {r["doc_id"]: r for r in dedup_clusters(no_pairs, docs).collect()}
    assert set(out) == {1, 2}
    assert all(r["keep"] and r["cluster_id"] == d for d, r in out.items())


def test_session_window_stream_batch_parity(spark, tmp_path):
    """Session windows (dynamic gap-merged) must agree between the
    streaming engine's merging-window state and the batch groupBy, and
    must actually merge: events 3 minutes apart share a session under a
    5-minute gap, a 20-minute quiet period splits one."""
    from mwas_rfam_spark.streaming.requests import sessionized_event_rollup

    ev = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", "click", 1.0),
            ("2024-01-01 00:03:00", "click", 2.0),   # merges (gap 3m < 5m)
            ("2024-01-01 00:07:59", "click", 4.0),   # still merges
            ("2024-01-01 00:28:00", "click", 8.0),   # new session (20m quiet)
            ("2024-01-01 00:02:00", "view", 16.0),
        ],
        "ts_s string, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    src = tmp_path / "sess"
    ev.write.mode("overwrite").parquet(str(src))

    batch = sessionized_event_rollup(ev, gap="5 minutes")
    rows = {tuple(map(str, r)) for r in batch.collect()}
    clicks = sorted(
        (r for r in batch.collect() if r["event_type"] == "click"),
        key=lambda r: r["session_start"],
    )
    assert len(clicks) == 2
    assert clicks[0]["n"] == 3 and clicks[0]["sum_value"] == 7.0
    assert str(clicks[0]["session_end"]) == "2024-01-01 00:12:59"  # last + gap
    assert clicks[1]["n"] == 1

    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    q = (
        sessionized_event_rollup(stream, gap="5 minutes")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {tuple(map(str, r)) for r in spark.sql("SELECT * FROM sess_out").collect()}
    finally:
        q.stop()
    assert got == rows


def test_round3_operators_empty_inputs(spark):
    """The round-3 operators must handle empty inputs on EITHER side:
    empty corpora, empty benchmark (zero contamination, nothing dropped),
    empty as-of right side (all-null attach), empty batches."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from mwas_rfam_spark.operators.curation import curate_corpus
    from mwas_rfam_spark.operators.dedup import incremental_exact_dedup
    from mwas_rfam_spark.operators.interval import asof_join
    from mwas_rfam_spark.operators.packing import chunk_documents
    from mwas_rfam_spark.operators.text import decontaminate
    from mwas_rfam_spark.plans.sampling import (
        shuffle_shard,
        token_budget_mix,
        weighted_mix_exact,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    empty = spark.createDataFrame([], schema)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )

    # empty train / empty benchmark
    assert decontaminate(empty, docs, n=3).count() == 0
    d = decontaminate(docs, empty, n=3).collect()
    assert len(d) == 1 and d[0]["contamination"] == 0.0 and not d[0]["contaminated"]
    # curation: empty corpus; and a non-empty corpus with empty benchmark
    assert curate_corpus(empty, mode="mark").count() == 0
    assert curate_corpus(docs, empty, min_tokens=3).count() == 1
    # sharding / mixing on empty frames
    assert shuffle_shard(empty, 8).count() == 0
    assert weighted_mix_exact(
        empty.withColumn("src", F.lit("a")), "src", {"a": 5}, "doc_id"
    ).count() == 0
    assert token_budget_mix(
        empty.selectExpr("doc_id", "'a' AS src", "1 AS n"), "src", {"a": 5}, "n", "doc_id"
    ).count() == 0
    # chunking
    assert chunk_documents(empty, 4).count() == 0
    # incremental dedup: empty batch, then empty state
    s, h = incremental_exact_dedup(empty)
    assert s.count() == 0 and h.count() == 0
    s2, h2 = incremental_exact_dedup(docs, h)
    assert s2.count() == 1 and h2.count() == 1
    # as-of: empty right side attaches nulls, empty left yields nothing
    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    empty_r = spark.createDataFrame([], "k long, ts long, v double")
    row = asof_join(left, empty_r, by="k").collect()
    assert len(row) == 1 and row[0]["v_r"] is None and row[0]["ts_r"] is None
    assert asof_join(spark.createDataFrame([], "k long, ts long"), empty_r, by="k").count() == 0


def test_so4_intersect_duckdb_parity(spark, sf_dir):
    """so4_intersect left the 50-cap registry in r5 (slot went to the
    permutation calibration gate); this test runs the SAME DuckDB oracle
    the driver used to, so the surface stays cross-engine-verified."""
    import duckdb

    import __spark_entry__ as entry

    got = sorted(
        r["custkey"] for r in entry.q_so4_intersect(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{sf_dir}/customer.parquet'"
    )
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'")
    want = sorted(
        r[0]
        for r in con.execute(
            """
            SELECT c_custkey AS custkey FROM customer
            WHERE c_mktsegment = 'BUILDING'
            INTERSECT
            SELECT o_custkey AS custkey
            FROM (SELECT o_custkey, sum(o_totalprice) AS s
                  FROM orders GROUP BY 1)
            WHERE s > 100000
            """
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_relocated_oracle_parity(spark, sf_dir):
    """The six entries rotated out of the 50-cap registry in r6 (slots
    went to the r5 operator families) keep running against the SAME
    DuckDB oracle SQL the driver's gate used through r5 — same compare
    (column names, row count, order-insensitive stringified values) as
    tools/check_oracle.py."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracle import TABLES, compare

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    relocated = entry.relocated_oracles()
    assert sorted(relocated) == [
        "a7_signature_dedup", "a9_summary_agg", "ann_ivf_topk",
        "ann_knn_batch", "condense_accounting", "dedup_embedding_lsh",
        "dedup_exact", "dedup_simhash32", "drift_report",
        "f2_rpm_normalize", "grouped_auc", "grouped_threshold_report",
        "j1_outer_join_agg", "j4_cascading_lookup", "j5_sql_api",
        "j6_semi_join", "j7_positional_join", "mwas_summary_t_only",
        "s13_synthetic_input", "so1_anti_join", "so2_complement",
        "text_vocab_topk", "threshold_report",
    ]
    # oracle SQL that reads a materialized index bakes the driver's
    # sf0.01 tag into its path — point it at this run's SF instead
    # (same rewrite tools/check_oracle.py applies)
    tag = os.path.basename(os.path.normpath(sf_dir))
    if tag != "sf0.01":
        relocated = {
            k: v.replace("/sf0.01/", f"/{tag}/") for k, v in relocated.items()
        }
    bench = entry.bench_queries()
    for name, sql in relocated.items():
        assert name not in entry.queries()  # rotated out, not duplicated
        problems = compare(name, bench[name](spark, sf_dir), con, sql)
        assert not problems, f"{name}: {problems}"
    con.close()


def test_mwas_perm_calibration_gate(spark, sf_dir):
    """The randomized permutation kernel's calibration gate: every
    randomized p within the 3σ binomial band of its exact-enumeration
    twin, over a non-trivial comparison set."""
    import __spark_entry__ as entry

    rows = entry.q_mwas_perm_calibration(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["check_name"] == "randomized_vs_exact"
    assert r["n_compared"] > 0
    assert r["meets_target"] is True


def test_asof_join_matched_row_is_atomic(spark):
    """r12 review finding (execution-confirmed): per-column
    last(ignorenulls) tore the matched right row apart — a NULL payload
    in the matched row was backfilled from OLDER rows (even outside
    tolerance), and a NULL-ts right row could supply payload. The
    matched row now carries whole: merge_asof/DuckDB-ASOF semantics."""
    from mwas_rfam_spark.operators.interval import asof_join

    left = spark.createDataFrame([("u1", 300)], "k string, ts long")
    right = spark.createDataFrame(
        [("u1", 100, 5.0), ("u1", 200, None), ("u1", None, 9.0)],
        "k string, ts long, px double",
    )
    r = asof_join(left, right, by="k").collect()[0]
    assert r["ts_r"] == 200
    assert r["px_r"] is None  # the matched row's own NULL, not 5.0/9.0
    # right_cols naming ts no longer crashes; unknown cols raise clearly
    r2 = asof_join(left, right, by="k", right_cols=["ts", "px"]).collect()[0]
    assert r2["ts_r"] == 200 and r2["px_r"] is None
    import pytest as _pt

    with _pt.raises(ValueError, match="right_cols"):
        asof_join(left, right, by="k", right_cols=["nope"])


def test_interval_join_loud_on_double_timeline(spark):
    """r12 review finding: a double ts died deep in analysis with a
    cryptic DATATYPE_MISMATCH; now the same clear error as asof_join."""
    import pytest as _pt

    from mwas_rfam_spark.operators.interval import interval_join_within

    a = spark.createDataFrame([(1.5, "x")], "ts double, v string")
    b = spark.createDataFrame([(1.6, "y")], "ts double, v string")
    with _pt.raises(ValueError, match="integral timeline"):
        interval_join_within(a, b, tolerance=10)


def test_interval_join_refuses_internal_name_collisions(spark):
    """r13 review finding: with an empty left suffix a caller column
    named `bucket` was silently overwritten by the internal bucketing
    column and then dropped from the output, and an `abs_delta` input
    was silently replaced by the computed delta — now a loud refusal."""
    import pytest as _pt

    from mwas_rfam_spark.operators.interval import interval_join_within

    a = spark.createDataFrame([(10, 7)], "ts bigint, bucket bigint")
    b = spark.createDataFrame([(12, "y")], "ts bigint, v string")
    with _pt.raises(ValueError, match="collide with internal"):
        interval_join_within(a, b, tolerance=10, suffixes=("", "_b"))
    # non-empty suffixes keep the same inputs legal
    out = interval_join_within(a, b, tolerance=10).collect()
    assert len(out) == 1 and out[0]["bucket_a"] == 7

    c = spark.createDataFrame([(10, 0.1)], "ts bigint, abs_delta double")
    with _pt.raises(ValueError, match="collide with internal"):
        interval_join_within(c, b, tolerance=10, suffixes=("", "_b"))
