"""Structured Streaming smoke tests (memory sink, synchronous drain)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from mwas_rfam_spark.schemas import CATALOG_SCHEMA
from mwas_rfam_spark.streaming.requests import (
    incremental_rollup_stream,
    read_request_stream,
    resolve_stream,
    rpm_rollup_stream,
    windowed_event_rollup,
)


def test_request_stream_rollup(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    rows = [
        {"request_id": "q1", "run": "R1", "group": "g", "quantifier": 10.0},
        {"request_id": "q1", "run": "R2", "group": "g", "quantifier": 30.0},
        {"request_id": "q1", "run": "RX", "group": "g", "quantifier": 5.0},
    ]
    (drop / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows))

    catalog = spark.createDataFrame(
        [("P1", "S1", "R1", 1_000_000), ("P1", "S1", "R2", 1_000_000)],
        CATALOG_SCHEMA,
    )
    stream = read_request_stream(spark, str(drop))
    assert stream.isStreaming
    out = rpm_rollup_stream(stream, catalog)
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rpm_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM rpm_out").collect()
    finally:
        q.stop()
    assert len(rows) == 1
    r = rows[0]
    assert r["bio_project"] == "P1" and r["n_runs"] == 2
    assert r["rpm"] == pytest.approx((10.0 + 30.0) / 2)


def test_incremental_stateful_rollup(spark, tmp_path):
    """State must accumulate ACROSS micro-batches: the second batch's
    running mean includes the first batch's observations."""
    drop = tmp_path / "drop2"
    drop.mkdir()
    catalog = spark.createDataFrame(
        [("P1", "S1", "R1", 1_000_000), ("P1", "S1", "R2", 1_000_000)],
        CATALOG_SCHEMA,
    )
    stream = read_request_stream(spark, str(drop))
    out = incremental_rollup_stream(resolve_stream(stream, catalog))
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("inc_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        (drop / "b1.json").write_text(
            json.dumps({"request_id": "q", "run": "R1", "group": "g", "quantifier": 10.0})
        )
        q.processAllAvailable()
        first = spark.sql("SELECT * FROM inc_out").collect()
        assert len(first) == 1
        assert first[0]["rpm"] == pytest.approx(10.0) and first[0]["n_runs"] == 1

        (drop / "b2.json").write_text(
            json.dumps({"request_id": "q", "run": "R2", "group": "g", "quantifier": 30.0})
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM inc_out ORDER BY n_runs").collect()
        # update-mode memory sink appends each emission; latest has both runs
        assert rows[-1]["n_runs"] == 2
        assert rows[-1]["rpm"] == pytest.approx((10.0 + 30.0) / 2)
    finally:
        q.stop()


def test_streaming_exact_dedup(spark, tmp_path):
    from mwas_rfam_spark.streaming.requests import streaming_exact_dedup

    src = tmp_path / "docs"
    src.mkdir()
    base = spark.createDataFrame(
        [
            ("2024-01-01 00:01:00", 1, "hello world"),
            ("2024-01-01 00:02:00", 2, "HELLO   world"),  # dup after normalize
            ("2024-01-01 00:03:00", 3, "something else"),
        ],
        "ts_s string, doc_id long, text string",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text")
    base.write.mode("overwrite").parquet(str(src / "p"))

    stream = spark.readStream.schema(base.schema).parquet(str(src / "p"))
    out = streaming_exact_dedup(stream, watermark="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT doc_id FROM dedup_out ORDER BY doc_id").collect()
    finally:
        q.stop()
    kept = [r["doc_id"] for r in rows]
    assert len(kept) == 2 and 3 in kept  # one of the dup pair dropped


def test_windowed_event_rollup(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    ev = spark.createDataFrame(
        [
            ("2024-01-01 00:01:00", "click", 1.0),
            ("2024-01-01 00:02:00", "click", 2.0),
            ("2024-01-01 00:07:00", "click", 4.0),
            ("2024-01-01 00:01:30", "view", 8.0),
        ],
        "ts_s string, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    ev.write.mode("overwrite").parquet(str(src / "p"))

    stream = spark.readStream.schema(ev.schema).parquet(str(src / "p"))
    out = windowed_event_rollup(stream, window="5 minutes")
    # complete mode: append would hold windows open until the watermark
    # passes (needs a later batch); complete emits current state each batch
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
            for r in spark.sql("SELECT * FROM win_out").collect()
        }
    finally:
        q.stop()
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 00:05:00", "click")] == (1, 4.0)
    assert got[("2024-01-01 00:00:00", "view")] == (1, 8.0)


def test_streaming_curate_parity_with_batch(spark, tmp_path):
    """The streaming curation (quality gate -> watermark keep-first dedup
    -> redaction) keeps exactly the rows the batch pipeline keeps when
    all data fits one watermark window, with redaction applied."""
    from mwas_rfam_spark.operators.curation import curate_corpus
    from mwas_rfam_spark.streaming.requests import streaming_curate

    src = tmp_path / "docs"
    src.mkdir()
    base = spark.createDataFrame(
        [
            ("2024-01-01 00:01:00", 1, "alpha beta gamma delta epsilon"),
            ("2024-01-01 00:02:00", 2, "alpha  beta gamma delta epsilon"),  # dup
            ("2024-01-01 00:03:00", 3, "too short"),                        # quality
            ("2024-01-01 00:04:00", 4, "ping me at eve@example.org about it"),
        ],
        "ts_s string, doc_id long, text string",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text")
    base.write.mode("overwrite").parquet(str(src / "p"))

    stream = spark.readStream.schema(base.schema).parquet(str(src / "p"))
    out = streaming_curate(stream, watermark="10 minutes", min_tokens=4)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("curate_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_cur"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r["doc_id"]: r["text"]
               for r in spark.sql("SELECT doc_id, text FROM curate_out").collect()}
    finally:
        q.stop()

    batch = curate_corpus(base.drop("ts"), min_tokens=4)
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    # batch keep-first is deterministic (min id); streaming keeps the
    # FIRST ARRIVAL of each content group (processing order, so either of
    # the dup pair) — same group count, same survivors outside dup groups
    assert batch_ids == {1, 4}
    assert len(got) == 2 and 4 in got and (set(got) - {4}) <= {1, 2}
    assert "[EMAIL]" in got[4] and "@" not in got[4]


def test_windowed_psi_stream_batch_and_stream_parity(spark, tmp_path):
    """Drift monitor: window 1 matches the baseline mix (low PSI),
    window 2 is all one category (flagged). The same function computes
    identical rows on the batch frame and through a file stream."""
    import datetime as dt
    import math

    from mwas_rfam_spark.streaming.requests import windowed_psi_stream

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def ts(minute, sec=0):
        return t0 + dt.timedelta(minutes=minute, seconds=sec)

    rows = []
    # window [0,5): 8 click / 2 error — the baseline mix
    for i in range(8):
        rows.append((ts(0, i), "click"))
    for i in range(2):
        rows.append((ts(1, i), "error"))
    # window [5,10): 10 error — drifted
    for i in range(10):
        rows.append((ts(6, i), "error"))
    batch = spark.createDataFrame(rows, "ts timestamp, event_type string")
    baseline = {"click": 80, "error": 20}

    out = windowed_psi_stream(
        batch, baseline, window="5 minutes", psi_threshold=0.25
    )
    got = {r["window_start"]: r for r in out.collect()}
    w1 = got[ts(0)]
    w2 = got[ts(5)]
    assert w1["n"] == 10 and w2["n"] == 10
    assert not w1["flagged"] and w2["flagged"]

    # hand model for window 2: click 0+eps vs 0.8+eps, error 1.0 vs 0.2,
    # __other__ 0 vs 0 (eps-smoothed term is 0)
    eps = 1e-6
    want = 0.0
    for p_win, p_base in ((eps, 0.8 + eps), (1.0 + eps, 0.2 + eps), (eps, eps)):
        want += (p_win - p_base) * math.log(p_win / p_base)
    assert abs(w2["psi"] - want) < 1e-8

    # stream the same rows from JSON files -> identical relation
    drop = tmp_path / "edrop"
    drop.mkdir()
    import json

    (drop / "b.json").write_text(
        "\n".join(
            json.dumps({"ts": r[0].isoformat(sep=" "), "event_type": r[1]})
            for r in rows
        )
    )
    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .json(str(drop))
    )
    sout = windowed_psi_stream(stream, baseline, window="5 minutes")
    assert sout.isStreaming
    q = (
        sout.writeStream.outputMode("complete")
        .format("memory")
        .queryName("psi_out")
        .start()
    )
    try:
        q.processAllAvailable()
        srows = {r["window_start"]: r for r in spark.sql("SELECT * FROM psi_out").collect()}
    finally:
        q.stop()
    assert set(srows) == set(got)
    for k in got:
        assert srows[k]["psi"] == got[k]["psi"]
        assert srows[k]["flagged"] == got[k]["flagged"]


def test_windowed_psi_stream_other_bucket_and_validation(spark):
    import datetime as dt

    import pytest

    from mwas_rfam_spark.streaming.requests import windowed_psi_stream

    t0 = dt.datetime(2026, 1, 1)
    batch = spark.createDataFrame(
        [(t0, "zzz-new"), (t0, None), (t0, "click")],
        "ts timestamp, event_type string",
    )
    row = windowed_psi_stream(batch, {"click": 1, None: 1}).first()
    # unseen 'zzz-new' lands in __other__ (p_base 0) and inflates PSI
    assert row["psi"] > 0
    with pytest.raises(ValueError, match="no categories"):
        windowed_psi_stream(batch, {})
    with pytest.raises(ValueError, match="eps"):
        windowed_psi_stream(batch, {"a": 1}, eps=0)


def test_windowed_psi_null_influx_flagged(spark):
    """NULL events with no NULL baseline bucket must land in __other__
    (three-valued-logic regression: `~isin` is NULL for NULLs, which
    silently dropped them from every bucket)."""
    import datetime as dt
    import math

    from mwas_rfam_spark.streaming.requests import windowed_psi_stream

    t0 = dt.datetime(2026, 1, 1)
    batch = spark.createDataFrame(
        [(t0, "click")] * 9 + [(t0, None)],
        "ts timestamp, event_type string",
    )
    row = windowed_psi_stream(batch, {"click": 100}).first()
    eps = 1e-6
    want = 0.0
    for p_win, p_base in ((0.9 + eps, 1.0 + eps), (0.1 + eps, eps)):
        want += (p_win - p_base) * math.log(p_win / p_base)
    assert abs(row["psi"] - want) < 1e-8
    assert row["flagged"]  # 10% NULL influx is real drift

    # duplicate baseline rows SUM, not last-wins
    base_df = spark.createDataFrame(
        [("click", 50), ("click", 70), ("error", 30)], "c string, n long"
    )
    r2 = windowed_psi_stream(batch, base_df).first()
    r3 = windowed_psi_stream(batch, {"click": 120, "error": 30}).first()
    assert r2["psi"] == r3["psi"]


def test_windowed_numeric_psi_stream(spark, tmp_path):
    """Numeric monitor: window matching the baseline distribution is
    quiet, a shifted window flags; batch and stream rows identical."""
    import datetime as dt
    import json

    from mwas_rfam_spark.streaming.requests import windowed_numeric_psi_stream

    t0 = dt.datetime(2026, 1, 1)
    baseline = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "value double"
    )
    rows = []
    for i in range(50):  # window 1: same uniform mix
        rows.append((t0 + dt.timedelta(seconds=i), float(i * 2 % 100)))
    for i in range(50):  # window 2: all mass at the top + nulls
        rows.append((t0 + dt.timedelta(minutes=6, seconds=i), 99.0 if i % 5 else None))
    batch = spark.createDataFrame(rows, "ts timestamp, value double")

    out = windowed_numeric_psi_stream(
        batch, baseline, window="5 minutes", bins=10
    )
    got = {r["window_start"]: r for r in out.collect()}
    w1 = got[t0]
    w2 = got[t0 + dt.timedelta(minutes=5)]
    assert not w1["flagged"] and w1["psi"] < 0.1
    assert w2["flagged"] and w2["psi"] > 0.25

    drop = tmp_path / "ndrop"
    drop.mkdir()
    (drop / "b.json").write_text(
        "\n".join(
            json.dumps({"ts": r[0].isoformat(sep=" "), "value": r[1]}) for r in rows
        )
    )
    stream = spark.readStream.schema("ts timestamp, value double").json(str(drop))
    q = (
        windowed_numeric_psi_stream(stream, baseline, window="5 minutes", bins=10)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("npsi_out")
        .start()
    )
    try:
        q.processAllAvailable()
        srows = {
            r["window_start"]: r
            for r in spark.sql("SELECT * FROM npsi_out").collect()
        }
    finally:
        q.stop()
    assert {k: (v["psi"], v["flagged"]) for k, v in got.items()} == {
        k: (v["psi"], v["flagged"]) for k, v in srows.items()
    }

    import pytest

    with pytest.raises(ValueError, match="bins"):
        windowed_numeric_psi_stream(batch, baseline, bins=1)
    with pytest.raises(ValueError, match="no non-null"):
        windowed_numeric_psi_stream(batch, baseline.where("value > 1e9"))


def test_streaming_minhash_dedup_parity_with_batch(spark, sf_dir, tmp_path):
    """foreachBatch near-dup dedup over 3 micro-batches == running the
    batch incremental kernel over the same splits in the same order;
    the persisted state table stays distinct (survivor buckets never
    collide with prior state by construction)."""
    from mwas_rfam_spark.operators.dedup import incremental_minhash_dedup
    from mwas_rfam_spark.streaming.requests import streaming_minhash_dedup

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(120)
        .cache()
    )
    src = tmp_path / "src"
    batches = [
        docs.where(F.col("doc_id") % 3 == i).coalesce(1) for i in range(3)
    ]
    # one file per micro-batch, named in processing order
    for i, b in enumerate(batches):
        b.write.mode("overwrite").parquet(str(tmp_path / f"stage{i}"))
        import glob, shutil, os

        os.makedirs(src, exist_ok=True)
        f = glob.glob(str(tmp_path / f"stage{i}" / "*.parquet"))[0]
        shutil.copy(f, str(src / f"batch_{i}.parquet"))

    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    q = (
        streaming_minhash_dedup(stream, state_dir, out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["doc_id"] for r in spark.read.parquet(out_dir).select("doc_id").collect()
    }

    seen = None
    want = set()
    for b in batches:
        survivors, seen = incremental_minhash_dedup(b, seen)
        seen = seen.localCheckpoint()
        want |= {r["doc_id"] for r in survivors.select("doc_id").collect()}
    assert got == want
    assert len(got) < docs.count()  # the corpus does contain near-dups

    state = spark.read.parquet(state_dir)
    n_state = state.count()
    assert n_state == state.distinct().count()
    assert set(state.columns) == {"band", "bucket", "ingest_batch"}

    # REPLAY safety: a fresh checkpoint re-delivers the same files as
    # batches 0..2 against the already-written state + output (the
    # worst-case at-least-once scenario). Because the probe excludes
    # the current batch's own state partition and both writes are
    # per-batch overwrites, the result must be byte-identical — the
    # naive append-state design would drop every survivor here.
    q2 = (
        streaming_minhash_dedup(stream, state_dir, out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_replay"))
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got2 = {
        r["doc_id"] for r in spark.read.parquet(out_dir).select("doc_id").collect()
    }
    assert got2 == want
    # fresh read: the pre-replay `state` frame pins now-overwritten files
    state2 = spark.read.parquet(state_dir)
    assert state2.count() == n_state


def test_streaming_heavy_hitters_matches_hand_replay(spark, tmp_path):
    """The stateful Misra–Gries operator's final emission equals a
    driver-side replay of the SAME mergeable-MG fold over the same
    micro-batches, and satisfies the MG guarantee against exact counts
    (every key above the shard threshold survives; estimates are lower
    bounds within shard_rows/(capacity+1))."""
    import glob
    import os
    import shutil
    from collections import Counter

    from mwas_rfam_spark.streaming.requests import (
        _mg_merge,
        streaming_heavy_hitters,
    )

    CAP, SHARDS = 4, 2
    rng_rows = []
    # skewed vocabulary: k0 dominates, k1 moderate, long tail
    for i in range(900):
        if i % 3 == 0:
            k = "k0"
        elif i % 9 == 1:
            k = "k1"
        else:
            k = f"tail{i % 37}"
        rng_rows.append((i, k))
    rows_df = spark.createDataFrame(rng_rows, "event_id long, key string")

    src = tmp_path / "src"
    os.makedirs(src)
    batches = []
    for b in range(3):
        part = rows_df.where(F.col("event_id") % 3 == b).coalesce(1)
        stage = tmp_path / f"stage{b}"
        part.write.mode("overwrite").parquet(str(stage))
        shutil.copy(
            glob.glob(str(stage / "*.parquet"))[0], str(src / f"b{b}.parquet")
        )
        batches.append(part.collect())
        # the hand replay below merges once per micro-batch; the operator
        # merges once per Arrow chunk, so the exact-equality comparison
        # needs single-chunk batches (MG output depends on fold order —
        # all orders satisfy the guarantee, but only one matches the
        # replay). 300-row batches sit far under the 10k default.
        assert len(batches[-1]) < 10_000

    stream = (
        spark.readStream.schema(rows_df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    emissions = []
    q = (
        streaming_heavy_hitters(stream, "key", capacity=CAP, shards=SHARDS)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: emissions.append((bid, df.collect())))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # hand replay with the same shard hash + the same shared merge
    from mwas_rfam_spark.functions.scalar import md5_u32

    shard_of = {
        r["key"]: r["s"]
        for r in rows_df.select(
            "key",
            (md5_u32(F.concat_ws(":", F.lit("hh"), F.col("key"))) % SHARDS)
            .cast("int")
            .alias("s"),
        )
        .distinct()
        .collect()
    }
    summaries = {s: {} for s in range(SHARDS)}
    for batch in batches:
        per_shard: dict = {s: Counter() for s in range(SHARDS)}
        for r in batch:
            per_shard[shard_of[r["key"]]][r["key"]] += 1
        for s in range(SHARDS):
            if per_shard[s]:
                summaries[s] = _mg_merge(summaries[s], per_shard[s], CAP)

    # last emission per shard wins (update mode re-emits touched shards)
    final = {}
    final_rows = {}
    for _, rows in emissions:
        touched = {}
        for r in rows:
            touched.setdefault(r["shard"], {})[r["key"]] = r["est_count"]
            final_rows[r["shard"]] = r["shard_rows"]
        final.update(touched)
    assert final == {s: summaries[s] for s in range(SHARDS) if summaries[s]}

    # MG guarantee vs exact; the emitted shard_rows is the bound's n
    exact = Counter(k for _, k in rng_rows)
    shard_rows = Counter()
    for _, k in rng_rows:
        shard_rows[shard_of[k]] += 1
    assert {s: n for s, n in shard_rows.items() if s in final_rows} == dict(final_rows)
    for k, n in exact.items():
        s = shard_of[k]
        bound = shard_rows[s] / (CAP + 1)
        if n > bound:
            assert k in final[s], f"{k} (count {n} > {bound}) must survive"
            assert n - bound <= final[s][k] <= n


def test_minhash_state_compaction_replay_safe(spark, sf_dir, tmp_path):
    """VERDICT r6 task #4: compacting the minhash state dir must
    preserve crash-replay idempotence. Scenario: batches 0..2 run;
    batch 2's commit marker is removed (the crash-between-writes-and-
    commit window); the compactor folds ONLY committed batches 0..1
    into the frozen negative partition; the restarted stream re-runs
    batch 2 against the compacted state and must reproduce the same
    survivors — the exclusion `ingest_batch != 2` still works because
    batch 2's own partition was never folded."""
    import glob
    import os
    import shutil

    from mwas_rfam_spark.operators.dedup import incremental_minhash_dedup
    from mwas_rfam_spark.streaming.requests import (
        compact_minhash_state,
        last_committed_batch,
        streaming_minhash_dedup,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(120)
        .cache()
    )
    src = tmp_path / "src"
    batches = [docs.where(F.col("doc_id") % 3 == i).coalesce(1) for i in range(3)]
    for i, b in enumerate(batches):
        b.write.mode("overwrite").parquet(str(tmp_path / f"stage{i}"))
        os.makedirs(src, exist_ok=True)
        f = glob.glob(str(tmp_path / f"stage{i}" / "*.parquet"))[0]
        shutil.copy(f, str(src / f"batch_{i}.parquet"))

    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    q = (
        streaming_minhash_dedup(stream, state_dir, out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    seen = None
    want = set()
    for b in batches:
        survivors, seen = incremental_minhash_dedup(b, seen)
        seen = seen.localCheckpoint()
        want |= {r["doc_id"] for r in survivors.select("doc_id").collect()}
    got = {r["doc_id"] for r in spark.read.parquet(out_dir).select("doc_id").collect()}
    assert got == want

    pre_state = {
        (r["band"], r["bucket"])
        for r in spark.read.parquet(state_dir).select("band", "bucket").collect()
    }
    assert last_committed_batch(spark, ckpt) == 2

    # crash window: batch 2's writes landed but its commit marker didn't
    # (drop the local-FS checksum sibling too — a stale .crc makes the
    # restarted query's checksummed re-create fail as a bogus
    # "concurrent query" instead of rewriting the commit)
    os.remove(os.path.join(ckpt, "commits", "2"))
    crc = os.path.join(ckpt, "commits", ".2.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert last_committed_batch(spark, ckpt) == 1

    folded = compact_minhash_state(spark, state_dir, up_to_batch=1)
    assert folded == 2  # batches 0 and 1
    parts = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(state_dir, "ingest_batch=*"))
    }
    assert parts == {"ingest_batch=-2", "ingest_batch=2"}
    # band sub-partitioning survives (probes keep pruning)
    assert glob.glob(os.path.join(state_dir, "ingest_batch=-2", "band=*"))
    # nothing lost, nothing invented
    post_state = {
        (r["band"], r["bucket"])
        for r in spark.read.parquet(state_dir).select("band", "bucket").collect()
    }
    assert post_state == pre_state
    # idempotent re-run (same up_to): only the frozen partition remains
    # below the bar, so there is nothing left to fold
    assert compact_minhash_state(spark, state_dir, up_to_batch=1) == 0

    # the restarted stream re-executes ONLY uncommitted batch 2 against
    # the compacted state — survivors must be unchanged
    q2 = (
        streaming_minhash_dedup(stream, state_dir, out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got2 = {r["doc_id"] for r in spark.read.parquet(out_dir).select("doc_id").collect()}
    assert got2 == want
    post_replay = {
        (r["band"], r["bucket"])
        for r in spark.read.parquet(state_dir).select("band", "bucket").collect()
    }
    assert post_replay == pre_state


def test_minhash_state_compaction_orphan_cleanup(spark, tmp_path):
    """Review regression: a crash AFTER the new frozen partition's
    _SUCCESS but BEFORE source deletion used to leave the old frozen
    partition duplicated forever (the lone-negative early return
    skipped it); a re-run must now clean it up."""
    import glob
    import os
    import shutil

    from mwas_rfam_spark.streaming.requests import compact_minhash_state

    state = str(tmp_path / "state")

    def write_batch(bid, offset):
        spark.createDataFrame(
            [(b, 100 + offset + b) for b in range(4)], "band int, bucket long"
        ).write.partitionBy("band").parquet(f"{state}/ingest_batch={bid}")

    write_batch(0, 0)
    assert compact_minhash_state(spark, state, up_to_batch=0) == 1  # -> -1
    write_batch(1, 10)
    # stash the current frozen partition to resurrect it post-compaction
    shutil.copytree(f"{state}/ingest_batch=-1", str(tmp_path / "stash"))
    assert compact_minhash_state(spark, state, up_to_batch=1) == 2  # -> -2
    pre = sorted(
        map(tuple, spark.read.parquet(state).select("band", "bucket").distinct().collect())
    )
    # simulate the crash window: old frozen partition still on disk
    shutil.copytree(str(tmp_path / "stash"), f"{state}/ingest_batch=-1")
    # re-run at the same bar: the duplicated old frozen partition must
    # be folded away (it is already fully contained in -2)
    assert compact_minhash_state(spark, state, up_to_batch=1) == 1
    parts = {
        os.path.basename(p) for p in glob.glob(os.path.join(state, "ingest_batch=*"))
    }
    assert parts == {"ingest_batch=-2"}
    post = sorted(
        map(tuple, spark.read.parquet(state).select("band", "bucket").distinct().collect())
    )
    assert post == pre
    # steady state: nothing left to fold
    assert compact_minhash_state(spark, state, up_to_batch=1) == 0


def test_streaming_cms_matches_one_pass(spark, tmp_path):
    """Streaming count-min over 3 micro-batches == the one-pass batch
    sketch of all rows (linear counters), and a fresh-checkpoint replay
    changes nothing (per-batch sketches are pure functions of their
    batch, overwritten in place). Runs the EXPLICIT ingest-scale
    derivation (hash='xxhash64', SCALE.md probe N) so the opt-in path
    is the one exercised end-to-end; the one-pass reference is built
    under the same hash, and the reader's expected_hash guard is
    asserted both ways."""
    import glob
    import os
    import shutil

    from mwas_rfam_spark.operators.sketches import cms_build, cms_lookup
    from mwas_rfam_spark.streaming.requests import cms_state_sketch, streaming_cms

    docs = spark.createDataFrame(
        [(i, f"k{i % 17}") for i in range(300)], "doc_id long, key string"
    ).cache()
    src = tmp_path / "src"
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        b = docs.where(F.col("doc_id") % 3 == i).coalesce(1)
        b.write.mode("overwrite").parquet(str(tmp_path / f"stage{i}"))
        f = glob.glob(str(tmp_path / f"stage{i}" / "*.parquet"))[0]
        shutil.copy(f, str(src / f"batch_{i}.parquet"))

    state = str(tmp_path / "cms_state")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_cms(stream, state, "key", width=64, depth=3, seed=9, hash="xxhash64")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    merged = cms_state_sketch(spark, state, expected_hash="xxhash64")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="caller expects"):
        cms_state_sketch(spark, state, expected_hash="md5")
    whole = cms_build(docs, "key", width=64, depth=3, seed=9, hash="xxhash64")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))

    # probing the streamed state gives the exact same estimates
    keys = docs.select("key").distinct()
    est_s = dict(
        map(tuple, cms_lookup(merged, keys, "key", 64, 3, 9, hash="xxhash64").collect())
    )
    est_b = dict(
        map(tuple, cms_lookup(whole, keys, "key", 64, 3, 9, hash="xxhash64").collect())
    )
    assert est_s == est_b

    # fresh-checkpoint replay: same files re-delivered, state unchanged
    q2 = (
        streaming_cms(stream, state, "key", width=64, depth=3, seed=9, hash="xxhash64")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    again = cms_state_sketch(spark, state)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, whole.collect()))

    # compaction folds the committed batches into one frozen partition
    # with IDENTICAL totals (linear counters), and converges when re-run
    import glob as _glob
    import os as _os

    from mwas_rfam_spark.streaming.requests import compact_cms_state

    assert compact_cms_state(spark, state, up_to_batch=2) == 3
    parts = {
        _os.path.basename(p) for p in _glob.glob(_os.path.join(state, "ingest_batch=*"))
    }
    assert parts == {"ingest_batch=-3"}
    folded = cms_state_sketch(spark, state)
    assert sorted(map(tuple, folded.collect())) == sorted(map(tuple, whole.collect()))
    assert compact_cms_state(spark, state, up_to_batch=2) == 0


def test_cms_state_reader_crash_consistent(spark, tmp_path):
    """The SUM reader must not double-count when a compactor crashed
    between the frozen write and the source deletes: the deepest frozen
    partition is authoritative for every batch at or below its bar."""
    from mwas_rfam_spark.operators.sketches import cms_build
    from mwas_rfam_spark.streaming.requests import cms_state_sketch, compact_cms_state

    state = str(tmp_path / "state")
    docs = spark.createDataFrame(
        [(i, f"k{i % 9}") for i in range(120)], "doc_id long, key string"
    )
    for b in range(3):
        cms_build(
            docs.where(F.col("doc_id") % 3 == b), "key", width=32, depth=2, seed=1
        ).write.parquet(f"{state}/ingest_batch={b}")
    want = sorted(
        map(tuple, cms_build(docs, "key", width=32, depth=2, seed=1).collect())
    )
    assert sorted(map(tuple, cms_state_sketch(spark, state).collect())) == want

    # simulate the crash: fold batches 0..1 into -2, then RESURRECT them
    import shutil

    shutil.copytree(f"{state}/ingest_batch=0", str(tmp_path / "s0"))
    shutil.copytree(f"{state}/ingest_batch=1", str(tmp_path / "s1"))
    assert compact_cms_state(spark, state, up_to_batch=1) == 2
    shutil.copytree(str(tmp_path / "s0"), f"{state}/ingest_batch=0")
    shutil.copytree(str(tmp_path / "s1"), f"{state}/ingest_batch=1")
    # naive sum over all partitions would double batches 0-1; the reader
    # must return the exact one-pass totals regardless
    assert sorted(map(tuple, cms_state_sketch(spark, state).collect())) == want
    # re-running the compactor converges the files, totals unchanged
    assert compact_cms_state(spark, state, up_to_batch=1) == 2
    assert sorted(map(tuple, cms_state_sketch(spark, state).collect())) == want


def test_cms_compactor_no_double_count_at_higher_watermark(spark, tmp_path):
    """r7 ADVICE (medium): a compaction that crashed mid-delete at
    watermark 1 leaves raw batches already folded into frozen -2; a
    LATER compaction at watermark 2 must delete those leftovers WITHOUT
    folding them (under SUM they'd be double-counted into the new
    frozen partition permanently — the reader's deepest-frozen rule
    would then make the inflated totals canonical)."""
    import glob
    import shutil

    from mwas_rfam_spark.operators.sketches import cms_build
    from mwas_rfam_spark.streaming.requests import cms_state_sketch, compact_cms_state

    state = str(tmp_path / "state")
    docs = spark.createDataFrame(
        [(i, f"k{i % 7}") for i in range(90)], "doc_id long, key string"
    )
    for b in range(3):
        cms_build(
            docs.where(F.col("doc_id") % 3 == b), "key", width=16, depth=2, seed=3
        ).write.parquet(f"{state}/ingest_batch={b}")
    want = sorted(
        map(tuple, cms_build(docs, "key", width=16, depth=2, seed=3).collect())
    )

    # crash window at watermark 1: frozen -2 written, batch 1 not deleted
    shutil.copytree(f"{state}/ingest_batch=1", str(tmp_path / "stash1"))
    assert compact_cms_state(spark, state, up_to_batch=1) == 2
    shutil.copytree(str(tmp_path / "stash1"), f"{state}/ingest_batch=1")

    # next compaction runs at a HIGHER watermark — leftover batch 1 is
    # subsumed by -2 and must be dropped, not folded again
    compact_cms_state(spark, state, up_to_batch=2)
    parts = {
        os.path.basename(p) for p in glob.glob(os.path.join(state, "ingest_batch=*"))
    }
    assert parts == {"ingest_batch=-3"}
    assert sorted(map(tuple, cms_state_sketch(spark, state).collect())) == want
    # converged: re-run is a no-op, totals stable
    assert compact_cms_state(spark, state, up_to_batch=2) == 0
    assert sorted(map(tuple, cms_state_sketch(spark, state).collect())) == want


def test_cms_partial_frozen_partition_not_authoritative(spark, tmp_path):
    """r7 ADVICE (low): a frozen partition without _SUCCESS (compaction
    crashed mid-write, after some task-file renames) must neither
    suppress the still-present raw sources in the READER (silent
    undercount) nor be folded as a source by the COMPACTOR (partial
    duplicate counts)."""
    import glob
    import shutil

    from mwas_rfam_spark.operators.sketches import cms_build
    from mwas_rfam_spark.streaming.requests import cms_state_sketch, compact_cms_state

    state = str(tmp_path / "state")
    docs = spark.createDataFrame(
        [(i, f"k{i % 5}") for i in range(60)], "doc_id long, key string"
    )
    for b in range(2):
        cms_build(
            docs.where(F.col("doc_id") % 2 == b), "key", width=16, depth=2, seed=5
        ).write.parquet(f"{state}/ingest_batch={b}")
    want = sorted(
        map(tuple, cms_build(docs, "key", width=16, depth=2, seed=5).collect())
    )

    # manufacture a partial frozen write: compact, resurrect sources,
    # then strip the target's _SUCCESS (+ its local-FS .crc sibling)
    shutil.copytree(f"{state}/ingest_batch=0", str(tmp_path / "s0"))
    shutil.copytree(f"{state}/ingest_batch=1", str(tmp_path / "s1"))
    assert compact_cms_state(spark, state, up_to_batch=1) == 2
    shutil.copytree(str(tmp_path / "s0"), f"{state}/ingest_batch=0")
    shutil.copytree(str(tmp_path / "s1"), f"{state}/ingest_batch=1")
    for marker in ("_SUCCESS", "._SUCCESS.crc"):
        p = os.path.join(state, "ingest_batch=-2", marker)
        if os.path.exists(p):
            os.remove(p)

    # reader: partial -2 is ignored, raw batches sum to exact totals
    assert sorted(map(tuple, cms_state_sketch(spark, state).collect())) == want

    # compactor: partial -2 is deleted without folding; rebuild is exact
    compact_cms_state(spark, state, up_to_batch=1)
    parts = {
        os.path.basename(p) for p in glob.glob(os.path.join(state, "ingest_batch=*"))
    }
    assert parts == {"ingest_batch=-2"}
    assert os.path.exists(os.path.join(state, "ingest_batch=-2", "_SUCCESS"))
    assert sorted(map(tuple, cms_state_sketch(spark, state).collect())) == want


def test_streaming_cms_derivation_identity(spark, tmp_path):
    """r8 verdict task #5: the hash derivation is part of a sketch's
    identity. The sink records it per state partition; the reader and
    the compactor REFUSE a state dir that mixes derivations (same
    (depth, bucket) ids, unrelated key→bucket maps — a sum would be
    garbage, not an estimate). Legacy partitions without the column
    count as md5 (the only derivation the pre-r9 sink wrote), so an
    md5-tagged dir merges with them and an xxhash64 dir refuses."""
    import pytest

    from mwas_rfam_spark.operators.sketches import cms_build
    from mwas_rfam_spark.streaming.requests import (
        cms_state_sketch,
        compact_cms_state,
        streaming_cms,
    )

    docs = spark.createDataFrame(
        [(i, f"k{i % 6}") for i in range(80)], "doc_id long, key string"
    )

    # invalid derivation refuses at sink CONSTRUCTION, not mid-stream
    with pytest.raises(ValueError, match="hash must be"):
        streaming_cms(docs, str(tmp_path / "x"), "key", hash="sha1")

    # md5-tagged partitions merge with legacy (column-less) partitions
    state = str(tmp_path / "state_md5")
    cms_build(
        docs.where(F.col("doc_id") % 2 == 0), "key", width=16, depth=2, seed=4
    ).write.parquet(f"{state}/ingest_batch=0")  # legacy: no derivation col
    cms_build(
        docs.where(F.col("doc_id") % 2 == 1), "key", width=16, depth=2, seed=4
    ).withColumn("derivation", F.lit("md5")).write.parquet(
        f"{state}/ingest_batch=1"
    )
    want = sorted(
        map(tuple, cms_build(docs, "key", width=16, depth=2, seed=4).collect())
    )
    got = cms_state_sketch(spark, state)
    assert sorted(got.columns) == ["bucket", "cnt", "depth"]  # shape kept
    assert sorted(map(tuple, got.collect())) == want
    # compactor preserves the identity column through the fold
    assert compact_cms_state(spark, state, up_to_batch=1) == 2
    frozen = spark.read.parquet(f"{state}/ingest_batch=-2")
    assert set(frozen.select("derivation").distinct().toPandas()["derivation"]) == {
        "md5"
    }
    assert sorted(map(tuple, cms_state_sketch(spark, state).collect())) == want

    # a mixed dir refuses in BOTH the reader and the compactor
    mixed = str(tmp_path / "state_mixed")
    cms_build(
        docs.where(F.col("doc_id") % 2 == 0), "key", width=16, depth=2, seed=4
    ).withColumn("derivation", F.lit("md5")).write.parquet(
        f"{mixed}/ingest_batch=0"
    )
    cms_build(
        docs.where(F.col("doc_id") % 2 == 1),
        "key",
        width=16,
        depth=2,
        seed=4,
        hash="xxhash64",
    ).withColumn("derivation", F.lit("xxhash64")).write.parquet(
        f"{mixed}/ingest_batch=1"
    )
    with pytest.raises(ValueError, match="mixes hash derivations"):
        cms_state_sketch(spark, mixed).collect()
    with pytest.raises(ValueError, match="mixes hash derivations"):
        compact_cms_state(spark, mixed, up_to_batch=1)


def test_streaming_eval_counts_auc_matches_batch(spark, tmp_path):
    """Streaming exact-AUC state (r9 stretch): AUC from the per-score
    counts state over 3 micro-batches == binary_auc over all rows
    (counts are linear); a fresh-checkpoint replay changes nothing;
    compaction folds the committed batches with identical AUC."""
    import glob
    import os
    import shutil

    from mwas_rfam_spark.operators.evaluation import binary_auc
    from mwas_rfam_spark.streaming.requests import (
        compact_eval_state,
        eval_state_auc,
        streaming_eval_counts,
    )

    rows = [
        (i, round(0.05 * (i % 20) + (0.2 if i % 3 == 0 else 0.0), 3), i % 2)
        for i in range(300)
    ]
    # seed ties, a NaN and a NULL label so the exclusion path streams too
    docs = spark.createDataFrame(
        rows + [(300, float("nan"), 1), (301, 0.5, None)],
        "doc_id long, score double, label int",
    ).cache()
    src = tmp_path / "src"
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        b = docs.where(F.col("doc_id") % 3 == i).coalesce(1)
        b.write.mode("overwrite").parquet(str(tmp_path / f"stage{i}"))
        f = glob.glob(str(tmp_path / f"stage{i}" / "*.parquet"))[0]
        shutil.copy(f, str(src / f"batch_{i}.parquet"))

    state = str(tmp_path / "eval_state")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_eval_counts(stream, state)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = binary_auc(docs).collect()[0]
    got = eval_state_auc(spark, state).collect()[0]
    assert got["auc"] == pytest.approx(want["auc"], abs=1e-12)
    assert (got["n_pos"], got["n_neg"], got["n_null"]) == (
        want["n_pos"], want["n_neg"], want["n_null"],
    )
    assert got["n_null"] == 2  # the NaN score + NULL label rows streamed

    # fresh-checkpoint replay: identical bytes, state unchanged
    q2 = (
        streaming_eval_counts(stream, state)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    again = eval_state_auc(spark, state).collect()[0]
    assert again["auc"] == pytest.approx(want["auc"], abs=1e-12)

    # compaction: one frozen partition, identical AUC, converged re-run
    assert compact_eval_state(spark, state, up_to_batch=2) == 3
    parts = {
        os.path.basename(p) for p in glob.glob(os.path.join(state, "ingest_batch=*"))
    }
    assert parts == {"ingest_batch=-3"}
    folded = eval_state_auc(spark, state).collect()[0]
    assert folded["auc"] == pytest.approx(want["auc"], abs=1e-12)
    assert folded["n_null"] == 2
    assert compact_eval_state(spark, state, up_to_batch=2) == 0

    # crash window: fold 0..1, resurrect sources — the reader's
    # deepest-frozen bar must not double-count (shared
    # _authoritative_state_rows rule)
    state2 = str(tmp_path / "eval_state2")
    from mwas_rfam_spark.operators.evaluation import per_score_counts

    for b in range(2):
        per_score_counts(docs.where(F.col("doc_id") % 2 == b)).write.parquet(
            f"{state2}/ingest_batch={b}"
        )
    shutil.copytree(f"{state2}/ingest_batch=0", str(tmp_path / "s0"))
    assert compact_eval_state(spark, state2, up_to_batch=1) == 2
    shutil.copytree(str(tmp_path / "s0"), f"{state2}/ingest_batch=0")
    resurrected = eval_state_auc(spark, state2).collect()[0]
    assert resurrected["auc"] == pytest.approx(want["auc"], abs=1e-12)
    assert (resurrected["n_pos"], resurrected["n_neg"]) == (
        want["n_pos"], want["n_neg"],
    )


def test_eval_state_layout_manifest(spark, tmp_path, monkeypatch):
    """r14 opt round (guide §6): after compaction the state readers must
    read via the stamped layout manifest — ZERO per-read mergeSchema
    footer scans — while a raw batch written after the compaction (the
    mid-stream schema-upgrade scenario) surfaces its new column through
    a footer merge of the TAIL partitions only. Manifest deleted →
    full footer-merge fallback, identical rows."""
    import glob
    import shutil

    from pyspark.sql.readwriter import DataFrameReader

    from mwas_rfam_spark.operators.evaluation import per_score_counts
    from mwas_rfam_spark.streaming.requests import (
        _LAYOUT_MANIFEST,
        _authoritative_state_rows,
        compact_eval_state,
        eval_state_auc,
    )

    docs = spark.createDataFrame(
        [(i, round(0.1 * (i % 10), 1), i % 2) for i in range(100)],
        "doc_id long, score double, label int",
    )
    state = str(tmp_path / "eval_state")
    for b in range(2):
        per_score_counts(docs.where(F.col("doc_id") % 2 == b)).write.parquet(
            f"{state}/ingest_batch={b}"
        )
    baseline = eval_state_auc(spark, state).collect()[0]

    assert compact_eval_state(spark, state, up_to_batch=1) == 2
    assert os.path.exists(os.path.join(state, _LAYOUT_MANIFEST))

    # spy on mergeSchema: the manifest-covered read must not use it
    merge_calls = []
    orig_option = DataFrameReader.option

    def spy_option(self, key, value):
        if str(key) == "mergeSchema":
            merge_calls.append(value)
        return orig_option(self, key, value)

    monkeypatch.setattr(DataFrameReader, "option", spy_option)
    got = eval_state_auc(spark, state).collect()[0]
    assert merge_calls == []  # zero footer-merge reads with a fresh manifest
    assert got["auc"] == pytest.approx(baseline["auc"], abs=1e-12)
    assert (got["n_pos"], got["n_neg"], got["n_null"]) == (
        baseline["n_pos"], baseline["n_neg"], baseline["n_null"],
    )

    # mid-stream upgrade AFTER the compaction: new raw batch carries an
    # extra column — the reader must surface it (tail footer merge only)
    merge_calls.clear()
    per_score_counts(docs.where(F.col("doc_id") % 2 == 0)).withColumn(
        "derivation", F.lit("xx64")
    ).write.parquet(f"{state}/ingest_batch=2")
    rows = _authoritative_state_rows(spark, state)
    assert "derivation" in rows.columns
    assert len(merge_calls) == 1  # ONE tail merge, not a full-dir scan
    vals = {r["derivation"] for r in rows.select("derivation").distinct().collect()}
    assert vals == {None, "xx64"}  # stamped partitions NULL, tail typed

    # manifest deleted → full footer-merge fallback, identical relation
    merge_calls.clear()
    os.remove(os.path.join(state, _LAYOUT_MANIFEST))
    rows_fb = _authoritative_state_rows(spark, state)
    assert len(merge_calls) == 1
    assert "derivation" in rows_fb.columns
    from collections import Counter

    cols = sorted(rows.columns)
    assert sorted(rows_fb.columns) == cols  # same columns either path
    assert Counter(map(tuple, rows.select(*cols).collect())) == Counter(
        map(tuple, rows_fb.select(*cols).collect())
    )


def test_streaming_eval_counts_quantize_bounds_state(spark, tmp_path):
    """quantize= (r10 carry-over task #4): a CONTINUOUS score stream —
    every row a new distinct float — must not grow per-score state with
    the corpus. With quantize=2 the folded state stays ≤ 10²+1 rows by
    construction, the state AUC equals binary_auc over the identically
    rounded relation exactly (counts stay linear), and the perturbation
    vs the unrounded AUC is within the documented tie-mass bound. A bad
    quantize fails at sink construction, not in the N-th micro-batch."""
    import glob
    import os
    import shutil

    from mwas_rfam_spark.operators.evaluation import binary_auc
    from mwas_rfam_spark.streaming.requests import (
        eval_state_auc,
        streaming_eval_counts,
    )

    # continuous scores: i/997 mod 1 — 600 rows, 600 distinct doubles
    rows = [(i, (i * 357 % 997) / 997.0, (i * 7 % 13) % 2) for i in range(600)]
    docs = spark.createDataFrame(rows, "doc_id long, score double, label int").cache()
    assert docs.select("score").distinct().count() == 600

    src = tmp_path / "qsrc"
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        b = docs.where(F.col("doc_id") % 3 == i).coalesce(1)
        b.write.mode("overwrite").parquet(str(tmp_path / f"qstage{i}"))
        f = glob.glob(str(tmp_path / f"qstage{i}" / "*.parquet"))[0]
        shutil.copy(f, str(src / f"batch_{i}.parquet"))

    state = str(tmp_path / "q_eval_state")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_eval_counts(stream, state, quantize=2)
        .option("checkpointLocation", str(tmp_path / "qckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # state cardinality bounded by construction: ≤ 10^2 + 1 distinct v
    # (101 grid points on [0,1) at 2 digits, +1 for the null row)
    folded = spark.read.parquet(state).groupBy("v").count()
    assert folded.count() <= 101 + 1

    got = eval_state_auc(spark, state).collect()[0]
    rounded = docs.withColumn("score", F.round("score", 2))
    want = binary_auc(rounded).collect()[0]
    assert got["auc"] == pytest.approx(want["auc"], abs=1e-12)
    assert (got["n_pos"], got["n_neg"], got["n_null"]) == (
        want["n_pos"], want["n_neg"], 0,
    )
    # tie-mass perturbation bound vs the unrounded AUC: Σ pos_g·neg_g
    # over rounded-tie groups / (n⁺·n⁻)
    exact = binary_auc(docs).collect()[0]
    tie_mass = (
        rounded.groupBy("score")
        .agg(
            F.sum(F.col("label")).alias("p"),
            F.sum(1 - F.col("label")).alias("n"),
        )
        .agg(F.sum(F.col("p") * F.col("n")))
        .collect()[0][0]
    ) / (want["n_pos"] * want["n_neg"])
    assert abs(got["auc"] - exact["auc"]) <= tie_mass + 1e-12

    with pytest.raises(ValueError, match="quantize"):
        streaming_eval_counts(stream, state, quantize=-1)
    with pytest.raises(ValueError, match="quantize"):
        streaming_eval_counts(stream, state, quantize=2.5)


def test_cms_compactor_early_exit_clears_partial_target(spark, tmp_path):
    """r8 ADVICE (low): when the lone deepest frozen partition already
    IS the folded state (no new raws), the early-exit must still delete
    a partial (_SUCCESS-less) TARGET partition a crashed compaction
    left at this watermark — readers ignore it, but without the cleanup
    it lingers until a higher watermark subsumes it."""
    import glob
    import shutil

    from mwas_rfam_spark.operators.sketches import cms_build
    from mwas_rfam_spark.streaming.requests import cms_state_sketch, compact_cms_state

    state = str(tmp_path / "state")
    docs = spark.createDataFrame(
        [(i, f"k{i % 5}") for i in range(60)], "doc_id long, key string"
    )
    for b in range(2):
        cms_build(
            docs.where(F.col("doc_id") % 2 == b), "key", width=16, depth=2, seed=6
        ).write.parquet(f"{state}/ingest_batch={b}")
    want = sorted(
        map(tuple, cms_build(docs, "key", width=16, depth=2, seed=6).collect())
    )
    assert compact_cms_state(spark, state, up_to_batch=1) == 2  # frozen -2

    # crashed compaction at watermark 2: partial target -3, no _SUCCESS
    shutil.copytree(f"{state}/ingest_batch=-2", f"{state}/ingest_batch=-3")
    for marker in ("_SUCCESS", "._SUCCESS.crc"):
        p = os.path.join(state, "ingest_batch=-3", marker)
        if os.path.exists(p):
            os.remove(p)

    compact_cms_state(spark, state, up_to_batch=2)
    parts = {
        os.path.basename(p) for p in glob.glob(os.path.join(state, "ingest_batch=*"))
    }
    assert parts == {"ingest_batch=-2"}  # partial -3 cleared, -2 intact
    assert sorted(map(tuple, cms_state_sketch(spark, state).collect())) == want


def test_streaming_eval_counts_grouped_state(spark, tmp_path):
    """group_cols= (r11 stretch): per-slice exact-AUC state. The
    grouped state reader matches binary_auc computed independently per
    slice (incl. a NULL group value and an ALL-invalid slice, which
    must surface as auc NULL / counts 0 / n_null > 0, not vanish); the
    UNGROUPED reader over the same grouped dir still yields the exact
    global AUC (counts are linear across slices); compaction derives
    its fold keys from the stored columns so the slices survive the
    fold; layout pinning and the ungrouped-dir refusal raise."""
    import glob
    import os
    import shutil

    from mwas_rfam_spark.operators.evaluation import binary_auc, per_score_counts
    from mwas_rfam_spark.streaming.requests import (
        compact_eval_state,
        eval_state_auc,
        eval_state_grouped_auc,
        streaming_eval_counts,
    )

    langs = ["en", "ko", None]
    rows = [
        (i, langs[i % 3], round(0.07 * (i % 14) + (0.15 if i % 4 == 0 else 0.0), 3), i % 2)
        for i in range(240)
    ]
    # an all-invalid slice (every score NaN) and a NULL-label row in en
    rows += [(240 + j, "zz", float("nan"), j % 2) for j in range(4)]
    rows += [(244, "en", 0.5, None)]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, score double, label int"
    ).cache()

    src = tmp_path / "gsrc"
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        b = docs.where(F.col("doc_id") % 3 == i).coalesce(1)
        b.write.mode("overwrite").parquet(str(tmp_path / f"gstage{i}"))
        f = glob.glob(str(tmp_path / f"gstage{i}" / "*.parquet"))[0]
        shutil.copy(f, str(src / f"batch_{i}.parquet"))

    state = str(tmp_path / "g_eval_state")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_eval_counts(stream, state, group_cols=["lang"])
        .option("checkpointLocation", str(tmp_path / "gckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def check_slices(got_rows):
        got = {r["lang"]: r for r in got_rows}
        assert set(got) == {"en", "ko", None, "zz"}
        # valid slices: exact parity with binary_auc on the filtered rows
        for lang in ("en", "ko", None):
            cond = F.col("lang").isNull() if lang is None else F.col("lang") == lang
            want = binary_auc(docs.where(cond)).collect()[0]
            g = got[lang]
            assert g["auc"] == pytest.approx(want["auc"], abs=1e-12)
            assert (g["n_pos"], g["n_neg"], g["n_null"]) == (
                want["n_pos"], want["n_neg"], want["n_null"],
            )
        # the all-NaN slice surfaces instead of vanishing
        z = got["zz"]
        assert z["auc"] is None
        assert (z["n_pos"], z["n_neg"], z["n_null"]) == (0, 0, 4)
        assert got["en"]["n_null"] == 1  # the NULL-label row

    check_slices(eval_state_grouped_auc(spark, state).collect())
    # pinned layout: matching group_cols passes, a mismatch raises
    check_slices(eval_state_grouped_auc(spark, state, group_cols=["lang"]).collect())
    with pytest.raises(ValueError, match="stores group columns"):
        eval_state_grouped_auc(spark, state, group_cols=["source"])

    # linearity across slices: the ungrouped reader over the grouped
    # dir is the exact global AUC
    want_all = binary_auc(docs).collect()[0]
    glob_row = eval_state_auc(spark, state).collect()[0]
    assert glob_row["auc"] == pytest.approx(want_all["auc"], abs=1e-12)
    assert (glob_row["n_pos"], glob_row["n_neg"], glob_row["n_null"]) == (
        want_all["n_pos"], want_all["n_neg"], want_all["n_null"],
    )

    # compaction derives (v, lang) fold keys from the stored columns:
    # one frozen partition, slices intact, converged re-run
    assert compact_eval_state(spark, state, up_to_batch=2) == 3
    parts = {
        os.path.basename(p) for p in glob.glob(os.path.join(state, "ingest_batch=*"))
    }
    assert parts == {"ingest_batch=-3"}
    assert "lang" in spark.read.parquet(state).columns
    check_slices(eval_state_grouped_auc(spark, state).collect())
    assert compact_eval_state(spark, state, up_to_batch=2) == 0

    # an ungrouped dir refuses the grouped reader by name
    state2 = str(tmp_path / "u_eval_state")
    per_score_counts(docs).write.parquet(f"{state2}/ingest_batch=0")
    with pytest.raises(ValueError, match="ungrouped"):
        eval_state_grouped_auc(spark, state2)


def test_eval_state_calibration_matches_batch(spark, tmp_path):
    """eval_state_calibration: calibration reconstructed from a
    multi-batch counts state equals the row-level report over the
    concatenated rows — grouped dir gives the grouped twin's shape,
    per_slice=False collapses it to the exact global report."""
    from mwas_rfam_spark.operators.evaluation import (
        calibration_report,
        ece,
        grouped_calibration_report,
        grouped_ece,
        grouped_per_score_counts,
        per_score_counts,
    )
    from mwas_rfam_spark.streaming.requests import eval_state_calibration

    docs = spark.createDataFrame(
        [
            (i, "en" if i % 2 else "ko", 0.03 * (i % 34), int(i % 5 > 1))
            for i in range(340)
        ]
        + [(340, "en", float("nan"), 1)],
        "doc_id long, lang string, score double, label int",
    ).cache()

    ustate = str(tmp_path / "cal_u")
    gstate = str(tmp_path / "cal_g")
    for b in range(3):
        part = docs.where(F.col("doc_id") % 3 == b)
        per_score_counts(part).write.parquet(f"{ustate}/ingest_batch={b}")
        grouped_per_score_counts(part, ["lang"]).write.parquet(
            f"{gstate}/ingest_batch={b}"
        )

    def rel(df, keys=("bin",)):
        return sorted(
            tuple(r[k] for k in keys)
            + (r["n"], round(r["mean_score"], 9), round(r["pos_rate"], 9))
            for r in df.collect()
        )

    want = calibration_report(docs)
    got_u = eval_state_calibration(spark, ustate)
    assert rel(got_u) == rel(want)
    assert ece(got_u) == pytest.approx(ece(want), abs=1e-12)

    gwant = grouped_calibration_report(docs, ["lang"])
    got_g = eval_state_calibration(spark, gstate)
    assert rel(got_g, ("lang", "bin")) == rel(gwant, ("lang", "bin"))
    e_want = {r["lang"]: r["ece"] for r in grouped_ece(gwant, ["lang"]).collect()}
    e_got = {r["lang"]: r["ece"] for r in grouped_ece(got_g, ["lang"]).collect()}
    assert e_got == pytest.approx(e_want, abs=1e-12)
    # global report straight off the grouped dir
    assert rel(eval_state_calibration(spark, gstate, per_slice=False)) == rel(want)


def test_eval_state_windowed_auc_via_time_bucket_group(spark, tmp_path):
    """Windowed AUC over eval-counts state is group_cols with a time
    bucket — no new machinery: per-hour slices from state match
    binary_auc over each hour's rows, computed independently."""
    from mwas_rfam_spark.operators.evaluation import (
        binary_auc,
        grouped_per_score_counts,
    )
    from mwas_rfam_spark.streaming.requests import eval_state_grouped_auc

    docs = spark.createDataFrame(
        [
            (
                i,
                "2026-08-16 %02d:%02d:00" % (9 + (i % 3), i % 60),
                0.04 * (i % 26),
                int(i % 7 > 2),
            )
            for i in range(390)
        ],
        "doc_id long, ts string, score double, label int",
    ).withColumn("ts", F.col("ts").cast("timestamp")).cache()
    bucketed = docs.withColumn("hour", F.date_trunc("hour", "ts"))

    state = str(tmp_path / "w_eval_state")
    for b in range(2):
        grouped_per_score_counts(
            bucketed.where(F.col("doc_id") % 2 == b), ["hour"]
        ).write.parquet(f"{state}/ingest_batch={b}")

    got = {r["hour"]: r for r in eval_state_grouped_auc(spark, state).collect()}
    assert len(got) == 3
    for hour, g in got.items():
        want = binary_auc(bucketed.where(F.col("hour") == hour)).collect()[0]
        assert g["auc"] == pytest.approx(want["auc"], abs=1e-12)
        assert (g["n_pos"], g["n_neg"]) == (want["n_pos"], want["n_neg"])


def test_streaming_eval_counts_validates_group_cols_at_construction(spark, tmp_path):
    """r11 review finding: a bad group_cols must fail at sink
    construction like a bad quantize does — not inside the N-th
    micro-batch, and a reserved name must never corrupt the layout
    derivation readers rely on."""
    from mwas_rfam_spark.streaming.requests import streaming_eval_counts

    src = tmp_path / "vsrc"
    src.mkdir()
    stream = (
        spark.readStream.schema("score double, label int, lang string")
        .parquet(str(src))
    )
    state = str(tmp_path / "vstate")
    for bad in (["v"], ["cnt_a"], ["ingest_batch"], ["lang", "cnt_null"]):
        with pytest.raises(ValueError, match="reserved"):
            streaming_eval_counts(stream, state, group_cols=bad)
    with pytest.raises(ValueError, match="not in the stream"):
        streaming_eval_counts(stream, state, group_cols=["lng"])
    # a valid spec still constructs
    assert streaming_eval_counts(stream, state, group_cols=["lang"]) is not None


def test_banding_stamp_guards_state_dir(spark, tmp_path, monkeypatch):
    """r12 stretch: a band-bucket state dir is stamped with the banding
    scheme (BANDING_VERSION + num_hashes/bands/n); probing it under a
    different scheme is REFUSED instead of silently treating every
    historical near-dup as novel (changed buckets never collide)."""
    import mwas_rfam_spark.operators.dedup as dedup_mod
    from mwas_rfam_spark.streaming.requests import _verify_banding_stamp

    state = str(tmp_path / "mh_state")
    # fresh dir → stamp written
    _verify_banding_stamp(spark, state, 64, 16, 3)
    # same scheme → fine (idempotent)
    _verify_banding_stamp(spark, state, 64, 16, 3)
    # parameter drift → refused, naming the field
    with pytest.raises(ValueError, match="bands: stored=16 requested=32"):
        _verify_banding_stamp(spark, state, 64, 32, 3)
    # version-only check (the compactor's): passes on the current code
    _verify_banding_stamp(spark, state, None, None, None)
    # a future banding change (version bump) → refused even with the
    # same parameters, and by the version-only compactor check too
    monkeypatch.setattr(dedup_mod, "BANDING_VERSION", 2)
    with pytest.raises(ValueError, match="banding_version"):
        _verify_banding_stamp(spark, state, 64, 16, 3)
    with pytest.raises(ValueError, match="banding_version"):
        _verify_banding_stamp(spark, state, None, None, None)
    # the underscore-prefixed stamp is invisible to the state table's
    # own parquet reads
    spark.createDataFrame([(0, "b")], "band int, bucket string").write.parquet(
        f"{state}/ingest_batch=0"
    )
    assert spark.read.parquet(state).columns == ["band", "bucket", "ingest_batch"]


def test_compactors_noop_on_uncommitted_checkpoint(spark, tmp_path):
    """r12 review finding: the documented recipe feeds
    last_committed_batch() straight into the compactors, and that
    returns None before any commit — clean no-op, not TypeError."""
    from mwas_rfam_spark.streaming.requests import (
        compact_cms_state,
        compact_minhash_state,
    )

    state = str(tmp_path / "none_state")
    assert compact_minhash_state(spark, state, None) == 0
    assert compact_cms_state(spark, state, None) == 0


def test_banding_stamp_corrupt_refused(spark, tmp_path):
    """r12 review finding: a truncated/hand-edited stamp parsed
    PERMISSIVE to an all-NULL row and silently disabled the guard."""
    import os

    from mwas_rfam_spark.streaming.requests import _verify_banding_stamp

    state = str(tmp_path / "mh2")
    os.makedirs(f"{state}/_banding")
    with open(f"{state}/_banding/part-corrupt.json", "w") as f:
        f.write('{"garbage": tru')
    with pytest.raises(ValueError, match="corrupt banding stamp"):
        _verify_banding_stamp(spark, state, 64, 16, 3)


def test_heavy_hitters_validates_shards_and_drops_null_keys(spark, tmp_path):
    """r12 review findings: shards<=0 died inside the Nth micro-batch
    (DIVIDE_BY_ZERO under ANSI); NULL keys inflated one shard's n_rows
    while value_counts dropped them from the summary, silently
    loosening the emitted error bound."""
    import datetime as dt

    from mwas_rfam_spark.streaming.requests import streaming_heavy_hitters

    base = spark.createDataFrame(
        [(dt.datetime(2026, 1, 1), None)] * 5
        + [(dt.datetime(2026, 1, 1), "hot")] * 3,
        "ts timestamp, k string",
    )
    with pytest.raises(ValueError, match="shards"):
        streaming_heavy_hitters(base, "k", shards=0)
    src = str(tmp_path / "hh_src")
    base.write.json(src)
    stream = spark.readStream.schema("ts timestamp, k string").json(src)
    out = streaming_heavy_hitters(stream, "k", capacity=4, shards=1)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("hh_nulls")
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM hh_nulls").collect()
    finally:
        q.stop()
    assert {r["key"] for r in rows} == {"hot"}
    # shard_rows counts only folded (non-NULL) keys — the bound's
    # denominator matches what the summary actually saw
    assert all(r["shard_rows"] == 3 for r in rows)


def test_incremental_rollup_nan_propagates_not_dilutes(spark, tmp_path):
    """r13 review finding: the state fold used pandas' default
    skipna sum while counting the row, so one NaN rpm silently DILUTED
    the running mean (mean(10, 20, NaN) -> 10.0) instead of propagating
    NaN like batch F.avg."""
    import math

    drop = tmp_path / "drop_nan"
    drop.mkdir()
    catalog = spark.createDataFrame(
        [("P1", "S1", f"R{i}", 1_000_000) for i in (1, 2, 3)], CATALOG_SCHEMA
    )
    stream = read_request_stream(spark, str(drop))
    out = incremental_rollup_stream(resolve_stream(stream, catalog))
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("inc_nan_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_nan"))
        .start()
    )
    try:
        (drop / "b1.json").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"request_id": "q", "run": "R1", "group": "g", "quantifier": 10.0},
                    {"request_id": "q", "run": "R2", "group": "g", "quantifier": 20.0},
                    {"request_id": "q", "run": "R3", "group": "g", "quantifier": float("nan")},
                ]
            )
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM inc_nan_out").collect()
        assert len(rows) == 1
        assert rows[0]["n_runs"] == 3
        # the poisoned mean emits as NULL (Arrow: pandas NaN is the
        # null sentinel) where batch F.avg shows NaN — both read
        # "undefined"; what must NEVER appear is a diluted 15.0
        assert rows[0]["rpm"] is None or math.isnan(rows[0]["rpm"]), (
            f"NaN must poison the mean, got diluted {rows[0]['rpm']}"
        )
    finally:
        q.stop()


def test_banding_stamp_torn_field_refused(spark, tmp_path):
    """r13 review finding: a stamp that kept banding_version but lost a
    checked parameter (num_hashes/bands/n parse to NULL) silently
    SKIPPED that parameter's comparison — permanently disabling the
    guard. A stored NULL for a checked field now refuses as corrupt."""
    import json as _json

    from mwas_rfam_spark.operators.dedup import BANDING_VERSION
    from mwas_rfam_spark.streaming.requests import _verify_banding_stamp

    state_dir = tmp_path / "band_state"
    state_dir.mkdir()
    stamp_dir = state_dir / "_banding"
    stamp_dir.mkdir()
    (stamp_dir / "part-0.json").write_text(
        _json.dumps({"banding_version": BANDING_VERSION, "bands": 16})
        # num_hashes and n are MISSING -> parse to NULL
    )
    with pytest.raises(ValueError, match="missing stored field"):
        _verify_banding_stamp(
            spark, str(state_dir), num_hashes=64, bands=16, n=3
        )


def test_resolve_stream_honors_config(spark):
    """r13 review finding: the streaming resolve hard-coded
    DEFAULT_CONFIG (1e6 sentinel/const, no blacklist), so any deployment
    overriding those got silently different rpm values on the streaming
    path than batch resolve_and_normalize for the SAME observation."""
    from mwas_rfam_spark.config import MwasConfig
    from mwas_rfam_spark.operators.mwas import resolve_and_normalize
    from mwas_rfam_spark.schemas import INPUT_SCHEMA

    cfg = MwasConfig(
        normalizing_const=2_000_000.0,
        zero_spots_replacement=500_000.0,
        blacklist=("P2",),
    )
    catalog = spark.createDataFrame(
        [("P1", "S1", "R1", 1_000_000), ("P1", "S2", "R2", 0),
         ("P2", "S3", "R3", 1_000_000)],
        "bio_project string, bio_sample string, run string, spots long",
    )
    inp = spark.createDataFrame(
        [("R1", "g", 500.0), ("R2", "g", 7.0), ("R3", "g", 3.0)], INPUT_SCHEMA
    )
    batch = {r["bio_sample"]: r["rpm"]
             for r in resolve_and_normalize(inp, catalog, cfg).collect()}
    req = inp.withColumn("request_id", F.lit("q"))
    stream = {r["bio_sample"]: r["rpm"]
              for r in resolve_stream(req, catalog, cfg).collect()}
    assert batch == stream
    assert "S3" not in stream  # blacklist honored on the stream path
    assert stream["S1"] == pytest.approx(500.0 / 1_000_000 * 2_000_000)
    assert stream["S2"] == pytest.approx(7.0 / 500_000 * 2_000_000)


@pytest.mark.parametrize(
    "query,shared", [("eval_state_auc", "eval_state"), ("eval_state_grouped_auc", "eval_state_grouped")]
)
def test_eval_state_build_leaves_another_process_state_alone(spark, sf_dir, query, shared):
    """Each process builds the eval_state_* entries' state in a dir of
    its own: a complete state dir at the checkout's shared path,
    standing in for another process's, survives this process's build."""
    import shutil

    import __spark_entry__ as entrymod

    other = os.path.join(
        os.path.dirname(os.path.abspath(entrymod.__file__)), "spark-warehouse",
        shared, os.path.basename(os.path.normpath(sf_dir)),
    )
    spark.range(3).selectExpr("CAST(id AS DOUBLE) AS v").write.mode("overwrite").parquet(
        f"{other}/ingest_batch=0"
    )
    entrymod._EVAL_STATES.clear()
    try:
        assert entrymod.bench_queries()[query](spark, sf_dir).collect()
        assert spark.read.parquet(f"{other}/ingest_batch=0").count() == 3
    finally:
        shutil.rmtree(other, ignore_errors=True)
