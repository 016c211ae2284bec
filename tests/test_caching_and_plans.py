"""F11 result-caching tests + physical-plan quality assertions
(pushdown, pruning, broadcast) — the plans we'd want at 100 TB, checked
at test scale."""

import pytest
from pyspark.sql import functions as F

from mwas_rfam_spark.config import MwasConfig
from mwas_rfam_spark.operators.caching import (
    dataframe_fingerprint,
    run_mwas_cached,
)
from mwas_rfam_spark.operators.condense import condense_metadata
from mwas_rfam_spark.plans.sampling import stratified_synthetic_input
from mwas_rfam_spark.schemas import CATALOG_SCHEMA, INPUT_SCHEMA
from mwas_rfam_spark.sources.readers import melt_wide_metadata


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fingerprint_order_independent(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], ["k", "v"])
    b = spark.createDataFrame([(3, "z"), (1, "x"), (2, "y")], ["k", "v"])
    c = spark.createDataFrame([(1, "x"), (2, "y"), (3, "w")], ["k", "v"])
    fa, fb, fc = (dataframe_fingerprint(d) for d in (a, b, c))
    assert fa == fb  # row order must not matter
    assert fa != fc  # content must


def test_fingerprint_includes_count(spark):
    # xor of a row with itself cancels out; the row count guards that
    a = spark.createDataFrame([(1, "x")], ["k", "v"])
    b = spark.createDataFrame([(1, "x"), (1, "x"), (1, "x")], ["k", "v"])
    assert dataframe_fingerprint(a) != dataframe_fingerprint(b)


def test_run_mwas_cached_round_trip(spark, tmp_path):
    input_df = spark.createDataFrame(
        [("R1", "g1", 10.0), ("R2", "g1", 20.0), ("R3", "g1", 5.0),
         ("R4", "g1", 8.0), ("R5", "g1", 12.0)], INPUT_SCHEMA
    )
    catalog_df = spark.createDataFrame(
        [("P1", f"SAM0{i}", f"R{i}", 1_000_000) for i in range(1, 6)], CATALOG_SCHEMA
    )
    wide = spark.createDataFrame(
        [(f"SAM0{i}", "a" if i <= 2 else "b", "x" if i % 2 else "y") for i in range(1, 6)],
        ["biosample_id", "t1", "t2"],
    )
    sets_df, ref_df = condense_metadata(melt_wide_metadata(wide, "P1"))
    cfg = MwasConfig(t_test_only=True)
    cache = str(tmp_path / "mwas_cache")
    r1 = run_mwas_cached(spark, input_df, catalog_df, sets_df, ref_df, cache, cfg)
    rows1 = sorted(map(tuple, r1.collect()))
    r2 = run_mwas_cached(spark, input_df, catalog_df, sets_df, ref_df, cache, cfg)
    rows2 = sorted(map(tuple, r2.collect()))
    assert rows1 == rows2 and len(rows1) > 0
    # second call must be a pure parquet scan — no joins, no Python stage
    p2 = _physical(r2)
    assert "Scan parquet" in p2 and "SortMergeJoin" not in p2 and "FlatMapGroupsInPandas" not in p2
    # a different config misses the cache
    import os
    assert len(os.listdir(cache)) == 1
    run_mwas_cached(spark, input_df, catalog_df, sets_df, ref_df, cache,
                    MwasConfig(t_test_only=True, p_value_threshold=0.5))
    assert len(os.listdir(cache)) == 2
    # a changed side relation (catalog spots) misses too — same input CSV
    # with a different catalog must NOT serve the stale cached result
    catalog2 = spark.createDataFrame(
        [("P1", f"SAM0{i}", f"R{i}", 2_000_000) for i in range(1, 6)], CATALOG_SCHEMA
    )
    run_mwas_cached(spark, input_df, catalog2, sets_df, ref_df, cache, cfg)
    assert len(os.listdir(cache)) == 3


def test_synthetic_input_deterministic(spark, sf_dir):
    from mwas_rfam_spark.plans.testdata_mwas import mwas_catalog_from_orders

    cat = mwas_catalog_from_orders(spark, sf_dir)
    a = stratified_synthetic_input(cat).collect()
    b = stratified_synthetic_input(cat).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    groups = {r["group"] for r in a}
    assert groups <= {"A", "B", "C"}
    assert {r["quantifier"] for r in a} <= {0.0, 1000.0}


# --- plan-quality assertions ------------------------------------------------


def test_parquet_scan_pushdown_and_pruning(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .where(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = _physical(df)
    # the filter must reach the parquet reader, the schema must be pruned
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """partitionBy layout + a partition-key filter must show up as
    PartitionFilters on the scan (S7: pruning replaces the reference's
    manual S3 batch staging)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "bucket", (F.col("doc_id") % 4).cast("int")
    )
    path = str(tmp_path / "parts")
    docs.write.mode("overwrite").partitionBy("bucket").parquet(path)
    back = spark.read.parquet(path).where(F.col("bucket") == 2)
    plan = _physical(back)
    pf = plan.split("PartitionFilters:")[1][:120]
    assert "bucket" in pf
    assert back.count() == docs.where(F.col("bucket") == 2).count()


def test_small_dim_join_broadcasts(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    j = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    assert "BroadcastHashJoin" in _physical(j)


def test_mwas_resolve_stays_codegen(spark, sf_dir):
    from mwas_rfam_spark.config import MwasConfig
    from mwas_rfam_spark.operators.mwas import resolve_and_normalize
    from mwas_rfam_spark.plans.testdata_mwas import (
        mwas_catalog_from_orders,
        mwas_input_from_events,
    )

    resolved = resolve_and_normalize(
        mwas_input_from_events(spark, sf_dir),
        mwas_catalog_from_orders(spark, sf_dir),
        MwasConfig(),
    )
    plan = _physical(resolved)
    # the relational spine must be JVM-side: no Python eval anywhere
    # (AQE's non-final plan string hides codegen spans, so assert on the
    # absence of Python operators and the join strategy instead)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # input⋈catalog: small side broadcast
    assert "CartesianProduct" not in plan


def test_fingerprint_multiset_sensitive(spark):
    """{A,B,B} vs {A,C,C}: same count, and under the old bit_xor scheme
    the even-repeated rows cancelled — the sum-based fingerprint must
    distinguish them."""
    a = spark.createDataFrame([("A",), ("B",), ("B",)], ["v"])
    b = spark.createDataFrame([("A",), ("C",), ("C",)], ["v"])
    assert dataframe_fingerprint(a) != dataframe_fingerprint(b)


def test_stratified_sample_exact_and_stable(spark):
    """Exactly k per stratum, and growing k preserves the smaller sample
    (hash order is a fixed total order)."""
    from mwas_rfam_spark.plans.sampling import stratified_sample_exact

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(1, 41)], ["id", "lab"]
    )
    s2 = stratified_sample_exact(df, "lab", 2, "id").collect()
    s3 = stratified_sample_exact(df, "lab", 3, "id").collect()
    by_lab2: dict[str, set] = {}
    for r in s2:
        by_lab2.setdefault(r["lab"], set()).add(r["id"])
    by_lab3: dict[str, set] = {}
    for r in s3:
        by_lab3.setdefault(r["lab"], set()).add(r["id"])
    assert all(len(v) == 2 for v in by_lab2.values())
    assert all(len(v) == 3 for v in by_lab3.values())
    for lab, ids in by_lab2.items():
        assert ids <= by_lab3[lab]  # incremental stability


def test_pack_documents_chunking(spark):
    """Concat-then-chunk invariants: pack ordinals are contiguous from 1
    per bucket, assignments are deterministic, and a doc's pack ordinal
    equals ceil(running-token-total / budget) in the bucket hash order."""
    from mwas_rfam_spark.operators.packing import pack_documents

    rows = [(i, " ".join(["tok"] * (i % 7 + 1))) for i in range(1, 60)]
    rows += [(i, "") for i in range(60, 80)]  # zero-token docs: no phantom pack 0
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    a = pack_documents(docs, max_tokens_per_pack=10, n_buckets=4).collect()
    b = pack_documents(docs, max_tokens_per_pack=10, n_buckets=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    assert sum(r["n_tokens"] for r in a) == sum(i % 7 + 1 for i in range(1, 60))
    by_bucket: dict[int, list] = {}
    for r in a:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for bucket, rs in by_bucket.items():
        ordinals = sorted({r["pack_id"] - bucket * (1 << 32) for r in rs})
        assert ordinals[0] == 1
        assert ordinals == list(range(1, len(ordinals) + 1))  # contiguous


def _six_sample_mwas_inputs(spark):
    """(input, catalog, sets, ref) for one BioProject of six biosamples
    split 3/3 by one attribute."""
    input_df = spark.createDataFrame(
        [(f"R{i}", "g1", float(10 * i)) for i in range(1, 7)], INPUT_SCHEMA
    )
    catalog_df = spark.createDataFrame(
        [("P1", f"SAM0{i}", f"R{i}", 1_000_000) for i in range(1, 7)], CATALOG_SCHEMA
    )
    wide = spark.createDataFrame(
        [(f"SAM0{i}", "a" if i <= 3 else "b") for i in range(1, 7)],
        ["biosample_id", "t1"],
    )
    sets_df, ref_df = condense_metadata(melt_wide_metadata(wide, "P1"))
    return input_df, catalog_df, sets_df, ref_df


def test_t_only_plan_has_no_permutation_kernel(spark):
    """t_test_only must fold the permutation side away entirely: no
    pooled-vector (obs_rpm) collect_list aggregation in the physical
    plan. The plan is read under use_local_checkpoint=False, whose lazy
    persists keep the lineage in the plan (eager checkpoints would cut
    it, and the check could not fail); the default config's plan is
    the positive control."""
    from mwas_rfam_spark.operators.mwas import release_mwas_persists, run_mwas

    input_df, catalog_df, sets_df, ref_df = _six_sample_mwas_inputs(spark)

    def plan(**kw):
        out = run_mwas(
            input_df, catalog_df, sets_df, ref_df,
            MwasConfig(use_local_checkpoint=False, **kw),
        )
        try:
            return _physical(out)
        finally:
            release_mwas_persists()

    # the one test kernel runs either way (it computes the Welch tail)
    t_only = plan(t_test_only=True)
    default = plan()
    assert "FlatMapCoGroupsInArrow" in t_only and "FlatMapCoGroupsInArrow" in default
    # collect_list still appears legitimately in condense for member
    # arrays, and the kernel's argument list names obs_rpm either way
    # (its values side is an empty relation under t_test_only), so the
    # pooled-vector aggregation is recognised by what it collects
    assert "collect_list(rpm" not in t_only
    assert "collect_list(rpm" in default


def test_run_mwas_does_not_repin_checkpointed_inputs(spark):
    """Metadata that arrives already checkpointed (the server's) is used
    as-is: run_mwas pins only its own relations (rollup, cohort rows,
    results), and the output matches a run over lazy metadata, which
    run_mwas pins itself."""
    from mwas_rfam_spark.operators import mwas as mwas_mod

    input_df, catalog_df, sets_df, ref_df = _six_sample_mwas_inputs(spark)
    cfg = MwasConfig(t_test_only=True)

    def run(sets, ref):
        rows = sorted(
            tuple(r) for r in mwas_mod.run_mwas(input_df, catalog_df, sets, ref, cfg).collect()
        )
        n_pins = len(mwas_mod._LIVE_PERSISTS)
        mwas_mod.release_mwas_persists()
        return rows, n_pins

    lazy_rows, lazy_pins = run(sets_df, ref_df)
    pinned_rows, pinned_pins = run(sets_df.localCheckpoint(), ref_df.localCheckpoint())
    assert (lazy_pins, pinned_pins) == (5, 3)
    assert pinned_rows == lazy_rows and lazy_rows


def test_interval_join_within(spark):
    """Bucketized range join equals the naive |ta-tb| <= tol definition,
    with no duplicate pairs from the bucket expansion."""
    from mwas_rfam_spark.operators.interval import interval_join_within

    a = spark.createDataFrame([(i, t) for i, t in enumerate([0, 50, 100, 230])], ["id", "ts"])
    b = spark.createDataFrame([(i, t) for i, t in enumerate([40, 99, 180, 500])], ["id", "ts"])
    got = {
        (r["id_a"], r["id_b"], r["abs_delta"])
        for r in interval_join_within(a, b, tolerance=60).collect()
    }
    expected = set()
    for ia, ta in enumerate([0, 50, 100, 230]):
        for ib, tb in enumerate([40, 99, 180, 500]):
            if abs(ta - tb) <= 60:
                expected.add((ia, ib, abs(ta - tb)))
    assert got == expected
    # plan must be an equi-join on the bucket, not a cross product
    plan = _physical(interval_join_within(a, b, tolerance=60))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_interval_join_nanos_precision(spark):
    """Bucketing must be integer division: at epoch-nanos magnitude
    (> 2^53) double division rounds the two timestamps of a qualifying
    pair in opposite directions, pushing computed buckets ~ulp/tol apart
    and silently dropping the pair past the ±1 candidate expansion."""
    import pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from mwas_rfam_spark.operators.interval import interval_join_within

    base = 1 << 60  # double ulp here is 256
    schema = StructType([StructField("id", LongType()), StructField("ts", LongType())])
    a = spark.createDataFrame([(1, base + 127)], schema)  # rounds DOWN to base
    b = spark.createDataFrame([(2, base + 129)], schema)  # rounds UP to base+256
    rows = interval_join_within(a, b, tolerance=2).collect()
    assert len(rows) == 1 and rows[0]["abs_delta"] == 2

    with pytest.raises(ValueError):
        interval_join_within(a, b, tolerance=0)


def test_top_k_per_group_prefilter_parity(spark):
    """The local pre-filter must not change results under a total order
    (the global per-group top-k is a subset of the union of task-local
    top-ks), and both windows must appear in the pre-filtered plan."""
    from mwas_rfam_spark.operators.topk import top_k_per_group

    rows = [(i % 7, (i * 37) % 101, i) for i in range(2000)]
    df = spark.createDataFrame(rows, ["g", "v", "id"]).repartition(16)
    order = [F.desc("v"), F.asc("id")]
    fast = top_k_per_group(df, ["g"], order, k=5)
    slow = top_k_per_group(df, ["g"], order, k=5, local_prefilter=True)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
    assert fast.groupBy("g").count().agg(F.max("count")).collect()[0][0] == 5
    plan = _physical(fast)
    # r12: the default plan must carry the optimizer's map-side bound
    # (the former assertion `count(...) >= 0` was vacuously true)
    assert "WindowGroupLimit" in plan and "Partial" in plan
    import pytest

    with pytest.raises(ValueError):
        top_k_per_group(df, ["g"], order, k=0)
    with pytest.raises(ValueError, match="order_cols"):
        top_k_per_group(df, ["g"], [], k=3)
    with pytest.raises(ValueError, match="rank"):
        top_k_per_group(fast, ["g"], order, k=3)  # already has 'rank' 


def test_registry_discipline():
    """The driver's correctness gate verifies at most 50 entries (r02
    checked exactly the first 50 of 62 and silently skipped the rest) —
    the registry must stay within the cap, every oracle key must have a
    query, and every bench headline name must resolve via
    bench_queries()."""
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    bq = entrymod.bench_queries()
    assert len(q) <= 50, f"{len(q)} entries would overflow the driver's 50-entry gate"
    assert set(o) <= set(q), f"orphan oracles: {set(o) - set(q)}"
    missing = [n for n in HEADLINE if n not in bq]
    assert not missing, f"bench headline names not resolvable: {missing}"
    # rows-only entries must stay the documented irreducible set
    assert set(q) - set(o) <= {"mwas_full"}


def test_profile_table_one_pass(spark):
    """Per-column stats from ONE aggregate job; exact values on a frame
    small enough to verify by hand, and a single-Aggregate plan (no
    per-column jobs)."""
    from mwas_rfam_spark.plans.profiling import profile_table

    df = spark.createDataFrame(
        [(1, "a", 2.0, [1]), (2, "b", 4.0, [2]), (3, None, None, None), (4, "b", 6.0, [3])],
        "id bigint, s string, v double, arr array<int>",
    )
    p = {r["column"]: r for r in profile_table(df).collect()}
    assert set(p) == {"id", "s", "v", "arr"}
    assert p["id"]["n_rows"] == 4 and p["id"]["n_nulls"] == 0
    assert p["s"]["n_nulls"] == 1 and p["s"]["null_frac"] == 0.25
    assert p["s"]["approx_distinct"] == 2  # HLL exact at this cardinality
    assert p["v"]["min_value"] == "2.0" and p["v"]["max_value"] == "6.0"
    assert p["v"]["mean"] == 4.0
    assert p["arr"]["approx_distinct"] is None and p["arr"]["n_nulls"] == 1
    # one aggregate pass: a single pair of HashAggregates, not per-column
    plan = _physical(profile_table(df))
    assert plan.count("HashAggregate") <= 2 or plan.count("SortAggregate") <= 2


def test_interval_join_matches_bruteforce_randomized(spark):
    """Property: the bucketized interval join must equal the O(n²)
    cross-product filter on seeded random timelines — including values
    landing exactly on bucket boundaries and at the tolerance edge."""
    import hashlib

    def h(i, salt):
        return int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:8], 16)

    from mwas_rfam_spark.operators.interval import interval_join_within

    for salt, tol in [("s1", 7), ("s2", 60), ("s3", 1)]:
        a_rows = [(i, h(i, salt) % 500) for i in range(60)]
        b_rows = [(i, h(i, salt + "b") % 500) for i in range(60)]
        a = spark.createDataFrame(a_rows, "id bigint, ts bigint")
        b = spark.createDataFrame(b_rows, "id bigint, ts bigint")
        got = {
            (r["id_a"], r["id_b"])
            for r in interval_join_within(a, b, ts_col="ts", tolerance=tol).collect()
        }
        expect = {
            (ia, ib)
            for ia, ta in a_rows
            for ib, tb in b_rows
            if abs(ta - tb) <= tol
        }
        assert got == expect, f"salt={salt} tol={tol}"


def test_run_mwas_resume_per_bioproject(spark, tmp_path):
    """W3 resume: after a run over P1 only, resuming with P1+P2 input
    must compute P2 alone (filter_unprocessed drops P1's rows) and the
    combined output must equal a fresh full run."""
    from mwas_rfam_spark.operators.caching import filter_unprocessed, run_mwas_resume
    from mwas_rfam_spark.operators.mwas import run_mwas

    catalog_df = spark.createDataFrame(
        [("P1" if i <= 5 else "P2", f"SAM{i:02d}", f"R{i}", 1_000_000) for i in range(1, 11)],
        CATALOG_SCHEMA,
    )
    wide1 = spark.createDataFrame(
        [(f"SAM{i:02d}", "a" if i <= 2 else "b") for i in range(1, 6)],
        ["biosample_id", "t1"],
    )
    wide2 = spark.createDataFrame(
        [(f"SAM{i:02d}", "x" if i <= 8 else "y") for i in range(6, 11)],
        ["biosample_id", "t1"],
    )
    sets_df, ref_df = condense_metadata(
        melt_wide_metadata(wide1, "P1").unionByName(melt_wide_metadata(wide2, "P2"))
    )
    cfg = MwasConfig(t_test_only=True)
    full_input = spark.createDataFrame(
        [(f"R{i}", "g1", float(10 * i)) for i in range(1, 11)], INPUT_SCHEMA
    )
    p1_input = full_input.where(F.col("run").isin([f"R{i}" for i in range(1, 6)]))

    out_dir = str(tmp_path / "resume_out")
    first = run_mwas_resume(spark, p1_input, catalog_df, sets_df, ref_df, out_dir, cfg)
    assert {r["bioproject"] for r in first.collect()} == {"P1"}

    # the resume plan must drop P1's rows before any compute
    todo = filter_unprocessed(full_input, catalog_df, first)
    assert {r["run"] for r in todo.collect()} == {f"R{i}" for i in range(6, 11)}

    combined = run_mwas_resume(spark, full_input, catalog_df, sets_df, ref_df, out_dir, cfg)
    fresh = run_mwas(full_input, catalog_df, sets_df, ref_df, cfg)

    def key(r):
        return (r["bioproject"], r["group"], r["metadata_field"], r["metadata_value"])

    got = {key(r): (r["num_true"], r["num_false"], r["status"]) for r in combined.collect()}
    want = {key(r): (r["num_true"], r["num_false"], r["status"]) for r in fresh.collect()}
    assert got == want and {k[0] for k in got} == {"P1", "P2"}

    # idempotent: a third resume with nothing to do changes nothing
    again = run_mwas_resume(spark, full_input, catalog_df, sets_df, ref_df, out_dir, cfg)
    assert again.count() == combined.count()


def test_shuffle_shard_deterministic_balanced_and_reseeds(spark):
    """Shard assignment is layout-independent (pure hash of id), seq is a
    dense 1..n_shard_rows order per shard, shards cover the whole input,
    and changing the seed actually reshuffles."""
    from mwas_rfam_spark.plans.sampling import shuffle_shard

    df = spark.range(0, 500).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    out = shuffle_shard(df, n_shards=8, seed=7).select("doc_id", "shard", "seq")
    rows = out.collect()
    assert len(rows) == 500 and len({r["doc_id"] for r in rows}) == 500
    by_shard = {}
    for r in rows:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["seq"])
    for seqs in by_shard.values():
        assert sorted(seqs) == list(range(1, len(seqs) + 1))
    # layout independence: a different partitioning yields identical output
    again = sorted(shuffle_shard(df.repartition(13), 8, seed=7)
                   .select("doc_id", "shard", "seq").collect())
    assert again == sorted(rows)
    # a new seed moves at least some docs to different shards
    reshuffled = {r["doc_id"]: r["shard"]
                  for r in shuffle_shard(df, 8, seed=8).select("doc_id", "shard").collect()}
    moved = sum(1 for r in rows if reshuffled[r["doc_id"]] != r["shard"])
    assert moved > 100
    # with_seq=False keeps the plan projection-only (no Exchange at all)
    plan = shuffle_shard(df, 8, seed=7, with_seq=False)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_shuffle_shard_balanced_when_nshards_not_power_of_two(spark):
    """Non-divisor shard counts must NOT systematically overload low
    shards: the old 2-hex-digit decode gave shard 0 twice the mass at
    n_shards=255 (256 % 255 = 1); the 8-digit (32-bit) decode bounds the
    modulo bias at n_shards/2^32. 25,500 rows over 255 shards: mean 100,
    so any shard above 160 (6σ) means the bias is back."""
    from mwas_rfam_spark.plans.sampling import shuffle_shard

    df = spark.range(0, 25_500).selectExpr("id AS doc_id")
    counts = (
        shuffle_shard(df, n_shards=255, seed=3, with_seq=False)
        .groupBy("shard").count().collect()
    )
    assert sum(r["count"] for r in counts) == 25_500
    worst = max(r["count"] for r in counts)
    assert worst < 160, f"shard imbalance: max={worst}, mean=100"
    with pytest.raises(ValueError):
        shuffle_shard(df, 0)
    with pytest.raises(ValueError):
        shuffle_shard(df, 100_000)  # cap is 65536



def test_ensure_epoch_nanos_both_generations(spark):
    """Driver testdata generations differ in the ts physical type
    (TIMESTAMP(NANOS)-as-long vs timestamp[us]); the loader shim must
    yield identical epoch-nanos longs for the same wall-clock instant,
    and pass non-ts frames through untouched."""
    from datetime import datetime

    from mwas_rfam_spark.plans.testdata_mwas import ensure_epoch_nanos

    wall = datetime(2024, 1, 1, 0, 0, 7, 179575)  # naive micros instant
    nanos = 1704067207179575000
    as_ts = spark.createDataFrame([(1, wall)], "id long, ts timestamp_ntz")
    as_long = spark.createDataFrame([(1, nanos)], "id long, ts long")
    got_ts = ensure_epoch_nanos(spark, as_ts).collect()[0]
    got_long = ensure_epoch_nanos(spark, as_long).collect()[0]
    assert got_ts["ts"] == nanos == got_long["ts"]
    assert dict(ensure_epoch_nanos(spark, as_ts).dtypes)["ts"] == "bigint"
    no_ts = spark.createDataFrame([(1,)], "id long")
    assert ensure_epoch_nanos(spark, no_ts).columns == ["id"]


def test_weighted_mix_exact_counts_and_stability(spark):
    """Each stratum contributes exactly min(target, |stratum|) rows;
    strata outside the recipe are dropped; growing one stratum's target
    keeps every previously selected row (hash-rank determinism); picks
    agree with stratified_sample_exact at the same k."""
    from mwas_rfam_spark.plans.sampling import (
        stratified_sample_exact,
        weighted_mix_exact,
    )

    df = spark.range(0, 300).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 3 = 0 THEN 'web' WHEN id % 3 = 1 THEN 'code' "
        "ELSE 'books' END AS source",
    )
    mix = weighted_mix_exact(df, "source", {"web": 40, "code": 10, "books": 200}, "doc_id")
    got = mix.groupBy("source").count().collect()
    counts = {r["source"]: r["count"] for r in got}
    assert counts == {"web": 40, "code": 10, "books": 100}  # books capped at |stratum|
    small = weighted_mix_exact(df, "source", {"web": 15, "code": 10}, "doc_id")
    small_web = {r["doc_id"] for r in small.where("source='web'").collect()}
    big_web = {r["doc_id"] for r in mix.where("source='web'").collect()}
    assert small_web <= big_web  # growing the target only adds rows
    strat = stratified_sample_exact(df.where("source='web'"), "source", 15, "doc_id")
    assert {r["doc_id"] for r in strat.collect()} == small_web
    with pytest.raises(ValueError):
        weighted_mix_exact(df, "source", {}, "doc_id")
    with pytest.raises(ValueError):
        weighted_mix_exact(df, "source", {"web": -1}, "doc_id")


def test_new_operator_plan_shapes(spark):
    """Plan assertions for the round-3 operators: decontamination
    broadcasts the eval side (never shuffles training text), and the
    as-of join is exactly one Exchange (the by-key hash) — no range-join
    cross product ever appears."""
    from mwas_rfam_spark.operators.interval import asof_join
    from mwas_rfam_spark.operators.text import decontaminate

    docs = spark.range(0, 200).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', 'a', CAST(id % 9 AS STRING), 'b', CAST(id % 5 AS STRING), "
        "'c', 'd') AS text",
    )
    plan = decontaminate(
        docs.where("doc_id % 10 != 0"), docs.where("doc_id % 10 = 0"), n=3
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    left = spark.range(0, 100).selectExpr("id", "id % 7 AS k", "id * 10 AS ts")
    right = spark.range(0, 50).selectExpr("id % 7 AS k", "id * 17 AS ts", "id AS v")
    aplan = asof_join(left, right, by="k")._jdf.queryExecution() \
        .executedPlan().toString()
    assert aplan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in aplan and "BroadcastNestedLoopJoin" not in aplan


def test_write_training_shards_order_and_coverage(spark, tmp_path):
    """Every input row lands in exactly one shard directory, and rows
    inside each shard file are stored in epoch (seq) order."""
    from mwas_rfam_spark.plans.sampling import shuffle_shard
    from mwas_rfam_spark.sources.sinks import write_training_shards

    docs = spark.range(0, 400).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=4, seed=9)

    back = spark.read.parquet(out)
    assert back.count() == 400
    assert back.select("doc_id").distinct().count() == 400
    assert {r["shard"] for r in back.select("shard").distinct().collect()} == {0, 1, 2, 3}
    # stored order == epoch order: monotonically_increasing_id preserves
    # parquet row order per file, so seq must be sorted within each shard
    import pyspark.sql.functions as F

    ordered = back.withColumn("_file_pos", F.monotonically_increasing_id())
    for s in range(4):
        rows = ordered.where(F.col("shard") == s).orderBy("_file_pos").collect()
        seqs = [r["seq"] for r in rows]
        assert seqs == sorted(seqs)
    # the written assignment is exactly shuffle_shard's
    want = {(r["doc_id"], r["shard"], r["seq"])
            for r in shuffle_shard(docs, 4, seed=9).collect()}
    got = {(r["doc_id"], r["shard"], r["seq"]) for r in back.collect()}
    assert got == want


def test_token_budget_mix_prefix_and_crossing(spark):
    """Selection is the hash-order prefix through the first
    budget-crossing row; growing a budget only adds rows; absent strata
    drop; bad budgets raise."""
    from mwas_rfam_spark.plans.sampling import token_budget_mix

    df = spark.range(0, 120).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 2 = 0 THEN 'web' ELSE 'code' END AS source",
        "10 + id % 7 AS n_tokens",
    )
    out = token_budget_mix(df, "source", {"web": 100, "code": 45}, "n_tokens", "doc_id")
    per = {s: [ (r["cum_tokens"], r["n_tokens"]) for r in
                out.where(F.col("source") == s).orderBy("cum_tokens").collect() ]
           for s in ("web", "code")}
    for s, lst in per.items():
        budget = {"web": 100, "code": 45}[s]
        # all but the last row are strictly under budget; last row crosses
        assert all(c - n < budget for c, n in lst)
        assert lst[-1][0] >= budget
        # cum_tokens is a proper running total
        assert all(lst[i][0] < lst[i + 1][0] for i in range(len(lst) - 1))
    # growing the budget keeps every previous pick
    small = {r["doc_id"] for r in token_budget_mix(
        df, "source", {"web": 100}, "n_tokens", "doc_id").collect()}
    big = {r["doc_id"] for r in token_budget_mix(
        df, "source", {"web": 300}, "n_tokens", "doc_id").collect()}
    assert small <= big
    import pytest as _pytest
    with _pytest.raises(ValueError):
        token_budget_mix(df, "source", {}, "n_tokens", "doc_id")
    with _pytest.raises(ValueError):
        token_budget_mix(df, "source", {"web": 0}, "n_tokens", "doc_id")


def test_fingerprint_null_position_and_array_boundaries(spark):
    """r12 review findings (verified): xxhash64 skips NULL children, so
    a value moving between columns with NULL neighbors used to produce
    the identical fingerprint; array-to-string rendering collided
    ['a, b'] with ['a', 'b']; and schema now binds."""
    from mwas_rfam_spark.operators.caching import dataframe_fingerprint

    a = spark.createDataFrame([("X", None)], "run string, grp string")
    b = spark.createDataFrame([(None, "X")], "run string, grp string")
    assert dataframe_fingerprint(a) != dataframe_fingerprint(b)
    c = spark.createDataFrame([(["a, b"],)], "m array<string>")
    d = spark.createDataFrame([(["a", "b"],)], "m array<string>")
    assert dataframe_fingerprint(c) != dataframe_fingerprint(d)
    e = spark.createDataFrame([(1,)], "x int")
    f2 = spark.createDataFrame([(1,)], "x long")
    assert dataframe_fingerprint(e) != dataframe_fingerprint(f2)


def test_cached_run_ignores_partial_cache_dir(spark, tmp_path):
    """r12 review finding: a cache directory without _SUCCESS (write
    interrupted mid-job) must recompute, not serve truncated results
    forever."""
    import os

    from mwas_rfam_spark.operators.caching import mwas_cache_key, run_mwas_cached
    from mwas_rfam_spark.operators.condense import condense_metadata
    from mwas_rfam_spark.sources.readers import melt_wide_metadata

    wide = spark.createDataFrame(
        [(f"SAM{i}", "x" if i <= 2 else "y") for i in range(1, 6)],
        ["biosample_id", "t1"],
    )
    sets_df, ref_df = condense_metadata(melt_wide_metadata(wide, "PC"))
    cat = spark.createDataFrame(
        [("PC", f"SAM{i}", f"R{i}", 1000) for i in range(1, 6)],
        "bio_project string, bio_sample string, run string, spots long",
    )
    inp = spark.createDataFrame(
        [(f"R{i}", "g", float(i)) for i in range(1, 6)],
        "run string, group string, quantifier double",
    )
    cfg = None
    from mwas_rfam_spark.config import MwasConfig

    cfg = MwasConfig(permutation_resamples=50, permutation_seed=1)
    key = mwas_cache_key(inp, cfg, cat, sets_df, ref_df)
    cache = tmp_path / "cache"
    # plant a PARTIAL cache dir: truncated garbage, no _SUCCESS
    partial = cache / key
    partial.mkdir(parents=True)
    (partial / "part-00000.parquet").write_bytes(b"PAR1garbage")
    out = run_mwas_cached(spark, inp, cat, sets_df, ref_df, str(cache), cfg)
    assert out.count() >= 1  # recomputed, not crashed on garbage
    assert os.path.exists(partial / "_SUCCESS")  # now a real cache entry


def test_resume_refuses_config_change(spark, tmp_path):
    """r12 review finding: resuming a 17-col output with a different
    config (e.g. legacy_13col) would append a mismatched schema into
    the same directory — refuse instead."""
    from mwas_rfam_spark.config import MwasConfig
    from mwas_rfam_spark.operators.caching import run_mwas_resume
    from mwas_rfam_spark.operators.condense import condense_metadata
    from mwas_rfam_spark.sources.readers import melt_wide_metadata

    wide = spark.createDataFrame(
        [(f"SAM{i}", "x" if i <= 2 else "y") for i in range(1, 6)],
        ["biosample_id", "t1"],
    )
    sets_df, ref_df = condense_metadata(melt_wide_metadata(wide, "PR"))
    cat = spark.createDataFrame(
        [("PR", f"SAM{i}", f"R{i}", 1000) for i in range(1, 6)],
        "bio_project string, bio_sample string, run string, spots long",
    )
    inp = spark.createDataFrame(
        [(f"R{i}", "g", float(i)) for i in range(1, 6)],
        "run string, group string, quantifier double",
    )
    outdir = str(tmp_path / "res")
    cfg1 = MwasConfig(permutation_resamples=50, permutation_seed=1)
    run_mwas_resume(spark, inp, cat, sets_df, ref_df, outdir, cfg1)
    cfg2 = MwasConfig(permutation_resamples=50, permutation_seed=1, legacy_13col=True)
    with pytest.raises(ValueError, match="different MwasConfig"):
        run_mwas_resume(spark, inp, cat, sets_df, ref_df, outdir, cfg2)


def test_cached_run_hits_without_success_marker(spark, tmp_path):
    """r13 ADVICE item: committers configured with
    marksuccessfuljobs=false never emit _SUCCESS; the cache's own
    _mwas_cache_ok sentinel (written after the job returns) must still
    produce hits, or every call silently recomputes forever."""
    import os

    from mwas_rfam_spark.operators.caching import mwas_cache_key, run_mwas_cached
    from mwas_rfam_spark.operators.condense import condense_metadata
    from mwas_rfam_spark.sources.readers import melt_wide_metadata

    wide = spark.createDataFrame(
        [(f"SAM{i}", "x" if i <= 2 else "y") for i in range(1, 6)],
        ["biosample_id", "t1"],
    )
    sets_df, ref_df = condense_metadata(melt_wide_metadata(wide, "PS"))
    cat = spark.createDataFrame(
        [("PS", f"SAM{i}", f"R{i}", 1000) for i in range(1, 6)],
        "bio_project string, bio_sample string, run string, spots long",
    )
    inp = spark.createDataFrame(
        [(f"R{i}", "g", float(i)) for i in range(1, 6)],
        "run string, group string, quantifier double",
    )
    cfg = MwasConfig(t_test_only=True)
    cache = tmp_path / "cache_nosuccess"
    key = mwas_cache_key(inp, cfg, cat, sets_df, ref_df)

    r1 = run_mwas_cached(spark, inp, cat, sets_df, ref_df, str(cache), cfg)
    r1.count()
    entry = cache / key
    assert (entry / "_mwas_cache_ok").exists()
    # simulate marksuccessfuljobs=false: delete Hadoop's marker
    if (entry / "_SUCCESS").exists():
        os.remove(entry / "_SUCCESS")
    mtimes = {
        f: os.path.getmtime(entry / f)
        for f in os.listdir(entry)
        if f.endswith(".parquet")
    }
    r2 = run_mwas_cached(spark, inp, cat, sets_df, ref_df, str(cache), cfg)
    # second call must be a pure parquet scan (a hit), not a recompute
    plan = r2._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    for f, t in mtimes.items():
        assert os.path.getmtime(entry / f) == t, f"{f} was rewritten (cache missed)"


def test_resume_zero_output_bioproject_not_recomputed(spark, tmp_path, monkeypatch):
    """r13 review finding: done-ness was 'bioproject has rows on disk',
    so a bioproject whose pipeline legitimately emits NO rows (metadata
    sets carry nothing for it) was re-run — full pipeline, permutation
    kernel and all — on EVERY resume invocation forever. The attempted
    stamp now marks it done."""
    from mwas_rfam_spark.operators import caching as caching_mod
    from mwas_rfam_spark.operators import mwas as mwas_mod
    from mwas_rfam_spark.operators.caching import run_mwas_resume

    # P1 has metadata sets; P2's runs map through the catalog but the
    # metadata relation knows nothing about P2 -> zero output rows
    catalog_df = spark.createDataFrame(
        [("P1" if i <= 5 else "P2", f"SAM{i:02d}", f"R{i}", 1_000_000)
         for i in range(1, 11)],
        CATALOG_SCHEMA,
    )
    wide1 = spark.createDataFrame(
        [(f"SAM{i:02d}", "a" if i <= 2 else "b") for i in range(1, 6)],
        ["biosample_id", "t1"],
    )
    sets_df, ref_df = condense_metadata(melt_wide_metadata(wide1, "P1"))
    cfg = MwasConfig(t_test_only=True)
    full_input = spark.createDataFrame(
        [(f"R{i}", "g1", float(10 * i)) for i in range(1, 11)], INPUT_SCHEMA
    )
    out_dir = str(tmp_path / "resume_zero_out")

    calls = []
    real_run_mwas = mwas_mod.run_mwas

    def counting_run_mwas(*a, **kw):
        calls.append(1)
        return real_run_mwas(*a, **kw)

    monkeypatch.setattr(mwas_mod, "run_mwas", counting_run_mwas)

    first = run_mwas_resume(
        spark, full_input, catalog_df, sets_df, ref_df, out_dir, cfg
    )
    assert {r["bioproject"] for r in first.collect()} == {"P1"}
    assert calls, "first invocation must run the pipeline"

    # second invocation: P1 is on disk, P2 is in the attempted stamp —
    # the todo set is empty and the pipeline must NOT run again
    calls.clear()
    again = run_mwas_resume(
        spark, full_input, catalog_df, sets_df, ref_df, out_dir, cfg
    )
    assert {r["bioproject"] for r in again.collect()} == {"P1"}
    assert not calls, "zero-output bioproject P2 must count as done"


def test_caching_releases_mwas_persists(spark, tmp_path):
    """r13 review finding: run_mwas_cached / run_mwas_resume returned a
    disk re-read but never released run_mwas's pinned subplans — a
    long-lived driver leaked ~7 persisted relations per cache miss."""
    from mwas_rfam_spark.operators.caching import run_mwas_cached
    from mwas_rfam_spark.operators.mwas import _LIVE_PERSISTS

    input_df = spark.createDataFrame(
        [("R1", "g1", 10.0), ("R2", "g1", 20.0), ("R3", "g1", 5.0),
         ("R4", "g1", 8.0), ("R5", "g1", 12.0)], INPUT_SCHEMA
    )
    catalog_df = spark.createDataFrame(
        [("P1", f"SAM0{i}", f"R{i}", 1_000_000) for i in range(1, 6)],
        CATALOG_SCHEMA,
    )
    wide = spark.createDataFrame(
        [(f"SAM0{i}", "a" if i <= 2 else "b") for i in range(1, 6)],
        ["biosample_id", "t1"],
    )
    sets_df, ref_df = condense_metadata(melt_wide_metadata(wide, "P1"))
    run_mwas_cached(
        spark, input_df, catalog_df, sets_df, ref_df,
        str(tmp_path / "rel_cache"), MwasConfig(t_test_only=True),
    )
    assert not _LIVE_PERSISTS, "cache miss must release pinned subplans"


def test_fingerprint_handles_nested_map_columns(spark):
    """r13 review finding: the map fallback only matched TOP-LEVEL map
    dtypes, so an array<map<...>> column crashed xxhash64 at cache-key
    time, taking the whole caching layer down for such schemas."""
    from mwas_rfam_spark.operators.caching import dataframe_fingerprint

    df = spark.createDataFrame(
        [(1, [{"k": "v"}]), (2, [{"k2": "v2"}])],
        "id long, meta array<map<string,string>>",
    )
    fp1 = dataframe_fingerprint(df)
    fp2 = dataframe_fingerprint(df.repartition(3))
    assert fp1 == fp2  # order-independent, and above all: no crash
    df3 = spark.createDataFrame(
        [(1, [{"k": "v"}]), (2, [{"k2": "CHANGED"}])],
        "id long, meta array<map<string,string>>",
    )
    assert dataframe_fingerprint(df3) != fp1
