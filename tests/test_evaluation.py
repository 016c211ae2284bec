"""Distributed binary-classifier evaluation: exact AUC (midrank ties),
one-pass threshold metrics, calibration bins — vs independent numpy/
DuckDB references."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from mwas_rfam_spark.operators.evaluation import (
    binary_auc,
    calibration_report,
    ece,
    grouped_auc,
    grouped_calibration_report,
    grouped_ece,
    threshold_report,
)


def _auc_ref(scores, labels):
    """Independent midrank AUC (no sklearn in container): scipy's
    rankdata(average) formulation in plain numpy."""
    s = np.asarray(scores, dtype=float)
    y = np.asarray(labels, dtype=int)
    order = np.argsort(s, kind="mergesort")
    ranks = np.empty(len(s), dtype=float)
    sorted_s = s[order]
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and sorted_s[j + 1] == sorted_s[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    n_pos = int(y.sum())
    n_neg = len(y) - n_pos
    return (ranks[y == 1].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)


def test_auc_exact_with_ties_and_nulls(spark):
    rng = np.random.default_rng(5)
    # quantized scores force heavy ties; signal so auc is informative
    y = rng.integers(0, 2, 400)
    s = np.round(rng.normal(0, 1, 400) + 0.8 * y, 1)
    rows = [(float(si), int(yi)) for si, yi in zip(s, y)]
    rows += [(None, 1), (0.5, None), (None, None)]
    df = spark.createDataFrame(rows, "score double, label int")
    got = binary_auc(df).collect()[0]
    want = _auc_ref(s, y)
    assert abs(got["auc"] - want) < 1e-12
    assert got["n_pos"] == int(y.sum())
    assert got["n_neg"] == int((1 - y).sum())
    assert got["n_null"] == 3

    # perfect and inverted separability; single-class degenerates to NULL
    perf = spark.createDataFrame(
        [(1.0, 1), (0.9, 1), (0.1, 0), (0.0, 0)], "score double, label int"
    )
    assert binary_auc(perf).collect()[0]["auc"] == 1.0
    inv = spark.createDataFrame(
        [(0.0, 1), (1.0, 0)], "score double, label int"
    )
    assert binary_auc(inv).collect()[0]["auc"] == 0.0
    mono = spark.createDataFrame([(0.3, 1), (0.7, 1)], "score double, label int")
    assert binary_auc(mono).collect()[0]["auc"] is None


def test_auc_duckdb_parity(spark, sf_dir):
    """Cross-engine: the same midrank formulation in plain SQL over the
    embeddings table (score = first component, label = label parity)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("embedding")[0].cast("double").alias("score"),
        (F.col("label") % 2).alias("label"),
    )
    got = binary_auc(emb).collect()[0]
    con = duckdb.connect()
    want = con.execute(f"""
        WITH v AS (
          SELECT CAST(embedding[1] AS DOUBLE) AS s,
                 CASE WHEN label % 2 > 0 THEN 1 ELSE 0 END AS y
          FROM read_parquet('{sf_dir}/embeddings.parquet')),
        r AS (
          SELECT y,
                 rank() OVER (ORDER BY s)
                   + (count(*) OVER (PARTITION BY s) - 1) / 2.0 AS midrank
          FROM v)
        SELECT (sum(CASE WHEN y = 1 THEN midrank END)
                  - sum(y) * (sum(y) + 1) / 2.0)
               / (sum(y) * sum(1 - y)) AS auc,
               sum(y) AS n_pos, sum(1 - y) AS n_neg
        FROM r
    """).fetchone()
    con.close()
    assert abs(got["auc"] - want[0]) < 1e-12
    assert (got["n_pos"], got["n_neg"]) == (want[1], want[2])


def test_threshold_report_one_pass(spark):
    rows = [(0.9, 1), (0.8, 0), (0.7, 1), (0.4, 1), (0.2, 0), (0.1, 0)]
    df = spark.createDataFrame(rows, "score double, label int")
    rep = {r["threshold"]: r for r in threshold_report(df, [0.5, 0.75, 1.5]).collect()}
    r5 = rep[0.5]
    assert (r5["tp"], r5["fp"], r5["fn"], r5["tn"]) == (2, 1, 1, 2)
    assert r5["precision"] == pytest.approx(2 / 3)
    assert r5["recall"] == pytest.approx(2 / 3)
    assert r5["f1"] == pytest.approx(2 / 3)
    assert r5["selected_frac"] == pytest.approx(0.5)
    r75 = rep[0.75]
    assert (r75["tp"], r75["fp"]) == (1, 1)
    # threshold above every score: nothing selected, precision undefined
    r15 = rep[1.5]
    assert (r15["tp"], r15["fp"]) == (0, 0)
    assert r15["precision"] is None and r15["recall"] == 0.0
    # the whole report is ONE aggregate pass (no per-threshold jobs)
    plan = threshold_report(df, [0.1, 0.5, 0.9])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 2 or plan.count("SortAggregate") <= 2
    with pytest.raises(ValueError, match="non-empty"):
        threshold_report(df, [])


def test_calibration_and_ece(spark):
    # scores exactly at bin edges + past the clamp edges
    rows = [
        (0.05, 0), (0.05, 0),          # bin 0, pos_rate 0
        (0.55, 1), (0.55, 0),          # bin 5, pos_rate .5 (gap ~ -.05)
        (0.95, 1), (1.0, 1),           # 1.0 clamps into bin 9
    ]
    df = spark.createDataFrame(rows, "score double, label int")
    cal = calibration_report(df, n_bins=10)
    got = {r["bin"]: r for r in cal.collect()}
    assert set(got) == {0, 5, 9}
    assert got[0]["pos_rate"] == 0.0 and got[0]["n"] == 2
    assert got[5]["mean_score"] == pytest.approx(0.55)
    assert got[5]["gap"] == pytest.approx(0.5 - 0.55)
    assert got[9]["n"] == 2 and got[9]["pos_rate"] == 1.0
    assert got[9]["bin_hi"] == pytest.approx(1.0)
    want_ece = (
        2 * abs(0.0 - 0.05) + 2 * abs(0.5 - 0.55) + 2 * abs(1.0 - 0.975)
    ) / 6
    assert ece(cal) == pytest.approx(want_ece)
    with pytest.raises(ValueError, match="n_bins"):
        calibration_report(df, n_bins=0)


def test_grouped_calibration_hand_golden_and_slice_equivalence(spark):
    """r8 verdict task #8 (stretch): grouped calibration/ECE. Pins a
    hand-computed golden, per-group == ungrouped-on-the-slice (clamp
    and bin edges included), NaN/NULL score exclusion, and the NULL
    group slice surviving."""
    rows = [
        # grp a: perfectly calibrated bin 0 + clamped 1.0 into bin 9
        ("a", 0.05, 0), ("a", 0.05, 0), ("a", 1.0, 1),
        # grp b: bin 5 with gap -0.05; plus excluded NaN/NULL rows
        ("b", 0.55, 1), ("b", 0.55, 0),
        ("b", float("nan"), 1), ("b", None, 0),
        # NULL group: a legitimate dirty-metadata slice
        (None, 0.95, 1),
    ]
    df = spark.createDataFrame(rows, "grp string, score double, label int")
    cal = grouped_calibration_report(df, ["grp"], n_bins=10)
    got = {(r["grp"], r["bin"]): r for r in cal.collect()}
    assert set(got) == {("a", 0), ("a", 9), ("b", 5), (None, 9)}
    assert got[("a", 0)]["n"] == 2 and got[("a", 0)]["pos_rate"] == 0.0
    assert got[("a", 0)]["gap"] == pytest.approx(-0.05)
    assert got[("a", 9)]["n"] == 1  # 1.0 clamps into the terminal bin
    assert got[("b", 5)]["n"] == 2  # NaN + NULL rows excluded
    assert got[("b", 5)]["gap"] == pytest.approx(0.5 - 0.55)
    assert got[(None, 9)]["pos_rate"] == 1.0

    # per-group rows == the ungrouped report run on each slice alone
    for g in ("a", "b", None):
        cond = F.col("grp").isNull() if g is None else (F.col("grp") == g)
        alone = {
            r["bin"]: r for r in calibration_report(df.where(cond)).collect()
        }
        mine = {k[1]: r for k, r in got.items() if k[0] == g}
        assert set(alone) == set(mine)
        for b_ in alone:
            for c in ("n", "mean_score", "pos_rate", "gap", "bin_lo", "bin_hi"):
                assert mine[b_][c] == pytest.approx(alone[b_][c])

    # grouped ECE == scalar ece() per slice, derived from the SAME relation
    eces = {r["grp"]: r for r in grouped_ece(cal, ["grp"]).collect()}
    assert eces["a"]["n"] == 3 and eces["b"]["n"] == 2
    for g in ("a", "b", None):
        cond = F.col("grp").isNull() if g is None else (F.col("grp") == g)
        assert eces[g]["ece"] == pytest.approx(
            ece(calibration_report(df.where(cond)))
        )

    with pytest.raises(ValueError, match="group_cols"):
        grouped_calibration_report(df, [])
    with pytest.raises(ValueError, match="group_cols"):
        grouped_ece(cal, [])


def test_quality_model_composition(spark, sf_dir):
    """The intended workflow: evaluate the linear quality scorer's
    output against (synthetic) labels — scores flow straight from
    score_quality_linear into the evaluators."""
    from mwas_rfam_spark.operators.selection import score_quality_linear

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = spark.createDataFrame(
        [(i, (-1.0) ** i * 0.3) for i in range(16)], "bucket int, weight double"
    )
    scored = score_quality_linear(docs, weights, n_buckets=16).withColumn(
        "label", (F.col("doc_id") % 2).cast("int")
    )
    auc = binary_auc(scored).collect()[0]
    assert auc["auc"] is not None and 0.0 <= auc["auc"] <= 1.0
    rep = threshold_report(scored, [0.5])
    assert rep.count() == 1
    cal = calibration_report(scored)
    assert 0.0 <= ece(cal) <= 1.0


def test_grouped_auc_matches_per_group_binary_auc(spark):
    """grouped_auc == binary_auc run per slice, in one plan — including
    a single-class group (NULL auc) and heavy ties."""
    import numpy as np

    rng = np.random.default_rng(9)
    rows = []
    for g, shift in (("en", 1.0), ("ko", 0.2), ("onlypos", 0.0)):
        for _ in range(150):
            y = int(rng.integers(0, 2)) if g != "onlypos" else 1
            s = float(np.round(rng.normal(0, 1) + shift * y, 1))
            rows.append((g, s, y))
    df = spark.createDataFrame(rows, "lang string, score double, label int")
    got = {r["lang"]: r for r in grouped_auc(df, ["lang"]).collect()}
    for g in ("en", "ko"):
        want = binary_auc(df.where(F.col("lang") == g)).collect()[0]
        assert abs(got[g]["auc"] - want["auc"]) < 1e-12
        assert got[g]["n_pos"] == want["n_pos"]
    assert got["onlypos"]["auc"] is None and got["onlypos"]["n_neg"] == 0

    # a NULL group value is a legitimate slice and must survive the
    # null-safe offset join
    withnull = df.withColumn(
        "lang", F.when(F.col("lang") == "ko", None).otherwise(F.col("lang"))
    )
    gn = {r["lang"]: r for r in grouped_auc(withnull, ["lang"]).collect()}
    want_null = binary_auc(withnull.where(F.col("lang").isNull())).collect()[0]
    assert abs(gn[None]["auc"] - want_null["auc"]) < 1e-12
    import pytest as _pt

    with _pt.raises(ValueError, match="group_cols"):
        grouped_auc(df, [])


def test_nan_scores_excluded_not_ranked(spark):
    """r7 ADVICE: NaN survives cast('double') + isNotNull, and Spark
    sorts it greater than every number — letting it through would
    silently rank it as the top score where sklearn raises. All four
    report surfaces must treat NaN score like NULL (excluded; counted
    in n_null where the surface counts)."""
    clean = [(0.9, 1), (0.7, 0), (0.6, 1), (0.2, 0), (0.1, 0)]
    dirty = clean + [(float("nan"), 0), (float("nan"), 1)]
    cdf = spark.createDataFrame(clean, "score double, label int")
    ddf = spark.createDataFrame(dirty, "score double, label int")

    want = binary_auc(cdf).collect()[0]
    got = binary_auc(ddf).collect()[0]
    assert got["auc"] == want["auc"]
    assert (got["n_pos"], got["n_neg"]) == (want["n_pos"], want["n_neg"])
    assert got["n_null"] == 2

    rep_c = threshold_report(cdf, [0.5]).collect()
    rep_d = threshold_report(ddf, [0.5]).collect()
    assert [tuple(r) for r in rep_c] == [tuple(r) for r in rep_d]

    cal_c = calibration_report(cdf, n_bins=4).collect()
    cal_d = calibration_report(ddf, n_bins=4).collect()
    assert [tuple(r) for r in cal_c] == [tuple(r) for r in cal_d]

    gdf_c = cdf.withColumn("g", F.lit("a"))
    gdf_d = ddf.withColumn("g", F.lit("a"))
    gc = grouped_auc(gdf_c, ["g"]).collect()[0]
    gd = grouped_auc(gdf_d, ["g"]).collect()[0]
    assert (gc["auc"], gc["n_pos"], gc["n_neg"]) == (
        gd["auc"], gd["n_pos"], gd["n_neg"]
    )


def test_grouped_auc_cardinality_guard(spark):
    """The per-(partition, group) offset collect is driver-sized for
    slice keys only; a pathological per-entity key must hit the named
    guard, not an unexplained driver OOM."""
    df = spark.range(0, 500).select(
        F.col("id").cast("string").alias("domain"),
        (F.rand(7)).alias("score"),
        (F.col("id") % 2).cast("int").alias("label"),
    )
    with pytest.raises(ValueError, match="max_offset_groups"):
        grouped_auc(df, ["domain"], max_offset_groups=100)
    # and the same call with the bound raised succeeds
    out = grouped_auc(df, ["domain"], max_offset_groups=1000)
    assert out.count() == 500


def test_grouped_threshold_report_hand_golden_and_slice_equivalence(spark):
    """r10 carry-over stretch: the grouped confusion twin. Hand-computed
    golden per slice, per-group == ungrouped-on-the-slice (shared body),
    NULL group kept as its own slice, NaN/NULL rows excluded per group,
    still ONE aggregate pass."""
    from mwas_rfam_spark.operators.evaluation import (
        grouped_threshold_report,
        threshold_report,
    )

    rows = [
        # grp a: tp=2 fp=1 fn=1 tn=1 at t=0.5
        ("a", 0.9, 1), ("a", 0.8, 0), ("a", 0.7, 1), ("a", 0.4, 1), ("a", 0.2, 0),
        # grp b: all negative, nothing selected at 0.5
        ("b", 0.3, 0), ("b", 0.1, 0),
        # NULL group: a real slice
        (None, 0.6, 1), (None, 0.4, 0),
        # excluded rows land in NO slice
        ("a", float("nan"), 1), ("b", None, 1), (None, 0.7, None),
    ]
    df = spark.createDataFrame(rows, "grp string, score double, label int")
    rep = grouped_threshold_report(df, ["grp"], [0.5])
    got = {r["grp"]: r for r in rep.collect()}
    assert set(got) == {"a", "b", None}
    ra = got["a"]
    assert (ra["tp"], ra["fp"], ra["fn"], ra["tn"]) == (2, 1, 1, 1)
    assert ra["precision"] == pytest.approx(2 / 3)
    assert ra["recall"] == pytest.approx(2 / 3)
    assert ra["selected_frac"] == pytest.approx(3 / 5)
    rb = got["b"]
    assert (rb["tp"], rb["fp"], rb["tn"]) == (0, 0, 2)
    assert rb["precision"] is None and rb["recall"] is None  # no positives
    rn = got[None]
    assert (rn["tp"], rn["fp"], rn["fn"], rn["tn"]) == (1, 0, 0, 1)

    # per-group == ungrouped over the slice, every column, 3 thresholds
    ts = [0.25, 0.5, 0.75]
    full = grouped_threshold_report(df, ["grp"], ts)
    for g in ["a", "b"]:
        slice_rep = threshold_report(df.where(F.col("grp") == g), ts)
        want = sorted(map(tuple, slice_rep.collect()))
        have = sorted(
            tuple(r)[1:] for r in full.where(F.col("grp") == g).collect()
        )
        assert have == want

    # one aggregate pass, grouped or not
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 2 or plan.count("SortAggregate") <= 2
    with pytest.raises(ValueError, match="group_cols"):
        grouped_threshold_report(df, [], ts)
    with pytest.raises(ValueError, match="non-empty"):
        grouped_threshold_report(df, ["grp"], [])


def test_calibration_from_score_counts_matches_row_level(spark):
    """Counts-state calibration reconstruction: per-score counts
    determine the calibration report exactly (every row behind a counts
    row has exactly score v), ungrouped and grouped, and the counts
    need no per-v pre-fold — a union of two batch relations (duplicate
    v rows) yields the identical report by linearity."""
    from mwas_rfam_spark.operators.evaluation import (
        calibration_from_score_counts,
        calibration_report,
        ece,
        grouped_calibration_report,
        grouped_per_score_counts,
        per_score_counts,
    )

    rows = [
        (i, "en" if i % 2 else "ko", 0.05 * (i % 21), i % 3 > 0)
        for i in range(420)
    ]
    rows += [(420, "en", float("nan"), True), (421, "ko", 0.4, None)]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, score double, label boolean"
    ).cache()

    def rel(df):
        return sorted(
            (r["bin"], r["n"], round(r["mean_score"], 9),
             round(r["pos_rate"], 9), round(r["gap"], 9))
            for r in df.collect()
        )

    want = calibration_report(docs)
    got = calibration_from_score_counts(per_score_counts(docs))
    assert rel(got) == rel(want)
    assert ece(got) == pytest.approx(ece(want), abs=1e-12)

    gwant = grouped_calibration_report(docs, ["lang"])
    gper = grouped_per_score_counts(docs, ["lang"])
    ggot = calibration_from_score_counts(gper, ["lang"])

    def grel(df):
        return sorted(
            (r["lang"], r["bin"], r["n"], round(r["mean_score"], 9),
             round(r["pos_rate"], 9))
            for r in df.collect()
        )

    assert grel(ggot) == grel(gwant)
    # global report from the grouped counts: slices sum away exactly
    assert rel(calibration_from_score_counts(gper, [])) == rel(want)

    # unfolded multi-batch counts (duplicate v rows) are fine: linear
    halves = per_score_counts(docs.where(F.col("doc_id") % 2 == 0)).unionByName(
        per_score_counts(docs.where(F.col("doc_id") % 2 == 1))
    )
    assert rel(calibration_from_score_counts(halves)) == rel(want)

    with pytest.raises(ValueError, match="n_bins"):
        calibration_from_score_counts(per_score_counts(docs), n_bins=0)


def test_auc_from_score_counts_folds_duplicate_v_rows(spark):
    """r11 review finding: a raw multi-batch counts union has duplicate
    v rows; without the internal fold the prefix sum treats them as
    successive distinct scores and corrupts midrank tie handling
    (0.875 -> 0.75 on this exact input). Both finish stages must fold
    by default; assume_folded=True on already-folded input is
    identical."""
    from mwas_rfam_spark.operators.evaluation import (
        auc_from_score_counts,
        grouped_auc_from_score_counts,
        grouped_per_score_counts,
        per_score_counts,
    )

    docs = spark.createDataFrame(
        [("g", 0.5, 1), ("g", 0.5, 0), ("g", 0.2, 0), ("g", 0.8, 1)],
        "grp string, score double, label int",
    )
    folded = per_score_counts(docs)
    want = auc_from_score_counts(folded, assume_folded=True).collect()[0]
    assert want["auc"] == pytest.approx(0.875, abs=1e-12)

    # two-batch union: score 0.5 appears in BOTH batches
    b1 = spark.createDataFrame(
        [("g", 0.5, 1), ("g", 0.2, 0)], "grp string, score double, label int"
    )
    b2 = spark.createDataFrame(
        [("g", 0.5, 0), ("g", 0.8, 1)], "grp string, score double, label int"
    )
    unfolded = per_score_counts(b1).unionByName(per_score_counts(b2))
    got = auc_from_score_counts(unfolded).collect()[0]
    assert got["auc"] == pytest.approx(0.875, abs=1e-12)
    assert (got["n_pos"], got["n_neg"]) == (want["n_pos"], want["n_neg"])

    gunfolded = grouped_per_score_counts(b1, ["grp"]).unionByName(
        grouped_per_score_counts(b2, ["grp"])
    )
    g = grouped_auc_from_score_counts(gunfolded, ["grp"]).collect()[0]
    assert g["auc"] == pytest.approx(0.875, abs=1e-12)


def test_ungrouped_auc_is_one_row_on_empty_and_all_invalid_input(spark):
    """The ungrouped finisher always answers with exactly one row: an
    empty relation and one holding only invalid (v-NULL) rows give a
    NULL auc, zero class counts and the invalid tally."""
    from mwas_rfam_spark.operators.evaluation import auc_from_score_counts

    counts_schema = "v double, cnt_a long, cnt_b long, cnt_null long"
    scored_schema = "score double, label int"
    cases = [
        (auc_from_score_counts(spark.createDataFrame([], counts_schema)), 0),
        (
            auc_from_score_counts(
                spark.createDataFrame([(None, 0, 0, 2), (None, 0, 0, 1)], counts_schema)
            ),
            3,
        ),
        (binary_auc(spark.createDataFrame([], scored_schema)), 0),
        (
            binary_auc(
                spark.createDataFrame(
                    [(None, 1), (float("nan"), 0), (0.5, None)], scored_schema
                )
            ),
            3,
        ),
    ]
    for rel, k in cases:
        assert [tuple(r) for r in rel.collect()] == [(None, 0, 0, k)]


def test_threshold_report_from_score_counts_matches_row_level(spark):
    """Counts-state threshold reconstruction: score>=t is a pure score
    function, so confusion cells are exact weighted sums over per-score
    counts — equal to the row-level report (ungrouped and grouped,
    incl. empty-cell NULL semantics), and linear over an unfolded
    multi-batch union."""
    from mwas_rfam_spark.operators.evaluation import (
        grouped_per_score_counts,
        grouped_threshold_report,
        per_score_counts,
        threshold_report,
        threshold_report_from_score_counts,
    )

    rows = [
        (i, "en" if i % 2 else "ko", 0.05 * (i % 21), i % 3 > 0)
        for i in range(210)
    ]
    rows += [(210, "en", float("nan"), True), (211, "ko", 0.4, None)]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, score double, label boolean"
    ).cache()
    ts = [0.0, 0.3, 0.5, 1.5]  # 1.5 selects nothing -> NULL precision

    def rel(df, keys=()):
        return sorted(
            tuple(r[k] for k in keys)
            + (r["threshold"], r["tp"], r["fp"], r["fn"], r["tn"],
               r["precision"], r["recall"], r["f1"], r["selected_frac"])
            for r in df.collect()
        )

    want = threshold_report(docs, ts)
    got = threshold_report_from_score_counts(per_score_counts(docs), ts)
    assert rel(got) == rel(want)

    gwant = grouped_threshold_report(docs, ["lang"], ts)
    gper = grouped_per_score_counts(docs, ["lang"])
    assert rel(
        threshold_report_from_score_counts(gper, ts, ["lang"]), ("lang",)
    ) == rel(gwant, ("lang",))
    # global from grouped counts; unfolded two-batch union
    assert rel(threshold_report_from_score_counts(gper, ts)) == rel(want)
    halves = per_score_counts(docs.where(F.col("doc_id") % 2 == 0)).unionByName(
        per_score_counts(docs.where(F.col("doc_id") % 2 == 1))
    )
    assert rel(threshold_report_from_score_counts(halves, ts)) == rel(want)

    with pytest.raises(ValueError, match="thresholds"):
        threshold_report_from_score_counts(per_score_counts(docs), [])


def test_calibration_clamps_out_of_range_scores(spark):
    """r12 review finding (execution-confirmed): an out-of-range or
    infinite score made the bin rule's long conversion CAST_OVERFLOW
    under ANSI instead of clamping into the terminal bin."""
    from mwas_rfam_spark.operators.evaluation import calibration_report

    df = spark.createDataFrame(
        [(3e8, 1), (float("inf"), 1), (-5.0, 0), (0.55, 1)],
        "score double, label int",
    )
    rows = {r["bin"]: r for r in calibration_report(df).collect()}
    assert rows[9]["n"] == 2  # 3e8 and +inf clamp into the top bin
    assert rows[0]["n"] == 1  # -5 clamps into bin 0
    assert rows[5]["n"] == 1


def test_f1_zero_when_model_all_wrong(spark):
    """r12 review finding (execution-confirmed): tp=0 with fp>0 and
    fn>0 gave f1=NULL; sklearn reports 0.0 — NULL stays reserved for
    undefined cells."""
    from mwas_rfam_spark.operators.evaluation import threshold_report

    df = spark.createDataFrame(
        [(0.9, 0), (0.1, 1)], "score double, label int"
    )
    r = threshold_report(df, [0.5]).collect()[0]
    assert r["precision"] == 0.0 and r["recall"] == 0.0
    assert r["f1"] == 0.0


def test_threshold_report_empty_input_zero_cells(spark):
    """r12 review finding (execution-confirmed): an all-invalid batch
    returned NULL confusion cells; the honest count is 0 (the family's
    pinned convention), with NULL ratios."""
    from mwas_rfam_spark.operators.evaluation import threshold_report

    df = spark.createDataFrame(
        [(float("nan"), 1), (None, 0)], "score double, label int"
    )
    r = threshold_report(df, [0.5]).collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (0, 0, 0, 0)
    assert r["precision"] is None and r["f1"] is None
    assert r["selected_frac"] is None


def test_grouped_auc_refuses_complex_group_type(spark):
    """r12 review finding: an array-typed group column crashed the
    driver with an unhashable-type TypeError AFTER the cluster work
    ran; now an eager ValueError."""
    from mwas_rfam_spark.operators.evaluation import grouped_auc

    df = spark.createDataFrame(
        [(["a"], 0.5, 1)], "tags array<string>, score double, label int"
    )
    with pytest.raises(ValueError, match="complex type"):
        grouped_auc(df, ["tags"])


def test_label_rule_unified_dirty_labels_excluded_everywhere(spark):
    """r13 review finding: the row-level reports filtered on PRE-cast
    label.isNotNull() and then hard-cast, so (a) a NaN double label was
    an ANSI CAST_INVALID_INPUT abort and (b) with lenient casts an
    uncastable string label counted as a NEGATIVE while the counts
    family excluded it — threshold_report(docs) diverged from
    threshold_report_from_score_counts(per_score_counts(docs)). The
    unified try_cast rule excludes dirty labels everywhere."""
    from mwas_rfam_spark.operators.evaluation import (
        calibration_report,
        per_score_counts,
        threshold_report,
        threshold_report_from_score_counts,
    )

    # NaN double label: must be EXCLUDED, not an abort
    d_nan = spark.createDataFrame(
        [(0.9, 1.0), (0.8, 0.0), (0.7, float("nan")), (0.2, 1.0)],
        "score double, label double",
    )
    row = {r["threshold"]: r for r in threshold_report(d_nan, [0.5]).collect()}
    assert row[0.5]["tp"] == 1 and row[0.5]["fp"] == 1 and row[0.5]["fn"] == 1
    cal = calibration_report(d_nan, n_bins=2).collect()
    assert sum(r["n"] for r in cal) == 3  # NaN-label row excluded

    # uncastable string label: row-level == from-counts (both exclude)
    d_str = spark.createDataFrame(
        [(0.9, "1"), (0.8, "0"), (0.7, "unknown"), (0.2, "1")],
        "score double, label string",
    )
    via_rows = {
        r["threshold"]: (r["tp"], r["fp"], r["fn"], r["tn"])
        for r in threshold_report(d_str, [0.5]).collect()
    }
    via_counts = {
        r["threshold"]: (r["tp"], r["fp"], r["fn"], r["tn"])
        for r in threshold_report_from_score_counts(
            per_score_counts(d_str), [0.5]
        ).collect()
    }
    assert via_rows == via_counts
    assert via_rows[0.5] == (1, 1, 1, 0)  # 'unknown' excluded, not negative


def test_grouped_auc_nan_group_slice_correct_across_partitions(spark):
    """r13 review finding: the driver-side offset dict keyed collected
    Row values directly — each collected NaN is a fresh object and
    nan != nan, so a NaN group slice spanning multiple range partitions
    accumulated offset 0 after the first partition, silently
    under-counting cum_b and corrupting that slice's AUC."""
    import math

    from mwas_rfam_spark.operators.evaluation import (
        binary_auc,
        grouped_auc,
    )

    rows = [(float(i) / 40.0, i % 2, float("nan")) for i in range(40)]
    rows += [(float(i) / 40.0, (i + 1) % 2, 1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "score double, label int, grp double")
    # force many range partitions so the NaN slice spans several
    out = grouped_auc(df, ["grp"], partitions=8).collect()
    nan_rows = [r for r in out if r["grp"] is not None and math.isnan(r["grp"])]
    assert len(nan_rows) == 1
    want = binary_auc(
        df.where(F.isnan(F.col("grp")))
    ).first()["auc"]
    assert abs(nan_rows[0]["auc"] - want) < 1e-12
