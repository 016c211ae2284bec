"""Drift detectors: exact KS vs a Python reference and DuckDB's window
SQL, PSI/chi-square hand models, report shape, and the prefix-sum
partitioning invariants."""

import ast
import math
import pathlib
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from mwas_rfam_spark.operators.drift import (
    categorical_drift,
    drift_report,
    ks_drift,
    ks_p_value,
)


def _ks_reference(xs: list[float], ys: list[float]) -> float:
    """Exact two-sample KS by merged-ECDF sweep."""
    pts = sorted(set(xs) | set(ys))
    xs_s, ys_s = sorted(xs), sorted(ys)

    def ecdf(sorted_v, p):
        import bisect

        return bisect.bisect_right(sorted_v, p) / len(sorted_v)

    return max(abs(ecdf(xs_s, p) - ecdf(ys_s, p)) for p in pts)


def test_ks_matches_reference_and_partition_invariance(spark):
    rng = random.Random(7)
    xs = [rng.gauss(0.0, 1.0) for _ in range(400)]
    ys = [rng.gauss(0.4, 1.3) for _ in range(300)]
    a = spark.createDataFrame([(v,) for v in xs], "score double")
    b = spark.createDataFrame([(v,) for v in ys], "score double")
    want = _ks_reference(xs, ys)
    for parts in (1, 3, 16):
        row = ks_drift(a, b, "score", partitions=parts).first()
        assert row["n_a"] == 400 and row["n_b"] == 300
        assert abs(row["ks_stat"] - want) < 1e-9, parts
    # the attained gap location is a real sample point
    row = ks_drift(a, b, "score").first()
    assert row["ks_at_value"] in set(xs) | set(ys)


def test_ks_identical_and_disjoint(spark):
    a = spark.createDataFrame([(float(i),) for i in range(50)], "v double")
    assert ks_drift(a, a, "v").first()["ks_stat"] == 0.0
    b = spark.createDataFrame([(float(i + 1000),) for i in range(50)], "v double")
    assert ks_drift(a, b, "v").first()["ks_stat"] == 1.0
    with pytest.raises(ValueError, match="non-empty"):
        ks_drift(a.where("v < 0"), b, "v").first()


def test_ks_duckdb_parity_on_documents(spark, sf_dir):
    """Real-corpus parity: text-length distribution of even vs odd
    doc_ids, Spark's two-level prefix sum vs DuckDB's window SQL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.length("text").cast("double").alias("tl")
    )
    got = ks_drift(
        docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1"), "tl"
    ).first()
    con = duckdb.connect()
    want = con.execute(
        f"""
        WITH t AS (
          SELECT length(text)::DOUBLE AS v, (doc_id % 2 = 0) AS is_a
          FROM read_parquet('{sf_dir}/documents.parquet')
        ),
        per_v AS (
          SELECT v, sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
                    sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
          FROM t GROUP BY v
        ),
        cum AS (
          SELECT v,
                 sum(ca) OVER (ORDER BY v) / (SELECT sum(ca) FROM per_v) AS fa,
                 sum(cb) OVER (ORDER BY v) / (SELECT sum(cb) FROM per_v) AS fb
          FROM per_v
        )
        SELECT round(max(abs(fa - fb)), 9) FROM cum
        """
    ).fetchone()[0]
    con.close()
    assert abs(got["ks_stat"] - want) < 1e-9


def test_categorical_psi_and_chi2_hand_model(spark):
    a_counts = {"en": 700, "de": 200, "fr": 100}
    b_counts = {"en": 500, "de": 300, "fr": 150, "es": 50}
    a = spark.createDataFrame(
        [(k,) for k, n in a_counts.items() for _ in range(n // 50)], "lang string"
    )
    b = spark.createDataFrame(
        [(k,) for k, n in b_counts.items() for _ in range(n // 50)], "lang string"
    )
    row = categorical_drift(a, b, "lang", eps=1e-6).first()

    na = sum(v // 50 for v in a_counts.values())
    nb = sum(v // 50 for v in b_counts.values())
    cats = set(a_counts) | set(b_counts)
    psi = chi2 = 0.0
    best = None
    for c in sorted(cats):
        pa = (a_counts.get(c, 0) // 50) / na + 1e-6
        pb = (b_counts.get(c, 0) // 50) / nb + 1e-6
        term = (pa - pb) * math.log(pa / pb)
        psi += term
        ea = pb * na
        chi2 += ((a_counts.get(c, 0) // 50) - ea) ** 2 / ea
        if best is None or term > best[1]:
            best = (c, term)
    assert row["n_categories"] == 4
    assert abs(row["psi"] - psi) < 1e-8
    assert abs(row["chi2_stat"] - chi2) < 1e-4
    assert row["top_mover"] == best[0]
    assert abs(row["top_mover_psi"] - best[1]) < 1e-8


def test_categorical_null_is_a_category(spark):
    a = spark.createDataFrame([("x",), (None,), (None,), ("y",)], "c string")
    b = spark.createDataFrame([("x",), ("y",), ("y",), ("y",)], "c string")
    row = categorical_drift(a, b, "c").first()
    assert row["n_categories"] == 3  # x, y, NULL
    assert row["psi"] > 0


def test_drift_report_shape_and_flags(spark):
    rng = random.Random(3)
    a = spark.createDataFrame(
        [(rng.gauss(0, 1), "en" if i % 5 else "de") for i in range(200)],
        "score double, lang string",
    )
    b_same = a
    b_moved = spark.createDataFrame(
        [(rng.gauss(3, 1), "fr") for _ in range(200)], "score double, lang string"
    )
    rep = {
        (r["column"], r["kind"]): r
        for r in drift_report(
            a, b_moved, numeric_cols=["score"], categorical_cols=["lang"]
        ).collect()
    }
    assert rep[("score", "numeric")]["flagged"] is True
    assert rep[("lang", "categorical")]["flagged"] is True
    rep_same = {
        r["column"]: r
        for r in drift_report(
            a, b_same, numeric_cols=["score"], categorical_cols=["lang"]
        ).collect()
    }
    assert rep_same["score"]["value"] == 0.0 and rep_same["score"]["flagged"] is False
    assert rep_same["lang"]["flagged"] is False
    with pytest.raises(ValueError, match="at least one column"):
        drift_report(a, b_same)


def test_ks_p_value_scalar():
    # calibration sanity: identical big samples -> p ~ 1; huge gap -> p ~ 0
    assert ks_p_value(0.0, 1000, 1000) == 1.0
    assert ks_p_value(0.9, 1000, 1000) < 1e-10
    # scipy's documented example magnitude: D=0.0574, n=m=1000 -> p ~ 0.073
    p = ks_p_value(0.0574, 1000, 1000)
    assert 0.05 < p < 0.11
    with pytest.raises(ValueError):
        ks_p_value(1.5, 10, 10)
    with pytest.raises(ValueError):
        ks_p_value(0.5, 0, 10)


# ----------------------------------------------------- snapshot diff


def test_corpus_diff_statuses_and_duckdb_parity(spark, sf_dir, tmp_path):
    from mwas_rfam_spark.operators.summary import corpus_diff, corpus_diff_summary

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, None, 40)],
        "doc_id long, text string, score int",
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c2", None), (4, "", 40), (5, "e", 50)],
        "doc_id long, text string, score int",
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    # 4: NULL -> '' must be CHANGED (null/empty disambiguation)
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "changed", 5: "added"}
    summ = {r["status"]: r["n"] for r in corpus_diff_summary(old, new).collect()}
    assert summ == {"added": 1, "removed": 1, "changed": 2, "unchanged": 1}

    import pytest

    with pytest.raises(ValueError, match="missing columns"):
        corpus_diff(old, new.drop("score"), content_cols=["text", "score"])
    with pytest.raises(ValueError, match="no shared"):
        corpus_diff(old.select("doc_id"), new.select("doc_id"))

    # cross-engine parity on the real corpus: perturb a slice in SQL
    import duckdb

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    new_real = (
        docs.where("doc_id % 11 != 0")  # drop some
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" EDIT"))).otherwise(
                F.col("text")
            ),
        )
    )
    got_summ = {
        r["status"]: r["n"] for r in corpus_diff_summary(docs, new_real).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"""
            WITH old AS (SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')),
            new AS (SELECT doc_id, doc_id % 7 = 0 AS edited
                    FROM read_parquet('{sf_dir}/documents.parquet')
                    WHERE doc_id % 11 != 0)
            SELECT CASE WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN n.edited THEN 'changed'
                        ELSE 'unchanged' END AS status, count(*)
            FROM old o LEFT JOIN new n USING (doc_id) GROUP BY 1
            """
        ).fetchall()
    )
    con.close()
    want.setdefault("changed", 0)
    assert got_summ["removed"] == want["removed"]
    assert got_summ["changed"] == want["changed"]
    assert got_summ["unchanged"] == want["unchanged"]
    assert got_summ["added"] == 0


def test_corpus_diff_hash_injective_and_dup_guard(spark):
    from mwas_rfam_spark.operators.summary import corpus_diff

    # separator-smuggling rows must hash DIFFERENT (changed, not unchanged)
    old = spark.createDataFrame([(1, "x|V1:y", "z")], "doc_id long, a string, b string")
    new = spark.createDataFrame([(1, "x", "y|V1:z")], "doc_id long, a string, b string")
    assert corpus_diff(old, new).first()["status"] == "changed"

    # duplicate ids fail loud at execution, naming the side
    dup = spark.createDataFrame([(7, "a"), (7, "b")], "doc_id long, text string")
    ok = spark.createDataFrame([(7, "a")], "doc_id long, text string")
    import pytest

    with pytest.raises(Exception, match="duplicate doc_id on the old side"):
        corpus_diff(dup, ok).collect()
    with pytest.raises(Exception, match="duplicate doc_id on the new side"):
        corpus_diff(ok, dup).collect()


def test_cdc_null_payload_skipped(spark):
    from mwas_rfam_spark.operators.multimodal import cdc_chunk_payloads

    media = spark.createDataFrame(
        [(1, b"0123456789" * 100), (2, None)], "doc_id long, payload binary"
    )
    rows = cdc_chunk_payloads(media, avg_size=64).collect()
    assert {r["doc_id"] for r in rows} == {1}


def test_binned_numeric_drift(spark):
    """Sketch-path drift: identical sides -> psi 0; shifted sides ->
    large psi and ks_lower_bound <= exact KS (provable bound); NULLs
    get their own bucket; hand model on a 2-bin split."""
    import random

    from mwas_rfam_spark.operators.drift import binned_numeric_drift

    rng = random.Random(17)
    xs = [rng.gauss(0, 1) for _ in range(500)]
    ys = [rng.gauss(1.2, 1) for _ in range(500)]
    a = spark.createDataFrame([(v,) for v in xs], "v double")
    b = spark.createDataFrame([(v,) for v in ys], "v double")

    same = binned_numeric_drift(a, a, "v", bins=10).first()
    assert same["psi"] == 0.0 and same["ks_lower_bound"] == 0.0

    moved = binned_numeric_drift(a, b, "v", bins=10).first()
    assert moved["psi"] > 0.25
    exact = ks_drift(a, b, "v").first()["ks_stat"]
    assert moved["ks_lower_bound"] <= exact + 1e-9

    # hand model, bins=2: single edge = baseline median
    xs2 = [1.0, 2.0, 3.0, 4.0]
    ys2 = [3.5, 3.6, None]
    a2 = spark.createDataFrame([(v,) for v in xs2], "v double")
    b2 = spark.createDataFrame([(v,) for v in ys2], "v double")
    row = binned_numeric_drift(a2, b2, "v", bins=2).first()
    assert row["n_a"] == 4 and row["n_b"] == 3
    # hand model with the engine's own median convention
    import math
    from collections import Counter

    edge = a2.agg(
        F.percentile_approx("v", F.lit([0.5]), F.lit(1000)).alias("e")
    ).first()["e"][0]
    ca = Counter(-1 if v is None else int(v > edge) for v in xs2)
    cb = Counter(-1 if v is None else int(v > edge) for v in ys2)
    eps = 1e-6
    want = 0.0
    for bkt in set(ca) | set(cb):
        p = ca.get(bkt, 0) / 4 + eps
        q = cb.get(bkt, 0) / 3 + eps
        want += (p - q) * math.log(p / q)
    assert abs(row["psi"] - want) < 1e-8

    import pytest

    with pytest.raises(ValueError, match="bins"):
        binned_numeric_drift(a, b, "v", bins=1)
    with pytest.raises(ValueError, match="no non-null"):
        binned_numeric_drift(a.where("v > 1e9"), b, "v").first()


def test_binned_ks_bound_mass_shift_counterexample(spark):
    """Per-bin gaps would report 1.0 here; the true KS is 0.5 and the
    cumulative bound must respect it. Null-rate changes must not leak
    into the bound (KS is defined over non-null values)."""
    from mwas_rfam_spark.operators.drift import binned_numeric_drift

    # baseline: half mass at 1.0, half at 3.0; candidate: all at 2.0
    a = spark.createDataFrame([(1.0,)] * 50 + [(3.0,)] * 50, "v double")
    b = spark.createDataFrame([(2.0,)] * 100, "v double")
    row = binned_numeric_drift(a, b, "v", bins=4).first()
    exact = ks_drift(a, b, "v").first()["ks_stat"]
    assert row["ks_lower_bound"] <= exact + 1e-9
    assert row["ks_lower_bound"] > 0.4  # still detects the move

    # pure null-rate drift: bound stays 0, PSI catches it
    c = spark.createDataFrame([(1.0,)] * 50 + [(None,)] * 50, "v double")
    d = spark.createDataFrame([(1.0,)] * 100, "v double")
    r2 = binned_numeric_drift(c, d, "v", bins=2).first()
    assert r2["ks_lower_bound"] == 0.0
    assert r2["psi"] > 0.25


def test_embedding_drift_report_detects_mean_shift(spark, sf_dir):
    """A same-distribution split stays unflagged; shifting the current
    side along a retained direction flags at least the affected
    component. KS per component must equal a direct drift_report over
    the projected scalars (shared plan, recomputed independently)."""
    from mwas_rfam_spark.operators.decomposition import fit_pca, pca_project
    from mwas_rfam_spark.operators.drift import drift_report, embedding_drift_report

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).cache()
    base = emb.where(F.col("vec_id") % 2 == 0)
    same = emb.where(F.col("vec_id") % 2 == 1)
    calm = embedding_drift_report(base, same, k=3, ks_threshold=0.2).collect()
    assert [r["column"] for r in calm] == ["pc0", "pc1", "pc2"]
    assert not any(r["flagged"] for r in calm)

    # shift the current side along the baseline's FIRST component
    model = fit_pca(base, 3)
    c0 = model["components"][0]
    shifted = same.select(
        "vec_id",
        F.zip_with(
            "embedding",
            F.array(*[F.lit(float(5.0 * x)) for x in c0]),
            lambda a, b: a + b,
        ).alias("embedding"),
    )
    hot = {r["column"]: r for r in embedding_drift_report(base, shifted, k=3).collect()}
    assert hot["pc0"]["flagged"]

    # cross-check: identical to a scalar drift_report over the projections
    def proj(df):
        p = pca_project(df, model, out_col="__p")
        return p.select(*[F.col("__p")[i].alias(f"pc{i}") for i in range(3)])

    direct = {
        r["column"]: round(r["value"], 9)
        for r in drift_report(
            proj(base), proj(shifted), numeric_cols=["pc0", "pc1", "pc2"],
            categorical_cols=[], numeric_mode="exact",
        ).collect()
    }
    assert {c: round(hot[c]["value"], 9) for c in direct} == direct


def test_ks_drift_excludes_nan(spark):
    """r12 review finding: NaN passed isNotNull and, sorting greater
    than every number, inflated the KS statistic by the NaN-rate
    difference — a corpus whose real-valued distribution did not move
    got flagged."""
    import math

    from mwas_rfam_spark.operators.drift import ks_drift

    a = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    b = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(float("nan"),)] * 40, "v double"
    )
    r = ks_drift(a, b, "v").collect()[0]
    assert r["n_b"] == 100  # NaNs excluded from the side count too
    assert r["ks_stat"] == 0.0


def test_binned_drift_nan_in_null_bucket_and_guards(spark):
    """r12 review findings: NaN landed in the top non-null bucket
    (polluting psi and the KS lower bound); relative_error > 1 died
    inside percentile_approx with an unrelated error; bins is bounded
    (the bucket expr is a bins-deep when-chain)."""
    from mwas_rfam_spark.operators.drift import binned_numeric_drift

    a = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    b = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(float("nan"),)] * 50, "v double"
    )
    r = binned_numeric_drift(a, b, "v", bins=4).collect()[0]
    assert r["ks_lower_bound"] == 0.0  # NaNs sit in bucket -1, not the top bin
    with pytest.raises(ValueError, match="relative_error"):
        binned_numeric_drift(a, b, "v", relative_error=2.0)
    with pytest.raises(ValueError, match="bins"):
        binned_numeric_drift(a, b, "v", bins=100_000)


def test_corpus_diff_null_id_both_sides_unchanged(spark):
    """r12 review finding: a NULL id present on both sides never
    matched the equi-join and came back as 'removed' + 'added' —
    deleting and re-embedding the doc on every diff run."""
    from mwas_rfam_spark.operators.summary import corpus_diff

    old = spark.createDataFrame(
        [(None, "same text"), (1, "a")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(None, "same text"), (1, "b")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got[None] == "unchanged"
    assert got[1] == "changed"
    assert len(got) == 2


def test_corpus_report_no_id_column_needed(spark):
    """r12 review finding: the report selected doc_id it never
    aggregated — the report CLI crashed on any corpus without it; and
    NULL-text docs counted as duplicates (NULL hash dropped by the
    distinct estimate)."""
    from mwas_rfam_spark.operators.summary import corpus_report

    docs = spark.createDataFrame(
        [("alpha beta",), ("gamma delta",), (None,)], "body string"
    )
    r = corpus_report(docs, text_col="body").collect()[0]
    assert r["n_docs"] == 3 and r["n_empty"] == 1
    assert r["dup_rate_est"] == 0.0  # NULL doc is one distinct empty doc


def test_bucket_expr_nan_rule_is_frame_dtype_independent(spark):
    """r13 ADVICE item: the NaN->bucket(-1) guard used to key off the
    BASELINE frame's dtype — an integral baseline compared against a
    float frame sent the float frame's NaN rows to the TOP bucket."""
    from mwas_rfam_spark.operators.drift import baseline_quantile_bucket

    base_int = spark.createDataFrame([(i,) for i in range(1, 101)], "v int")
    edges, bucket = baseline_quantile_bucket(
        base_int, "v", bins=4, relative_error=0.001
    )
    float_frame = spark.createDataFrame(
        [(1.0,), (float("nan"),), (None,), (1e9,)], "v double"
    )
    rows = float_frame.select(F.col("v"), bucket.alias("b")).collect()
    by_desc = {}
    for r in rows:
        v = r["v"]
        key = "null" if v is None else ("nan" if math.isnan(v) else v)
        by_desc[key] = r["b"]
    assert by_desc["nan"] == -1, "NaN in a float frame must route to -1"
    assert by_desc["null"] == -1
    assert by_desc[1.0] == 0
    assert by_desc[1e9] == len(edges)  # genuinely-large value: top bucket


def test_finite_cond_case_insensitive_dtype_lookup(spark):
    """r13 review finding (execution-confirmed): Spark resolves column
    names case-insensitively, but the NaN-exclusion helper's dtype
    lookup was exact-string — ks_drift(df, 'score') against a column
    declared 'Score double' silently skipped the ~isnan filter and
    re-inflated the statistic the r12 fix de-NaN'd."""
    from mwas_rfam_spark.operators.drift import ks_drift

    a = spark.createDataFrame(
        [(1.0,), (2.0,), (float("nan"),), (float("nan"),)], "Score double"
    )
    out = ks_drift(a, a, "score").first()
    assert out["n_a"] == 2 and out["n_b"] == 2
    assert out["ks_stat"] == 0.0


def test_corpus_report_null_doc_not_a_duplicate_of_empty(spark):
    """r13 review finding (execution-confirmed): the dup estimate
    coalesced NULL text to the empty-string hash, so any corpus with
    one NULL doc and one empty doc reported duplicates
    exact_dedup_groups will never find (it keeps the NULL-hash group
    separate from the ''-group)."""
    from mwas_rfam_spark.operators.dedup import exact_dedup_groups
    from mwas_rfam_spark.operators.summary import corpus_report

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x")], "doc_id long, text string"
    )
    rep = corpus_report(docs).first()
    assert rep["dup_rate_est"] == 0.0
    assert exact_dedup_groups(docs).where(F.col("n_docs") > 1).count() == 0
    # two NULL docs DO group together (groupBy collects NULL keys):
    # the estimate must still see that as one duplicate
    docs2 = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, text string"
    )
    rep2 = corpus_report(docs2).first()
    assert rep2["dup_rate_est"] > 0.0
    assert exact_dedup_groups(docs2).where(F.col("n_docs") > 1).count() == 1


def test_one_two_level_prefix_sum_in_the_package():
    """The per-partition local window of the range-partitioned prefix sum
    lives only in drift._two_level_cumsum; the KS statistic and both
    AUC finishers call it."""
    package = pathlib.Path(__file__).resolve().parent.parent / "mwas_rfam_spark"
    drift_py = package / "operators" / "drift.py"
    body = next(
        node
        for node in ast.parse(drift_py.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "_two_level_cumsum"
    )
    hits = [
        f"{path.relative_to(package)}:{n}"
        for path in sorted(package.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if 'Window.partitionBy("__pid"' in line
        and not (path == drift_py and body.lineno <= n <= body.end_lineno)
    ]
    assert hits == []
