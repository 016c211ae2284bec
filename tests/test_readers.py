"""Source-reader regression tests — one per r12 per-file-review finding
in mwas_rfam_spark/sources/readers.py (the readers feed every oracle
query, so each hostile-input behavior is pinned here)."""

import pytest
from pyspark.sql import functions as F

from mwas_rfam_spark.schemas import INPUT_SCHEMA
from mwas_rfam_spark.sources.readers import (
    derive_spots_if_missing,
    input_from_rows,
    melt_wide_metadata,
    read_catalog_parquet,
    read_input_csv,
    read_wide_metadata,
)


def test_wide_csv_multiline_quoted_values(spark, tmp_path):
    """r12 finding: without multiLine/escape the quoted value was
    truncated AND a garbage biosample row appeared."""
    p = tmp_path / "meta.csv"
    p.write_text('biosample_id,note\nSAM1,"line1\nline2"\nSAM2,plain\n')
    df = read_wide_metadata(spark, str(p))
    rows = {r["biosample_id"]: r["note"] for r in df.collect()}
    assert rows == {"SAM1": "line1\nline2", "SAM2": "plain"}


def test_wide_csv_duplicate_headers_keep_original_name(spark, tmp_path):
    """r12 finding: Spark mangles duplicate headers (att,att →
    att1,att2) losing the original name for BOTH copies; the reader
    recovers the raw header — first occurrence keeps its exact name,
    later duplicates get __dup{k}."""
    p = tmp_path / "dup.csv"
    p.write_text("biosample_id,att,att\nSAM1,a,b\n")
    df = read_wide_metadata(spark, str(p))
    assert df.columns == ["biosample_id", "att", "att__dup1"]
    r = df.collect()[0]
    assert (r["att"], r["att__dup1"]) == ("a", "b")


def test_melt_handles_hostile_header_names(spark):
    """r12 finding: F.col(c) parsed 'geo.loc' as struct access and a
    backtick as a syntax error; df[c] melts both."""
    df = spark.createDataFrame(
        [("SAM1", "x", "y")], ["biosample_id", "geo.loc", "we`ird"]
    )
    out = melt_wide_metadata(df, "P1").collect()
    assert {(r["attribute"], r["value"]) for r in out} == {
        ("geo.loc", "x"),
        ("we`ird", "y"),
    }


def test_input_from_rows_null_and_missing_quantifier(spark):
    """r12 finding: a JSON body with quantifier null (or absent) must
    ingest as NULL — the schema declares it nullable and every consumer
    coalesces — not crash with float(None); a row missing run/group is
    a clean ValueError (HTTP 400, not 500)."""
    df = input_from_rows(
        spark,
        [
            {"run": "R1", "group": "g", "quantifier": None},
            {"run": "R2", "group": "g"},
            {"run": "R3", "group": "g", "quantifier": 2.5},
        ],
    )
    got = {r["run"]: r["quantifier"] for r in df.collect()}
    assert got == {"R1": None, "R2": None, "R3": 2.5}
    with pytest.raises(ValueError, match="missing required key 'group'"):
        input_from_rows(spark, [{"run": "R1", "quantifier": 1.0}])


@pytest.mark.parametrize("key", ["run", "group"])
@pytest.mark.parametrize("value", [None, 7, 2.5, True, ["x"], {"a": 1}])
def test_input_from_rows_run_and_group_must_be_strings(spark, key, value):
    """`run` and `group` are JSON strings: a null, number, list or object
    is a RequestError (HTTP 400). Before, a null failed Spark's schema
    check as a PySparkValueError (HTTP 500), 7 was stored as '7' and
    ["x"] as "['x']"."""
    from mwas_rfam_spark.sources.readers import RequestError

    row = {"run": "R1", "group": "g", "quantifier": 1.0, key: value}
    with pytest.raises(RequestError, match=f"{key!r} must be a string"):
        input_from_rows(spark, [row])


def test_input_from_rows_plans_as_a_local_relation(spark):
    """The request is one Arrow table: its optimized plan is a
    driver-side LocalRelation, not a scan of a Python RDD whose first
    job waits on a Python worker."""
    df = input_from_rows(
        spark,
        [{"run": "R1", "group": "g", "quantifier": 1.0}, {"run": "R2", "group": "g"}],
    )
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert df.schema == INPUT_SCHEMA
    assert [tuple(r) for r in df.collect()] == [("R1", "g", 1.0), ("R2", "g", None)]


def test_input_csv_non_numeric_quantifier_clean_error(spark, tmp_path):
    """r12 finding: reference parity (mg:756-759) — a non-numeric
    quantifier must raise an eager, named error, not an ANSI
    CAST_INVALID_INPUT from inside the first downstream action;
    validate=False instead yields NULL for the bad cell."""
    p = tmp_path / "inp.csv"
    p.write_text("run,grp,quant\nR1,g,high\nR2,g,2.5\n")
    with pytest.raises(ValueError, match="numeric"):
        read_input_csv(spark, str(p))
    relaxed = {
        r["run"]: r["quantifier"]
        for r in read_input_csv(spark, str(p), validate=False).collect()
    }
    assert relaxed == {"R1": None, "R2": 2.5}


def test_catalog_parquet_derives_spots_and_refuses_absent(spark, tmp_path):
    """r12 finding: a catalog export carrying raw mbases/avgspotlen
    instead of spots used to read as spots=NULL for every row
    (silently zeroing all RPM statistics); it now derives spots like
    the JDBC path, and a catalog with neither column errors."""
    raw = tmp_path / "cat_raw"
    spark.createDataFrame(
        [("P1", "S1", "R1", 10, 100), ("P1", "S2", "R2", 10, 0)],
        "bio_project string, bio_sample string, run string, "
        "mbases long, avgspotlen long",
    ).write.parquet(str(raw))
    got = {r["run"]: r["spots"] for r in read_catalog_parquet(spark, str(raw)).collect()}
    assert got["R1"] == 100_000
    assert got["R2"] is None  # avgspotlen=0: NULL, not DIVIDE_BY_ZERO
    bad = tmp_path / "cat_bad"
    spark.createDataFrame(
        [("P1", "S1", "R1")],
        "bio_project string, bio_sample string, run string",
    ).write.parquet(str(bad))
    with pytest.raises(ValueError, match="lacks required columns"):
        read_catalog_parquet(spark, str(bad))


def test_derive_spots_zero_avgspotlen_is_null_under_ansi(spark):
    """r12 finding: avgspotlen=0 rows exist in real SRA catalogs; under
    Spark 4's default ANSI mode the former plain division aborted the
    whole job with DIVIDE_BY_ZERO."""
    df = spark.createDataFrame(
        [("R1", 10, 0), ("R2", 10, 100)], "run string, mbases long, avgspotlen long"
    )
    got = {r["run"]: r["spots"] for r in derive_spots_if_missing(df).collect()}
    assert got == {"R1": None, "R2": 100_000}
