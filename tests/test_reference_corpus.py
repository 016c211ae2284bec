"""Round-trip property test over the reference's named failure-case
corpus (SURVEY.md §5.2) — real BioProject metadata CSVs that each broke
a prior version of the reference condenser.

Same strategy as the reference's own correctness test
(main/tests/metadata_set_maker_tests/metadata_set_maker_test.py:69-105):
condense, then reconstruct every surviving (column, factor) cohort from
the set table and compare against the cohort computed directly from the
long form. Only the reference's test DATA is used, never its code.

The corpus itself is only present where the reference checkout is; the
hand-written files under ``fixtures/condense/`` reproduce its bug
classes (duplicate headers, a multi-line quoted paragraph, a large file
of empty/``nan`` values, non-``SAM`` rows that must be removed, ragged
rows, pandas NA tokens such as ``NA``/``N/A``/``NULL``) so the round
trip runs everywhere.
"""

import os

import pytest
from pyspark.sql import functions as F

from mwas_rfam_spark.operators.condense import _PANDAS_NA_TOKENS, condense_metadata
from mwas_rfam_spark.sources.readers import melt_wide_metadata

CORPUS_DIR = "/root/reference/main/tests/metadata_set_maker_tests/test_files"
# ALL 14 named failure-case files (reference metadata_set_maker_test.py:14
# names the 4 TEST_* tiers; the rest are the named-bug repro files)
CORPUS_FILES = [
    "TEST_SMALL--PRJDA67149.csv",
    "TEST_MEDIUM--PRJDB10214.csv",
    "TEST_LARGE--PRJDB11622.csv",
    "TEST--PRJEB37099.csv",
    "TEST_TUBE--PRJNA702085.csv",
    "TEST_PARAGRAPH--PRJNA706648.csv",
    "dup_ex_PRJEB66656.csv",
    "dup_ex_PRJNA111155.csv",
    "index_error--PRJNA1066703.csv",
    "375_rows_removed--PRJNA1019311.csv",
    "why_were_rows_removed--PRJNA243351.csv",
    "still_graceful_exit_fails--PRJNA642341.csv",
    "still_fails--PRJNA754385.csv",
    "large_but_empty--PRJNA893630.csv",
]

corpus_available = pytest.mark.skipif(
    not os.path.isdir(CORPUS_DIR), reason="reference corpus not present"
)
FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "condense")
ROUNDTRIP_CASES = [
    pytest.param(f"{CORPUS_DIR}/{f}", id=f, marks=corpus_available)
    for f in CORPUS_FILES
] + [
    pytest.param(f"{FIXTURE_DIR}/{f}", id=f) for f in sorted(os.listdir(FIXTURE_DIR))
]


def _read_corpus_csv(spark, path):
    """Read a raw bioproject metadata CSV the way the engine would —
    the convention (multiLine, escape, duplicate headers made unique
    with the ORIGINAL first-occurrence name preserved) now lives in the
    S2 reader itself (r12 consolidation)."""
    from mwas_rfam_spark.sources.readers import read_wide_metadata

    return read_wide_metadata(spark, path)


@pytest.mark.parametrize("path", ROUNDTRIP_CASES)
def test_corpus_roundtrip(spark, path):
    fname = os.path.basename(path)
    wide = _read_corpus_csv(spark, path)
    if "biosample_id" not in wide.columns:
        pytest.skip(f"{fname}: no biosample_id column")
    bioproject = fname.rsplit("--", 1)[-1].rsplit("_", 1)[-1].replace(".csv", "")
    long_df = melt_wide_metadata(wide, bioproject)

    sets, ref = condense_metadata(long_df)
    ref_rows = ref.collect()
    if not ref_rows:
        # file condensed to nothing (too few valid biosamples) — graceful
        assert sets.count() == 0
        return
    n = ref_rows[0]["n"]
    universe = set(ref_rows[0]["biosamples_ref"])

    # the reference reads metadata through pandas, so every pandas NA
    # token is missing, not a factor level
    informative = F.col("value").isNotNull() & ~F.col("value").isin(*_PANDAS_NA_TOKENS)
    valid = long_df.filter(F.col("biosample_id").startswith("SAM"))
    nunique = {
        r["attribute"]: r["nu"]
        for r in valid.filter(informative)
        .groupBy("attribute")
        .agg(F.countDistinct("value").alias("nu"))
        .collect()
    }
    originals = (
        valid.filter(informative)
        .groupBy("attribute", "value")
        .agg(F.collect_set("biosample_id").alias("cohort"))
        .collect()
    )
    expected = {
        (r["attribute"].replace(";", ":"), r["value"].replace(";", ":")): set(r["cohort"])
        for r in originals
        if 2 <= len(r["cohort"]) < n and 1 < nunique[r["attribute"]] < n
    }

    reconstructed = {}
    for r in sets.collect():
        true_side = set(r["members"]) if r["include"] else universe - set(r["members"])
        for attr, val in zip(r["attributes"].split("; "), r["values"].split("; ")):
            reconstructed[(attr, val)] = true_side

    missing = set(expected) - set(reconstructed)
    extra = set(reconstructed) - set(expected)
    assert not missing and not extra, (fname, sorted(missing)[:3], sorted(extra)[:3])
    for k, cohort in expected.items():
        assert reconstructed[k] == cohort, (fname, k)
