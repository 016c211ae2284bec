"""Metadata condensation tests — mirrors the reference's round-trip
property test strategy (SURVEY.md §5.1): condense, then reconstruct each
original column's factor cohorts from the set table and compare.
"""

import pytest
from pyspark.sql import functions as F

from mwas_rfam_spark.operators.condense import condense_metadata
from mwas_rfam_spark.sources.readers import melt_wide_metadata
from reference_specs import expand_sets_to_membership


@pytest.fixture(scope="module")
def wide_df(spark):
    # 6 biosamples; columns exercising every pruning rule:
    #  - constant column (pruned), all-unique column (pruned)
    #  - informative column 'tissue' (2 factors, one singleton value)
    #  - 'depth' coincides exactly with tissue cohorts → set-dedup merge
    #  - invalid biosample id row (filtered)
    #  - nan literals ignored
    rows = [
        ("SAM01", "x", "k1", "liver", "deep", "a"),
        ("SAM02", "x", "k2", "liver", "deep", "nan"),
        ("SAM03", "x", "k3", "brain", "shallow", "a"),
        ("SAM04", "x", "k4", "brain", "shallow", "b"),
        ("SAM05", "x", "k5", "brain", "shallow", "b"),
        ("SAM06", "x", "k6", "kidney", None, "a"),
        ("DRS99", "x", "k7", "liver", "deep", "a"),
    ]
    return spark.createDataFrame(
        rows, ["biosample_id", "const_col", "unique_col", "tissue", "depth", "mixed"]
    )


def test_condense_prunes_and_dedups(spark, wide_df):
    long_df = melt_wide_metadata(wide_df, "PRJTEST1")
    sets, ref = condense_metadata(long_df)
    ref_row = ref.collect()[0]
    assert ref_row["biosamples_ref"] == ["SAM01", "SAM02", "SAM03", "SAM04", "SAM05", "SAM06"]
    assert ref_row["n"] == 6

    out = {r["attributes"]: r for r in sets.collect()}
    # const/unique columns pruned; singleton factor 'kidney' skipped;
    # tissue+depth cohorts coincide → merged set
    assert "tissue; depth" in out
    merged = out["tissue; depth"]
    assert merged["values"] in ("liver; deep", "brain; shallow")
    # liver cohort {SAM01, SAM02} is the minority (2 < 6/2) → include
    liver = [r for r in sets.collect() if "liver" in r["values"]]
    assert len(liver) == 1 and liver[0]["include"] is True
    assert liver[0]["members"] == ["SAM01", "SAM02"]
    # brain cohort {03,04,05} size 3, 3 < 3 is False → exclude-encoded
    brain = [r for r in sets.collect() if "brain" in r["values"]]
    assert len(brain) == 1 and brain[0]["include"] is False
    assert brain[0]["members"] == ["SAM01", "SAM02", "SAM06"]
    # 'mixed' has factors a (3× among valid: SAM01, SAM03, SAM06) and b (2×)
    assert any(r["attributes"] == "mixed" for r in sets.collect())


def test_condense_roundtrip_property(spark, wide_df):
    """Reconstruct each surviving (column, factor) cohort from the condensed
    sets and verify it equals the original cohort (reference
    metadata_set_maker_test.py:69-105 strategy)."""
    long_df = melt_wide_metadata(wide_df, "PRJTEST1")
    sets, ref = condense_metadata(long_df)
    n = ref.collect()[0]["n"]
    universe = set(ref.collect()[0]["biosamples_ref"])

    valid = long_df.filter(F.col("biosample_id").startswith("SAM"))
    originals = (
        valid.filter(F.col("value").isNotNull() & (F.col("value") != "nan"))
        .groupBy("attribute", "value")
        .agg(F.collect_set("biosample_id").alias("cohort"))
        .collect()
    )
    factor_cohorts = {
        (r["attribute"], r["value"]): set(r["cohort"])
        for r in originals
        if 2 <= len(r["cohort"]) < n
    }
    # prune rules replicated
    nunique = {
        r["attribute"]: r["nu"]
        for r in valid.filter(F.col("value").isNotNull() & (F.col("value") != "nan"))
        .groupBy("attribute")
        .agg(F.countDistinct("value").alias("nu"))
        .collect()
    }
    factor_cohorts = {
        k: v for k, v in factor_cohorts.items() if 1 < nunique[k[0]] < n
    }

    reconstructed = {}
    for r in sets.collect():
        true_side = set(r["members"]) if r["include"] else universe - set(r["members"])
        for attr, val in zip(r["attributes"].split("; "), r["values"].split("; ")):
            reconstructed[(attr, val)] = true_side

    assert reconstructed == factor_cohorts


def test_membership_expansion(spark, wide_df):
    sets, _ = condense_metadata(melt_wide_metadata(wide_df, "PRJTEST1"))
    m = expand_sets_to_membership(sets)
    assert set(m.columns) == {"bioproject", "set_id", "include", "biosample_id"}
    assert m.count() == sets.select(F.explode("members")).count()


def test_sets_to_readable_expands_complement(spark, wide_df):
    from mwas_rfam_spark.operators.condense import sets_to_readable

    sets, ref = condense_metadata(melt_wide_metadata(wide_df, "PRJTEST1"))
    readable = {r["values"]: r for r in sets_to_readable(sets, ref).collect()}
    # brain cohort was exclude-encoded; readable output must expand back
    brain_key = next(k for k in readable if "brain" in k)
    assert readable[brain_key]["included_biosamples"] == "SAM03; SAM04; SAM05"
    assert readable[brain_key]["n_included"] == 3
    liver_key = next(k for k in readable if "liver" in k)
    assert readable[liver_key]["included_biosamples"] == "SAM01; SAM02"


def test_serve_request_full_pipeline(spark, wide_df):
    from mwas_rfam_spark.config import MwasConfig
    from mwas_rfam_spark.schemas import CATALOG_SCHEMA
    from mwas_rfam_spark.streaming.requests import serve_request

    catalog = spark.createDataFrame(
        [("PRJTEST1", f"SAM0{i}", f"R{i}", 1_000_000) for i in range(1, 7)],
        CATALOG_SCHEMA,
    )
    sets, ref = condense_metadata(melt_wide_metadata(wide_df, "PRJTEST1"))
    rows = [
        {"run": f"R{i}", "group": "g1", "quantifier": float(10 * i)} for i in range(1, 7)
    ]
    out = serve_request(spark, rows, catalog, sets, ref, MwasConfig(t_test_only=True))
    got = out.collect()
    assert len(got) > 0 and len(out.columns) == 18
    assert all(r["bioproject"] == "PRJTEST1" for r in got)


def test_condense_roundtrip_randomized(spark):
    """Round-trip property over randomized wide metadata frames (seeded):
    nan-heavy columns, duplicate values, constant and key-like columns,
    invalid ids — every surviving cohort must reconstruct exactly."""
    import random

    rng = random.Random(7)
    for trial in range(6):
        n_bs = rng.randint(3, 12)
        n_cols = rng.randint(1, 5)
        ids = [f"SAM{trial}{i:02d}" for i in range(n_bs)] + ["DRS_BAD"]
        cols = {}
        for c in range(n_cols):
            vocab = [f"v{j}" for j in range(rng.randint(1, n_bs))] + ["nan", None]
            cols[f"c{c}"] = [rng.choice(vocab) for _ in ids]
        rows = [tuple([ids[i]] + [cols[f"c{c}"][i] for c in range(n_cols)]) for i in range(len(ids))]
        wide = spark.createDataFrame(rows, ["biosample_id"] + [f"c{c}" for c in range(n_cols)])
        long_df = melt_wide_metadata(wide, f"PRJR{trial}")
        sets, ref = condense_metadata(long_df)
        ref_rows = ref.collect()
        if not ref_rows:
            continue
        n = ref_rows[0]["n"]
        universe = set(ref_rows[0]["biosamples_ref"])

        informative = F.col("value").isNotNull() & (F.col("value") != "nan")
        valid = long_df.filter(F.col("biosample_id").startswith("SAM"))
        nunique = {
            r["attribute"]: r["nu"]
            for r in valid.filter(informative)
            .groupBy("attribute")
            .agg(F.countDistinct("value").alias("nu"))
            .collect()
        }
        expected = {
            (r["attribute"], r["value"]): set(r["cohort"])
            for r in valid.filter(informative)
            .groupBy("attribute", "value")
            .agg(F.collect_set("biosample_id").alias("cohort"))
            .collect()
            if 2 <= len(r["cohort"]) < n and 1 < nunique[r["attribute"]] < n
        }
        reconstructed = {}
        for r in sets.collect():
            true_side = set(r["members"]) if r["include"] else universe - set(r["members"])
            for attr, val in zip(r["attributes"].split("; "), r["values"].split("; ")):
                reconstructed[(attr, val)] = true_side
        assert reconstructed == expected, f"trial {trial}"


def test_small_bioprojects_dropped(spark):
    tiny = spark.createDataFrame(
        [("SAM01", "a"), ("SAM02", "b")], ["biosample_id", "col1"]
    )
    sets, ref = condense_metadata(melt_wide_metadata(tiny, "PRJTINY"))
    assert ref.count() == 0


def test_condense_accounting_statuses(spark):
    """S12 accounting: ok / too_few_biosamples / no_informative_sets /
    blacklisted classification plus dropped-row counts."""
    from mwas_rfam_spark.operators.condense import condense_accounting
    from mwas_rfam_spark.sources.readers import melt_wide_metadata

    rows = []
    # P_OK: 4 valid biosamples, informative attribute + 1 invalid id row
    rows += [(f"SAMA{i}", "x" if i <= 2 else "y") for i in range(1, 5)]
    rows += [("badid1", "x")]
    wide_ok = spark.createDataFrame(rows, ["biosample_id", "t1"])
    # P_FEW: 2 valid biosamples only
    wide_few = spark.createDataFrame(
        [("SAMB1", "x"), ("SAMB2", "y")], ["biosample_id", "t1"]
    )
    # P_CONST: enough biosamples but a constant attribute (no sets)
    wide_const = spark.createDataFrame(
        [(f"SAMC{i}", "same") for i in range(1, 5)], ["biosample_id", "t1"]
    )
    meta = (
        melt_wide_metadata(wide_ok, "P_OK")
        .unionByName(melt_wide_metadata(wide_few, "P_FEW"))
        .unionByName(melt_wide_metadata(wide_const, "P_CONST"))
        .unionByName(melt_wide_metadata(wide_ok, "P_BLACK"))
    )
    from mwas_rfam_spark.operators.condense import condense_metadata

    sets_df, _ = condense_metadata(meta)
    acc = {
        r["bioproject"]: r
        for r in condense_accounting(
            meta, sets_df, blacklist=("P_BLACK", "P_PREFILTERED")
        ).collect()
    }
    assert acc["P_OK"]["status"] == "ok"
    assert acc["P_OK"]["n_biosamples_raw"] == 5
    assert acc["P_OK"]["n_biosamples_valid"] == 4
    assert acc["P_OK"]["n_biosamples_dropped"] == 1
    assert acc["P_OK"]["n_sets"] >= 1
    assert acc["P_FEW"]["status"] == "too_few_biosamples"
    assert acc["P_FEW"]["n_sets"] == 0
    assert acc["P_CONST"]["status"] == "no_informative_sets"
    assert acc["P_BLACK"]["status"] == "blacklisted"
    # a blacklisted project the caller already filtered out of meta_long
    # must still be classified, not silently absent
    assert acc["P_PREFILTERED"]["status"] == "blacklisted"
    assert acc["P_PREFILTERED"]["n_biosamples_raw"] == 0


def test_jdbc_derived_spots(spark):
    """S4 derivation (reference mg:47): a catalog arriving with raw
    sequencing columns instead of spots gets spots = mbases*1e6/avgspotlen;
    a null avgspotlen yields null spots; an existing spots column and a
    frame without the raw columns are left untouched. (Tested over an
    in-memory frame shaped like the post-JDBC-load relation — the
    container has no JDBC driver.)"""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from mwas_rfam_spark.sources.readers import derive_spots_if_missing

    schema = StructType(
        [
            StructField("run", StringType()),
            StructField("mbases", LongType()),
            StructField("avgspotlen", DoubleType()),
        ]
    )
    raw = spark.createDataFrame(
        [("R1", 300, 150.0), ("R2", 10, 200.0), ("R3", 5, None)], schema
    )
    got = {r["run"]: r["spots"] for r in derive_spots_if_missing(raw).collect()}
    assert got == {"R1": 2_000_000, "R2": 50_000, "R3": None}

    has_spots = spark.createDataFrame([("R1", 7, 150.0, 42)], schema.add("spots", LongType()))
    assert derive_spots_if_missing(has_spots).collect()[0]["spots"] == 42

    bare = spark.createDataFrame([("R1",)], ["run"])
    assert "spots" not in derive_spots_if_missing(bare).columns


def test_chunk_documents_windows(spark):
    """Chunk boundaries, overlap, short-doc single chunk, empty-doc zero
    chunks, overlap-only tail suppression, and full-coverage reassembly."""
    import pytest

    from mwas_rfam_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks -> 3 chunks @4/1
            (2, "a b"),                                 # short -> one chunk
            (3, "   "),                                 # empty -> none
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, max_tokens=4, overlap=1)
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_tokens"])
         for r in out.collect())
    )
    d1 = [r for r in rows if r[0] == 1]
    # starts every 3: [t0..t3], [t3..t6], [t6..t9], [t9]-dropped (1 <= overlap)
    assert [r[2] for r in d1] == ["t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9"]
    assert [r[1] for r in d1] == [0, 1, 2] and [r[3] for r in d1] == [4, 4, 4]
    assert [r for r in rows if r[0] == 2] == [(2, 0, "a b", 2)]
    assert not [r for r in rows if r[0] == 3]
    # overlap=0: chunks partition the tokens exactly
    flat = chunk_documents(docs, max_tokens=3, overlap=0)
    d1f = [r["chunk_text"] for r in
           flat.where("doc_id = 1").orderBy("chunk_id").collect()]
    assert " ".join(d1f) == " ".join(f"t{i}" for i in range(10))
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=0)
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=4, overlap=4)


def test_chunk_documents_invariants_grid(spark):
    """Across a (max_tokens, overlap) grid: chunks cover every token
    exactly once after removing the overlap prefix of non-first chunks,
    every non-final chunk is full, and chunk_ids are dense."""
    from mwas_rfam_spark.operators.packing import chunk_documents

    text = " ".join(f"w{i}" for i in range(23))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    for max_tokens, overlap in [(4, 0), (4, 1), (5, 2), (7, 6), (23, 0), (30, 5)]:
        rows = sorted(
            (r["chunk_id"], r["chunk_text"].split(), r["n_tokens"])
            for r in chunk_documents(docs, max_tokens, overlap).collect()
        )
        assert [r[0] for r in rows] == list(range(len(rows)))
        rebuilt = list(rows[0][1])
        for _, toks, _ in rows[1:]:
            assert toks[:overlap] == rebuilt[-overlap:] if overlap else True
            rebuilt.extend(toks[overlap:])
        assert rebuilt == text.split(), (max_tokens, overlap)
        for _, toks, ntok in rows[:-1]:
            assert len(toks) == ntok == max_tokens


def test_duplicate_attribute_names_prune_independently(spark):
    """r12 review finding (execution-confirmed): a COLUMN is
    (attribute, attr_pos). An informative column next to a same-named
    key-like column used to merge their nunique window counts (2+n)
    and wrongly fail the key-like test, returning zero sets."""
    rows = [
        # attr 'tissue' at pos 0: informative {x:3, y:2}
        (f"SAM{i}", "PDUP", "tissue", 0, "x" if i <= 3 else "y")
        for i in range(1, 6)
    ] + [
        # attr 'tissue' AGAIN at pos 1: key-like, 5 unique values
        (f"SAM{i}", "PDUP", "tissue", 1, f"u{i}")
        for i in range(1, 6)
    ]
    meta = spark.createDataFrame(
        rows, ["biosample_id", "bioproject", "attribute", "attr_pos", "value"]
    )
    sets_df, _ = condense_metadata(meta)
    got = sets_df.collect()
    # the informative column's two factors → two sets (complementary
    # cohorts key differently, as in the reference's boolean-vector
    # dedup); the key-like twin contributes none. Pre-fix this was
    # ZERO sets (merged window count 2+5=7 failed nunique < n).
    assert len(got) == 2
    assert {r["attributes"] for r in got} == {"tissue"}
    assert {r["values"] for r in got} == {"x", "y"}


def test_pandas_na_tokens_treated_as_missing(spark):
    """r12 review finding: the reference reads metadata through pandas,
    so 'NA'/'N/A'/'NaN'/'None'/... parse to NaN and never form factor
    cohorts nor count toward nunique. A column ['NA','NA','x','y','z']
    over n=5 must emit no sets (all real factors are singletons)."""
    vals = ["NA", "NA", "x", "y", "z"]
    rows = [
        (f"SAM{i}", "PNA", "col", 0, v) for i, v in enumerate(vals, 1)
    ] + [
        # second informative column so the bioproject itself is viable
        (f"SAM{i}", "PNA", "t", 1, "a" if i <= 3 else "b")
        for i in range(1, 6)
    ]
    meta = spark.createDataFrame(
        rows, ["biosample_id", "bioproject", "attribute", "attr_pos", "value"]
    )
    sets_df, _ = condense_metadata(meta)
    got = sets_df.collect()
    # only the 't' split's two sets; no 'NA' cohort set from 'col'
    assert len(got) == 2
    assert {r["attributes"] for r in got} == {"t"}


def test_blacklist_duplicates_one_accounting_row(spark):
    """r12 review finding: the repeatable --blacklist flag can name the
    same absent project twice; the accounting must still emit exactly
    one 'blacklisted' row for it."""
    from mwas_rfam_spark.operators.condense import condense_accounting

    wide = spark.createDataFrame(
        [(f"SAMZ{i}", "x" if i <= 2 else "y") for i in range(1, 5)],
        ["biosample_id", "t1"],
    )
    meta = melt_wide_metadata(wide, "P_OK2")
    sets_df, _ = condense_metadata(meta)
    acc = condense_accounting(
        meta, sets_df, blacklist=("P_TWICE", "P_TWICE")
    ).collect()
    twice = [r for r in acc if r["bioproject"] == "P_TWICE"]
    assert len(twice) == 1
    assert twice[0]["status"] == "blacklisted"
