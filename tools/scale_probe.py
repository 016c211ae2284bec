"""Measured scale probes behind SCALE.md's tables (regenerable).

Usage: python tools/scale_probe.py [sf_dir] [probe]
       python tools/scale_probe.py [probe]
(sf_dir defaults to /root/testdata/sf0.1; a lone non-directory argument
is treated as a probe selector, not a data dir)

Probe A — clone-heavy dedup, the adversarial shape for set-similarity
joins: each sf0.1 document replicated 10× under distinct ids with
IDENTICAL text (exact clones), so the true near-dup pair count is
quadratic in clone mass. Measures exact dedup, MinHash LSH, exact
n-gram Jaccard, and the composed pipeline at 1× and 10×.

Probe B — MWAS at 10× input: events/orders/customer replicated 10× with
key offsets (10× input rows, 10× catalog runs, 10× biosamples per
bioproject), full permutation config.

Prints one JSON line with all wall times (single-shot each, run on a
quiet box; these are trend probes, not benchmarks).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import _force, _warmup
from mwas_rfam_spark.session import get_spark


def replicate_docs(docs, times: int):
    n = times
    copies = docs.crossJoin(
        docs.sparkSession.range(n).select(F.col("id").alias("_copy"))
    )
    return copies.select(
        (F.col("doc_id") * n + F.col("_copy")).alias("doc_id"),
        "text",
    )


def grow_emb(src, times: int):
    """DIVERSE embedding replication (ONE definition — this expression
    used to be inlined per probe and could silently diverge): the
    perturbation direction depends on the copy index AND the element
    index (decorrelated sinusoids), so copies are far from their base
    and from each other — a constant-direction shift would instead make
    each family a dense near-dup cluster and turn structural-cost
    trends into CC corner measurements."""
    if times == 1:
        return src
    return src.crossJoin(
        src.sparkSession.range(times).select(F.col("id").alias("_c"))
    ).select(
        (F.col("vec_id") * times + F.col("_c")).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            + F.sin((F.col("_c") + F.lit(1)).cast("double") * (i + F.lit(1))),
        ).alias("embedding"),
    )


def grow_docs(src, times: int, source_mod: int):
    """Docs replication with a rotated source label (for the selection
    probes: source cardinality grows with source_mod, text repeats)."""
    return src.crossJoin(
        src.sparkSession.range(times).select(F.col("id").alias("_c"))
    ).select(
        (F.col("doc_id") * times + F.col("_c")).alias("doc_id"),
        "text",
        F.concat(
            F.col("source"), F.lit("_"), (F.col("_c") % source_mod).cast("string")
        ).alias("source"),
    )


def strided_queries(e, n: int):
    """n query vectors STRIDED across the sorted corpus. Head-of-sorted-
    ids picks on a replicated corpus (vec_id = base*times + copy) are a
    degenerate query set — the first n ids are n perturbations of ONE
    base vector (the r9o probe documented this) — so stride the picks
    for independent draws."""
    ids = [r["vec_id"] for r in e.select("vec_id").orderBy("vec_id").collect()]
    picks = ids[:: max(1, len(ids) // n)][:n]
    return e.where(F.col("vec_id").isin(picks))


def probe_dedup(spark, sf_dir: str, out: dict):
    from mwas_rfam_spark.operators.dedup import (
        dedup_pipeline_pairs,
        exact_dedup_groups,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from mwas_rfam_spark.plans.testdata_mwas import load

    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    for label, docs in [("1x", base), ("10x_clones", replicate_docs(base, 10))]:
        docs = docs.localCheckpoint()  # measure the operators, not the clone join
        for op, fn in [
            ("exact", lambda d=docs: exact_dedup_groups(d)),
            ("minhash_lsh", lambda d=docs: minhash_lsh_pairs(d)),
            # max_df=None: this probe documents the EXACT all-pairs
            # worst case; the auto guard is probed separately below
            ("ngram_jaccard", lambda d=docs: ngram_jaccard_pairs(d, max_df=None)),
            ("ngram_jaccard_auto", lambda d=docs: ngram_jaccard_pairs(d)),
            ("pipeline", lambda d=docs: dedup_pipeline_pairs(d)),
        ]:
            t0 = time.time()
            _force(fn())
            out[f"dedup_{op}_{label}"] = round(time.time() - t0, 2)
            spark.catalog.clearCache()
            print(f"dedup_{op}_{label}: {out[f'dedup_{op}_{label}']}", file=sys.stderr)


def probe_mwas(spark, sf_dir: str, out: dict):
    from mwas_rfam_spark import pinning
    from mwas_rfam_spark.config import MwasConfig
    from mwas_rfam_spark.operators.condense import condense_metadata
    from mwas_rfam_spark.operators.mwas import run_mwas
    from mwas_rfam_spark.plans.testdata_mwas import (
        mwas_catalog_from_orders,
        mwas_input_from_events,
        mwas_metadata_long_from_customer,
    )

    def rep(df, key_cols: dict[str, str], times: int):
        """Replicate with per-copy key offsets: key := key || '_' || copy."""
        copies = df.crossJoin(
            spark.range(times).select(F.col("id").cast("string").alias("_copy"))
        )
        cols = [
            (
                F.when(F.col("_copy") == "0", F.col(c))
                .otherwise(F.concat(F.col(c), F.lit("_"), F.col("_copy")))
                .alias(c)
                if c in key_cols
                else F.col(c)
            )
            for c in df.columns
        ]
        return copies.select(*cols)

    cfg = MwasConfig(permutation_resamples=10_000)
    for label, times in [("1x", 1), ("10x", 10)]:
        inp = mwas_input_from_events(spark, sf_dir)
        cat = mwas_catalog_from_orders(spark, sf_dir)
        meta = mwas_metadata_long_from_customer(spark, sf_dir)
        if times > 1:
            # distinct runs + biosamples per copy (10× catalog and input
            # mass; biosamples-per-bioproject grows 10×, the kernel's n)
            inp = rep(inp, {"run"}, times)
            cat = rep(cat, {"run", "bio_sample"}, times)
            meta = rep(meta, {"biosample_id"}, times)
        sets_df, ref_df = condense_metadata(meta)
        t0 = time.time()
        with pinning.scope(keep_lineage=not cfg.use_local_checkpoint):
            _force(run_mwas(inp, cat, sets_df, ref_df, cfg))
            out[f"mwas_full_{label}"] = round(time.time() - t0, 2)
        spark.catalog.clearCache()
        print(f"mwas_full_{label}: {out[f'mwas_full_{label}']}", file=sys.stderr)


def probe_curation(spark, sf_dir: str, out: dict):
    """Probe C — decontamination + composed curation at 1x and 10x
    distinct-id replication (unlike the clone probe, ids are distinct AND
    texts repeat 10x, so the dedup stage absorbs 90% of the mass before
    the decontam shingle explode — the composition's scale claim)."""
    from pyspark.sql import functions as F

    from mwas_rfam_spark.operators.curation import curate_corpus
    from mwas_rfam_spark.operators.text import decontaminate
    from mwas_rfam_spark.plans.testdata_mwas import load

    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    for label, docs in [("1x", base), ("10x", replicate_docs(base, 10))]:
        docs = docs.localCheckpoint()
        train = docs.where(F.col("doc_id") % 97 != 0)
        bench = docs.where(F.col("doc_id") % 97 == 0)
        t0 = time.time()
        _force(decontaminate(train, bench, n=5, threshold=0.2))
        out[f"decontam_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(curate_corpus(train, bench, min_tokens=5, decontam_n=5,
                             decontam_threshold=0.2, n_shards=8, seed=42))
        out[f"curation_{label}"] = round(time.time() - t0, 2)
        spark.catalog.clearCache()
        print(f"decontam_{label}: {out[f'decontam_{label}']} "
              f"curation_{label}: {out[f'curation_{label}']}", file=sys.stderr)


def probe_r4_ops(spark, sf_dir: str, out: dict):
    """Probe D (r4) — line dedup, semantic dedup, sessionization at 1x
    and 10x. Replication keeps per-entity structure honest: line_dedup
    replicates documents with DISTINCT ids (repeated-line mass grows
    10x, the worst case for the line-key shuffle); sessionize replicates
    events under 10x distinct user ids (sessions per key constant, keys
    10x — the layout a bigger corpus actually has); semantic dedup
    replicates vectors with jitter-free distinct ids (cells grow 10x,
    the within-cell quadratic's stress)."""
    from mwas_rfam_spark.operators.dedup import line_dedup, semantic_dedup
    from mwas_rfam_spark.operators.interval import session_summaries
    from mwas_rfam_spark.operators.similarity import train_ivf_centroids
    from mwas_rfam_spark.plans.testdata_mwas import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    for label, d in [("1x", docs), ("10x", replicate_docs(docs, 10))]:
        d = d.localCheckpoint()
        t0 = time.time()
        _force(line_dedup(d))
        out[f"line_dedup_{label}"] = round(time.time() - t0, 2)

    emb = load(spark, sf_dir, "embeddings")
    # replicate as vec_id + _c*OFFSET so the ORIGINAL vectors keep the
    # lowest ids: the Lloyd trainer seeds from the k lowest-id vectors,
    # and vec_id*10+_c style replication would make those k seeds
    # identical copies of vector 0 — a degenerate one-cell quantizer
    # that invalidates the 1x-vs-10x comparison
    emb10 = emb.crossJoin(
        spark.range(10).select(F.col("id").alias("_c"))
    ).select(
        (F.col("vec_id") + F.col("_c") * F.lit(10_000_000)).alias("vec_id"),
        "embedding",
        "label",
    )
    # fixed k at 10x shows the anti-pattern (cells grow 10x); scaled k
    # (8 -> 80, SemDeDup's own configuration: cluster count tracks
    # corpus size) keeps cell size constant — both rows in SCALE.md
    for label, e, k in [("1x", emb, 8), ("10x", emb10, 8), ("10x_k80", emb10, 80)]:
        e = e.localCheckpoint()
        cents = train_ivf_centroids(e, k=k, iters=1)
        t0 = time.time()
        _force(semantic_dedup(e, k_cells=k, threshold=0.4, centroids=cents))
        out[f"semantic_dedup_{label}"] = round(time.time() - t0, 2)

    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    ev10 = ev.crossJoin(spark.range(10).select(F.col("id").alias("_c"))).select(
        (F.col("user_id") * 10 + F.col("_c")).alias("user_id"), "ts"
    )
    for label, e in [("1x", ev), ("10x", ev10)]:
        e = e.localCheckpoint()
        t0 = time.time()
        _force(session_summaries(e, gap=30 * 60 * 1_000_000_000))
        out[f"sessionize_{label}"] = round(time.time() - t0, 2)

    spark.catalog.clearCache()
    # prefix filter like every other probe: the old substring match
    # ('_1x' in k) reprinted OTHER probes' keys under this block in a
    # full run (dedup_exact_1x, mwas_full_10x, ...)
    print({k: v for k, v in out.items()
           if k.startswith(("decontam_", "curation_", "line_dedup_",
                            "semantic_dedup_", "sessionize_"))},
          file=sys.stderr)


def probe_r4b_ops(spark, sf_dir: str, out: dict):
    """Probe E (r4, second wave) — PQ search, Bloom-prefiltered
    incremental dedup, and HLL cardinality at 1x and 10x.

    PQ replicates vectors under distinct ids (the codes scan and the
    ADC rank grow 10x; codebooks are trained once on the base vectors —
    at real scale training is a bounded-sample build step). Bloom
    builds state over 1x vs 10x DISTINCT hashes (suffix-perturbed text)
    and then dedups the same fresh batch against each — the metric that
    matters is probe cost vs state size. HLL tokenizes 1x vs 10x
    document mass (distinct keys constant — exactly where countDistinct
    keeps paying shuffle for nothing and the sketch doesn't)."""
    from mwas_rfam_spark.operators.bloom import (
        bloom_build,
        incremental_exact_dedup_bloom,
    )
    from mwas_rfam_spark.operators.dedup import normalize_text
    from mwas_rfam_spark.operators.quantization import (
        pq_encode,
        pq_topk_refined,
        train_pq_codebooks,
    )
    from mwas_rfam_spark.operators.summary import (
        cardinality_from_states,
        cardinality_sketch_state,
        grouped_cardinality,
    )
    from mwas_rfam_spark.plans.testdata_mwas import load

    emb = load(spark, sf_dir, "embeddings")
    emb10 = emb.crossJoin(
        spark.range(10).select(F.col("id").alias("_c"))
    ).select(
        (F.col("vec_id") + F.col("_c") * F.lit(10_000_000)).alias("vec_id"),
        "embedding",
    )
    books = train_pq_codebooks(emb, m=8, k=32, iters=5, sample_size=512)
    qvec = [
        float(x)
        for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    ]
    for label, e in [("1x", emb.select("vec_id", "embedding")), ("10x", emb10)]:
        e = e.localCheckpoint()
        t0 = time.time()
        codes = pq_encode(e, books).localCheckpoint()
        out[f"pq_encode_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(pq_topk_refined(codes, e, qvec, books, k=10, rerank=200))
        out[f"pq_search_{label}"] = round(time.time() - t0, 2)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # distinct-text replication: 10x state rows, not 10x clones
    docs10 = docs.crossJoin(
        spark.range(10).select(F.col("id").alias("_c"))
    ).select(
        (F.col("doc_id") * 10 + F.col("_c")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v"), F.col("_c")).alias("text"),
    )
    fresh = docs.select(
        (F.col("doc_id") + 99_000_000).alias("doc_id"),
        F.concat(F.lit("fresh "), F.col("text")).alias("text"),
    ).localCheckpoint()
    for label, d in [("1x", docs), ("10x", docs10)]:
        state = (
            d.select(F.md5(normalize_text(F.col("text"))).alias("content_hash"))
            .distinct()
            .localCheckpoint()
        )
        t0 = time.time()
        bf = bloom_build(state, fpp=0.01)
        out[f"bloom_build_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        surv, _, _ = incremental_exact_dedup_bloom(fresh, state, bf)
        _force(surv)
        out[f"bloom_dedup_{label}"] = round(time.time() - t0, 2)

    for label, d in [("1x", docs), ("10x", docs10)]:
        toks = d.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
        ).where(F.col("tok") != "").localCheckpoint()
        t0 = time.time()
        _force(cardinality_from_states(cardinality_sketch_state(toks, "tok")))
        out[f"hll_tokens_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(grouped_cardinality(toks, "tok", exact=True))
        out[f"exact_tokens_{label}"] = round(time.time() - t0, 2)

    spark.catalog.clearCache()
    print({k: v for k, v in out.items() if k.startswith(("pq_", "bloom_", "hll_", "exact_"))},
          file=sys.stderr)


def probe_r4c_ops(spark, sf_dir: str, out: dict):
    """Probe F (r4, third wave) — DSIR importance resampling, duplicate-
    span detection/removal, and Misra-Gries heavy hitters at 1x and 10x
    document mass.

    DSIR replicates the raw side with suffix-perturbed text (distinct
    docs; the bucket relations stay parameter-sized — the probe shows
    the cost is the two featurization passes, both linear). dup_spans
    replicates VERBATIM (clones), the adversarial shape: every span's
    occurrence count inflates 10x but the span-keyed aggregation stays
    linear — the quadratic blowup an all-pairs formulation would hit is
    structurally absent. Heavy hitters tokenize the same masses with a
    support chosen so candidates stay ~1/support per partition."""
    from mwas_rfam_spark.operators.dedup import duplicate_spans, strip_duplicate_spans
    from mwas_rfam_spark.operators.selection import importance_resample
    from mwas_rfam_spark.operators.summary import heavy_hitters
    from mwas_rfam_spark.plans.testdata_mwas import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tgt = docs.where(F.col("doc_id") % 7 == 0).localCheckpoint()
    raw1 = docs.where(F.col("doc_id") % 7 != 0)
    raw10 = raw1.crossJoin(
        spark.range(10).select(F.col("id").alias("_c"))
    ).select(
        (F.col("doc_id") * 10 + F.col("_c")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v"), F.col("_c")).alias("text"),
    )
    clones10 = docs.crossJoin(
        spark.range(10).select(F.col("id").alias("_c"))
    ).select((F.col("doc_id") * 10 + F.col("_c")).alias("doc_id"), "text")

    for label, raw in [("1x", raw1), ("10x", raw10)]:
        raw = raw.localCheckpoint()
        t0 = time.time()
        _force(importance_resample(raw, tgt, k=200, seed=42))
        out[f"dsir_select_{label}"] = round(time.time() - t0, 2)

    for label, d in [("1x", docs), ("10x_clones", clones10)]:
        d = d.localCheckpoint()
        t0 = time.time()
        _force(duplicate_spans(d, n=5, min_occurrences=2))
        out[f"dup_spans_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(strip_duplicate_spans(d, n=5, min_occurrences=2))
        out[f"strip_spans_{label}"] = round(time.time() - t0, 2)

    for label, d in [("1x", docs), ("10x", clones10)]:
        toks = d.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
        ).where(F.col("tok") != "").localCheckpoint()
        t0 = time.time()
        _force(heavy_hitters(toks, "tok", support=0.001))
        out[f"heavy_hitters_{label}"] = round(time.time() - t0, 2)

    spark.catalog.clearCache()
    print({k: v for k, v in out.items()
           if k.startswith(("dsir_", "dup_spans", "strip_", "heavy_"))},
          file=sys.stderr)


def probe_r5_ops(spark, sf_dir: str, out: dict):
    """Probe G (r5) — the round-5 additions at 1x and 10x.

    BM25 replicates the corpus with suffix-perturbed text (real growth):
    cost is the one filtered token scan, linear. Incremental embedding
    dedup replicates the STATE 10x (distinct-id vector perturbations) at
    a fixed batch — the point of the cell-blocked probe is that batch
    cost tracks the batch's own cells, not corpus history. The CC
    cutover is probed on both sides of the threshold: the same 20k-edge
    graph through the local union-find and the distributed loop."""
    from mwas_rfam_spark.operators.dedup import (
        dedup_clusters,
        embedding_dedup_state,
        incremental_embedding_dedup,
    )
    from mwas_rfam_spark.operators.retrieval import bm25_topk
    from mwas_rfam_spark.operators.similarity import train_ivf_centroids
    from mwas_rfam_spark.plans.testdata_mwas import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs10 = docs.crossJoin(
        spark.range(10).select(F.col("id").alias("_c"))
    ).select(
        (F.col("doc_id") * 10 + F.col("_c")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v"), F.col("_c")).alias("text"),
    )
    for label, d in [("1x", docs), ("10x", docs10)]:
        d = d.localCheckpoint()
        t0 = time.time()
        _force(bm25_topk(d, ["the", "data", "pipeline"], k=15))
        out[f"bm25_{label}"] = round(time.time() - t0, 2)

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = train_ivf_centroids(emb, k=8, iters=1)
    batch = emb.where(F.col("vec_id") % 10 == 0).localCheckpoint()
    hist1 = emb.where(F.col("vec_id") % 10 != 0)
    hist10 = hist1.crossJoin(
        spark.range(10).select(F.col("id").alias("_c"))
    ).select(
        (F.col("vec_id") * 10 + F.col("_c")).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + (F.col("_c").cast("double") / 1000.0)
        ).alias("embedding"),
    )
    for label, hist in [("1x", hist1), ("10x_state", hist10)]:
        state = embedding_dedup_state(hist, cents).localCheckpoint()
        t0 = time.time()
        surv, _ = incremental_embedding_dedup(batch, state, cents, threshold=0.9)
        _force(surv)
        out[f"inc_embedding_{label}"] = round(time.time() - t0, 2)

    # Probe G' (r6): same rows under the PRODUCTION quantizer policy —
    # auto-k at a constant cell target, derived at (re-)index time from
    # the state corpus (train_dedup_quantizer). Fixed k=8 above lets
    # cells grow 10x with the state; auto-k holds per-cell products
    # ~constant, so the per-batch probe cost should stay ~flat.
    from mwas_rfam_spark.operators.dedup import train_dedup_quantizer

    for label, hist in [("1x", hist1), ("10x_state", hist10)]:
        auto_cents = train_dedup_quantizer(hist, cell_target=128, iters=1)
        state = embedding_dedup_state(hist, auto_cents).localCheckpoint()
        out[f"inc_embedding_cells_{label}"] = len(auto_cents)
        t0 = time.time()
        surv, _ = incremental_embedding_dedup(
            batch, state, auto_cents, threshold=0.9
        )
        _force(surv)
        out[f"inc_embedding_autok_{label}"] = round(time.time() - t0, 2)

    # CC cutover crossover: identical chain-of-stars graph both ways
    edges = spark.range(20_000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).localCheckpoint()
    t0 = time.time()
    _force(dedup_clusters(edges))
    out["cc_local_20k_edges"] = round(time.time() - t0, 2)
    t0 = time.time()
    _force(dedup_clusters(edges, local_threshold_edges=None))
    out["cc_distributed_20k_edges"] = round(time.time() - t0, 2)

    spark.catalog.clearCache()
    print({k: v for k, v in out.items()
           if k.startswith(("bm25_", "inc_embedding", "cc_"))},
          file=sys.stderr)


def probe_r5b_ops(spark, sf_dir: str, out: dict):
    """Probe H (r5 session 2) — fuzzy edit-distance join, drift
    detectors, BPE encode at 1x and 10x.

    Fuzzy grows DISTINCT strings (prefix-perturbed clones): candidate
    volume then tracks segment-bucket collisions, linear-ish. A
    clone-grown corpus is instead OUTPUT-bound (10 identical prefixes =
    45 true pairs each) — same inherent wall every exact all-pairs
    lister has (see the ngram_jaccard analysis); the composed pipeline
    (exact-collapse first) is the documented mitigation there too.
    Drift replicates events with value jitter (distinct values grow);
    BPE re-encodes a suffix-perturbed corpus (cache hit rate holds
    because the word population barely grows)."""
    from mwas_rfam_spark.operators.drift import drift_report
    from mwas_rfam_spark.operators.fuzzy import edit_distance_pairs
    from mwas_rfam_spark.operators.tokenize import bpe_encode, train_bpe_merges
    from mwas_rfam_spark.plans.testdata_mwas import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    prefixed = docs.select(
        "doc_id", F.substring("text", 1, 15).alias("text")
    )
    prefixed10 = docs.crossJoin(
        spark.range(10).select(F.col("id").alias("_c"))
    ).select(
        (F.col("doc_id") * 10 + F.col("_c")).alias("doc_id"),
        F.substring(
            F.concat(F.col("_c").cast("string"), F.lit("~"), F.col("text")), 1, 15
        ).alias("text"),
    )
    for label, d in [("1x", prefixed), ("10x", prefixed10)]:
        d = d.localCheckpoint()
        t0 = time.time()
        _force(edit_distance_pairs(d, max_dist=2))
        out[f"fuzzy_editdist_{label}"] = round(time.time() - t0, 2)

    events = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # one tiny untimed pass: the first drift plan in a process pays
    # codegen + window-exec warmup that would otherwise land on the 1x
    # row (observed: 1x slower than 10x without this)
    tiny = events.limit(200).localCheckpoint()
    _force(
        drift_report(tiny, tiny, numeric_cols=["value"], categorical_cols=["event_type"])
    )
    events10 = events.crossJoin(
        spark.range(10).select(F.col("id").alias("_c"))
    ).select(
        (F.col("event_id") * 10 + F.col("_c")).alias("event_id"),
        "event_type",
        (F.col("value") + F.col("_c").cast("double") / 977.0).alias("value"),
    )
    for label, e in [("1x", events), ("10x", events10)]:
        e = e.localCheckpoint()
        t0 = time.time()
        _force(
            drift_report(
                e.where(F.col("event_id") % 2 == 0),
                e.where(F.col("event_id") % 2 == 1),
                numeric_cols=["value"],
                categorical_cols=["event_type"],
            )
        )
        out[f"drift_{label}"] = round(time.time() - t0, 2)

    docs10 = docs.crossJoin(
        spark.range(10).select(F.col("id").alias("_c"))
    ).select(
        (F.col("doc_id") * 10 + F.col("_c")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v"), F.col("_c")).alias("text"),
    )
    # pass the DataFrame straight through — bpe_encode's _merge_list
    # sorts by rank (collect() row order is not a contract)
    merges = train_bpe_merges(docs, num_merges=256, sample_docs=300).localCheckpoint()
    for label, d in [("1x", docs), ("10x", docs10)]:
        d = d.localCheckpoint()
        t0 = time.time()
        _force(bpe_encode(d, merges, emit_tokens=False))
        out[f"bpe_encode_{label}"] = round(time.time() - t0, 2)

    payloads = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    payloads10 = docs10.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    from mwas_rfam_spark.operators.multimodal import (
        binary_dedup_stats,
        cdc_chunk_payloads,
    )

    for label, p in [("1x", payloads), ("10x", payloads10)]:
        p = p.localCheckpoint()
        t0 = time.time()
        _force(binary_dedup_stats(cdc_chunk_payloads(p, avg_size=256)))
        out[f"cdc_dedup_{label}"] = round(time.time() - t0, 2)

    spark.catalog.clearCache()
    print({k: v for k, v in out.items()
           if k.startswith(("fuzzy_", "drift_", "bpe_", "cdc_"))},
          file=sys.stderr)


def probe_i100(spark, sf_dir: str, out: dict):
    """Probe I (r6) — 100x evidence for the superlinear-corner families
    (r5 verdict task #2). Probes A-H are uniformly 10x; the brief
    grades plans at 100x, and two families have a documented corner:
    the embedding-dedup cell products and the exact listers' candidate/
    output growth. Each family gets:

    * DIVERSE growth at 1x/10x/100x — copies made genuinely distinct
      (vector perturbations / md5-synthesized text), so the row
      measures the STRUCTURAL cost trend (index + shuffle + candidate
      generation) with the corner not triggered. This is the shape a
      real 100 TB corpus has after exact-collapse.
    * the CORNER at 10x/100x on a smaller base where the family has
      one — near-clone copies whose pair structure is genuinely
      quadratic — so the wall's slope is measured, not argued. The
      mitigation (exact-collapse-first / max_df guard / auto-k) is the
      documented answer; the corner rows exist to show what it costs
      to ignore it.

    Embedding families run the PRODUCTION auto-k policy
    (train_dedup_quantizer at cell_target=128): at 100x (200k vectors)
    k crosses IVF_ASSIGN_CODEGEN_MAX_CELLS and assignment switches to
    the Arrow GEMM kernel — the 1x/10x rows stay on the expression
    path; both are parity-pinned in tests. Quantizer training is
    untimed (build-vs-probe split: it happens at index time)."""
    from mwas_rfam_spark.operators.dedup import (
        embedding_dedup_state,
        incremental_embedding_dedup,
        ngram_containment_pairs,
        semantic_dedup,
        train_dedup_quantizer,
    )
    from mwas_rfam_spark.operators.fuzzy import edit_distance_pairs
    from mwas_rfam_spark.plans.testdata_mwas import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # (growth scheme hoisted to module-level grow_emb — see its docstring
    # for the decorrelated-sinusoid rationale)

    # ---- semantic dedup, auto-k, 1x/10x/100x --------------------------
    for label, times in [("1x", 1), ("10x", 10), ("100x", 100)]:
        e = grow_emb(emb, times).localCheckpoint()
        cents = train_dedup_quantizer(e, cell_target=128, iters=1)
        out[f"semantic_autok_cells_{label}"] = len(cents)
        t0 = time.time()
        _force(semantic_dedup(e, k_cells=len(cents), threshold=0.4, centroids=cents))
        out[f"semantic_autok_{label}"] = round(time.time() - t0, 2)

    # ---- incremental embedding dedup: fixed batch, state 1x/10x/100x --
    batch = emb.where(F.col("vec_id") % 10 == 0).localCheckpoint()
    hist = emb.where(F.col("vec_id") % 10 != 0)
    for label, times in [("1x", 1), ("10x", 10), ("100x", 100)]:
        h = grow_emb(hist, times).localCheckpoint()
        cents = train_dedup_quantizer(h, cell_target=128, iters=1)
        state = embedding_dedup_state(h, cents).localCheckpoint()
        out[f"inc_embedding_autok_cells_{label}"] = len(cents)
        t0 = time.time()
        surv, _ = incremental_embedding_dedup(batch, state, cents, threshold=0.9)
        _force(surv)
        out[f"inc_embedding_autok_{label}"] = round(time.time() - t0, 2)

    # ---- exact listers, DIVERSE growth: md5-synthesized text ----------
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def synth_docs(times, words):
        base = docs.crossJoin(
            spark.range(times).select(F.col("id").alias("_c"))
        ).select((F.col("doc_id") * times + F.col("_c")).alias("doc_id"))
        return base.select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(words)),
                    lambda i: F.substring(
                        F.md5(F.concat_ws(":", F.lit("i100"), "doc_id", i)), 1, 8
                    ),
                ),
                " ",
            ).alias("text"),
        )

    for label, times in [("1x", 1), ("10x", 10), ("100x", 100)]:
        d15 = synth_docs(times, 2).select(
            "doc_id", F.substring("text", 1, 15).alias("text")
        ).localCheckpoint()
        t0 = time.time()
        _force(edit_distance_pairs(d15, max_dist=2))
        out[f"fuzzy_diverse_{label}"] = round(time.time() - t0, 2)

        d120 = synth_docs(times, 20).select(
            "doc_id", F.substring("text", 1, 120).alias("text")
        ).localCheckpoint()
        t0 = time.time()
        _force(ngram_containment_pairs(d120, n=3, threshold=0.7, max_df=None))
        out[f"containment_diverse_{label}"] = round(time.time() - t0, 2)

    # ---- exact listers, the CORNER: near-clone copies, 500-doc base ---
    # copies of one doc differ only in a short tag, so every same-doc
    # copy pair is a TRUE pair: output (and verify volume) is
    # base_docs * C(copies, 2) — quadratic in clone mass BY
    # CONSTRUCTION. 10x -> 100x multiplies pair count ~110x; the row
    # exists to measure that slope and what the max_df/auto guard does.
    base = load(spark, sf_dir, "documents").select("doc_id", "text").where(
        F.col("doc_id") % 10 == 0
    )
    for label, times in [("10x", 10), ("100x", 100)]:
        clones = base.crossJoin(
            spark.range(times).select(F.col("id").alias("_c"))
        ).select(
            (F.col("doc_id") * times + F.col("_c")).alias("doc_id"),
            # tag INSIDE the 120-char window, small edit: copies stay
            # above the containment threshold and within small-ed reach
            F.concat(
                F.lpad(F.col("_c").cast("string"), 3, "0"), F.lit("~"), F.col("text")
            ).alias("text"),
        ).localCheckpoint()
        t0 = time.time()
        _force(
            ngram_containment_pairs(
                clones.select("doc_id", F.substring("text", 1, 120).alias("text")),
                n=3, threshold=0.7, max_df=None,
            )
        )
        out[f"containment_corner_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(
            ngram_containment_pairs(
                clones.select("doc_id", F.substring("text", 1, 120).alias("text")),
                n=3, threshold=0.7, max_df="auto",
            )
        )
        out[f"containment_corner_autodf_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(
            edit_distance_pairs(
                clones.select("doc_id", F.substring("text", 1, 15).alias("text")),
                max_dist=2,
            )
        )
        out[f"fuzzy_corner_{label}"] = round(time.time() - t0, 2)

    spark.catalog.clearCache()
    print({k: v for k, v in out.items()
           if k.startswith(("semantic_autok", "inc_embedding_autok",
                            "fuzzy_", "containment_"))},
          file=sys.stderr)


def probe_r6_ops(spark, sf_dir: str, out: dict):
    """Probe J (r6) — the round-6 additions at 1x and 10x.

    PCA: fit is the one-pass Gram (linear, d² state per partition);
    projection is map-only. SQ8: encode + folded-query top-k are one
    scan each. Bin packing: one hash shuffle + per-bucket O(n log n)
    greedy — buckets scale with the corpus (n_buckets 10x'd with the
    data, the documented policy), so per-bucket state stays constant."""
    from mwas_rfam_spark.operators.decomposition import fit_pca, pca_project
    from mwas_rfam_spark.operators.packing import bin_pack_documents
    from mwas_rfam_spark.operators.quantization import (
        sq_encode,
        sq_topk,
        train_sq_params,
    )
    from mwas_rfam_spark.plans.testdata_mwas import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    emb10 = grow_emb(emb, 10)
    for label, e in [("1x", emb), ("10x", emb10)]:
        e = e.localCheckpoint()
        model = fit_pca(e, k=16)  # timed separately: build cost
        t0 = time.time()
        model = fit_pca(e, k=16)
        out[f"pca_fit_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(pca_project(e, model))
        out[f"pca_project_{label}"] = round(time.time() - t0, 2)

        params = train_sq_params(e)
        q = [float(x) for x in e.orderBy("vec_id").first()["embedding"]]
        t0 = time.time()
        _force(sq_topk(sq_encode(e, params), q, params, k=10))
        out[f"sq8_encode_topk_{label}"] = round(time.time() - t0, 2)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs10 = docs.crossJoin(
        spark.range(10).select(F.col("id").alias("_c"))
    ).select(
        (F.col("doc_id") * 10 + F.col("_c")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v"), F.col("_c")).alias("text"),
    )
    for label, d, buckets in [("1x", docs, 64), ("10x", docs10, 640)]:
        d = d.localCheckpoint()
        t0 = time.time()
        _force(bin_pack_documents(d, max_tokens_per_pack=2048, n_buckets=buckets))
        out[f"binpack_{label}"] = round(time.time() - t0, 2)

    spark.catalog.clearCache()
    print({k: v for k, v in out.items()
           if k.startswith(("pca_", "sq8_", "binpack_"))},
          file=sys.stderr)


def probe_r6b_ops(spark, sf_dir: str, out: dict):
    """Probe K (r6 wave 2) — materialized IVF-PQ, temperature mixing,
    the dedup approximation report, and the streaming-dedup state probe
    at 1x and 10x.

    IVF-PQ: cells scale ~sqrt(N) (the faiss rule), so probed-cell bytes
    per query stay ~flat; build is one assignment+encode pass (linear).
    temperature_mix: one count agg + one per-group bottom-k (the rem
    fraction is small, so the prefilter discards most rows map-side).
    approx report: sample-bounded BY DESIGN — flat at any corpus size.
    minhash state probe: the per-batch semi-join against 1x vs 10x
    band-bucket state (the streaming sink's scaling axis)."""
    from mwas_rfam_spark.operators.dedup import (
        approx_dedup_quality_report,
        incremental_minhash_dedup,
        minhash_band_buckets,
    )
    from mwas_rfam_spark.operators.quantization import (
        ivfpq_topk_indexed,
        materialize_ivfpq,
        train_pq_codebooks,
    )
    from mwas_rfam_spark.operators.selection import temperature_mix
    from mwas_rfam_spark.operators.similarity import train_ivf_centroids
    from mwas_rfam_spark.plans.testdata_mwas import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    emb10 = grow_emb(emb, 10)
    import tempfile

    for label, e, k_cells in [("1x", emb, 8), ("10x", emb10, 26)]:
        e = e.localCheckpoint()
        q = [float(x) for x in e.orderBy("vec_id").first()["embedding"]]
        cents = train_ivf_centroids(e, k=k_cells, iters=2)
        books = train_pq_codebooks(e, m=8, k=32, iters=3, sample_size=512)
        path = tempfile.mkdtemp(prefix=f"ivfpq_{label}_")
        t0 = time.time()
        materialize_ivfpq(e, cents, books, path)
        out[f"ivfpq_build_{label}"] = round(time.time() - t0, 2)
        # warm row (r6 verdict task #5): the single-shot convention makes
        # 1x rows of heavy builds JVM-debt-dominated; a second build into
        # a fresh dir isolates the steady-state cost
        warm = tempfile.mkdtemp(prefix=f"ivfpq_{label}_warm_")
        t0 = time.time()
        materialize_ivfpq(e, cents, books, warm)
        out[f"ivfpq_build_{label}_warm"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(ivfpq_topk_indexed(spark, path, q, k=10, nprobe=3, rerank=100))
        out[f"ivfpq_search_{label}"] = round(time.time() - t0, 2)
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(warm, ignore_errors=True)

    src = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    docs = src.select("doc_id", "text")
    src10 = grow_docs(src, 10, source_mod=3)
    for label, d in [("1x", src), ("10x", src10)]:
        d = d.localCheckpoint()
        n = d.count()
        t0 = time.time()
        _force(temperature_mix(d, alpha=0.3, target_rows=int(n * 0.8), seed=11))
        out[f"source_mix_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(approx_dedup_quality_report(d.select("doc_id", "text"), threshold=0.5, sample_docs=300, seed=3))
        out[f"dedup_eval_{label}"] = round(time.time() - t0, 2)

    # streaming-dedup state axis: one batch probed against 1x vs 10x state
    batch = docs.localCheckpoint()
    state1 = minhash_band_buckets(batch).select("band", "bucket").localCheckpoint()
    # state10 must be a SUPERSET of state1 (state1 + 9 perturbed
    # variants), so the 1x and 10x rows differ only in state SIZE — the
    # axis this probe isolates. The old build perturbed copy 0 too, so
    # 1x measured a 100%-band-match regime against the batch's own
    # buckets while 10x measured probabilistic collisions: a match-rate
    # change masquerading as a state-size trend.
    grown = [
        minhash_band_buckets(
            batch.select(
                (F.col("doc_id") + F.lit(1_000_000 * i)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" s{i}")).alias("text"),
            )
        ).select("band", "bucket")
        for i in range(1, 10)
    ]
    state10 = state1
    for g in grown:
        state10 = state10.unionByName(g)
    state10 = state10.localCheckpoint()
    for label, st in [("1x", state1), ("10x", state10)]:
        t0 = time.time()
        survivors, _u = incremental_minhash_dedup(batch, st)
        _force(survivors)
        out[f"minhash_state_probe_{label}"] = round(time.time() - t0, 2)

    spark.catalog.clearCache()
    print({k: v for k, v in out.items()
           if k.startswith(("ivfpq_", "source_mix", "dedup_eval", "minhash_state"))},
          file=sys.stderr)


def probe_r6b100(spark, sf_dir: str, out: dict):
    """Probe L — the two wave-2 heavyweights at 100× (the brief's bar):
    IVF-PQ build/search with cells scaled ~sqrt(N) (8 → 80: the
    large-k Arrow GEMM assignment path), and the exact broadcast-GEMM
    semantic decontamination whose cost is one linear train scan."""
    from mwas_rfam_spark.operators.dedup import semantic_decontaminate
    from mwas_rfam_spark.operators.quantization import (
        ivfpq_topk_indexed,
        materialize_ivfpq,
        train_pq_codebooks,
    )
    from mwas_rfam_spark.operators.similarity import train_ivf_centroids
    from mwas_rfam_spark.plans.testdata_mwas import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    emb100 = grow_emb(emb, 100).repartition(64).localCheckpoint()
    n = emb100.count()
    out["ivfpq_100x_rows"] = n
    q = [float(x) for x in emb100.orderBy("vec_id").first()["embedding"]]

    import tempfile

    cents = train_ivf_centroids(emb100, k=80, iters=2)
    books = train_pq_codebooks(emb100, m=8, k=32, iters=3, sample_size=512)
    path = tempfile.mkdtemp(prefix="ivfpq_100x_")
    t0 = time.time()
    materialize_ivfpq(emb100, cents, books, path)
    out["ivfpq_build_100x"] = round(time.time() - t0, 2)
    warm = tempfile.mkdtemp(prefix="ivfpq_100x_warm_")
    t0 = time.time()
    materialize_ivfpq(emb100, cents, books, warm)
    out["ivfpq_build_100x_warm"] = round(time.time() - t0, 2)
    for run in (1, 2):
        t0 = time.time()
        _force(ivfpq_topk_indexed(spark, path, q, k=10, nprobe=8, rerank=100))
        out[f"ivfpq_search_100x_r{run}"] = round(time.time() - t0, 2)

    eval_emb = emb.where(F.col("vec_id") % 11 == 0)
    # 1x FIRST: the first decontaminate plan in a process pays codegen +
    # warmup debt (the same confound probe_r5b documents); timing 100x
    # first inflated the very 100x/1x slope this probe reports
    t0 = time.time()
    _force(semantic_decontaminate(emb, eval_emb, threshold=0.9))
    out["semantic_decontam_1x"] = round(time.time() - t0, 2)
    t0 = time.time()
    _force(semantic_decontaminate(emb100, eval_emb, threshold=0.9))
    out["semantic_decontam_100x"] = round(time.time() - t0, 2)
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(warm, ignore_errors=True)

    spark.catalog.clearCache()
    print({k: v for k, v in out.items()
           if "100x" in k or k == "semantic_decontam_1x"}, file=sys.stderr)




def probe_r7m(spark, sf_dir: str, out: dict):
    """Probe M (r6 verdict task #3) — the COMPOSED k-NN joins at 100x
    and 1,000 cells end-to-end (probe L measured build/search
    components only), plus temperature_mix and bin_pack_documents at
    100x to finish probe J's families.

    The join probes are the 1000-executor-class shape: a 64-query
    batch against a 100x corpus under a 1,000-cell coarse quantizer —
    the regime where the driver-pushed static `cell IN (...)` filter
    (dynamic pruning does not fire through the broadcast mapInPandas
    side) and the per-query GEMM/LUT kernels either hold or blow up."""
    import tempfile

    from mwas_rfam_spark.operators.packing import bin_pack_documents
    from mwas_rfam_spark.operators.quantization import (
        ivfpq_knn_join,
        materialize_ivfpq,
        train_pq_codebooks,
    )
    from mwas_rfam_spark.operators.selection import temperature_mix
    from mwas_rfam_spark.operators.similarity import ivf_knn_join, train_ivf_centroids
    from mwas_rfam_spark.plans.testdata_mwas import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    emb100 = grow_emb(emb, 100).repartition(64).localCheckpoint()
    out["knn_100x_rows"] = emb100.count()

    def qbatch(e, n=64):
        # STRIDED picks (was orderBy+limit: on the 100x corpus the 64
        # smallest ids are 64 perturbations of ONE base vector — the
        # degenerate query set r9o documents — which clusters the
        # probed cells and flatters the static-filter admission rate)
        return strided_queries(e, n).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        ).localCheckpoint()

    for label, e, k_cells in [("1x", emb.localCheckpoint(), 8), ("100x", emb100, 1000)]:
        cents = train_ivf_centroids(e, k=k_cells, iters=2)
        qs = qbatch(e)
        t0 = time.time()
        _force(ivf_knn_join(e, qs, cents, k=5, nprobe=max(3, k_cells // 100)))
        out[f"ivf_knn_join_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(ivf_knn_join(e, qs, cents, k=5, nprobe=max(3, k_cells // 100)))
        out[f"ivf_knn_join_{label}_warm"] = round(time.time() - t0, 2)

        books = train_pq_codebooks(e, m=8, k=32, iters=3, sample_size=512)
        path = tempfile.mkdtemp(prefix=f"ivfpq_m_{label}_")
        t0 = time.time()
        materialize_ivfpq(e, cents, books, path)
        out[f"ivfpq_m_build_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(ivfpq_knn_join(spark, path, qs, k=5,
                              nprobe=max(3, k_cells // 100), rerank=100))
        out[f"ivfpq_knn_join_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(ivfpq_knn_join(spark, path, qs, k=5,
                              nprobe=max(3, k_cells // 100), rerank=100))
        out[f"ivfpq_knn_join_{label}_warm"] = round(time.time() - t0, 2)
        shutil.rmtree(path, ignore_errors=True)

    src100 = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    docs100 = grow_docs(src100, 100, source_mod=10).repartition(64).localCheckpoint()
    n100 = docs100.count()
    out["mix_100x_rows"] = n100
    t0 = time.time()
    _force(temperature_mix(docs100, alpha=0.3, target_rows=int(n100 * 0.8), seed=11))
    out["source_mix_100x"] = round(time.time() - t0, 2)
    t0 = time.time()
    # SAME pack budget as probe J (2048 — 512 broke the 1x/10x/100x
    # comparability) and buckets scaled with the corpus (64 -> 640 ->
    # 6400, the documented policy probe J measures); the old call left
    # the default 64 buckets, so the "100x trend" row was actually
    # measuring the unscaled-buckets anti-pattern
    _force(bin_pack_documents(
        docs100.select("doc_id", "text"),
        max_tokens_per_pack=2048,
        n_buckets=6400,
    ))
    out["binpack_100x"] = round(time.time() - t0, 2)

    spark.catalog.clearCache()
    print({k: v for k, v in out.items()
           if k.startswith(("ivf_knn", "ivfpq_", "source_mix", "binpack", "knn_", "mix_"))},
          file=sys.stderr)




def probe_r7e(spark, sf_dir: str, out: dict):
    """Probe N (r7) — the evaluation family on its worst axis:
    CONTINUOUS scores make every row a distinct score, so the AUC
    cumsum relation is corpus-sized. binary_auc rides the two-level
    prefix sum and grouped_auc its grouped variant; both should scale
    ~linearly with rows, never collapse into one window task. Also the
    count-min build, whose output is depth x width rows at ANY input
    size (the flat-state claim)."""
    from mwas_rfam_spark.operators.evaluation import binary_auc, grouped_auc
    from mwas_rfam_spark.operators.sketches import cms_build
    from mwas_rfam_spark.plans.testdata_mwas import load

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("embedding")[0].cast("double").alias("score0"),
        (F.col("label") % 2).alias("label"),
        (F.col("label") % 5).cast("string").alias("grp"),
        "vec_id",
    )
    e100 = emb.crossJoin(
        spark.range(100).select(F.col("id").alias("_c"))
    ).select(
        # perturb so every one of the 100x rows has a DISTINCT score
        (F.col("score0") + F.col("_c") * 1e-9 + F.col("vec_id") * 1e-13).alias("score"),
        "label",
        F.concat(F.col("grp"), F.lit("_"), (F.col("_c") % 4).cast("string")).alias("grp"),
    ).repartition(64).localCheckpoint()
    e1 = emb.select(F.col("score0").alias("score"), "label", "grp").localCheckpoint()
    out["auc_100x_rows"] = e100.count()
    for label, e in (("1x", e1), ("100x", e100)):
        t0 = time.time()
        _force(binary_auc(e))
        out[f"binary_auc_{label}"] = round(time.time() - t0, 2)
        t0 = time.time()
        _force(grouped_auc(e, ["grp"]))
        out[f"grouped_auc_{label}"] = round(time.time() - t0, 2)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    toks100 = toks.crossJoin(
        spark.range(100).select(F.col("id").alias("_c"))
    ).select(F.concat("tok", F.lit("_"), (F.col("_c") % 7).cast("string")).alias("tok"))
    # checkpoint BOTH inputs (the file's convention — "measure the
    # operators, not the clone join"): without it every timed cms_build
    # re-executed the doc scan + explode + 100x crossJoin, twice per
    # label (md5 and xxhash64 rows), conflating sketch-build cost with
    # input-generation cost
    toks = toks.localCheckpoint()
    toks100 = toks100.repartition(64).localCheckpoint()
    for label, t in (("1x", toks), ("100x", toks100)):
        for h in ("md5", "xxhash64"):
            t0 = time.time()
            sk = cms_build(t, "tok", width=2048, depth=4, seed=5, hash=h)
            n = sk.count()
            out[f"cms_build_{label}_{h}"] = round(time.time() - t0, 2)
            out[f"cms_rows_{label}_{h}"] = n
    spark.catalog.clearCache()
    print({k: v for k, v in out.items()
           if k.startswith(("binary_auc", "grouped_auc", "cms_", "auc_"))},
          file=sys.stderr)




def probe_r7q(spark, sf_dir: str, out: dict):
    """Probe O (r7) — residual vs raw IVF-PQ at 10x: the QUALITY claim
    (residual codes approximate distances better, so ADC-only recall at
    a fixed candidate budget rises) and the COST claim (residual's
    per-cell LUTs add no measurable wall to the batch k-NN join)."""
    import tempfile

    import numpy as np

    from mwas_rfam_spark.operators.quantization import (
        ivfpq_knn_join,
        ivfpq_topk_indexed,
        materialize_ivfpq,
        train_pq_codebooks,
    )
    from mwas_rfam_spark.operators.similarity import train_ivf_centroids
    from mwas_rfam_spark.plans.testdata_mwas import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    e10 = grow_emb(emb, 10).repartition(32).localCheckpoint()
    n = e10.count()
    out["resq_rows"] = n
    cents = train_ivf_centroids(e10, k=40, iters=2)
    books = train_pq_codebooks(e10, m=8, k=32, iters=3, sample_size=512)
    res_books = train_pq_codebooks(
        e10, m=8, k=32, iters=3, sample_size=512, residual_centroids=cents
    )
    kind_books = {"raw": books, "res": res_books}
    paths = {}
    for kind, residual in (("raw", False), ("res", True)):
        p = tempfile.mkdtemp(prefix=f"resq_{kind}_")
        t0 = time.time()
        materialize_ivfpq(e10, cents, kind_books[kind], p, residual=residual)
        out[f"resq_build_{kind}"] = round(time.time() - t0, 2)
        paths[kind] = p

    # recall@10 of ADC-only candidates (rerank == k strips the exact
    # re-rank's error recovery, exposing pure code quality) vs exact
    # within the SAME probed cells (rerank >> k is exact there)
    # strided, not head-of-sorted-ids: the first 8 ids of the 10x corpus
    # are eight perturbations of ONE base vector (r9o documents this)
    qrows = sorted(
        strided_queries(e10, 8).collect(), key=lambda r: r["vec_id"]
    )
    rec = {"raw": 0.0, "res": 0.0}
    for r in qrows:
        q = [float(x) for x in r["embedding"]]
        truth = {
            x["vec_id"]
            for x in ivfpq_topk_indexed(
                spark, paths["raw"], q, k=10, nprobe=8, rerank=2000
            ).collect()
        }
        for kind in ("raw", "res"):
            got = {
                x["vec_id"]
                for x in ivfpq_topk_indexed(
                    spark, paths[kind], q, k=10, nprobe=8, rerank=10
                ).collect()
            }
            rec[kind] += len(got & truth) / 10.0 / len(qrows)
    out["resq_recall_raw"] = round(rec["raw"], 3)
    out["resq_recall_res"] = round(rec["res"], 3)

    # mean |ADC − true| per kind (the quantity the residual claim is
    # actually about; recall@k at rerank=k saturates into near-tie noise
    # on this clone-heavy synthetic corpus and reads as a wash)
    from mwas_rfam_spark.operators.quantization import pq_adc_scores

    q0 = [float(x) for x in qrows[0]["embedding"]]
    qarr = np.asarray(q0)
    exact_d = e10.select(
        "vec_id",
        F.aggregate(
            F.zip_with(
                "embedding",
                F.array(*[F.lit(float(x)) for x in q0]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("true_d"),
    )
    for kind in ("raw", "res"):
        codes = spark.read.parquet(f"{paths[kind]}/codes")
        if kind == "res":
            parts = [
                pq_adc_scores(
                    codes.where(F.col("cell") == c),
                    [float(x) for x in (qarr - np.asarray(cents[c]))],
                    kind_books[kind],
                )
                for c in range(len(cents))
            ]
            scored = parts[0]
            for p_ in parts[1:]:
                scored = scored.unionByName(p_)
        else:
            scored = pq_adc_scores(codes, q0, kind_books[kind])
        err = (
            scored.join(exact_d, "vec_id")
            .agg(F.avg(F.abs(F.col("approx_dist") - F.col("true_d"))))
            .collect()[0][0]
        )
        out[f"resq_adc_err_{kind}"] = round(float(err), 3)

    queries = e10.orderBy("vec_id").limit(32).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).localCheckpoint()
    for kind in ("raw", "res"):
        t0 = time.time()
        _force(ivfpq_knn_join(spark, paths[kind], queries, k=5, nprobe=8, rerank=100))
        out[f"resq_knn_join_{kind}"] = round(time.time() - t0, 2)
    for p in paths.values():
        shutil.rmtree(p, ignore_errors=True)
    spark.catalog.clearCache()
    print({k: v for k, v in out.items() if k.startswith("resq_")}, file=sys.stderr)


def probe_r9o(spark, sf_dir: str, out: dict):
    """Probe O addendum (r9, r8 verdict task #6) — residual vs raw
    IVF-PQ at the PRODUCTION search shape: recall@10 with rerank=100
    (ADC ranks candidates, exact re-rank recovers the top-k), measured
    against the GLOBAL exact top-10. Two corpora: the plain sf
    embeddings (8 cells, nprobe 3 — the scale the pytest pins), and the
    10x derived corpus probe O used (40 cells, nprobe 8) where ADC
    error separated 1.15 vs 1.54. Both index kinds share the coarse
    quantizer, so any recall difference is CODE quality (probe misses
    are identical by construction)."""
    import tempfile

    import numpy as np

    from mwas_rfam_spark.operators.quantization import (
        ivfpq_topk_indexed,
        materialize_ivfpq,
        train_pq_codebooks,
    )
    from mwas_rfam_spark.operators.similarity import train_ivf_centroids
    from mwas_rfam_spark.plans.testdata_mwas import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    e10 = grow_emb(emb, 10).repartition(32).localCheckpoint()

    for tag, corpus, k_cells, nprobe in (
        ("sf", emb.localCheckpoint(), 8, 3),
        ("10x", e10, 40, 8),
    ):
        cents = train_ivf_centroids(corpus, k=k_cells, iters=2)
        books = train_pq_codebooks(corpus, m=8, k=32, iters=3, sample_size=512)
        res_books = train_pq_codebooks(
            corpus, m=8, k=32, iters=3, sample_size=512, residual_centroids=cents
        )
        paths = {}
        for kind, residual, bks in (("raw", False, books), ("res", True, res_books)):
            p = tempfile.mkdtemp(prefix=f"r9o_{tag}_{kind}_")
            materialize_ivfpq(corpus, cents, bks, p, residual=residual)
            paths[kind] = p
        # sort by vec_id: collect() order after repartition is
        # nondeterministic, and the 8-query set must be reproducible
        # for the SCALE.md numbers to be re-derivable; STRIDE the picks
        # across the sorted corpus — the first 8 ids of the 10x corpus
        # are ten perturbations of ONE base vector (vec_id*10+c), a
        # degenerate query set
        rows = sorted(corpus.collect(), key=lambda r: r["vec_id"])
        mat = np.stack([np.asarray(r["embedding"]) for r in rows])
        ids = np.asarray([r["vec_id"] for r in rows])
        # 32 strided queries: at 8 the per-query-set variance (±0.3
        # recall, measured) dwarfs the raw-vs-residual delta
        qrows = rows[:: max(1, len(rows) // 32)][:32]
        rec = {"raw": 0.0, "res": 0.0}
        for r in qrows:
            q = np.asarray(r["embedding"])
            d = ((mat - q) ** 2).sum(axis=1)
            truth = set(ids[np.argsort(d, kind="stable")[:10]].tolist())
            for kind in ("raw", "res"):
                got = {
                    x["vec_id"]
                    for x in ivfpq_topk_indexed(
                        spark,
                        paths[kind],
                        [float(x) for x in q],
                        k=10,
                        nprobe=nprobe,
                        rerank=100,
                    ).collect()
                }
                rec[kind] += len(got & truth) / 10.0 / len(qrows)
        out[f"r9o_recall10_rerank100_{tag}_raw"] = round(rec["raw"], 3)
        out[f"r9o_recall10_rerank100_{tag}_res"] = round(rec["res"], 3)
        import shutil

        for p in paths.values():
            shutil.rmtree(p, ignore_errors=True)
    print({k: v for k, v in out.items() if k.startswith("r9o_")}, file=sys.stderr)


def probe_r9e(spark, sf_dir: str, out: dict):
    """r9 new-operator scale probe: (a) grouped_calibration_report at
    1x vs 100x rows and 16 vs 10k groups — one map-side-combinable
    aggregate, so wall should track the scan, not the group count;
    (b) eval_state_auc fold cost vs batch count on a streamed per-score
    counts state (state rows = distinct scores x batches, corpus-size
    independent), before and after compact_eval_state."""
    from mwas_rfam_spark.operators.evaluation import grouped_calibration_report
    from mwas_rfam_spark.streaming.requests import (
        compact_eval_state,
        eval_state_auc,
    )

    def scored(n_rows: int, n_groups: int):
        # algebraic squash of a hash — arbitrary but deterministic scores
        x = (F.xxhash64("id") % 1000).cast("double") / 100.0
        return spark.range(n_rows).select(
            (F.lit(0.5) + x / (F.lit(2.0) * (F.lit(1.0) + F.abs(x)))).alias("score"),
            (F.col("id") % 2).cast("int").alias("label"),
            (F.col("id") % n_groups).alias("grp"),
        )

    for tag, n, g in (("1x", 200_000, 16), ("100x", 20_000_000, 16),
                      ("100x_10kgrp", 20_000_000, 10_000)):
        t0 = time.time()
        _force(grouped_calibration_report(scored(n, g), ["grp"]))
        out[f"r9e_grouped_cal_{tag}"] = round(time.time() - t0, 2)

    # streamed eval state: 605 distinct quantized scores per batch
    # (xxhash64 % 1000 -> <=1999 raw x values; the algebraic squash +
    # round(3) merges the asymptotic tails — counted exactly, review
    # finding corrected the earlier 4001 claim)
    import tempfile

    from mwas_rfam_spark.operators.evaluation import per_score_counts

    state = tempfile.mkdtemp(prefix="r9e_eval_state_")
    q = F.round(F.col("score"), 3).alias("score")
    for b in range(100):
        per_score_counts(
            scored(50_000, 2).select(q, "label")
        ).write.mode("overwrite").parquet(f"{state}/ingest_batch={b}")
        if b == 9:
            t0 = time.time()
            auc10 = eval_state_auc(spark, state).collect()[0]["auc"]
            out["r9e_eval_state_read_10b"] = round(time.time() - t0, 2)
    t0 = time.time()
    auc100 = eval_state_auc(spark, state).collect()[0]["auc"]
    out["r9e_eval_state_read_100b"] = round(time.time() - t0, 2)
    t0 = time.time()
    compact_eval_state(spark, state, up_to_batch=99)
    out["r9e_eval_state_compact"] = round(time.time() - t0, 2)
    t0 = time.time()
    auc_f = eval_state_auc(spark, state).collect()[0]["auc"]
    out["r9e_eval_state_read_folded"] = round(time.time() - t0, 2)
    assert abs(auc100 - auc_f) < 1e-12, (auc100, auc_f)
    out["r9e_eval_state_auc"] = round(float(auc100), 6)
    _ = auc10
    import shutil

    shutil.rmtree(state, ignore_errors=True)
    print({k: v for k, v in out.items() if k.startswith("r9e_")}, file=sys.stderr)


def probe_r11g(spark, sf_dir: str, out: dict):
    """r11 grouped eval state on its scale axes: per-(grp, v) counts
    streamed over 100 batches — state rows <= groups x distinct scores,
    corpus-size independent — read per-slice (eval_state_grouped_auc)
    at 10 vs 100 batches, globally (eval_state_auc over the SAME
    grouped dir: linearity sums the slices away), compacted
    (fold keys derived from stored columns), and at 10k groups (the
    driver-offset axis: offsets are O(partitions + n_groups) rows)."""
    import shutil
    import tempfile

    from mwas_rfam_spark.operators.evaluation import grouped_per_score_counts
    from mwas_rfam_spark.streaming.requests import (
        compact_eval_state,
        eval_state_auc,
        eval_state_grouped_auc,
    )

    def scored(n_rows: int, n_groups: int):
        x = (F.xxhash64("id") % 1000).cast("double") / 100.0
        # label from id // n_groups so every group sees both classes
        # (id % 2 would be CONSTANT within grp = id % n_groups for even
        # n_groups -> all-NULL AUCs)
        return spark.range(n_rows).select(
            F.round(
                F.lit(0.5) + x / (F.lit(2.0) * (F.lit(1.0) + F.abs(x))), 3
            ).alias("score"),
            ((F.col("id") / n_groups).cast("long") % 2).cast("int").alias("label"),
            (F.col("id") % n_groups).alias("grp"),
        )

    state = tempfile.mkdtemp(prefix="r11g_eval_state_")
    for b in range(100):
        grouped_per_score_counts(scored(50_000, 16), ["grp"]).write.mode(
            "overwrite"
        ).parquet(f"{state}/ingest_batch={b}")
        if b == 9:
            t0 = time.time()
            _force(eval_state_grouped_auc(spark, state))
            out["r11g_grouped_read_10b"] = round(time.time() - t0, 2)
    t0 = time.time()
    sliced = {r["grp"]: r["auc"] for r in eval_state_grouped_auc(spark, state).collect()}
    out["r11g_grouped_read_100b"] = round(time.time() - t0, 2)
    t0 = time.time()
    auc_g = eval_state_auc(spark, state).collect()[0]["auc"]
    out["r11g_global_over_grouped_100b"] = round(time.time() - t0, 2)
    t0 = time.time()
    compact_eval_state(spark, state, up_to_batch=99)
    out["r11g_compact"] = round(time.time() - t0, 2)
    t0 = time.time()
    folded = {r["grp"]: r["auc"] for r in eval_state_grouped_auc(spark, state).collect()}
    out["r11g_grouped_read_folded"] = round(time.time() - t0, 2)
    assert len(folded) == 16 and all(
        abs(folded[g] - sliced[g]) < 1e-12 for g in sliced
    ), "slices must survive compaction bit-identically"
    auc_gf = eval_state_auc(spark, state).collect()[0]["auc"]
    assert abs(auc_g - auc_gf) < 1e-12
    shutil.rmtree(state, ignore_errors=True)

    # group-cardinality axis: one 5M-row batch at 10k groups — the
    # grouped finish collects O(partitions + n_groups) offset rows
    state2 = tempfile.mkdtemp(prefix="r11g_eval_state10k_")
    grouped_per_score_counts(scored(5_000_000, 10_000), ["grp"]).write.parquet(
        f"{state2}/ingest_batch=0"
    )
    t0 = time.time()
    n = eval_state_grouped_auc(spark, state2).count()
    out["r11g_grouped_read_10kgrp"] = round(time.time() - t0, 2)
    assert n == 10_000
    shutil.rmtree(state2, ignore_errors=True)
    print({k: v for k, v in out.items() if k.startswith("r11g_")}, file=sys.stderr)


def probe_r12p(spark, sf_dir: str, out: dict):
    """r12: the cogrouped permutation kernel's structural memory bound,
    MEASURED (r11 verdict task #4 — SCALE.md claimed the cogroup's win
    is 'the structural memory bound, which the small-SF bench cannot
    see'; this stamps it). One 50-set group with a 500k-element pooled
    value vector (a cap-scale group: max_group_observations defaults to
    5M) is driven through BOTH shapes and each kernel reports the ACTUAL
    materialized bytes of the Arrow batch it received:

    * join-replicated (the pre-r11 shape): every set row carries its own
      copy of the pooled array — batch bytes ~ |sets| x N x 8;
    * cogrouped (current): per-set rows on one side, ONE pooled-array
      row on the other — batch bytes ~ N x 8 + set-row overhead.

    The ratio is the |sets| replication factor the r11 restructure
    removed; at the 5M cap and a 50-set group the old shape is a 2 GB
    single Arrow batch (OOM-adjacent), the cogroup 40 MB."""
    import numpy as np
    import pandas as pd

    n_sets, n_obs = 50, 500_000
    pooled_col = F.transform(
        F.sequence(F.lit(1), F.lit(n_obs)),
        lambda i: i.cast("double") / F.lit(1000.0),
    )
    sets = spark.range(n_sets).select(
        F.lit("BP").alias("bp"),
        F.lit("g").alias("grp"),
        F.col("id").cast("string").alias("set_id"),
    )
    RES = "bp string, grp string, batch_bytes long, n_rows long"

    def _arr_bytes(series) -> int:
        return int(
            sum(np.asarray(a, dtype=np.float64).nbytes for a in series)
        )

    def kernel_old(key, pdf: pd.DataFrame) -> pd.DataFrame:
        b = _arr_bytes(pdf["pooled"]) + int(
            pdf.drop(columns=["pooled"]).memory_usage(deep=True).sum()
        )
        return pd.DataFrame(
            {"bp": [key[0]], "grp": [key[1]], "batch_bytes": [b], "n_rows": [len(pdf)]}
        )

    def kernel_new(key, pdf: pd.DataFrame, vdf: pd.DataFrame) -> pd.DataFrame:
        b = _arr_bytes(vdf["obs_rpm"]) + int(pdf.memory_usage(deep=True).sum())
        return pd.DataFrame(
            {"bp": [key[0]], "grp": [key[1]], "batch_bytes": [b], "n_rows": [len(pdf)]}
        )

    t0 = time.time()
    old_row = (
        sets.withColumn("pooled", pooled_col)
        .groupBy("bp", "grp")
        .applyInPandas(kernel_old, RES)
        .collect()[0]
    )
    out["r12p_joinrep_seconds"] = round(time.time() - t0, 2)
    out["r12p_joinrep_batch_mb"] = round(old_row["batch_bytes"] / 1e6, 1)

    vals = spark.range(1).select(
        F.lit("BP").alias("bp2"), F.lit("g").alias("grp2"), pooled_col.alias("obs_rpm")
    )
    t0 = time.time()
    new_row = (
        sets.groupBy("bp", "grp")
        .cogroup(vals.groupBy("bp2", "grp2"))
        .applyInPandas(kernel_new, RES)
        .collect()[0]
    )
    out["r12p_cogroup_seconds"] = round(time.time() - t0, 2)
    out["r12p_cogroup_batch_mb"] = round(new_row["batch_bytes"] / 1e6, 1)
    out["r12p_replication_ratio"] = round(
        old_row["batch_bytes"] / max(new_row["batch_bytes"], 1), 1
    )
    assert old_row["n_rows"] == new_row["n_rows"] == n_sets
    # the measured ratio must reflect the |sets| replication (within
    # set-row overhead): the structural claim, stamped
    assert out["r12p_replication_ratio"] > n_sets * 0.8, out
    print({k: v for k, v in out.items() if k.startswith("r12p_")}, file=sys.stderr)


def probe_r13a(spark, sf_dir: str, out: dict):
    """r13 stretch / j9 adjudication mechanism probe: the r12 atomic
    struct-carry asof fix coincided with j9_asof_join benching +37%
    ABOVE the series-normalized r11 number. Measure the carry strategy
    directly on the bench query's own relations at payload width 1 and
    11: (a) the shipped struct carry, (b) the r11 per-column
    last(ignorenulls) shape (TORN-carry semantics — timing reference
    only), (c) minimal primitive carry (__rsk only) + payload join-back
    on the matched key."""
    from pyspark.sql import Window

    from mwas_rfam_spark.operators.interval import asof_join

    from mwas_rfam_spark.plans.testdata_mwas import ensure_epoch_nanos

    ev = ensure_epoch_nanos(
        spark, spark.read.parquet(f"{sf_dir}/events.parquet"), "ts"
    )
    e = ev.select("event_id", "user_id", "ts").localCheckpoint()
    base_err = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )

    def widen(df, extra):
        for i in range(extra):
            df = df.withColumn(f"pay{i}", F.col("err_value") * (i + 2.0))
        return df

    def per_column_carry(left, right, pay_cols):
        sign = F.lit(1)
        lcols = list(left.columns)
        l_side = left.select(
            *lcols,
            *[F.lit(None).cast("double").alias(c) for c in pay_cols],
            F.lit(None).cast("long").alias("__rts"),
            (F.col("ts") * sign).cast("long").alias("__sk"),
            F.lit(1).alias("__tag"),
        )
        r_side = right.select(
            "user_id",
            *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
              for c in lcols if c != "user_id"],
            *pay_cols,
            F.col("ts").cast("long").alias("__rts"),
            (F.col("ts") * sign).cast("long").alias("__sk"),
            F.lit(0).alias("__tag"),
        ).select(*l_side.columns)
        w = (
            Window.partitionBy("user_id")
            .orderBy(F.col("__sk"), F.col("__tag"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = l_side.unionByName(r_side).select(
            *lcols, "__tag",
            *[F.last(c, ignorenulls=True).over(w).alias(f"{c}_r")
              for c in pay_cols],
            F.last("__rts", ignorenulls=True).over(w).alias("ts_r"),
        )
        return carried.where(F.col("__tag") == 1).drop("__tag")

    def minimal_carry_join(left, right, pay_cols):
        sign = F.lit(1)
        lcols = list(left.columns)
        l_side = left.select(
            *lcols,
            F.lit(None).cast("long").alias("__rsk"),
            (F.col("ts") * sign).cast("long").alias("__sk"),
            F.lit(1).alias("__tag"),
        )
        r_side = right.select(
            "user_id",
            *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
              for c in lcols if c != "user_id"],
            (F.col("ts") * sign).cast("long").alias("__rsk"),
            (F.col("ts") * sign).cast("long").alias("__sk"),
            F.lit(0).alias("__tag"),
        ).select(*l_side.columns)
        w = (
            Window.partitionBy("user_id")
            .orderBy(F.col("__sk"), F.col("__tag"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = (
            l_side.unionByName(r_side)
            .select(
                *lcols, "__tag",
                F.last("__rsk", ignorenulls=True).over(w).alias("__mrsk"),
            )
            .where(F.col("__tag") == 1)
        )
        # honest variant: the join-back needs (by, ts)-unique right
        # rows or left rows multiply — include the dedup shuffle
        pay = (
            right.groupBy("user_id", "ts")
            .agg(*[F.any_value(c).alias(c) for c in pay_cols])
            .select(
                "user_id",
                F.col("ts").cast("long").alias("__mrsk"),
                F.col("ts").alias("ts_r"),
                *[F.col(c).alias(f"{c}_r") for c in pay_cols],
            )
        )
        return carried.join(pay, ["user_id", "__mrsk"], "left").drop(
            "__tag", "__mrsk"
        )

    for extra, tag in ((0, "w1"), (10, "w11")):
        right = widen(base_err, extra).localCheckpoint()
        pay_cols = ["err_value"] + [f"pay{i}" for i in range(extra)]
        variants = {
            "struct": lambda: asof_join(e, right, by="user_id"),
            "percol": lambda: per_column_carry(e, right, pay_cols),
            "minjoin": lambda: minimal_carry_join(e, right, pay_cols),
        }
        # INTERLEAVED min-of-7 per variant: back-to-back blocks were
        # confounded by ~30% machine drift between blocks; interleaving
        # puts every variant under the same drift profile
        times = {k: [] for k in variants}
        for rep in range(7):
            for k, mk in variants.items():
                t0 = time.time()
                _force(mk())
                times[k].append(time.time() - t0)
        for k, ts_l in times.items():
            out[f"r13a_{k}_{tag}_sec"] = round(min(ts_l), 3)
    print({k: v for k, v in out.items() if k.startswith("r13a_")}, file=sys.stderr)


def main():
    # `scale_probe.py r13a` means "run probe r13a at the default dir" —
    # binding the probe name to sf_dir used to fail deep in _warmup
    # with a parquet-not-found error instead of the unknown-probe exit
    args = list(sys.argv[1:])
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    only = args[0] if args else None
    probes = {
        "dedup": probe_dedup,
        "mwas": probe_mwas,
        "curation": probe_curation,
        "r4": probe_r4_ops,
        "r4b": probe_r4b_ops,
        "r4c": probe_r4c_ops,
        "r5": probe_r5_ops,
        "r5b": probe_r5b_ops,
        "i100": probe_i100,
        "r6": probe_r6_ops,
        "r6b": probe_r6b_ops,
        "r6b100": probe_r6b100,
        "r7m": probe_r7m,
        "r7e": probe_r7e,
        "r7q": probe_r7q,
        "r9o": probe_r9o,
        "r9e": probe_r9e,
        "r11g": probe_r11g,
        "r12p": probe_r12p,
        "r13a": probe_r13a,
    }
    if only is not None and only not in probes:
        raise SystemExit(
            f"unknown probe {only!r}; choose from {sorted(probes)}"
        )
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _warmup(spark, sf_dir)
    out: dict = {"sf_dir": sf_dir}
    for name, fn in probes.items():
        if only is None or only == name:
            fn(spark, sf_dir, out)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
