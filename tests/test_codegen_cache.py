"""Spark's codegen cache holds the engine's working set: a warm repeat of
an op finds every generated class it needs already compiled.

Spark caches Janino-compiled classes by their generated source in an
LRU. An op that needs more classes than the cache holds walks them in
the same order every time, so each class is evicted before its next use
and the op recompiles all of them on every run. Under AQE, a replanned
stage's class name carries a codegen stage id that can differ between
runs of one plan until each variant is cached, so the checks below take
the fewest compiles over a few warm repeats."""

import json
import urllib.request

from pyspark.sql import functions as F

from mwas_rfam_spark.operators import curation, dedup
from mwas_rfam_spark.sources import sinks

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value"
).split()


def _corpus(spark):
    """60 documents of 12-20 words; every tenth repeats an earlier one
    exactly and every seventh repeats one with a word appended."""
    docs = []
    for i in range(60):
        words = [_WORDS[(i * 7 + j * j) % len(_WORDS)] for j in range(12 + i % 9)]
        if i % 10 == 9:
            words = docs[i - 5][1].split()
        elif i % 7 == 6:
            words = docs[i - 3][1].split() + ["extra"]
        docs.append((i, " ".join(words)))
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_warm_curation_chain_compiles_nothing(spark, tmp_path, codegen_compiles):
    """dedup pipeline → md5 MinHash LSH → curation → sharded write, the
    curate_docs benchmark op, needs about 160 generated classes: more
    than Spark's default 100-entry cache, which compiled all of them on
    every run."""
    docs = _corpus(spark)

    def chain(i: int) -> int:
        before = codegen_compiles()
        dedup.dedup_pipeline_pairs(docs, n=3, threshold=0.5).write.format("noop").mode(
            "overwrite"
        ).save()
        dedup.minhash_lsh_pairs_md5(docs, num_hashes=32, bands=8, threshold=0.5).write.format(
            "noop"
        ).mode("overwrite").save()
        curated = curation.curate_corpus(
            docs.where(F.col("doc_id") % 7 != 0), docs.where(F.col("doc_id") % 7 == 0),
            min_tokens=5, decontam_n=5, decontam_threshold=0.2, seed=42,
        )
        sinks.write_training_shards(curated, str(tmp_path / f"shards{i}"), n_shards=8, seed=42)
        return codegen_compiles() - before

    chain(0)  # cold: compiles what earlier tests left uncached
    warm = [chain(i) for i in (1, 2, 3)]
    assert min(warm) == 0, warm


def test_warm_serve_request_compiles_only_its_limit_stages(spark, sf_dir, codegen_compiles):
    """A warm POST /run_mwas compiles 4 classes, all of them the reply's
    bounded collect. The handler's ``limit(max_inline_rows + 1)`` is
    pushed into both branches of finalize_results' union, and Spark
    names each limit's counter field from a process-global sequence
    (``_limit_counter_15`` in one request, ``_limit_counter_18`` in the
    next), so those stages' sources never repeat. Counting the pinned
    result rows instead would compile nothing but adds two Spark jobs
    per request."""
    from mwas_rfam_spark.operators.condense import condense_metadata
    from mwas_rfam_spark.plans.testdata_mwas import (
        mwas_catalog_from_orders,
        mwas_input_from_events,
        mwas_metadata_long_from_customer,
    )
    from mwas_rfam_spark.streaming.http_server import make_server, serve_forever_in_thread

    catalog = mwas_catalog_from_orders(spark, sf_dir).localCheckpoint()
    sets, ref = condense_metadata(mwas_metadata_long_from_customer(spark, sf_dir))
    srv = make_server(spark, catalog, sets.localCheckpoint(), ref.localCheckpoint())
    serve_forever_in_thread(srv)
    body = mwas_input_from_events(spark, sf_dir).orderBy("run", "group", "quantifier")
    payload = json.dumps([r.asDict() for r in body.limit(2000).collect()]).encode()
    url = f"http://127.0.0.1:{srv.server_address[1]}/run_mwas?permutation_seed=1"
    try:
        counts = []
        for _ in range(6):
            before = codegen_compiles()
            req = urllib.request.Request(url, data=payload, method="POST")
            with urllib.request.urlopen(req, timeout=300) as r:
                assert json.loads(r.read())["rows"]
            counts.append(codegen_compiles() - before)
    finally:
        srv.shutdown()
    assert min(counts[1:]) == 4, counts
