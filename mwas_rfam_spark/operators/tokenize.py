"""Trainable BPE tokenization as a Spark pipeline stage.

Beyond-parity extension (SURVEY.md §7 M5): the token-budget mix,
sequence packing and quality gates all count tokens; whitespace and
regex proxies (operators/text.py) are cheap but drift from a model's
real tokenizer. This module makes token counts REAL: train a BPE on a
bounded corpus sample, store the merge table as a tiny relation, and
encode at corpus scale with the merges broadcast into an Arrow-batched
``mapInPandas`` kernel.

Design rules (same build-vs-probe policy as the IVF/PQ family):

* TRAINING is parameter estimation — it runs driver-side on a bounded,
  deterministic hash-sample (a tokenizer is KBs of parameters; nobody
  trains it on 100 TB). The sample is collected with an explicit
  byte budget and fails loud when a single row would exceed it.
* The merge table is a DataFrame (rank, left, right) — storable,
  versionable, joinable; ``bpe_encode`` accepts either the DataFrame
  or the in-memory merge list.
* ENCODING is data-scale: merges are a broadcast variable; the kernel
  memoizes per distinct word per batch (Zipf: the cache hit rate is
  the win), so cost is ~O(distinct words) not O(tokens).
* Python is justified here: BPE's loop-carried merge order is
  iterative per word — not expressible with the built-in relational
  operators. The kernel is Arrow-batched, never row-at-a-time UDF.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mwas_rfam_spark.functions.bpe import (
    BoundedWordCache,
    encode_text,
    ranks_from_merges,
    train_bpe,
    word_frequencies,
)
from mwas_rfam_spark.pinning import held

MERGES_SCHEMA = "rank INT, left STRING, right STRING"


def train_bpe_merges(
    docs: DataFrame,
    num_merges: int = 512,
    text_col: str = "text",
    sample_docs: int = 2000,
    max_sample_bytes: int = 32 << 20,
    seed: int = 7,
) -> DataFrame:
    """Learn a BPE merge table from a bounded corpus sample →
    DataFrame (rank, left, right).

    The sample is the ``sample_docs`` documents with the smallest
    md5(seed:id-less content hash) — deterministic, engine-independent,
    and independent of partitioning (the same domain-tagged md5 recipe
    the sampling family uses). ``max_sample_bytes`` bounds the driver
    collect; exceeding it raises rather than silently truncating."""
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    if sample_docs < 1:
        raise ValueError(f"sample_docs must be >= 1, got {sample_docs}")
    # enforce the budget SPARK-SIDE before collecting — checking after
    # collect() cannot prevent the oversized driver materialization the
    # budget exists to prevent. The sample is recompute-stable (the sort
    # key is md5 of the text itself, so tied rows are identical texts —
    # any tie order selects the same multiset).
    with held(
        docs.select(F.col(text_col).alias("__t"))
        .where(F.col("__t").isNotNull())
        .withColumn("__r", F.md5(F.concat_ws(":", F.lit(f"bpe:{seed}"), F.col("__t"))))
        .orderBy("__r")
        .limit(sample_docs)
    ) as ranked:
        total = ranked.agg(F.sum(F.octet_length("__t"))).first()[0] or 0
        if total > max_sample_bytes:
            raise ValueError(
                f"BPE sample is {total} bytes > max_sample_bytes={max_sample_bytes}; "
                "lower sample_docs or raise the budget explicitly"
            )
        texts = [r["__t"] for r in ranked.select("__t").collect()]
    merges = train_bpe(word_frequencies(texts), num_merges)
    spark = docs.sparkSession
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)], MERGES_SCHEMA
    )


def corpus_word_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    max_word_types: int = 1_000_000,
) -> DataFrame:
    """Corpus-WIDE word frequencies → (word, freq), word-TYPE-sized.

    One distributed explode + groupBy under the SAME normalization
    :func:`functions.bpe.word_frequencies` applies driver-side
    (lowercase, then split on Python ``str.split()``'s whitespace rule.
    Java's ``(?U)\\s`` is Unicode White_Space, which is ALMOST that rule
    — Python additionally treats the C0 separators U+001C-001F as
    whitespace (bidi classes B/S), so the pattern names them explicitly;
    without that a corpus with FS/GS/RS/US separators trains merges on
    words the encoder never sees — r13 review finding; pytest pins the
    two agree including those chars), so the merge learner can see the
    WHOLE corpus's
    statistics instead of a document sample while the collected relation
    stays bounded: Zipf's law makes the word-type table tiny relative to
    the corpus, and ``max_word_types`` caps it outright (top types by
    frequency, word-lexicographic tie-break so the cap is
    deterministic). Dropping the tail barely moves pair counts — a
    frequency-1 word type contributes 1 to its pairs, the head types
    contribute millions."""
    if max_word_types < 1:
        raise ValueError(f"max_word_types must be >= 1, got {max_word_types}")
    return (
        docs.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), r"(?U)[\s\x1c-\x1f]+")
            ).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word"))
        .limit(max_word_types)
    )


def train_bpe_merges_corpus(
    docs: DataFrame,
    num_merges: int = 512,
    text_col: str = "text",
    max_word_types: int = 1_000_000,
    max_collect_bytes: int = 64 << 20,
) -> DataFrame:
    """:func:`train_bpe_merges` with CORPUS-WIDE statistics: the word-
    frequency table is aggregated distributed
    (:func:`corpus_word_frequencies`), only the word-TYPE-sized
    (word, freq) relation is collected, and the same deterministic
    merge learner runs on it driver-side — so at 100 TB the training
    signal is every document's words, not a 2000-doc sample, while the
    driver materializes megabytes. With ``max_word_types`` covering the
    corpus's full vocabulary the result is EXACTLY
    ``train_bpe(word_frequencies(all texts))`` (pytest-pinned).

    ``max_collect_bytes`` guards the collect the same way
    ``train_bpe_merges``'s byte budget does — checked Spark-side on the
    capped relation before materializing, fails loud with the remedy
    named (a no-whitespace corpus can make single "words" arbitrarily
    large)."""
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    from collections import Counter

    # the cap's (freq desc, word asc) sort is a total order, so an
    # eviction-recompute selects identical rows
    with held(corpus_word_frequencies(docs, text_col, max_word_types)) as wf:
        total = wf.agg(F.sum(F.octet_length("word"))).first()[0] or 0
        if total > max_collect_bytes:
            raise ValueError(
                f"word-type relation is {total} bytes > max_collect_bytes="
                f"{max_collect_bytes}; lower max_word_types or raise the "
                "budget explicitly"
            )
        freq = Counter({r["word"]: r["freq"] for r in wf.collect()})
    merges = train_bpe(freq, num_merges)
    spark = docs.sparkSession
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)], MERGES_SCHEMA
    )


def _merge_list(merges) -> list[tuple[str, str]]:
    if isinstance(merges, DataFrame):
        return [
            (r["left"], r["right"])
            for r in sorted(merges.collect(), key=lambda r: r["rank"])
        ]
    return list(merges)


def bpe_encode(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
    emit_tokens: bool = True,
    passthrough_cols: list[str] | None = None,
    vocab=None,
) -> DataFrame:
    """Encode a corpus → (id[, passthrough...], n_tokens[, tokens or
    token_ids]).

    ``merges`` is the DataFrame from :func:`train_bpe_merges` or a
    plain merge list. The table is shipped once per executor via a
    broadcast variable; the kernel caches encodings per distinct word.
    ``emit_tokens=False`` skips materializing the token arrays — the
    token-budget / packing consumers only need counts, and at corpus
    scale the arrays are the dominant shuffle payload.
    ``passthrough_cols`` ride through the Arrow stage untouched, so
    group-wise consumers never need to join back to the corpus.
    ``vocab`` (a :func:`bpe_vocab` DataFrame or {token: id} mapping)
    switches the emitted arrays to ``token_ids ARRAY<INT>`` — symbols
    outside the vocabulary map to ``<unk>`` (0). ONE kernel serves the
    string and id paths, so their semantics cannot drift."""
    merge_rows = _merge_list(merges)
    passthrough = list(passthrough_cols or [])
    # loud boundary checks (r13 review finding — same defect class as
    # the asof right_cols fix): a missing id/passthrough column used to
    # surface as a bare KeyError from docs.schema[c], and a passthrough
    # named after a generated output column built a duplicate-field
    # schema that failed executor-side with a cryptic Arrow column-count
    # mismatch.
    reserved = {"n_tokens", "tokens", "token_ids"}
    for c in (id_col, text_col, *passthrough):
        if c not in docs.columns:
            raise ValueError(f"bpe_encode: column {c!r} not in input "
                             f"(columns: {docs.columns})")
    clashes = reserved.intersection([id_col, *passthrough])
    if clashes:
        raise ValueError(
            f"bpe_encode: column name(s) {sorted(clashes)} collide with "
            f"generated output columns {sorted(reserved)} — rename them"
        )
    vocab_map = None
    if vocab is not None:
        if isinstance(vocab, DataFrame):
            vocab_map = {r["token"]: r["id"] for r in vocab.collect()}
        else:
            vocab_map = dict(vocab)
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(merge_rows)
    bc_v = spark.sparkContext.broadcast(vocab_map)
    id_type = docs.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}"
    for c in passthrough:
        schema += f", {c} {docs.schema[c].dataType.simpleString()}"
    schema += ", n_tokens BIGINT"
    if emit_tokens:
        schema += ", token_ids ARRAY<INT>" if vocab_map is not None else ", tokens ARRAY<STRING>"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ranks = ranks_from_merges(bc.value)
        v = bc_v.value
        # size-capped memo: the cache lives for the PARTITION, and a
        # high-cardinality corpus (ids, hashes, k-mers) would otherwise
        # accumulate every word type's token list in the Python worker —
        # GB-scale on wide partitions (r12 review finding). The cap is
        # enforced inside the cache on every insert, so even ONE Arrow
        # batch can't blow past it (r13 ADVICE item); a full clear keeps
        # the Zipf hit-rate win (hot words repopulate immediately).
        cache: dict[str, list[str]] = BoundedWordCache(1_000_000)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            toks = [
                encode_text("" if t is None else str(t), ranks, cache)
                for t in pdf["__text"]
            ]
            out = {id_col: pdf["__id"]}
            for c in passthrough:
                out[c] = pdf[c]
            out["n_tokens"] = pd.Series([len(t) for t in toks], dtype="int64")
            if emit_tokens:
                if v is not None:
                    out["token_ids"] = [[v.get(t, 0) for t in ts] for ts in toks]
                else:
                    out["tokens"] = toks
            yield pd.DataFrame(out)

    src = docs.select(
        F.col(id_col).alias("__id"),
        *[F.col(c) for c in passthrough],
        F.col(text_col).alias("__text"),
    )
    return src.mapInPandas(encode, schema)


def bpe_token_budget_counts(
    docs: DataFrame,
    merges,
    group_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group real-token totals → (group, n_docs, n_tokens) — the
    input the token-budget mix planner consumes, with BPE counts in
    place of the whitespace proxy. One encode pass (counts only), one
    map-side-combinable aggregation."""
    counted = bpe_encode(
        docs,
        merges,
        text_col=text_col,
        id_col=id_col,
        emit_tokens=False,
        passthrough_cols=[group_col],
    )
    return counted.groupBy(F.col(group_col).alias("group")).agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )


def bpe_vocab(
    merges,
    docs: DataFrame | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary relation (id INT, token STRING) for a merge table —
    the storable artifact that makes :func:`bpe_encode`'s id output
    stable across runs and engines.

    With ``docs`` the base alphabet is the corpus's distinct characters
    (one explode + distinct over single characters — a tiny relation at
    any corpus scale, computed AFTER the same lowercase normalization
    the encoder applies); without it, only characters appearing in the
    merges are covered and the rest encode as ``<unk>`` (id 0)."""
    from mwas_rfam_spark.functions.bpe import vocab_from_merges

    merge_rows = _merge_list(merges)
    alphabet: list[str] = []
    if docs is not None:
        rows = (
            docs.select(
                F.explode(
                    F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "")
                ).alias("ch")
            )
            # (?U) + the C0 separators: the bare ASCII ^\s$ let Unicode
            # whitespace (NBSP, U+3000, NEL) and U+001C-1F into the base
            # alphabet as ids the encoder can never emit, displacing
            # real tokens (r13 review finding; same rule as
            # corpus_word_frequencies' split)
            .where((F.col("ch") != "") & ~F.col("ch").rlike(r"(?U)^[\s\x1c-\x1f]$"))
            .distinct()
            .collect()
        )
        alphabet = [r["ch"] for r in rows]
    spark = (docs.sparkSession if docs is not None else None)
    vocab = vocab_from_merges(merge_rows, alphabet)
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("bpe_vocab needs an active SparkSession when docs is None")
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(vocab)], "id INT, token STRING"
    )


def bpe_encode_ids(
    docs: DataFrame,
    merges,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-ready encode → (id, n_tokens, token_ids ARRAY<INT>):
    :func:`bpe_encode` with the ``vocab`` option — kept as a named
    entry point for the shard-writer consumers; the ~4-byte-per-token
    int stream replaces the string arrays."""
    return bpe_encode(
        docs, merges, text_col=text_col, id_col=id_col, emit_tokens=True, vocab=vocab
    )
