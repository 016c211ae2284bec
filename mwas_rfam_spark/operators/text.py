"""Text-analysis operators for training-data pipelines (extension surface).

Language ID (stopword-hit heuristic), quality scoring, token counting and
document fingerprinting — all as built-in column expressions (JVM-side,
codegen'd); no Python in the hot path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# minimal public stopword marker sets per language (heuristic, not a model)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "fr": ["le", "la", "les", "et", "de", "un", "est"],
    "es": ["el", "la", "los", "y", "de", "un", "es"],
    "de": ["der", "die", "das", "und", "ein", "ist"],
}


def tokens(text_col: Column) -> Column:
    """The one whitespace tokenizer: split on ``\\s+`` (ASCII
    whitespace), boundary empties removed. `trim` strips only spaces,
    so a text ending in \\n or \\t would otherwise contribute a phantom
    '' token to every count and ratio, and fabricate n-grams like 'a b '
    that match across documents on only n-1 real tokens. NULL text
    coalesces to the empty array: size(NULL) is NULL, and every
    count/ratio/fingerprint built on it would NULL-propagate, letting
    NULL-text garbage outscore real prose in quality ranking."""
    return F.array_remove(F.split(F.coalesce(text_col, F.lit("")), r"\s+"), "")


def word_ngrams(toks: str, n: int) -> Column:
    """The one word-n-gram builder: the in-order array of space-joined
    n-grams of the token array in column ``toks``, empty below n tokens.

    ``toks`` names an already-projected column, never an expression:
    Catalyst does no common-subexpression elimination inside lambda
    bodies, so an inlined ``tokens(...)`` would re-split the full text
    per ``element_at`` (n×(tokens-n) splits per doc, measured 7× slower).
    The guard is a CASE around the whole sequence: ``sequence(0, size-n)``
    with a negative end counts DOWN ([0,-1]), and ``element_at(_, 0)``
    then throws under ANSI mode (on by default in Spark 4)."""
    t = f"`{toks}`"
    parts = "".join(f", element_at({t}, i + {j})" for j in range(1, n + 1))
    return F.expr(
        f"transform(CASE WHEN size({t}) >= {n} THEN sequence(0, size({t}) - {n}) "
        f"ELSE CAST(array() AS array<int>) END, i -> concat_ws(' '{parts}))"
    )


def token_count(text_col: Column) -> Column:
    """Whitespace token count (empty and NULL text → 0)."""
    return F.size(tokens(text_col)).cast("long")


def bpe_ish_token_count(text_col: Column) -> Column:
    """BPE-flavored proxy: count of word pieces + punctuation marks via a
    regex segmentation (letters runs, digit runs, single punctuation)."""
    pieces = F.regexp_extract_all(text_col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return F.size(pieces).cast("long")


def punct_ratio(text_col: Column) -> Column:
    n_punct = F.length(text_col) - F.length(F.regexp_replace(text_col, r"[.,;:!?]", ""))
    return F.when(F.length(text_col) > 0, n_punct / F.length(text_col)).otherwise(F.lit(0.0))


def _stopword_ratio_from(ltoks: Column, lang: str = "en") -> Column:
    """stopword_ratio over an already-materialized lowercase token array."""
    markers = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
    hits = F.size(F.filter(ltoks, lambda t: F.array_contains(markers, t)))
    return F.when(F.size(ltoks) > 0, hits / F.size(ltoks)).otherwise(F.lit(0.0))


def stopword_ratio(text_col: Column, lang: str = "en") -> Column:
    return _stopword_ratio_from(tokens(F.lower(text_col)), lang)


def _mean_token_length_from(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text_col: Column) -> Column:
    """Composite quality heuristic in [0,1]: favors moderate length,
    some stopwords, low punctuation density."""
    text_col = F.coalesce(text_col, F.lit(""))  # NULL scores like empty
    length_term = F.least(token_count(text_col) / F.lit(50.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(text_col) * 5.0, F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text_col) * 10.0, F.lit(1.0))
    return (length_term + stop_term + punct_term) / 3.0


def _lang_id_from(ltoks: Column) -> Column:
    scores = []
    for lang, words in _LANG_MARKERS.items():
        markers = F.array(*[F.lit(w) for w in words])
        scores.append(
            F.struct(
                F.size(F.filter(ltoks, lambda t: F.array_contains(markers, t))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id(text_col: Column) -> Column:
    """Heuristic language ID: argmax of marker-stopword hit counts,
    'und' (undetermined) when no marker hits at all."""
    return _lang_id_from(tokens(F.lower(text_col)))


def _fingerprint_from(ltoks: Column, prefix_tokens: int = 16) -> Column:
    return F.md5(F.concat_ws(" ", F.slice(ltoks, 1, prefix_tokens)))


def fingerprint(text_col: Column, prefix_tokens: int = 16) -> Column:
    """Deterministic document fingerprint: md5 over the normalized leading
    token window (rolling-hash-style prefix signature)."""
    return _fingerprint_from(tokens(F.lower(text_col)), prefix_tokens)


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm — Schleimer,
    Wilkerson, Aiken, SIGMOD'03) as a relational plan.

    Character k-grams with positions → hash → per-position sliding-window
    minimum of the next ``w`` hashes → the distinct selected minima are
    the document's fingerprints. Guarantees: any shared substring of
    length >= k + w - 1 contributes at least one COMMON fingerprint, so
    fingerprint overlap finds local (copy-paste) duplication that
    whole-document hashing misses.

    The hash is the md5 hex string and "minimum" is lexicographic — a
    deliberate choice so an ANSI-SQL oracle reproduces the selection
    exactly. Returns (id, fingerprint) distinct rows.
    """
    from pyspark.sql import Window

    toked = docs.select(
        F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("t")
    ).where(F.length("t") >= k)
    idx = F.sequence(F.lit(1), F.length("t") - k + 1)
    grams = toked.select(
        "id",
        F.posexplode(F.transform(idx, lambda i: F.col("t").substr(i, F.lit(k)))).alias(
            "pos", "gram"
        ),
    )
    hashed = grams.select("id", "pos", F.md5("gram").alias("h"))
    win = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    selected = hashed.select("id", F.min("h").over(win).alias("fingerprint"))
    return selected.distinct()


def text_profile(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass profile table: all text metrics per document.

    The document is tokenized exactly ONCE: a lower projection materializes
    the whitespace split, the next one its lowercased mirror (a cheap
    ``transform`` over the existing array, not a second split), and every
    metric consumes those arrays. Catalyst's CollapseProject declines to
    inline a non-cheap alias referenced more than once, so the optimized
    plan keeps a single ``split`` — asserted by tests/test_text.py.
    (Previously each of the 6 token metrics re-split the full text.)
    """
    t = F.col(text_col)
    toks, ltoks = F.col("__toks"), F.col("__ltoks")
    staged = docs.select(
        F.col(id_col), t.alias("__text"), tokens(t).alias("__toks")
    ).select(
        F.col(id_col), "__text", "__toks",
        F.transform(toks, F.lower).alias("__ltoks"),
    )
    t = F.col("__text")
    metrics = staged.select(
        F.col(id_col),
        F.when(F.length(F.trim(t)) == 0, F.lit(0))
        .otherwise(F.size(toks)).cast("long").alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_pieces"),
        F.length(t).cast("long").alias("n_chars"),
        punct_ratio(t).alias("punct_ratio"),
        _stopword_ratio_from(ltoks).alias("stopword_ratio"),
        _mean_token_length_from(ltoks).alias("mean_token_len"),
        _lang_id_from(ltoks).alias("lang_pred"),
        _fingerprint_from(ltoks).alias("fingerprint"),
    )
    # quality references three sibling metrics, so it lives one projection
    # up where they are plain attributes (no expression duplication)
    quality = (
        F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0))
        + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
        + (F.lit(1.0) - F.least(F.col("punct_ratio") * 10.0, F.lit(1.0)))
    ) / 3.0
    return metrics.withColumn("quality", quality).select(
        id_col, "n_tokens", "n_pieces", "n_chars", "punct_ratio",
        "stopword_ratio", "mean_token_len", "quality", "lang_pred",
        "fingerprint",
    )


def vocabulary_topk(
    docs: DataFrame,
    k: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary: top-k tokens by term frequency with document
    frequency — the tokenizer-training / stopword-mining primitive.

    (token, tf, df, rank), rank by tf desc then token asc (deterministic).
    One explode + one groupBy (map-side combine shrinks the exchange to
    distinct tokens per partition); the global top-k is a window over the
    already-aggregated vocabulary relation, not the token stream.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("did"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count("*").alias("tf"), F.countDistinct("did").alias("df")
    )
    # top-k via orderBy+limit (TakeOrdered — per-partition heaps, no
    # single-partition shuffle of the full vocabulary); the rank window
    # then runs over only k rows
    top = counts.orderBy(F.desc("tf"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("tf"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene)
# ---------------------------------------------------------------------------

# order matters: emails before phones (an email's digits must not be
# half-eaten by the phone pattern); all patterns are deliberately
# conservative/simple — this is corpus hygiene, not a compliance scanner
_PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    # separator OPTIONAL after '(ddd)' — '(212)555-0199' is ubiquitous
    # and was never redacted (r11 review finding); it stays MANDATORY
    # after a bare area code so 10 plain digits aren't claimed
    (r"(?<!\d)(?:\+?\d{1,2}[\s.\-]?)?(?:\(\d{3}\)[\s.\-]?|\d{3}[\s.\-])\d{3}[\s.\-]\d{4}(?!\d)", "[PHONE]"),
    (r"(?<!\d)\d{3}-\d{2}-\d{4}(?!\d)", "[SSN]"),
]


def redact_pii(text_col: Column) -> Column:
    """Replace common PII shapes (emails, dotted IPv4s, NANP-style phone
    numbers, SSN-shaped triples) with typed placeholder tokens.

    Pure chained ``regexp_replace`` — JVM-side, whole-stage codegen, no
    Python in the path — so it composes with any scan at full scan
    throughput. Patterns are applied in a fixed order (emails first so
    their digit runs can't be claimed by the phone pattern)."""
    out = text_col
    for pat, repl in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redact_pii_docs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, text, n_redactions): redacted corpus plus a per-doc count of
    replaced spans (cheap signal for filtering PII-dense documents; a
    pre-existing literal placeholder in the source text would inflate
    the count — acceptable for a filtering signal)."""
    red = redact_pii(F.col(text_col))
    n = sum(
        (F.size(F.split(red, re.escape(marker), -1)) - F.lit(1))
        for marker in ("[EMAIL]", "[IP]", "[PHONE]", "[SSN]")
    )
    return docs.select(
        F.col(id_col),  # caller's id name preserved (r11 review: the
        # hard-coded 'id' alias broke every id_col-keyed join downstream)
        red.alias(text_col),
        # NULL text must count 0, not NULL-propagate (r11 review)
        F.coalesce(n.cast("long"), F.lit(0)).alias("n_redactions"),
    )


# ---------------------------------------------------------------------------
# bigram language-model scoring (perplexity-proxy quality signal)
# ---------------------------------------------------------------------------


def _bigrams(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(did, w1, w2): one row per bigram of each document's lowercased
    whitespace tokens, with a <s> sentinel so the first word is scored
    too — the one bigram stream the model's counts and its scoring share."""
    toks = docs.select(
        F.col(id_col).alias("did"),
        F.concat(F.array(F.lit("<s>")), tokens(F.lower(F.col(text_col)))).alias("toks"),
    )
    return toks.select(
        "did",
        F.explode(
            F.expr("transform(slice(toks, 1, size(toks) - 1), (w, i) -> struct(w as w1, toks[i + 1] as w2))")
        ).alias("bg"),
    ).select("did", "bg.w1", "bg.w2")


def train_bigram_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Corpus bigram/unigram counts for :func:`bigram_logprob`.

    Returns (bigrams, unigrams): (w1, w2, cnt) and (w1, cnt). One
    explode + two groupBys (map-side combine shrinks both exchanges to
    distinct keys per partition).
    """
    big = _bigrams(docs, text_col, id_col)
    bigrams = big.groupBy("w1", "w2").agg(F.count("*").alias("cnt"))
    unigrams = big.groupBy("w1").agg(F.count("*").alias("cnt"))
    return bigrams, unigrams


def bigram_logprob(
    docs: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    vocab_size: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean bigram log2-probability under the corpus model —
    a perplexity proxy: fluent in-domain text scores high, garbage and
    out-of-domain boilerplate score low (the classic LM quality filter).

    Add-one smoothing over the model's w2 vocabulary:
    P(w2|w1) = (cnt(w1,w2) + 1) / (cnt(w1) + V). All relational —
    explode the scored corpus to bigram rows, left-join the count
    relations on their natural keys (both shuffles hash on token keys;
    hot words are real mass, AQE skew-split applies), aggregate back to
    one row per document. Returns (id, n_bigrams, mean_log2p).
    """
    if vocab_size is None:
        vocab_size = bigrams.select("w2").distinct().count() or 1
    joined = (
        _bigrams(docs, text_col, id_col)
        .join(bigrams.withColumnRenamed("cnt", "cnt_bg"), ["w1", "w2"], "left")
        .join(unigrams.withColumnRenamed("cnt", "cnt_u"), ["w1"], "left")
        .select(
            "did",
            (
                F.log2(F.coalesce("cnt_bg", F.lit(0)) + F.lit(1.0))
                - F.log2(F.coalesce("cnt_u", F.lit(0)) + F.lit(float(vocab_size)))
            ).alias("log2p"),
        )
    )
    return joined.groupBy(F.col("did").alias("id")).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.avg("log2p").alias("mean_log2p"),
    )


def repetition_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_sizes: tuple = (2, 3, 4),
    dup_ngram_sizes: tuple = (5, 10),
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, table A1) per doc.

    Output (one row per input document):
      - ``n_lines``             newline-split line count
      - ``dup_line_frac``       fraction of line occurrences whose line text
                                appears >= 2 times in the document (every
                                occurrence of a repeated line counts)
      - ``dup_line_char_frac``  characters inside those repeated lines /
                                ``length(text)``
      - ``top{n}gram_char_frac``  for n in ``ngram_sizes``: characters covered
                                by the single most-repeated word n-gram
                                (count x length(gram)) / length(text)
      - ``dup{n}gram_char_frac``  for n in ``dup_ngram_sizes``: characters in
                                ALL n-grams occurring >= 2 times /
                                length(text) (overlapping grams double-count,
                                the standard approximation)

    Short/empty documents yield 0.0 for every fraction. Tokens are the
    whitespace split of the trimmed text; grams join tokens with a single
    space (so char fractions are comparable across engines regardless of the
    original inter-token whitespace).

    Scale shape: one explode over (lines + grams) -> groupBy
    (doc, kind, n, gram) with map-side combine -> groupBy(doc) pivot.
    Two shuffles, both keyed by doc-sized groups; no per-doc O(L^2) array
    expression, so million-line documents stay linear. Hot grams are
    per-document keys, so corpus-level hot shingles cannot skew a bucket.
    """
    all_ns = sorted(set(ngram_sizes) | set(dup_ngram_sizes))
    # NULL text profiles like empty text (concat of a NULL lines array
    # would otherwise NULL the whole unit array and drop the doc)
    t = F.coalesce(F.col("__text"), F.lit(""))
    staged = docs.select(
        F.col(id_col),
        F.col(text_col).alias("__text"),
        tokens(F.col(text_col)).alias("__toks"),
    ).select(
        F.col(id_col),
        F.length(t).cast("long").alias("__chars"),
        F.split(t, "\n").alias("__lines"),
        F.when(F.length(F.trim(t)) == 0, F.array()).otherwise(F.col("__toks")).alias("__toks"),
    )
    # one unit row per line (n=0) and per n-gram occurrence (n=size)
    gram_arrays = [
        F.transform(word_ngrams("__toks", n), lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram")))
        for n in all_ns
    ]
    units = staged.select(
        F.col(id_col), "__chars",
        F.explode(
            F.concat(
                # sentinel row (n=-1): keeps a doc with NO content units
                # (empty / all-blank text) in the output with zero stats
                # instead of vanishing from the profile
                F.expr("array(struct(-1 AS n, '' AS gram))"),
                # EMPTY lines are paragraph boundaries, not content: two
                # blank separator lines used to count as a duplicate
                # group, pushing ordinary multi-paragraph prose past the
                # Gopher dup-line gate (r11 review finding, verified:
                # a clean 3-paragraph doc scored dup_line_frac=0.4)
                F.expr(
                    "transform(filter(__lines, l -> l <> ''), "
                    "l -> struct(0 AS n, l AS gram))"
                ),
                *gram_arrays,
            )
        ).alias("u"),
    ).select(F.col(id_col), "__chars", F.col("u.n").alias("n"), F.col("u.gram").alias("gram"))
    counted = units.groupBy(id_col, "n", "gram").agg(
        F.count("*").alias("cnt"), F.first("__chars").alias("chars")
    )
    gram_chars = F.col("cnt") * F.length("gram")
    per_doc = counted.groupBy(id_col).agg(
        F.first("chars").alias("chars"),
        F.sum(F.when(F.col("n") == 0, F.col("cnt")).otherwise(0)).alias("n_lines"),
        F.sum(F.when((F.col("n") == 0) & (F.col("cnt") >= 2), F.col("cnt")).otherwise(0)).alias("dup_lines"),
        F.sum(F.when((F.col("n") == 0) & (F.col("cnt") >= 2), gram_chars).otherwise(0)).alias("dup_line_chars"),
        *[
            # Gopher A1 is the coverage of the MOST FREQUENT n-gram —
            # max(cnt*len) instead picked a long once-occurring gram and
            # inflated the signal with zero repetition (r11 review
            # finding, verified 0.660 vs the correct 0.283); ties on cnt
            # break to the larger coverage for determinism
            F.coalesce(
                F.max_by(
                    F.when(F.col("n") == n, gram_chars),
                    F.when(
                        F.col("n") == n,
                        F.struct(
                            F.col("cnt").alias("c"), gram_chars.alias("g")
                        ),
                    ),
                ),
                F.lit(0),
            ).alias(f"top{n}_chars")
            for n in ngram_sizes
        ],
        *[
            F.sum(F.when((F.col("n") == n) & (F.col("cnt") >= 2), gram_chars).otherwise(0)).alias(f"dup{n}_chars")
            for n in dup_ngram_sizes
        ],
    )
    safe_chars = F.greatest(F.col("chars"), F.lit(1))
    return per_doc.select(
        F.col(id_col),
        F.col("n_lines").cast("long").alias("n_lines"),
        # no content lines (empty / all-blank doc) -> 0.0, matching the
        # old empty-text behavior and keeping <=-threshold gates passing
        F.coalesce(
            F.when(
                F.col("n_lines") > 0, F.col("dup_lines") / F.col("n_lines")
            ),
            F.lit(0.0),
        ).alias("dup_line_frac"),
        (F.col("dup_line_chars") / safe_chars).alias("dup_line_char_frac"),
        *[
            (F.col(f"top{n}_chars") / safe_chars).alias(f"top{n}gram_char_frac")
            for n in ngram_sizes
        ],
        *[
            (F.col(f"dup{n}_chars") / safe_chars).alias(f"dup{n}gram_char_frac")
            for n in dup_ngram_sizes
        ],
    )


def contaminated_ids(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    threshold: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """The decision-only core of :func:`decontaminate`: one (id) row per
    training document whose distinct-shingle contamination fraction is
    ``>= threshold`` — documents with no shingles never flag, exactly as
    decontaminate's ``contaminated`` column (its ``n_shingles > 0`` gate
    is implied here: the aggregate only sees docs with at least one
    shingle row).

    Exists for composed pipelines that only consume the boolean flag
    (``curate_corpus``): decontaminate's full per-doc report relation
    needs a ``train.select(id).distinct()`` zero-fill pass, which in a
    composed plan is a THIRD full execution of the upstream corpus
    subtree (scan + quality gates + dedup window — plan-audited, r14 opt
    round; column pruning makes the three subtrees non-reusable
    exchanges). Flag consumers left-join this relation and coalesce the
    miss to False, which reproduces decontaminate's zero-fill without
    re-running the corpus (guide §2.4)."""
    from mwas_rfam_spark.operators.dedup import word_shingles

    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    tr = word_shingles(train, n, text_col, id_col)
    bench = word_shingles(benchmark, n, text_col, id_col).select("shingle").distinct()
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    marked = tr.join(bench.withColumn("hit", F.lit(1)), "shingle", "left")
    return (
        marked.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_contaminated"),
        )
        .where(F.col("n_contaminated") / F.col("n_shingles") >= threshold)
        .select(F.col("id").alias(id_col))
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    threshold: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per-training-doc n-gram overlap with an
    eval corpus (the published long-n-gram collision approach, Brown et
    al. 2020 appendix C / Chowdhery et al. 2022 §6).

    For each training document: the fraction of its DISTINCT word n-gram
    shingles that occur anywhere in ``benchmark``. Output one row per
    training document (including documents too short to shingle):

      (id, n_shingles, n_contaminated, contamination, contaminated)

    where ``contamination = n_contaminated / n_shingles`` (0.0 when the
    document has no shingles) and ``contaminated = contamination >=
    threshold AND n_shingles > 0``.

    Scale shape: the benchmark side collapses to DISTINCT shingles before
    the join — eval sets are tiny relative to a 100 TB training corpus, so
    it broadcasts (``broadcast_benchmark``; set False for a giant
    benchmark union, where the equi-join shuffles on the shingle hash).
    Training text never ships: only exploded (id, shingle) rows flow, and
    they aggregate straight back down to one row per id. A corpus-hot
    shingle is NOT a skew key here — the contaminated side is deduped, so
    each training shingle row matches at most one benchmark row.
    """
    from mwas_rfam_spark.operators.dedup import word_shingles

    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    tr = word_shingles(train, n, text_col, id_col)
    bench = word_shingles(benchmark, n, text_col, id_col).select("shingle").distinct()
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    marked = tr.join(bench.withColumn("hit", F.lit(1)), "shingle", "left")
    stats = marked.groupBy("id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_contaminated"),
    )
    return (
        train.select(F.col(id_col).alias("id")).distinct()
        .join(stats, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_contaminated") / F.col("n_shingles"), F.lit(0.0)), 6
            ).alias("contamination"),
            (
                (
                    F.coalesce(F.col("n_contaminated") / F.col("n_shingles"), F.lit(0.0))
                    >= threshold
                )
                & (F.coalesce("n_shingles", F.lit(0)) > 0)
            ).alias("contaminated"),
        )
    )


_MARKUP_STEPS = [
    (r"(?is)<(script|style)\b[^>]*>.*?</\1>", " "),  # blocks WITH content
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]+>", " "),
    # &amp; decodes LAST: decoding it first turns an author's escaped
    # '&amp;lt;' into a live entity the &lt; step double-decodes
    # (r11 review finding, verified on documentation-style crawls)
    (r"&nbsp;", " "), (r"&lt;", "<"), (r"&gt;", ">"),
    (r"&quot;", "\""), (r"&#39;", "'"), (r"&amp;", "&"),
    (r"\s+", " "),
]


def strip_markup(text_col: Column) -> Column:
    """Boilerplate text extraction: drop script/style blocks (with their
    content), comments and tags, decode the common entities, collapse
    whitespace. Chained ``regexp_replace`` — JVM codegen, composes with
    any scan at scan throughput; the standard first stage before quality
    scoring on web-crawled corpora."""
    out = text_col
    for pat, repl in _MARKUP_STEPS:
        out = F.regexp_replace(out, pat, repl)
    return F.trim(out)


def tfidf_top_terms(
    docs: DataFrame,
    k_per_doc: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k characteristic terms by TF-IDF — keyword
    extraction / topic tagging over a corpus.

    (id, token, tf, df, tfidf, rank): tf is the in-document count, df the
    corpus document frequency, tfidf = tf * ln((N + 1) / (df + 1)) (the
    smoothed IDF that never goes negative and needs no special case for
    df == N). N is carried as a broadcast scalar subplan (count agg
    crossJoined), not a driver-side collect.

    Two shuffles total: token -> (id, token) counts with map-side
    combine, then the df lookup joins back on token (corpus-hot tokens
    get LOW idf — skew keys are exactly the ones whose final weight
    rounds to nothing, and AQE splits them if they still dominate).
    Per-doc top-k is the two-phase window shape (task-local prefilter,
    then exact rank) so parallelism never collapses to the doc count.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    tf = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    df_rel = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.select(
        F.countDistinct(F.col(id_col)).alias("__n")
    )
    scored = (
        tf.join(df_rel, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((F.col("__n") + 1) / (F.col("df") + 1)),
        )
        .drop("__n")
    )
    order = [F.desc("tfidf"), F.asc("token")]
    w_local = Window.partitionBy("id", F.spark_partition_id()).orderBy(*order)
    cand = (
        scored.withColumn("_lr", F.row_number().over(w_local))
        .where(F.col("_lr") <= k_per_doc)
        .drop("_lr")
    )
    w = Window.partitionBy("id").orderBy(*order)
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k_per_doc)
        .select(
            F.col("id").alias(id_col), "token", "tf", "df",
            F.round("tfidf", 6).alias("tfidf"), "rank",
        )
    )


# ------------------------------------------------- unicode normalization

#: substrings whose presence signals mojibake (UTF-8 text wrongly
#: decoded as latin-1/cp1252): the latin-1 readings of UTF-8 lead bytes.
_MOJIBAKE_MARKERS = ("Ã", "Â", "â€", "à¸")


def _fix_mojibake_str(t: str) -> tuple[str, bool]:
    """Repair UTF-8-decoded-as-latin-1/cp1252 text ('cafÃ©' → 'café').

    Heuristic, conservative: only attempted when a marker pattern is
    present; the repair must round-trip (encode latin-1/cp1252 → decode
    utf-8 strictly) AND strictly reduce the marker count, otherwise the
    original text is kept. Applied repeatedly (double-encoded text
    exists) with a small bound."""
    changed = False
    for _ in range(3):
        if not any(m in t for m in _MOJIBAKE_MARKERS):
            break
        before = sum(t.count(m) for m in _MOJIBAKE_MARKERS)
        repaired = None
        for enc in ("latin-1", "cp1252"):
            try:
                cand = t.encode(enc).decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                continue
            if sum(cand.count(m) for m in _MOJIBAKE_MARKERS) < before:
                repaired = cand
                break
        if repaired is None:
            break
        t = repaired
        changed = True
    return t, changed


#: C0/C1 controls (except tab/newline), BOM, zero-width space — the
#: invisible code points that split tokens and poison fingerprints.
#: separator-class controls (VT/FF/CR) REPLACE with a space — they are
#: \s-class token boundaries, and deleting them glued adjacent words
#: into one bogus token ('line one\rline two' -> 'line oneline two';
#: r11 review finding, verified) — the rest delete outright
_CTRL_SEP_RE = re.compile("[\x0b-\x0d]")
_CTRL_RE = re.compile("[\x00-\x08\x0e-\x1f\x7f-\x9f\ufeff\u200b]")


def normalize_unicode_docs(
    docs: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    fix_mojibake: bool = True,
    strip_control: bool = True,
) -> DataFrame:
    """Unicode hygiene for raw corpora → same schema with ``text_col``
    normalized plus (was_mojibake, was_changed) flags.

    Three standard cleaning steps every ingest pipeline needs before
    hashing/dedup (byte-different spellings of the SAME text defeat
    every exact/near-dup family downstream):

    * mojibake repair (UTF-8 read as latin-1/cp1252 — 'cafÃ©'):
      conservative round-trip heuristic, see :func:`_fix_mojibake_str`;
    * Unicode normalization to ``form`` (NFC default: composed forms,
      so 'é' and 'e'+combining-accent hash identically; NFKC folds
      compatibility forms — ligatures, fullwidth — more aggressively);
    * control-character strip (C0/C1 except tab/newline, plus BOM and
      zero-width space — the invisible code points that split tokens
      and poison fingerprints).

    Python is justified here: Unicode normalization tables and encoding
    round-trips have no Catalyst expression; the kernel is Arrow-batched
    over ``mapInPandas``, one pass, map-only (no shuffle at any size).
    NULL text passes through unchanged. Idempotent: a second pass is a
    no-op — the strip runs BEFORE normalization, so removing an
    invisible code point between a base and its combining mark still
    yields composed output (strip-after would leave decomposed text and
    a second pass would change it again); re-applying to its own output
    replaces the flag columns rather than duplicating them."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"form must be a unicodedata form, got {form!r}")
    docs = docs.drop("was_mojibake", "was_changed")
    schema = T.StructType(
        list(docs.schema.fields)
        + [
            T.StructField("was_mojibake", T.BooleanType()),
            T.StructField("was_changed", T.BooleanType()),
        ]
    )

    def kernel(batches):
        import unicodedata

        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts, moji, chg = [], [], []
            for t in pdf[text_col]:
                if t is None:
                    texts.append(None)
                    moji.append(False)
                    chg.append(False)
                    continue
                orig = t
                m = False
                if fix_mojibake:
                    t, m = _fix_mojibake_str(t)
                if strip_control:
                    t = _CTRL_SEP_RE.sub(" ", t)
                    t = _CTRL_RE.sub("", t)
                t = unicodedata.normalize(form, t)
                texts.append(t)
                moji.append(m)
                chg.append(t != orig)
            out = pdf.copy()
            out[text_col] = texts
            out["was_mojibake"] = moji
            out["was_changed"] = chg
            yield out

    return docs.mapInPandas(kernel, schema)


def compression_ratio(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio → (id_col, n_bytes,
    compressed_bytes, compression_ratio = utf8_bytes / compressed) —
    the classic cheap repetitiveness signal (deduplicated-web curation
    uses it next to the Gopher gates: boilerplate, keyword stuffing and
    generated spam compress far better than natural prose, which sits
    around ~2–3×; ratios ≫ 4 flag machine-repetitive text that n-gram
    gates can miss when the repetition unit is long). ``n_bytes`` is
    the UTF-8 byte length (what zlib actually saw — NOT a character
    count; CJK text is ~3 bytes/char).

    Arrow-batched ``mapInPandas`` over stdlib zlib — Python is
    unavoidable (no zlib in Catalyst) but the pass is shuffle-free and
    map-only; compose the ratio with `quality_score` /
    `repetition_profile` in one curation gate. The id column passes
    through with its own type and nullability (dirty corpora carry
    NULL ids; a gate decides, not a task crash); NULL/empty text →
    NULL ratio."""
    import zlib as _zlib

    lvl = int(level)
    id_t = dict(docs.dtypes)[id_col]
    out_schema = (
        f"`{id_col}` {id_t}, n_bytes int, compressed_bytes int, "
        "compression_ratio double"
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            nbytes, comp, ratio = [], [], []
            for t in pdf[text_col]:
                if t is None or t == "":
                    nbytes.append(0)
                    comp.append(0)
                    ratio.append(None)
                    continue
                raw = t.encode("utf-8")
                c = len(_zlib.compress(raw, lvl))
                nbytes.append(len(raw))
                comp.append(c)
                ratio.append(len(raw) / c)
            res = pdf[[id_col]].copy()  # id passes through: type + nulls
            res["n_bytes"] = pd.Series(nbytes, dtype="int32", index=pdf.index)
            res["compressed_bytes"] = pd.Series(comp, dtype="int32", index=pdf.index)
            res["compression_ratio"] = pd.Series(
                ratio, dtype="float64", index=pdf.index
            )
            yield res

    return docs.select(id_col, text_col).mapInPandas(kernel, out_schema)
