"""CLI entry point — the reference's ``python mwas_general.py data.csv
[flags]`` surface (main/mwas_general.py:703-788) on the Spark engine.

    python -m mwas_rfam_spark INPUT.csv --catalog CATALOG.parquet \
        --metadata-long META.parquet --output OUT_DIR [flags]

Inputs:
  INPUT.csv          3 columns, positional (run, group, quantifier)
  --catalog          parquet with (bio_project, bio_sample, run, spots)
  --metadata-long    parquet with (bioproject, biosample_id, attribute,
                     attr_pos, value) — the melted form of the per-
                     BioProject metadata (see sources.readers)

Flags mirror the reference CLI: --explicit-zeros, --already-normalized,
--t-test-only, --p-value-threshold, --group-nonzeros-threshold,
--resamples, --combine-outputs, --blacklist, --cache-dir (F11 reuse).
"""

from __future__ import annotations

import argparse
import sys
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def _cli_session(spark: SparkSession | None, app_name: str):
    """Yield the caller's session, or a new one (``app_name``) that is
    stopped when the block exits."""
    if spark is not None:
        yield spark
        return
    from .session import get_spark

    spark = get_spark(app_name=app_name)
    try:
        yield spark
    finally:
        spark.stop()


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mwas_rfam_spark", description=__doc__)
    p.add_argument("input_csv")
    p.add_argument("--catalog", required=True)
    p.add_argument("--metadata-long", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--explicit-zeros", action="store_true")
    p.add_argument("--already-normalized", action="store_true")
    p.add_argument("--t-test-only", action="store_true")
    p.add_argument("--p-value-threshold", type=float, default=0.005)
    p.add_argument("--group-nonzeros-threshold", type=int, default=3)
    p.add_argument("--resamples", type=int, default=10_000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--combine-outputs", action="store_true")
    p.add_argument("--blacklist", nargs="*", default=[])
    p.add_argument("--cache-dir", default=None)
    p.add_argument("--output-format", choices=["parquet", "csv"], default="csv")
    # legacy-generation parity (old/mwas_rfam.py:100-111,369-370)
    p.add_argument("--legacy-output", action="store_true")
    # the old generation's narrow 13-column schema (old/mwas_rfam.py:11-12)
    p.add_argument("--legacy-13col", action="store_true")
    # accounting relation (S12, converter_.py:72-117) written next to results
    p.add_argument("--accounting", action="store_true")
    return p


def build_curate_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark curate",
        description="Corpus curation: quality gates -> keep-first dedup -> "
        "benchmark decontamination -> PII redaction -> epoch shuffle-shard.",
    )
    p.add_argument("input", help="documents parquet path or JSONL dir")
    p.add_argument("--input-format", choices=["parquet", "jsonl"], default="parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--benchmark", default=None, help="eval-set parquet (decontamination)")
    p.add_argument("--min-tokens", type=int, default=5)
    p.add_argument("--max-tokens", type=int, default=1_000_000)
    p.add_argument("--langs", nargs="*", default=None)
    p.add_argument("--max-dup-line-frac", type=float, default=None,
                   help="Gopher repetition gate: drop docs above this dup-line fraction")
    p.add_argument("--normalize-unicode", action="store_true",
                   help="unicode hygiene (mojibake repair, NFC, invisible strip) "
                        "before any hashing stage")
    p.add_argument("--dedup-lines", action="store_true",
                   help="C4-style cross-document line dedup before the quality gates")
    p.add_argument("--min-dedup-line-len", type=int, default=0,
                   help="lines shorter than this are never line-deduped")
    p.add_argument("--decontam-n", type=int, default=8)
    p.add_argument("--decontam-threshold", type=float, default=0.05)
    p.add_argument("--no-redact", action="store_true")
    p.add_argument("--quality-model", default=None,
                   help="(bucket, weight) parquet: linear classifier gate")
    p.add_argument("--quality-model-threshold", type=float, default=0.5)
    p.add_argument("--quality-model-bias", type=float, default=0.0)
    p.add_argument("--shards", type=int, default=None,
                   help="write epoch-ordered shard dirs instead of a flat parquet")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--accounting", action="store_true",
                   help="write per-stage drop counts next to the output")
    return p


def curate_main(argv: list[str], spark: SparkSession | None = None) -> int:
    from .operators.curation import curate_corpus
    from .pinning import pin
    from .sources.readers import read_documents_jsonl
    from .sources.sinks import write_training_shards

    args = build_curate_parser().parse_args(argv)
    with _cli_session(spark, "curate-cli") as spark:
        if args.input_format == "jsonl":
            docs = read_documents_jsonl(spark, args.input).where(
                "_corrupt_record IS NULL"
            ).drop("_corrupt_record")
        else:
            docs = spark.read.parquet(args.input)
        bench = spark.read.parquet(args.benchmark) if args.benchmark else None
        kw = dict(
            min_tokens=args.min_tokens,
            max_tokens=args.max_tokens,
            allowed_langs=tuple(args.langs) if args.langs else None,
            max_dup_line_frac=args.max_dup_line_frac,
            decontam_n=args.decontam_n,
            decontam_threshold=args.decontam_threshold,
            normalize_unicode=args.normalize_unicode,
            dedup_lines=args.dedup_lines,
            min_dedup_line_len=args.min_dedup_line_len,
            quality_model_weights=(
                spark.read.parquet(args.quality_model)
                if args.quality_model
                else None
            ),
            quality_model_threshold=args.quality_model_threshold,
            quality_model_bias=args.quality_model_bias,
        )
        from pyspark.sql import functions as F

        if args.accounting:
            # ONE mark-mode pipeline feeds BOTH outputs: the marked
            # frame filters to the same survivors as filter mode
            # (curation.py's documented+tested contract), so running
            # the full gate->dedup->decontam pipeline a second time
            # just for stage counts doubled the subcommand's most
            # expensive jobs — and the second run silently dropped
            # redact=not args.no_redact (r13 review findings). The pin
            # lets the kept write and the accounting aggregate share
            # one execution.
            marked = pin(
                curate_corpus(docs, bench, mode="mark", redact=not args.no_redact, **kw),
                "curate_main:marked",
                eager=False,
            )
            kept = marked.where(F.col("drop_stage") == "kept").drop("drop_stage")
        else:
            kept = curate_corpus(docs, bench, redact=not args.no_redact, **kw)
        if args.shards:
            write_training_shards(kept, args.output, n_shards=args.shards, seed=args.seed)
        else:
            kept.write.mode("overwrite").parquet(args.output)
        if args.accounting:
            marked.groupBy("drop_stage").count().coalesce(1).write.mode(
                "overwrite"
            ).csv(f"{args.output.rstrip('/')}/_accounting", header=True)
        return 0


def build_select_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark select",
        description="Training-data selection: DSIR importance resampling "
        "against a target corpus, linear quality-score gating, or "
        "cluster-balanced embedding sampling.",
    )
    sub = p.add_subparsers(dest="op", required=True)
    ds = sub.add_parser("dsir", help="importance-resample k docs that look like --target")
    ds.add_argument("input", help="raw documents parquet")
    ds.add_argument("--target", required=True, help="target documents parquet")
    ds.add_argument("--output", required=True)
    ds.add_argument("-k", type=int, required=True)
    ds.add_argument("--seed", type=int, default=0)
    ds.add_argument("--temperature", type=float, default=1.0)
    ds.add_argument("--buckets", type=int, default=4096)
    qs = sub.add_parser("quality", help="gate docs by a linear classifier score")
    qs.add_argument("input", help="documents parquet")
    qs.add_argument("--weights", required=True, help="(bucket, weight) parquet model")
    qs.add_argument("--output", required=True)
    qs.add_argument("--bias", type=float, default=0.0)
    qs.add_argument("--threshold", type=float, default=0.5)
    qs.add_argument("--buckets", type=int, default=4096)
    cs = sub.add_parser("cluster", help="cluster-balanced embedding sample")
    cs.add_argument("input", help="embeddings parquet")
    cs.add_argument("--output", required=True)
    cs.add_argument("--clusters", type=int, default=16)
    cs.add_argument("--per-cluster", type=int, required=True)
    cs.add_argument("--iters", type=int, default=3)
    mx = sub.add_parser(
        "mix", help="temperature-rebalance sources (n^alpha mixture weights)"
    )
    mx.add_argument("input", help="documents parquet")
    mx.add_argument("--output", default=None,
                    help="output parquet (required unless --report-only)")
    mx.add_argument("--alpha", type=float, default=0.5)
    mx.add_argument("--target-rows", type=int, default=None)
    mx.add_argument("--source-col", default="source")
    mx.add_argument("--seed", type=int, default=0)
    mx.add_argument("--no-upsample", action="store_true",
                    help="cap boosted sources at one full pass")
    mx.add_argument("--report-only", action="store_true",
                    help="print the per-source plan without writing a mix")
    return p


def select_main(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_select_parser().parse_args(argv)
    with _cli_session(spark, "select-cli") as spark:
        if args.op == "dsir":
            from .operators.selection import importance_resample

            out = importance_resample(
                spark.read.parquet(args.input),
                spark.read.parquet(args.target),
                k=args.k,
                seed=args.seed,
                temperature=args.temperature,
                n_buckets=args.buckets,
            )
            out.write.mode("overwrite").parquet(args.output)
            # count the WRITTEN parquet — re-counting `out` would re-run
            # both featurization passes and the top-k from scratch
            print(f"selected {spark.read.parquet(args.output).count()} document(s)")
        elif args.op == "quality":
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            from .operators.selection import score_quality_linear

            docs = spark.read.parquet(args.input)
            scored = score_quality_linear(
                docs,
                spark.read.parquet(args.weights),
                bias=args.bias,
                n_buckets=args.buckets,
                threshold=args.threshold,
            )
            # both message counts ride the WRITE job as observation
            # metrics — the former `docs.count()` denominator launched
            # a second full input scan just for the log line (r13
            # review finding)
            obs = Observation("select-quality")
            observed = scored.observe(
                obs,
                F.count(F.lit(1)).alias("n_total"),
                F.count_if(F.col("keep")).alias("n_kept"),
            )
            kept = docs.join(
                observed.where("keep").select("doc_id"), "doc_id", "left_semi"
            )
            kept.write.mode("overwrite").parquet(args.output)
            m = obs.get
            print(f"kept {m['n_kept']} of {m['n_total']} document(s)")
        elif args.op == "mix":
            from .operators.selection import (
                _source_counts,
                mix_report,
                temperature_mix,
            )

            if not args.report_only and args.output is None:
                raise SystemExit("select mix: --output is required unless --report-only")
            docs = spark.read.parquet(args.input)
            # count once, feed both the report and the mix
            counts = _source_counts(docs, args.source_col, "select mix")
            rep = mix_report(
                docs, alpha=args.alpha, target_rows=args.target_rows,
                source_col=args.source_col,
                allow_upsample=not args.no_upsample, counts=counts,
            )
            for r in rep.collect():
                print(
                    f"{r[args.source_col]}: {r['n_docs']} docs "
                    f"(share {r['natural_share']:.4f}) -> {r['target_rows']} rows "
                    f"(share {r['mixed_share']:.4f}, {r['epochs']:.2f} epochs)"
                )
            if not args.report_only:
                out = temperature_mix(
                    docs, alpha=args.alpha, target_rows=args.target_rows,
                    source_col=args.source_col, seed=args.seed,
                    allow_upsample=not args.no_upsample, counts=counts,
                )
                out.write.mode("overwrite").parquet(args.output)
                print(f"mixed {spark.read.parquet(args.output).count()} row(s)")
        else:
            from .operators.similarity import (
                cluster_balanced_sample,
                train_ivf_centroids,
            )

            emb = spark.read.parquet(args.input)
            cents = train_ivf_centroids(emb, k=args.clusters, iters=args.iters)
            out = cluster_balanced_sample(emb, cents, per_cluster=args.per_cluster)
            out.write.mode("overwrite").parquet(args.output)
            print(
                f"sampled {spark.read.parquet(args.output).count()} vector(s) "
                f"from {args.clusters} cluster(s)"
            )
        return 0


def build_validate_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark validate",
        description="Data-quality gate: evaluate a JSON rule file "
        "against a parquet table; print the one-row report; optionally "
        "write the quarantine relation. Exit code 1 when violations "
        "exist (pipeline-gate friendly).",
    )
    p.add_argument("input", help="parquet path")
    p.add_argument("--rules", required=True,
                   help='JSON: {"rules": [{"type": "not_null"|"in_range"|'
                        '"regex", "col": ..., ("lo"/"hi"/"pattern")...}], '
                        '"unique": [["col", ...]], "foreign_keys": '
                        '[{"col": ..., "ref": "path.parquet", '
                        '"ref_col": ...}]}')
    p.add_argument("--quarantine", default=None,
                   help="write failing rows (with reasons) to this path")
    return p


def validate_main(argv: list[str], spark: SparkSession | None = None) -> int:
    import json

    from .operators import validation as V

    args = build_validate_parser().parse_args(argv)
    with open(args.rules) as f:
        spec = json.load(f)
    with _cli_session(spark, "validate-cli") as spark:
        from pyspark.sql import functions as F

        # "expr" is the cross-column / arbitrary-SQL constraint: any
        # boolean expression, named (library escape hatch V.satisfies)
        builders = {
            "not_null": (("col",), V.not_null),
            "in_range": (("col", "lo", "hi"), V.in_range),
            "regex": (("col", "pattern"), V.matches_regex),
            "expr": (("name", "sql"),
                     lambda name, sql: V.satisfies(name, F.expr(sql))),
        }
        rules = []
        for i, r in enumerate(spec.get("rules", [])):
            kind = r.get("type")
            if kind not in builders:
                raise ValueError(f"rules[{i}] has unknown rule type: {kind!r}")
            keys, build = builders[kind]
            # ONLY the r[...] accesses sit inside the try: a KeyError
            # raised inside a V.* constructor or F.expr was mis-reported
            # as a missing JSON key with its real stack suppressed (r13
            # review finding)
            try:
                vals = [r[k] for k in keys]
            except KeyError as e:
                raise ValueError(
                    f"rules[{i}] is missing key {e.args[0]!r}: {r}"
                ) from None
            rules.append(build(*vals))
        unique = spec.get("unique", [])
        # a flat ["col"] instead of [["col"]] would iterate the string
        # character-by-character — reject malformed shapes loudly
        if not all(
            isinstance(ks, list) and all(isinstance(c, str) for c in ks)
            for ks in unique
        ):
            raise ValueError(
                f'"unique" must be a list of column-name LISTS, got {unique}'
            )
        fks = []
        for i, fk in enumerate(spec.get("foreign_keys", [])):
            try:
                fks.append(
                    (fk["col"], spark.read.parquet(fk["ref"]), fk["ref_col"])
                )
            except KeyError as e:
                raise ValueError(
                    f"foreign_keys[{i}] is missing key {e.args[0]!r}: {fk}"
                ) from None
        df = spark.read.parquet(args.input)
        report = V.validate(df, rules, unique=unique, foreign_keys=fks).collect()[0]
        for k, v in report.asDict().items():
            print(f"{k}={v}")
        if args.quarantine:
            V.quarantine(df, rules, unique=unique, foreign_keys=fks).write.mode(
                "overwrite"
            ).parquet(args.quarantine)
        return 0 if report["ok"] else 1


def build_split_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark split",
        description="Deterministic train/val/test assignment: md5-range "
        "hash split, optionally LEAKAGE-SAFE (split by duplicate "
        "cluster so near-dups never straddle the boundary).",
    )
    p.add_argument("input", help="documents parquet")
    p.add_argument("--output", required=True)
    p.add_argument(
        "--fractions",
        required=True,
        help="label=frac comma list, e.g. train=0.9,val=0.05,test=0.05",
    )
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument(
        "--clusters",
        default=None,
        help="(id, cluster_id) parquet from dedup_clusters — enables the "
        "leakage-safe unit",
    )
    return p


def split_main(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_split_parser().parse_args(argv)
    fractions = {}
    for part in args.fractions.split(","):
        name, _, frac = part.partition("=")
        if not _:
            raise SystemExit(f"bad --fractions entry: {part!r} (want label=frac)")
        try:
            fractions[name.strip()] = float(frac)
        except ValueError:
            raise SystemExit(
                f"bad --fractions entry: {part!r} (fraction is not a number)"
            ) from None
    with _cli_session(spark, "split-cli") as spark:
        from .plans.sampling import hash_split, leakage_safe_split

        docs = spark.read.parquet(args.input)
        if args.clusters:
            out = leakage_safe_split(
                docs,
                spark.read.parquet(args.clusters),
                fractions,
                seed=args.seed,
                id_col=args.id_col,
            )
        else:
            out = hash_split(docs, fractions, seed=args.seed, id_col=args.id_col)
        out.write.mode("overwrite").partitionBy("split").parquet(args.output)
        from pyspark.sql import functions as F

        for r in (
            spark.read.parquet(args.output)
            .groupBy("split")
            .agg(F.count("*").alias("n"))
            .orderBy("split")
            .collect()
        ):
            print(f"{r['split']}={r['n']}")
        return 0


def build_drift_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark drift",
        description="Distribution drift between two corpus snapshots: "
        "exact two-sample KS on numeric columns, PSI on categorical "
        "columns. Exit code 2 when any watched column is flagged and "
        "--fail-on-drift is set (CI-gate shape).",
    )
    p.add_argument("baseline", help="baseline snapshot parquet")
    p.add_argument("candidate", help="candidate snapshot parquet")
    p.add_argument("--numeric", default="", help="comma list of numeric columns")
    p.add_argument("--categorical", default="", help="comma list of categorical columns")
    p.add_argument("--ks-threshold", type=float, default=0.1)
    p.add_argument("--psi-threshold", type=float, default=0.25)
    p.add_argument(
        "--numeric-mode",
        choices=("exact", "binned"),
        default="exact",
        help="numeric scoring: exact KS or baseline-quantile binned PSI",
    )
    p.add_argument("--bins", type=int, default=10, help="bins for --numeric-mode binned")
    p.add_argument("--embedding-col", default=None,
                   help="embedding drift mode: project both sides onto the "
                        "baseline's top --components PCs and KS each")
    p.add_argument("--components", type=int, default=4,
                   help="retained PCs for --embedding-col")
    p.add_argument("--output", default=None, help="optional report parquet path")
    p.add_argument("--fail-on-drift", action="store_true")
    return p


def drift_main(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_drift_parser().parse_args(argv)
    numeric = [c.strip() for c in args.numeric.split(",") if c.strip()]
    categorical = [c.strip() for c in args.categorical.split(",") if c.strip()]
    if not numeric and not categorical and not args.embedding_col:
        raise SystemExit(
            "drift: need --numeric and/or --categorical columns, or --embedding-col"
        )
    if args.embedding_col and (numeric or categorical):
        # silently scoring only the PCs while the caller named scalar
        # columns would be a monitoring gap; make the modes explicit
        raise SystemExit(
            "drift: --embedding-col is its own mode; run scalar columns "
            "as a separate invocation"
        )
    with _cli_session(spark, "drift-cli") as spark:
        from .operators.drift import drift_report, embedding_drift_report

        if args.embedding_col:
            rep = embedding_drift_report(
                spark.read.parquet(args.baseline),
                spark.read.parquet(args.candidate),
                k=args.components,
                ks_threshold=args.ks_threshold,
                vec_col=args.embedding_col,
            )
        else:
            rep = drift_report(
                spark.read.parquet(args.baseline),
                spark.read.parquet(args.candidate),
                numeric_cols=numeric,
                categorical_cols=categorical,
                ks_threshold=args.ks_threshold,
                psi_threshold=args.psi_threshold,
                numeric_mode=args.numeric_mode,
                bins=args.bins,
            )
        rows = rep.collect()
        if args.output:
            spark.createDataFrame(rows, rep.schema).write.mode("overwrite").parquet(
                args.output
            )
        flagged = 0
        for r in rows:
            mark = "DRIFT" if r["flagged"] else "ok"
            print(f"{r['column']}\t{r['kind']}\t{r['statistic']}={r['value']}\t{mark}")
            flagged += int(bool(r["flagged"]))
        if flagged and args.fail_on_drift:
            return 2
        return 0


def build_report_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark report",
        description="One-row corpus health report: doc/token counts, "
        "length percentiles, empty fraction, estimated duplicate rate "
        "and vocabulary (HLL).",
    )
    p.add_argument("input", help="documents parquet")
    p.add_argument("--text-col", default="text")
    p.add_argument("--output", default=None, help="optional report parquet path")
    return p


def report_main(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_report_parser().parse_args(argv)
    with _cli_session(spark, "report-cli") as spark:
        from .operators.summary import corpus_report

        rep = corpus_report(
            spark.read.parquet(args.input), text_col=args.text_col
        )
        rows = rep.collect()
        for field in rep.schema.fieldNames():
            print(f"{field}\t{rows[0][field]}")
        if args.output:
            spark.createDataFrame(rows, rep.schema).write.mode("overwrite").parquet(
                args.output
            )
        return 0


def build_index_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark index",
        description="Materialized retrieval indexes: term-bucketed BM25 "
        "postings (kind=text) or cell-partitioned IVF vectors "
        "(kind=ann). 'append' extends an existing index with NEW "
        "rows only (feed the diff CLI's added slice); 'remove' deletes "
        "departed rows (feed the removed slice — it carries the old "
        "text/vectors that locate the touched partitions). Both are "
        "score-identical to a full rebuild.",
    )
    p.add_argument("kind", choices=("text", "ann", "ivfpq"))
    p.add_argument("op", choices=("build", "append", "remove"))
    p.add_argument("input", help="documents (text) or embeddings (ann/ivfpq) parquet")
    p.add_argument("--path", required=True, help="index root")
    p.add_argument(
        "--buckets", type=int, default=64,
        help="text build: term buckets (append reuses the stored count)",
    )
    p.add_argument("--cells", type=int, default=32, help="ann/ivfpq build: IVF cells")
    p.add_argument("--iters", type=int, default=2, help="ann/ivfpq build: Lloyd iterations")
    p.add_argument("--subspaces", type=int, default=8,
                   help="ivfpq build: PQ subspaces (dim must divide)")
    p.add_argument("--pq-k", type=int, default=32,
                   help="ivfpq build: centroids per PQ codebook")
    p.add_argument("--residual", action=argparse.BooleanOptionalAction,
                   default=True,
                   help="ivfpq build: encode residuals to the coarse "
                        "centroid (faiss default; DEFAULT since r11 — "
                        "probe r9o measured +86%% recall@10@rerank=100 on "
                        "a clustered corpus, never worse; the build trains "
                        "the codebooks on residuals to match. "
                        "--no-residual keeps the raw-vector encoding)")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default=None, help="default: doc_id (text) / vec_id (ann)")
    p.add_argument("--vec-col", default="embedding")
    return p


def index_main(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_index_parser().parse_args(argv)
    with _cli_session(spark, "index-cli") as spark:
        df = spark.read.parquet(args.input)
        if args.kind == "text":
            from .operators.retrieval import (
                append_text_index,
                materialize_text_index,
                remove_from_text_index,
            )

            id_col = args.id_col or "doc_id"
            if args.op == "build":
                materialize_text_index(
                    df, args.path, n_buckets=args.buckets,
                    text_col=args.text_col, id_col=id_col,
                )
            elif args.op == "append":
                append_text_index(df, args.path, text_col=args.text_col, id_col=id_col)
            else:
                remove_from_text_index(
                    df, args.path, text_col=args.text_col, id_col=id_col
                )
        elif args.kind == "ann":
            from .operators.similarity import (
                append_ivf_index,
                materialize_ivf,
                train_ivf_centroids,
            )

            id_col = args.id_col or "vec_id"
            if args.op == "build":
                cents = train_ivf_centroids(
                    df, k=args.cells, iters=args.iters,
                    id_col=id_col, vec_col=args.vec_col,
                )
                materialize_ivf(df, cents, args.path, id_col=id_col, vec_col=args.vec_col)
            elif args.op == "append":
                append_ivf_index(df, args.path, id_col=id_col, vec_col=args.vec_col)
            else:
                from .operators.similarity import remove_from_ivf_index

                remove_from_ivf_index(df, args.path, id_col=id_col, vec_col=args.vec_col)
        else:  # ivfpq
            from .operators.quantization import (
                append_ivfpq_index,
                materialize_ivfpq,
                remove_from_ivfpq_index,
                train_pq_codebooks,
            )
            from .operators.similarity import train_ivf_centroids

            id_col = args.id_col or "vec_id"
            if args.op == "build":
                cents = train_ivf_centroids(
                    df, k=args.cells, iters=args.iters,
                    id_col=id_col, vec_col=args.vec_col,
                )
                books = train_pq_codebooks(
                    df, m=args.subspaces, k=args.pq_k,
                    id_col=id_col, vec_col=args.vec_col,
                    # a residual index needs residual-TRAINED codebooks
                    # (raw-trained ones explode the quantization error)
                    residual_centroids=cents if args.residual else None,
                )
                materialize_ivfpq(
                    df, cents, books, args.path, id_col=id_col,
                    vec_col=args.vec_col, residual=args.residual,
                )
            elif args.op == "append":
                append_ivfpq_index(df, args.path, id_col=id_col, vec_col=args.vec_col)
            else:
                remove_from_ivfpq_index(df, args.path, id_col=id_col, vec_col=args.vec_col)
        print(f"{args.kind} index {args.op} complete at {args.path}")
        return 0


def build_search_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark search",
        description="Query a materialized index (see `index`): BM25 "
        "top-k over a text index, partition-pruned to the query terms' "
        "buckets.",
    )
    p.add_argument("path", help="index root (`index text build` or `index ivf build`)")
    p.add_argument("--terms", default=None, help="text mode: comma list of query terms")
    p.add_argument("--queries", default=None,
                   help="vector mode: parquet of query vectors, batch k-NN "
                        "join against an IVF index root")
    p.add_argument("--q-id-col", default="vec_id")
    p.add_argument("--q-vec-col", default="embedding")
    # the index side preserves the ORIGINAL column names the build was
    # given (`index ann build --id-col/--vec-col`); without the same
    # override here an index built under custom names was unsearchable
    # (r13 review finding — ivf_knn_join always received its defaults)
    p.add_argument("--id-col", default="vec_id",
                   help="vector mode: id column stored in the index "
                        "(match `index ann build --id-col`)")
    p.add_argument("--vec-col", default="embedding",
                   help="vector mode: vector column stored in the index "
                        "(match `index ann build --vec-col`)")
    p.add_argument("--nprobe", type=int, default=4)
    p.add_argument("-k", type=int, default=10)
    p.add_argument("--output", default=None, help="optional results parquet")
    return p


def search_main(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_search_parser().parse_args(argv)
    if bool(args.terms) == bool(args.queries):
        raise SystemExit("search: exactly one of --terms or --queries")
    with _cli_session(spark, "search-cli") as spark:
        if args.terms:
            terms = [t.strip() for t in args.terms.split(",") if t.strip()]
            if not terms:
                raise SystemExit("search: --terms must name at least one term")
            from .operators.retrieval import bm25_topk_indexed

            result = bm25_topk_indexed(spark, args.path, terms, k=args.k)
            rows = result.collect()
            for r in rows:
                print(f"{r['doc_id']}\t{r['score']:.6f}\t{r['n_matched']}")
        else:
            from pyspark.sql import functions as F

            from .operators.quantization import _read_centroids
            from .operators.similarity import ivf_knn_join

            centroids = _read_centroids(spark, f"{args.path}/centroids")
            vectors = spark.read.parquet(f"{args.path}/vectors")
            queries = spark.read.parquet(args.queries).select(
                F.col(args.q_id_col).alias("q_id"),
                F.col(args.q_vec_col).cast("array<double>").alias("q_vec"),
            )
            result = ivf_knn_join(
                vectors, queries, centroids, k=args.k, nprobe=args.nprobe,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            rows = result.collect()
            for r in rows:
                # zero-norm vectors score NULL cosine (non-ANSI /0);
                # they rank last but must still print
                cos = "null" if r["cosine"] is None else f"{r['cosine']:.6f}"
                print(f"{r['q_id']}\t{r[args.id_col]}\t{cos}\t{r['rank']}")
        if args.output:
            # the result's own schema — the index id column may be any type
            spark.createDataFrame(rows, result.schema).write.mode(
                "overwrite"
            ).parquet(args.output)
        return 0


def build_fuzzy_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark fuzzy",
        description="Edit-distance fuzzy matching (PassJoin blocking): "
        "all pairs within --max-dist over one corpus, or across two "
        "with --right (entity resolution).",
    )
    p.add_argument("input", help="documents parquet (the left/self side)")
    p.add_argument("--right", default=None, help="optional right-side parquet (R-S join)")
    p.add_argument("--output", required=True, help="pairs parquet path")
    p.add_argument("--max-dist", type=int, default=1)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument(
        "--raw", action="store_true", help="compare raw text (skip normalization)"
    )
    return p


def fuzzy_main(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_fuzzy_parser().parse_args(argv)
    with _cli_session(spark, "fuzzy-cli") as spark:
        from .operators.fuzzy import edit_distance_join, edit_distance_pairs

        left = spark.read.parquet(args.input)
        if args.right:
            out = edit_distance_join(
                left,
                spark.read.parquet(args.right),
                max_dist=args.max_dist,
                text_col=args.text_col,
                id_col=args.id_col,
                normalize=not args.raw,
            )
        else:
            out = edit_distance_pairs(
                left,
                max_dist=args.max_dist,
                text_col=args.text_col,
                id_col=args.id_col,
                normalize=not args.raw,
            )
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"{n} pair(s) within distance {args.max_dist}")
        return 0


def build_diff_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark diff",
        description="Corpus snapshot diff: per-id added/removed/changed/"
        "unchanged via content hashing. Prints the summary; --output "
        "writes the per-id detail parquet (the slice to feed incremental "
        "dedup / re-embedding / upsert).",
    )
    p.add_argument("old", help="baseline snapshot parquet")
    p.add_argument("new", help="candidate snapshot parquet")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument(
        "--content-cols",
        default="",
        help="comma list (default: all shared non-id columns)",
    )
    p.add_argument("--output", default=None, help="per-id detail parquet path")
    return p


def diff_main(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_diff_parser().parse_args(argv)
    content_cols = [c.strip() for c in args.content_cols.split(",") if c.strip()] or None
    with _cli_session(spark, "diff-cli") as spark:
        from .operators.summary import corpus_diff, diff_status_counts

        old = spark.read.parquet(args.old)
        new = spark.read.parquet(args.new)
        detail = corpus_diff(old, new, args.id_col, content_cols)
        if args.output:
            # write once, summarize from the written parquet — never
            # execute the scan+hash+outer-join twice
            detail.write.mode("overwrite").parquet(args.output)
            detail = spark.read.parquet(args.output)
        for r in diff_status_counts(detail).collect():
            print(f"{r['status']}\t{r['n']}")
        return 0


def build_tokenize_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark tokenize",
        description="BPE tokenization: train a merge table on a bounded "
        "hash-sample and/or encode a corpus with broadcast merges.",
    )
    p.add_argument("input", help="documents parquet")
    p.add_argument("--output", required=True, help="encoded parquet path")
    p.add_argument("--merges", default=None, help="existing merge-table parquet (skip training)")
    p.add_argument("--save-merges", default=None, help="write the trained merge table here")
    p.add_argument("--num-merges", type=int, default=512)
    p.add_argument("--sample-docs", type=int, default=2000)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument(
        "--emit-tokens",
        action="store_true",
        help="materialize token arrays (default: counts only)",
    )
    p.add_argument(
        "--corpus-stats",
        action="store_true",
        help="train from CORPUS-WIDE word frequencies (distributed "
        "aggregate, word-type-sized collect capped by --max-word-types) "
        "instead of the --sample-docs hash-sample",
    )
    p.add_argument("--max-word-types", type=int, default=1_000_000)
    return p


def tokenize_main(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_tokenize_parser().parse_args(argv)
    with _cli_session(spark, "tokenize-cli") as spark:
        from .operators.tokenize import (
            bpe_encode,
            train_bpe_merges,
            train_bpe_merges_corpus,
        )

        docs = spark.read.parquet(args.input)
        if args.merges:
            merges = spark.read.parquet(args.merges)
        elif args.corpus_stats:
            merges = train_bpe_merges_corpus(
                docs,
                num_merges=args.num_merges,
                text_col=args.text_col,
                max_word_types=args.max_word_types,
            )
        else:
            merges = train_bpe_merges(
                docs,
                num_merges=args.num_merges,
                text_col=args.text_col,
                sample_docs=args.sample_docs,
            )
        if args.save_merges:
            merges.write.mode("overwrite").parquet(args.save_merges)
        enc = bpe_encode(
            docs,
            merges,
            text_col=args.text_col,
            id_col=args.id_col,
            emit_tokens=args.emit_tokens,
        )
        enc.write.mode("overwrite").parquet(args.output)
        total = spark.read.parquet(args.output).agg(
            {"n_tokens": "sum", args.id_col: "count"}
        ).first()
        print(
            f"encoded {total[f'count({args.id_col})']} docs, "
            f"{total['sum(n_tokens)']} tokens"
        )
        return 0


def build_pack_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark pack",
        description=(
            "Assign documents to fixed-token-budget training packs: "
            "concat-then-chunk (chunk mode, zero padding waste, docs may "
            "split) or whole-document best-fit-decreasing (bin mode, doc "
            "boundaries survive; prints the utilization report)"
        ),
    )
    p.add_argument("input", help="documents parquet")
    p.add_argument("--output", required=True, help="assignment parquet dir")
    p.add_argument("--max-tokens", type=int, required=True, help="pack budget")
    p.add_argument("--mode", choices=("chunk", "bin"), default="bin")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument(
        "--token-count-col",
        default=None,
        help="pack by a precomputed per-doc count column (e.g. tokenize's n_tokens)",
    )
    return p


def pack_main(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_pack_parser().parse_args(argv)
    with _cli_session(spark, "pack-cli") as spark:
        from pyspark.sql import functions as F

        from .operators.packing import (
            bin_pack_documents,
            pack_documents,
            pack_ordinal,
            pack_utilization,
        )

        docs = spark.read.parquet(args.input)
        kwargs = dict(
            max_tokens_per_pack=args.max_tokens,
            n_buckets=args.n_buckets,
            text_col=args.text_col,
            id_col=args.id_col,
            token_count_col=args.token_count_col,
        )
        if args.mode == "bin":
            out = bin_pack_documents(docs, **kwargs)
        else:
            out = pack_documents(docs, **kwargs)
        out.write.mode("overwrite").parquet(args.output)
        written = spark.read.parquet(args.output)
        if args.mode == "bin":
            rep = pack_utilization(written, args.max_tokens).first()
            print(
                f"packed {rep['n_docs']} docs / {rep['total_tokens']} tokens into "
                f"{rep['n_packs']} packs; avg_fill={rep['avg_fill']} "
                f"waste_frac={rep['waste_frac']}"
            )
        else:
            # chunk count = Σ_bucket max(pack ordinal): pack_id marks the
            # chunk holding a doc's LAST token, so chunks wholly interior
            # to a long document have no row — countDistinct undercounts
            agg = written.groupBy("bucket").agg(
                F.max(pack_ordinal()).alias("mx"),
                F.count("*").alias("n"),
                F.sum("n_tokens").alias("t"),
            ).agg(
                F.sum("mx").alias("n_packs"),
                F.sum("n").alias("n_docs"),
                F.sum("t").alias("total_tokens"),
            ).first()
            print(
                f"packed {agg['n_docs']} docs / {agg['total_tokens']} tokens into "
                f"{agg['n_packs']} chunks"
            )
        return 0


def build_maintain_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark maintain",
        description="Corpus maintenance: partition-scoped upsert and "
        "small-file compaction over a parquet corpus.",
    )
    sub = p.add_subparsers(dest="op", required=True)
    up = sub.add_parser("upsert", help="copy-on-write upsert: only touched partitions rewritten")
    up.add_argument("base", help="partitioned parquet corpus path")
    up.add_argument("--updates", required=True, help="parquet with replacement/new rows")
    up.add_argument("--key", required=True)
    up.add_argument("--partition-col", required=True)
    co = sub.add_parser("compact", help="rewrite into ~target-row files")
    co.add_argument("path")
    co.add_argument("--target-rows", type=int, required=True)
    co.add_argument("--partition-col", default=None)
    return p


def maintain_main(argv: list[str], spark: SparkSession | None = None) -> int:
    from .sources.sinks import compact_files, merge_upsert_partitioned

    args = build_maintain_parser().parse_args(argv)
    with _cli_session(spark, "maintain-cli") as spark:
        if args.op == "upsert":
            parts = merge_upsert_partitioned(
                spark,
                args.base,
                spark.read.parquet(args.updates),
                args.key,
                args.partition_col,
            )
            print(f"rewrote {len(parts)} partition(s): {sorted(map(str, parts))}")
        else:
            n = compact_files(
                spark, args.path, args.target_rows, partition_col=args.partition_col
            )
            print(f"compacted to {n} file(s)")
        return 0


REFERENCE_TESTS = "/root/reference/main/tests"


def build_evaluate_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark evaluate",
        description="Distributed classifier evaluation over a scored "
        "parquet (score + binary label columns): exact midrank ROC AUC "
        "(optionally per group slice), one-pass threshold "
        "precision/recall/F1, and calibration bins + ECE — no sklearn, "
        "no driver-side collect of the corpus.",
    )
    p.add_argument("input", help="parquet with the score and label columns "
                   "(or, with --state, a streaming_eval_counts state dir)")
    p.add_argument("--score-col", default="score")
    p.add_argument("--label-col", default="label")
    p.add_argument("--thresholds", type=float, nargs="*", default=[0.5])
    p.add_argument("--group-by", nargs="*", default=[],
                   help="also report per-slice AUC over these columns")
    p.add_argument("--bins", type=int, default=10)
    p.add_argument("--output", default=None,
                   help="also write the threshold report as parquet here "
                   "(with --state: the AUC relation — per-slice when the "
                   "dir is grouped, the single global row otherwise)")
    p.add_argument("--state", action="store_true",
                   help="treat input as a streaming_eval_counts state dir: "
                   "print the exact global AUC, threshold report, and "
                   "calibration ECE — per-score counts determine all three "
                   "exactly — and, when the dir was written with "
                   "group_cols=, the per-slice AUCs and ECEs (key set "
                   "derived from the stored columns).")
    return p


def evaluate_main(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_evaluate_parser().parse_args(argv)
    with _cli_session(spark, "evaluate-cli") as spark:
        if args.state:
            # a state dir has no score/label columns and its slicing is
            # FIXED by the layout it was written with — accepting these
            # flags silently replaced a requested slicing with whatever
            # the dir stores (r13 review finding)
            if args.group_by:
                raise SystemExit(
                    "evaluate --state: --group-by cannot apply to a state "
                    "dir — slices are fixed at write time by "
                    "streaming_eval_counts(group_cols=...); the stored key "
                    "set is derived and reported automatically"
                )
            if args.score_col != "score" or args.label_col != "label":
                raise SystemExit(
                    "evaluate --state: --score-col/--label-col do not apply "
                    "to a state dir (it stores per-score counts, not rows)"
                )
            # ONE authoritative read of the state dir feeds every
            # consumer below (the eval_state_* wrappers would each
            # re-list and re-scan it — 5x the FS listing for one
            # report); the composable *_from_score_counts operators
            # fold the raw multi-batch rows themselves
            from .operators.evaluation import (
                auc_from_score_counts,
                calibration_from_score_counts,
            )
            from .operators.evaluation import ece as ece_fn
            from .operators.evaluation import (
                grouped_auc_from_score_counts,
                grouped_ece,
                threshold_report_from_score_counts,
            )
            from .pinning import held
            from .streaming.requests import (
                _authoritative_state_rows,
                _eval_state_group_cols,
            )

            with held(
                _authoritative_state_rows(spark, args.input).drop("ingest_batch")
            ) as rows:
                gcols = _eval_state_group_cols(rows.columns)
                auc_rel = auc_from_score_counts(rows)
                a = auc_rel.collect()[0]
                print(f"auc\t{a['auc']}\tn_pos={a['n_pos']} n_neg={a['n_neg']} "
                      f"n_null={a['n_null']}")
                rep = threshold_report_from_score_counts(
                    rows, args.thresholds
                )
                for r in rep.collect():
                    print(f"threshold {r['threshold']}\t"
                          f"precision={r['precision']} recall={r['recall']} "
                          f"f1={r['f1']} selected_frac={r['selected_frac']}")
                cal = calibration_from_score_counts(rows, [], args.bins)
                print(f"ece\t{ece_fn(cal)}")
                out_rel = auc_rel
                if gcols:
                    sliced = grouped_auc_from_score_counts(rows, gcols)
                    for r in sliced.orderBy(*gcols).collect():
                        key = ",".join(f"{c}={r[c]}" for c in gcols)
                        print(f"auc[{key}]\t{r['auc']}\tn_pos={r['n_pos']} "
                              f"n_neg={r['n_neg']} n_null={r['n_null']}")
                    gcal = calibration_from_score_counts(rows, gcols, args.bins)
                    for r in grouped_ece(gcal, gcols).orderBy(*gcols).collect():
                        key = ",".join(f"{c}={r[c]}" for c in gcols)
                        print(f"ece[{key}]\t{r['ece']}\tn={r['n']}")
                    out_rel = sliced
                if args.output:
                    out_rel.write.mode("overwrite").parquet(args.output)
            return 0
        from .operators.evaluation import (
            binary_auc,
            calibration_report,
            ece,
            grouped_auc,
            grouped_calibration_report,
            grouped_ece,
            threshold_report,
        )

        df = spark.read.parquet(args.input)
        a = binary_auc(df, args.score_col, args.label_col).collect()[0]
        print(f"auc\t{a['auc']}\tn_pos={a['n_pos']} n_neg={a['n_neg']} "
              f"n_null={a['n_null']}")
        rep = threshold_report(df, args.thresholds, args.score_col, args.label_col)
        rows = rep.collect()
        for r in rows:
            print(f"threshold {r['threshold']}\tprecision={r['precision']} "
                  f"recall={r['recall']} f1={r['f1']} "
                  f"selected_frac={r['selected_frac']}")
        cal = calibration_report(
            df, args.bins, args.score_col, args.label_col
        )
        print(f"ece\t{ece(cal)}")
        for g in args.group_by:
            for r in grouped_auc(df, [g], args.score_col, args.label_col).orderBy(
                g
            ).collect():
                print(f"auc[{g}={r[g]}]\t{r['auc']}\tn_pos={r['n_pos']} "
                      f"n_neg={r['n_neg']}")
            gcal = grouped_calibration_report(
                df, [g], args.bins, args.score_col, args.label_col
            )
            for r in grouped_ece(gcal, [g]).orderBy(g).collect():
                print(f"ece[{g}={r[g]}]\t{r['ece']}\tn={r['n']}")
        if args.output:
            spark.createDataFrame(rows, rep.schema).write.mode(
                "overwrite"
            ).parquet(args.output)
        return 0


def build_monitor_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark monitor",
        description="Render a streaming_eval_counts state dir as ONE "
        "live quality table: a global ALL row plus one row per stored "
        "slice, each with n_pos/n_neg/n_null, exact midrank AUC, ECE, "
        "and precision/recall/F1 at every threshold. One authoritative "
        "state read feeds every metric — the per-score counts determine "
        "all of them exactly, so nothing rescans a scored row.",
    )
    p.add_argument("state_dir", help="streaming_eval_counts state dir")
    p.add_argument("--thresholds", type=float, nargs="*", default=[0.5])
    p.add_argument("--bins", type=int, default=10,
                   help="calibration bins behind the ECE column")
    p.add_argument("--output", default=None,
                   help="also write the table relation as parquet here")
    return p


def monitor_main(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_monitor_parser().parse_args(argv)
    with _cli_session(spark, "monitor-cli") as spark:
        from .operators.evaluation import (
            auc_from_score_counts,
            calibration_from_score_counts,
        )
        from .operators.evaluation import ece as ece_fn
        from .operators.evaluation import (
            grouped_auc_from_score_counts,
            grouped_ece,
            threshold_report_from_score_counts,
        )
        from .pinning import held
        from .streaming.requests import (
            _authoritative_state_rows,
            _eval_state_group_cols,
        )

        # ONE authoritative read feeds every consumer (the eval_state_*
        # wrappers would each re-list and re-scan the dir); every
        # collect below is slice- or threshold-bounded, never row-sized
        with held(
            _authoritative_state_rows(spark, args.state_dir).drop("ingest_batch")
        ) as rows:
            gcols = _eval_state_group_cols(rows.columns)
            ths = list(args.thresholds)
            th_cols = [f"{m}@{t:g}" for t in ths for m in ("p", "r", "f1")]
            metric_cols = ["n_pos", "n_neg", "n_null", "auc", "ece"] + th_cols

            def metrics(a_row, ece_val, th_rows) -> dict:
                d = {
                    "n_pos": a_row["n_pos"],
                    "n_neg": a_row["n_neg"],
                    "n_null": a_row["n_null"],
                    "auc": a_row["auc"],
                    "ece": ece_val,
                }
                for tr in th_rows:
                    t = tr["threshold"]
                    d[f"p@{t:g}"] = tr["precision"]
                    d[f"r@{t:g}"] = tr["recall"]
                    d[f"f1@{t:g}"] = tr["f1"]
                return d

            table: list[tuple[str, dict]] = []
            g = auc_from_score_counts(rows).collect()[0]
            g_ece = ece_fn(calibration_from_score_counts(rows, [], args.bins))
            g_th = (
                threshold_report_from_score_counts(rows, ths).collect()
                if ths
                else []
            )
            table.append(("ALL", metrics(g, g_ece, g_th)))

            if gcols:
                def key_of(r) -> str:
                    return ",".join(f"{c}={r[c]}" for c in gcols)

                aucs = {
                    key_of(r): r
                    for r in grouped_auc_from_score_counts(rows, gcols).collect()
                }
                eces = {
                    key_of(r): r["ece"]
                    for r in grouped_ece(
                        calibration_from_score_counts(rows, gcols, args.bins),
                        gcols,
                    ).collect()
                }
                th_by: dict[str, list] = {}
                if ths:
                    for r in threshold_report_from_score_counts(
                        rows, ths, gcols
                    ).collect():
                        th_by.setdefault(key_of(r), []).append(r)
                for key in sorted(aucs):
                    # eces/th_by miss all-invalid slices (no finite
                    # scores -> no bins, no confusion cells): the row
                    # still renders, with dashes where nothing exists
                    table.append(
                        (key, metrics(aucs[key], eces.get(key), th_by.get(key, [])))
                    )

            def fmt(v) -> str:
                if v is None:
                    return "-"
                if isinstance(v, float):
                    return "-" if v != v else f"{v:.4f}"  # NaN -> dash
                return str(v)

            header = ["slice"] + metric_cols
            body = [
                [label] + [fmt(m.get(c)) for c in metric_cols]
                for label, m in table
            ]
            widths = [
                max(len(header[i]), *(len(r[i]) for r in body))
                for i in range(len(header))
            ]
            print("  ".join(h.ljust(w) for h, w in zip(header, widths)).rstrip())
            for r in body:
                print("  ".join(v.ljust(w) for v, w in zip(r, widths)).rstrip())

            if args.output:
                from pyspark.sql import types as T

                schema = T.StructType(
                    [T.StructField("slice", T.StringType())]
                    + [
                        T.StructField(c, T.LongType())
                        for c in ("n_pos", "n_neg", "n_null")
                    ]
                    + [
                        T.StructField(c, T.DoubleType())
                        for c in ["auc", "ece"] + th_cols
                    ]
                )
                out_rows = [
                    tuple(
                        [label]
                        + [
                            None
                            if (v := m.get(c)) is None
                            or (isinstance(v, float) and v != v)
                            else (int(v) if c.startswith("n_") else float(v))
                            for c in metric_cols
                        ]
                    )
                    for label, m in table
                ]
                spark.createDataFrame(out_rows, schema).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(args.output)
        return 0


def build_demo_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mwas_rfam_spark demo",
        description="Reference-parity MWAS demo: run the reference repo's "
        "own test inputs (a 3-column run/group/quantifier CSV — "
        "main/tests/test5_PRJNA241125.csv shape — plus a raw wide "
        "per-BioProject metadata CSV from the named failure corpus) "
        "through the FULL engine path (positional-rename input scan -> "
        "wide->long melt -> condensation -> run_mwas) and diff the "
        "18-column output against the pinned expectation CSV. One "
        "command, end to end, deterministic (seeded permutation "
        "kernel). The catalog is synthesized deterministically (input "
        "runs round-robin over the metadata's valid biosamples, spots "
        "= 100000 + 1000*i) because the reference resolves runs "
        "through its production SQL catalog, which test inputs don't "
        "ship.",
    )
    p.add_argument(
        "--input",
        default=f"{REFERENCE_TESTS}/test5_PRJNA241125.csv",
        help="3-column observation CSV (positional run/group/quantifier)",
    )
    p.add_argument(
        "--metadata",
        default=(
            f"{REFERENCE_TESTS}/metadata_set_maker_tests/test_files/"
            "TEST_MEDIUM--PRJDB10214.csv"
        ),
        help="raw wide per-BioProject metadata CSV (reference corpus shape)",
    )
    p.add_argument(
        "--bioproject",
        default=None,
        help="BioProject accession (default: parsed from the metadata filename)",
    )
    p.add_argument("--expected", default=None,
                   help="pinned expectation CSV (default: the packaged golden)")
    p.add_argument("--update-golden", action="store_true",
                   help="rewrite the expectation CSV from this run instead of diffing")
    p.add_argument("--output", default=None, help="also write the run's output CSV here")
    p.add_argument("--resamples", type=int, default=1000)
    p.add_argument("--seed", type=int, default=7)
    return p


def _demo_norm_cell(v):
    """Stringify one output cell for the golden diff: floats rounded to 9
    decimal places (cross-run float noise: sums associate differently
    under different partition counts), None -> ''. Numeric-looking
    STRINGS round too — the legacy fold_change column is a string that
    may carry an unrounded float repr ('negative inf' and friends fail
    the parse and pass through untouched)."""
    if v is None:
        return ""
    if isinstance(v, float):
        if v != v:  # NaN
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, str):
        try:
            f = float(v)
        except ValueError:
            return v
        if f != f or f in (float("inf"), float("-inf")):
            return v
        return repr(round(f, 9))
    return str(v)


def _demo_golden_path() -> str:
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "golden", "demo_parity.csv",
    )


def demo_main(argv: list[str], spark: SparkSession | None = None) -> int:
    import csv
    import os

    args = build_demo_parser().parse_args(argv)
    if not os.path.exists(args.input) or not os.path.exists(args.metadata):
        print(f"demo inputs not found: {args.input} / {args.metadata}", file=sys.stderr)
        return 2
    bioproject = args.bioproject
    if bioproject is None:
        stem = os.path.basename(args.metadata).replace(".csv", "")
        bioproject = stem.rsplit("--", 1)[-1].rsplit("_", 1)[-1]
    with _cli_session(spark, "mwas-demo") as spark:
        from .config import MwasConfig
        from .operators.condense import condense_metadata
        from .operators.mwas import run_mwas
        from .sources.readers import melt_wide_metadata, read_input_csv, read_wide_metadata

        inp = read_input_csv(spark, args.input)
        # multiLine/escape + duplicate-header uniquification live in the
        # S2 reader now (r12 consolidation)
        wide = read_wide_metadata(spark, args.metadata)
        sets_df, ref_df = condense_metadata(melt_wide_metadata(wide, bioproject))
        ref_rows = ref_df.collect()
        if not ref_rows:
            print(f"{args.metadata}: condensed to nothing (too few valid "
                  "biosamples) — no tests to run", file=sys.stderr)
            return 2
        runs = [r["run"] for r in inp.select("run").distinct().orderBy("run").collect()]
        bss = sorted(set(ref_rows[0]["biosamples_ref"]))
        catalog = spark.createDataFrame(
            [(bioproject, bss[i % len(bss)], r, 100000 + 1000 * i)
             for i, r in enumerate(runs)],
            "bio_project string, bio_sample string, run string, spots long",
        )
        cfg = MwasConfig(
            permutation_seed=args.seed, permutation_resamples=args.resamples
        )
        res = run_mwas(inp, catalog, sets_df, ref_df, cfg)
        cols = res.columns
        rows = sorted(
            tuple(_demo_norm_cell(r[c]) for c in cols) for r in res.collect()
        )
        from collections import Counter

        status_i = cols.index("status")
        by_status = Counter(r[status_i] for r in rows)
        print(f"demo: {len(rows)} result rows, {len(cols)} columns "
              f"({dict(sorted(by_status.items()))})")
        if args.output:
            with open(args.output, "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(cols)
                w.writerows(rows)

        golden = args.expected or _demo_golden_path()
        if args.update_golden:
            os.makedirs(os.path.dirname(golden), exist_ok=True)
            with open(golden, "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(cols)
                w.writerows(rows)
            print(f"golden updated: {golden} ({len(rows)} rows)")
            return 0
        if not os.path.exists(golden):
            print(f"no pinned expectation at {golden} (run with "
                  "--update-golden to create it)", file=sys.stderr)
            return 2
        with open(golden, newline="") as f:
            rd = csv.reader(f)
            want_cols = next(rd)
            want = sorted(tuple(row) for row in rd)
        problems = []
        if want_cols != cols:
            problems.append(f"schema: got {cols} want {want_cols}")
        if len(want) != len(rows):
            problems.append(f"rowcount: got {len(rows)} want {len(want)}")
        if not problems and rows != want:
            bad = [(g, w) for g, w in zip(rows, want) if g != w][:3]
            problems.append(f"values: first diffs {bad}")
        if problems:
            print("PARITY FAIL", file=sys.stderr)
            for p_ in problems:
                print(f"  {p_}", file=sys.stderr)
            return 1
        print(f"PARITY OK: output matches {golden} exactly "
              f"({len(rows)} rows x {len(cols)} cols)")
        return 0


_SUBCOMMANDS = {
    "curate": curate_main,
    "maintain": maintain_main,
    "select": select_main,
    "validate": validate_main,
    "split": split_main,
    "drift": drift_main,
    "diff": diff_main,
    "fuzzy": fuzzy_main,
    "index": index_main,
    "search": search_main,
    "report": report_main,
    "tokenize": tokenize_main,
    "pack": pack_main,
    "demo": demo_main,
    "evaluate": evaluate_main,
    "monitor": monitor_main,
}


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv:
        handler = _SUBCOMMANDS.get(argv[0])
        if handler is not None:
            return handler(argv[1:], spark)
        # a mistyped subcommand ('evaluat') used to fall through to the
        # MWAS parser as input_csv and die with a misleading
        # "--catalog is required" (r13 review finding): anything
        # command-shaped — not a flag, not an existing input file —
        # is refused by name instead
        import os
        import re

        if (
            not argv[0].startswith("-")
            and re.fullmatch(r"[a-z][a-z0-9_-]*", argv[0])
            and not os.path.exists(argv[0])
        ):
            print(
                f"unknown command: {argv[0]!r} "
                f"(commands: {', '.join(sorted(_SUBCOMMANDS))}; "
                "or pass an input CSV path for an MWAS run)",
                file=sys.stderr,
            )
            return 2
    from .config import MwasConfig
    from .operators.condense import condense_metadata
    from .operators.mwas import run_mwas
    from .sources.readers import read_input_csv
    from .sources.sinks import write_results_combined, write_results_partitioned

    args = build_parser().parse_args(argv)
    cfg = MwasConfig(
        implicit_zeros=not args.explicit_zeros,
        already_normalized=args.already_normalized,
        t_test_only=args.t_test_only,
        p_value_threshold=args.p_value_threshold,
        group_nonzeros_threshold=args.group_nonzeros_threshold,
        permutation_resamples=args.resamples,
        permutation_seed=args.seed,
        blacklist=tuple(args.blacklist),
        legacy_output=args.legacy_output,
        legacy_13col=args.legacy_13col,
    )

    with _cli_session(spark, "mwas-cli") as spark:
        input_df = read_input_csv(spark, args.input_csv)
        catalog_df = spark.read.parquet(args.catalog)
        meta_long = spark.read.parquet(args.metadata_long)
        sets_df, ref_df = condense_metadata(meta_long)

        if args.cache_dir:
            from .operators.caching import run_mwas_cached

            results = run_mwas_cached(
                spark, input_df, catalog_df, sets_df, ref_df, args.cache_dir, cfg
            )
        else:
            results = run_mwas(input_df, catalog_df, sets_df, ref_df, cfg)

        if args.combine_outputs:
            write_results_combined(results, args.output)
        else:
            write_results_partitioned(results, args.output, fmt=args.output_format)
        if args.accounting:
            from .operators.condense import condense_accounting

            condense_accounting(
                meta_long, sets_df, blacklist=tuple(args.blacklist)
            ).write.mode("overwrite").csv(
                f"{args.output.rstrip('/')}/_accounting", header=True
            )
        return 0


if __name__ == "__main__":
    sys.exit(main())
