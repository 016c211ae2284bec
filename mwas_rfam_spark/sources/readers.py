"""Sources (SURVEY.md §2.1): input CSV, catalog, wide-metadata melt, JSON rows.

The reference stages everything through pickles, tmpfs and s5cmd batches
(mg:132-148, 259-322); on Spark those are replaced by direct columnar scans
with Catalyst pushdown — the only "custom" source logic that survives is
schema normalization (positional rename, wide→long melt).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import CATALOG_SCHEMA, INPUT_SCHEMA


class RequestError(ValueError):
    """Client-input error: the request body/parameters are malformed.

    The HTTP server maps exactly this type to a 400; any other exception
    escaping the pipeline — including operator-guard ValueErrors raised on
    valid requests against bad server-side state — stays a 500 (r13
    ADVICE item: the former blanket ``except ValueError -> 400`` masked
    genuine server faults as client errors)."""


def read_input_csv(spark: SparkSession, path: str, validate: bool = True) -> DataFrame:
    """S1 — user observation CSV with positional column semantics.

    The reference renames whatever 3 headers arrive to (run, group,
    quantifier) by position and type-checks them (mg:744-759). We read with
    header then rename positionally; arity AND quantifier numericness are
    validated eagerly — the reference errors cleanly ('quantifier column
    must contain numeric values', mg:756-759) before any work, where a
    bare ANSI cast would throw CAST_INVALID_INPUT from deep inside the
    first downstream action (r12 review finding). The check is one
    pushed-down scan that stops at the first offender; pass
    ``validate=False`` to skip it on a trusted 100 TB ingest, in which
    case non-numeric cells become NULL (try_cast) and flow through the
    engine's documented NULL-quantifier tolerance.
    """
    raw = spark.read.option("header", True).csv(path)
    if len(raw.columns) != 3:
        raise ValueError(
            f"input must have exactly 3 columns (run, group, quantifier); got {raw.columns}"
        )
    df = raw.toDF("run", "group", "quantifier")
    if validate:
        bad = (
            df.where(
                F.col("quantifier").isNotNull()
                & F.col("quantifier").try_cast("double").isNull()
            )
            .select("quantifier")
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                "quantifier column must contain numeric values; "
                f"got {bad[0][0]!r}"
            )
    return df.select(
        F.col("run").cast("string"),
        F.col("group").cast("string"),
        F.col("quantifier").try_cast("double").alias("quantifier"),
    )


def input_from_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """S8 — JSON request ingest (reference server.py:14-55 writes a temp CSV;
    we build the DataFrame directly, as ONE Arrow table, so the request
    plans as a driver-side ``LocalRelation``: a Python-list
    ``createDataFrame`` plans a scan of a Python RDD, whose first job
    waits on a Python worker). A null or absent ``quantifier`` becomes
    NULL — INPUT_SCHEMA declares it nullable and every consumer
    coalesces NULL to 0 (streaming rpm, resolve_and_normalize) — instead
    of the former float(None) TypeError that surfaced as an HTTP 500
    (r12 review finding). A row missing run/group, or holding anything
    but a string there (null, number, list, object), is a clean
    RequestError the server maps to a 400: the Arrow path runs none of
    Spark's row checks, and pyarrow's own type error would be a 500."""
    def _tup(r: dict):
        try:
            run, group = r["run"], r["group"]
        except KeyError as e:
            raise RequestError(
                f"request row missing required key {e.args[0]!r}: {r!r}"
            ) from None
        for key, v in (("run", run), ("group", group)):
            if not isinstance(v, str):
                raise RequestError(
                    f"request row key {key!r} must be a string, got {v!r}: {r!r}"
                )
        q = r.get("quantifier")
        try:
            return (run, group, None if q is None else float(q))
        except (TypeError, ValueError):
            raise RequestError(
                f"request row has non-numeric quantifier {q!r}: {r!r}"
            ) from None

    runs, groups, quantifiers = zip(*map(_tup, rows)) if rows else ((), (), ())
    table = pa.table(
        {
            "run": pa.array(runs, pa.string()),
            "group": pa.array(groups, pa.string()),
            "quantifier": pa.array(quantifiers, pa.float64()),
        }
    )
    return spark.createDataFrame(table, INPUT_SCHEMA)


def read_catalog_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S3/S4 — run→(bio_project, bio_sample, spots) catalog from a Parquet
    export. The reference queries Postgres with an IN-list pushdown
    (mg:46-54,163-184); with Parquet, Catalyst's predicate pushdown plus a
    broadcast semi-join against the input's run set achieves the same
    result without hand-built SQL strings.

    Derives ``spots`` from mbases/avgspotlen when the export carries the
    raw sequencing columns instead (the same rule the JDBC path applies),
    and REFUSES a catalog with neither: the former pinned-schema read
    returned spots=NULL for every row of such an export, and NULL spots
    silently zero all downstream RPM statistics (r12 review finding).
    """
    df = derive_spots_if_missing(spark.read.parquet(path))
    missing = [f.name for f in CATALOG_SCHEMA.fields if f.name not in df.columns]
    if missing:
        raise ValueError(
            f"catalog parquet at {path!r} lacks required columns {missing} "
            "(and no mbases/avgspotlen pair to derive spots from)"
        )
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in CATALOG_SCHEMA.fields]
    )


def derive_spots_if_missing(df: DataFrame) -> DataFrame:
    """S4 derived column: spots = mbases*1e6/avgspotlen (reference mg:47)
    when the raw sequencing columns are present instead of a spots column.
    No-op if `spots` already exists or the raw columns are absent.
    try_divide: SRA catalogs contain avgspotlen=0 rows (no spot-length
    metadata), and under Spark 4's default ANSI mode a plain division
    aborts the whole job with DIVIDE_BY_ZERO (r12 review finding) — NULL
    spots instead flow through the engine's documented null tolerance."""
    if "spots" not in df.columns and {"mbases", "avgspotlen"} <= set(df.columns):
        df = df.withColumn(
            "spots",
            F.try_divide(
                F.col("mbases") * F.lit(1_000_000), F.col("avgspotlen")
            ).cast("long"),
        )
    return df


def catalog_from_jdbc(
    spark: SparkSession, url: str, table: str, properties: dict[str, str] | None = None
) -> DataFrame:
    """S3 JDBC variant — filters applied later are pushed into the database
    by the JDBC source (equivalent of the reference's WHERE acc IN (...))."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return derive_spots_if_missing(reader.load())


def melt_wide_metadata(df: DataFrame, bioproject: str) -> DataFrame:
    """S2 → long form: wide per-BioProject metadata → (bioproject,
    biosample_id, attribute, attr_pos, value).

    The reference keeps every BioProject as its own wide frame with a
    dynamic schema (converter_.py:33); melting to one fixed long schema
    lets a single relational plan process all ~196k BioProjects at once.
    ``attr_pos`` preserves original column order (needed for label-merge
    ordering parity in set dedup, metadata_set_maker.py:89-94).
    """
    attr_cols = [c for c in df.columns if c != "biosample_id"]
    if not attr_cols:
        raise ValueError("metadata frame has no attribute columns")
    pairs = []
    for i, c in enumerate(attr_cols):
        pairs.append(
            F.struct(
                F.lit(c).alias("attribute"),
                F.lit(i).alias("attr_pos"),
                # backtick-quoted reference (inner backticks doubled),
                # not bare F.col(c)/df[c]: headers are arbitrary user
                # strings — a dot ('geo.loc') parses as struct access
                # and a stray backtick is a syntax error under either
                # bare form, killing the whole BioProject's melt (r12
                # review finding, verified live)
                F.col("`" + c.replace("`", "``") + "`")
                .cast("string")
                .alias("value"),
            )
        )
    return (
        df.select(
            F.lit(bioproject).alias("bioproject"),
            F.col("biosample_id").cast("string"),
            F.explode(F.array(*pairs)).alias("kv"),
        )
        .select(
            "bioproject",
            "biosample_id",
            F.col("kv.attribute").alias("attribute"),
            F.col("kv.attr_pos").alias("attr_pos"),
            F.col("kv.value").alias("value"),
        )
    )


def read_wide_metadata(spark: SparkSession, path: str) -> DataFrame:
    """S2 wide form — ONE raw per-bioproject metadata CSV, all columns as
    strings (the reference treats timestamps/numerics as opaque
    categoricals, SURVEY.md §1.2), read the way the reference's pandas
    parse behaves (r12 review findings, consolidating the convention the
    demo CLI and the corpus round-trip test previously each carried):

    * ``multiLine`` + ``escape='"'`` — real corpus files contain quoted
      multi-line values (TEST_PARAGRAPH--PRJNA706648.csv); without the
      options the value is truncated AND a garbage biosample row appears.
    * duplicate headers: Spark's CSV reader silently mangles them
      (att,att → att1,att2), losing the original name for BOTH copies.
      The raw header line is re-read and columns renamed positionally —
      first occurrence keeps its exact name, later duplicates get
      ``__dup{k}`` (pandas keeps att/att.1; real corpus files have
      duplicate headers). If the raw header can't be recovered (empty
      file, multi-file glob, embedded-newline header) Spark's mangled
      names stand.
    """
    df = spark.read.options(header=True, multiLine=True, escape='"').csv(path)
    header = spark.read.text(path).limit(1).collect()
    if header:
        import csv as _csv

        raw = next(_csv.reader([header[0]["value"]]), [])
        if len(raw) == len(df.columns):
            seen: dict[str, int] = {}
            names = []
            for c in raw:
                k = seen.get(c, 0)
                seen[c] = k + 1
                names.append(c if k == 0 else f"{c}__dup{k}")
            df = df.toDF(*names)
    return df


DOCUMENTS_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING"


def read_documents_jsonl(
    spark: SparkSession,
    path: str,
    schema: str = DOCUMENTS_SCHEMA,
) -> DataFrame:
    """Document-corpus ingest from JSONL (the interchange format crawled
    corpora actually arrive in): explicit schema (no inference pass over
    100 TB), PERMISSIVE mode with the malformed raw line captured in
    ``_corrupt_record`` so bad rows are quarantinable instead of fatal —
    filter ``_corrupt_record IS NULL`` for the clean stream, or write
    the complement to a quarantine sink. (Spark refuses queries that
    reference ONLY the corrupt column on a raw JSON scan — cache() the
    frame or include a data column when inspecting the quarantine.)
    """
    full = f"{schema}, _corrupt_record STRING"
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_documents_text(
    spark: SparkSession, path: str, whole_file: bool = True
) -> DataFrame:
    """One document per file (``wholetext``) or per line:
    (doc_id BIGINT, text STRING, source STRING) — BOTH modes yield the
    DOCUMENTS_SCHEMA doc_id type so frames union cleanly and keep-first
    ordering stays numeric (an earlier version returned the raw file
    path as a STRING doc_id in whole-file mode).

    Whole-file mode: doc_id = xxhash64 of the file path (stable across
    re-reads and partitioning; ``source`` keeps the path for lineage).
    Line mode: doc_id = monotonically increasing id — unique but NOT
    stable across re-reads with different partitioning; ``source`` is
    the originating file. Prefer content hashes downstream."""
    if whole_file:
        df = spark.read.text(path, wholetext=True)
        return df.select(
            F.xxhash64(F.input_file_name()).alias("doc_id"),
            F.col("value").alias("text"),
            F.input_file_name().alias("source"),
        )
    df = spark.read.text(path)
    return df.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("value").alias("text"),
        F.input_file_name().alias("source"),
    )
