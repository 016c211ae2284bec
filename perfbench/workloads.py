"""The three workloads: what one op does and how its output is checked.

Every call into the engine goes through a module attribute
(``mwas.run_mwas``, not a name imported into this file), so the traced
run's wrappers see it.

An op returns its wall seconds and an output record; ``check`` turns the
record into ``(ok, digest, counts)``, where ``digest`` is the content
hash that must repeat across ops and runs of one seed and ``counts``
feeds the per-layer metrics. Every op of a run has the same input, so
a hash that does not repeat fails the run that produced it.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import shutil
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: the 18 output columns of ``finalize_results`` (main generation)
MWAS_COLUMNS = [
    "bioproject", "group", "metadata_field", "metadata_value", "status",
    "runtime_seconds", "memory_usage_bytes", "num_true", "num_false",
    "mean_rpm_true", "mean_rpm_false", "sd_rpm_true", "sd_rpm_false",
    "fold_change", "test_statistic", "p_value", "true_biosamples",
    "false_biosamples",
]
#: columns that hold run-time telemetry, left out of content hashes
TELEMETRY = ("runtime_seconds", "memory_usage_bytes")


def _canon(v) -> str:
    """Stable text for one value. Floats, and strings that hold one (the
    fold change is a string column), keep 6 significant digits, and
    magnitudes below 1e-9 read as 0, so a sum taken in another order
    (results differ in the 15th digit across JVMs) hashes the same."""
    if isinstance(v, str):
        try:
            v = float(v)
        except ValueError:
            return v
    if isinstance(v, float):
        if v != v:
            return "nan"
        return "0" if abs(v) < 1e-9 else format(v, ".6g")
    return str(v)


def digest_rows(rows) -> str:
    """Order-independent md5 over rows (iterables of values)."""
    lines = sorted("\x1f".join(_canon(v) for v in r) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under a written output dir."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith(("part-", "part_")) and not f.endswith(".crc"):
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
                n_files += 1
    return n_bytes, n_files


def bioproject_sizes(data_dir: str) -> dict[str, int]:
    """Biosamples per BioProject as the engine derives them (customers
    per nation, PRJ<nation>)."""
    nations = pq.read_table(f"{data_dir}/customer.parquet", columns=["c_nationkey"])
    counts = pc.value_counts(nations.column("c_nationkey").combine_chunks())
    return {f"PRJ{c['values']}": int(c["counts"]) for c in counts.to_pylist()}


def check_mwas_rows(rows: list[dict], bp_size: dict[str, int]) -> bool:
    """Per-row invariants: cohorts partition the BioProject, p in [0, 1]."""
    for r in rows:
        if r["num_true"] + r["num_false"] != bp_size.get(r["bioproject"]):
            return False
        p = r["p_value"]
        if p is not None and not (isinstance(p, (int, float)) and 0.0 <= p <= 1.0):
            return False
    return True


def mwas_digest(rows: list[dict]) -> str:
    """Content hash of MWAS result rows without the telemetry columns.
    A permutation p-value is a count of resampled statistics at least as
    extreme as the observed one, so a resample that ties the observed
    statistic up to rounding can move it by one count between JVMs; it
    is checked by range only."""
    keep = [c for c in MWAS_COLUMNS if c not in TELEMETRY]
    return digest_rows(
        [None if c == "p_value" and r["status"].startswith("permutation_test") else r[c]
         for c in keep]
        for r in rows
    )


def mwas_counts(rows: list[dict], resamples: int) -> dict[str, float]:
    status = [r["status"].split(";")[0] for r in rows]
    perm = [r for r, s in zip(rows, status) if s == "permutation_test"]
    return {
        "mwas.tests": float(len(rows)),
        "mwas.t_tests": float(status.count("t_test")),
        "mwas.perm_tests": float(len(perm)),
        "mwas.skipped": float(status.count("skipped_statistical_testing")),
        "stattests.kernel_s": float(sum(r["runtime_seconds"] or 0.0 for r in perm)),
        "stattests.resamples": float(len(perm) * resamples),
    }


class Workload:
    """One workload bound to one generated input directory."""

    name = ""
    #: the input tables the workload reads
    tables = ("customer", "orders", "events")

    def __init__(self, data_dir: str, out_dir: str, seed: int) -> None:
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.seed = seed

    def prepare(self, spark, tracer) -> dict[str, float]:
        """Workload-specific set-up after the session is up; returns
        per-layer seconds or counts it measured."""
        return {}

    def teardown(self) -> None:
        pass

    def op(self, spark, i: int, tracer):
        raise NotImplementedError

    def check(self, record) -> tuple[bool, str, dict[str, float]]:
        raise NotImplementedError

    def traced_layers(self, spark, record, layers: dict[str, float]) -> dict[str, float]:
        """Per-layer numbers of one traced op, given those taken from its
        spans and counters; may add measurements made untimed after it."""
        return layers

    def _out(self, i: int) -> str:
        return os.path.join(self.out_dir, f"op{i}")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class MwasBatch(Workload):
    """Condense the metadata, run the full MWAS (default config, 10,000
    permutation resamples), write the results partitioned by BioProject."""

    name = "mwas_batch"

    def __init__(self, data_dir, out_dir, seed):
        super().__init__(data_dir, out_dir, seed)
        from mwas_rfam_spark.config import MwasConfig

        self.cfg = MwasConfig(permutation_seed=seed)
        self.bp_size = bioproject_sizes(data_dir)

    def op(self, spark, i, tracer):
        from mwas_rfam_spark.operators import condense, mwas
        from mwas_rfam_spark.plans import testdata_mwas as tdm
        from mwas_rfam_spark.sources import sinks

        d, out = self.data_dir, self._out(i)
        t0 = time.perf_counter()
        sets_df, ref_df = condense.condense_metadata(
            tdm.mwas_metadata_long_from_customer(spark, d)
        )
        result = mwas.run_mwas(
            tdm.mwas_input_from_events(spark, d),
            tdm.mwas_catalog_from_orders(spark, d),
            sets_df, ref_df, self.cfg,
        )
        with tracer.span("force"):
            sinks.write_results_partitioned(result, out)
        mwas.release_mwas_persists()
        wall = time.perf_counter() - t0
        return wall, {"out": out, "sets_df": sets_df}

    def check(self, record):
        table = pq.read_table(record["out"])
        rows = table.to_pylist()
        for r in rows:
            r["bioproject"] = str(r["bioproject"])
        ok = sorted(table.column_names) == sorted(MWAS_COLUMNS) and check_mwas_rows(rows, self.bp_size)
        digest = mwas_digest(rows)
        counts = mwas_counts(rows, self.cfg.permutation_resamples)
        counts["sinks.bytes_written"], counts["sinks.files_written"] = map(float, dir_stats(record["out"]))
        shutil.rmtree(record["out"], ignore_errors=True)
        return ok, digest, counts

    def traced_layers(self, spark, record, layers):
        """``condense_metadata`` only builds a plan; force the op's
        condensed sets once, untimed, and add that to ``condense.s``."""
        t0 = time.perf_counter()
        n_sets = record["sets_df"].count()
        layers["condense.s"] = layers.get("condense.s", 0.0) + time.perf_counter() - t0
        layers["condense.sets"] = float(n_sets)
        return layers


class MwasServe(Workload):
    """The catalog and condensed sets are pinned once and the HTTP server
    started at set-up; each op is one POST /run_mwas (default config, so
    permutation tests run, with the permutation seed from the workload
    seed) from a single client thread. Every op of a run sends the same
    body of ``ROWS`` event rows; the seed picks the rows."""

    name = "mwas_serve"
    # the events are read with pyarrow, for the request body
    tables = ("customer", "orders")
    # a fixed size, so that runs of different seeds do the same amount of
    # work; request latency is nearly flat in body size anyway (medians of
    # 4.3-4.6 s for 767 to 3,735 rows at sf0.01 on 4 cores)
    ROWS = 2000

    def __init__(self, data_dir, out_dir, seed):
        super().__init__(data_dir, out_dir, seed)
        self.bp_size = bioproject_sizes(data_dir)
        ev = pq.read_table(f"{data_dir}/events.parquet", columns=["event_id", "event_type", "value"])
        n_ord = int(pc.max(pq.read_table(f"{data_dir}/orders.parquet", columns=["o_orderkey"]).column(0)).as_py())
        # the engine's own event -> run mapping (plans.testdata_mwas)
        runs = np.char.add("R", (ev.column("event_id").to_numpy() % n_ord + 1).astype(str))
        groups = ev.column("event_type").to_pylist()
        values = ev.column("value").to_numpy()
        rng = np.random.default_rng(seed)
        idx = np.sort(rng.choice(len(runs), size=min(self.ROWS, len(runs)), replace=False))
        self.body = json.dumps([
            {"run": str(runs[k]), "group": groups[k], "quantifier": float(values[k])} for k in idx
        ]).encode()
        self.server = None
        from mwas_rfam_spark.config import MwasConfig

        self.resamples = MwasConfig().permutation_resamples

    def prepare(self, spark, tracer):
        from mwas_rfam_spark.operators import condense
        from mwas_rfam_spark.plans import testdata_mwas as tdm
        from mwas_rfam_spark.streaming import http_server

        d = self.data_dir
        t0 = time.perf_counter()
        self.catalog = tdm.mwas_catalog_from_orders(spark, d).localCheckpoint()
        t1 = time.perf_counter()
        sets_df, ref_df = condense.condense_metadata(tdm.mwas_metadata_long_from_customer(spark, d))
        self.sets, self.ref = sets_df.localCheckpoint(), ref_df.localCheckpoint()
        t2 = time.perf_counter()
        self.server = http_server.make_server(
            spark, self.catalog, self.sets, self.ref,
            results_dir=os.path.join(self.out_dir, "overflow"),
        )
        self.thread = http_server.serve_forever_in_thread(self.server)
        self.port = self.server.server_address[1]
        status, _ = self._request("GET", "/healthz")
        if status != 200:
            raise RuntimeError(f"/healthz answered {status}")
        return {
            "serve.catalog_pin_s": t1 - t0,
            "condense.s": t2 - t1,
            "condense.sets": float(self.sets.count()),
            "serve.server_start_s": time.perf_counter() - t2,
        }

    def teardown(self):
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)
            self.server = None

    def _request(self, method: str, path: str, body: bytes | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            conn.request(method, path, body=body, headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def op(self, spark, i, tracer):
        t0 = time.perf_counter()
        with tracer.span("client.post"):
            status, payload = self._request("POST", f"/run_mwas?permutation_seed={self.seed}", self.body)
        wall = time.perf_counter() - t0
        return wall, {"status": status, "payload": payload, "rows_in": self.body.count(b'"run"')}

    def check(self, record):
        counts = {
            "readers.rows_in": float(record["rows_in"]),
            "http.response_bytes": float(len(record["payload"])),
        }
        if record["status"] != 200:
            return False, "", counts
        reply = json.loads(record["payload"])
        rows = reply.get("rows")
        if rows is None or reply.get("columns") != MWAS_COLUMNS or reply.get("n") != len(rows):
            return False, "", counts
        counts.update(mwas_counts(rows, self.resamples))
        return check_mwas_rows(rows, self.bp_size), mwas_digest(rows), counts


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    """Word n-grams of a whitespace-tokenised text, as the engine forms them."""
    words = text.split()
    return {tuple(words[k:k + n]) for k in range(len(words) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


class CurateDocs(Workload):
    """Composed dedup and MinHash-LSH pair finding (forced with the noop
    sink), then corpus curation written as 8 training shards."""

    name = "curate_docs"
    tables = ("documents",)

    def __init__(self, data_dir, out_dir, seed):
        super().__init__(data_dir, out_dir, seed)
        docs = pq.read_table(f"{data_dir}/documents.parquet", columns=["doc_id", "text"])
        ids = docs.column("doc_id").to_numpy()
        self.docs_in = float(np.count_nonzero(ids % 97 != 0))
        self.text = dict(zip(ids.tolist(), docs.column("text").to_pylist()))
        by_text: dict[str, list[int]] = {}
        for doc_id, text in self.text.items():
            by_text.setdefault(text, []).append(doc_id)
        self.group_size = {t: len(g) for t, g in by_text.items()}
        #: pairs of documents with identical text; MinHash must find each
        self.exact_pairs = {
            frozenset((a, b)) for g in by_text.values() for k, a in enumerate(g) for b in g[k + 1:]
        }

    def _reference_ok(self, pipeline, minhash) -> bool:
        """Checks against the input alone: each pipeline pair's Jaccard
        and exact-group sizes, recomputed here, and every identical-text
        pair among the MinHash pairs (identical signatures estimate 1)."""
        for r in pipeline:
            ta, tb = self.text[r["id_a"]], self.text[r["id_b"]]
            if abs(r["jaccard"] - jaccard(shingles(ta), shingles(tb))) > 1e-9:
                return False
            if (r["n_docs_a"], r["n_docs_b"]) != (self.group_size[ta], self.group_size[tb]):
                return False
        found = {frozenset((r["id_a"], r["id_b"])) for r in minhash}
        return self.exact_pairs <= found

    def op(self, spark, i, tracer):
        from pyspark.sql import functions as F

        from mwas_rfam_spark.operators import curation, dedup
        from mwas_rfam_spark.plans import testdata_mwas as tdm
        from mwas_rfam_spark.sources import sinks

        out = self._out(i)
        t0 = time.perf_counter()
        docs = tdm.load(spark, self.data_dir, "documents")
        pipeline = dedup.dedup_pipeline_pairs(docs, n=3, threshold=0.5)
        with tracer.span("force.dedup_pipeline"):
            _noop(pipeline)
        minhash = dedup.minhash_lsh_pairs_md5(docs, num_hashes=32, bands=8, threshold=0.5)
        with tracer.span("force.minhash"):
            _noop(minhash)
        bench = docs.where(F.col("doc_id") % 97 == 0)
        curated = curation.curate_corpus(
            docs.where(F.col("doc_id") % 97 != 0), bench,
            min_tokens=5, decontam_n=5, decontam_threshold=0.2, seed=42,
        )
        with tracer.span("force"):
            sinks.write_training_shards(curated, out, n_shards=8, seed=42)
        wall = time.perf_counter() - t0
        return wall, {"out": out, "pipeline": pipeline, "minhash": minhash}

    def check(self, record):
        # the pairs were forced with the noop sink; collecting them again
        # reruns only the part after their pinned subplans
        pipeline = record["pipeline"].select(
            "id_a", "id_b", "jaccard", "n_docs_a", "n_docs_b").collect()
        minhash = record["minhash"].select("id_a", "id_b", "est_jaccard").collect()
        shards = pq.read_table(record["out"], columns=["doc_id", "text", "shard", "seq"])
        kept = shards.to_pylist()
        ok = (
            len({r["doc_id"] for r in kept}) == len(kept)
            and all(0 <= int(r["shard"]) < 8 for r in kept)
            and all(0.5 <= r["jaccard"] <= 1.0 for r in pipeline)
            and self._reference_ok(pipeline, minhash)
        )
        digest = hashlib.md5("|".join((
            digest_rows(pipeline),
            digest_rows(minhash),
            digest_rows((r["doc_id"], r["text"], str(r["shard"]), r["seq"]) for r in kept),
        )).encode()).hexdigest()
        counts = {
            "dedup.pairs": float(len(pipeline) + len(minhash)),
            "curation.docs_in": self.docs_in,
            "curation.docs_kept": float(len(kept)),
        }
        counts["sinks.bytes_written"], counts["sinks.files_written"] = map(float, dir_stats(record["out"]))
        shutil.rmtree(record["out"], ignore_errors=True)
        return ok, digest, counts


WORKLOADS = {w.name: w for w in (MwasBatch, MwasServe, CurateDocs)}
