"""Thin HTTP wrapper over the server-mode pipeline (§3.2).

The reference's Flask app (main/server.py:14-55) accepts
``POST /run_mwas`` with a JSON array of row objects plus ``flag`` query
parameters, writes a temp CSV, shells into the pipeline, and returns only
an exit status. This wrapper keeps that surface — same route, same JSON
body shape — on the standard library's ``ThreadingHTTPServer`` (Flask is
deliberately not a dependency), and, unlike the fire-and-forget
reference, serves the RESULT ROWS back: the whole point of an engine
that can answer a request-sized MWAS in seconds.

Config flags arrive as query parameters named after ``MwasConfig``
fields (``?t_test_only=1&p_value_threshold=0.5``) instead of the
reference's argv-style ``flag`` list; unknown parameters are a 400, not
a silent ignore.

Scale note: the server is a driver-side frontend — each request runs the
same distributed plan `serve_request` builds; nothing here adds a
driver-side loop over data. For production serving, put the catalog /
condensed-metadata relations in cached tables so requests share them.
"""

from __future__ import annotations

import dataclasses
import json
import math
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlparse

from pyspark.sql import DataFrame, SparkSession

from ..config import MwasConfig
from ..sources.readers import RequestError

_BOOL_TRUE = {"1", "true", "yes", "on"}
_BOOL_FALSE = {"0", "false", "no", "off"}

# serializes run_mwas + release_mwas_persists across handler threads —
# the pinned-subplan registry is process-global (see do_POST)
_MWAS_LOCK = threading.Lock()


def config_from_params(params: dict[str, str]) -> MwasConfig:
    """Build an MwasConfig from query parameters keyed by field name.

    Values are coerced by the field's declared type (bool accepts
    1/true/yes/on, case-insensitive). Unknown names raise ValueError so a
    typo'd flag fails the request instead of silently running with
    defaults — the reference forwards unvalidated argv flags (server.py:45)
    and a bad one dies much later inside the pipeline.
    """
    fields = {f.name: f for f in dataclasses.fields(MwasConfig)}
    kwargs: dict = {}
    for name, raw in params.items():
        f = fields.get(name)
        if f is None:
            raise RequestError(f"unknown config parameter: {name!r}")
        if f.type in ("bool", bool):
            tok = raw.strip().lower()
            if tok in _BOOL_TRUE:
                kwargs[name] = True
            elif tok in _BOOL_FALSE:
                kwargs[name] = False
            else:
                # fail loud like unknown names: 'ture' silently ran the
                # full pipeline with the default (r12 review finding)
                raise RequestError(
                    f"bad boolean for {name!r}: {raw!r} (use 1/true/yes/on "
                    "or 0/false/no/off)"
                )
        elif f.type in ("int", int):
            try:
                kwargs[name] = int(raw)
            except ValueError:
                raise RequestError(f"bad int for {name!r}: {raw!r}") from None
        elif f.type in ("float", float):
            try:
                kwargs[name] = float(raw)
            except ValueError:
                raise RequestError(f"bad float for {name!r}: {raw!r}") from None
        # keyed on the DECLARED annotation, not the field name, so a
        # future optional/tuple field coerces instead of landing in the
        # raw-string branch (r12 review finding)
        elif f.type in ("tuple[str, ...]",):
            kwargs[name] = tuple(x for x in raw.split(",") if x)
        elif f.type in ("int | None", "Optional[int]"):
            try:
                kwargs[name] = None if raw.lower() in ("", "none") else int(raw)
            except ValueError:
                raise RequestError(f"bad int for {name!r}: {raw!r}") from None
        else:
            kwargs[name] = raw
    return MwasConfig(**kwargs)


def _json_safe(v):
    """NaN/±inf are not valid strict JSON; encode them as strings."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
    return v


def make_server(
    spark: SparkSession,
    catalog_df: DataFrame,
    sets_df: DataFrame,
    ref_df: DataFrame,
    host: str = "127.0.0.1",
    port: int = 0,
    max_inline_rows: int = 10_000,
    results_dir: str | None = None,
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; ``port=0`` picks a free port.

    Routes:
      POST /run_mwas  body: JSON array of {"run","group","quantifier"}
                      query params: MwasConfig fields
                      → 200 {"n": int, "columns": [...], "rows": [...]}
                      or, past ``max_inline_rows``,
                      → 200 {"n": int, "columns": [...],
                             "results_location": "<parquet dir>"}
      GET  /healthz   → 200 {"ok": true}

    ``max_inline_rows`` bounds the driver-side collect: a pathological
    request (huge input × many sets) must not OOM the server process,
    so past the cap the FULL result is written distributed to a
    parquet directory under ``results_dir`` and the response carries
    its location instead of inline rows — the §3.2 extension the
    fire-and-forget reference leaves on the table. The inline path
    collects at most ``max_inline_rows + 1`` rows (limit pushed into
    the plan), never the unbounded relation.

    Deployment notes for the overflow path: on a real cluster
    ``results_dir`` MUST be shared storage every executor can write
    (HDFS/S3/NFS) — the ``tempfile.mkdtemp`` default is a driver-local
    convenience for local-mode serving only. Result directories are
    owned by the caller (the server never deletes them; pair with a
    retention sweep). An overflowing request computes its plan twice
    (the bounded probe, then the write) — the probe is limit-pruned,
    and caching the full relation to avoid the recompute would hold
    exactly the memory the cap exists to bound."""
    import tempfile
    import uuid

    from .requests import serve_request

    if max_inline_rows < 0:
        raise ValueError(f"max_inline_rows must be >= 0, got {max_inline_rows}")

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, fmt, *args):  # quiet test runs
            pass

        def do_GET(self):
            if urlparse(self.path).path == "/healthz":
                self._reply(200, {"ok": True})
            else:
                self._reply(404, {"error": "not found"})

        def do_POST(self):
            parsed = urlparse(self.path)
            if parsed.path != "/run_mwas":
                self._reply(404, {"error": "not found"})
                return
            try:
                # keep_blank_values: a valueless ?flag was silently
                # DROPPED before the unknown-name check; repeated params
                # silently kept only the last occurrence (r12 review
                # findings) — both now refuse loudly
                qs = parse_qsl(parsed.query, keep_blank_values=True)
                names = [k for k, _ in qs]
                dupes = sorted({k for k in names if names.count(k) > 1})
                if dupes:
                    raise ValueError(
                        f"repeated config parameter(s): {dupes} — pass "
                        "comma-separated values instead"
                    )
                cfg = config_from_params(dict(qs))
                n = int(self.headers.get("Content-Length", 0))
                # bound the body read: a huge Content-Length buffered
                # gigabytes into the driver before any validation, and
                # a negative one read to EOF forever (r12 review
                # finding). 64 MiB >> max_inline_rows-scale bodies.
                if n < 0 or n > 64 * 1024 * 1024:
                    raise ValueError(
                        f"Content-Length {n} out of bounds (0, 64 MiB]"
                    )
                rows = json.loads(self.rfile.read(n).decode("utf-8"))
                if not isinstance(rows, list) or not rows:
                    raise ValueError("body must be a non-empty JSON array of rows")
                if not all(isinstance(r, dict) for r in rows):
                    raise ValueError("every row must be a JSON object")
            except (ValueError, KeyError, json.JSONDecodeError) as e:
                self._reply(400, {"error": str(e)})
                return
            reply = None
            try:
                # _MWAS_LOCK serializes the run AND the release: the
                # pinned-subplan registry (mwas._LIVE_PERSISTS) is
                # process-global, so releasing after one request would
                # otherwise unpersist another thread's in-flight
                # subplans. Without the release every POST pinned its
                # materialized relations (rollup, cohort rows, results)
                # for the server's lifetime —
                # the exact leak release_mwas_persists exists to
                # prevent, and the long-running server is the one
                # caller that never called it (r11 review finding; the
                # CLI path always has, __main__.py). MWAS runs are
                # whole-cluster jobs — serializing them on one driver
                # costs no real concurrency.
                with _MWAS_LOCK:
                    try:
                        out = serve_request(
                            spark, rows, catalog_df, sets_df, ref_df, cfg
                        )
                        # bounded collect: one extra row detects overflow
                        # without ever materializing the unbounded
                        # relation on the driver
                        collected = out.limit(max_inline_rows + 1).collect()
                        if len(collected) > max_inline_rows:
                            base = results_dir or tempfile.mkdtemp(
                                prefix="mwas_results_"
                            )
                            loc = f"{base}/req-{uuid.uuid4().hex}"
                            out.write.parquet(loc)
                            # metadata-only job
                            n_rows = spark.read.parquet(loc).count()
                            reply = {
                                "n": n_rows,
                                "columns": out.columns,
                                "results_location": loc,
                            }
                        else:
                            reply = {
                                "n": len(collected),
                                "columns": out.columns,
                                "rows": [
                                    {
                                        k: _json_safe(v)
                                        for k, v in r.asDict().items()
                                    }
                                    for r in collected
                                ],
                            }
                    finally:
                        from ..operators.mwas import release_mwas_persists

                        release_mwas_persists()
            except RequestError as e:
                # client-input errors raised inside the pipeline
                # (readers.input_from_rows' missing run/group) are the
                # documented 400, not a 500 (r12 review finding wiring
                # readers.py's stated contract). Scoped to the dedicated
                # RequestError type: a blanket ValueError here mapped
                # operator guards (cohort-size checks, drift/selection
                # validation, bad server-side sets_df state) to 400 even
                # when the request body was valid, masking genuine server
                # faults (r13 ADVICE item).
                self._reply(400, {"error": str(e)})
                return
            except Exception as e:  # surface pipeline errors as 500 JSON
                self._reply(500, {"error": f"{type(e).__name__}: {e}"})
                return
            # outside the except: a transport failure mid-200 must not
            # trigger a second _reply(500) onto the same half-written
            # connection (r12 review finding)
            self._reply(200, reply)

    return ThreadingHTTPServer((host, port), Handler)


def serve_forever_in_thread(server: ThreadingHTTPServer) -> threading.Thread:
    """Run the server on a daemon thread (tests / embedded use)."""
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t
