"""The thin HTTP wrapper (§3.2, reference main/server.py:14-55): same
POST /run_mwas surface on the stdlib ThreadingHTTPServer, but the
response carries the result rows instead of the reference's
fire-and-forget exit status."""

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import SparkSession

from mwas_rfam_spark.config import MwasConfig
from mwas_rfam_spark.operators.condense import condense_metadata
from mwas_rfam_spark.schemas import CATALOG_SCHEMA
from mwas_rfam_spark.sources.readers import melt_wide_metadata
from mwas_rfam_spark.streaming.http_server import (
    config_from_params,
    make_server,
    serve_forever_in_thread,
)


@pytest.fixture(scope="module")
def server_url(spark: SparkSession):
    wide = spark.createDataFrame(
        [
            ("SAM01", "liver", "deep"),
            ("SAM02", "liver", "deep"),
            ("SAM03", "brain", "shallow"),
            ("SAM04", "brain", "shallow"),
            ("SAM05", "brain", "shallow"),
            ("SAM06", "brain", "deep"),
        ],
        ["biosample_id", "tissue", "depth"],
    )
    catalog = spark.createDataFrame(
        [("PRJH1", f"SAM0{i}", f"R{i}", 1_000_000) for i in range(1, 7)],
        CATALOG_SCHEMA,
    )
    sets, ref = condense_metadata(melt_wide_metadata(wide, "PRJH1"))
    srv = make_server(spark, catalog, sets, ref)
    serve_forever_in_thread(srv)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _post(url, body: bytes):
    req = urllib.request.Request(url, data=body, method="POST")
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status, json.loads(r.read().decode())


def test_healthz(server_url):
    with urllib.request.urlopen(f"{server_url}/healthz", timeout=10) as r:
        assert r.status == 200 and json.loads(r.read().decode()) == {"ok": True}


def test_run_mwas_roundtrip(server_url):
    rows = [
        {"run": f"R{i}", "group": "g1", "quantifier": float(10 * i)}
        for i in range(1, 7)
    ]
    status, payload = _post(
        f"{server_url}/run_mwas?t_test_only=1&p_value_threshold=1.1",
        json.dumps(rows).encode(),
    )
    assert status == 200
    assert payload["n"] > 0 and len(payload["columns"]) == 18
    assert all(r["bioproject"] == "PRJH1" for r in payload["rows"])
    assert {r["status"].split(";")[0] for r in payload["rows"]} <= {
        "t_test",
        "skipped_statistical_testing",
    }


def test_oversized_result_returns_location_not_rows(spark, tmp_path):
    """Past max_inline_rows the server must NOT collect the relation
    inline (the OOM path the r5 verdict flagged): the full result is
    written distributed to parquet and the response carries its
    location; the inline path's collect is limit-bounded."""
    wide = spark.createDataFrame(
        [(f"SAM{i:02d}", "liver" if i % 2 else "brain", "deep" if i % 3 else "shallow")
         for i in range(1, 9)],
        ["biosample_id", "tissue", "depth"],
    )
    catalog = spark.createDataFrame(
        [("PRJH1", f"SAM{i:02d}", f"R{i}", 1_000_000) for i in range(1, 9)],
        CATALOG_SCHEMA,
    )
    sets, ref = condense_metadata(melt_wide_metadata(wide, "PRJH1"))
    srv = make_server(
        spark, catalog, sets, ref, max_inline_rows=1, results_dir=str(tmp_path)
    )
    serve_forever_in_thread(srv)
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        rows = [
            {"run": f"R{i}", "group": "g1", "quantifier": float(10 * i)}
            for i in range(1, 9)
        ]
        status, payload = _post(
            f"{url}/run_mwas?t_test_only=1&p_value_threshold=1.1",
            json.dumps(rows).encode(),
        )
        assert status == 200
        assert "rows" not in payload and "results_location" in payload
        assert payload["results_location"].startswith(str(tmp_path))
        written = spark.read.parquet(payload["results_location"])
        assert written.count() == payload["n"] > 1
        assert sorted(written.columns) == sorted(payload["columns"])
    finally:
        srv.shutdown()


def test_bad_request_is_400(server_url):
    for path, body in [
        ("/run_mwas", b"not json"),
        ("/run_mwas", b"[]"),
        ("/run_mwas?no_such_flag=1", b'[{"run":"R1","group":"g","quantifier":1.0}]'),
    ]:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(f"{server_url}{path}", body)
        assert e.value.code == 400
        assert "error" in json.loads(e.value.read().decode())


def test_unknown_route_is_404(server_url):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{server_url}/other", b"[]")
    assert e.value.code == 404


def test_config_from_params_coercion():
    cfg = config_from_params(
        {
            "t_test_only": "true",
            "p_value_threshold": "0.5",
            "permutation_resamples": "100",
            "blacklist": "P1,P2",
            "legacy_13col": "1",
        }
    )
    assert cfg == MwasConfig(
        t_test_only=True,
        p_value_threshold=0.5,
        permutation_resamples=100,
        blacklist=("P1", "P2"),
        legacy_13col=True,
    )
    with pytest.raises(ValueError, match="unknown config parameter"):
        config_from_params({"nope": "1"})


def test_server_releases_mwas_persists(server_url, persisted_rdds):
    """r11 review finding: the long-running server never released a
    POST's persisted relations (rollup, cohort rows, results). Each
    request now owns a pin scope. Run under the persist policy
    (use_local_checkpoint=0) and read from the JVM's persisted RDDs."""
    import json
    import urllib.request

    before = persisted_rdds()
    body = json.dumps(
        [{"run": f"R{i}", "group": "g1", "quantifier": 10.0 * i} for i in range(1, 7)]
    ).encode()
    req = urllib.request.Request(
        f"{server_url}/run_mwas?t_test_only=1&use_local_checkpoint=0", data=body,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 200
        assert json.loads(resp.read())["n"] > 0
    assert persisted_rdds() == before


def test_http_client_errors_are_400(server_url):
    """r12 review findings: malformed rows (missing run/group) were a
    500; valueless/repeated/typo'd params were silently ignored; bad
    boolean tokens silently coerced to False."""
    import json
    import urllib.error
    import urllib.request

    base = server_url

    def post(path, body):
        req = urllib.request.Request(
            f"{base}{path}", data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"}, method="POST",
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    # missing 'run' → 400 (was 500)
    code, body = post("/run_mwas", [{"group": "g", "quantifier": 1.0}])
    assert code == 400 and "missing required key" in body["error"]
    # non-object row → 400
    code, body = post("/run_mwas", [1, 2, 3])
    assert code == 400 and "JSON object" in body["error"]
    # valueless flag no longer silently dropped
    code, body = post("/run_mwas?no_such_flag", [{"run": "R1", "group": "g", "quantifier": 1.0}])
    assert code == 400 and "unknown config parameter" in body["error"]
    # repeated param refused
    code, body = post(
        "/run_mwas?blacklist=P1&blacklist=P2",
        [{"run": "R1", "group": "g", "quantifier": 1.0}],
    )
    assert code == 400 and "repeated config parameter" in body["error"]
    # bad boolean token refused
    code, body = post(
        "/run_mwas?t_test_only=ture",
        [{"run": "R1", "group": "g", "quantifier": 1.0}],
    )
    assert code == 400 and "bad boolean" in body["error"]


def test_internal_valueerror_is_500_not_400(spark, monkeypatch):
    """r13 ADVICE item: only RequestError (client input) maps to 400;
    an operator-guard ValueError raised on a VALID request (bad
    server-side state, cohort-size refusals) must stay a 500."""
    from mwas_rfam_spark.schemas import CATALOG_SCHEMA
    from mwas_rfam_spark.sources.readers import RequestError
    from mwas_rfam_spark.streaming import requests as req_mod

    catalog = spark.createDataFrame(
        [("PRJX", "SAMX", "RX", 1_000_000)], CATALOG_SCHEMA
    )
    empty = spark.createDataFrame([], "bio_project string")
    body = json.dumps([{"run": "RX", "group": "g", "quantifier": 1.0}]).encode()

    def post_to(srv_url):
        req = urllib.request.Request(
            f"{srv_url}/run_mwas", data=body,
            headers={"Content-Type": "application/json"}, method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=60) as r:
                return r.status
        except urllib.error.HTTPError as e:
            e.read()
            return e.code

    # 1) internal guard ValueError on a valid request → 500
    monkeypatch.setattr(
        req_mod, "serve_request",
        lambda *a, **k: (_ for _ in ()).throw(
            ValueError("grouped_permutation: cohort too small")
        ),
    )
    srv = make_server(spark, catalog, empty, empty)
    serve_forever_in_thread(srv)
    try:
        assert post_to(f"http://127.0.0.1:{srv.server_address[1]}") == 500
    finally:
        srv.shutdown()

    # 2) RequestError raised inside the pipeline stays a 400
    monkeypatch.setattr(
        req_mod, "serve_request",
        lambda *a, **k: (_ for _ in ()).throw(RequestError("bad row")),
    )
    srv = make_server(spark, catalog, empty, empty)
    serve_forever_in_thread(srv)
    try:
        assert post_to(f"http://127.0.0.1:{srv.server_address[1]}") == 400
    finally:
        srv.shutdown()


def test_non_numeric_quantifier_is_400(server_url):
    """RequestError covers float-coercion failures in input_from_rows."""
    req = urllib.request.Request(
        f"{server_url}/run_mwas",
        data=json.dumps([{"run": "R1", "group": "g", "quantifier": "abc"}]).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=60)
    assert e.value.code == 400
    assert "non-numeric quantifier" in json.loads(e.value.read().decode())["error"]


@pytest.mark.parametrize("row", [
    {"run": None, "group": "g", "quantifier": 1.0},
    {"run": "R1", "group": ["x"], "quantifier": 1.0},
])
def test_non_string_run_or_group_is_400(server_url, row):
    """A null run was a PySparkValueError and an HTTP 500; a list group
    was stored as its Python repr. Both are client errors."""
    req = urllib.request.Request(
        f"{server_url}/run_mwas", data=json.dumps([row]).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=60)
    assert e.value.code == 400
    assert "must be a string" in json.loads(e.value.read().decode())["error"]


def test_serve_request_crosses_the_py4j_boundary_in_bulk(spark, sf_dir, py4j_round_trips):
    """One request at sf0.001 makes fewer than 1,500 py4j round trips:
    the body enters as one Arrow table and each MWAS projection, filter
    and aggregate list is parsed SQL, not an operator-by-operator Column
    tree (about 5,000 round trips before). Measured after a warm-up
    request, minimum of three."""
    from mwas_rfam_spark import pinning
    from mwas_rfam_spark.plans.testdata_mwas import (
        mwas_catalog_from_orders,
        mwas_input_from_events,
        mwas_metadata_long_from_customer,
    )
    from mwas_rfam_spark.streaming.requests import serve_request

    catalog = mwas_catalog_from_orders(spark, sf_dir).localCheckpoint()
    sets, ref = condense_metadata(mwas_metadata_long_from_customer(spark, sf_dir))
    sets, ref = sets.localCheckpoint(), ref.localCheckpoint()
    body = mwas_input_from_events(spark, sf_dir).orderBy("run", "group", "quantifier")
    rows = [r.asDict() for r in body.limit(2000).collect()]
    cfg = MwasConfig(permutation_seed=1)
    counts = []
    for _ in range(4):
        with pinning.scope(False), py4j_round_trips() as n:
            serve_request(spark, rows, catalog, sets, ref, cfg)
        counts.append(n.count)
    assert min(counts[1:]) < 1500, counts
