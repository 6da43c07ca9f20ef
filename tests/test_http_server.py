"""HTTP/Arrow API server tests (reference ``api_server.py:165-209``)."""

from __future__ import annotations

import io
import json
import urllib.error
import urllib.request

import pytest

from sidemantic_spark.models.tpch import build_layer
from sidemantic_spark.server import SemanticHttpServer


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    layer = build_layer(spark, sf_dir)
    srv = SemanticHttpServer(layer, token="sekrit").start()
    yield srv
    srv.stop()


def _req(server, path, body=None, token="sekrit", raw=False):
    url = f"http://127.0.0.1:{server.port}{path}"
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data)
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    if data:
        req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req) as resp:
        payload = resp.read()
    return payload if raw else json.loads(payload)


def test_health_and_auth(server):
    assert _req(server, "/health")["status"] == "ok"
    with pytest.raises(urllib.error.HTTPError) as exc:
        _req(server, "/health", token=None)
    assert exc.value.code == 401


def test_models_listing(server):
    models = _req(server, "/models")["models"]
    assert "orders" in models and "customer" in models
    names = {m["name"] for m in models["orders"]["metrics"]}
    assert "revenue" in names


def test_structured_query(server):
    rows = _req(server, "/query", {
        "metrics": ["orders.revenue", "orders.order_count"],
        "dimensions": ["orders.status"],
        "order_by": ["status"],
    })["rows"]
    assert [r["status"] for r in rows] == ["F", "O", "P"]
    assert all(r["order_count"] > 0 for r in rows)


def test_sql_endpoint(server):
    rows = _req(server, "/sql", {
        "sql": "SELECT orders.status, orders.order_count FROM orders ORDER BY orders.status",
    })["rows"]
    assert len(rows) == 3


def test_compile_endpoint(server):
    sql = _req(server, "/compile", {
        "metrics": ["orders.revenue"], "dimensions": ["orders.status"],
    })["sql"]
    assert "GROUP BY" in sql and "SUM" in sql


def test_arrow_endpoint(server):
    import pyarrow as pa

    payload = _req(server, "/query.arrow", {
        "metrics": ["orders.order_count"],
        "dimensions": ["orders.status"],
    }, raw=True)
    table = pa.ipc.open_stream(io.BytesIO(payload)).read_all()
    assert table.num_rows == 3
    assert set(table.column_names) == {"status", "order_count"}


def test_error_paths(server):
    with pytest.raises(urllib.error.HTTPError) as exc:
        _req(server, "/query", {"metrics": ["orders.nope"]})
    assert exc.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as exc:
        _req(server, "/nope", {})
    assert exc.value.code == 404


def test_dashboard_and_chart_endpoint(server):
    """Web UI (reference api_server web UI) + /chart Vega-Lite endpoint."""
    text = _req(server, "/", raw=True).decode()
    assert "sidemantic-spark" in text and "vegaEmbed" in text

    spec = _req(server, "/chart", body={
        "metrics": ["orders.revenue"], "dimensions": ["orders.status"],
    })["vega_lite"]
    assert spec["mark"]["type"] == "bar"
    assert len(spec["data"]["values"]) == 3


@pytest.fixture(scope="module")
def secured_server(spark, sf_dir):
    """Secured layer + require_user_attrs server (ref
    tests/server/test_api_security.py: trusted user header)."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.core.security import SecurityPolicy
    from sidemantic_spark.models.tpch import register_tables

    register_tables(spark, sf_dir)
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="orders",
        table="orders",
        primary_key="o_orderkey",
        dimensions=[Dimension(name="status", sql="o_orderstatus")],
        metrics=[Metric(name="order_count", agg="count")],
        security=SecurityPolicy(
            access="True",
            row_filters=["o_orderstatus = '{{ user.allowed_status }}'"],
        ),
    ))
    srv = SemanticHttpServer(
        layer, token="sekrit", require_user_attrs=True
    ).start()
    yield srv
    srv.stop()


def _req_hdr(server, path, body, user_header=None, header_name="X-Sidemantic-User"):
    url = f"http://127.0.0.1:{server.port}{path}"
    req = urllib.request.Request(url, data=json.dumps(body).encode())
    req.add_header("Authorization", "Bearer sekrit")
    req.add_header("Content-Type", "application/json")
    if user_header is not None:
        req.add_header(header_name, user_header)
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def test_user_header_scopes_rows(secured_server):
    out = _req_hdr(
        secured_server, "/query",
        {"metrics": ["orders.order_count"], "dimensions": ["orders.status"]},
        user_header=json.dumps({"allowed_status": "F"}),
    )
    assert {r["status"] for r in out["rows"]} == {"F"}


def test_missing_user_header_rejected_when_required(secured_server):
    with pytest.raises(urllib.error.HTTPError) as exc:
        _req_hdr(
            secured_server, "/query",
            {"metrics": ["orders.order_count"]},
        )
    assert exc.value.code == 400


def test_invalid_user_header_rejected(secured_server):
    with pytest.raises(urllib.error.HTTPError) as exc:
        _req_hdr(
            secured_server, "/query",
            {"metrics": ["orders.order_count"]},
            user_header="not-json",
        )
    assert exc.value.code == 400


def test_body_user_cannot_override_header(secured_server):
    """The body-supplied user is client-chosen and must lose to the
    trusted header (a client picking its own row scope would defeat
    row-level security)."""
    out = _req_hdr(
        secured_server, "/query",
        {
            "metrics": ["orders.order_count"],
            "dimensions": ["orders.status"],
            "user": {"allowed_status": "O"},
        },
        user_header=json.dumps({"allowed_status": "F"}),
    )
    assert {r["status"] for r in out["rows"]} == {"F"}


def test_sql_endpoint_scoped_by_header(secured_server):
    out = _req_hdr(
        secured_server, "/sql",
        {"sql": "SELECT orders.status, orders.order_count FROM orders"},
        user_header=json.dumps({"allowed_status": "O"}),
    )
    assert {r["status"] for r in out["rows"]} == {"O"}


def test_concurrent_requests_scope_by_own_user(secured_server):
    """Cross-user isolation under concurrency (the rewriter is shared
    by server threads): parallel /sql requests with different user
    headers must each get rows scoped by THEIR user, and cached plans
    must never leak another user's scope."""
    import concurrent.futures

    def fetch(status):
        out = _req_hdr(
            secured_server, "/sql",
            {"sql": "SELECT orders.status, orders.order_count FROM orders"},
            user_header=json.dumps({"allowed_status": status}),
        )
        return status, {r["status"] for r in out["rows"]}

    jobs = ["F", "O"] * 10
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        for status, got in ex.map(fetch, jobs):
            assert got == {status}, (status, got)


def test_body_user_ignored_when_security_active(secured_server):
    """Without the trusted header, a client-supplied body user must NOT
    scope rows on a secured layer — it would let the caller choose
    their own tenant. The compile falls back to user=None, which
    fail-closes through StrictUndefined row templates."""
    with pytest.raises(urllib.error.HTTPError) as exc:
        _req_hdr(
            secured_server, "/query",
            {
                "metrics": ["orders.order_count"],
                "user": {"allowed_status": "O"},
            },
        )
    # require_user_attrs server: missing header is rejected outright
    assert exc.value.code == 400


def test_body_user_cannot_self_scope_without_require_flag(spark, sf_dir):
    """Even WITHOUT --require-user-attrs, a secured layer must ignore
    the body user: the query fails closed (row template renders over an
    empty namespace) instead of scoping by attacker-chosen attributes."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.core.security import SecurityPolicy
    from sidemantic_spark.models.tpch import register_tables

    register_tables(spark, sf_dir)
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="orders", table="orders", primary_key="o_orderkey",
        dimensions=[Dimension(name="status", sql="o_orderstatus")],
        metrics=[Metric(name="order_count", agg="count")],
        security=SecurityPolicy(
            access="True",
            row_filters=["o_orderstatus = '{{ user.allowed_status }}'"],
        ),
    ))
    srv = SemanticHttpServer(layer, token="sekrit").start()
    try:
        with pytest.raises(urllib.error.HTTPError) as exc:
            _req_hdr(
                srv, "/query",
                {
                    "metrics": ["orders.order_count"],
                    "user": {"allowed_status": "O"},
                },
            )
        assert exc.value.code == 400  # row template fails over empty user
        # the trusted header still works
        out = _req_hdr(
            srv, "/query",
            {"metrics": ["orders.order_count"],
             "dimensions": ["orders.status"]},
            user_header=json.dumps({"allowed_status": "F"}),
        )
        assert {r["status"] for r in out["rows"]} == {"F"}
    finally:
        srv.stop()


def test_truncation_indicator(server, monkeypatch):
    """Server-capped results must say so instead of clamping silently
    (the cap is shrunk here so a 3-group result overflows it)."""
    import sidemantic_spark.server.http_api as http_api

    monkeypatch.setattr(http_api, "MAX_RESULT_ROWS", 2)
    out = _req(server, "/query", {
        "metrics": ["orders.revenue"], "dimensions": ["orders.status"],
        "order_by": ["status"],
    })
    assert out["truncated"] is True and len(out["rows"]) == 2

    # explicit under-cap limit: client asked for 2 of 3 — NOT truncation
    out = _req(server, "/query", {
        "metrics": ["orders.revenue"], "dimensions": ["orders.status"],
        "order_by": ["status"], "limit": 2,
    })
    assert out["truncated"] is False and len(out["rows"]) == 2

    # /sql silently appended .limit() before; now it reports the cap
    out = _req(server, "/sql", {
        "sql": "SELECT orders.status, orders.order_count FROM orders"
        " ORDER BY orders.status",
    })
    assert out["truncated"] is True and len(out["rows"]) == 2

    # Arrow transport signals via header (no JSON side-channel)
    url = f"http://127.0.0.1:{server.port}/query.arrow"
    req = urllib.request.Request(url, data=json.dumps({
        "metrics": ["orders.order_count"], "dimensions": ["orders.status"],
    }).encode())
    req.add_header("Authorization", "Bearer sekrit")
    req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req) as resp:
        assert resp.headers["X-Truncated"] == "true"
        import pyarrow as pa

        table = pa.ipc.open_stream(io.BytesIO(resp.read())).read_all()
    assert table.num_rows == 2


def test_uncapped_result_not_marked_truncated(server):
    out = _req(server, "/query", {
        "metrics": ["orders.revenue"], "dimensions": ["orders.status"],
    })
    assert out["truncated"] is False and len(out["rows"]) == 3


def test_benchmark_transport_entry_points(server):
    """The layered benchmark's traced HTTP run (perfbench/workloads.py)
    builds a request's DataFrame and renders it through these four
    http_api names; pin their shapes so a refactor cannot break it."""
    import pyarrow as pa

    from sidemantic_spark.server import http_api

    assert http_api.MAX_RESULT_ROWS == 10_000
    body = {"metrics": ["orders.revenue"], "dimensions": ["orders.status"],
            "order_by": ["status"]}
    df, cap = server.handle_query(body)
    assert cap == http_api.MAX_RESULT_ROWS
    rows = http_api._df_to_rows(df)
    assert isinstance(rows, list) and [r["status"] for r in rows] == ["F", "O", "P"]
    assert isinstance(rows[0]["revenue"], str)  # decimals render as text
    payload, truncated = http_api._df_to_arrow_bytes(df, cap)
    assert isinstance(payload, bytes) and truncated is False
    assert pa.ipc.open_stream(payload).read_all().num_rows == 3
    payload, truncated = http_api._df_to_arrow_bytes(df, 2)
    assert truncated is True and pa.ipc.open_stream(payload).read_all().num_rows == 2
    df, cap = server.handle_query({**body, "limit": 2})
    assert cap is None and len(http_api._df_to_rows(df)) == 2


def test_session_exchange_and_readyz(spark, sf_dir):
    """Bearer-token -> short-lived session exchange (reference
    server/api_server.py): cookie mode sets an HttpOnly SameSite cookie,
    header mode returns the token in the body, logout revokes, /readyz
    stays public, wrong bearers are rejected."""
    import json as _json
    import urllib.error
    import urllib.request

    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.server.http_api import SemanticHttpServer

    layer = build_layer(spark, sf_dir)
    srv = SemanticHttpServer(layer, token="sekrit").start()
    base = f"http://127.0.0.1:{srv.port}"

    def req(path, method="GET", headers=None, ok=True):
        r = urllib.request.Request(base + path, method=method,
                                   headers=headers or {})
        try:
            resp = urllib.request.urlopen(r)
            return resp.status, dict(resp.headers), resp.read()
        except urllib.error.HTTPError as e:
            return e.code, dict(e.headers), e.read()

    try:
        # readyz public, health authed
        assert req("/readyz")[0] == 200
        assert req("/health")[0] == 401
        # wrong bearer rejected
        code, _, _ = req("/auth/session", "POST",
                         {"Authorization": "Bearer wrong"})
        assert code == 401
        # cookie mode
        code, headers, body = req("/auth/session", "POST",
                                  {"Authorization": "Bearer sekrit"})
        assert code == 200
        assert _json.loads(body)["expires_in"] == 600
        cookie = headers["Set-Cookie"]
        assert "sidemantic_session=" in cookie and "HttpOnly" in cookie
        assert "SameSite=strict" in cookie
        assert headers["Cache-Control"] == "no-store"
        sess_cookie = cookie.split(";")[0]
        assert req("/health", headers={"Cookie": sess_cookie})[0] == 200
        # logout revokes
        assert req("/auth/session", "DELETE",
                   {"Cookie": sess_cookie})[0] == 204
        assert req("/health", headers={"Cookie": sess_cookie})[0] == 401
        # header mode
        code, headers, body = req(
            "/auth/session", "POST",
            {"Authorization": "Bearer sekrit",
             "X-Sidemantic-Session-Mode": "header"})
        payload = _json.loads(body)
        assert "session_token" in payload
        assert "Set-Cookie" not in headers
        tok = payload["session_token"]
        assert req("/health", headers={
            "Authorization": f"Sidemantic-Session {tok}"})[0] == 200
    finally:
        srv.stop()


def test_control_plane_responsive_during_slow_queries(server):
    """/models reads the in-memory graph and must not queue behind
    in-flight query execution (reference tests/server/
    test_concurrency.py:121 — the control plane takes no query lock)."""
    import threading
    import time as _time

    _req(server, "/query", {"metrics": ["orders.revenue"],
                            "dimensions": ["orders.status"]})  # warm
    stop = threading.Event()
    errors: list[str] = []

    def hammer() -> None:
        while not stop.is_set():
            try:
                _req(server, "/query", {
                    "metrics": ["orders.revenue", "orders.order_count"],
                    "dimensions": ["orders.status", "customer.mktsegment"],
                })
            except Exception as exc:  # noqa: BLE001 - recorded, not hidden
                errors.append(str(exc))

    workers = [threading.Thread(target=hammer) for _ in range(3)]
    for w in workers:
        w.start()
    try:
        t0 = _time.perf_counter()
        models = _req(server, "/models")["models"]
        elapsed = _time.perf_counter() - t0
        assert "orders" in models
        assert elapsed < 2.0, f"control-plane read blocked {elapsed:.2f}s"
    finally:
        stop.set()
        for w in workers:
            w.join(timeout=30)
    assert not errors, errors[:2]


def test_concurrent_queries_do_not_serialize(server):
    """Spark sessions serve concurrent actions; four parallel /query
    requests must take well under 4x a single request (reference
    tests/server/test_concurrency.py:91)."""
    import concurrent.futures
    import statistics
    import time as _time

    def one() -> float:
        t0 = _time.perf_counter()
        _req(server, "/query", {
            "metrics": ["orders.revenue"],
            "dimensions": ["orders.status"],
        })
        return _time.perf_counter() - t0

    one()  # warm
    single = statistics.median([one() for _ in range(3)])
    t0 = _time.perf_counter()
    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(lambda _i: one(), range(4)))
    total = _time.perf_counter() - t0
    # serialized would be ~4x single; generous bound for busy boxes
    assert total < 3.0 * single + 1.0, (total, single)


# -- round-9 mined reference server cases (tests/server/) --------------


def test_non_object_json_user_header_rejected(secured_server):
    """Valid JSON that is not an OBJECT (`[1, 2, 3]`) must 400, not be
    treated as attributes (ref test_api_security.py
    test_non_object_json_header_returns_400)."""
    with pytest.raises(urllib.error.HTTPError) as exc:
        _req_hdr(
            secured_server, "/query",
            {"metrics": ["orders.order_count"]},
            user_header="[1, 2, 3]",
        )
    assert exc.value.code == 400


def test_custom_user_header_name(spark, sf_dir):
    """A deployment-specific trusted header name scopes rows exactly
    like the default (ref test_api_security.py
    test_custom_user_header_name); the DEFAULT header must be ignored
    on such a server (it is no longer the trusted channel)."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.core.security import SecurityPolicy
    from sidemantic_spark.models.tpch import register_tables

    register_tables(spark, sf_dir)
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="orders", table="orders", primary_key="o_orderkey",
        dimensions=[Dimension(name="status", sql="o_orderstatus")],
        metrics=[Metric(name="order_count", agg="count")],
        security=SecurityPolicy(
            access="True",
            row_filters=["o_orderstatus = '{{ user.allowed_status }}'"],
        ),
    ))
    srv = SemanticHttpServer(
        layer, token="sekrit", require_user_attrs=True,
        user_header="X-My-User",
    ).start()
    try:
        out = _req_hdr(
            srv, "/query",
            {"metrics": ["orders.order_count"], "dimensions": ["orders.status"]},
            user_header=json.dumps({"allowed_status": "O"}),
            header_name="X-My-User",
        )
        assert {r["status"] for r in out["rows"]} == {"O"}
        # default header is NOT trusted on this server
        with pytest.raises(urllib.error.HTTPError) as exc:
            _req_hdr(
                srv, "/query",
                {"metrics": ["orders.order_count"]},
                user_header=json.dumps({"allowed_status": "O"}),
                header_name="X-Sidemantic-User",
            )
        assert exc.value.code == 400  # require_user_attrs: header absent
    finally:
        srv.stop()


def test_result_cache_key_differs_across_users(spark, sf_dir):
    """Same compiled SQL, different user attributes -> different result
    cache keys (ref test_api_security.py)."""
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, sf_dir)
    sql = "select 1"
    key_a = layer._cache_key(sql, {"tenant_id": 1})
    key_b = layer._cache_key(sql, {"tenant_id": 2})
    key_none = layer._cache_key(sql, None)
    assert key_a != key_b
    assert key_a != key_none
    assert key_b != key_none


def test_result_cache_no_cross_user_leak_end_to_end(spark, sf_dir):
    """With result caching on, two users issuing the SAME query must
    each get rows scoped by THEIR attributes (ref test_api_security.py
    test_result_cache_no_cross_user_leak_end_to_end)."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.core.security import SecurityPolicy
    from sidemantic_spark.models.tpch import register_tables

    register_tables(spark, sf_dir)
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="orders", table="orders", primary_key="o_orderkey",
        dimensions=[Dimension(name="status", sql="o_orderstatus")],
        metrics=[Metric(name="order_count", agg="count")],
        security=SecurityPolicy(
            access="True",
            row_filters=["o_orderstatus = '{{ user.allowed_status }}'"],
        ),
    ))
    kwargs = dict(
        metrics=["orders.order_count"], dimensions=["orders.status"],
    )
    rows_a = layer.query(
        use_cache=True, user={"allowed_status": "O"}, **kwargs
    ).collect()
    rows_b = layer.query(
        use_cache=True, user={"allowed_status": "F"}, **kwargs
    ).collect()
    # repeat user A: must hit the cache AND still be A's rows
    rows_a2 = layer.query(
        use_cache=True, user={"allowed_status": "O"}, **kwargs
    ).collect()
    assert {r["status"] for r in rows_a} == {"O"}
    assert {r["status"] for r in rows_b} == {"F"}
    assert {r["status"] for r in rows_a2} == {"O"}
    assert layer._cache_hits >= 1
