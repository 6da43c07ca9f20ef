"""MCP stdio server tests (reference ``sidemantic/mcp_server.py``)."""

from __future__ import annotations

import io
import json

import pytest

from sidemantic_spark.models.tpch import build_layer
from sidemantic_spark.server import McpServer


@pytest.fixture(scope="module")
def mcp(spark, sf_dir):
    return McpServer(build_layer(spark, sf_dir))


def _call(mcp, method, params=None, msg_id=1):
    return mcp.handle({"jsonrpc": "2.0", "id": msg_id, "method": method,
                       "params": params or {}})


def _tool(mcp, name, args=None):
    resp = _call(mcp, "tools/call", {"name": name, "arguments": args or {}})
    assert "error" not in resp
    content = resp["result"]["content"][0]["text"]
    return json.loads(content), resp["result"].get("isError", False)


def test_initialize_and_list_tools(mcp):
    resp = _call(mcp, "initialize")
    assert resp["result"]["serverInfo"]["name"] == "sidemantic-spark"
    assert _call(mcp, "notifications/initialized") is None
    tools = _call(mcp, "tools/list")["result"]["tools"]
    assert {t["name"] for t in tools} == {
        "list_models", "get_model", "compile_query", "run_query",
        "run_sql", "create_chart",
    }


def test_list_and_get_model(mcp):
    models, _ = _tool(mcp, "list_models")
    assert "orders" in models["models"]
    detail, _ = _tool(mcp, "get_model", {"name": "orders"})
    assert detail["primary_key"] == "o_orderkey"
    assert any(m["name"] == "revenue" for m in detail["metrics"])


def test_compile_and_run_query(mcp):
    compiled, _ = _tool(mcp, "compile_query", {
        "metrics": ["orders.revenue"], "dimensions": ["orders.status"],
    })
    assert "GROUP BY" in compiled["sql"]
    rows, _ = _tool(mcp, "run_query", {
        "metrics": ["orders.order_count"], "dimensions": ["orders.status"],
        "order_by": ["status"],
    })
    assert [r["status"] for r in rows["rows"]] == ["F", "O", "P"]


def test_run_sql_and_errors(mcp):
    rows, _ = _tool(mcp, "run_sql", {
        "sql": "SELECT orders.status, orders.order_count FROM orders",
    })
    assert len(rows["rows"]) == 3
    resp = _call(mcp, "tools/call", {"name": "run_query",
                                     "arguments": {"metrics": ["orders.nope"]}})
    assert resp["result"]["isError"]
    resp = _call(mcp, "tools/call", {"name": "bogus", "arguments": {}})
    assert resp["error"]["code"] == -32602
    resp = _call(mcp, "no/such_method")
    assert resp["error"]["code"] == -32601


def test_truncation_indicator(mcp, monkeypatch):
    """Server-capped results say so (mirrors the HTTP server's test;
    the cap is shrunk so a 3-group result overflows it)."""
    import sidemantic_spark.server.mcp as mcp_mod

    monkeypatch.setattr(mcp_mod, "MAX_ROWS", 2)
    out, _ = _tool(mcp, "run_query", {
        "metrics": ["orders.revenue"], "dimensions": ["orders.status"],
        "order_by": ["status"],
    })
    assert out["truncated"] is True and len(out["rows"]) == 2

    # explicit under-cap limit: the client asked for 2 of 3
    out, _ = _tool(mcp, "run_query", {
        "metrics": ["orders.revenue"], "dimensions": ["orders.status"],
        "order_by": ["status"], "limit": 2,
    })
    assert out["truncated"] is False and len(out["rows"]) == 2

    out, _ = _tool(mcp, "run_sql", {
        "sql": "SELECT orders.status, orders.order_count FROM orders",
    })
    assert out["truncated"] is True and len(out["rows"]) == 2

    monkeypatch.setattr(mcp_mod, "MAX_ROWS", 3)
    out, _ = _tool(mcp, "run_sql", {
        "sql": "SELECT orders.status, orders.order_count FROM orders",
    })
    assert out["truncated"] is False and len(out["rows"]) == 3


def test_stdio_loop(mcp):
    stdin = io.StringIO(
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "initialize"}) + "\n"
        + json.dumps({"jsonrpc": "2.0", "method": "notifications/initialized"}) + "\n"
        + json.dumps({"jsonrpc": "2.0", "id": 2, "method": "tools/list"}) + "\n"
    )
    stdout = io.StringIO()
    mcp.serve_stdio(stdin=stdin, stdout=stdout)
    lines = [json.loads(ln) for ln in stdout.getvalue().strip().splitlines()]
    assert len(lines) == 2  # notification produced no response
    assert lines[0]["id"] == 1 and lines[1]["id"] == 2


def test_mcp_create_chart_tool(mcp):
    """Chart tool (reference mcp_server.py:486): returns a Vega-Lite v5
    spec with data inlined and auto-selected mark."""
    import json

    resp = mcp.handle({
        "jsonrpc": "2.0", "id": 9, "method": "tools/call",
        "params": {"name": "create_chart", "arguments": {
            "metrics": ["orders.revenue"],
            "dimensions": ["orders.status"],
        }},
    })
    payload = json.loads(resp["result"]["content"][0]["text"])
    spec = payload["vega_lite"]
    assert spec["$schema"].endswith("vega-lite/v5.json")
    assert spec["mark"]["type"] == "bar"  # categorical x -> bar
    assert len(spec["data"]["values"]) == 3
    assert spec["encoding"]["x"]["field"] == "status"
    assert spec["encoding"]["y"]["field"] == "revenue"


@pytest.fixture()
def secured_mcp(spark, sf_dir):
    """Layer with a secured orders model + an MCP server per user mode
    (ref tests/test_mcp_security.py: static user_attributes)."""
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
            access="{{ user.role == 'analyst' }}",
            row_filters=["o_orderstatus = '{{ user.allowed_status }}'"],
        ),
    ))
    return layer


def test_mcp_default_none_denies_secured_model(secured_mcp):
    mcp = McpServer(secured_mcp)
    assert mcp.get_user_attributes() is None
    resp = _call(mcp, "tools/call", {
        "name": "run_query",
        "arguments": {"metrics": ["orders.order_count"]},
    })
    text = resp["result"]["content"][0]["text"]
    assert resp["result"].get("isError") or "denied" in text or "user" in text


def test_mcp_static_user_attributes_scope_rows(secured_mcp):
    mcp = McpServer(secured_mcp, user_attributes={
        "role": "analyst", "allowed_status": "F",
    })
    out, is_err = _tool(mcp, "run_query", {
        "metrics": ["orders.order_count"], "dimensions": ["orders.status"],
    })
    assert not is_err
    assert {r["status"] for r in out["rows"]} == {"F"}


def test_mcp_run_sql_scopes_rows_with_user_attributes(secured_mcp):
    mcp = McpServer(secured_mcp, user_attributes={
        "role": "analyst", "allowed_status": "O",
    })
    out, is_err = _tool(mcp, "run_sql", {
        "sql": "SELECT orders.status, orders.order_count FROM orders",
    })
    assert not is_err
    assert {r["status"] for r in out["rows"]} == {"O"}


def test_mcp_run_sql_denies_nonsemantic_source_when_secured(secured_mcp):
    mcp = McpServer(secured_mcp, user_attributes={
        "role": "analyst", "allowed_status": "O",
    })
    resp = _call(mcp, "tools/call", {
        "name": "run_sql",
        "arguments": {"sql": "SELECT * FROM lineitem"},
    })
    text = resp["result"]["content"][0]["text"]
    assert resp["result"].get("isError") or "refused" in text
