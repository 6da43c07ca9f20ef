"""Byte-level pins of what every serving surface renders.

One typed row (DECIMAL, DATE, TIMESTAMP, TIMESTAMP_NTZ, NULL, BOOLEAN,
BINARY, STRUCT, ARRAY, MAP), its all-NULL twin and an ``orders`` detail
page go through the HTTP JSON and Arrow endpoints, MCP, pgwire (simple
and extended protocol), the CLI (json and csv) and the workbench. The
exact bytes each surface produced when every surface still collected
its own rows are recorded in ``render_golden.json``; any change to the
result path must reproduce them. Large bodies are pinned by SHA-256.

MAP values here carry one entry: with several entries the order of a
rendered map used to follow the JVM hash map that ``collect()`` built;
it now follows Spark's own entry order (``test_transport.py`` checks the
values are equal as dicts).
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import socket
import struct
import urllib.request

import pytest

from sidemantic_spark.core.model import Dimension, Model
from sidemantic_spark.models.tpch import build_layer

GOLDEN = pathlib.Path(__file__).with_name("render_golden.json")

_COLUMNS = """
  CAST(12.50 AS DECIMAL(10,2)) AS d, CAST('-1.5E-7' AS DECIMAL(20,10)) AS dsmall,
  DATE'2024-02-29' AS dt, TIMESTAMP'2024-03-01 12:34:56.789012' AS ts,
  TIMESTAMP_NTZ'1969-12-31 23:59:59.5' AS tsn, CAST(NULL AS INT) AS n,
  true AS b, X'01FF' AS bin, named_struct('a', 1, 'b', 'x') AS st,
  array(1, 2, NULL) AS arr, map('k', 1) AS mp, 0.1D AS dbl, 'h\\u00e9' AS s"""
_NULLS = """
  CAST(NULL AS DECIMAL(10,2)), CAST(NULL AS DECIMAL(20,10)), CAST(NULL AS DATE),
  CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP_NTZ), CAST(NULL AS INT),
  CAST(NULL AS BOOLEAN), CAST(NULL AS BINARY),
  CAST(NULL AS STRUCT<a: INT, b: STRING>), CAST(NULL AS ARRAY<INT>),
  CAST(NULL AS MAP<STRING, INT>), CAST(NULL AS DOUBLE), CAST(NULL AS STRING)"""
TYPED_VIEW = f"SELECT 1 AS k, {_COLUMNS} UNION ALL SELECT 2, {_NULLS}"
TYPED_SQL = f"WITH t AS ({TYPED_VIEW}) SELECT * FROM t ORDER BY k"
# nested values JSON cannot carry: only the text surfaces render these
NESTED_SQL = """WITH t AS (SELECT
  named_struct('t', TIMESTAMP'2020-01-01 00:00:00', 'd', CAST(1.5 AS DECIMAL(4,2))) AS st,
  array(named_struct('z', DATE'2021-05-06')) AS arrst,
  map('m', array(TIMESTAMP'2022-02-02 02:02:02.5')) AS mp,
  X'00' AS bin) SELECT * FROM t"""
TYPED_COLS = ["k", "d", "dsmall", "dt", "ts", "tsn", "n", "b", "bin", "st",
              "arr", "mp", "dbl", "s"]
DETAIL = {
    "dimensions": ["orders.custkey", "orders.status", "orders.priority",
                   "orders.order_date"],
    "ungrouped": True, "order_by": ["orders.custkey", "orders.order_date"],
    "filters": ["orders.order_date >= TIMESTAMP '1995-01-01'"],
}


@pytest.fixture(scope="module")
def layer(spark, sf_dir):
    layer = build_layer(spark, sf_dir)
    spark.sql(f"CREATE OR REPLACE TEMP VIEW render_types AS {TYPED_VIEW}")
    layer.add_model(Model(
        name="render_types", table="render_types", primary_key="k",
        dimensions=[Dimension(name=c, sql=c) for c in TYPED_COLS],
    ))
    return layer


def _digest(raw: bytes) -> str:
    return f"sha256:{hashlib.sha256(raw).hexdigest()}:{len(raw)}"


def _post(port: int, path: str, body: dict) -> tuple[bytes, str | None]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=json.dumps(body).encode())
    with urllib.request.urlopen(req) as resp:
        return resp.read(), resp.headers.get("X-Truncated")


def _http(layer, monkeypatch) -> dict:
    from sidemantic_spark.server import http_api

    typed = {"dimensions": [f"render_types.{c}" for c in TYPED_COLS],
             "ungrouped": True, "order_by": ["render_types.k"]}
    srv = http_api.SemanticHttpServer(layer).start()
    try:
        out = {
            "http_query_typed": _post(srv.port, "/query", typed)[0].decode(),
            "http_sql_typed": _post(srv.port, "/sql", {"sql": TYPED_SQL})[0].decode(),
        }
        body, trunc = _post(srv.port, "/query.arrow", typed)
        out["http_arrow_typed"] = [_digest(body), trunc]
        out["http_query_detail"] = _digest(_post(srv.port, "/query", DETAIL)[0])
        body, trunc = _post(srv.port, "/query.arrow", DETAIL)
        out["http_arrow_detail"] = [_digest(body), trunc]
        monkeypatch.setattr(http_api, "MAX_RESULT_ROWS", 100)
        out["http_query_detail_capped"] = _digest(_post(srv.port, "/query", DETAIL)[0])
        body, trunc = _post(srv.port, "/query.arrow", DETAIL)
        out["http_arrow_detail_capped"] = [_digest(body), trunc]
    finally:
        srv.stop()
    return out


def _mcp(layer) -> dict:
    from sidemantic_spark.server.mcp import McpServer

    mcp = McpServer(layer)
    # only ``rows``: the payload's other keys are not rendered rows
    return {
        "mcp_sql_typed": json.dumps(
            mcp.tool_run_sql({"sql": TYPED_SQL})["rows"], default=str),
        "mcp_sql_nested": json.dumps(
            mcp.tool_run_sql({"sql": NESTED_SQL})["rows"], default=str),
        "mcp_query_detail": _digest(json.dumps(
            mcp.tool_run_query(DETAIL)["rows"], default=str).encode()),
    }


def _pg_exchange(port: int, request: bytes) -> bytes:
    """Startup, send ``request``, return every backend byte up to and
    including the next ReadyForQuery."""
    sock = socket.create_connection(("127.0.0.1", port), timeout=60)

    def recv_exact(n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = sock.recv(n - len(buf))
            assert chunk, "server closed the connection"
            buf += chunk
        return buf

    def until_ready() -> bytes:
        out = b""
        while True:
            head = recv_exact(5)
            (length,) = struct.unpack("!I", head[1:])
            out += head + recv_exact(length - 4)
            if head[:1] == b"Z":
                return out

    try:
        params = b"user\x00alice\x00database\x00sidemantic\x00\x00"
        payload = struct.pack("!I", 196608) + params
        sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        until_ready()
        sock.sendall(request)
        return until_ready()
    finally:
        sock.close()


def _frame(tag: bytes, body: bytes) -> bytes:
    return tag + struct.pack("!I", len(body) + 4) + body


def _pgwire(layer) -> dict:
    from sidemantic_spark.server import PgWireServer

    def simple(sql: str) -> bytes:
        return _frame(b"Q", sql.encode() + b"\x00")

    def extended(sql: str) -> bytes:
        return (
            _frame(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!H", 0))
            + _frame(b"B", b"\x00\x00" + struct.pack("!HHH", 0, 0, 0))
            + _frame(b"E", b"\x00" + struct.pack("!i", 0))
            + _frame(b"S", b"")
        )

    srv = PgWireServer(layer).start()
    try:
        out = {}
        for name, sql in (("typed", TYPED_SQL), ("nested", NESTED_SQL)):
            out[f"pg_simple_{name}"] = _pg_exchange(srv.port, simple(sql)).hex()
            out[f"pg_extended_{name}"] = _pg_exchange(srv.port, extended(sql)).hex()
        detail = "SELECT orders.custkey, orders.status, orders.order_date FROM orders"
        out["pg_simple_detail"] = _digest(_pg_exchange(srv.port, simple(detail)))
        # empty statements, and an error that ends a multi-statement query
        out["pg_simple_empty"] = _pg_exchange(srv.port, simple(" ;")).hex()
        out["pg_extended_empty"] = _pg_exchange(srv.port, extended("")).hex()
        out["pg_simple_error"] = _pg_exchange(srv.port, simple(
            "SHOW server_version; SELECT nope.x FROM nope; SELECT version()")).hex()
    finally:
        srv.stop()
    return out


def _cli(layer, tmp_path, monkeypatch, capsys) -> dict:
    from sidemantic_spark import cli

    monkeypatch.setattr(cli, "_build_spark", lambda app="x": layer.spark)
    models = tmp_path / "models.yml"
    models.write_text("models: []\n")
    out = {}
    for name, sql in (("typed", TYPED_SQL), ("nested", NESTED_SQL)):
        for fmt in ("json", "csv"):
            capsys.readouterr()
            assert cli.main(["sql", "-f", str(models), "-o", fmt, sql]) == 0
            out[f"cli_{fmt}_{name}"] = capsys.readouterr().out
    return out


def _workbench(layer) -> dict:
    from sidemantic_spark.workbench import WorkbenchSession

    session = WorkbenchSession(layer)
    out = {}
    for name, sql in (("typed", TYPED_SQL), ("nested", NESTED_SQL)):
        res = session.run(sql)
        assert res.error is None, res.error
        out[f"workbench_{name}"] = repr((res.columns, res.rows))
    return out


def render_all(layer, tmp_path, monkeypatch, capsys) -> dict:
    return {
        **_http(layer, monkeypatch), **_mcp(layer), **_pgwire(layer),
        **_cli(layer, tmp_path, monkeypatch, capsys), **_workbench(layer),
    }


def test_every_surface_renders_the_pinned_bytes(layer, tmp_path, monkeypatch, capsys):
    got = render_all(layer, tmp_path, monkeypatch, capsys)
    want = json.loads(GOLDEN.read_text())
    assert sorted(got) == sorted(want)
    for key in want:
        assert got[key] == want[key], key

