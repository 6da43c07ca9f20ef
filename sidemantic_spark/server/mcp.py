"""MCP (Model Context Protocol) server over stdio.

Re-expression of the reference's MCP surface (``sidemantic/mcp_server.py``:
tools for listing models, querying, compiling) as a dependency-free
JSON-RPC 2.0 loop over stdin/stdout following the MCP wire shape:
``initialize`` -> ``tools/list`` -> ``tools/call``.

Tools:
- ``list_models``   — semantic graph summary
- ``get_model``     — one model's dimensions/metrics/relationships
- ``compile_query`` — structured query -> Spark SQL text
- ``run_query``     — structured query -> rows (capped, with ``truncated``)
- ``run_sql``       — semantic SQL -> rows (capped, with ``truncated``)
- ``create_chart``  — structured query -> Vega-Lite v5 spec
"""

from __future__ import annotations

import json
import sys

from sidemantic_spark.server.transport import json_result

PROTOCOL_VERSION = "2024-11-05"
MAX_ROWS = 1000

TOOLS = [
    {
        "name": "list_models",
        "description": "List all semantic models with their dimensions and metrics",
        "inputSchema": {"type": "object", "properties": {}},
    },
    {
        "name": "get_model",
        "description": "Describe one semantic model",
        "inputSchema": {
            "type": "object",
            "properties": {"name": {"type": "string"}},
            "required": ["name"],
        },
    },
    {
        "name": "compile_query",
        "description": "Compile a structured semantic query to Spark SQL without executing",
        "inputSchema": {
            "type": "object",
            "properties": {
                "metrics": {"type": "array", "items": {"type": "string"}},
                "dimensions": {"type": "array", "items": {"type": "string"}},
                "filters": {"type": "array", "items": {"type": "string"}},
                "order_by": {"type": "array", "items": {"type": "string"}},
                "limit": {"type": "integer"},
            },
        },
    },
    {
        "name": "run_query",
        "description": "Run a structured semantic query and return rows",
        "inputSchema": {
            "type": "object",
            "properties": {
                "metrics": {"type": "array", "items": {"type": "string"}},
                "dimensions": {"type": "array", "items": {"type": "string"}},
                "filters": {"type": "array", "items": {"type": "string"}},
                "order_by": {"type": "array", "items": {"type": "string"}},
                "limit": {"type": "integer"},
            },
        },
    },
    {
        "name": "run_sql",
        "description": "Run semantic SQL (models as tables, metrics as columns) and return rows",
        "inputSchema": {
            "type": "object",
            "properties": {"sql": {"type": "string"}},
            "required": ["sql"],
        },
    },
    {
        "name": "create_chart",
        "description": (
            "Run a semantic query and return a Vega-Lite v5 chart spec. "
            "chart_type auto: time dim -> line, categorical -> bar, "
            "multiple metrics fold into a colored series"
        ),
        "inputSchema": {
            "type": "object",
            "properties": {
                "metrics": {"type": "array", "items": {"type": "string"}},
                "dimensions": {"type": "array", "items": {"type": "string"}},
                "filters": {"type": "array", "items": {"type": "string"}},
                "chart_type": {
                    "type": "string",
                    "enum": ["auto", "bar", "line", "area", "scatter", "point"],
                },
                "title": {"type": "string"},
            },
        },
    },
]


class McpServer:
    """Single-session MCP server bound to a SparkSemanticLayer.

    ``user_attributes`` are STATIC per server process (ref
    tests/test_mcp_security.py: MCP has no per-session identity):
    they feed every query's access checks and row policies. The default
    ``None`` fail-closes — secured models deny because their access/row
    templates render with StrictUndefined over an empty user namespace.
    """

    def __init__(self, layer, user_attributes: dict | None = None) -> None:
        self.layer = layer
        self.user_attributes = user_attributes

    def get_user_attributes(self) -> dict | None:
        return self.user_attributes

    # -- tool implementations ----------------------------------------

    def tool_list_models(self, args: dict):
        from sidemantic_spark.server.http_api import SemanticHttpServer

        return SemanticHttpServer.handle_models(self)  # same summary shape

    def tool_get_model(self, args: dict):
        model = self.layer.graph.get_model(args["name"])
        return {
            "name": model.name,
            "table": model.table,
            "sql": model.sql,
            "primary_key": model.primary_key,
            "description": model.description,
            "dimensions": [
                {"name": d.name, "type": d.type, "sql": d.sql,
                 "granularity": d.granularity,
                 **({"parent": d.parent,
                     "hierarchy_path": model.get_hierarchy_path(d.name)}
                    if d.parent else {})}
                for d in model.dimensions if d.public
            ],
            "metrics": [
                {"name": m.name, "agg": m.agg, "type": m.type, "sql": m.sql,
                 "description": m.description,
                 **({"drill_fields": m.drill_fields} if m.drill_fields else {})}
                for m in model.metrics if m.public
            ],
            "relationships": [
                {"name": r.name, "type": r.type, "foreign_key": r.foreign_key}
                for r in model.relationships
            ],
            "segments": [s.name for s in model.segments],
        }

    def _query_kwargs(self, args: dict) -> dict:
        limit = args.get("limit")
        if limit is None or limit > MAX_ROWS:
            limit = MAX_ROWS
        return dict(
            metrics=args.get("metrics") or [],
            dimensions=args.get("dimensions") or [],
            filters=args.get("filters") or [],
            order_by=args.get("order_by") or [],
            limit=limit,
            user=self.user_attributes,
        )

    def tool_compile_query(self, args: dict):
        return {"sql": self.layer.compile(**self._query_kwargs(args))}

    def tool_run_query(self, args: dict):
        # the client's own limit: json_result applies MAX_ROWS and
        # reports the cut
        kwargs = {**self._query_kwargs(args), "limit": args.get("limit")}
        return json_result(self.layer.query(**kwargs), MAX_ROWS)

    def tool_run_sql(self, args: dict):
        df = self.layer.sql(args["sql"], user=self.user_attributes)
        return json_result(df, MAX_ROWS)

    def tool_create_chart(self, args: dict):
        """Query + Vega-Lite spec (reference mcp_server.py:486 chart
        tool; spec-only — see charts.py for the no-PNG rationale)."""
        from sidemantic_spark.charts import chart_for_query

        spec = chart_for_query(
            self.layer,
            metrics=args.get("metrics"),
            dimensions=args.get("dimensions"),
            filters=args.get("filters"),
            chart_type=args.get("chart_type", "auto"),
            title=args.get("title"),
            limit=MAX_ROWS,
            user=self.user_attributes,
        )
        return {"vega_lite": spec}

    # -- JSON-RPC loop ------------------------------------------------

    def handle(self, msg: dict) -> dict | None:
        """Handle one JSON-RPC request; returns the response (None for
        notifications)."""
        method = msg.get("method")
        msg_id = msg.get("id")
        if method == "initialize":
            return self._result(msg_id, {
                "protocolVersion": PROTOCOL_VERSION,
                "capabilities": {"tools": {}},
                "serverInfo": {"name": "sidemantic-spark", "version": "1.0"},
            })
        if method in ("notifications/initialized", "initialized"):
            return None
        if method == "tools/list":
            return self._result(msg_id, {"tools": TOOLS})
        if method == "tools/call":
            params = msg.get("params") or {}
            name = params.get("name")
            args = params.get("arguments") or {}
            fn = getattr(self, f"tool_{name}", None)
            if fn is None:
                return self._error(msg_id, -32602, f"unknown tool {name!r}")
            try:
                payload = fn(args)
            except Exception as exc:
                return self._result(msg_id, {
                    "content": [{"type": "text",
                                 "text": f"error: {type(exc).__name__}: {exc}"}],
                    "isError": True,
                })
            return self._result(msg_id, {
                "content": [{"type": "text", "text": json.dumps(payload, default=str)}],
            })
        if msg_id is None:
            return None  # unknown notification: ignore
        return self._error(msg_id, -32601, f"method {method!r} not found")

    @staticmethod
    def _result(msg_id, result: dict) -> dict:
        return {"jsonrpc": "2.0", "id": msg_id, "result": result}

    @staticmethod
    def _error(msg_id, code: int, message: str) -> dict:
        return {"jsonrpc": "2.0", "id": msg_id,
                "error": {"code": code, "message": message}}

    def serve_stdio(self, stdin=None, stdout=None) -> None:
        stdin = stdin or sys.stdin
        stdout = stdout or sys.stdout
        for line in stdin:
            line = line.strip()
            if not line:
                continue
            try:
                msg = json.loads(line)
            except json.JSONDecodeError:
                continue
            resp = self.handle(msg)
            if resp is not None:
                stdout.write(json.dumps(resp) + "\n")
                stdout.flush()
