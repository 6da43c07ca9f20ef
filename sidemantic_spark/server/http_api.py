"""HTTP / Arrow API server.

Re-expression of the reference's FastAPI surface
(``sidemantic/api_server.py:165-209``: StructuredQueryRequest ``:91``,
SQLRequest ``:117``, bearer auth, body-size middleware ``:125``) on the
stdlib ``http.server`` — no external dependencies. Endpoints:

- ``GET  /health``            -> {"status": "ok"}
- ``GET  /models``            -> graph summary
- ``POST /query``             -> structured semantic query, JSON rows
- ``POST /sql``               -> semantic SQL, JSON rows
- ``POST /query.arrow``       -> structured query, Arrow IPC stream
- ``POST /compile``           -> compiled SQL text without executing
- ``POST /chart``             -> structured query, Vega-Lite v5 spec
- ``GET  /``                  -> self-contained web UI (model browser +
  query builder + chart, reference api_server web UI)

Requests execute on the layer's SparkSession; the driver compiles, the
cluster executes — the server adds no new distribution boundary
(SURVEY.md §3.3).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from sidemantic_spark.server.transport import fetch, json_result

MAX_BODY_BYTES = 10 * 1024 * 1024  # reference body-size middleware (api_server.py:125)
MAX_RESULT_ROWS = 10_000  # driver-side row cap for JSON/Arrow responses


def _client_errors() -> tuple:
    """Exception classes that are the CALLER's fault -> HTTP 400.
    Everything else is a 500 at the protocol boundary (logged)."""
    from sidemantic_spark.core.consumption import ContractError
    from sidemantic_spark.core.graph import SemanticGraphError
    from sidemantic_spark.core.security import SecurityError
    from sidemantic_spark.core.transport_security import TransportSecurityError
    from sidemantic_spark.sql.generator import QueryCompileError

    errs: list[type] = [
        QueryCompileError, SemanticGraphError, ContractError,
        SecurityError, TransportSecurityError,
        ValueError, KeyError, TypeError, json.JSONDecodeError,
    ]
    try:  # Spark analysis errors are usually bad column refs from the caller
        from pyspark.errors import AnalysisException, ParseException

        errs += [AnalysisException, ParseException]
    except ImportError:
        pass
    return tuple(errs)


_CLIENT_ERRORS = _client_errors()


class SemanticHttpServer:
    def __init__(self, layer, host: str = "127.0.0.1", port: int = 0,
                 token: str | None = None,
                 require_user_attrs: bool = False,
                 user_header: str = "X-Sidemantic-User",
                 crossfilter=None) -> None:
        self.layer = layer
        self.token = token
        # optional CrossfilterDashboard served at /crossfilter*
        self.crossfilter = crossfilter
        # per-request user attributes from the TRUSTED user header (ref
        # api_server.py:217-235): meant to be injected by an auth proxy,
        # never taken from the request body — a client-chosen body user
        # would let callers pick their own row scope. require_user_attrs
        # rejects data requests lacking a valid header.
        self.require_user_attrs = require_user_attrs
        self.user_header = user_header
        # short-lived sessions exchanged for the bearer token (reference
        # server/api_server.py /auth/session): token -> monotonic expiry
        self.session_ttl_seconds = 600
        self._sessions: dict[str, float] = {}
        self._sessions_lock = threading.Lock()
        handler = _make_handler(self)
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "SemanticHttpServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    # -- sessions ------------------------------------------------------

    def issue_session(self) -> str:
        import secrets
        import time

        tok = secrets.token_urlsafe(32)
        with self._sessions_lock:
            # opportunistic sweep of expired sessions
            now = time.monotonic()
            for k in [k for k, exp in self._sessions.items() if exp < now]:
                self._sessions.pop(k, None)
            self._sessions[tok] = now + self.session_ttl_seconds
        return tok

    def session_valid(self, tok: str | None) -> bool:
        import time

        if not tok:
            return False
        with self._sessions_lock:
            exp = self._sessions.get(tok)
            if exp is None:
                return False
            if exp < time.monotonic():
                self._sessions.pop(tok, None)
                return False
            return True

    def revoke_session(self, tok: str | None) -> None:
        with self._sessions_lock:
            self._sessions.pop(tok or "", None)

    # -- request handlers --------------------------------------------

    def handle_models(self) -> dict:
        out = {}
        for name, model in self.layer.graph.models.items():
            out[name] = {
                "table": model.table,
                "primary_key": model.primary_key,
                "dimensions": [
                    {"name": d.name, "type": d.type, "granularity": d.granularity}
                    for d in model.dimensions if d.public
                ],
                "metrics": [
                    {"name": m.name, "agg": m.agg, "type": m.type}
                    for m in model.metrics if m.public
                ],
                "relationships": [
                    {"name": r.name, "type": r.type} for r in model.relationships
                ],
            }
        return {"models": out, "graph_metrics": sorted(self.layer.graph.metrics)}

    def _effective_user(self, header_user: dict | None, body: dict) -> dict | None:
        """Trusted-header user always wins. The body user is CLIENT-
        chosen, so it is honored only while NO security control is
        active (pure convenience for unsecured layers) — otherwise an
        attacker could pick their own row scope by omitting the header
        and supplying body attributes."""
        if header_user is not None:
            return header_user
        from sidemantic_spark.core.transport_security import controls_are_active

        if controls_are_active(self.layer):
            return None
        return body.get("user")

    def handle_query(self, body: dict, user: dict | None = None):
        """Returns ``(df, cap)``.  ``cap`` is the server-imposed row cap
        (MAX_RESULT_ROWS) when the client's limit was absent or above
        it, else None; the query then fetches cap+1 rows so the handler
        can report truncation exactly instead of clamping silently."""
        limit = body.get("limit")
        cap = None
        if limit is None or int(limit) > MAX_RESULT_ROWS:
            cap = MAX_RESULT_ROWS
            limit = cap + 1
        return self.layer.query(
            metrics=body.get("metrics") or [],
            dimensions=body.get("dimensions") or [],
            filters=body.get("filters") or [],
            order_by=body.get("order_by") or [],
            limit=limit,
            ungrouped=bool(body.get("ungrouped")),
            parameters=body.get("parameters") or {},
            user=self._effective_user(user, body),
        ), cap

    def handle_compile(self, body: dict, user: dict | None = None) -> str:
        return self.layer.compile(
            metrics=body.get("metrics") or [],
            dimensions=body.get("dimensions") or [],
            filters=body.get("filters") or [],
            order_by=body.get("order_by") or [],
            limit=body.get("limit"),
            parameters=body.get("parameters") or {},
            user=self._effective_user(user, body),
        )


def _df_to_rows(df) -> list[dict]:
    return json_result(df, None)["rows"]


def _df_to_arrow_bytes(df, cap: int | None = None) -> tuple[bytes, bool]:
    import pyarrow as pa

    table, truncated = fetch(df, cap)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes(), truncated


def _make_handler(server: SemanticHttpServer):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # silence default stderr logging
            pass

        def _deny(self, code: int, msg: str) -> None:
            self._ok(json.dumps({"error": msg}).encode(), code=code)

        def _ok(
            self,
            payload: bytes,
            ctype: str = "application/json",
            extra_headers: dict | None = None,
            code: int = 200,
        ) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(payload)))
            for k, v in (extra_headers or {}).items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(payload)

        def _session_token(self) -> str | None:
            auth = self.headers.get("Authorization", "")
            if auth.startswith("Sidemantic-Session "):
                return auth.split(" ", 1)[1].strip()
            cookie = self.headers.get("Cookie", "")
            for part in cookie.split(";"):
                k, _, v = part.strip().partition("=")
                if k == "sidemantic_session":
                    return v
            return None

        def _authed(self) -> bool:
            if server.token is None:
                return True
            auth = self.headers.get("Authorization", "")
            if auth == f"Bearer {server.token}":
                return True
            return server.session_valid(self._session_token())

        def do_GET(self):  # noqa: N802 (stdlib API)
            if self.path == "/readyz":
                # liveness probe stays public (reference
                # test_readyz_is_public)
                return self._ok(b'{"status": "ok"}')
            if not self._authed():
                return self._deny(401, "unauthorized")
            if self.path == "/health":
                return self._ok(b'{"status": "ok"}')
            if self.path == "/models":
                return self._ok(json.dumps(server.handle_models()).encode())
            if self.path in ("/", "/index.html"):
                return self._ok(DASHBOARD_HTML.encode(), ctype="text/html")
            if self.path.startswith("/crossfilter") and server.crossfilter is not None:
                # crossfilter sessions run their semantic queries with NO
                # per-request user attributes (the rollup is shared), so
                # they cannot honor per-user row policies — refuse rather
                # than silently serve unscoped data
                if server.require_user_attrs:
                    return self._deny(
                        403, "crossfilter endpoints are unavailable when "
                        "per-request user attributes are required"
                    )
                if self.path == "/crossfilter":
                    return self._ok(
                        server.crossfilter.to_html().encode(), ctype="text/html"
                    )
                if self.path == "/crossfilter/spec":
                    return self._ok(
                        json.dumps(
                            server.crossfilter.to_spec(), default=str
                        ).encode()
                    )
                if self.path.startswith("/crossfilter/spec?"):
                    # lazy per-tab endpoint (the URLs to_lazy_spec
                    # advertises): ?tab=<id>[&data=0] — data=0 serves
                    # the metadata-only shell
                    from urllib.parse import parse_qs, urlparse

                    q = parse_qs(urlparse(self.path).query)
                    tab = (q.get("tab") or [None])[0]
                    if not tab:
                        return self._deny(400, "tab parameter required")
                    include_data = (q.get("data") or ["1"])[0] != "0"
                    from sidemantic_spark.crossfilter import (
                        CrossfilterError,
                    )

                    try:
                        payload = server.crossfilter.tab_spec(
                            tab, include_data=include_data
                        )
                    except CrossfilterError as exc:
                        # tab-name errors are user-facing (they list the
                        # valid ids), never internal state
                        return self._deny(404, str(exc))
                    except AttributeError:
                        # a single session (no dashboard) has no tabs
                        return self._deny(
                            404, "per-tab specs need a dashboard"
                        )
                    return self._ok(
                        json.dumps(payload, default=str).encode()
                    )
                if self.path == "/crossfilter/lazy":
                    return self._ok(
                        json.dumps(
                            server.crossfilter.to_lazy_spec(), default=str
                        ).encode()
                    )
            return self._deny(404, "not found")

        def do_DELETE(self):  # noqa: N802
            if self.path == "/auth/session":
                server.revoke_session(self._session_token())
                self.send_response(204)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            return self._deny(404, "not found")

        def do_POST(self):  # noqa: N802
            if self.path == "/auth/session":
                # bearer-token -> short-lived session exchange
                # (reference server/api_server.py /auth/session): ONLY
                # the real bearer token may mint sessions
                auth = self.headers.get("Authorization", "")
                if server.token is None or auth != f"Bearer {server.token}":
                    return self._deny(401, "unauthorized")
                tok = server.issue_session()
                ttl = server.session_ttl_seconds
                if self.headers.get("X-Sidemantic-Session-Mode") == "header":
                    payload = json.dumps(
                        {"expires_in": ttl, "session_token": tok}
                    ).encode()
                    return self._ok(payload, extra_headers={
                        "Cache-Control": "no-store"})
                payload = json.dumps({"expires_in": ttl}).encode()
                return self._ok(payload, extra_headers={
                    "Cache-Control": "no-store",
                    "Set-Cookie": (
                        f"sidemantic_session={tok}; HttpOnly; "
                        f"SameSite=strict; Max-Age={ttl}; Path=/"
                    ),
                })
            if not self._authed():
                return self._deny(401, "unauthorized")
            length = int(self.headers.get("Content-Length", 0))
            if length > MAX_BODY_BYTES:
                return self._deny(413, "body too large")
            try:
                body = json.loads(self.rfile.read(length) or b"{}")
            except json.JSONDecodeError:
                return self._deny(400, "invalid JSON body")
            # per-request user attributes from the trusted header only
            user = None
            raw_user = self.headers.get(server.user_header)
            if raw_user is not None:
                try:
                    user = json.loads(raw_user)
                except json.JSONDecodeError:
                    return self._deny(400, "invalid user-attributes header")
                if not isinstance(user, dict):
                    return self._deny(400, "invalid user-attributes header")
            if server.require_user_attrs and user is None and self.path in (
                "/query", "/query.arrow", "/sql", "/chart"
            ):
                return self._deny(400, "user-attributes header required")
            try:
                if self.path in ("/query", "/query.arrow", "/sql"):
                    if self.path == "/sql":
                        df = server.layer.sql(body.get("sql") or "", user=user)
                        cap = MAX_RESULT_ROWS
                    else:
                        df, cap = server.handle_query(body, user=user)
                    if self.path == "/query.arrow":
                        payload, truncated = _df_to_arrow_bytes(df, cap)
                        return self._ok(
                            payload,
                            ctype="application/vnd.apache.arrow.stream",
                            extra_headers={"X-Truncated": str(truncated).lower()},
                        )
                    return self._ok(json.dumps(json_result(df, cap)).encode())
                if self.path == "/compile":
                    sql = server.handle_compile(body, user=user)
                    return self._ok(json.dumps({"sql": sql}).encode())
                if (
                    self.path == "/crossfilter/query"
                    and server.crossfilter is not None
                ):
                    if server.require_user_attrs:
                        # see the GET-side comment: shared sessions
                        # cannot honor per-user row policies
                        return self._deny(
                            403, "crossfilter endpoints are unavailable when "
                            "per-request user attributes are required"
                        )
                    out = server.crossfilter.handle_request(body)
                    return self._ok(json.dumps(out, default=str).encode())
                if self.path == "/chart":
                    from sidemantic_spark.charts import chart_for_query

                    spec = chart_for_query(
                        server.layer,
                        metrics=body.get("metrics"),
                        dimensions=body.get("dimensions"),
                        filters=body.get("filters"),
                        chart_type=body.get("chart_type", "auto"),
                        limit=min(int(body.get("limit") or 5000), 5000),
                        user=user,
                    )
                    return self._ok(json.dumps({"vega_lite": spec}).encode())
            except _CLIENT_ERRORS as exc:
                return self._deny(400, f"{type(exc).__name__}: {exc}")
            except Exception as exc:  # HTTP protocol boundary: the
                # server must answer, so unexpected failures map to 500
                # with the error logged and NOT exposed (reference
                # exception-boundary policy: broad catches only at the
                # protocol edge, tests/core/test_exception_boundaries.py)
                import logging

                logging.getLogger(__name__).exception("unhandled /POST error")
                return self._deny(500, f"internal error: {type(exc).__name__}")
            return self._deny(404, "not found")

    return Handler


# Self-contained single-page UI (reference api_server.py web UI): model
# browser, click-to-build query, results table + chart. Vega-Embed loads
# from CDN when the browser is online; the table works offline.
DASHBOARD_HTML = """<!doctype html>
<html><head><meta charset="utf-8"><title>sidemantic-spark</title>
<style>
body{font:14px/1.45 system-ui,sans-serif;margin:0;display:flex;height:100vh}
#side{width:280px;overflow:auto;border-right:1px solid #ddd;padding:12px}
#main{flex:1;padding:16px;overflow:auto}
h1{font-size:16px;margin:0 0 12px}h2{font-size:13px;margin:14px 0 4px;color:#555}
.field{cursor:pointer;padding:1px 6px;border-radius:4px}
.field:hover{background:#eef}.field.sel{background:#2E5EAA;color:#fff}
.dim::before{content:"◆ ";color:#4C9A2A}.met::before{content:"Σ ";color:#E8702A}
#picked{color:#333;background:#f6f6f6;padding:8px;border-radius:6px;min-height:20px}
button{margin:10px 6px 10px 0;padding:6px 14px;border:1px solid #2E5EAA;
background:#2E5EAA;color:#fff;border-radius:6px;cursor:pointer}
table{border-collapse:collapse;margin-top:10px}
td,th{border:1px solid #ddd;padding:3px 9px;text-align:left}
pre{background:#f6f6f6;padding:8px;border-radius:6px;white-space:pre-wrap}
</style></head><body>
<div id=side><h1>sidemantic-spark</h1><div id=models>loading…</div></div>
<div id=main>
  <div id=picked>click dimensions and metrics to build a query</div>
  <button onclick=run()>Run</button>
  <button onclick=showSql()>Compile</button>
  <div id=chart></div><div id=out></div>
</div>
<script>
let sel = [];
const S = (name) => {
  const i = sel.indexOf(name);
  i >= 0 ? sel.splice(i, 1) : sel.push(name);
  document.querySelectorAll('.field').forEach(e =>
    e.classList.toggle('sel', sel.includes(e.dataset.f)));
  document.getElementById('picked').textContent = sel.join(', ') || '–';
};
fetch('/models').then(r => r.json()).then(d => {
  let h = '';
  for (const [m, spec] of Object.entries(d.models)) {
    h += `<h2>${m}</h2>`;
    for (const x of spec.dimensions) h +=
      `<div class="field dim" data-f="${m}.${x.name}" onclick="S('${m}.${x.name}')">${x.name}</div>`;
    for (const x of spec.metrics) h +=
      `<div class="field met" data-f="${m}.${x.name}" onclick="S('${m}.${x.name}')">${x.name}</div>`;
  }
  document.getElementById('models').innerHTML = h;
  window._dims = new Set();
  for (const [m, spec] of Object.entries(d.models))
    for (const x of spec.dimensions) window._dims.add(`${m}.${x.name}`);
});
const split = () => ({
  metrics: sel.filter(f => !window._dims.has(f)),
  dimensions: sel.filter(f => window._dims.has(f)),
});
async function run() {
  const body = split();
  const rows = (await (await fetch('/query', {method: 'POST',
    body: JSON.stringify(body)})).json()).rows;
  if (!rows) return;
  const cols = rows.length ? Object.keys(rows[0]) : [];
  document.getElementById('out').innerHTML = '<table><tr>' +
    cols.map(c => `<th>${c}</th>`).join('') + '</tr>' +
    rows.map(r => '<tr>' + cols.map(c => `<td>${r[c]}</td>`).join('') +
    '</tr>').join('') + '</table>';
  try {
    const spec = (await (await fetch('/chart', {method: 'POST',
      body: JSON.stringify(body)})).json()).vega_lite;
    if (spec && window.vegaEmbed) vegaEmbed('#chart', spec);
  } catch (e) {}
}
async function showSql() {
  const r = await (await fetch('/compile', {method: 'POST',
    body: JSON.stringify(split())})).json();
  document.getElementById('out').innerHTML = `<pre>${r.sql || r.error}</pre>`;
}
</script>
<script defer src="https://cdn.jsdelivr.net/npm/vega@5"></script>
<script defer src="https://cdn.jsdelivr.net/npm/vega-lite@5"></script>
<script defer src="https://cdn.jsdelivr.net/npm/vega-embed@6"></script>
</body></html>
"""
