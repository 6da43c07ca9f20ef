"""The three workloads.

Each is a closed loop from one process: a client sends its next op only
after the previous one has been delivered.

- ``bi_mix``: one client; a seeded order over a Zipf-weighted multiset
  of semantic-layer entries of ``__spark_entry__.queries()`` (the skew
  and the popularity ranking are assumptions, see ``BI_ENTRIES``).  An op is
  the entry call plus ``toArrow()``.  Compile, plan and pre-aggregation
  do most of the layer work; build does almost none; the ``preagg_*``
  entries write a rollup and read through it.
- ``corpus_dedup``: one client making passes over the near-duplicate
  corpus; a pass runs the seven dedup stages in order.  An op is one
  stage call plus a parquet write of its whole output.  Build (bounded
  count probes, local checkpoints, the connected-components loop) and
  the execute layer's hash kernels and shuffles do the work.
- ``serve_http``: two client threads send a seeded Zipf-weighted draw of
  ``/query``, ``/query.arrow`` and ``/sql`` bodies to
  ``SemanticHttpServer`` on loopback; exactly one request in ten is a
  detail page of up to ``MAX_RESULT_ROWS`` rows.  An op runs from sending the
  request until its body is received and parsed.  Delivery (JSON
  against Arrow) and concurrency across server threads, the layer and
  the Spark scheduler do the work.

The traced form of an op splits it at the layer boundaries: the entry
call (``build``, with ``compile`` and ``preagg`` spans inside), forcing
the physical plan (``plan``), running the result into a cache through
the noop sink (``execute``) and delivering it from that cache
(``deliver``).
"""

from __future__ import annotations

import datetime
import hashlib
import http.client
import json
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import check, inputs

# --------------------------------------------------------------------
# traced split shared by all workloads
# --------------------------------------------------------------------


def _plan_shape(df) -> dict:
    """Node and exchange counts of the physical plan (the initial plan
    under adaptive execution), read from its tree string."""
    text = df._jdf.queryExecution().executedPlan().treeString()
    nodes = [ln.lstrip(" :+-") for ln in text.splitlines() if ln.strip(" :+-")]
    return {"nodes": len(nodes),
            "exchanges": sum(1 for n in nodes if "Exchange" in n.split(" ")[0])}


def traced_split(tracer, build, deliver):
    """Run ``build()`` -> DataFrame, then plan, execute and deliver it
    under their spans; returns ``deliver``'s result."""
    with tracer.span("build", jobs=True):
        df = build()
    with tracer.span("plan", jobs=True) as rec:
        rec.update(_plan_shape(df))
    with tracer.span("execute", jobs=True):
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
    try:
        with tracer.span("deliver", jobs=True) as rec:
            out, rows, nbytes = deliver(df)
            rec.update(rows=rows, bytes=nbytes)
    finally:
        df.unpersist(blocking=True)
    return out


# --------------------------------------------------------------------
# bi_mix
# --------------------------------------------------------------------

# rank order = Zipf rank.  The ranking is an assumption, not taken from
# a traffic trace: cheap dashboard aggregates are drawn most, fan-out,
# multi-fact and rollup-routed entries least
BI_ENTRIES = (
    "basic_agg",                      # structured query
    "time_grain_month",
    "semantic_sql_expression",        # semantic SQL
    "table_calc_rank",                # table calc
    "filter_pushdown",
    "join_m2o",
    "ytd",                            # time intelligence
    "mom_pct_change",
    "multifact_split",                # multi-fact
    "fanout_dedup",                   # fan-out
    "preagg_rollup_route",            # materialize a rollup, read through it
    "preagg_ungrouped_route",
)


def _arrow_digest(table: pa.Table) -> str:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha1(sink.getvalue()).hexdigest()


class BiMix:
    name = "bi_mix"
    clients = 1
    # nominal seconds of one cycle on a 4-core box: every entry once,
    # then as many Zipf draws again, so half of the traffic follows the
    # skew and every entry, the slowest included, is timed each cycle
    cycle_s = 10.4

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.ops = list(BI_ENTRIES)

    def prepare(self) -> dict:
        ctx = self.ctx
        self.data = inputs.ensure_base(ctx.cache, ctx.scale)
        oracles = ctx.entry.oracle_sql()
        sqls = {n: oracles[n] for n in self.ops}
        self.expected = ctx.cached_expected(
            self.data, "expected-bi_mix", sqls,
            lambda o: {n: list(o.expect(sql)) for n, sql in sqls.items()})
        return {"scale": ctx.scale, "entries": len(self.ops)}

    def setup(self) -> None:
        self.queries = self.ctx.entry.queries()
        self.ctx.entry._layer(self.ctx.spark, str(self.data))

    def schedule(self, seed: int, seconds: float) -> list[list[int]]:
        """Whole cycles, as many as fit ``seconds`` at the nominal pace,
        in one seeded order."""
        cycles = max(1, round(seconds / self.cycle_s))
        n = len(self.ops)
        return [inputs.shuffled(inputs.zipf_bag(n, n) * cycles, seed)]

    def _call(self, i):
        return self.queries[self.ops[i]](self.ctx.spark, str(self.data))

    def run(self, i):
        return self._call(i).toArrow()

    def run_traced(self, i):
        def deliver(df):
            t = df.toArrow()
            return t, t.num_rows, t.nbytes
        return traced_split(self.ctx.tracer, lambda: self._call(i), deliver)

    def keep(self, i, delivered) -> tuple[str, object]:
        return _arrow_digest(delivered), delivered

    def check(self, i, delivered) -> str | None:
        got = check.canon_table(*check.arrow_rows(delivered))
        return check.diff(self.ops[i], got, self.expected[self.ops[i]])

    def teardown(self) -> None:
        pass


# --------------------------------------------------------------------
# corpus_dedup
# --------------------------------------------------------------------

CORPUS_STAGES = (
    "dedup_exact_stats",
    "dedup_exact_keep_first",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "sim_semantic_dedup",
    "pipeline_decontaminate",
)
MINHASH_THRESHOLD = 0.4  # the entry's jaccard_threshold


class CorpusDedup:
    name = "corpus_dedup"
    clients = 1
    cycle_s = 12.0

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.ops = list(CORPUS_STAGES)
        self.out = ctx.work / "corpus_out"

    def prepare(self) -> dict:
        ctx = self.ctx
        self.data, record = inputs.ensure_corpus(ctx.cache, ctx.scale, ctx.seed)
        oracles = ctx.entry.oracle_sql()
        sqls = {n: oracles[n] for n in self.ops if n in oracles}
        self.expected = ctx.cached_expected(
            self.data, "expected-corpus_dedup", sqls,
            lambda o: {n: list(o.expect(sql)) for n, sql in sqls.items()})
        self.input_rows = record["documents"] + record["embeddings"]
        return record

    def setup(self) -> None:
        self.queries = self.ctx.entry.queries()
        self.ctx.entry._ensure_tables(self.ctx.spark, str(self.data))

    def schedule(self, seed: int, seconds: float) -> list[list[int]]:
        """Whole passes over the stages, in pipeline order."""
        return [list(range(len(self.ops))) * max(1, round(seconds / self.cycle_s))]

    def _call(self, i):
        return self.queries[self.ops[i]](self.ctx.spark, str(self.data))

    def _path(self, i) -> str:
        return str(self.out / self.ops[i])

    def run(self, i):
        self._call(i).write.mode("overwrite").parquet(self._path(i))
        return i

    def run_traced(self, i):
        def deliver(df):
            df.write.mode("overwrite").parquet(self._path(i))
            files = list(Path(self._path(i)).glob("*.parquet"))
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            return i, rows, sum(f.stat().st_size for f in files)
        return traced_split(self.ctx.tracer, lambda: self._call(i), deliver)

    def keep(self, i, delivered) -> tuple[str, object]:
        # each pass overwrites the output; the last one written is checked
        return "last", delivered

    def check(self, i, delivered) -> str | None:
        table = pq.read_table(self._path(i))
        name = self.ops[i]
        if name == "dedup_minhash_lsh":
            from scripts import ref_kernels

            docs = pq.read_table(self.data / "documents.parquet", columns=["doc_id", "text"])
            texts = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
            pairs = zip(*(table.column(c).to_pylist() for c in ("id_a", "id_b", "jaccard")))
            return check.minhash_precision(pairs, texts, MINHASH_THRESHOLD, ref_kernels)
        return check.diff(name, check.canon_table(*check.arrow_rows(table)), self.expected[name])

    def teardown(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


# --------------------------------------------------------------------
# serve_http
# --------------------------------------------------------------------

# (path, body or semantic SQL, contract entry whose oracle checks it);
# rank order = Zipf rank
SERVE_BODIES = (
    ("/query", {"metrics": ["orders.revenue", "orders.order_count"],
                "dimensions": ["orders.status"]}, "basic_agg"),
    ("/query.arrow", {"metrics": ["orders.revenue"],
                      "dimensions": ["orders.order_date__month AS order_month"]},
     "time_grain_month"),
    ("/sql", "SELECT orders.status, CAST(orders.revenue AS DOUBLE) / 1000 AS rev_k "
             "FROM orders ORDER BY rev_k DESC LIMIT 2", "semantic_sql_expression"),
    ("/query", {"metrics": ["orders.revenue"], "dimensions": ["orders.priority"],
                "filters": ["orders.status = 'F'",
                            "orders.order_date__year >= TIMESTAMP '1996-01-01'"]},
     "filter_pushdown"),
    ("/query.arrow", {"metrics": ["orders.revenue"],
                      "dimensions": ["customer.mktsegment"]}, "join_m2o"),
    ("/sql", "SELECT orders.revenue, customer.mktsegment FROM metrics "
             "GROUP BY customer.mktsegment", "semantic_sql_from_metrics"),
    ("/query", {"metrics": ["orders.open_revenue", "orders.revenue"],
                "dimensions": ["orders.priority"]}, "metric_filter"),
    ("/query", {"metrics": ["orders.revenue", "orders.order_count"],
                "dimensions": ["nation.name AS nation_name"]}, "join_multi_hop"),
)
PAGE_EVERY = 10  # one request in ten is a detail page
DETAIL_DAYS = 150  # ~9.4k orders per page at sf0.1, under MAX_RESULT_ROWS
DETAIL_DIMS = ["orders.custkey", "orders.status", "orders.priority", "orders.order_date"]
DETAIL_SQL = """
    SELECT o_custkey AS custkey, o_orderstatus AS status,
           o_orderpriority AS priority, o_orderdate AS order_date
    FROM orders WHERE o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}'
"""


class ServeHttp:
    name = "serve_http"
    clients = 2
    # nominal seconds for one client to send PAGE_EVERY requests on a
    # 4-core box, with the other client busy too
    block_s = 2.7

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def _detail_pages(self) -> list[tuple]:
        """Two seeded date windows, one served as JSON and one as Arrow."""
        rng = np.random.Generator(np.random.PCG64(self.ctx.seed))
        pages = []
        for path in ("/query", "/query.arrow"):
            lo = datetime.date(1995, 1, 1) + datetime.timedelta(days=int(rng.integers(0, 2200)))
            hi = lo + datetime.timedelta(days=DETAIL_DAYS)
            body = {"dimensions": DETAIL_DIMS, "ungrouped": True, "filters": [
                f"orders.order_date >= TIMESTAMP '{lo}'",
                f"orders.order_date < TIMESTAMP '{hi}'"]}
            pages.append((path, body, DETAIL_SQL.format(lo=lo, hi=hi)))
        return pages

    def prepare(self) -> dict:
        from sidemantic_spark.server.http_api import MAX_RESULT_ROWS

        ctx = self.ctx
        self.max_rows = MAX_RESULT_ROWS
        self.data = inputs.ensure_base(ctx.cache, ctx.scale)
        oracles = ctx.entry.oracle_sql()
        # every small body first (Zipf ranks), the two detail pages last
        self.reqs = [(p, b, oracles[e]) for p, b, e in SERVE_BODIES] + self._detail_pages()
        self.ops = [f"{p} #{k}" for k, (p, _, _) in enumerate(self.reqs)]

        def expect(o):
            out = {}
            for name, (_, _, sql) in zip(self.ops, self.reqs):
                cols, rows = o.raw(sql)
                if len(rows) > self.max_rows:
                    raise RuntimeError(f"{name}: {len(rows)} rows exceed one page")
                kinds = {c: type(next((r[j] for r in rows if r[j] is not None), None)).__name__
                         for j, c in enumerate(cols)}
                out[name] = [*check.canon_table(cols, rows), kinds]
            return out

        self.expected = ctx.cached_expected(
            self.data, "expected-serve_http", [self.ops, self.reqs], expect)
        return {"scale": ctx.scale, "bodies": len(self.reqs),
                "detail_rows": [len(self.expected[n][1]) for n in self.ops[-2:]]}

    def setup(self) -> None:
        from sidemantic_spark.server.http_api import SemanticHttpServer

        self.layer = self.ctx.entry._layer(self.ctx.spark, str(self.data))
        self.server = SemanticHttpServer(self.layer).start()

    def schedule(self, seed: int, seconds: float) -> list[list[int]]:
        """Per client, blocks of PAGE_EVERY requests, as many as fit
        ``seconds`` at the nominal pace: one detail page per block, JSON
        and Arrow in turn, and the rest Zipf-weighted small bodies (each
        at least once), in a seeded order per client."""
        blocks = max(1, round(seconds / self.block_s))
        small = len(SERVE_BODIES)
        out = []
        for c in range(self.clients):
            pages = [small + (c + b) % 2 for b in range(blocks)]
            bag = inputs.zipf_bag(small, (PAGE_EVERY - 1) * blocks - small) + pages
            out.append(inputs.shuffled(bag, seed, c))
        return out

    def _payload(self, i) -> bytes:
        path, body, _ = self.reqs[i]
        return json.dumps({"sql": body} if path == "/sql" else body).encode()

    def _parse(self, i, raw: bytes):
        if self.reqs[i][0] == "/query.arrow":
            return ("arrow", pa.ipc.open_stream(raw).read_all())
        return ("json", json.loads(raw)["rows"])

    def run(self, i):
        """One request over loopback, its body parsed as a client would;
        returns the raw body, which the checks parse again."""
        conn = http.client.HTTPConnection("127.0.0.1", self.server.port, timeout=120)
        try:
            conn.request("POST", self.reqs[i][0], body=self._payload(i),
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            raw = resp.read()
        finally:
            conn.close()
        if resp.status != 200:
            raise RuntimeError(f"{self.ops[i]}: HTTP {resp.status} {raw[:200]!r}")
        self._parse(i, raw)
        return raw

    def _build(self, i):
        path, body, _ = self.reqs[i]
        if path == "/sql":
            return self.layer.sql(body).limit(self.max_rows + 1)
        df, _cap = self.server.handle_query(body)
        return df

    def _render(self, i, df) -> bytes:
        """The server's transport for this path, on an already-built df."""
        from sidemantic_spark.server import http_api

        if self.reqs[i][0] == "/query.arrow":
            return http_api._df_to_arrow_bytes(df, self.max_rows)[0]
        rows = http_api._df_to_rows(df)
        truncated = len(rows) > self.max_rows
        return json.dumps({"rows": rows[: self.max_rows], "truncated": truncated}).encode()

    def run_traced(self, i):
        tracer = self.ctx.tracer
        with tracer.span("http") as rec:
            t0 = time.perf_counter()
            raw = self.run(i)
            client_s = time.perf_counter() - t0
            rec["response_bytes"] = len(raw)
        with tracer.paused():
            t0 = time.perf_counter()
            self._render(i, self._build(i))
            replay_s = time.perf_counter() - t0
        rec["overhead_s"] = client_s - replay_s

        kind, payload = self._parse(i, raw)
        rows = payload.num_rows if kind == "arrow" else len(payload)

        def deliver(df):
            return None, rows, len(self._render(i, df))

        traced_split(tracer, lambda: self._build(i), deliver)
        return raw

    def keep(self, i, delivered) -> tuple[str, object]:
        # byte-identical bodies of one op need one check between them
        return hashlib.sha1(delivered).hexdigest(), delivered

    def check(self, i, delivered) -> str | None:
        kind, payload = self._parse(i, delivered)
        cols, rows, kinds = self.expected[self.ops[i]]
        got_cols, got_rows = (check.arrow_rows(payload) if kind == "arrow"
                              else check.json_rows(payload))
        got = check.canon_table(*check.coerce(got_cols, got_rows, kinds))
        return check.diff(self.ops[i], got, (cols, rows))

    def teardown(self) -> None:
        self.server.stop()


WORKLOADS = {w.name: w for w in (BiMix, CorpusDedup, ServeHttp)}
