"""Layered end-to-end benchmark of the semantic layer on local Spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload bi_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One run builds its inputs from ``--seed`` (cached under
``perfbench/.work``), starts Spark on ``local[<cpus>]``, warms every
distinct op once, runs a fixed schedule of seeded ops sized from
``--seconds`` by the workload's nominal pace, checks every result
delivered in the warm-up and in the timed loop against the DuckDB
oracle, and prints the metrics.  The last line of standard output is
one JSON object; a wrong result exits 1.  ``--trace 1``
runs half the schedule untraced, then traces one pass over every distinct
op, and reports the per-layer metrics and the tracing overhead.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

WORKLOAD_NAMES = ("bi_mix", "corpus_dedup", "serve_http")
CALIBRATION_REPS = 5


def _percentile_tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, and
    its value; with ten samples or fewer, the maximum (p100)."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return 100.0, s[-1]
    k = n - 10  # 1-based rank with exactly ten samples above it
    return 100.0 * k / n, s[k - 1]


class Context:
    """What one run shares between its workload and the harness."""

    def __init__(self, args) -> None:
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.scale = args.scale
        self.work = ROOT / "perfbench" / ".work"
        self.cache = self.work / "inputs"
        for d in (self.cache, self.work / "tmp", self.work / "runs"):
            d.mkdir(parents=True, exist_ok=True)
        self.spark = None
        self.tracer = None
        import __spark_entry__

        self.entry = __spark_entry__

    def cached_expected(self, data_dir: Path, stem: str, key, compute) -> dict:
        """Oracle answers for one input directory, computed once with
        DuckDB.  The file is named after a digest of ``key`` (the oracle
        SQL and request bodies) and of the checker's source, so an edit to
        either never reuses stale answers."""
        from perfbench import check, inputs

        src = Path(check.__file__).read_text()
        path = data_dir / f"{stem}-{inputs.digest(key, src)}.json"
        if path.exists():
            return json.loads(path.read_text())
        oracle = check.Oracle(data_dir, inputs.TABLES, self.work / "tmp")
        try:
            out = compute(oracle)
        finally:
            oracle.close()
        tmp = path.with_name(path.name + f".tmp{os.getpid()}")
        tmp.write_text(json.dumps(out))
        tmp.rename(path)
        return out

    def start_spark(self):
        cpus = len(os.sched_getaffinity(0))
        local = self.work / "spark-local"
        local.mkdir(exist_ok=True)
        # Python workers import the program; every scratch file of the
        # JVM and the workers stays inside the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        os.environ["TMPDIR"] = str(self.work / "tmp")
        # no hsperfdata files in the system temp dir, from the launcher
        # JVM or the driver JVM
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        from pyspark.sql import SparkSession

        self.spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            # a heap that starts at its full size (-Xms) grows the same
            # way in every run, which keeps peak_rss_mb steady
            .config("spark.driver.memory", "2g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.autoBroadcastJoinThreshold", "64m")
            .config("spark.local.dir", str(local))
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-Xms2g -Djava.io.tmpdir={self.work / 'tmp'} "
                    f"-Dderby.system.home={self.work}")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return cpus

    def stop_spark(self) -> None:
        """Stop Spark, close the JVM and wait for every child process."""
        from perfbench.trace import process_tree

        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the launched JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while len(process_tree()) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in process_tree()[1:]:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        self.spark = None


def calibrate(spark) -> dict:
    """Median ms of a ``SELECT 1`` collect and of a ``region`` scan: a
    record of box contention, never used to adjust a metric."""
    def med(fn):
        ts = []
        for _ in range(CALIBRATION_REPS):
            t0 = time.perf_counter()
            fn()
            ts.append((time.perf_counter() - t0) * 1000)
        return statistics.median(ts)

    return {"select1_ms": med(lambda: spark.sql("SELECT 1").collect()),
            "region_scan_ms": med(lambda: spark.table("region").collect())}


class Results:
    """Delivered results kept for the checks after the loop.  A result
    the workload fingerprints the same as one already kept for the same
    op is not kept again."""

    def __init__(self, wl) -> None:
        self.wl, self.kept, self.lock = wl, {}, threading.Lock()
        self.delivered = 0

    def add(self, i: int, out) -> None:
        fp, payload = self.wl.keep(i, out)
        with self.lock:
            self.delivered += 1
            self.kept.setdefault((i, fp), payload)

    def mismatches(self) -> list[str]:
        """The first mismatch of each op whose results were not all right."""
        bad: dict[int, str] = {}
        for (i, _), payload in self.kept.items():
            if i not in bad and (m := self.wl.check(i, payload)) is not None:
                bad[i] = m
        return list(bad.values())


def closed_loop(wl, schedule: list[list[int]], run_op, results: Results) -> dict:
    """Each client runs its list of ops, one after the other; returns
    (op index, latency s) pairs, failures and wall time.  Every result is
    handed to ``results`` after its latency is taken."""
    lat: list[tuple[int, float]] = []
    errors: list[str] = []
    lock = threading.Lock()
    t_start = time.perf_counter()

    def client(c: int) -> None:
        for k, i in enumerate(schedule[c]):
            t0 = time.perf_counter()
            try:
                out = run_op(i, f"c{c}-{k}")
            except Exception as exc:  # an op that fails counts, the run goes on
                with lock:
                    errors.append(f"{wl.ops[i]}: {type(exc).__name__}: {str(exc)[:300]}")
            else:
                dt = time.perf_counter() - t0
                with lock:
                    lat.append((i, dt))
                results.add(i, out)

    if len(schedule) == 1:
        client(0)
    else:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(len(schedule))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    return {"lat": lat, "errors": errors, "wall": time.perf_counter() - t_start}


def distinct_pass(n_ops: int, clients: int, seed: int) -> list[list[int]]:
    """Every distinct op once, in a seeded order, dealt round-robin to
    the clients: the traced half weighs each op equally, whatever the
    seed's draw."""
    from perfbench.inputs import shuffled

    order = shuffled(list(range(n_ops)), seed)
    return [order[c::clients] for c in range(clients)]


def trace_overhead(untraced: list[tuple[int, float]], traced: list[tuple[int, float]]) -> float:
    """Mean over traced ops of traced latency / the untraced median of
    the same op, so the ratio does not depend on the op mix."""
    by_op = defaultdict(list)
    for i, x in untraced:
        by_op[i].append(x)
    med = {i: statistics.median(xs) for i, xs in by_op.items()}
    return statistics.mean(x / med[i] for i, x in traced if i in med)


def layer_metrics(spans: list[dict]) -> dict:
    """Per-op means of every per-layer metric over the traced ops."""
    from perfbench.trace import self_times

    own = self_times(spans)
    by = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)

    def self_sum(name):
        return sum(own[s["id"]] for s in by[name])

    def tot(name, key):
        return sum(s.get(key) or 0 for s in by[name])

    n = max(len(by["op"]), 1)
    compiles = by["compile"]
    m = {
        "compile.calls": len(compiles) / n,
        "compile.self_ms": 1000 * self_sum("compile") / n,
        "compile.sql_bytes": tot("compile", "sql_bytes") / n,
        "build.self_s": self_sum("build") / n,
        "build.jobs": tot("build", "jobs") / n,
        "build.cpu_s": tot("build", "cpu_s") / n,
        "plan.self_ms": 1000 * self_sum("plan") / n,
        "plan.nodes": tot("plan", "nodes") / n,
        "plan.exchanges": tot("plan", "exchanges") / n,
        "execute.self_s": self_sum("execute") / n,
    }
    for key in ("jobs", "stages", "tasks", "cpu_s", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        m[f"execute.{key}"] = tot("execute", key) / n
    m.update({
        "deliver.self_ms": 1000 * self_sum("deliver") / n,
        "deliver.rows": tot("deliver", "rows") / n,
        "deliver.bytes": tot("deliver", "bytes") / n,
        "preagg.materialize_s": sum(s["end"] - s["start"] for s in by["preagg"]) / n,
        "preagg.write_bytes": tot("preagg", "output_bytes") / n,
        "preagg.routed_ratio": (sum(1 for s in compiles if s.get("routed")) / len(compiles)
                                if compiles else 0.0),
        "http.overhead_ms": 1000 * tot("http", "overhead_s") / n,
        "http.response_bytes": tot("http", "response_bytes") / n,
    })
    return m


def per_op_counts(spans: list[dict]) -> dict:
    """op id -> {layer: [jobs, stages, tasks]}, for the determinism check."""
    out: dict = defaultdict(dict)
    for s in spans:
        if "jobs" in s:
            cur = out[s["op"]].setdefault(s["name"], [0, 0, 0])
            for j, key in enumerate(("jobs", "stages", "tasks")):
                cur[j] += s[key]
    return out


def run_one(args) -> int:
    from perfbench import check, trace
    from perfbench.workloads import WORKLOADS

    t_proc = trace.process_start_wall()
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ["TZ"] = "UTC"
    time.tzset()
    check.self_test()
    ctx = Context(args)
    wl = WORKLOADS[args.workload](ctx)
    t0 = time.time()
    record = {"workload": wl.name, "seed": ctx.seed, "seconds": ctx.seconds,
              "trace": int(ctx.trace), "inputs": wl.prepare()}
    record["inputs_s"] = time.time() - t0
    try:
        record["cpus"] = ctx.start_spark()
        if ctx.trace:
            from sidemantic_spark.models import tpch

            ctx.tracer = trace.Tracer(ctx.spark)
            factory = tpch.build_layer

            def build_layer(*a, **kw):  # every layer an entry builds gets spans
                layer = factory(*a, **kw)
                ctx.tracer.wrap_layer(layer)
                return layer

            tpch.build_layer = build_layer
        results = Results(wl)
        wl.setup()
        for i in range(len(wl.ops)):
            results.add(i, wl.run(i))
        record["setup_s"] = time.time() - t_proc - record["inputs_s"]
        record["calibration_start"] = calibrate(ctx.spark)
        # a fixed schedule, sized from --seconds by the workload's nominal
        # pace: every run does the same ops in the same amount, so the JIT
        # warm-up curve and the op mix are the same for every seed
        # however fast the box is today
        untraced_s = ctx.seconds / 2 if ctx.trace else ctx.seconds
        schedule = wl.schedule(ctx.seed, untraced_s)
        pids = trace.process_tree()
        cpu0, ticks0 = trace.tree_cpu_s(pids), trace.cpu_ticks()
        loop = closed_loop(wl, schedule, lambda i, _op: wl.run(i), results)
        cpu1, ticks1 = trace.tree_cpu_s(trace.process_tree()), trace.cpu_ticks()
        record["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
        if ctx.trace:
            def run_traced(i, op_id):
                with ctx.tracer.op(op_id, wl.ops[i]):
                    return wl.run_traced(i)

            traced = closed_loop(wl, distinct_pass(len(wl.ops), len(schedule), ctx.seed),
                                 run_traced, results)
            record["per_layer"] = layer_metrics(ctx.tracer.spans)
            record["per_layer"]["trace.overhead_ratio"] = trace_overhead(
                loop["lat"], traced["lat"])
            record["per_op_counts"] = per_op_counts(ctx.tracer.spans)
        record["calibration_end"] = calibrate(ctx.spark)
        record["peak_rss_mb"] = trace.tree_hwm_mb()
        t_check = time.time()
        mismatches = results.mismatches()
        record["check_s"] = time.time() - t_check
        record["results_delivered"] = results.delivered
        record["results_checked"] = len(results.kept)
    finally:
        try:
            wl.teardown()
        finally:
            ctx.stop_spark()

    lat_ms = [x * 1000 for _, x in loop["lat"]]
    n_ok = len(lat_ms)
    tail_p, tail_v = _percentile_tail(lat_ms)
    e2e = {
        "setup_s": (record["setup_s"], "s"),
        "op_p50_ms": (statistics.median(lat_ms), "ms"),
        "op_tail_ms": (tail_v, "ms"),
        "ops_per_s": (n_ok / loop["wall"], "1/s"),
        "cpu_ms_per_op": (1000 * (cpu1 - cpu0) / max(n_ok, 1), "ms"),
        "peak_rss_mb": (record["peak_rss_mb"], "MB"),
    }
    errors = loop["errors"] + (traced["errors"] if ctx.trace else [])
    attempted = n_ok + len(errors) + (len(traced["lat"]) if ctx.trace else 0)
    extra = {"error_ratio": (len(errors) / attempted, "fraction")}
    if wl.name == "corpus_dedup":
        passes = n_ok / len(wl.ops)
        extra["docs_per_s"] = (wl.input_rows * passes / loop["wall"], "docs/s")
    record.update(latencies_ms=[[wl.ops[i], x * 1000] for i, x in loop["lat"]],
                  tail_percentile=tail_p, errors=errors,
                  mismatches=mismatches, wall_s=loop["wall"])
    for name, (v, unit) in {**e2e, **extra}.items():
        note = f"  (p{tail_p:.1f} of {n_ok} ops)" if name == "op_tail_ms" else ""
        print(f"{wl.name} {name} = {v:.6g} {unit}{note}")
    for key in ("calibration_start", "calibration_end"):
        c = record[key]
        print(f"{wl.name} {key}: select1 {c['select1_ms']:.2f} ms, "
              f"region scan {c['region_scan_ms']:.2f} ms")
    print(f"{wl.name} cpu steal during the timed loop: {record['cpu_steal_share']:.3f}")
    print(f"{wl.name} checked {record['results_checked']} distinct of "
          f"{record['results_delivered']} delivered results in {record['check_s']:.2f} s")
    print(f"{wl.name} inputs: {json.dumps(record['inputs'])}")
    if ctx.trace:
        for name, v in record["per_layer"].items():
            print(f"{wl.name} {name} = {v:.6g}")
    for line in errors[:5] + mismatches:
        print(f"{wl.name} FAILED {line}", file=sys.stderr)
    stem = ctx.work / "runs" / f"{wl.name}-seed{ctx.seed}-trace{int(ctx.trace)}"
    stem.with_suffix(".json").write_text(json.dumps(record, indent=1, default=str))
    if ctx.trace:
        with open(stem.with_suffix(".spans.jsonl"), "w") as f:
            for s in ctx.tracer.spans:
                f.write(json.dumps(s) + "\n")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if ctx.trace:
        metrics = {m["name"]: {"value": record["per_layer"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    ok = not mismatches
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": len(errors), "metrics": metrics}))
    return 0 if ok else 1


def run_all(args) -> int:
    """Every workload in its own process; one combined JSON line."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    status = 0
    for w in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--scale", str(args.scale)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"{w}: no result (exit {proc.returncode})", file=sys.stderr)
            return proc.returncode or 1
        status = status or proc.returncode
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(out))
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="input scale factor (the self-test uses 0.01)")
    args = ap.parse_args(argv)
    missing = [p for p in ("__spark_entry__.py", "sidemantic_spark") if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: program not found next to the benchmark: {missing}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
