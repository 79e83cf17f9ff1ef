#!/usr/bin/env python3
"""The repository benchmark: one command that builds the engine, makes a
workload's inputs from a seed, runs the workload in one JVM on local[N]
(N = min(4, cpus)), checks every output, and prints the metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (inputs: perfbench/gen.py; the JVM side: perfbench/src/perfbench):
  qa_longdoc       closed loop, one client, the LLM pipelines over the
                   stand-in model (SERVICE_MICROS per call) as a request mix:
                   each cycle is four V1 QA ops (chunk -> map -> filter ->
                   collapse loop -> reduce; one passkey question over one
                   long document, audit log on) and one V2 survey op. A run
                   of --seconds S measures ceil(S / 7.5) cycles.
  olap_shared_10x  closed loop, one client: passes of 11 queries that share
                   memoized frames, one op per query, on a 10x
                   structure-preserving replica of a seeded corpus; each
                   query's result is checked against DuckDB running its
                   oracle SQL (SparkEntry.oracleSql) on the same files. Each
                   pass ends with one stream-ingest op: five stateful Streams
                   frames over split files, one file per micro-batch, each
                   sink checked against its batch twin. A run measures
                   ceil(S / 15) passes.
Streaming and V2 ride in these two workloads rather than in workloads of
their own: every run pays a JVM cold start and warm-up of 30-40 s on 4
cores, and the benchmark's whole schedule of runs must fit its time budget.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones (the traced run also keeps spans in memory and
writes them to <build dir>/trace/<workload>-<seed>.jsonl). The line before
it stamps the draw: the contention canary (a fixed compute probe over every
slot, min of 3, before and after the ops), process CPU against wall over the
ops, the tail percentile used and its op count, each op's wall and process
CPU by op name, and the input sizes.

Per-layer metrics are per-op means unless named otherwise. `QueryDef.build_s`
is the time in the build call of each op: QueryDef.build, V1Pipeline.run,
V2Pipeline.run or the Streams frame builders (the pipelines run their eager
jobs inside it). Figures that read 0 on some workload (model calls and
tokens per document, the error ratio) are per-layer metrics, not end-to-end
ones: infer.calls_per_doc, infer.tokens_per_doc and ops.error_ratio. A
run's failed ops also count in `failed`. The streaming.* figures are per
stream op (batches, state) or per micro-batch (the *_ms ones).
pipeline.jobs.<file> counts the jobs whose call stack passes through that
engine file (a lazily built frame, such as Packing's, launches none).

input_rows_per_s divides a fixed count by op wall time: for a QA op the
source documents of its long document, for a survey op its papers, for an
olap query the generated rows of the tables its oracle SQL reads, for the
stream op the rows of its files. cpu_s_per_op is process CPU over the ops'
bodies only (no checks, no pass boundaries). op_tail_s is the highest
percentile with at least 10 ops beyond it, or p90 when a run has fewer than
100 ops; the stamp names the percentile.
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the source tree
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("qa_longdoc", "olap_shared_10x")
SERVICE_MICROS = 1000  # the stand-in model's service time per call
SETUPS = 3             # setups per run; setup_s is their median
HEAP = "3g"
DEADLINE_S = 150       # input generation + JVM; the checks take seconds more
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def percentile(xs, p):
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def run_jvm(workload, seed, seconds, trace, work, cores, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(), "perfbench.Main", workload,
           os.path.join(work, "input"), work, str(seconds), str(trace), str(cores),
           str(SERVICE_MICROS), str(SETUPS)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.isfile(os.path.join(work, "result.json")):
        tail = open(log_path, errors="replace").read()[-4000:]
        raise SystemExit(f"benchmark JVM failed ({rc}):\n{tail}")
    return json.load(open(os.path.join(work, "result.json")))


def canon(v):
    """DuckDB value -> the JVM dump's canonical form (see Canon.value)."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    try:
        return float(v)  # Decimal
    except (TypeError, ValueError):
        return str(v)


def sort_key(row):
    def r(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, list):
            return [r(x) for x in v]
        return v
    return json.dumps(r(row), sort_keys=True)


def same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return abs(a - b) <= 1e-6 * max(1.0, abs(b)) + 1e-6
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def oracle_check(rec, work):
    """Each query's first measured result against DuckDB over the same
    input files; returns {query: error}."""
    import duckdb  # noqa: PLC0415 - only the olap workload needs it
    con = duckdb.connect()
    tables = os.path.join(work, "input", "tables")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    bad = {}
    dumps = os.path.join(work, "olap")
    names = sorted(f[:-5] for f in os.listdir(dumps)) if os.path.isdir(dumps) else []
    for name in names:
        dump = json.load(open(os.path.join(dumps, f"{name}.json")))
        sql = rec["oracle_sql"].get(name)
        if sql is None:
            bad[name] = f"{name}: no oracle SQL to check against"
            continue
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
        except Exception as exc:  # noqa: BLE001 - reported as a failed check
            bad[name] = f"{name}: oracle failed: {exc}"
            continue
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        want = sorted(([canon(r[i]) for i in order] for r in rows), key=sort_key)
        got = sorted(dump["rows"], key=sort_key)
        if len(got) != len(want):
            bad[name] = f"{name}: expected {len(want)} rows, got {len(got)}"
        elif got and dump["columns"] != [cols[i] for i in order]:
            bad[name] = f"{name}: expected columns {[cols[i] for i in order]}, got {dump['columns']}"
        elif not all(same(g, w) for g, w in zip(got, want)):
            bad[name] = f"{name}: values differ from the oracle"
    return bad


def query_rows(rec, info, ops):
    """An olap query op's input rows: the generated rows of the tables its
    oracle SQL reads (a fixed count, whatever the engine scans)."""
    for o in ops:
        sql = rec["oracle_sql"].get(o["name"])
        if sql is not None:
            o["input_rows"] = sum(info["rows"][t] for t in TABLES
                                  if re.search(rf"\b{t}\b", sql))


def metrics(rec, ops, trace, cores):
    ok = [o for o in ops if o["ok"]]
    n = max(len(ops), 1)
    lat = [o["wall_s"] for o in ok] or [0.0]
    # the highest percentile with at least 10 ops beyond it; p90 when a
    # run has too few ops for any
    tail_p = next((p for p in TAIL_LADDER if len(lat) * (1 - p / 100.0) >= 10), 90.0)
    if not trace:
        return {
            "setup_s": (statistics.median(rec["setup_s"]), "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (percentile(lat, tail_p), "s"),
            "input_rows_per_s": (sum(o["input_rows"] for o in ok) / max(sum(lat), 1e-9), "1/s"),
            "cpu_s_per_op": (sum(o["process_cpu_s"] for o in ops) / n, "s"),
            "heap_mb": (rec["heap_mb"], "MB"),
        }, tail_p

    def mean(key):
        return sum(o[key] for o in ops) / n

    inf = rec["infer"]
    docs = sum(o["docs"] for o in ok)
    skews = [o["read_skew"] for o in ops if o["read_skew"] > 0]
    st = rec["stream"]
    m = {
        "Warm.index_s": (statistics.median(rec["warm_index_s"]), "s"),
        "QueryDef.build_s": (mean("build_s"), "s"),
        "plans.plan_s": (mean("plan_s"), "s"),
        "plans.exchanges": (mean("exchanges"), "count"),
        "plans.memo_scans": (mean("memo_scans"), "count"),
        "scheduler.jobs": (mean("jobs"), "count"),
        "scheduler.stages": (mean("stages"), "count"),
        "scheduler.tasks": (mean("tasks"), "count"),
        "scheduler.task_wait_s": (mean("task_wait_s"), "s"),
        "scheduler.busy_share": (sum(o["run_s"] for o in ops) / (cores * max(sum(lat), 1e-9)),
                                 "share"),
        "exchange.shuffle_write_mb": (mean("shuffle_write_mb"), "MB"),
        "exchange.shuffle_read_mb": (mean("shuffle_read_mb"), "MB"),
        "exchange.fetch_wait_s": (mean("fetch_wait_s"), "s"),
        "exchange.spill_mb": (mean("spill_mb"), "MB"),
        "exchange.read_skew": (statistics.mean(skews) if skews else 0.0, "ratio"),
        "Tables.scan_mb": (mean("scan_mb"), "MB"),
        "memo.block_mb": (mean("memo_mb"), "MB"),
        "executor.cpu_s": (mean("cpu_s"), "s"),
        "executor.gc_s": (mean("gc_s"), "s"),
        "infer.calls": (int(inf["calls"]) / n, "count"),
        "infer.calls_per_doc": (int(inf["calls"]) / max(docs, 1), "count"),
        "infer.tokens": (int(inf["tokens"]) / n, "count"),
        "infer.tokens_per_doc": (int(inf["tokens"]) / max(docs, 1), "count"),
        "infer.distinct_ratio": (int(inf["distinct"]) / max(int(inf["calls"]), 1), "ratio"),
        "infer.batches": (int(inf["batches"]) / n, "count"),
        "infer.batch_fill": (int(inf["calls"]) / max(int(inf["batches"]) * int(inf["batch_size"]), 1),
                             "share"),
        "infer.busy_s": (inf["busy_s"] / n, "s"),
        "sink.write_mb": (mean("sink_mb"), "MB"),
        "sink.write_s": (mean("sink_s"), "s"),
        "streaming.batches": (st["batches"], "count"),
        "streaming.trigger_ms": (st["trigger_ms"], "ms"),
        "streaming.add_batch_ms": (st["add_batch_ms"], "ms"),
        "streaming.wal_commit_ms": (st["wal_commit_ms"], "ms"),
        "streaming.state_rows": (st["state_rows"], "count"),
        "streaming.state_mb": (st["state_mb"], "MB"),
        "streaming.state_commit_ms": (st["state_commit_ms"], "ms"),
        "ops.error_ratio": ((len(ops) - len(ok)) / n, "share"),
        # op_p50_s under tracing: minus the untraced op_p50_s of the same
        # seed, it is the tracing overhead
        "ops.traced_p50_s": (statistics.median(lat), "s"),
    }
    for prefix, calls in inf["by_prefix"].items():
        m[f"infer.calls.{prefix}"] = (int(calls) / n, "count")
    for site in ("V1Pipeline", "V2Pipeline", "IterativeStage", "Packing"):
        m[f"pipeline.jobs.{site}"] = (sum(o["jobs_by_site"][site] for o in ops) / n, "count")
    for kind, self_s in rec["trace"].items():
        m[f"trace.{kind}.self_s"] = (self_s / n, "s")
    return m, tail_p


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()
    deadline = time.time() + DEADLINE_S
    cores = max(1, min(4, os.cpu_count() or 1))
    work = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        info = gen.generate(a.workload, a.seed, os.path.join(work, "input"))
        t1 = time.time()
        rec = run_jvm(a.workload, a.seed, a.seconds, a.trace, work, cores, deadline)
        t2 = time.time()
        ops = rec["ops"]
        if a.workload == "olap_shared_10x":
            query_rows(rec, info, ops)
            bad = oracle_check(rec, work)
            for o in ops:
                if o["ok"] and o["name"] in bad:
                    o["ok"], o["err"] = False, bad[o["name"]]
        errors = sorted({o["err"] for o in ops if not o["ok"]})
        phases = {"gen": t1 - t0, "jvm": t2 - t1, "checks": time.time() - t2}
        m, tail_p = metrics(rec, ops, a.trace, cores)
        if a.trace:
            dest = os.path.join(build.BUILD, "trace", f"{a.workload}-{a.seed}.jsonl")
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.move(os.path.join(work, "spans.jsonl"), dest)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(not o["ok"] for o in ops)
    for e in errors[:20]:
        print(f"check failed: {e}", file=sys.stderr)
    wall, cpu = rec["window_s"], rec["window_cpu_s"]
    print(json.dumps({"stamp": {
        "workload": a.workload, "seed": a.seed, "cores": cores,
        "canary_s": rec["canary_s"], "window_wall_s": wall, "window_cpu_s": cpu,
        "cpu_per_wall": cpu / wall, "cpu_share_of_slots": cpu / (wall * cores),
        "tail_percentile": tail_p, "ops": len(ops), "setup_runs_s": rec["setup_s"],
        "op_wall_s": {n: [round(o["wall_s"], 3) for o in ops if o["name"] == n]
                      for n in dict.fromkeys(o["name"] for o in ops)},
        "op_cpu_s": {n: [round(o["process_cpu_s"], 2) for o in ops if o["name"] == n]
                     for n in dict.fromkeys(o["name"] for o in ops)},
        "service_us_per_call": SERVICE_MICROS, "phase_s": phases, "input": info}}))
    print(json.dumps({
        "correct": failed == 0, "attempted": max(len(ops), 1), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
