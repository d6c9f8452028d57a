#!/usr/bin/env python3
"""graft's benchmark: one seeded workload per run, timed end to end, with
its outputs checked for correctness outside the timed window.

    python3 perfbench/run.py --workload spj_adhoc --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles graft and the harness
(perfbench/build.py). Inputs are generated from --seed under
.bench_work/<workload>/; graft sees only those files. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones (and --ledger FILE writes the layer ledger as
markdown). A run whose outputs fail a check lists the failures on stderr and
exits 1.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import selftest  # noqa: E402
import stats  # noqa: E402

CORES = 4
JVM_TIMEOUT_S = 165

# workload parameters; BENCHMARK.json records them
SPJ = {"scale": 0.01, "pool": 6}
CORPUS = {"docs": 300, "vecs": 200,
          "jobs": ["d08_dedup_clusters", "s13_hybrid_rrf"]}
STREAM = {"docs": 2000, "vecs": 16, "rungs": [20, 80], "ref_rung": 0,
          "limit_ms": 3000, "warm_ms": 1000, "settle_ms": 5000,
          "trigger_ms": 1000, "langs": ["en", "es", "fr", "de"],
          "min_quality": 0.3}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

E2E = ["setup_s", "latency_p50_ms", "latency_p90_ms", "throughput_per_s",
       "makespan_s", "peak_rss_mb"]
E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
             "throughput_per_s": "1/s", "makespan_s": "s", "peak_rss_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def prepare(workload, seed, inputs, seconds):
    """Generates the workload's inputs and plan.json under ``inputs``."""
    os.makedirs(inputs)
    plan = {"cores": CORES}
    if workload == "spj_adhoc":
        counts = gen.tpch(inputs, seed, SPJ["scale"])
        qs = gen.spj_queries(seed, SPJ["pool"])
        rng = gen.seeded_rng(seed, 5)
        order = []
        while len(order) < 20 * len(qs):
            order.extend(int(i) for i in rng.permutation(len(qs)))
        plan.update(queries=[{"id": q["id"], "spj": q["spj"]} for q in qs],
                    order=order)
        gen.write_json(os.path.join(inputs, "queries.json"), qs)
        meta = {"rows": counts}
    elif workload == "corpus_batch":
        meta = gen.corpus(inputs, seed, CORPUS["docs"], CORPUS["vecs"])
        plan.update(jobs=CORPUS["jobs"])
    else:
        meta = gen.corpus(inputs, seed, STREAM["docs"], STREAM["vecs"])
        rung_ms = STREAM["settle_ms"] + int(seconds * 1000) + 1000
        meta["schedule"] = gen.stream_schedule(inputs, seed, STREAM["rungs"],
                                               rung_ms, STREAM["docs"])
        plan.update(rungs=STREAM["rungs"], ref_rung=STREAM["ref_rung"],
                    langs=STREAM["langs"],
                    min_quality=STREAM["min_quality"], warm_ms=STREAM["warm_ms"],
                    settle_ms=STREAM["settle_ms"], trigger_ms=STREAM["trigger_ms"])
    gen.write_json(os.path.join(inputs, "plan.json"), plan)
    return meta


# --------------------------------------------------------------------------
# correctness
# --------------------------------------------------------------------------

def canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer() and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "__float__"):  # Decimal
        return canon(float(v))
    return repr(v)


def read_capture(path):
    with open(path) as f:
        cols = json.loads(f.readline())
        rows = [json.loads(line) for line in f if line.strip()]
    return cols, rows


def duck(inputs, tables):
    import duckdb
    con = duckdb.connect()
    for t in tables:
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_spj(inputs, results):
    """Every pool query's captured rows against DuckDB running its ANSI twin,
    compared positionally as row multisets."""
    qs = json.load(open(os.path.join(inputs, "queries.json")))
    con = duck(inputs, ["region", "nation", "customer", "supplier", "part",
                        "orders", "lineitem"])
    fails = []
    for q in qs:
        path = os.path.join(results, q["id"] + ".jsonl")
        if not os.path.exists(path):
            fails.append(f"{q['id']}: no output (query threw)")
            continue
        cols, rows = read_capture(path)
        got = sorted(tuple(canon(r.get(c)) for c in cols) for r in rows)
        want = sorted(tuple(canon(v) for v in row)
                      for row in con.execute(q["ansi"]).fetchall())
        if got != want:
            fails.append(f"{q['id']}: {len(got)} rows vs twin {len(want)}: "
                         f"{q['spj']}")
    return len(qs), fails


def digest(cols, rows):
    lines = sorted("\t".join(canon(r.get(c)) for c in cols) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def check_corpus(inputs, results, oracle):
    """Oracle-backed jobs against SparkEntry.oracleSql in DuckDB (columns
    matched by name, rows as multisets); rows-only jobs must be non-empty and
    get an output digest."""
    con = duck(inputs, ["documents", "embeddings"])
    fails, digests = [], {}
    for job in CORPUS["jobs"]:
        path = os.path.join(results, job + ".jsonl")
        if not os.path.exists(path):
            fails.append(f"{job}: no output (job threw)")
            continue
        cols, rows = read_capture(path)
        if job not in oracle:
            digests[job] = digest(cols, rows)
            if not rows:
                fails.append(f"{job}: rows-only job returned no rows")
            continue
        res = con.execute(oracle[job])
        wcols = [d[0] for d in res.description]
        want_rows = res.fetchall()
        if sorted(wcols) != sorted(cols):
            fails.append(f"{job}: columns {sorted(cols)} vs oracle {sorted(wcols)}")
            continue
        order = sorted(cols)
        got = sorted(tuple(canon(r.get(c)) for c in order) for r in rows)
        idx = [wcols.index(c) for c in order]
        want = sorted(tuple(canon(row[i]) for i in idx) for row in want_rows)
        if got != want:
            fails.append(f"{job}: {len(got)} rows vs oracle {len(want)}")
    return len(CORPUS["jobs"]), fails, digests


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def op_latencies(window):
    return [(o["end_ns"] - o["start_ns"]) / 1e6 for o in window["ops"] if o["ok"]]


def rung_summary(r):
    """Latency percentiles, backlog series and growth for one stream rung,
    from the end of its settling time (``measure_ns``) on."""
    lat = r["latency_ms"]
    t0 = r.get("measure_ns", r["t0_ns"])
    adds = sorted(r["adds"])
    processed, points, i, added = 0, [], 0, 0
    for p in sorted(r["progress"], key=lambda p: p["start_ns"]):
        end = p["start_ns"] + p.get("triggerExecution", 0) * 1_000_000
        processed += p["input_rows"]
        while i < len(adds) and adds[i][0] <= end:
            added = adds[i][1]
            i += 1
        if end >= t0:
            points.append(((end - t0) / 1e9, added - processed))
    return {
        "rate": r["rate"], "offered": r["offered"], "admitted": r["admitted"],
        "p50_ms": stats.percentile(lat, 50) if lat else None,
        "p90_ms": stats.percentile(lat, 90) if lat else None,
        "p99_ms": stats.percentile(lat, 99) if lat else None,
        "tail": stats.tail(lat) if lat else None,
        "backlog_max": max((b for _, b in points), default=0),
        "growing": stats.backlog_growing(points, r["rate"]),
        "drain_s": (r["last_emit_ns"] - t0) / 1e9,
        "batches": len(r["progress"]),
    }


def e2e_metrics(workload, res, window, meta):
    wall_s = (window["end_ns"] - window["start_ns"]) / 1e9
    setup_s = (res["gen_s"] + res["jvm_start_ms"] / 1e3 + res["session_ms"] / 1e3
               + res["warmup_ms"] / 1e3)
    m = {"setup_s": setup_s, "peak_rss_mb": res["peak_rss_mb"]}
    info = {}
    if workload in ("spj_adhoc", "corpus_batch"):
        lat = op_latencies(window)
        n = len(window["ops"])
        per_pass = window["ops_per_pass"]
        m["latency_p50_ms"] = stats.percentile(lat, 50)
        m["latency_p90_ms"] = stats.percentile(lat, 90)
        info["samples"] = len(lat)
        info["tail"] = stats.tail(lat)
        if workload == "spj_adhoc":
            m["throughput_per_s"] = len(lat) / wall_s
            m["makespan_s"] = wall_s / n * per_pass
        else:
            walls = [(e - s) / 1e9 for s, e in window["passes"]]
            m["makespan_s"] = stats.median(walls)
            m["throughput_per_s"] = meta["docs"] / m["makespan_s"]
            info["passes"] = len(walls)
    else:
        rungs = [rung_summary(r) for r in window["rungs"]]
        ref = rungs[0]
        m["latency_p50_ms"] = ref["p50_ms"]
        m["latency_p90_ms"] = ref["p90_ms"]
        m["makespan_s"] = ref["drain_s"]
        # processing rate: the reference rung's documents replayed as one
        # burst, per second until all were processed (median of the bursts)
        m["throughput_per_s"] = stats.median(
            [c["burst_rows"] * 1e3 / c["burst_ms"] for c in res["stream_checks"]])
        rate = stats.sustained_rate(rungs, STREAM["limit_ms"])
        info.update(rungs=rungs, sustained_docs_per_s=rate, tail=ref["tail"],
                    samples=len(window["rungs"][0]["latency_ms"]))
    return m, info


def span_totals(spans, name):
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / 1e6


def layer_metrics(workload, window, spans, untraced_m, traced_m, info):
    """Per-layer metrics from the traced window. Units: per query on
    spj_adhoc, per job-sequence pass on corpus_batch, per micro-batch on
    stream_ingest."""
    c = window.get("counters", {})
    if workload == "spj_adhoc":
        unit = max(1, len(window["ops"]))
    elif workload == "corpus_batch":
        unit = max(1, len(window["passes"]))
    else:
        unit = max(1, sum(len(r["progress"]) for r in window["rungs"]))
    per = lambda v: v / unit
    wall_ms = (window["end_ns"] - window["start_ns"]) / 1e6
    jobs = stats.union([(s["start"], s["end"]) for s in spans
                         if s["name"] == "spark.job"])
    job_ms = stats.length(jobs) / 1e6
    m = {
        "sql.parse_ms": per(span_totals(spans, "sql.parse")),
        "sql.plan_ms": per(span_totals(spans, "sql.compile")
                           - span_totals(spans, "sql.parse")),
        "sql.stat_jobs": per(c.get("layer.sql.compile.jobs", 0)),
        "ops.build_ms": per(span_totals(spans, "ops.build")),
        "ops.build_jobs": per(c.get("layer.ops.build.jobs", 0)),
        "ops.materializations": per(c.get("ops.materializations", 0)),
        "ops.materialized_mb": per(c.get("ops.materialized_mb", 0)),
        "ops.driver_result_mb": per(c.get("layer.ops.build.result_mb", 0)),
        "action_ms": per(span_totals(spans, "action")),
        "catalyst.analysis_ms": per(c.get("catalyst.analysis_ms", 0)),
        "catalyst.optimization_ms": per(c.get("catalyst.optimization_ms", 0)),
        "catalyst.planning_ms": per(c.get("catalyst.planning_ms", 0)),
        "catalyst.executions": per(c.get("catalyst.executions", 0)),
        "codegen.compile_ms": per(window["codegen.compile_ms"]),
        "codegen.compiles": per(window["codegen.compiles"]),
        "driver.idle_ms": per(wall_ms - job_ms),
        "driver.gc_ms": per(window["jvm_gc_ms"]),
        "stage.straggler_ratio": (stats.percentile(
            c["stage.straggler_ratio_samples"], 90)
            if c.get("stage.straggler_ratio_samples") else 0.0),
    }
    for k in ["scheduler.jobs", "scheduler.stages", "scheduler.tasks",
              "scheduler.job_active_ms", "scheduler.task_delay_ms",
              "scheduler.task_failures", "scheduler.stage_retries",
              "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
              "executor.deserialize_ms", "shuffle.write_mb", "shuffle.read_mb",
              "shuffle.fetch_wait_ms", "shuffle.spill_mb"]:
        m[k] = per(c.get(k, 0))
    stream = {k: 0.0 for k in ["stream.trigger_ms", "stream.add_batch_ms",
                               "stream.planning_ms", "stream.wal_ms",
                               "stream.batches", "stream.state_rows",
                               "stream.state_mb", "stream.backlog_rows",
                               "stream.gen_lag_ms", "sustained_docs_per_s"]}
    if workload == "stream_ingest":
        prog = [p for r in window["rungs"] for p in r["progress"]]
        mean = lambda k: sum(p.get(k, 0) for p in prog) / max(1, len(prog))
        lags = [x for r in window["rungs"] for x in r["gen_lag_ms"]]
        stream.update({
            "stream.trigger_ms": mean("triggerExecution"),
            "stream.add_batch_ms": mean("addBatch"),
            "stream.planning_ms": mean("queryPlanning"),
            "stream.wal_ms": mean("walCommit"),
            "stream.batches": len(prog) / (wall_ms / 1e3),
            "stream.state_rows": max((p["state_rows"] for p in prog), default=0),
            "stream.state_mb": max((p["state_mb"] for p in prog), default=0),
            "stream.backlog_rows": max(r["backlog_max"] for r in info["rungs"]),
            "stream.gen_lag_ms": stats.percentile(lags, 99) if lags else 0.0,
            "sustained_docs_per_s": info["sustained_docs_per_s"],
        })
    m.update(stream)
    tail = info.get("tail")
    m["latency.samples"] = info.get("samples", 0)
    m["latency.tail_pct"] = tail[0] if tail else 0
    m["latency.tail_ms"] = tail[1] if tail else 0.0
    m["latency.beyond_tail"] = tail[2] if tail else 0
    if workload == "stream_ingest":
        lat = window["rungs"][0]["latency_ms"]
        m["latency_p99_ms"] = stats.percentile(lat, 99) if lat else 0.0
    else:
        lat = op_latencies(window)
        m["latency_p99_ms"] = stats.percentile(lat, 99) if lat else 0.0
    m["queries_per_s"] = (traced_m["throughput_per_s"]
                          if workload == "spj_adhoc" else 0.0)
    key = "makespan_s" if workload == "corpus_batch" else "latency_p50_ms"
    m["trace.overhead_pct"] = 100.0 * (traced_m[key] - untraced_m[key]) / untraced_m[key]
    return m


def ledger_of(workload, window, spans):
    carve = {"action": [("codegen", window["codegen.compile_ms"] * 1e6)]}
    if workload == "stream_ingest":
        prog = [p for r in window["rungs"] for p in r["progress"]]
        carve["stream.trigger"] = [
            ("stream.planning", sum(p.get("queryPlanning", 0) for p in prog) * 1e6),
            ("stream.wal", sum(p.get("walCommit", 0) for p in prog) * 1e6)]
    led = stats.ledger(spans, window["start_ns"], window["end_ns"], carve)
    wall = window["end_ns"] - window["start_ns"]
    return {k: v / 1e6 for k, v in led.items()}, wall / 1e6


LEDGER_NAMES = ["spark.jobs", "catalyst", "codegen", "sql.parse", "sql.plan",
                "ops.build", "action", "stream.trigger", "stream.planning",
                "stream.wal", "stream.rung", "request", "residual"]


def ledger_markdown(workload, seed, led, wall_ms, m):
    lines = [f"### {workload} (seed {seed}, traced window {wall_ms / 1e3:.1f} s)",
             "", "| layer | self ms | share of wall |", "|---|---:|---:|"]
    for k in LEDGER_NAMES:
        lines.append(f"| {k} | {led.get(k, 0):.1f} | "
                     f"{100 * led.get(k, 0) / wall_ms:.1f}% |")
    total = sum(led.get(k, 0) for k in LEDGER_NAMES)
    lines.append(f"| **sum** | {total:.1f} | {100 * total / wall_ms:.1f}% |")
    lines.append(f"| wall | {wall_ms:.1f} | 100.0% |")
    lines.append("")
    lines.append("Per-layer metrics of the same window:")
    lines.append("")
    lines.append("| metric | value |")
    lines.append("|---|---:|")
    for k in sorted(m):
        lines.append(f"| {k} | {m[k]:.4g} |")
    return "\n".join(lines) + "\n"


# --------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["spj_adhoc", "corpus_batch", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--ledger", help="write the traced run's ledger (markdown)")
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.build()
    jars = build.spark_jars()

    selftest.arithmetic()
    t_setup = time.time()
    base = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(base, ignore_errors=True)
    inputs, work = os.path.join(base, "inputs"), os.path.join(base, "work")
    meta = prepare(a.workload, a.seed, inputs, a.seconds)
    os.makedirs(os.path.join(work, "tmp"))
    gen_s = time.time() - t_setup

    out = os.path.join(work, "result.json")
    # a fixed, pre-touched heap keeps the resident set from depending on
    # when the collector chose to grow the heap; peak RSS then moves with
    # native and off-heap memory
    # (no perf-data file in the system temp directory, so the run writes
    # only inside the checkout)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss16m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main", "--workload", a.workload, "--dir", inputs,
              "--work", work, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", out,
              "--launch-ms", str(int(time.time() * 1000))])
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"JVM timed out after {JVM_TIMEOUT_S}s; see {work}/jvm.log")
            return 3
    if proc.returncode != 0 or not os.path.exists(out):
        log(f"JVM exited {proc.returncode}; see {work}/jvm.log")
        return 3
    res = json.load(open(out))
    res["gen_s"] = gen_s

    # correctness, outside the timed window
    fails = list(res["errors"]) + list(res["setup_failures"])
    results = os.path.join(work, "results")
    digests = {}
    if a.workload == "spj_adhoc":
        n_checks, f = check_spj(inputs, results)
    elif a.workload == "corpus_batch":
        n_checks, f, digests = check_corpus(inputs, results, res["oracle_sql"])
    else:
        checks = res.get("stream_checks", [])
        n_checks = len(checks)
        f = [f"stream rung {c['rung']}: streamed {c['streamed']} admitted vs "
             f"replay {c['replayed']} (only streamed {c['only_streamed']}, "
             f"only replayed {c['only_replayed']})" for c in checks if not c["ok"]]
        if not checks:
            f.append("stream: no replay check ran")
    fails += f
    differ = selftest.same_inputs(a.workload, a.seed, inputs, a.seconds)
    fails += [f"inputs not byte-identical when regenerated: {differ}"] if differ else []
    windows = res["windows"]
    main_w = windows["e2e"] if a.trace == 0 else windows["traced"]
    ops = main_w.get("ops")
    if ops is not None:
        fails += [f"{o['name']}: {o['error']}" for o in ops if not o["ok"]]
        attempted = len(ops) + n_checks
    else:
        attempted = sum(r["offered"] for r in main_w["rungs"]) + n_checks

    e2e, info = e2e_metrics(a.workload, res, main_w, meta)
    log(f"{a.workload} seed={a.seed}: " + ", ".join(
        f"{k}={e2e[k]:.4g}" for k in E2E))
    log(f"samples={info.get('samples')} tail(p, value, beyond, n)={info.get('tail')}"
        + (f" passes={info['passes']}" if "passes" in info else ""))
    for r in info.get("rungs", []):
        log("rung " + json.dumps({k: (round(v, 2) if isinstance(v, float) else v)
                                  for k, v in r.items() if k != "tail"}))
    if digests:
        log(f"rows-only digests: {digests}")
    if a.trace == 0:
        metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in E2E}
    else:
        spans = [json.loads(line) for line in open(res["spans"])]
        untraced_m, _ = e2e_metrics(a.workload, res, windows["untraced"], meta)
        lm = layer_metrics(a.workload, main_w, spans, untraced_m, e2e, info)
        led, wall_ms = ledger_of(a.workload, main_w, spans)
        for k in LEDGER_NAMES:
            lm[f"ledger.{k}_pct"] = 100.0 * led.get(k, 0) / wall_ms
        lm["error_rate"] = len(fails) / max(1, attempted)
        gen.write_json(os.path.join(work, "ledger.json"),
                       {"wall_ms": wall_ms, "layers": led})
        if a.ledger:
            with open(a.ledger, "w") as f:
                f.write(ledger_markdown(a.workload, a.seed, led, wall_ms, lm))
        units = layer_units()
        metrics = {k: {"value": v, "unit": units.get(k, "count")}
                   for k, v in sorted(lm.items())}
    for msg in fails:
        log(f"FAILED {msg}")
    print(json.dumps({"correct": not fails, "attempted": attempted,
                      "failed": len(fails), "metrics": metrics}))
    return 1 if fails else 0


def layer_units():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    try:
        return {m["name"]: m["unit"] for m in json.load(open(path))["per_layer"]}
    except (OSError, KeyError, ValueError):
        return {}


if __name__ == "__main__":
    sys.exit(main())
