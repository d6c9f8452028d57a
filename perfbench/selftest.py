#!/usr/bin/env python3
"""The benchmark's self-tests: the percentile rule, sustained-rate and
backlog-growth detection on synthetic progress data, ledger arithmetic, and
byte-identical inputs for a given seed.

    python3 perfbench/selftest.py      # exits 1 on the first failure

run.py runs ``arithmetic()`` before every run and ``same_inputs()`` on the
run's own workload after it.
"""
import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def check(cond, what):
    if not cond:
        raise AssertionError(what)


def test_percentile_rule():
    v = list(range(1, 101))
    check(stats.percentile(v, 50) == 50.5, "median of 1..100")
    p, val, beyond, n = stats.tail(v)
    check((p, beyond, n) == (90, 10, 100), f"1..100 tail is p90: {p} {beyond}")
    p, _, beyond, _ = stats.tail(list(range(1, 1001)))
    check((p, beyond) == (99, 10), f"1..1000 tail is p99: {p} {beyond}")
    check(stats.tail(list(range(15))) is None, "15 samples have no tail")
    p, _, beyond, _ = stats.tail(list(range(25)))
    check((p, beyond) == (50, 12), "25 samples: only the median qualifies")


def synthetic_rung(rate, seconds, capacity, batch_s=0.5):
    """A rung as run.py sees it: the generator offers `rate` rows/s, each
    batch (every `batch_s`) processes at most `capacity * batch_s` rows."""
    t0 = 1_000_000_000_000
    adds, progress = [], []
    offered = processed = 0
    t = 0.0
    while t < seconds:
        t += batch_s
        offered = int(rate * t)
        adds.append([t0 + int((t - 0.01) * 1e9), offered])
        take = min(offered - processed, int(capacity * batch_s))
        processed += take
        progress.append({"start_ns": t0 + int(t * 1e9), "triggerExecution": 0,
                         "input_rows": take})
    return {"rate": rate, "offered": offered, "admitted": processed,
            "latency_ms": [100.0] * 20, "t0_ns": t0, "adds": adds,
            "progress": progress, "last_emit_ns": t0 + int(seconds * 1e9),
            "ms": seconds * 1000}


def test_backlog_and_sustained():
    import run
    keeps_up = run.rung_summary(synthetic_rung(50, 6, capacity=80))
    falls_behind = run.rung_summary(synthetic_rung(120, 6, capacity=80))
    check(not keeps_up["growing"], "a rung under capacity has no growing backlog")
    check(falls_behind["growing"], "a rung over capacity has a growing backlog")
    check(falls_behind["backlog_max"] > 100, "backlog is offered minus processed")
    check(not stats.backlog_growing([(0, 5), (1, 7), (2, 5), (3, 6), (4, 5)], 10),
          "a flat, noisy backlog is not growing")
    rungs = [{"rate": 10, "p99_ms": 500, "growing": False},
             {"rate": 20, "p99_ms": 900, "growing": False},
             {"rate": 40, "p99_ms": 3000, "growing": False}]
    check(stats.sustained_rate(rungs, 1000) == 20, "p99 over the limit stops the ladder")
    rungs[1]["growing"] = True
    check(stats.sustained_rate(rungs, 1000) == 10, "a growing backlog stops the ladder")
    rungs[0]["p99_ms"] = None
    check(stats.sustained_rate(rungs, 1000) == 0, "a rung with no output sustains nothing")


def test_ledger():
    spans = [
        {"name": "request", "start": 0, "end": 100},
        {"name": "sql.compile", "start": 10, "end": 40},
        {"name": "spark.job", "start": 20, "end": 30},
        {"name": "action", "start": 40, "end": 95},
        {"name": "catalyst.planning", "start": 40, "end": 45},
        {"name": "spark.job", "start": 50, "end": 90},
        {"name": "spark.job", "start": 85, "end": 92},  # overlapping jobs
        {"name": "request", "start": 110, "end": 120},
    ]
    led = stats.ledger(spans, 0, 130, carve={"action": [("codegen", 4)]})
    check(led["spark.jobs"] == 10 + 42, f"job union: {led['spark.jobs']}")
    check(led["catalyst"] == 5, "catalyst")
    check(led["sql.plan"] == 20, "compile minus its job")
    check(led["action"] == 55 - 5 - 42 - 4, f"action self time: {led['action']}")
    check(led["codegen"] == 4, "carved codegen")
    check(led["request"] == 100 - 30 - 55 + 10, f"request self: {led['request']}")
    check(led["residual"] == 20, "uncovered time")
    check(sum(led.values()) == 130, "layers plus residual equal the wall time")
    # a carve-out larger than the layer's self time is capped by it
    led = stats.ledger(spans, 0, 130, carve={"sql.plan": [("x", 1000)]})
    check(led["sql.plan"] == 0 and led["x"] == 20 and sum(led.values()) == 130,
          "carve-outs are capped and conserve the total")
    # spans outside the window are clipped to it
    led = stats.ledger(spans, 50, 100)
    check(sum(led.values()) == 50, "clipped window sums to its wall time")


def arithmetic():
    test_percentile_rule()
    test_backlog_and_sustained()
    test_ledger()


def digest_dir(d):
    h = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h[name] = hashlib.sha256(f.read()).hexdigest()
    return h


def same_inputs(workload, seed, inputs, seconds):
    """Regenerates a workload's inputs beside `inputs` and compares bytes.
    Returns the names of files that differ."""
    import run
    again = inputs.rstrip("/") + ".again"
    shutil.rmtree(again, ignore_errors=True)
    run.prepare(workload, seed, again, seconds)
    a, b = digest_dir(inputs), digest_dir(again)
    shutil.rmtree(again, ignore_errors=True)
    return sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))


def main():
    arithmetic()
    import run
    base = os.path.join(os.getcwd(), ".bench_work", "selftest")
    for w in ["spj_adhoc", "corpus_batch", "stream_ingest"]:
        d = os.path.join(base, w)
        shutil.rmtree(d, ignore_errors=True)
        run.prepare(w, 7, d, 6)
        diff = same_inputs(w, 7, d, 6)
        check(not diff, f"{w}: seed 7 regenerated differently: {diff}")
        other = os.path.join(base, w + ".seed8")
        shutil.rmtree(other, ignore_errors=True)
        run.prepare(w, 8, other, 6)
        check(digest_dir(d) != digest_dir(other), f"{w}: seeds 7 and 8 gave the same inputs")
    shutil.rmtree(base, ignore_errors=True)
    print("selftest: ok")


if __name__ == "__main__":
    main()
