"""The benchmark's arithmetic: percentiles and the tail rule, sustained-rate
and backlog-growth detection, and the per-layer ledger. Pure functions, so
``selftest.py`` can check them on synthetic data."""

MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    r = p / 100.0 * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def median(values):
    return percentile(values, 50)


def tail(values, ladder=(50, 90, 99, 99.9)):
    """The highest percentile of ``ladder`` with at least ten samples strictly
    beyond it: (p, value, samples beyond, sample count). None when even the
    median has fewer than ten samples beyond it."""
    best = None
    for p in ladder:
        v = percentile(values, p)
        beyond = sum(1 for x in values if x > v)
        if beyond >= MIN_BEYOND:
            best = (p, v, beyond, len(values))
    return best


def slope(points):
    """Least-squares slope of (x, y) points; 0 for fewer than two x values."""
    n = len(points)
    if n < 2:
        return 0.0
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx


def backlog_growing(points, rate, tolerance=0.1):
    """Whether the backlog (rows offered but not yet processed) grows over the
    second half of a rung: its slope in rows/s exceeds ``tolerance`` of the
    offered ``rate``. ``points`` are (seconds, backlog rows)."""
    if len(points) < 4:
        return False
    pts = sorted(points)
    half = pts[len(pts) // 2:]
    return slope(half) > tolerance * rate


def sustained_rate(rungs, limit_ms):
    """The highest rung rate whose p99 latency meets ``limit_ms`` with no
    growing backlog, provided every lower rung met it too; 0 if none.
    ``rungs`` are dicts with ``rate``, ``p99_ms`` and ``growing``."""
    best = 0.0
    for r in sorted(rungs, key=lambda r: r["rate"]):
        if r["p99_ms"] is None or r["p99_ms"] > limit_ms or r["growing"]:
            break
        best = r["rate"]
    return best


# ledger layers in priority order: where spans overlap in time, the earlier
# layer in this list owns the overlap (a Spark job inside an action is job
# time, not action time)
LEDGER_LAYERS = [
    ("spark.jobs", ("spark.job",)),
    ("catalyst", ("catalyst.analysis", "catalyst.optimization",
                  "catalyst.planning")),
    ("sql.parse", ("sql.parse",)),
    ("sql.plan", ("sql.compile",)),
    ("ops.build", ("ops.build",)),
    ("action", ("action",)),
    ("stream.trigger", ("stream.trigger",)),
    ("stream.rung", ("stream.rung",)),
    ("request", ("request",)),
]


def union(intervals):
    out = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def length(intervals):
    return sum(e - s for s, e in intervals)


def subtract(a, b):
    """Interval set a minus interval set b (both unions, sorted)."""
    out = []
    j = 0
    for s, e in a:
        cur = s
        while j < len(b) and b[j][1] <= cur:
            j += 1
        k = j
        while k < len(b) and b[k][0] < e:
            if b[k][0] > cur:
                out.append([cur, b[k][0]])
            cur = max(cur, b[k][1])
            k += 1
        if cur < e:
            out.append([cur, e])
    return out


def ledger(spans, start, end, carve=None):
    """Splits the wall time [start, end] into layer self times.

    ``spans`` are dicts with ``name``, ``start`` and ``end`` (any one time
    unit). Each instant goes to the highest-priority layer active then (see
    LEDGER_LAYERS); instants no span covers are the residual. ``carve`` maps
    a layer to [(sub-layer, amount)]: durations without timestamps (codegen
    compile time, streaming phase timings) moved out of that layer's self
    time, capped by it. Returns {layer: self time} including "residual";
    the values sum to end - start.
    """
    clip = lambda s, e: (max(s, start), min(e, end))
    taken = []
    out = {}
    for layer, names in LEDGER_LAYERS:
        mine = union([clip(sp["start"], sp["end"]) for sp in spans
                      if sp["name"] in names])
        own = subtract(mine, taken)
        out[layer] = length(own)
        taken = union(taken + mine)
    out["residual"] = (end - start) - length(taken)
    for layer, subs in (carve or {}).items():
        for sub, amount in subs:
            moved = max(0, min(amount, out.get(layer, 0)))
            out[layer] = out.get(layer, 0) - moved
            out[sub] = out.get(sub, 0) + moved
    return out
