"""Seeded input generators for the graft benchmark.

Every generator takes the workload seed and writes only under the directory
it is given; the same seed gives byte-identical files (checked by
``selftest.py``). graft receives only these files.

- ``tpch``: a TPC-H-shaped star schema (the column names and parquet types of
  the tables ``graft.Tables`` reads) at a small scale factor.
- ``spj_queries``: SPJ-dialect query text over those tables, each paired with
  an ANSI-SQL twin that DuckDB runs as the correctness oracle.
- ``corpus``: a ``documents``/``embeddings`` corpus with stated exact-duplicate,
  near-duplicate and boilerplate rates.
- ``stream_schedule``: the open-loop arrival schedule of the stream workload.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1992 = np.datetime64("1992-01-01", "us")


def seeded_rng(seed, stream):
    # one independent stream per generator so adding a table never shifts
    # the values of another
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _write(dirpath, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(dirpath, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
FINISHES = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
METALS = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
COLORS = ["almond", "azure", "blush", "coral", "ivory", "khaki", "linen",
          "olive", "peach", "plum", "rose", "sienna", "tan", "wheat"]


def tpch(dirpath, seed, scale):
    """Writes region, nation, customer, supplier, part, orders and lineitem.

    Row counts follow TPC-H ratios: ``scale`` 0.1 gives 15k customers, 150k
    orders and about 600k lineitems. Returns the per-table row counts.
    """
    os.makedirs(dirpath, exist_ok=True)
    rng = seeded_rng(seed, 1)
    n_cust = int(150_000 * scale)
    n_supp = max(int(10_000 * scale), 10)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)

    _write(dirpath, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(dirpath, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(dirpath, "customer", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(list(_pick(rng, SEGMENTS, n_cust)))})
    _write(dirpath, "supplier", {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    p_type = [f"{a} {b} {c}" for a, b, c in zip(
        _pick(rng, TYPES, n_part), _pick(rng, FINISHES, n_part),
        _pick(rng, METALS, n_part))]
    p_name = [f"{a} {b}" for a, b in zip(
        _pick(rng, COLORS, n_part), _pick(rng, COLORS, n_part))]
    _write(dirpath, "part", {
        "p_partkey": pa.array(np.arange(1, n_part + 1, dtype=np.int64)),
        "p_name": pa.array(p_name),
        "p_brand": pa.array([f"Brand#{a}{b}" for a, b in zip(
            rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))]),
        "p_type": pa.array(p_type),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(_money(rng, 900.0, 2100.0, n_part))})

    o_date = EPOCH_1992 + rng.integers(0, 2405, n_ord) * np.timedelta64(1, "D")
    _write(dirpath, "orders", {
        "o_orderkey": pa.array(np.arange(1, n_ord + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(list(_pick(rng, ["F", "O", "P"], n_ord))),
        "o_totalprice": pa.array(_money(rng, 850.0, 550_000.0, n_ord)),
        "o_orderdate": pa.array(o_date, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(list(_pick(rng, PRIORITIES, n_ord)))})

    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), lines)
    n_line = len(l_ord)
    l_num = (np.arange(n_line) - np.repeat(np.cumsum(lines) - lines, lines)
             + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = (np.repeat(o_date, lines)
            + rng.integers(1, 122, n_line) * np.timedelta64(1, "D"))
    _write(dirpath, "lineitem", {
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_line).astype(np.int64)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(list(_pick(rng, ["A", "N", "R"], n_line))),
        "l_linestatus": pa.array(list(_pick(rng, ["F", "O"], n_line))),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us"))})
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line}


# --------------------------------------------------------------------------
# SPJ query text + ANSI twins
# --------------------------------------------------------------------------

# foreign-key edges of the schema: (table, column, table, column)
FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

# selection domains: column -> (kind, values). Literals are drawn from these.
SEL_COLS = {
    "lineitem": [("l_quantity", "num", list(range(1, 51))),
                 ("l_discount", "num", [i / 100 for i in range(11)]),
                 ("l_returnflag", "str", ["A", "N", "R"]),
                 ("l_shipdate", "date", None)],
    "orders": [("o_orderstatus", "str", ["F", "O", "P"]),
               ("o_orderpriority", "str", PRIORITIES),
               ("o_totalprice", "num", list(range(50_000, 500_000, 25_000))),
               ("o_orderdate", "date", None)],
    "customer": [("c_mktsegment", "str", SEGMENTS),
                 ("c_acctbal", "num", list(range(-500, 9000, 500)))],
    "supplier": [("s_acctbal", "num", list(range(-500, 9000, 500)))],
    "part": [("p_size", "num", list(range(1, 51))),
             ("p_retailprice", "num", list(range(1000, 2000, 100)))],
    "nation": [("n_regionkey", "num", [0, 1, 2, 3, 4])],
    "region": [("r_name", "str", REGIONS)],
}

# group keys (low cardinality) per table
GROUP_COLS = {
    "lineitem": ["l_returnflag", "l_linestatus"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "customer": ["c_mktsegment", "c_nationkey"],
    "supplier": ["s_nationkey"],
    "part": ["p_brand", "p_size"],
    "nation": ["n_name"],
    "region": ["r_name"],
}
# the aggregates of every groupby/global_agg query: fixed functions, because
# SUM and AVG of a double run through exact decimals and cost far more than
# COUNT, so a seed that drew more of them would do more work; the seed picks
# the measured column of the chain's first table
AGG_FNS = ["SUM", "AVG", "COUNT"]
MEASURES = {"lineitem": ["l_quantity", "l_extendedprice", "l_discount"],
            "orders": ["o_totalprice"], "customer": ["c_acctbal"]}


# the join chain and shape of each pool slot
CHAINS = [
    ["lineitem"],
    ["orders", "customer"],
    ["lineitem", "orders", "customer"],
    ["lineitem", "supplier", "nation", "region"],
    ["lineitem", "part"],
    ["customer", "nation", "region"],
]


def _chain_edges(tables):
    """The FK edges joining a chain's tables (a spanning tree)."""
    edges, seen = [], {tables[0]}
    for t in tables[1:]:
        e = next(e for e in FK_EDGES if (e[0] == t and e[2] in seen)
                 or (e[2] == t and e[0] in seen))
        edges.append(e)
        seen.add(t)
    return edges


def _mid(rng, values):
    """A literal from the middle half of a sorted domain, so range
    selections keep between about a quarter and three quarters of the rows
    and the work a query does varies less from seed to seed."""
    q = len(values) // 4
    return values[q + int(rng.integers(0, max(1, len(values) - 2 * q)))]


def _selection(rng, table):
    """One selection on `table`: equality on a categorical column, or `<=`
    against a literal from the middle half of a numeric or date domain."""
    col, kind, values = SEL_COLS[table][rng.integers(0, len(SEL_COLS[table]))]
    if kind == "str":
        v = values[rng.integers(0, len(values))]
        return f'{table}.{col} = "{v}"', f"{table}.{col} = '{v}'"
    if kind == "date":
        day = EPOCH_1992 + int(rng.integers(600, 1800)) * np.timedelta64(1, "D")
        d = str(day.astype("datetime64[D]"))
        return (f'{table}.{col} <= "{d}"',
                f"{table}.{col} <= TIMESTAMP '{d} 00:00:00'")
    v = _mid(rng, values)
    return f'{table}.{col} <= "{v}"', f"{table}.{col} <= {v}"


def _agg(fn, table, col):
    """An aggregate of a double column and its ANSI twin: graft sums doubles
    through DECIMAL(18, 6), so the twin does too."""
    ref = f"{table}.{col}"
    s = f"CAST(SUM(CAST({ref} AS DECIMAL(18, 6))) AS DOUBLE)"
    ansi = {"SUM": s, "AVG": f"{s} / COUNT({ref})"}.get(fn, f"{fn}({ref})")
    return f"{fn}({ref})", ansi


SHAPES = ["groupby", "distinct", "groupby", "global_agg", "project", "groupby"]


def spj_queries(seed, n):
    """`n` generated queries: dicts with id, shape, spj and ansi text.

    Shapes: ``groupby`` (GROUPBY a key + SUM, AVG, COUNT, ORDERBY the key),
    ``global_agg`` (aggregates, no keys), ``distinct`` (DISTINCT over
    low-cardinality columns, ORDERBY) and ``project`` (a selective key range,
    ORDERBY). Joins are the 1-4-way FK chains of CHAINS; each query has a
    selection on the chain's first and on its last table.
    """
    rng = seeded_rng(seed, 2)
    out = []
    # each pool slot has a fixed join chain and shape (stratified), so the
    # seed varies columns and literals but not how much work a pool holds
    for i in range(n):
        tables = CHAINS[i % len(CHAINS)]
        edges, shape = _chain_edges(tables), SHAPES[i % len(SHAPES)]
        # selections on the chain's first and last table: where a filter
        # sits decides how much a join chain reads, so it is fixed per slot
        sels = [_selection(rng, t) for t in dict.fromkeys([tables[0], tables[-1]])]
        gt = tables[-1]
        keys = [f"{gt}.{GROUP_COLS[gt][rng.integers(0, len(GROUP_COLS[gt]))]}"]
        at = tables[0]
        aggs = [_agg(fn, at, MEASURES[at][rng.integers(0, len(MEASURES[at]))])
                for fn in AGG_FNS]
        # the project shape gets a selective key range so its output stays
        # small enough to check row by row
        if shape == "project":
            kt = tables[0]
            key = {"lineitem": "l_orderkey", "orders": "o_orderkey",
                   "customer": "c_custkey", "supplier": "s_suppkey",
                   "part": "p_partkey", "nation": "n_nationkey",
                   "region": "r_regionkey"}[kt]
            bound = int(rng.integers(5, 40))
            sels.append((f'{kt}.{key} < "{bound}"', f"{kt}.{key} < {bound}"))
        where_spj = [f"{a}.{b} = {c}.{d}" for a, b, c, d in edges] + \
            [s for s, _ in sels]
        where_ansi = [f"{a}.{b} = {c}.{d}" for a, b, c, d in edges] + \
            [a for _, a in sels]
        frm = ", ".join(tables)
        w_spj = f" WHERE {', '.join(where_spj)}"
        w_ansi = f" WHERE {' AND '.join(where_ansi)}"
        if shape == "groupby":
            spj = (f"SELECT {keys[0]}, {', '.join(a for a, _ in aggs)} FROM "
                   f"{frm}{w_spj} GROUPBY {keys[0]} ORDERBY {keys[0]}")
            ansi = (f"SELECT {keys[0]}, {', '.join(b for _, b in aggs)} FROM "
                    f"{frm}{w_ansi} GROUP BY {keys[0]} ORDER BY {keys[0]}")
        elif shape == "global_agg":
            spj = f"SELECT {', '.join(a for a, _ in aggs)} FROM {frm}{w_spj}"
            ansi = f"SELECT {', '.join(b for _, b in aggs)} FROM {frm}{w_ansi}"
        elif shape == "distinct":
            ot = tables[rng.integers(0, len(tables))]
            cols = sorted({keys[0], f"{ot}.{GROUP_COLS[ot][0]}"})
            spj = (f"SELECT DISTINCT {', '.join(cols)} FROM {frm}{w_spj} "
                   f"ORDERBY {', '.join(cols)}")
            ansi = (f"SELECT DISTINCT {', '.join(cols)} FROM {frm}{w_ansi} "
                    f"ORDER BY {', '.join(cols)}")
        else:
            kt = tables[0]
            cols = [f"{kt}.{c}" for c in (GROUP_COLS[kt][0], MEASURES[kt][0])]
            spj = (f"SELECT {', '.join(cols)} FROM {frm}{w_spj} "
                   f"ORDERBY {', '.join(cols)}")
            ansi = (f"SELECT {', '.join(cols)} FROM {frm}{w_ansi} "
                    f"ORDER BY {', '.join(cols)}")
        out.append({"id": f"g{i:03d}", "shape": shape, "tables": len(tables),
                    "spj": spj, "ansi": ansi})
    return out


# --------------------------------------------------------------------------
# Corpus: documents + embeddings
# --------------------------------------------------------------------------

WORDS = ("spark line column order small sort fast value scan hash slow group "
         "batch agg filter query big key window row part table stream merge "
         "data join vector customer river stone garden market bridge letter "
         "season harbor valley winter bread station field").split()
MARKERS = {"en": ["the", "a", "of", "and", "is", "in", "to"],
           "es": ["el", "la", "de", "y", "que", "en", "los"],
           "fr": ["le", "la", "et", "les", "des", "un", "une"],
           "de": ["der", "die", "und", "das", "ist", "ein", "nicht"]}
LANG_P = [("en", 0.7), ("es", 0.1), ("fr", 0.1), ("de", 0.1)]
BOILERPLATE = [
    "click here to subscribe to our newsletter for weekly updates",
    "all rights reserved no part of this page may be reproduced",
    "this site uses cookies to improve your experience read more",
]


def _doc_words(rng, lang):
    n = int(rng.integers(12, 90))
    markers = MARKERS[lang]
    # one word in four is a language marker so the marker lang-ID and the
    # stopword-weighted quality score see a realistic mix
    words = [markers[rng.integers(0, len(markers))] if rng.random() < 0.25
             else WORDS[rng.integers(0, len(WORDS))] for _ in range(n)]
    return words


def corpus(dirpath, seed, n_docs, n_vecs, dup_rate=0.08, near_rate=0.08,
           boiler_rate=0.15, dim=32):
    """Writes documents.parquet and embeddings.parquet.

    ``dup_rate`` of the documents are exact copies of an earlier document,
    ``near_rate`` are copies with one word in twenty replaced, and
    ``boiler_rate`` carry one of three boilerplate sentences. ``doc_id``
    stays below 100000 (p12 offsets its replicas by 100000). Returns the
    realised rates.
    """
    assert n_docs < 100_000
    os.makedirs(dirpath, exist_ok=True)
    rng = seeded_rng(seed, 3)
    # exact counts at seeded positions; a copy's source is always a fresh
    # document, so duplicate clusters are stars and the connected-components
    # loop converges in the same number of rounds for every seed
    n_exact, n_near = round(dup_rate * n_docs), round(near_rate * n_docs)
    slots = rng.permutation(np.arange(10, n_docs))[:n_exact + n_near]
    kind_at = {int(i): "exact" for i in slots[:n_exact]}
    kind_at.update({int(i): "near" for i in slots[n_exact:]})
    langs, texts, kinds, fresh = [], [], [], []
    for i in range(n_docs):
        kind = kind_at.get(i, "fresh")
        if kind != "fresh":
            j = fresh[int(rng.integers(0, len(fresh)))]
            words, lang = texts[j].split(" "), langs[j]
            if kind == "near":
                words = [WORDS[rng.integers(0, len(WORDS))]
                         if rng.random() < 0.05 else w for w in words]
        else:
            fresh.append(i)
            lang = LANG_P[int(np.searchsorted(
                np.cumsum([p for _, p in LANG_P]), rng.random()))][0]
            words = _doc_words(rng, lang)
            if rng.random() < boiler_rate:
                words = words + BOILERPLATE[rng.integers(0, 3)].split(" ")
                kind = "boiler"
        texts.append(" ".join(words))
        langs.append(lang)
        kinds.append(kind)
    _write(dirpath, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    k = 10
    centers = rng.normal(0.0, 1.0, (k, dim))
    labels = rng.integers(0, k, n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(dirpath, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    rates = {kind: kinds.count(kind) / n_docs
             for kind in ("exact", "near", "boiler", "fresh")}
    return {"docs": n_docs, "vecs": n_vecs, "dim": dim, "rates": rates}


def stream_schedule(dirpath, seed, rungs, rung_ms, n_docs):
    """The open-loop schedule: for each rung rate (docs/s) in ``rungs``, the
    documents due during its ``rung_ms`` window at fixed spacing, in a seeded
    order over the corpus in ``dirpath``. Writes schedule.parquet with
    (rung, due_ms, doc_id); due_ms counts from the rung's start."""
    rng = seeded_rng(seed, 4)
    rows_rung, rows_due, rows_doc = [], [], []
    next_id = 0
    order = rng.permutation(n_docs)
    for r, rate in enumerate(rungs):
        count = int(rate * rung_ms / 1000)
        for j in range(count):
            rows_rung.append(r)
            rows_due.append(int(j * 1000 / rate))
            rows_doc.append(int(order[next_id % n_docs]))
            next_id += 1
    _write(dirpath, "schedule", {
        "rung": pa.array(np.array(rows_rung, dtype=np.int32)),
        "due_ms": pa.array(np.array(rows_due, dtype=np.int64)),
        "doc_id": pa.array(np.array(rows_doc, dtype=np.int64))})
    return {"rungs": list(rungs), "rung_ms": rung_ms, "rows": len(rows_doc)}


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")
