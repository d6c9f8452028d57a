#!/usr/bin/env python3
"""Local pre-validation harness mimicking the driver's DuckDB oracle compare.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>
                                [--digests OUT.json] [--against OLD.json]

For each <name>.parquet under verifyOutDir (written by graft.Verify), runs
the matching SQL from oracle_sql.json in DuckDB over the sfDir tables, then
compares: row count, column names (sorted), and a value hash over
column-name-sorted rows (both in emitted order and row-sorted, to surface
ordering issues separately).

--digests writes one SHA-256 per query output dir, over the same canonical
rows (column-name-sorted, cells as compared above) in emitted order, for
oracle-checked and rows-only queries alike. --against compares those
digests with an earlier --digests file and fails on any difference: the
byte-identity gate for queries the oracle cannot check (trained indexes,
tokenizers).
"""
import sys, os, json, glob, math, hashlib, argparse

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df


def cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def frame_rows(df: pd.DataFrame):
    return [tuple(cell(v) for v in row) for row in df.itertuples(index=False)]


def digest(df: pd.DataFrame) -> dict:
    """SHA-256 over the header and the canonical rows, emitted order."""
    g = canon(df)
    rows = frame_rows(g)
    h = hashlib.sha256("\x1f".join(g.columns).encode())
    for r in rows:
        h.update(("\n" + "\x1f".join(r)).encode())
    s = hashlib.sha256("\n".join("\x1f".join(r) for r in sorted(rows))
                       .encode())
    return {"rows": len(rows), "sha256": h.hexdigest(),
            "sha256_sorted": s.hexdigest()}


def compare_digests(got: dict, old: dict) -> int:
    """Print every query whose digest differs from `old`; return the count."""
    diffs = 0
    for name in sorted(set(got) | set(old)):
        a, b = got.get(name), old.get(name)
        if a is None or b is None:
            print(f"  {name:24s} DIGEST {'MISSING' if a is None else 'NEW'}")
        elif a["sha256"] != b["sha256"]:
            kind = "ORDER-ONLY" if a["sha256_sorted"] == b["sha256_sorted"] \
                else f"VALUE ({b['rows']} -> {a['rows']} rows)"
            print(f"  {name:24s} DIGEST DIFFERS: {kind}")
        else:
            continue
        diffs += 1
    print(f"digests: {len(got)} computed, "
          f"{'ALL IDENTICAL' if diffs == 0 else f'{diffs} DIFFER'}")
    return diffs


def main(sf_dir, out_dir, digests_out=None, against=None):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    fails = 0
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    # a query that threw inside Verify writes no output dir: count it as a
    # failure instead of silently skipping it (queries.json covers rows-only
    # queries that have no oracle entry)
    declared = set(oracle)
    qj = os.path.join(out_dir, "queries.json")
    if os.path.exists(qj):
        declared |= set(json.load(open(qj)))
    missing = sorted(declared - set(names))
    for name in missing:
        print(f"  {name:24s} MISSING OUTPUT (query threw in Verify?)")
        fails += 1
    digests = {}
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)]) \
            if files else pd.DataFrame()
        digests[name] = digest(got)
        if name not in oracle:
            print(f"  {name:24s} rows-only: {len(got)} rows "
                  f"{'OK' if len(got) > 0 else 'EMPTY!'}")
            if len(got) == 0:
                fails += 1
            continue
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"  {name:24s} ORACLE SQL ERROR: {e}")
            fails += 1
            continue
        g, w = canon(got), canon(want)
        ok = True
        if list(g.columns) != list(w.columns):
            print(f"  {name:24s} COLUMN MISMATCH spark={list(g.columns)} "
                  f"duck={list(w.columns)}")
            ok = False
        elif len(g) != len(w):
            print(f"  {name:24s} ROWCOUNT MISMATCH spark={len(g)} duck={len(w)}")
            ok = False
        else:
            gr, wr = frame_rows(g), frame_rows(w)
            if gr != wr:
                if sorted(gr) == sorted(wr):
                    print(f"  {name:24s} ORDER-ONLY MISMATCH (values match "
                          f"when row-sorted)")
                else:
                    bad = next(i for i, (a, b) in enumerate(zip(sorted(gr),
                               sorted(wr))) if a != b)
                    print(f"  {name:24s} VALUE MISMATCH first at sorted row "
                          f"{bad}:\n    spark={sorted(gr)[bad]}\n    "
                          f"duck ={sorted(wr)[bad]}")
                ok = False
        if ok:
            print(f"  {name:24s} OK ({len(g)} rows)")
        else:
            fails += 1
    print(f"{'ALL PASS' if fails == 0 else f'{fails} FAILURES'}")
    if digests_out:
        with open(digests_out, "w") as f:
            json.dump(digests, f, indent=1, sort_keys=True)
    if against and compare_digests(digests, json.load(open(against))):
        fails += 1
    return 1 if fails else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--digests", metavar="OUT.json",
                    help="write one SHA-256 per query output")
    ap.add_argument("--against", metavar="OLD.json",
                    help="fail on any digest that differs from OLD.json")
    a = ap.parse_args()
    sys.exit(main(a.sf_dir, a.out_dir, a.digests, a.against))
