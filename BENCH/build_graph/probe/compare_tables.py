#!/usr/bin/env python3
"""Compare the indexes TablesProbe wrote on two trees: rows of every
table of every data segment (as multisets, via DuckDB) and the newest
manifest apart from its metrics map."""
import glob, json, os, sys
import duckdb

a, b = sys.argv[1], sys.argv[2]
con = duckdb.connect()
bad = 0


def manifest(d):
    fs = sorted(glob.glob(f"{d}/manifest-*.json"))
    return json.load(open(fs[-1]))


for idx in ["base", "sect", "tokidx", "append", "folds", "m16k"]:
    ma, mb = manifest(f"{a}/{idx}"), manifest(f"{b}/{idx}")
    ra = {k: v for k, v in ma.items() if k != "metrics"}
    rb = {k: v for k, v in mb.items() if k != "metrics"}
    same_meta = ra == rb
    if not same_meta:
        bad += 1
        print(f"{idx}: MANIFEST DIFFERS", {k: (ra.get(k), rb.get(k)) for k in set(ra) | set(rb) if ra.get(k) != rb.get(k)})
    segs = ma["segments"]
    if all(s in ("postings", "terms", "docs") for s in segs):
        segs = ["."]
    for seg in segs:
        for t in ["postings", "terms", "terms_rev", "docs"]:
            pa = f"{a}/{idx}/{seg}/{t}/*.parquet"
            pb = f"{b}/{idx}/{seg}/{t}/*.parquet"
            na = con.execute(f"select count(*) from read_parquet('{pa}')").fetchone()[0]
            nb = con.execute(f"select count(*) from read_parquet('{pb}')").fetchone()[0]
            d1 = con.execute(f"select count(*) from (select * from read_parquet('{pa}') except all select * from read_parquet('{pb}'))").fetchone()[0]
            d2 = con.execute(f"select count(*) from (select * from read_parquet('{pb}') except all select * from read_parquet('{pa}'))").fetchone()[0]
            fa, fb = len(glob.glob(pa)), len(glob.glob(pb))
            ok = na == nb and d1 == 0 and d2 == 0
            bad += 0 if ok else 1
            print(f"{idx:7s} {seg:14s} {t:9s} rows {na:7d} / {nb:7d}  only-parent {d1} only-change {d2}  files {fa} / {fb}  {'SAME' if ok else 'DIFF'}")
    print(f"{idx}: manifest apart from metrics {'equal' if same_meta else 'DIFFERS'}")
print("ALL SAME" if bad == 0 else f"{bad} DIFFERENCES")
