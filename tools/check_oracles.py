#!/usr/bin/env python3
"""Dev harness: replicate the driver's DuckDB-oracle correctness check
locally. Usage: check_oracles.py <sfdir> <verify_out_dir> [--partial] [--json out].
--partial marks a FILTERED Verify dump: oracles without a dump dir are
skipped instead of failed (full-dump mode counts a missing dir as a failure).

For each query with an oracle: run the SQL in DuckDB over the sf parquet
tables, load the Spark result parquet, align columns by sorted name, compare
row-by-row with exact equality (floats: bitwise via repr, plus a 1e-9 relative
fallback report so near-misses are diagnosable).

TYPE-SENSITIVE like the driver: the DuckDB side is fetched THROUGH ARROW
(`.arrow().to_pylist()`), not `fetchall()`. DuckDB SUM(BIGINT) returns
HUGEINT, which Arrow surfaces as decimal128 -> Python Decimal('n'); a
type-blind fetchall() coerces it to int and silently green-lights an oracle
the driver's Arrow-typed hash will fail (this exact divergence shipped the
round-6 q111 red row). repr()-canonicalization preserves the Decimal-vs-int
distinction, so any uncast integer aggregate now fails locally too.
"""
import json
import math
import os
import sys

import duckdb
import pyarrow.parquet as pq
import pyarrow.dataset as ds

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)


def main():
    # optional: --json <path> writes a per-query {"name": "pass"/"<kind>"}
    # machine-readable verdict (e.g. the golden value-check of the
    # sf1-densified corpus graft.tools.StageSf1 stages under /tmp/graft_sf1)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    json_out = None
    if "--json" in sys.argv:
        json_out = sys.argv[sys.argv.index("--json") + 1]
        args = [a for a in args if a != json_out]
    partial = "--partial" in sys.argv  # filtered Verify dump: missing dirs skip
    sfdir, outdir = args[0], args[1]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.isdir(p):  # Spark writes directory-shaped parquet
            p = f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    verdicts = {}
    for name, sql in sorted(oracles.items()):
        # a missing dump dir is only a legitimate skip under an explicit
        # --partial flag (a FILTERED Verify re-dump); in full-dump mode a
        # query that crashed before writing its dump must read as a
        # FAILURE, not silently as "not checked" (ADVICE r12)
        if not os.path.exists(f"{outdir}/{name}"):
            if partial:
                continue
            print(f"MISSING    {name}: no dump dir under {outdir}")
            n_fail += 1
            verdicts[name] = "missing-dump"
            continue
        try:
            want_t = con.sql(sql).arrow()
            want_names = sorted(want_t.column_names)
            wcols = {c: want_t.column(c).to_pylist() for c in want_t.column_names}
            want_rows = (list(zip(*[wcols[c] for c in want_names]))
                         if want_t.num_rows else [])
        except Exception as e:
            print(f"ORACLE-ERR {name}: {str(e)[:200]}")
            n_fail += 1
            verdicts[name] = "oracle-err"
            continue
        try:
            got_t = ds.dataset(f"{outdir}/{name}").to_table()
            got_names = sorted(got_t.column_names)
            cols = {c: got_t.column(c).to_pylist() for c in got_t.column_names}
            got_rows = list(zip(*[cols[c] for c in got_names])) if got_t.num_rows else []
        except Exception as e:
            print(f"READ-ERR   {name}: {str(e)[:200]}")
            n_fail += 1
            verdicts[name] = "read-err"
            continue
        if want_names != got_names:
            print(f"SCHEMA     {name}: oracle={want_names} spark={got_names}")
            n_fail += 1
            verdicts[name] = "schema-mismatch"
            continue
        if len(want_rows) != len(got_rows):
            print(f"ROWCOUNT   {name}: oracle={len(want_rows)} spark={len(got_rows)}")
            n_fail += 1
            verdicts[name] = "rowcount-mismatch"
            continue
        bad = None
        for i, (w, g) in enumerate(zip(want_rows, got_rows)):
            cw = tuple(canon(x) for x in w)
            cg = tuple(canon(x) for x in g)
            if cw != cg:
                bad = (i, w, g)
                break
        if bad:
            i, w, g = bad
            print(f"VALUE      {name}: row {i}\n  oracle: {w}\n  spark : {g}")
            # float near-miss diagnostic: max relative error across the
            # row's float fields, so "last-ULP drift" (route the column
            # through graft.functions.Exact / mirror the oracle's
            # expression shape) is distinguishable from "wrong answer"
            rel = [abs(a - b) / max(abs(a), abs(b), 1e-300)
                   for a, b in zip(w, g)
                   if isinstance(a, float) and isinstance(b, float)
                   and not (math.isnan(a) or math.isnan(b)) and a != b]
            if rel:
                near = "float near-miss (ULP drift)" if max(rel) < 1e-9 \
                    else "genuine value divergence"
                print(f"  max relative float error {max(rel):.3e} -> {near}")
            n_fail += 1
            verdicts[name] = "value-mismatch"
        else:
            print(f"PASS       {name} ({len(got_rows)} rows)")
            n_pass += 1
            verdicts[name] = "pass"
    no_oracle = sorted(set(
        p.split('/')[-1] for p in __import__('glob').glob(f"{outdir}/q*")) - set(oracles))
    print(f"\n{n_pass} pass, {n_fail} fail; rows-only (no oracle): {no_oracle}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sfdir": sfdir, "verdicts": verdicts}, f, indent=1,
                      sort_keys=True)
            f.write("\n")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
