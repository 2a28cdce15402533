#!/usr/bin/env python3
"""INDEPENDENT plain-Python recompute of the two sketch goldens (q15 HLL++
approx-distinct, q69 count-min point estimates) — the gen_lsh_goldens.py
pattern applied to the sketches.

Both algorithms are published constructions, re-executed here from scratch:

- q15: HyperLogLog++ (Heule/Nunkesser/Hall, EDBT'13). xxHash64 (Collet's
  public spec, 8-byte specialization) with the engine's seed 42; precision
  p = ceil(2·ln(1.106/rsd)/ln 2) = 9 at the default rsd 0.05; register
  index = top p hash bits, rho = leading-zeros of (hash << p | 1<<(p-1))
  + 1; estimate = linear counting below the published thresholds, else the
  bias-corrected harmonic mean, with the paper's k-nearest-neighbor (k=6)
  bias interpolation over its published appendix tables
  (tools/hllpp_constants.json — algorithm constants, same in every
  faithful implementation, shared like the seed is).
- q69: count-min (Cormode/Muthukrishnan '05) with width = ceil(2/eps),
  depth = ceil(-ln(1-confidence)/ln 2), per-row bucket hash
  h = a_i·x; h += h>>32; h &= 0x7fffffff; h % width, where the a_i are the
  first `depth` draws of java.util.Random(seed).nextInt(2^31 - 1) (the
  JDK LCG, re-implemented below) — the engine's published parameterization,
  estimates = min over rows.

Every arithmetic step is integer or IEEE-double-exact, so agreement with
the engine is bit-exact, not approximate. One golden file serves every
scale factor via exact corpus_tag/corpus_n checksums (computed here from
the parquet inputs directly, not taken from the engine).

Usage: python3 tools/gen_sketch_goldens.py [extra_corpus_dir ...]
Extra dirs (e.g. the sf1-densified /tmp/graft_sf1 staged by
graft.tools.StageSf1; tables may be directory-shaped parquet) are appended
to the fixture list so the goldens also carry the densified corpus tags —
the sf1 point is then value-checked too.
The count-min table build runs through numpy uint64 for the densified
volumes (wrapping mod-2^64 arithmetic — the identical integers the scalar
loop computes, asserted against it on a sample per corpus).
"""
import json
import math
import os
import pathlib
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = pathlib.Path(__file__).resolve().parent.parent
SFS = ["sf0.001", "sf0.01", "sf0.1"]
M64 = (1 << 64) - 1


# ---------------------------------------------------------------- xxHash64
# Public xxHash64 spec (Yann Collet), specialized to one 8-byte little-endian
# block — the layout Spark's XxHash64 feeds a LongType value through.
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & M64


def xxhash64_long(value, seed):
    h = (seed + P5 + 8) & M64
    k1 = (_rotl((value & M64) * P2 & M64, 31) * P1) & M64
    h ^= k1
    h = (_rotl(h, 27) * P1 + P4) & M64
    h ^= h >> 33
    h = (h * P2) & M64
    h ^= h >> 29
    h = (h * P3) & M64
    h ^= h >> 32
    return h


# ------------------------------------------------------------------ HLL++
CONSTS = json.loads((REPO / "tools" / "hllpp_constants.json").read_text())
HLL_P = CONSTS["p"]
HLL_M = 1 << HLL_P
HLL_K = CONSTS["k"]
THRESHOLD = CONSTS["thresholds"][HLL_P - 4]
RAW_EST = CONSTS["raw_estimate"]
BIAS = CONSTS["bias"]
# alpha per the paper: 0.7213/(1 + 1.079/m) for m >= 128
ALPHA_M2 = 0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M


def _nlz64(x):
    return 64 - x.bit_length() if x else 64


def _estimate_bias(e):
    # k-nearest interpolation over the sorted published raw-estimate row:
    # slide a k-wide window to the k points nearest e, average their biases.
    import bisect
    i = bisect.bisect_left(RAW_EST, e)
    low = max(i - HLL_K + 1, 0)
    high = min(low + HLL_K, len(RAW_EST))
    while high < len(RAW_EST) and (e - RAW_EST[high]) ** 2 < (e - RAW_EST[low]) ** 2:
        low += 1
        high += 1
    return sum(BIAS[low:high]) / (high - low)


def hllpp_estimate(values, seed=42):
    regs = [0] * HLL_M
    for v in values:
        h = xxhash64_long(v, seed)
        idx = h >> (64 - HLL_P)
        w = ((h << HLL_P) & M64) | (1 << (HLL_P - 1))
        rho = _nlz64(w) + 1
        if rho > regs[idx]:
            regs[idx] = rho
    z_inverse = 0.0
    zeros = 0.0
    for r in regs:
        z_inverse += 1.0 / (1 << r)
        if r == 0:
            zeros += 1.0
    e = ALPHA_M2 / z_inverse

    def bias_corrected(e):
        return e - _estimate_bias(e) if HLL_P < 19 and e < 5.0 * HLL_M else e

    if zeros > 0:
        h = HLL_M * math.log(HLL_M / zeros)
        est = h if ((HLL_P < 19 and h <= THRESHOLD) or e <= 2.5 * HLL_M) \
            else bias_corrected(e)
    else:
        est = bias_corrected(e)
    # Math.round: floor(x + 0.5) for doubles
    return int(math.floor(est + 0.5))


# -------------------------------------------------------------- count-min
class JavaRandom:
    """java.util.Random — the documented 48-bit LCG, incl. the
    non-power-of-two nextInt rejection loop."""

    def __init__(self, seed):
        self.seed = (seed ^ 0x5DEECE66D) & ((1 << 48) - 1)

    def _next31(self):
        # next(31): (int)(seed >>> 17) — a 31-bit value, always non-negative
        self.seed = (self.seed * 0x5DEECE66D + 0xB) & ((1 << 48) - 1)
        return self.seed >> 17

    def next_int(self, bound):
        m = bound - 1
        if bound & m == 0:  # power of two
            return (bound * self._next31()) >> 31
        # for (int u = r; u - (r = u % bound) + m < 0; u = next(31));
        # the `< 0` is 32-bit signed overflow of u - r + m
        u = self._next31()
        while True:
            r = u % bound
            if (u - r + m) < (1 << 31):  # no int32 overflow → accept
                return r
            u = self._next31()


def cms_estimates(values, probes, eps=0.001, confidence=0.99, seed=42):
    width = math.ceil(2.0 / eps)
    depth = math.ceil(-math.log1p(-confidence) / math.log(2.0))
    rng = JavaRandom(seed)
    hash_a = [rng.next_int(2147483647) for _ in range(depth)]

    def bucket(x, i):
        h = (hash_a[i] * x) & M64
        # h += h >> 32 (ARITHMETIC shift on the signed 64-bit value)
        signed = h - (1 << 64) if h >= (1 << 63) else h
        signed = signed + (signed >> 32)
        h = signed & M64
        h &= 0x7FFFFFFF
        return h % width

    # numpy uint64 fast path for the table build: a*x wraps mod 2^64 exactly
    # like the scalar `& M64`; the arithmetic-shift add may overflow int64,
    # which also wraps mod 2^64 — the same reduction the scalar code applies
    # explicitly. The probe-side buckets below still use the scalar bucket()
    # and the first 4096 values are asserted equal, so the two formulations
    # cannot drift silently.
    xs = np.asarray(values, dtype=np.uint64)
    table = []
    for i in range(depth):
        h = xs * np.uint64(hash_a[i])                      # mod 2^64
        signed = h.astype(np.int64)
        signed = signed + (signed >> np.int64(32))         # wraps = & M64
        b = (signed.astype(np.uint64) & np.uint64(0x7FFFFFFF)) % np.uint64(width)
        sample = values[:4096]
        assert [bucket(x, i) for x in sample] == [int(v) for v in b[:4096]],             "numpy CMS bucket path diverged from the scalar definition"
        table.append(np.bincount(b.astype(np.int64), minlength=width))
    return {p: min(int(table[i][bucket(p, i)]) for i in range(depth)) for p in probes}


# ------------------------------------------------------------------- main
SCHEMAS = {
    "q15_approx_distinct": pa.schema(
        [("corpus_tag", pa.int64()), ("corpus_n", pa.int64()),
         ("u_approx", pa.int64())]),
    "q69_sketch_cms": pa.schema(
        [("corpus_tag", pa.int64()), ("corpus_n", pa.int64()),
         ("l_suppkey", pa.int64()), ("est", pa.int64())]),
}


def column(sfdir, table, col):
    # pyarrow reads both single-file and Spark directory-shaped parquet
    t = pq.read_table(f"{sfdir}/{table}.parquet", columns=[col])
    return [v for v in t.column(col).to_pylist() if v is not None]


def main():
    dirs = [f"/root/testdata/{sf}" for sf in SFS]
    for d in sys.argv[1:]:
        if not os.path.exists(d):
            sys.exit(f"extra corpus dir not found: {d} — stage it first "
                     f"(graft.tools.StageSf1 stages /tmp/graft_sf1)")
        dirs.append(d)
    q15_rows = []
    q69_rows = []
    for sf in dirs:
        cust = column(sf, "orders", "o_custkey")
        q15_rows.append({"corpus_tag": sum(cust), "corpus_n": len(cust),
                         "u_approx": hllpp_estimate(cust)})
        print(f"{sf}: q15 u_approx={q15_rows[-1]['u_approx']} "
              f"(exact={len(set(cust))})")
        supp = column(sf, "lineitem", "l_suppkey")
        ests = cms_estimates(supp, list(range(1, 21)))
        true = {p: sum(1 for v in supp if v == p) for p in ests}
        assert all(ests[p] >= true[p] for p in ests), "CMS must over-count"
        q69_rows.extend(
            {"corpus_tag": sum(supp), "corpus_n": len(supp),
             "l_suppkey": p, "est": ests[p]} for p in sorted(ests))
        print(f"{sf}: q69 over-count total={sum(ests.values()) - sum(true.values())}")
    for name, rows in [("q15_approx_distinct", q15_rows),
                       ("q69_sketch_cms", q69_rows)]:
        table = pa.Table.from_pylist(rows, schema=SCHEMAS[name])
        dest = REPO / "goldens" / f"{name}.parquet"
        pq.write_table(table, dest)
        print(f"wrote {dest}: {table.num_rows} rows")


if __name__ == "__main__":
    main()
