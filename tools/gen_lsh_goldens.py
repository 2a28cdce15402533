#!/usr/bin/env python3
"""Independent recompute of the engine-hash LSH queries (q41/q42/q46/q56).

Reimplements — in plain Python, sharing zero code with the engine — the
published algorithms the Scala expressions use:

  * scala.util.hashing.MurmurHash3.stringHash (UTF-16 pairwise mix)
  * java.util.Random (48-bit LCG: nextInt(bound), nextDouble, nextGaussian)
  * MinHash banding (TextSignatures.minhashBands): 64 universal hashes
    (a_i*h+b_i mod 2^31-1) over distinct k=5 char shingles, folded into
    8 bands of 8 rows
  * SimHash64: per-bit vote over a 64-bit two-pass murmur token hash
  * sign-random-projection LSH buckets (LshBucket.hyperplanes, seed 42)
  * double cosine with index-order accumulation; Spark HALF_UP rounding

and then runs the four declared pipelines over every fixture scale factor,
writing one golden parquet per query under goldens/.  Each row carries a
`corpus_tag` (an exact integer checksum of the input table) so ONE golden
file serves every scale factor: the DuckDB oracle selects the rows whose
tag matches the corpus it is looking at.

This is the reference repo's golden-fixture pattern
(tests/test_statline_bq.py:206-209) applied to the four queries whose
results depend on engine-seeded hashes and thus cannot be expressed in
DuckDB SQL directly.  Regenerate with:  python3 tools/gen_lsh_goldens.py
[extra_corpus_dir ...] — extra dirs (e.g. the sf1-densified /tmp/graft_sf1
staged by graft.tools.StageSf1, whose tables may be directory-shaped
parquet) are appended to the fixture list, so the goldens ALSO carry the
densified corpus tags and the sf1 point is value-checked too.

The per-shingle 64-hash MinHash fold runs through numpy int64 (exact: a*h
<= (2^31)^2 < 2^63, so no wraparound before the mod) and the SimHash bit
votes through a per-distinct-token numpy cache — same integers, computed
in bulk; regeneration reproduces the previously committed rows bit-exactly
(asserted by the regeneration runbook in FIXTURES.md).
"""
import math
import os
import re
import sys
from decimal import Decimal, ROUND_HALF_UP

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "goldens")

MASK32 = 0xFFFFFFFF
MASK64 = 0xFFFFFFFFFFFFFFFF


# ----------------------------------------------------------- murmur3 (scala)
def _rotl32(x, r):
    return ((x << r) | (x >> (32 - r))) & MASK32


def _mix(h, k):
    k = (k * 0xCC9E2D51) & MASK32
    k = _rotl32(k, 15)
    k = (k * 0x1B873593) & MASK32
    h ^= k
    h = _rotl32(h, 13)
    return (h * 5 + 0xE6546B64) & MASK32


def _mix_last(h, k):
    k = (k * 0xCC9E2D51) & MASK32
    k = _rotl32(k, 15)
    k = (k * 0x1B873593) & MASK32
    return h ^ k


def _fmix(h):
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & MASK32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & MASK32
    h ^= h >> 16
    return h


def murmur3_string(s, seed=0xF7CA7FD2):
    """scala.util.hashing.MurmurHash3.stringHash: chars mixed in pairs."""
    h = seed & MASK32
    i = 0
    n = len(s)
    while i + 1 < n:
        h = _mix(h, ((ord(s[i]) << 16) + ord(s[i + 1])) & MASK32)
        i += 2
    if i < n:
        h = _mix_last(h, ord(s[i]))
    h = _fmix(h ^ n)
    return h - (1 << 32) if h >= (1 << 31) else h  # signed 32-bit


# ------------------------------------------------------- java.util.Random
class JavaRandom:
    MULT = 0x5DEECE66D
    ADD = 0xB
    MASK48 = (1 << 48) - 1

    def __init__(self, seed):
        self.seed = (seed ^ self.MULT) & self.MASK48
        self.next_gaussian = None

    def _next(self, bits):
        self.seed = (self.seed * self.MULT + self.ADD) & self.MASK48
        r = self.seed >> (48 - bits)
        # java's (int) cast sign-extends at 32 bits only; fewer bits stay positive
        return r - (1 << 32) if bits == 32 and r >= (1 << 31) else r

    def next_int_bound(self, bound):
        if (bound & -bound) == bound:  # power of two
            return (bound * self._next(31)) >> 31
        while True:
            bits = self._next(31)
            val = bits % bound
            # java's int-overflow retry check
            if not (bits - val + (bound - 1) > 0x7FFFFFFF):
                return val

    def next_double(self):
        return ((self._next(26) << 27) + self._next(27)) * (2.0 ** -53)

    def gaussian(self):
        if self.next_gaussian is not None:
            g, self.next_gaussian = self.next_gaussian, None
            return g
        while True:
            v1 = 2 * self.next_double() - 1
            v2 = 2 * self.next_double() - 1
            s = v1 * v1 + v2 * v2
            if 0 < s < 1:
                break
        m = math.sqrt(-2 * math.log(s) / s)
        self.next_gaussian = v2 * m
        return v1 * m


# ----------------------------------------------------- shared engine math
def spark_round(x, d):
    """Spark's ROUND(double, d): HALF_UP on the shortest-decimal repr."""
    if x != x:  # NaN
        return x
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-d), rounding=ROUND_HALF_UP))


def cosine(a, b):
    """Index-order double accumulation — matches CosineSimilarity exactly."""
    n = min(len(a), len(b))
    dot = nx = ny = 0.0
    for i in range(n):
        x, y = a[i], b[i]
        dot += x * y
        nx += x * x
        ny += y * y
    return dot / (math.sqrt(nx) * math.sqrt(ny))


# --------------------------------------------------------------- minhash
NUM_HASHES, BANDS, ROWS_PER_BAND = 64, 8, 8
MERSENNE = 2147483647

_rnd = JavaRandom(42)
COEFF_A, COEFF_B = [], []
for _ in range(NUM_HASHES):
    COEFF_A.append(_rnd.next_int_bound(0x7FFFFFFF - 1) + 1)
    COEFF_B.append(_rnd.next_int_bound(0x7FFFFFFF))


def shingle_set(s, k):
    n = max(len(s) - k + 1, 1)
    return {s[i:min(i + k, len(s))] for i in range(n)}


_A_NP = np.array(COEFF_A, dtype=np.int64)
_B_NP = np.array(COEFF_B, dtype=np.int64)


def minhash_bands(text, k):
    # exact int64 vectorization of the committed scalar fold: every shingle
    # hash h < 2^31 and every a_j < 2^31, so a_j*h + b_j < 2^62 + 2^31 fits
    # int64 with no wraparound before the mod — identical integers, computed
    # in one (n_shingles, 64) pass (needed once the densified corpus joined
    # the fixture list; regeneration reproduces the committed rows bit-exact)
    hs = np.array([murmur3_string(sh) & 0x7FFFFFFF for sh in shingle_set(text, k)],
                  dtype=np.int64)
    if hs.size:
        sig = ((hs[:, None] * _A_NP[None, :] + _B_NP[None, :]) % MERSENNE).min(axis=0)
    else:  # unreachable (shingle_set is never empty) — kept for parity
        sig = np.full(NUM_HASHES, MERSENNE + 1, dtype=np.int64)
    bands = []
    for b in range(BANDS):
        h = 1125899906842597
        for r in range(ROWS_PER_BAND):
            h = (h * 31 + int(sig[b * ROWS_PER_BAND + r])) & MASK64
        bands.append(h)
    return bands


def jaccard(ta, tb, k):
    sa, sb = shingle_set(ta, k), shingle_set(tb, k)
    inter = len(sa & sb)
    union = len(sa) + len(sb) - inter
    return 1.0 if union == 0 else inter / union


def q41(docs, k=5, threshold=0.5):
    buckets = {}
    for did, text in docs:
        for band, bh in enumerate(minhash_bands(text, k)):
            buckets.setdefault((band, bh), []).append(did)
    cands = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cands.add((ids[i], ids[j]))
    texts = dict(docs)
    out = []
    for a, b in sorted(cands):
        jc = jaccard(texts[a], texts[b], k)
        if jc >= threshold:  # filter on RAW jaccard, round after (as q41 does)
            out.append((a, b, spark_round(jc, 4)))
    return out


# --------------------------------------------------------------- simhash
_TOKEN_VOTE_CACHE = {}
_BIT_IDX = np.arange(64, dtype=np.uint64)


def _token_votes(t):
    """The token's ±1 vote vector (cached per distinct token — the corpus
    repeats tokens heavily, and the densified fixtures 10x the volume)."""
    v = _TOKEN_VOTE_CACHE.get(t)
    if v is None:
        h = ((murmur3_string(t, 0x9747B28C) << 32)
             | (murmur3_string(t, 0x5BD1E995) & MASK32)) & MASK64
        bits = (np.uint64(h) >> _BIT_IDX) & np.uint64(1)
        v = np.where(bits == 1, 1, -1).astype(np.int64)
        _TOKEN_VOTE_CACHE[t] = v
    return v


def simhash64(tokens):
    votes = np.zeros(64, dtype=np.int64)
    for t in tokens:
        votes += _token_votes(t)
    sig = 0
    for j in range(64):
        if votes[j] > 0:
            sig |= 1 << j
    return sig  # unsigned 64-bit representation


def q113(docs, k=5, threshold=0.5):
    """Incremental minhash gate: corpus = doc_id % 5 != 0, increment =
    doc_id % 5 == 0; banded candidates ACROSS the split only, exact-Jaccard
    verified — the plain-Python recompute of Dedup.incrementalMinhashMatches
    over the q113 slice definition."""
    old_docs = [(d, t) for d, t in docs if d % 5 != 0]
    new_docs = [(d, t) for d, t in docs if d % 5 == 0]
    buckets = {}
    for did, text in old_docs:
        for band, bh in enumerate(minhash_bands(text, k)):
            buckets.setdefault((band, bh), []).append(did)
    cands = set()
    for did, text in new_docs:
        for band, bh in enumerate(minhash_bands(text, k)):
            for old in buckets.get((band, bh), ()):
                cands.add((old, did))
    texts = dict(docs)
    out = []
    for old, new in sorted(cands):
        jc = jaccard(texts[old], texts[new], k)
        if jc >= threshold:  # filter on RAW jaccard, round after (as q41 does)
            out.append((old, new, spark_round(jc, 4)))
    return out


def q42(docs, max_dist=3):
    sigs = [(did, simhash64(re.split(" +", text.strip()))) for did, text in docs]
    buckets = {}
    for did, sig in sigs:
        for c in range(4):
            buckets.setdefault((c, (sig >> (16 * c)) & 0xFFFF), []).append((did, sig))
    out = {}
    for entries in buckets.values():
        entries = sorted(entries)
        for i in range(len(entries)):
            for j in range(i + 1, len(entries)):
                (a, sa), (b, sb) = entries[i], entries[j]
                d = bin(sa ^ sb).count("1")
                if d <= max_dist:
                    out[(a, b)] = d
    return [(a, b, d) for (a, b), d in sorted(out.items())]


# ----------------------------------------------------------- LSH buckets
def hyperplanes(n_planes, dim, seed=42):
    r = JavaRandom(seed)
    return [[r.gaussian() for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec, planes, dim):
    n = min(dim, len(vec))
    bucket = 0
    for p, plane in enumerate(planes):
        dot = 0.0
        for i in range(n):
            dot += vec[i] * plane[i]
        if dot > 0:
            bucket |= 1 << p
    return bucket


def q46(embs, k=3, n_planes=8):
    dim = len(embs[0][1])
    planes = hyperplanes(n_planes, dim)
    bucketed = [(vid, vec, lsh_bucket(vec, planes, dim)) for vid, vec in embs]
    queries = [(v, vec, b) for v, vec, b in bucketed if v <= 5]
    out = []
    for q_id, qv, qb in sorted(queries):
        scored = [(spark_round(cosine(qv, nv), 6), n_id)
                  for n_id, nv, nb in bucketed if nb == qb and n_id != q_id]
        scored = [(s, n) for s, n in scored if s == s]  # TopKByScore skips NaN
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rnk, (sim, n_id) in enumerate(scored[:k], start=1):
            out.append((q_id, rnk, n_id, sim))
    return out


def q56(embs, min_sim=0.3, n_planes=8):
    dim = len(embs[0][1])
    planes = hyperplanes(n_planes, dim)
    buckets = {}
    for vid, vec in embs:
        buckets.setdefault(lsh_bucket(vec, planes, dim), []).append((vid, vec))
    out = []
    for members in buckets.values():
        members = sorted(members)
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                (a, va), (b, vb) = members[i], members[j]
                sim = spark_round(cosine(va, vb), 6)  # round THEN filter (as q56 does)
                if sim >= min_sim:
                    out.append((a, b, sim))
    return sorted(out)


# ------------------------------------------------------------------ main
def main():
    import duckdb

    os.makedirs(OUT_DIR, exist_ok=True)
    dirs = SF_DIRS + [d for d in sys.argv[1:] if os.path.exists(d)]
    missing = [d for d in sys.argv[1:] if not os.path.exists(d)]
    if missing:
        sys.exit(f"extra corpus dir(s) not found: {missing} — stage them "
                 f"first (graft.tools.StageSf1 stages /tmp/graft_sf1)")

    def rp(sf, table):  # Spark-staged tables are directory-shaped parquet
        p = f"{sf}/{table}.parquet"
        return f"{p}/*.parquet" if os.path.isdir(p) else p

    acc = {q: [] for q in ("q41", "q42", "q46", "q56", "q113")}
    for sf in dirs:
        docs = duckdb.sql(
            f"SELECT doc_id, text FROM '{rp(sf, 'documents')}' ORDER BY doc_id").fetchall()
        embs = [(vid, [float(x) for x in vec]) for vid, vec in duckdb.sql(
            f"SELECT vec_id, embedding FROM '{rp(sf, 'embeddings')}' ORDER BY vec_id").fetchall()]
        doc_tag = sum(len(t.encode("utf-8")) * (d + 1) for d, t in docs)
        emb_tag = sum((v + 1) * math.floor(vec[0] * 1048576) for v, vec in embs)
        acc["q41"] += [(doc_tag, a, b, jc) for a, b, jc in q41(docs)]
        acc["q42"] += [(doc_tag, a, b, h) for a, b, h in q42(docs)]
        acc["q113"] += [(doc_tag, o, n, jc) for o, n, jc in q113(docs)]
        acc["q46"] += [(emb_tag, q, r, n, s) for q, r, n, s in q46(embs)]
        acc["q56"] += [(emb_tag, a, b, s) for a, b, s in q56(embs)]
        print(f"{sf}: doc_tag={doc_tag} emb_tag={emb_tag} "
              f"q41={len(acc['q41'])} q42={len(acc['q42'])} q46={len(acc['q46'])} "
              f"q56={len(acc['q56'])} q113={len(acc['q113'])} (cumulative)")

    schemas = {
        "q41": pa.schema([("corpus_tag", pa.int64()), ("a", pa.int64()),
                          ("b", pa.int64()), ("jaccard", pa.float64())]),
        "q42": pa.schema([("corpus_tag", pa.int64()), ("a", pa.int64()),
                          ("b", pa.int64()), ("hamming", pa.int32())]),
        "q46": pa.schema([("corpus_tag", pa.int64()), ("q_id", pa.int64()),
                          ("rnk", pa.int32()), ("n_id", pa.int64()), ("sim", pa.float64())]),
        "q56": pa.schema([("corpus_tag", pa.int64()), ("a", pa.int64()),
                          ("b", pa.int64()), ("sim", pa.float64())]),
        "q113": pa.schema([("corpus_tag", pa.int64()), ("old_id", pa.int64()),
                           ("new_id", pa.int64()), ("jaccard", pa.float64())]),
    }
    names = {"q41": "q41_dedup_minhash", "q42": "q42_dedup_simhash",
             "q46": "q46_similarity_lsh", "q56": "q56_dedup_embedding_lsh",
             "q113": "q113_dedup_incremental"}
    for q, rows in acc.items():
        cols = list(zip(*rows))
        table = pa.table(
            {f.name: pa.array(list(c), type=f.type) for f, c in zip(schemas[q], cols)},
            schema=schemas[q])
        path = os.path.join(OUT_DIR, f"{names[q]}.parquet")
        pq.write_table(table, path)
        print(f"wrote {path}: {table.num_rows} rows")


if __name__ == "__main__":
    main()
