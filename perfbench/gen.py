"""Seeded input generators for the benchmark workloads.

Every generator takes an output directory and a seed and writes the same
bytes for the same seed (numpy PCG64 streams, sorted JSON keys, pyarrow
parquet with fixed writer settings). Each seed is written to its own
directory, so staged copies the engine keys on file size and mtime can never
serve another seed's data.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

SPEC = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")))

EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
HOUR_US = 3600 * 1_000_000
MIN_US = 60 * 1_000_000


def rng_for(seed, stream):
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def write_parquet(table, path, files=1, cluster=None):
    """One parquet file, or with `files` > 1 a directory of that many part
    files range-split on `cluster` (the many-file layout an ingest writes)."""
    if files == 1:
        pq.write_table(table, path, compression="snappy", use_dictionary=True,
                       write_statistics=True)
        return
    os.makedirs(path, exist_ok=True)
    table = table.take(pa.compute.sort_indices(table, [(cluster, "ascending")]))
    step = -(-table.num_rows // files)
    for i in range(files):
        write_parquet(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))
        f.write("\n")


def syllable_vocab(rng, n, syllables):
    words = set()
    while len(words) < n:
        k = int(rng.integers(1, 4))
        words.add("".join(syllables[int(i)] for i in rng.integers(0, len(syllables), k)))
    return sorted(words)


# ----------------------------------------------------------- CBS catalog

V3_HOST = "https://opendata.cbs.nl"
V4_ROOT = "https://odata4.cbs.nl/CBS"
V3_PAGE = 10_000
V4_PAGE = 100_000


def v3_catalog_url(ds_id):
    return (f"{V3_HOST}/ODataCatalog/Tables?$format=json"
            f"&$filter=Identifier eq '{ds_id}'")


def page(rows):
    return json.dumps({"odata.metadata": "synthetic", "value": rows},
                      separators=(",", ":"))


def money(rng, n, scale):
    return np.round(rng.gamma(2.0, scale, n), 2)


def dataset_ids(rng, n, taken):
    out = []
    while len(out) < n:
        ds = f"{int(rng.integers(10000, 99999))}NED"
        if ds not in taken:
            taken.add(ds)
            out.append(ds)
    return out


def gen_dataset(rng, ds_id, version, n_rows, n_topics):
    """Pages of one synthetic CBS dataset: url -> body (metadata excluded)."""
    periods = [f"{y}JJ00" for y in range(1995, 2025)]
    regions = [f"GM{int(i):04d}" for i in rng.choice(2000, 40, replace=False)]
    per = [periods[int(i)] for i in rng.integers(0, len(periods), n_rows)]
    reg = [regions[int(i)] for i in rng.integers(0, len(regions), n_rows)]
    pages = {}
    if version == "v3":
        base = f"{V3_HOST}/ODataFeed/odata/{ds_id}"
        topics = [f"Topic{j}_{j + 1}" for j in range(n_topics)]
        pages[f"{base}?$format=json"] = json.dumps({"value": [
            {"name": n, "url": f"{base}/{n}"} for n in
            ["TableInfos", "UntypedDataSet", "TypedDataSet", "DataProperties",
             "CategoryGroups", "RegioS", "Perioden"]]}, separators=(",", ":"))
        props = "".join(
            f'<Property Name="{c}" Type="{t}"/>' for c, t in
            [("ID", "Edm.Int32"), ("RegioS", "Edm.String"), ("Perioden", "Edm.String")]
            + [(c, "Edm.Double") for c in topics])
        pages[f"{base}/$metadata"] = (
            '<?xml version="1.0" encoding="utf-8"?>'
            '<edmx:Edmx xmlns:edmx="http://schemas.microsoft.com/ado/2007/06/edmx" Version="1.0">'
            '<edmx:DataServices><Schema xmlns="http://schemas.microsoft.com/ado/2009/11/edm" '
            f'Namespace="Cbs"><EntityType Name="TData">{props}</EntityType></Schema>'
            '</edmx:DataServices></edmx:Edmx>')
        cols = np.stack([money(rng, n_rows, 50.0 + 10 * j) for j in range(n_topics)], 1) \
            if n_topics else np.zeros((n_rows, 0))
        nulls = rng.random((n_rows, n_topics)) < 0.03
        rows = []
        for i in range(n_rows):
            r = {"ID": i, "RegioS": reg[i], "Perioden": per[i]}
            for j, c in enumerate(topics):
                r[c] = None if nulls[i, j] else float(cols[i, j])
            rows.append(r)
        main = f"{base}/TypedDataSet?$format=json"
        for p in range(0, max(n_rows, 1), V3_PAGE):
            url = main if p == 0 else f"{main}&$skip={p}"
            pages[url] = page(rows[p:p + V3_PAGE])
        dp = [{"odata.type": "Cbs.Dimension", "Key": k, "Title": k,
               "Description": f"{k} dimension\nof dataset {ds_id}"}
              for k in ("RegioS", "Perioden")]
        dp += [{"odata.type": "Cbs.Topic", "Key": c, "Title": c,
                "Description": f"Measure {c} in euro"} for c in topics]
        pages[f"{base}/DataProperties?$format=json"] = page(dp)
        pages[f"{base}/CategoryGroups?$format=json"] = page([])
        pages[f"{base}/RegioS?$format=json"] = page(
            [{"Key": k, "Title": f"Gemeente {k}", "Description": None} for k in regions])
        pages[f"{base}/Perioden?$format=json"] = page(
            [{"Key": k, "Title": k[:4], "Description": None} for k in periods])
        expect = {"main": "TypedDataSet", "rows": n_rows, "topics": topics,
                  "tables": {"TypedDataSet": n_rows, "DataProperties": len(dp),
                             "RegioS": len(regions), "Perioden": len(periods)}}
        first = cols[:, 0] if n_topics else np.zeros(n_rows)
        first_null = nulls[:, 0] if n_topics else np.ones(n_rows, bool)
    else:
        base = f"{V4_ROOT}/{ds_id}"
        measures = [f"M{int(i):06d}" for i in rng.choice(999999, n_topics, replace=False)]
        pages[base] = json.dumps({"value": [
            {"name": n, "url": n} for n in
            ["Properties", "Observations", "MeasureCodes", "PeriodenCodes"]]},
            separators=(",", ":"))
        vals = money(rng, n_rows, 80.0)
        nulls = rng.random(n_rows) < 0.03
        meas = rng.integers(0, n_topics, n_rows)
        rows = [{"Id": i, "Measure": measures[int(meas[i])], "ValueAttribute": "None",
                 "Value": None if nulls[i] else float(vals[i]), "StringValue": None,
                 "RegioS": reg[i], "Perioden": per[i]} for i in range(n_rows)]
        main = f"{base}/Observations"
        for p in range(0, max(n_rows, 1), V4_PAGE):
            url = main if p == 0 else f"{main}?$skip={p}"
            pages[url] = page(rows[p:p + V4_PAGE])
        pages[f"{base}/MeasureCodes"] = page(
            [{"Identifier": m, "Title": f"Measure {m}"} for m in measures])
        pages[f"{base}/PeriodenCodes"] = page(
            [{"Identifier": k, "Title": k[:4]} for k in periods])
        expect = {"main": "Observations", "rows": n_rows, "topics": [],
                  "tables": {"Observations": n_rows, "MeasureCodes": len(measures),
                             "PeriodenCodes": len(periods)}}
        first, first_null = vals, nulls
    # per-period aggregate of the first measure column (cents), for the
    # analyst queries that read the registered catalog tables
    agg = {}
    for i in range(n_rows):
        c, s = agg.get(per[i], (0, 0))
        agg[per[i]] = (c + 1, s + (0 if first_null[i] else int(round(first[i] * 100))))
    expect["by_period"] = {k: list(v) for k, v in sorted(agg.items())}
    return pages, expect


MODIFIED = "@MODIFIED@"


def meta_page(ds_id, version, n_rows, n_cols):
    """The dataset's catalog metadata page, with MODIFIED in place of its
    Modified timestamp (the replay fills in the date of each version)."""
    if version == "v3":
        return v3_catalog_url(ds_id), json.dumps({"value": [{
            "Identifier": ds_id, "Title": f"Synthetic table {ds_id}",
            "ShortDescription": f"Synthetic CBS table {ds_id}", "Modified": MODIFIED,
            "RecordCount": n_rows, "ColumnCount": n_cols}]}, separators=(",", ":"))
    return f"{V4_ROOT}/{ds_id}/Properties", json.dumps({
        "Identifier": ds_id, "Description": f"Synthetic v4 table {ds_id}",
        "Modified": MODIFIED, "ObservationCount": n_rows}, separators=(",", ":"))


def gen_catalog(out, seed, analyst=0):
    """The replay catalog and the phase of each dataset's Modified schedule.

    The synced datasets follow a heavy-tailed size ladder anchored on
    45012NED's 435,456 rows; the ladder is cut into size classes of two
    datasets, mostly v3 with one v4 dataset in each of the `v4_classes`, and
    the first dataset of the third class has 84799NED's 117 columns. With `analyst` = n, the catalog instead holds the
    first n datasets of the analyst ladder (paged v3, then v4), the tables
    the analyst queries read."""
    cfg = SPEC["parts"]["catalog"]
    rng = rng_for(seed, 1)
    taken = set()
    if analyst:
        ladder = cfg["analyst_ladder"][:analyst]
        datasets = [{"id": ds, "version": "v4" if j % 2 else "v3", "rows": rows,
                     "topics": 6, "size_class": -1, "phase": 0}
                    for j, (ds, rows) in enumerate(zip(dataset_ids(rng, len(ladder), taken),
                                                       ladder))]
    else:
        ladder = cfg["row_ladder"]
        ids = dataset_ids(rng, len(ladder), taken)
        mixed = cfg["v4_classes"]
        datasets = []
        for c in range(len(ladder) // 2):
            v4_at = int(rng.integers(0, 2)) if c in mixed else -1
            for j in range(2):
                pos = 2 * c + j
                version = "v4" if j == v4_at else "v3"
                datasets.append({"id": ids[pos], "version": version, "rows": ladder[pos],
                                 "topics": int(rng.integers(4, 13)), "size_class": c})
        wide = next(d for d in datasets if d["size_class"] == 2)
        wide["topics"] = cfg["wide_topics"]
        # Round 0 is the first sync. Every later round r gives a new Modified
        # date to the datasets whose phase is r % 2: one dataset per size
        # class, the two of a class in turn. The two classes holding a v4
        # dataset give it opposite phases, so every round re-ingests three v3
        # datasets and one v4 one, whatever the seed. A dataset's Modified
        # version in round r is (r + phase) // 2 (IngestSync.scala).
        for c in range(len(ladder) // 2):
            members = [d for d in datasets if d["size_class"] == c]
            if c in mixed:
                members.sort(key=lambda d: d["version"])  # v3 first
                offset = mixed.index(c) % 2
            else:
                offset = 0
            for j, d in enumerate(members):
                d["phase"] = (j + offset) % 2
    os.makedirs(out, exist_ok=True)
    expect = {}
    with open(os.path.join(out, "pages.jsonl"), "w") as f:
        for d in datasets:
            pages, exp = gen_dataset(rng_for(seed, 100 + len(expect)), d["id"],
                                     d["version"], d["rows"], d["topics"])
            url, body = meta_page(d["id"], d["version"], d["rows"], 3 + d["topics"])
            first = datetime.date(2020, 1, 1) + datetime.timedelta(days=len(expect))
            f.write(json.dumps({"ds": d["id"], "meta_url": url, "meta_template": body,
                                "modified_first": first.isoformat()}, sort_keys=True) + "\n")
            for url in sorted(pages):
                f.write(json.dumps({"ds": d["id"], "url": url, "body": pages[url]},
                                   sort_keys=True) + "\n")
            expect[d["id"]] = exp
    write_json({"datasets": datasets}, os.path.join(out, "catalog.json"))
    write_json(expect, os.path.join(out, "expect.json"))


# ----------------------------------------------------------- star schema

def gen_star(out, seed):
    """TPC-H-like star schema in the column layout of the repository's
    synthetic fixtures."""
    cfg = SPEC["parts"]["sql"]
    rng = rng_for(seed, 2)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = (cfg["customer"], cfg["supplier"], cfg["part"],
                                     cfg["orders"])
    day = 86400 * 1_000_000
    d1995 = 788918400 * 1_000_000

    def ts(a):
        return pa.array(a, pa.timestamp("us"))

    write_parquet(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
                  f"{out}/region.parquet")
    write_parquet(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
                  f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write_parquet(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}), f"{out}/customer.parquet")
    write_parquet(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write_parquet(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[int(a)]} {noun[int(b)]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")
    odate = d1995 + rng.integers(0, 2404, n_ord) * day
    write_parquet(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": ts(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)  # lines per order
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    write_parquet(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * day)}),
        f"{out}/lineitem.parquet", files=16, cluster="l_shipdate")


# ----------------------------------------------------------- events

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def make_events(rng, n, n_users):
    """Per-user sessions: bursts of events minutes apart separated by gaps
    of hours, over two days; a seeded late share is written out of ts
    order (arrives after later events)."""
    user = rng.integers(0, n_users, n)
    # session start per event: each user has ~n/n_users events in sessions
    # of ~8 events; gaps between sessions are 1-6 h, within a session 5-600 s
    order = np.argsort(user, kind="stable")
    ts = np.empty(n, np.int64)
    cur_user, t = -1, 0
    in_sess = 0
    for idx in order:
        u = user[idx]
        if u != cur_user:
            cur_user, in_sess = u, 0
            t = EPOCH_2024_US + int(rng.integers(0, 6 * HOUR_US))
        elif in_sess >= int(rng.integers(4, 13)):
            t += int(rng.integers(1 * HOUR_US, 6 * HOUR_US))
            in_sess = 0
        else:
            t += int(rng.integers(5_000_000, 600_000_000))
        in_sess += 1
        ts[idx] = t
    by_ts = np.argsort(ts, kind="stable")
    ts, user = ts[by_ts], user[by_ts]
    late = rng.random(n) < 0.05
    # late events land 1-50 positions after their ts order
    pos = np.arange(n, dtype=float) + np.where(late, rng.integers(1, 51, n), 0) + 0.5 * late
    write_order = np.argsort(pos, kind="stable")
    event_id = np.arange(n, dtype=np.int64)
    etype = EVENT_TYPES[rng.integers(0, 5, n)]
    value = np.round(rng.gamma(2.0, 20.0, n) + 0.01, 2)
    props = np.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)])
    w = write_order
    return pa.table({"event_id": pa.array(event_id[w], pa.int64()),
                     "ts": pa.array(ts[w], pa.timestamp("us")),
                     "user_id": pa.array(user[w], pa.int64()),
                     "event_type": etype[w], "value": value[w], "props": props[w]})


def stream_expectations(ev):
    """Expected replay results, from the generated events alone."""
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    user = ev.column("user_id").to_numpy()
    et = np.array(ev.column("event_type").to_pylist())
    out = {}
    tumb = {}
    for t, e in zip(ts // HOUR_US * HOUR_US, et):
        tumb[(int(t), e)] = tumb.get((int(t), e), 0) + 1
    out["q60_stream_tumbling"] = [[b, e, c] for (b, e), c in sorted(tumb.items())]
    # session windows, 30-minute gap: a new session starts when the next
    # event is at least one gap after the previous one
    sess = {}
    o = np.lexsort((ts, user))
    prev_u, prev_t = None, None
    for i in o:
        u, t = int(user[i]), int(ts[i])
        if u != prev_u or t - prev_t >= 30 * MIN_US:
            sess[u] = sess.get(u, 0) + 1
        prev_u, prev_t = u, t
    out["q62_stream_session"] = [[u, c] for u, c in sorted(sess.items())]
    return out


def gen_events(out, seed):
    cfg = SPEC["parts"]["stream"]
    os.makedirs(out, exist_ok=True)
    ev = make_events(rng_for(seed, 6), cfg["events"], cfg["users"])
    write_parquet(ev, f"{out}/events.parquet")
    write_json(stream_expectations(ev), f"{out}/expect.json")


# ----------------------------------------------------------- corpus

LANG_SYLLABLES = {
    "en": ["th", "er", "in", "an", "re", "on", "at", "en", "nd", "st", "es", "ing"],
    "nl": ["de", "en", "ij", "aa", "oe", "sch", "van", "ge", "ui", "lijk", "ee", "tje"],
    "de": ["ch", "ei", "ie", "sch", "un", "der", "ung", "ge", "au", "keit", "st", "en"],
    "fr": ["ou", "ai", "le", "eau", "que", "ion", "es", "ent", "re", "oi", "au", "ette"],
}


def make_documents(rng, n, dup_share=0.1, pii_share=0.12):
    """Documents in four languages with planted near-duplicate clusters (a
    copy with one or two words replaced) and planted PII (emails, IPv4
    addresses, phone numbers). Returns the table, the planted duplicate
    clusters, and the PII-bearing doc ids."""
    langs = sorted(LANG_SYLLABLES)
    vocab = {lg: syllable_vocab(rng, 1500, LANG_SYLLABLES[lg]) for lg in langs}
    lang_of = np.array(langs)[rng.choice(4, n, p=[0.55, 0.2, 0.15, 0.1])]
    texts = []
    for i in range(n):
        v = vocab[lang_of[i]]
        k = int(rng.integers(30, 120))
        words = [v[int(j)] for j in rng.integers(0, len(v), k)]
        texts.append(words)
    clusters = []
    i = 0
    n_dup = int(n * dup_share)
    dup_ids = rng.choice(np.arange(1, n), n_dup, replace=False)
    used = set()
    for d in sorted(int(x) for x in dup_ids):
        if d in used:
            continue
        src = int(rng.integers(0, d))
        if src in used:
            continue
        lang_of[d] = lang_of[src]
        words = list(texts[src])
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, len(words)))] = vocab[lang_of[src]][int(rng.integers(0, 1500))]
        texts[d] = words
        used.update((d, src))
        clusters.append([src, d])
    pii = sorted(int(x) for x in rng.choice(n, int(n * pii_share), replace=False)
                 if int(x) not in used)
    out_texts = [" ".join(w) for w in texts]
    for d in pii:
        kind = d % 3
        if kind == 0:
            tok = f"mail user{d}@example{d % 7}.nl"
        elif kind == 1:
            tok = f"host 10.{d % 256}.{(d // 7) % 256}.{(d // 3) % 256}"
        else:
            tok = f"call +31-20-{1000000 + d}"
        out_texts[d] = out_texts[d] + " " + tok
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": out_texts,
        "lang": lang_of,
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in out_texts], pa.int64())})
    return table, clusters, pii


def make_embeddings(rng, n, dim, n_centroids):
    cent = rng.normal(size=(n_centroids, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.integers(0, n_centroids, n)
    vec = cent[label] + 0.35 * rng.normal(size=(n, dim)) / np.sqrt(dim)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    table = pa.table({"vec_id": pa.array(np.arange(n), pa.int64()),
                      "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                      "label": pa.array(label, pa.int32())})
    return table, vec


def gen_corpus(out, seed):
    cfg = SPEC["parts"]["curation"]
    os.makedirs(out, exist_ok=True)
    n = cfg["documents"]
    docs, clusters, pii = make_documents(rng_for(seed, 7), n)
    write_parquet(docs, f"{out}/documents.parquet")
    emb, vec = make_embeddings(rng_for(seed, 8), n, cfg["dim"], cfg["centroids"])
    write_parquet(emb, f"{out}/embeddings.parquet")
    rng = rng_for(seed, 9)
    nq = cfg["ann_queries"]
    src = rng.choice(n, nq, replace=False)
    q = vec[src] + 0.05 * rng.normal(size=(nq, cfg["dim"])).astype(np.float32) / np.sqrt(cfg["dim"])
    q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
    write_parquet(pa.table({"vec_id": pa.array(np.arange(nq) + 10_000_000, pa.int64()),
                            "embedding": pa.array(list(q), pa.list_(pa.float32()))}),
                  f"{out}/queries.parquet")
    write_json({"clusters": clusters, "pii_docs": pii}, f"{out}/expect.json")


def gen_mix(out, seed):
    gen_star(os.path.join(out, "star"), seed)
    gen_catalog(os.path.join(out, "catalog"), seed, analyst=SPEC["parts"]["sql"]["catalog_datasets"])
    gen_corpus(os.path.join(out, "corpus"), seed)
    gen_events(os.path.join(out, "events"), seed)


GENERATORS = {
    "ingest_sync": gen_catalog,
    "analyst_mix": gen_mix,
}


def generate(workload, seed, out):
    GENERATORS[workload](out, seed)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
