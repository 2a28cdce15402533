"""Output checks the JVM leaves to Python: ingested tables against the
generated pages, relational results against their DuckDB oracles, stream
replays against the generator's expected counts."""
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.dataset as ds

STAR_TABLES = "region nation customer supplier part orders lineitem".split()


def canon(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def read_rows(path, order=None):
    """Rows of a saved result, columns sorted by name."""
    t = ds.dataset(path).to_table()
    names = order or sorted(t.column_names)
    cols = {c: t.column(c).to_pylist() for c in t.column_names}
    return names, (list(zip(*[cols[c] for c in names])) if t.num_rows else [])


def compare_oracle(con, sql, path):
    """Exact, type-sensitive comparison of a saved result against DuckDB."""
    want_t = con.sql(sql).arrow()
    want_names = sorted(want_t.column_names)
    wcols = {c: want_t.column(c).to_pylist() for c in want_t.column_names}
    want = list(zip(*[wcols[c] for c in want_names])) if want_t.num_rows else []
    got_names, got = read_rows(path)
    if want_names != got_names:
        return f"schema: oracle={want_names} result={got_names}"
    if len(want) != len(got):
        return f"rows: oracle={len(want)} result={len(got)}"
    for i, (w, g) in enumerate(zip(want, got)):
        if tuple(map(canon, w)) != tuple(map(canon, g)):
            return f"row {i}: oracle={w} result={g}"
    return None


def duckdb_over(table_dir, names):
    con = duckdb.connect()
    con.sql("SET threads TO 1")
    for t in names:
        p = os.path.join(table_dir, f"{t}.parquet")
        if os.path.isdir(p):  # a many-file layout
            p = os.path.join(p, "*.parquet")
        if os.path.exists(os.path.join(table_dir, f"{t}.parquet")):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_sql(check_dir, input_dir):
    """{query: None if it matches its oracle, else the first difference}."""
    oracles = json.load(open(os.path.join(check_dir, "oracles.json")))
    con = duckdb_over(input_dir, STAR_TABLES)
    out = {}
    for name, sql in oracles.items():
        path = os.path.join(check_dir, name)
        if not os.path.exists(path):
            continue  # never ran in the window
        try:
            out[name] = compare_oracle(con, sql, path)
        except Exception as e:  # an oracle or read error is a failed check
            out[name] = f"error: {e}"
    return out


# stream replay result columns, in the generator's expectation order
STREAM_COLUMNS = {
    "q60_stream_tumbling": ["bucket_us", "event_type", "cnt"],
    "q62_stream_session": ["user_id", "n_sessions"],
}


def check_stream(check_dir, input_dir):
    expect = json.load(open(os.path.join(input_dir, "expect.json")))
    oracles = json.load(open(os.path.join(check_dir, "oracles.json")))
    con = duckdb_over(input_dir, ["events"])
    out = {}
    for name in sorted(os.listdir(check_dir)):
        path = os.path.join(check_dir, name)
        if not os.path.isdir(path):
            continue
        try:
            if name in STREAM_COLUMNS:
                _, got = read_rows(path, STREAM_COLUMNS[name])
                want = [tuple(r) for r in expect[name]]
                got = sorted(tuple(r) for r in got)
                out[name] = None if got == want else \
                    f"{len(got)} rows vs {len(want)} expected; first diff " \
                    f"{next((g, w) for g, w in zip(got + [None] * len(want), want + [None] * len(got)) if g != w)}"
            elif name in oracles:
                out[name] = compare_oracle(con, oracles[name], path)
            else:
                out[name] = "no expectation for this replay"
        except Exception as e:
            out[name] = f"error: {e}"
    return out


def load_pages(input_dir, wanted):
    """{dataset: {url: body}} for the wanted datasets (metadata excluded)."""
    pages = {}
    with open(os.path.join(input_dir, "pages.jsonl")) as f:
        for line in f:
            n = json.loads(line)
            if n["ds"] in wanted and "meta_template" not in n:
                pages.setdefault(n["ds"], {})[n["url"]] = n["body"]
    return pages


def main_rows(pages, main):
    rows = []
    for url, body in pages.items():
        if f"/{main}" in url:
            rows.extend(json.loads(body)["value"])
    return rows


def same_rows(expected_rows, path):
    """The written table holds exactly the generated rows (as a multiset):
    both sides sorted by every column after the expected side is cast to the
    written schema."""
    got = ds.dataset(path).to_table()
    names = sorted(got.column_names)
    got = got.select(names)
    want = pa.Table.from_pylist(expected_rows)
    if sorted(want.column_names) != names:
        return f"columns {names} vs generated {sorted(want.column_names)}"
    want = want.select(names).cast(got.schema)
    keys = [(n, "ascending") for n in names]
    if not got.sort_by(keys).equals(want.sort_by(keys)):
        return "contents differ from the generated pages"
    return None


def check_ingest(check_dir, input_dir):
    """{op index: None if the ingest wrote exactly the generated tables}."""
    ingests = json.load(open(os.path.join(check_dir, "ingests.json")))
    expect = json.load(open(os.path.join(input_dir, "expect.json")))
    pages = load_pages(input_dir, {x["ds"] for x in ingests})
    main_cache = {}
    out = {}
    for x in ingests:
        exp = expect[x["ds"]]
        why = None
        for table, n in sorted(exp["tables"].items()):
            path = next((p for p in x["paths"] if p.endswith(f"_{table}.parquet")), None)
            if path is None:
                why = f"{table} not written"
            elif ds.dataset(path).count_rows() != n:
                why = f"{table}: {ds.dataset(path).count_rows()} rows, generated {n}"
            elif table == exp["main"]:
                if x["ds"] not in main_cache:
                    main_cache[x["ds"]] = main_rows(pages[x["ds"]], table)
                why = same_rows(main_cache[x["ds"]], path)
            if why:
                break
        out[x["op"]] = why
    return out


def apply(record, verdicts, digests):
    """Marks each undecided op: ok iff its kind passed and its digest equals
    the digest of the checked result."""
    for op in record["ops"]:
        if op["ok"] is None:
            k = op["kind"]
            op["ok"] = verdicts.get(k, "unchecked") is None and digests.get(k) == op["digest"]
