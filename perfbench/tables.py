"""query_mix inputs and oracle check.

`generate` writes an sf0.1-shaped star schema plus the events, documents and
embeddings tables (the same table names, column types and row counts as the
repository's test corpus the engine's queries are written against) from a seed, single
threaded, one parquet file with one row group per table.

`check` runs each query's DuckDB oracle over the same files and compares it
with the engine's first result for that query, normalised the way the
repository's correctness gate (tools/dcheck.py) normalises: columns sorted
by name, strings as text, timestamps as microsecond text, rows sorted, float
tolerance rtol 1e-6. Unlike the gate, floats are compared unrounded.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {  # sf0.1
    "region": 5, "nation": 25, "supplier": 1000, "customer": 15000,
    "part": 20000, "orders": 150000, "lineitem": 600000, "events": 100000,
    "documents": 5000, "embeddings": 2000,
}

WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query table key window row stream big "
         "data merge join vector customer the").split()


def _write(outdir, name, table):
    pq.write_table(table, os.path.join(outdir, f"{name}.parquet"),
                   row_group_size=1 << 30)


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n) * np.timedelta64(86400_000_000, "us")


def generate(outdir, seed, scale=1.0):
    """Write every table under `outdir`, with row counts times `scale` (the
    warm-up corpus is a small one); the same seed gives the same bytes."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: v if k in ("region", "nation") else max(20, int(v * scale))
         for k, v in ROWS.items()}
    _write(outdir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(outdir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(outdir, "supplier", pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n["supplier"]), 2)}))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(outdir, "customer", pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])]}))
    adj = np.array(["large", "hot", "blue", "small", "red", "green", "steel"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    ptypes = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    npart = n["part"]
    _write(outdir, "part", pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 7, npart)], " "),
                              noun[rng.integers(0, 6, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(npart) * 0.1 % 1100, 2)}))
    nord = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(outdir, "orders", pa.table({
        "o_orderkey": np.arange(nord, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], nord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, nord)],
        "o_totalprice": np.round(rng.uniform(800, 500000, nord), 2),
        "o_orderdate": _days(rng, nord, "1995-01-01", 2500),
        "o_orderpriority": prio[rng.integers(0, 5, nord)]}))
    nli = n["lineitem"]
    _write(outdir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, nord, nli),
        "l_partkey": rng.integers(0, npart, nli),
        "l_suppkey": rng.integers(0, n["supplier"], nli),
        "l_linenumber": rng.integers(1, 8, nli).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nli).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nli), 2),
        "l_discount": rng.integers(0, 11, nli) / 100.0,
        "l_tax": rng.integers(0, 9, nli) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nli)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nli)],
        "l_shipdate": _days(rng, nli, "1995-01-02", 2500)}))
    nev = n["events"]
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, nev))
    _write(outdir, "events", pa.table({
        "event_id": np.arange(nev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 1500, nev),
        "event_type": etypes[rng.integers(0, 5, nev)],
        "value": np.round(rng.exponential(50, nev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, nev).astype(str)), "}")}))
    ndoc = n["documents"]
    texts = []
    # fixed duplicate structure (every 25th document an exact duplicate,
    # every 12th a near duplicate) and bounded lengths, so the dedup and
    # retrieval work does not swing with the seed
    for i in range(ndoc):
        if i >= 25 and i % 25 == 0:
            texts.append(texts[i - 13].upper())
        elif i >= 12 and i % 12 == 5:
            w = texts[i - 7].lower().split()
            for _ in range(max(1, len(w) // 20)):
                w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
        else:
            k = int(rng.integers(20, 81))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(outdir, "documents", pa.table({
        "doc_id": np.arange(ndoc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, 7, ndoc)],
        "source": np.char.add("src", rng.integers(0, 20, ndoc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    nemb = n["embeddings"]
    labels = rng.integers(0, 10, nemb)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.05, (nemb, 64))).astype(np.float32)
    _write(outdir, "embeddings", pa.table({
        "vec_id": np.arange(nemb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}))


def _norm(df):
    """Columns sorted by name, strings as text, timestamps as microsecond
    text, rows sorted on those values with floats rounded to 6 places. The
    floats themselves stay unrounded: rounding both sides first can put two
    values that agree to 1e-9 on either side of a rounding boundary."""
    df = df.reindex(sorted(df.columns), axis=1)
    key = df.copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = key[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            key[c] = df[c].round(6)
        elif "datetime" in str(df[c].dtype):
            df[c] = key[c] = df[c].astype("datetime64[us]").astype(str)
    order = key.sort_values(by=list(key.columns)).index
    return df.loc[order].reset_index(drop=True)


def check(tabledir, resultdir, oracles):
    """Compare each `resultdir/<name>` parquet with its DuckDB oracle.
    Returns {name: None if equal else a one-line reason}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("PRAGMA threads=1")
    for name in ROWS:
        path = os.path.join(tabledir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = _norm(pd.read_parquet(os.path.join(resultdir, name)))
            exp = _norm(con.execute(sql).fetchdf())
            if list(got.columns) != list(exp.columns):
                out[name] = f"columns {list(got.columns)} vs {list(exp.columns)}"
            elif len(got) != len(exp):
                out[name] = f"rows {len(got)} vs {len(exp)}"
            else:
                pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                              check_exact=False, rtol=1e-6, atol=1e-9)
                out[name] = None
        except Exception as e:  # a failed oracle or read is a failed check
            out[name] = str(e).splitlines()[0][:300] if str(e) else repr(e)
    return out
