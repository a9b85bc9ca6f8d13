"""Seeded input generator for the benchmark.

Writes the ten tables the library reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
column names, types and value domains of the library's test tables, so
`graft.Tables.*` and every registered query read them unchanged.

Everything is derived from the seed:
  * keys are dense from 0, as the queries' constant filters expect;
  * rows are drawn with a seed-salted generator, so a different seed gives
    different values, row-to-order fan-out, text and vectors;
  * near-duplicate documents are planted at a fixed rate as chains
    (a -> a' -> a'' ...), so connected-component clustering needs several
    rounds; near-duplicate embeddings are planted as perturbed copies;
  * the star and event tables are single files of one row group;
    documents and embeddings are spread over `spread` files so their scans
    start wide.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of one generated input set: those of the library's benchmark
# scale (sf0.1; lineitem about 600k rows, 4 lines per order on average).
SIZES = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "events": 100000,
    "event_users": 1500,
    "documents": 5000,
    "embeddings": 2000,
    "embedding_dim": 64,
}
DOC_DUP_RATE = 0.05     # share of documents that are planted near-duplicates
DOC_CHAIN = 3           # planted copies per chain: a -> a' -> a'' -> a'''
EMB_DUP_RATE = 0.02     # share of embeddings that are planted near-duplicates

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en"] * 10 + ["de", "de", "es", "es", "fr", "fr", "zh", "zh"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PADJ = ["blue", "hot", "small", "old", "red", "new", "cold"]
PNOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

STAR = ["region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events"]
SPREAD = ["documents", "embeddings"]
TABLES = STAR + SPREAD


def _days(rng, lo, hi, n):
    """n random dates in [lo, hi) as datetime64[us] at midnight."""
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(int)
    return (lo_d + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(seed):
    """Returns {table name: pyarrow.Table} for one seed."""
    rng = np.random.default_rng([seed, 0x6772616674])
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    nc = SIZES["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = SIZES["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = SIZES["part"]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                   zip(rng.integers(0, 7, npart), rng.integers(0, 7, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    no = SIZES["orders"]
    odate = _days(rng, "1995-01-01", "2001-08-02", no)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    # 0-8 lines per order (mean 4), so about one order in sixteen has none
    fan = rng.integers(0, 8, no) + (rng.random(no) < 0.5)
    okey = np.repeat(np.arange(no, dtype=np.int64), fan)
    nl = len(okey)
    lnum = (np.arange(nl) - np.repeat(np.cumsum(fan) - fan, fan) + 1)
    ship = np.repeat(odate, fan) + rng.integers(1, 122, nl).astype("timedelta64[D]")
    perm = rng.permutation(nl)  # the source table is not sorted by key
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey[perm]),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(lnum[perm].astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship[perm].astype("datetime64[us]"), pa.timestamp("us")),
    })
    ne = SIZES["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, SIZES["event_users"], ne).astype(np.int64)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _documents(rng):
    n = SIZES["documents"]
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(25, 95)))
             for _ in range(n)]
    # near-duplicate chains: each copy appends a marker token to its
    # predecessor and, half the time, rewrites one word (Stress-style edit)
    n_chains = int(n * DOC_DUP_RATE) // DOC_CHAIN
    slots = rng.permutation(n)[: n_chains * (DOC_CHAIN + 1)].reshape(n_chains, DOC_CHAIN + 1)
    for chain in slots:
        for prev, cur in zip(chain[:-1], chain[1:]):
            words = texts[prev].split()
            if rng.random() < 0.5:
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts[cur] = " ".join(words + ["dup"])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })


def _embeddings(rng):
    n, dim = SIZES["embeddings"], SIZES["embedding_dim"]
    x = rng.standard_normal((n, dim))
    n_dup = int(n * EMB_DUP_RATE)
    src = rng.choice(n, n_dup, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(n), src), n_dup, replace=False)
    x[dst] = x[src] + 0.15 * rng.standard_normal((n_dup, dim)) / np.sqrt(dim)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def fingerprint(table):
    """Content hash of a table: schema plus every value, via Arrow IPC."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:16]


def write(seed, out_dir, spread):
    """Generates the tables for `seed` into `out_dir`; returns the per-table
    record {rows, bytes, files, fingerprint}."""
    os.makedirs(out_dir, exist_ok=True)
    record = {}
    for name, table in build(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in SPREAD:
            os.makedirs(path)
            step = -(-table.num_rows // spread)
            files = []
            for i in range(spread):
                f = os.path.join(path, f"part-{i:05d}.parquet")
                pq.write_table(table.slice(i * step, step), f)
                files.append(f)
        else:
            pq.write_table(table, path, row_group_size=max(1, table.num_rows))
            files = [path]
        record[name] = {
            "rows": table.num_rows,
            "bytes": sum(os.path.getsize(f) for f in files),
            "files": len(files),
            "fingerprint": fingerprint(table),
        }
    return record


def duckdb_views(con, in_dir):
    """Registers every generated table as a DuckDB view named like the table."""
    for name in TABLES:
        src = f"{in_dir}/{name}.parquet" + ("/*.parquet" if name in SPREAD else "")
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
