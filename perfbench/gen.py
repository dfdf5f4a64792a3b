"""Seeded input generator for the benchmark.

Writes graft's ten input tables (the TPC-H-like star schema plus `events`,
`documents` and `embeddings`, with the column names and parquet types the
operators read) and, for the CDC workload, a pre-staged series of
`customer` snapshot drops with the exact INSERT/UPDATE/DELETE plan of
each drop.  The same seed always gives byte-identical files; the sizes do
not depend on the seed, so runs with different seeds do the same amount
of work on different values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the batch tables (the 0.01 scale of the TPC-H-like schema;
# documents and embeddings keep their fixed corpus size).
BATCH_ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000,
                  lineitem=60000, events=10000, documents=500, embeddings=500)
# The CDC source table: `customer` at the 0.1 scale.
CDC_ROWS = 15000
# Every 5th drop repeats the one before: the stream's checksum-only path.
UNCHANGED_EVERY = 5
EMBED_DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng, first, last, n):
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * DAY_US


def _ts(values_us):
    return pa.array(values_us, pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def customer_table(rng, n, first_key=0):
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    return {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n)]),
    }


def documents_table(rng, n):
    texts = []
    for _ in range(n):
        if texts and rng.random() < 0.05:
            # a near-duplicate of an earlier document: the dedup and
            # containment operators need real candidate pairs to find
            src = texts[int(rng.integers(0, len(texts)))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings_table(rng, n):
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0, 1, (10, EMBED_DIM))
    x = rng.normal(0, 1, (n, EMBED_DIM)) + 0.15 * centroids[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def batch_tables(out_dir, seed, scale=1.0):
    """Write the ten tables as `<out_dir>/<name>.parquet`; `scale`
    multiplies the row counts of all but documents and embeddings."""
    rng = np.random.default_rng([seed, 1])
    r = {k: v if k in ("documents", "embeddings") else max(1, int(v * scale))
         for k, v in BATCH_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)
    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out_dir}/customer.parquet", customer_table(rng, r["customer"]))
    ns = r["supplier"]
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    npart = r["part"]
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                            zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10, 1))})
    no = r["orders"]
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, r["customer"], no), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, no)),
        "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, no)])})
    nl = r["lineitem"]
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", nl))})
    ne = r["events"]
    start = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(rng.integers(start, start + 30 * DAY_US, ne))
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50, ne) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    _write(f"{out_dir}/documents.parquet", documents_table(rng, r["documents"]))
    _write(f"{out_dir}/embeddings.parquet", embeddings_table(rng, r["embeddings"]))


def cdc_drops(input_dir, seed, n_drops, rows=CDC_ROWS):
    """Pre-stage `n_drops` snapshots of `customer` in `input_dir` as hidden
    `.drop_<k>.parquet` files (the streaming source ignores dot-files until
    they are renamed) and return the per-drop plan: the INSERT/UPDATE/DELETE
    counts the diff capture must emit.  Drop 0 is the bootstrap snapshot
    (all rows INSERT).  Every `UNCHANGED_EVERY`-th drop is a byte copy of
    the one before.  Each other drop updates 2%, deletes 0.5% and inserts
    0.5% of the rows.  File mtimes increase with k, so the stream picks up
    drops landed together in plan order."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(input_dir, exist_ok=True)
    state = pa.table(customer_table(rng, rows))
    next_key = rows
    plan, prev_path = [], None
    base_mtime = int(os.path.getmtime(input_dir))
    for k in range(n_drops):
        path = f"{input_dir}/.drop_{k:05d}.parquet"
        if k == 0:
            ops = {"INSERT": state.num_rows, "UPDATE": 0, "DELETE": 0}
        elif k % UNCHANGED_EVERY == UNCHANGED_EVERY - 1:
            ops = {"INSERT": 0, "UPDATE": 0, "DELETE": 0}
        else:
            n = state.num_rows
            ops = {"INSERT": n // 200, "UPDATE": n // 50, "DELETE": n // 200}
            picked = rng.choice(n, ops["UPDATE"] + ops["DELETE"], replace=False)
            upd, dele = picked[:ops["UPDATE"]], picked[ops["UPDATE"]:]
            bal = state.column("c_acctbal").to_numpy().copy()
            # a non-zero change, so every planned UPDATE really changes the row
            bal[upd] = np.round(bal[upd] + rng.integers(1, 100000, len(upd)) / 100, 2)
            keep = np.ones(n, bool)
            keep[dele] = False
            state = state.set_column(state.schema.get_field_index("c_acctbal"),
                                     "c_acctbal", pa.array(bal)).filter(pa.array(keep))
            state = pa.concat_tables(
                [state, pa.table(customer_table(rng, ops["INSERT"], next_key))])
            next_key += ops["INSERT"]
        if k and not any(ops.values()):
            with open(prev_path, "rb") as src, open(path, "wb") as dst:
                dst.write(src.read())
        else:
            pq.write_table(state, path)
        os.utime(path, (base_mtime + k, base_mtime + k))
        plan.append(ops)
        prev_path = path
    return plan
