"""Seeded input generator for the benchmark workloads.

Every table is drawn from numpy's PCG64 stream keyed by (seed, table) and
written with pyarrow in a fixed layout, so one seed always yields
byte-identical parquet files and another seed yields different ones.

The relational tables replicate the schema and value domains of the
engine's TPC-H-style test tables (region, nation, customer, supplier, part,
orders, lineitem, events) with foreign keys drawn from the generated parent
tables, so every join the queries make is consistent. The LLM corpus is
Stress-shaped: `replicas` copies of a base document set, copy r dropping its
first r words (near-duplicates of the base), plus a handful of exact
duplicates; embeddings are clustered unit vectors with per-replica noise.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
RARE_WORDS = 5000
EMBED_DIM = 64
EMBED_CLUSTERS = 10

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

TABLE_IDS = {name: i for i, name in enumerate(
    ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
     "events", "documents", "embeddings"])}


def rng(seed, table):
    return np.random.Generator(np.random.PCG64([seed, TABLE_IDS[table]]))


def pick(g, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[g.choice(len(values), n, p=p)],
                    pa.string())


def money(g, lo, hi, n):
    return np.round(g.uniform(lo, hi, n), 2)


def ts(us):
    return pa.array(us, pa.timestamp("us"))


def tpch_tables(seed, sf):
    """The relational tables at scale factor `sf` (sf0.1: 150k orders, ~600k
    lineitems, 100k events)."""
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_orders = max(int(1_500_000 * sf), 200)
    n_events = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 20)
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string())})

    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    g = rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(g.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(g, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(g, SEGMENTS, n_cust)})

    g = rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(g.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(g, -999.99, 9999.99, n_supp))})

    g = rng(seed, "part")
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pick(g, names, n_part),
        "p_brand": pick(g, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(g, PART_TYPES, n_part),
        "p_size": pa.array(g.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})

    g = rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(g.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pick(g, ORDER_STATUS, n_orders),
        "o_totalprice": pa.array(money(g, 1000.0, 500000.0, n_orders)),
        "o_orderdate": ts(EPOCH_1995 + g.integers(0, 2404, n_orders) * DAY_US),
        "o_orderpriority": pick(g, PRIORITIES, n_orders)})

    g = rng(seed, "lineitem")
    per_order = g.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    # lines are stored in a seeded random order, as the source tables are
    perm = g.permutation(n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey[perm]),
        "l_partkey": pa.array(g.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber[perm]),
        "l_quantity": pa.array(g.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(g, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(np.round(g.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(g.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pick(g, RETURN_FLAGS, n_li),
        "l_linestatus": pick(g, LINE_STATUS, n_li),
        "l_shipdate": ts(EPOCH_1995 + (1 + g.integers(0, 2499, n_li)) * DAY_US)})

    g = rng(seed, "events")
    gaps = np.maximum(g.exponential(26e6 * 0.1 / sf, n_events).astype(np.int64), 1)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(g.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pick(g, EVENT_TYPES, n_events),
        "value": pa.array(money(g, 0.01, 500.0, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n_events)],
                          pa.string())})
    return out


def llm_tables(seed, n_docs, replicas, n_vecs):
    """`n_docs` base documents x `replicas` prefix-drop copies, and
    `n_vecs` base embeddings x `replicas` noisy copies."""
    g = rng(seed, "documents")
    lengths = g.integers(8, 80, n_docs)
    n_words = int(lengths.sum())
    # half the words from the common vocabulary, half Zipf-distributed over
    # RARE_WORDS rare terms, so BM25 serving sees both kinds of term
    rare = np.asarray([f"w{i}" for i in range(RARE_WORDS + 1)], dtype=object)
    words = np.where(g.random(n_words) < 0.5,
                     np.asarray(VOCAB, dtype=object)[g.integers(0, len(VOCAB), n_words)],
                     rare[np.minimum(g.zipf(1.3, n_words), RARE_WORDS)])
    ends = np.cumsum(lengths)
    base = [words[e - n:e] for n, e in zip(lengths, ends)]
    # a few exact duplicates in the base set, so exact dedup has work to do
    n_exact = max(n_docs // 50, 1)
    for src, dst in zip(g.integers(0, n_docs, n_exact), g.integers(0, n_docs, n_exact)):
        base[dst] = base[src]
    texts, ids, langs, sources = [], [], [], []
    lang = np.asarray(LANGS, dtype=object)[g.choice(len(LANGS), n_docs, p=LANG_P)]
    for r in range(replicas):
        for i, w in enumerate(base):
            texts.append(" ".join(w[r:]) if r < len(w) - 1 else " ".join(w))
            ids.append(r * n_docs + i)
            langs.append(lang[i])
            sources.append(f"src{(r * n_docs + i) % 20}")
    docs = pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype=np.int64))})

    g = rng(seed, "embeddings")
    centers = g.normal(size=(EMBED_CLUSTERS, EMBED_DIM))
    labels = g.integers(0, EMBED_CLUSTERS, n_vecs)
    basev = centers[labels] + 0.6 * g.normal(size=(n_vecs, EMBED_DIM))
    vecs = [basev + 0.05 * r * g.normal(size=basev.shape) for r in range(replicas)]
    allv = np.concatenate(vecs)
    allv /= np.linalg.norm(allv, axis=1, keepdims=True)
    n_all = allv.shape[0]
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_all, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(allv.astype(np.float32).ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())),
        "label": pa.array(np.tile(labels, replicas).astype(np.int32))})
    return {"documents": docs, "embeddings": emb}


def write(tables, out_dir, row_group_rows=131_072):
    """Write `tables` as `<out_dir>/<name>.parquet`; returns
    {name: {"rows": n, "bytes": b, "sha256": h}}."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, t in sorted(tables.items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy", row_group_size=row_group_rows)
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        stats[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path),
                       "sha256": digest}
    return stats


def write_etl_layouts(seed, tables, out_dir, stream_files=4, landing_files=4):
    """Directory layouts the hive_etl workload ingests, under `out_dir`:

    - events_stream/: the events as `stream_files` files in time order, ts
      UTC-adjusted, each file also replaying 1% of the previous file's rows
      (an at-least-once source); modification times ascend with the order,
      since the file stream source picks files up by modification time.
    - orders_landing/accepted/ and orders_landing/rejected/: the orders split
      into `landing_files` accepted files plus a rejected file holding a
      copy of the first 10% of them, which a reader must exclude.
    """
    g = np.random.Generator(np.random.PCG64([seed, 100]))
    stats = {}
    ev = tables["events"]
    ev = ev.set_column(1, "ts", ev.column("ts").cast(pa.timestamp("us", tz="UTC")))
    d = os.path.join(out_dir, "events_stream")
    os.makedirs(d, exist_ok=True)
    bounds = np.linspace(0, ev.num_rows, stream_files + 1).astype(int)
    rows = 0
    for i in range(stream_files):
        part = ev.slice(bounds[i], bounds[i + 1] - bounds[i])
        if i > 0:
            prev = ev.slice(bounds[i - 1], bounds[i] - bounds[i - 1])
            replay = np.sort(g.choice(prev.num_rows, max(prev.num_rows // 100, 1), replace=False))
            part = pa.concat_tables([prev.take(pa.array(replay)), part])
        path = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(part, path, compression="snappy")
        stamp = int(EPOCH_2024 // 1_000_000 + i) * 1_000_000_000
        os.utime(path, ns=(stamp, stamp))
        rows += part.num_rows
    stats["layout.events_stream"] = {"rows": rows, "bytes": dir_bytes(d)}

    orders = tables["orders"]
    d = os.path.join(out_dir, "orders_landing")
    bounds = np.linspace(0, orders.num_rows, landing_files + 1).astype(int)
    for i in range(landing_files):
        os.makedirs(os.path.join(d, "accepted"), exist_ok=True)
        pq.write_table(orders.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(d, "accepted", f"part-{i:05d}.parquet"), compression="snappy")
    os.makedirs(os.path.join(d, "rejected"), exist_ok=True)
    pq.write_table(orders.slice(0, orders.num_rows // 10),
                   os.path.join(d, "rejected", "part-00000.parquet"), compression="snappy")
    stats["layout.orders_landing"] = {"rows": orders.num_rows + orders.num_rows // 10,
                                      "bytes": dir_bytes(d)}
    return stats


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs)
