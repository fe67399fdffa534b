"""Seeded input generator for the benchmark.

Writes, under one fresh directory, everything a run feeds to graft:

  tables/<name>.parquet   the ten base tables, one file and one row group
                          each, with the column names and types graft's
                          `core.Tables` loader reads
  mv/batch_<b>.parquet    `events` rows cut into insert micro-batches by
                          hash(event_id, seed) mod MV_BATCHES
  crawl/batch_<b>.parquet `documents` rows cut into crawl batches by
                          hash(doc_id, seed) mod CRAWL_BATCHES
  analyst_order.txt       the dashboard's queries in a seeded shuffled order

The same seed always gives byte-identical inputs. The seed decides the
query order, the batch cuts and which documents are near-duplicates of
which (so it moves how duplicates fall within and across crawl batches).
The other tables' values come from the fixed TABLE_SEED: drawn per seed,
they moved the dashboard's refresh time by up to 15 % between seeds
(README.md), more than the regressions the benchmark has to show.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes. Small on purpose: a run must set up, measure and check in
# well under a minute on four cores (see README.md, "Sizing").
ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 20000, "documents": 500, "embeddings": 500,
}
MV_BATCHES = 200         # ~100 events per micro-batch; a run uses ~30
CRAWL_BATCHES = 2        # ~250 documents per crawl batch
NEAR_DUP_SHARE = 0.08    # documents that copy an earlier document
TABLE_SEED = 0

# The analyst's dashboard: a fixed set of read-only inventory entries, one
# per query shape and in proportion to the four modules' sizes (Relational
# 5, Functions 1, Quality 1, TemporalOps 2). Fixed so that medians compare
# across seeds; the seed shuffles the order (README.md). An odd count puts
# the median inside one query's samples, not on the gap between two.
DASHBOARD = [
    "a1_group_count_avg", "a13_grouping_sets", "j3_cte_prime", "j4_star_join",
    "w1_window_rank", "f1_json_extract", "q9_null_profile", "t3_funnel",
    "t9_ohlc",
]

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def mix64(x, seed):
    """splitmix64 finalizer over (x, seed): a stable, seedable hash."""
    z = (np.asarray(x, dtype=np.uint64)
         + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
         + np.uint64(0x632BE59BD9B4E019))
    with np.errstate(over="ignore"):
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def bucket(ids, seed, n):
    return (mix64(ids, seed) % np.uint64(n)).astype(np.int64)


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return base + (np.asarray(seconds) * 1e6).astype("timedelta64[us]")


def _days(start, days):
    return np.datetime64(start, "us") + (
        np.asarray(days, dtype=np.int64) * 86_400_000_000).astype(
            "timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(TABLE_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n)})
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n)),
        "o_orderpriority": rng.choice(PRIORITIES, n)})
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, ROWS["orders"], n),
        "l_partkey": rng.integers(0, ROWS["part"], n),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n))})
    n = ROWS["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts("2024-01-01", secs),
        "user_id": rng.integers(0, 150, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    t["documents"] = _documents(np.random.default_rng(seed), ROWS["documents"])
    n = ROWS["embeddings"]
    centroids = rng.normal(0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n)
    vecs = (centroids[labels] + rng.normal(0, 0.05, (n, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            # a near-duplicate of an earlier document: one trailing word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _cut(table, key, seed, n_batches, out_dir):
    os.makedirs(out_dir)
    b = bucket(table.column(key).to_numpy(), seed, n_batches)
    for i in range(n_batches):
        _write(table.filter(pa.array(b == i)), os.path.join(
            out_dir, f"batch_{i:05d}.parquet"))


def generate(out_dir, seed):
    """Write every input of one run under `out_dir` (must not exist)."""
    os.makedirs(os.path.join(out_dir, "tables"))
    t = tables(seed)
    for name, table in t.items():
        _write(table, os.path.join(out_dir, "tables", f"{name}.parquet"))
    _cut(t["events"], "event_id", seed, MV_BATCHES, os.path.join(out_dir, "mv"))
    _cut(t["documents"], "doc_id", seed, CRAWL_BATCHES,
         os.path.join(out_dir, "crawl"))
    keys = mix64(np.arange(len(DASHBOARD)), seed)
    order = [DASHBOARD[i] for i in np.argsort(keys, kind="stable")]
    with open(os.path.join(out_dir, "analyst_order.txt"), "w") as f:
        f.write("\n".join(order) + "\n")
