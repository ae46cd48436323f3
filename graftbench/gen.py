"""Input generator for the graft benchmark.

Writes the ten graft tables (the TPC-H-ish star schema plus `events`,
`documents` and `embeddings`) as one parquet file each, with the
schemas and value ranges of the repository's test data, and the
per-workload operation plans. The tables are a pure function of the
scale factor, so every seed runs against the same data; the run's seed
sets what a workload's users vary: the operation order, the statement
literals, and the lake's batches, upsert keys and delete ranges.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_WORDS_A = "large hot blue old cold small bright dark".split()
PART_WORDS_B = "ring bolt plate gear widget nut screw spring".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    """The ten tables at scale factor `sf` (row counts as in the
    repository's test data: sf0.1 = 600k lineitem, 150k orders, 100k
    events, 5,000 documents, 2,000 vectors)."""
    rng = np.random.default_rng(42)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_vec = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    a = np.array(PART_WORDS_A)[rng.integers(0, 8, n_part)]
    b = np.array(PART_WORDS_B)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(np.char.add(a, " "), b),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                            "PROMO"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    t["orders"] = orders(rng, 0, n_ord, n_cust)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": ts0 + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(15, int(15000 * sf)), n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = documents(rng, n_doc)
    t["embeddings"] = embeddings(rng, n_vec)
    return t


def orders(rng, first_key, n, n_cust):
    """`n` orders with keys first_key.. — also the lake's batches."""
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})


def documents(rng, n):
    """Word-salad documents over a 30-word vocabulary, 10-100 words
    each; 5% are an earlier document plus a trailing ` dup` (near
    duplicates) and 0.2% exact copies, as in the repository's data."""
    texts = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and u < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def embeddings(rng, n, dim=64, k=10):
    """Unit vectors around `k` labelled centroids."""
    cent = rng.normal(size=(k, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.integers(0, k, n)
    v = cent[label] + rng.normal(scale=0.12, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def ensure_tables(cache_dir, sf):
    """The tables' directory under `cache_dir`, generated on first use."""
    out = os.path.join(cache_dir, f"tables-sf{sf}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp)
        for name, tab in tables(sf).items():
            pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, out)
    return out


# ---------------------------------------------------------------- plans
# A plan is a list of (pass, kind, name, arg) operations. Pass 0 is the
# one-off set-up and passes 1..WARMUP_PASSES the warm-up; the harness
# runs the timed passes after them in order until its time is up. Every
# pass from 1 on holds the same operations in a seeded order.

WAREHOUSE_QUERIES = ["q05_multijoin", "q136_range_join"]
CORPUS_QUERIES = ["q40_dedup_exact", "q44_ann_cosine_topk", "q46_embed_dedup",
                  "q47_langid", "q48_quality_score"]
PASSES = 30
# Warm-up passes (part of set-up) and the least number of timed passes.
# Every operation keeps getting faster over its first passes in a fresh
# JVM; these counts move the timed passes past most of that and still
# fit a run into about a minute (passes take ~6 s and ~2.5 s).
WARMUP_PASSES = {"warehouse": 3, "corpus": 5}
MIN_PASSES = {"warehouse": 3, "corpus": 5}
SCALE = {"warehouse": 0.1, "corpus": 0.01}


def _date(rng, lo, hi):
    d = lo + dt.timedelta(days=int(rng.integers(0, (hi - lo).days)))
    return f"{d.isoformat()} 00:00:00"


def sql_statements(rng):
    """Hive-style statements over the base tables with seeded literals;
    the same text runs in Spark and, for the check, in DuckDB."""
    d = _date(rng, dt.date(1996, 1, 1), dt.date(2001, 1, 1))
    y = int(rng.integers(1995, 2001))
    q = int(rng.integers(10, 40))
    seg = SEGMENTS[int(rng.integers(0, 5))]
    k = int(rng.integers(50, 200))
    return [
        ("sql", "sql_pricing",
         "SELECT l_returnflag, l_linestatus, count(*) AS n, "
         "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, "
         "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents "
         f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d}' "
         "GROUP BY l_returnflag, l_linestatus"),
        ("sql", "sql_priority",
         "SELECT o.o_orderpriority, count(*) AS n FROM orders o "
         "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
         f"WHERE o.o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00' "
         f"AND o.o_orderdate < TIMESTAMP '{y + 1}-01-01 00:00:00' "
         f"AND l.l_quantity > {q} GROUP BY o.o_orderpriority"),
        ("sql", "sql_topk",
         "SELECT c_custkey, c_name, c_acctbal FROM customer "
         f"WHERE c_mktsegment = '{seg}' ORDER BY c_acctbal DESC, c_custkey LIMIT {k}"),
    ]


class Lake:
    """The daily-load cycle on a snapshot table created from `orders`:
    append new orders, merge (upsert) existing and new keys, delete a key
    range, and read the head and an earlier version (both aggregates
    from a seeded date); every fourth cycle also compacts. Batches are
    parquet files under `batch_dir`."""

    def __init__(self, tables_dir, batch_dir, n_orders, n_cust):
        self.batch_dir, self.n_cust = batch_dir, n_cust
        self.next_key, self.version = n_orders, 1
        self.n_new, self.n_upd, self.n_ins, self.n_del = (
            n_orders // 50, n_orders // 150, n_orders // 300, n_orders // 150)
        os.makedirs(batch_dir, exist_ok=True)
        self.create = ("create", "lake_create", os.path.join(tables_dir, "orders.parquet"))

    def cycle(self, rng, c):
        ops = []
        path = os.path.join(self.batch_dir, f"append{c}.parquet")
        pq.write_table(orders(rng, self.next_key, self.n_new, self.n_cust), path)
        self.next_key += self.n_new
        ops.append(("append", f"lake_append{c}", path))
        upd = orders(rng, 0, self.n_upd + self.n_ins, self.n_cust)
        keys = np.concatenate([rng.choice(self.next_key, self.n_upd, replace=False),
                               np.arange(self.next_key, self.next_key + self.n_ins)])
        self.next_key += self.n_ins
        path = os.path.join(self.batch_dir, f"merge{c}.parquet")
        pq.write_table(upd.set_column(0, "o_orderkey", pa.array(keys, pa.int64())), path)
        ops.append(("merge", f"lake_merge{c}", path))
        lo = int(rng.integers(0, self.next_key - self.n_del))
        ops.append(("delete", f"lake_delete{c}",
                    f"o_orderkey >= {lo} AND o_orderkey < {lo + self.n_del}"))
        if c % 4 == 0:
            ops.append(("compact", f"lake_compact{c}", "4"))
        since = [_date(rng, dt.date(1995, 1, 1), dt.date(2001, 1, 1)) for _ in range(2)]
        # the time-travel read targets a version committed before this cycle
        ops += [("scan", f"lake_head{c}", f"head,{since[0]}"),
                ("scan", f"lake_travel{c}", f"{int(rng.integers(1, self.version + 1))},{since[1]}")]
        self.version += len(ops) - 2
        return ops


def plan(workload, sf, tables_dir, work_dir, seed):
    """The workload's operation plan for `seed`; lake batches are
    written under `work_dir`."""
    rng = np.random.default_rng(seed)
    if workload == "warehouse":
        lake = Lake(tables_dir, os.path.join(work_dir, "batches"),
                    int(1500000 * sf), int(150000 * sf))
        ops = [(0, "register", "tables", ""), (0,) + lake.create]
        make = lambda p: ([("q", q, "") for q in WAREHOUSE_QUERIES]
                          + sql_statements(rng) + lake.cycle(rng, p))
    elif workload == "corpus":
        ops = []
        make = lambda p: [("q", q, "") for q in CORPUS_QUERIES]
    else:
        raise ValueError(workload)
    for p in range(1, PASSES + 1):
        items = make(p)
        ops += [(p,) + items[i] for i in rng.permutation(len(items))]
    return ops
