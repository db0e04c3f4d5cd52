"""Deterministic input generator for the benchmark.

Two kinds of input:

* `tables(out_dir)` writes the ten star-schema and corpus tables that the
  query keys read (`<table>.parquet`), at the sf0.1 row counts. The
  tables never depend on the workload seed, so the expected per-key
  fingerprints in `expected.json` stay valid for every seed; the seed
  only reorders work.
* `feed(out_dir, seed, ...)` stages the streaming feed: event files of
  about a fixed row count, cut from one event pool. The seed draws
  cross-shard disorder (kept inside the query's watermark) and a small
  share of re-delivered duplicates.

Schemas and value domains follow FIXTURES.md (no NULLs, dense keys,
foreign keys that always resolve, L2-normalized 64-d embeddings).
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101

# Row counts: the sf0.1 sizes of the fixture set (FIXTURES.md).
ROWS = {
    "supplier": 1000, "customer": 15000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000,
}
EVENT_USERS = 1500
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
UTC = dt.timezone.utc
TS = pa.timestamp("us", tz="UTC")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def event_columns(rng, n, users, t0_us, mean_gap_us):
    """An event-id-ordered pool: non-decreasing ts, uniform users/types,
    2-dp values with mean ~50, and the fixed `{"k": n}` props shape."""
    gaps = rng.exponential(mean_gap_us, n).astype(np.int64)
    ts = t0_us + np.cumsum(gaps)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": value,
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _event_table(cols, ts_type=TS):
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], ts_type),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 50 and r < 0.004:        # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 50 and r < 0.05:       # near duplicate: earlier doc + marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    langs = np.array(["en", "de", "es", "fr", "zh"])[
        rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def tables(out_dir):
    """Write the ten input tables; identical bytes for every call."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n = ROWS["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": pa.array(_money(rng, n, -999.99, 9999.99), f64)})
    n = ROWS["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                rng.integers(0, 5, n)], s)})
    n = ROWS["part"]
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
    price = np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            adj[rng.integers(0, 8, n)], noun[rng.integers(0, 8, n)])], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], s),
        "p_type": pa.array(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                rng.integers(0, 6, n)], s),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": pa.array(price, f64)})
    n = ROWS["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)], s),
        "o_totalprice": pa.array(_money(rng, n, 1000.0, 500000.0), f64),
        "o_orderdate": pa.array(_days(rng, n, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n)], s)})
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    partkey = rng.integers(0, ROWS["part"], n)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
        "l_partkey": pa.array(partkey, i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * price[partkey] *
                                             rng.uniform(0.02, 5.0, n), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)], s),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", 2498), pa.timestamp("us"))})
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=UTC).timestamp() * 1e6)
    n = ROWS["events"]
    ev = event_columns(rng, n, EVENT_USERS, t0, 29 * 86400e6 / n)
    # the table keeps the fixture's zone-less timestamp; feed files carry UTC
    pq.write_table(_event_table(ev, pa.timestamp("us")),
                   os.path.join(out_dir, "events.parquet"))
    _write(out_dir, "documents", _documents(rng, ROWS["documents"]))
    n = ROWS["embeddings"]
    v = rng.normal(size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32)})


# The feed's event pool: 1500 users, one event every ~0.6 s of event time,
# so a 30-minute session gap and 1-hour windows both see real traffic.
FEED_USERS = 1500
FEED_GAP_US = 600_000
# Delivery follows the Kinesis model that graft.io.EventSource documents:
# records are ordered per shard (shard = user_id % FEED_SHARDS), shards lag
# each other. At each file boundary a lagging shard delivers its last
# FEED_LAG_US of events with the next file, which stays inside the query's
# 10-minute watermark. One user's events never change order, so the feed
# does not exercise sessionizeStream's merge of events older than a user's
# open session; that path can emit a session early when a late event
# bridges into a session already closed by a gap, a case sessionizeStream
# documents as unsupported in append mode.
FEED_SHARDS = 8
FEED_LAG_SHARE = 0.25
FEED_LAG_US = 4 * 60 * 1_000_000
FEED_DUP_SHARE = 0.01


def feed_files(seed, n_files, file_rows):
    """Event tables for `n_files` feed files, in arrival order.

    The pool of `n_files * file_rows` distinct events is fixed; the seed
    picks which shards lag at each file boundary (cross-shard disorder
    inside the watermark slack) and re-delivers a share of each file's
    events a second time (same id and ts, later in the same file or at the
    head of the next one)."""
    pool_rng = np.random.default_rng(TABLE_SEED + 1)
    t0 = int(dt.datetime(2024, 2, 1, tzinfo=UTC).timestamp() * 1e6)
    ev = event_columns(pool_rng, n_files * file_rows, FEED_USERS, t0, FEED_GAP_US)
    rng = np.random.default_rng(seed)
    file_of = np.arange(len(ev["ts"])) // file_rows
    shard = ev["user_id"] % FEED_SHARDS
    for f in range(n_files - 1):
        in_f = file_of == f
        lagging = np.flatnonzero(rng.random(FEED_SHARDS) < FEED_LAG_SHARE)
        tail = ev["ts"] >= ev["ts"][in_f].max() - FEED_LAG_US
        file_of[in_f & tail & np.isin(shard, lagging)] = f + 1
    out, carry = [], np.array([], dtype=np.int64)
    n_dup = max(2, int(file_rows * FEED_DUP_SHARE))
    for f in range(n_files):
        idx = np.flatnonzero(file_of == f)
        # half the re-deliveries land later in this file, half at the head
        # of the next one, drawn from this file's last quarter so they stay
        # inside the watermark slack
        here = rng.choice(idx, n_dup // 2, replace=False)
        rows = np.concatenate([carry, idx, here])
        carry = rng.choice(idx[-(len(idx) // 4):], n_dup - n_dup // 2, replace=False)
        if f == n_files - 1:
            rows = np.concatenate([rows, carry])
        out.append(_event_table({k: c[rows] for k, c in ev.items()}))
    return out


def sentinel_table(after_us):
    """One event far past the feed, which moves the watermark beyond every
    window and session so the append sink flushes them."""
    return _event_table({
        "event_id": np.array([-1], np.int64), "ts": np.array([after_us], np.int64),
        "user_id": np.array([-1], np.int64), "event_type": np.array(["sentinel"]),
        "value": np.array([0.0]), "props": np.array(["{}"])})


def feed(out_dir, seed, n_files, file_rows):
    """Stage the feed under `out_dir/staged/` as numbered parquet files plus
    `sentinel.parquet`; returns the file names in arrival order."""
    staged = os.path.join(out_dir, "staged")
    os.makedirs(staged, exist_ok=True)
    names, max_ts = [], 0
    for i, t in enumerate(feed_files(seed, n_files, file_rows)):
        name = f"part-{i:05d}.parquet"
        pq.write_table(t, os.path.join(staged, name))
        names.append(name)
        max_ts = max(max_ts, t.column("ts").cast(pa.int64()).to_numpy().max())
    pq.write_table(sentinel_table(int(max_ts) + 5 * 86400 * 1_000_000),
                   os.path.join(staged, "sentinel.parquet"))
    return names
