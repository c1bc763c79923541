"""Seeded input generators for the benchmark.

`tables` writes the ten tables the queries read (`core.Tables.names`) with
the column names, types and value domains of the synthetic star schema in
TESTDATA.md, at a given scale factor. `web_events` writes the
JSON-lines web events the `ingest_stream` workload drains, in the shape of
`streaming.StreamingJobs.webEventSchema`.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000   # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n):
    """Midnight timestamps (µs) spread over 1995-01-01 .. 2001-08-01."""
    return pa.array(EPOCH_1995_US + rng.integers(0, 2404, n) * DAY_US,
                    pa.timestamp("us"))


def tables(out_dir, sf, seed=42):
    """Write region .. embeddings at scale factor `sf` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    f64 = lambda a: pa.array(np.round(a, 2), pa.float64())
    pick = lambda vocab, n: pa.array(np.array(vocab, dtype=object)[rng.integers(0, len(vocab), n)])

    _write(out_dir, "region", {"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)])})
    _write(out_dir, "customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": f64(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": f64(rng.uniform(-999.99, 9999.99, n_supp))})
    _write(out_dir, "part", {
        "p_partkey": i64(range(n_part)),
        "p_name": pa.array([f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": f64(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    _write(out_dir, "orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": f64(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(rng, n_ord),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": f64(rng.uniform(900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line)})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": i64(range(n_ev)),
        "ts": pa.array(EPOCH_2024_US + ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(15, n_ev // 67), n_ev)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": f64(rng.exponential(50.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts, seen = [], set()
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier document
            t = texts[int(rng.integers(0, i))] + " dup"
        else:
            t = " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(8, 90)))])
        while t in seen:  # texts are distinct, as in TESTDATA.md's tables
            t += " dup"
        seen.add(t)
        texts.append(t)
    _write(out_dir, "documents", {
        "doc_id": i64(range(n_doc)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS, dtype=object)[rng.choice(5, n_doc, p=[.44, .14, .14, .14, .14])]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": i64([len(t) for t in texts])})
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})


HOSTS = [f"www.site{i}.example" for i in range(8)]
PATHS = ["/", "/home", "/search", "/cart", "/checkout", "/blog", "/about", "/api"]
REFERRERS = ["", "https://google.com", "https://bing.com", "https://t.co", "https://news.example"]
AGENTS = ["Mozilla/5.0", "curl/8.0", "Safari/17", "Chrome/120"]


def web_events(out_dir, seed, files, per_file):
    """Write `files` JSON-lines files of `per_file` web events each.

    Event time advances through the files; each event is jittered by less
    than 5 s around its slot, so disorder stays under the jobs' 15 s
    watermark and no event is late. Every event time is a multiple of 4 ms
    except the last, which is 2 ms off: the final watermark (last time
    minus 15 s) then never equals a window or session end, so which
    windows are finalized is unambiguous. Returns the event count.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = files * per_file
    # one event per 60 ms slot: every seed spans the same event time
    t = np.arange(n) * 60 + rng.integers(-1200, 1250, n) * 4
    t = 1_704_067_200_000 + t - t % 4 + 20_000
    t[-1] = t.max() + 2
    ips = [f"10.{a}.{b}.{c}" for a, b, c in rng.integers(0, 8, (400, 3))]
    ip = rng.integers(0, len(ips), n)
    host = rng.zipf(1.6, n) % len(HOSTS)
    path, ref, agent = rng.integers(0, len(PATHS), n), rng.integers(0, len(REFERRERS), n), rng.integers(0, len(AGENTS), n)
    for f in range(files):
        with open(os.path.join(out_dir, f"events-{f:03d}.json"), "w") as fh:
            for i in range(f * per_file, (f + 1) * per_file):
                ms = int(t[i])
                stamp = np.datetime64(ms, "ms").astype(str)
                fh.write(json.dumps({
                    "url": PATHS[path[i]], "referrer": REFERRERS[ref[i]],
                    "user_agent": AGENTS[agent[i]], "host": HOSTS[host[i]],
                    "ip": ips[ip[i]], "headers": "{}",
                    "event_time": stamp + "Z"}) + "\n")
    return n
