"""Seeded input generators of the benchmark.

Wire messages have the reference producer's shapes (the ones
`graft.sources.FixtureGenerator` writes): a user, then its three
addresses.  A user's three addresses share one state and one country, so
the count check below does not depend on the order Spark gives the
addresses of one user inside a micro-batch.

Tables have the columns, types and value ranges of the repository's
TPC-H-like test corpus (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings), drawn from the seed.

    python3 perfbench/gen.py live <src_dir> <seed> <rate> <warm_s> <measure_s> <log>
runs the open-loop live generator; the other entry points are imported by
run.py.
"""
import datetime
import json
import os
import random
import sys
import time
import uuid

STATES = ["Illinois", "Bahia", "Bavaria", "Kyoto", "Cusco"]
COUNTRIES = ["Brazil", "Germany", "Japan", "Peru", "USA"]
GENRES = ["M", "F", "O"]
ADDRESSES_PER_USER = 3


def fixtures(seed, n_users):
    """The seed's first n_users users, each as (user dict, [address dicts])."""
    out = []
    for i in range(n_users):
        rng = random.Random(seed * 1_000_003 + i)
        uid = str(uuid.UUID(int=rng.getrandbits(128)))
        reg = datetime.datetime(2026, 1, 1) + datetime.timedelta(
            seconds=rng.randrange(86400), microseconds=rng.randrange(1_000_000))
        user = {"id": uid, "name": f"User {i}", "email": f"user{i}@example.org",
                "genre": rng.choice(GENRES),
                "registerDate": reg.strftime("%Y-%m-%dT%H:%M:%S.%f") + "+0000"}
        state, country = rng.choice(STATES), rng.choice(COUNTRIES)
        addrs = [{"userId": uid, "address": f"{j} Main St\nApt {i}",
                  "city": f"City {rng.randrange(50)}", "state": state,
                  "zipCode": f"{rng.randrange(100000):05d}", "country": country}
                 for j in range(ADDRESSES_PER_USER)]
        out.append((user, addrs))
    return out


def line(d):
    return json.dumps(d, separators=(",", ":"))


def write_backlog(dir_, seed, n_users):
    """The FileIngestSource layout: <dir>/user and <dir>/address, one
    newline-delimited JSON file each, users in generation order."""
    fx = fixtures(seed, n_users)
    for sub in ("user", "address"):
        os.makedirs(os.path.join(dir_, sub), exist_ok=True)
    with open(os.path.join(dir_, "user", "users.json"), "w") as f:
        f.write("".join(line(u) + "\n" for u, _ in fx))
    with open(os.path.join(dir_, "address", "addresses.json"), "w") as f:
        f.write("".join(line(a) + "\n" for _, aa in fx for a in aa))
    return fx


def live_schedule(seed, rate, warm_s, measure_s):
    """(due time in s from the start, topic, message, user index) for every
    message, in due order.  Users arrive evenly, at rate/4 per second, until
    4 s before the end; each address is due 1 to 4 s after its user, so it
    never shares the user's trigger interval and every message is due by
    warm_s + measure_s."""
    gap = (1 + ADDRESSES_PER_USER) / rate
    n_users = int((warm_s + measure_s - 4.0) / gap)
    msgs = []
    for i, (u, aa) in enumerate(fixtures(seed, n_users)):
        t = i * gap
        rng = random.Random(seed * 7919 + i)
        msgs.append((t, "user", u, i))
        for a in aa:
            msgs.append((t + 1.0 + 3.0 * rng.random(), "address", a, i))
    msgs.sort(key=lambda m: m[0])
    return msgs


def run_live(src, seed, rate, warm_s, measure_s, log_path, tick=0.1):
    """Open loop: every tick, publish the messages that are due, one file
    per topic, written aside and renamed into the source directory so the
    source never lists a partial file.  Logs each file's due range and the
    wall time it was published."""
    msgs = live_schedule(seed, rate, warm_s, measure_s)
    tmp = os.path.join(src, "_tmp")
    for sub in ("user", "address", "_tmp"):
        os.makedirs(os.path.join(src, sub), exist_ok=True)
    t0 = time.time()
    log = {"t0": t0, "files": []}
    k, seq = 0, 0
    while k < len(msgs):
        now = time.time() - t0
        j = k
        while j < len(msgs) and msgs[j][0] <= now:
            j += 1
        for topic in ("user", "address"):
            batch = [m for m in msgs[k:j] if m[1] == topic]
            if not batch:
                continue
            name = f"{topic}-{seq:06d}.json"
            p = os.path.join(tmp, name)
            with open(p, "w") as f:
                f.write("".join(line(m[2]) + "\n" for m in batch))
            os.rename(p, os.path.join(src, topic, name))
            seq += 1
            log["files"].append({"published": time.time(), "n": len(batch),
                                 "first_due": t0 + batch[0][0], "last_due": t0 + batch[-1][0]})
        k = j
        if k < len(msgs):
            time.sleep(max(0.0, min(tick, msgs[k][0] - (time.time() - t0))))
    with open(log_path, "w") as f:
        json.dump(log, f)


# ---- tables ---------------------------------------------------------------

def write_tables(dir_, seed, sf):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(dir_, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return pa.array(base + rng.integers(0, span, n).astype("timedelta64[D]"),
                        pa.timestamp("us"))

    i32, i64 = pa.int32(), pa.int64()
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    put("customer", {
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["red", "old", "cold", "hot", "new", "large", "small", "blue"]
    noun = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
    put("part", {
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    put("orders", {
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", 2499, n_li)})
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    put("events", {
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = ("a agg batch big column customer data fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream table "
             "the value vector window").split()
    n_doc = 500 if sf <= 0.01 else int(50_000 * sf)
    texts = []
    for d in range(n_doc):
        if d > 0 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, d))] if rng.random() < 0.5 else \
                " ".join(rng.choice(vocab, int(rng.integers(10, 100))))
            texts.append(src + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 100)))))
    put("documents", {
        "doc_id": pa.array(range(n_doc), i64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{d % 20}" for d in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_emb, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


if __name__ == "__main__":
    if sys.argv[1] == "live":
        src, seed, rate, warm_s, measure_s, log = sys.argv[2:8]
        run_live(src, int(seed), float(rate), float(warm_s), float(measure_s), log)
    else:
        sys.exit(f"unknown mode {sys.argv[1]}")
