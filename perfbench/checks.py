"""Output checks, computed apart from the program.

Each check takes what the program wrote, as read back with pyarrow or
DuckDB, and returns a list of problems (empty when the output is right).
`teeth_*` corrupt a correct output in memory (one dropped address, one count
off by one, one altered query row) and confirm the check then fails.

    python3 perfbench/checks.py rebuild-oracle-cache <data_dir> <oracle_sql.json>
recomputes the cached DuckDB results for one table directory.
"""
import collections
import datetime
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq

ORACLE_CACHE = os.path.join(".bench_cache", "oracle")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


# ---- sink tables ------------------------------------------------------------

def versions(sink_dir):
    """The sink's copy-on-write versions, oldest first: [(n, path)]."""
    vs = [(int(d[1:]), os.path.join(sink_dir, d)) for d in os.listdir(sink_dir)
          if d.startswith("v") and d[1:].isdigit()]
    return sorted(vs)


def read_rows(path):
    return pq.read_table(path).to_pylist()


def wire_ts(s):
    """The producer's `registerDate` (microseconds, +0000) as naive UTC."""
    return datetime.datetime.strptime(s[:26], "%Y-%m-%dT%H:%M:%S.%f")


def naive_utc(ts):
    return ts.astimezone(datetime.timezone.utc).replace(tzinfo=None) if ts.tzinfo else ts


ADDR_FIELDS = ("address", "city", "state", "zipCode", "country")


def check_user_docs(rows, fixtures):
    """Exactly one document per generated user, equal user fields, and an
    address multiset equal to the generated addresses."""
    problems = []
    by_id = collections.defaultdict(list)
    for r in rows:
        by_id[r["userId"]].append(r)
    want = {u["id"]: (u, aa) for u, aa in fixtures}
    if set(by_id) != set(want):
        problems.append(f"user ids differ: {len(set(want) - set(by_id))} missing, "
                        f"{len(set(by_id) - set(want))} unexpected")
    for uid, docs in by_id.items():
        if uid not in want:
            continue
        if len(docs) != 1:
            problems.append(f"user {uid}: {len(docs)} documents")
            continue
        d, (u, aa) = docs[0], want[uid]
        got = (d["userName"], d["userEmail"], d["genre"], naive_utc(d["registerDate"]))
        exp = (u["name"], u["email"], u["genre"], wire_ts(u["registerDate"]))
        if got != exp:
            problems.append(f"user {uid}: fields {got} != {exp}")
        ga = sorted(tuple(a[f] for f in ADDR_FIELDS) for a in (d["addresses"] or []))
        ea = sorted(tuple(a[f] for f in ADDR_FIELDS) for a in aa)
        if ga != ea:
            problems.append(f"user {uid}: {len(ga)} addresses, expected {len(ea)} "
                            f"(or different content)")
    return problems[:20]


def expected_counts(fixtures, key):
    """Every address of a user is counted once in each later snapshot of
    that user: with the user sent first, the 1st, 2nd and 3rd address weigh
    3, 2 and 1 (the cumulative-snapshot over-count)."""
    out = collections.Counter()
    for _, aa in fixtures:
        for j, a in enumerate(aa):
            out[a[key]] += len(aa) - j
    return dict(out)


def final_window_counts(version_rows, key):
    """Sum over windows of each window's final count: for every (key,
    window) the count in the newest version that still holds it."""
    last = {}
    for rows in version_rows:
        for r in rows:
            last[(r[key], r["window_start"])] = r["count"]
    out = collections.Counter()
    for (k, _), c in last.items():
        out[k] += c
    return dict(out)


def check_counts(version_rows, fixtures, key):
    got, exp = final_window_counts(version_rows, key), expected_counts(fixtures, key)
    if got != exp:
        return [f"{key} counts {sorted(got.items())} != {sorted(exp.items())}"]
    return []


def check_stream_outputs(sinks_dir, fixtures):
    """All checks of one run of the topology; returns (problems, tables)."""
    ua = versions(os.path.join(sinks_dir, "user_address"))
    if not ua:
        return ["user_address sink is empty"], None
    user_rows = read_rows(ua[-1][1])
    count_rows = {key: [read_rows(p) for _, p in versions(os.path.join(sinks_dir, key))]
                  for key in ("state", "country")}
    problems = check_user_docs(user_rows, fixtures)
    for key, vr in count_rows.items():
        problems += check_counts(vr, fixtures, key)
    return problems, (user_rows, count_rows)


def teeth_stream(tables, fixtures):
    """The stream checks must reject a dropped address and a count off by one."""
    user_rows, count_rows = tables
    failures = []
    rows = [dict(r) for r in user_rows]
    victim = next(i for i, r in enumerate(rows) if r["addresses"])
    rows[victim]["addresses"] = rows[victim]["addresses"][1:]
    if not check_user_docs(rows, fixtures):
        failures.append("a dropped address passed the user-document check")
    vr = [list(v) for v in count_rows["state"]]
    vr[-1] = [dict(r) for r in vr[-1]]
    vr[-1][0]["count"] += 1
    if not check_counts(vr, fixtures, "state"):
        failures.append("a count off by one passed the count check")
    return failures


# ---- query results ------------------------------------------------------------

def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(spark_df, oracle_df):
    """As the repository's oracle compare (tools/compare_oracle.py) accepts a
    result: column-name-sorted and row-sorted, equal row count, equal column
    names, and equal values once the oracle's columns take the result's
    types."""
    s, o = canon(spark_df), canon(oracle_df)
    if len(s) != len(o):
        return f"rows {len(s)} != oracle {len(o)}"
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != oracle {list(o.columns)}"
    try:
        if not s.equals(o.astype(s.dtypes.to_dict())):
            return "values differ from the oracle"
    except Exception as e:  # noqa: BLE001 - a failed cast is a mismatch
        return f"values not comparable: {e}"
    return None


def data_signature(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            with open(p, "rb") as f:
                h.update(t.encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def oracle_results(data_dir, sqls, names, rebuild=False):
    """DuckDB's result of each query's oracle SQL, cached on disk keyed by
    the SQL and the table files' contents."""
    import pandas as pd
    sig, con, out = data_signature(data_dir), None, {}
    os.makedirs(ORACLE_CACHE, exist_ok=True)
    for n in names:
        if n not in sqls:
            continue
        key = hashlib.sha256((sig + "\0" + sqls[n]).encode()).hexdigest()[:32]
        path = os.path.join(ORACLE_CACHE, key + ".pkl")
        if os.path.exists(path) and not rebuild:
            out[n] = pd.read_pickle(path)
            continue
        con = con or duck(data_dir)
        out[n] = con.execute(sqls[n]).df()
        out[n].to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
    return out


def read_result(path):
    return pq.read_table(path).to_pandas()


def check_query(name, spark_df, oracle):
    if name not in oracle:
        return None if len(spark_df) > 0 else "no rows (query has no oracle SQL)"
    return compare(spark_df, oracle[name])


def teeth_query(name, spark_df, oracle):
    """The query check must reject one altered row."""
    df = spark_df.copy()
    col = df.columns[0]
    v = df.at[0, col]
    if isinstance(v, str):
        df.at[0, col] = v + "x"
    elif isinstance(v, (bool,)) or v is None:
        df.at[0, col] = not v
    else:
        df.at[0, col] = v + 1
    if check_query(name, df, oracle) is None:
        return [f"an altered row of {name} passed the oracle check"]
    return []


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "rebuild-oracle-cache":
        sqls = json.load(open(sys.argv[3]))
        oracle_results(sys.argv[2], sqls, sorted(sqls), rebuild=True)
        print(f"rebuilt {len(sqls)} oracle results for {sys.argv[2]}")
    else:
        sys.exit(__doc__)
