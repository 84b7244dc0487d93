#!/usr/bin/env python3
"""Benchmark of the stream topology and the query registry.

    python3 perfbench/run.py --workload <stream_live|batch_queries>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds the program and the harness from
the working tree (once per source state), makes the workload's inputs from
the seed, runs the workload in one JVM, checks every output against a
computation made apart from the program, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (the traced run
also writes its spans to .bench_out/).  See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
OUT_DIR = ".bench_out"
JVM_HEAP = "1536m"
JVM_YOUNG = "512m"

# stream_live: the open-loop rate, and the untimed live traffic before the
# measured window (which is --seconds long). The live query's first batch
# runs cold, and its batch time keeps falling over about its first ten. The
# traced run also times the parse and the window counts in batch mode over a
# backlog of LAYER_USERS users.
LIVE_RATE = 5.0
LIVE_WARM_S = 34.0
LAYER_USERS = 12_500
# batch_queries: table scale, the stride of the fixed registry sample, and
# the untimed passes over the sample before the timed ones; a pass's time
# keeps falling over about the first eight passes
TABLE_SF = 0.001
QUERY_STRIDE = 32
WARM_PASSES = 3

# the per-layer metrics and their units, as BENCHMARK.json lists them; the
# queries.top.<query>_ms entries name the sample's queries, slowest first
with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
    PER_LAYER = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
TOP_QUERIES = [n[len("queries.top."):-len("_ms")] for n in PER_LAYER
               if n.startswith("queries.top.")]

# sums over the timed phase, given per pass over the query sample
PER_ROUND = {
    "queries.jobs", "queries.stages", "queries.tasks", "queries.task_ms",
    "queries.shuffle_read_bytes", "queries.shuffle_write_bytes", "queries.spill_bytes",
    "queries.gc_ms", "jvm.gc_ms"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ------------------------------------------------------------------

def source_files(root):
    for top in ("build.sbt", "project", "src/main", "perfbench/harness"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            yield p
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project") or d == p)
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".java", ".properties")):
                    yield os.path.join(d, f)


def build(root):
    """Compile the program and the harness with sbt; returns the classpath.
    Skipped when the sources are unchanged since the last build here."""
    needed = ["build.sbt", "src/main/scala", "perfbench/harness/build.sbt"]
    missing = [n for n in needed if not os.path.exists(os.path.join(root, n))]
    if missing:
        fail(f"not a checkout of the program: missing {', '.join(missing)}")
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(root, BUILD_DIR, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    log = os.path.join(root, BUILD_DIR, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env,
            stdout=subprocess.PIPE, stderr=lf, text=True, timeout=850)
        lf.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


# ---- the JVM ----------------------------------------------------------------

ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


STARTED = []  # the JVMs this run started; none may outlive it


def start_jvm(cp, work, mode, kv):
    # a fixed young generation: the heap's resident part is then the young
    # generation plus whatever the program keeps alive, so peak RSS follows
    # the program's live data and not when the collector chose to grow
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
           "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-cp", cp, "perfbench.Main", mode] + [f"{k}={v}" for k, v in kv.items()]
    log = open(os.path.join(work, "jvm.log"), "w")
    STARTED.append(subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work))
    return STARTED[-1], log


def wait_jvm(proc, log, work, timeout):
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = "timeout"
    log.close()
    out = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"workload JVM ended with {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def copy_marks(work):
    """Repeat the JVM's phase marks on stderr."""
    with open(os.path.join(work, "jvm.log")) as f:
        for ln in f:
            if ln.startswith("[perfbench]"):
                print(ln.rstrip(), file=sys.stderr)


def cpus():
    return len(os.sched_getaffinity(0))


# ---- latency ----------------------------------------------------------------

def first_visible(sinks_dir, visible_ms):
    """For every user id and every (user id, address), the time at which
    the first user_address version that holds it became visible."""
    seen = {}
    for n, path in checks.versions(os.path.join(sinks_dir, "user_address")):
        t = visible_ms[n]
        for r in checks.read_rows(path):
            uid = r["userId"]
            seen.setdefault(uid, t)
            for a in r["addresses"] or []:
                seen.setdefault((uid, a["address"]), t)
    return seen


# ---- workloads ----------------------------------------------------------------

def message_key(topic, m):
    return m["id"] if topic == "user" else (m["userId"], m["address"])


def stream_live(a, cp, work, t_setup0):
    src = os.path.join(work, "src")
    for topic in ("user", "address"):
        os.makedirs(os.path.join(src, topic))
    ready, done = os.path.join(work, "ready"), os.path.join(work, "done")
    layers_in = os.path.join(work, "layers")
    if a.trace:
        gen.write_backlog(layers_in, a.seed, LAYER_USERS)
    proc, log = start_jvm(cp, work, "live", {
        "in": src, "layers": layers_in, "work": work, "ready": ready,
        "done": done, "trace": a.trace, "out": os.path.join(work, "result.json"),
        "cpus": cpus()})
    deadline = time.time() + 120
    while not os.path.exists(ready):
        if proc.poll() is not None or time.time() > deadline:
            proc.kill()
            wait_jvm(proc, log, work, 10)
        time.sleep(0.05)
    glog = os.path.join(work, "generator.json")
    g = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "live", src, str(a.seed),
                        str(LIVE_RATE), str(LIVE_WARM_S), str(a.seconds), glog], timeout=150)
    with open(done, "w") as f:
        f.write("done")
    res = wait_jvm(proc, log, work, 150)
    copy_marks(work)
    if g.returncode != 0:
        fail("the live generator failed")
    with open(glog) as f:
        gl = json.load(f)
    sched = gen.live_schedule(a.seed, LIVE_RATE, LIVE_WARM_S, a.seconds)
    fx = gen.fixtures(a.seed, 1 + max(m[3] for m in sched))
    problems, tables = checks.check_stream_outputs(res["sinks_dir"], fx)
    if tables is not None:
        problems += checks.teeth_stream(tables, fx)
    seen = first_visible(res["sinks_dir"], res["visible_ms"])
    t0 = gl["t0"] * 1000.0
    w0, w1 = t0 + LIVE_WARM_S * 1000.0, t0 + (LIVE_WARM_S + a.seconds) * 1000.0
    lat = [seen[message_key(tp, m)] - (t0 + due * 1000.0) for due, tp, m, _ in sched
           if message_key(tp, m) in seen and w0 <= t0 + due * 1000.0 < w1]
    missing = sum(message_key(tp, m) not in seen for _, tp, m, _ in sched)
    if missing:
        problems.append(f"{missing} messages never became visible")
    # backlog: messages published but not yet in a visible version, just
    # before each version became visible
    pubs = [f["published"] * 1000.0 for f in gl["files"] for _ in range(f["n"])]
    vis = [seen[message_key(tp, m)] for _, tp, m, _ in sched if message_key(tp, m) in seen]
    backlog = max((sum(p < t for p in pubs) - sum(v < t for v in vis)
                   for t in res["visible_ms"]), default=0)
    late_ms = max((1000.0 * (f["published"] - f["last_due"]) for f in gl["files"]), default=0.0)
    batches = " ".join(f"{(b0 - t0) / 1000:.1f}+{d / 1000:.1f}" for b0, d in res["batches"])
    summary = (f"{len(res['visible_ms'])} versions, {len(lat)} measured messages, "
               f"generator late by up to {late_ms:.0f} ms; batches (start+s): {batches}")
    return dict(res=res, problems=problems, attempted=len(sched), failed=missing,
                latencies=lat, per=1, summary=summary, setup_s=w0 / 1000.0 - t_setup0,
                layers={"sources.backlog_msgs_max": backlog, "generator.late_ms_max": late_ms})


def batch_queries(a, cp, work, t_setup0):
    data = os.path.join(work, "data")
    gen.write_tables(data, a.seed, TABLE_SF)
    proc, log = start_jvm(cp, work, "queries", {
        "data": data, "work": work, "seconds": a.seconds, "trace": a.trace,
        "stride": QUERY_STRIDE, "warm_passes": WARM_PASSES, "out": os.path.join(work, "result.json"), "cpus": cpus()})
    res = wait_jvm(proc, log, work, 170)
    copy_marks(work)
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sqls = json.load(f)
    runs = res["runs"]
    oracle = checks.oracle_results(data, sqls, sorted({r["name"] for r in runs}))
    problems, failed, times, teeth_done = [], 0, {}, False
    for r in runs:
        if "error" in r:
            failed += 1
            continue
        times.setdefault(r["name"], []).append(r["end_ms"] - r["start_ms"])
        df = checks.read_result(r["dir"])
        p = checks.check_query(r["name"], df, oracle)
        if p:
            problems.append(f"{r['name']} pass {r['pass']}: {p}")
        elif not teeth_done and r["name"] in oracle and len(df) > 0:
            problems += checks.teeth_query(r["name"], df, oracle)
            teeth_done = True
    passes = 1 + max(r["pass"] for r in runs)
    layers = {}
    if a.trace:
        layers["queries.driver_ms"] = sum(r.get("driver_ms", 0) for r in runs) / passes
        for q in TOP_QUERIES:
            layers[f"queries.top.{q}_ms"] = statistics.median(times.get(q, [0.0]))
    timed_s = sum(map(sum, times.values())) / 1000
    pass_s = [sum(r["end_ms"] - r["start_ms"] for r in runs if r["pass"] == k) / 1000
              for k in range(passes)]
    summary = (f"{passes} passes of {len(runs) // passes} queries, {timed_s:.2f} s timed "
               f"({' '.join(f'{x:.2f}' for x in pass_s)} per pass); "
               "median ms: " + " ".join(f"{q} {statistics.median(ts):.0f}"
                                        for q, ts in sorted(times.items())))
    # each query weighs the same, however many passes the window held: the
    # latencies are the per-query medians over the passes
    return dict(res=res, problems=problems, attempted=len(runs), failed=failed,
                latencies=[statistics.median(ts) for ts in times.values()], per=passes,
                summary=summary, layers=layers,
                setup_s=res["first_timed_ms"] / 1000.0 - t_setup0)


WORKLOADS = {"stream_live": stream_live, "batch_queries": batch_queries}


def end_to_end(r):
    lat = r["latencies"]
    return {"latency_p50_ms": (statistics.median(lat), "ms"),
            "setup_s": (r["setup_s"], "s"),
            "peak_rss_mb": (r["res"]["peak_rss_mb"], "MB")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    cp = build(root)
    t_setup0 = time.time()
    work = os.path.join(root, WORK_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = WORKLOADS[a.workload](a, cp, work, t_setup0)
        for p in r["problems"]:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        print(f"perfbench: {a.workload} seed {a.seed}: {r['summary']}", file=sys.stderr)
        if a.trace:
            counters = r["res"]["trace"]["counters"]
            values = {}
            for name in PER_LAYER:
                v = r["layers"].get(name, counters.get(name, 0.0))
                values[name] = v / r["per"] if name in PER_ROUND else v
            os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
            with open(os.path.join(root, OUT_DIR, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "metrics": values,
                           "end_to_end_traced": end_to_end(r), "trace": r["res"]["trace"]}, f)
            metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in values.items()}
        else:
            metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in end_to_end(r).items()}
        print(json.dumps({"correct": not r["problems"], "attempted": r["attempted"],
                          "failed": r["failed"], "metrics": metrics}))
    finally:
        for p in STARTED:
            if p.poll() is None:
                p.kill()
                p.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
