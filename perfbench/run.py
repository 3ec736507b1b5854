#!/usr/bin/env python3
"""graft's benchmark: one command runs a named workload with a seed.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

It builds graft and the benchmark driver from source (sbt, offline),
generates the inputs from the seed, runs the workload in one JVM
(`perfbench.Main`), checks every distinct answer against DuckDB and
prints the metrics. The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics for `--trace 0` and the per-layer metrics for `--trace 1`.
A traced run also writes every span, the per-layer self times and the
tracing overhead to `perfbench/.work/traces/<workload>-<seed>.json`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics as M  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# The reference's endpoint surface (SURVEY §2.1) plus q_geo_distance;
# q_paginate and q_search are sent as seeded Pagination.page /
# Search.search calls instead of their fixed bound forms.
SERVE_QUERIES = [
    "q_years", "q_count_by_group", "q_filter_by_token", "q_monthly_posted",
    "q_yearly_posted", "q_monthly_shipped", "q_yearly_shipped", "q_month_in_year",
    "q_hourly_posted", "q_hourly_by_type", "q_avg_value_by_year",
    "q_avg_items_by_year", "q_status_distribution", "q_avg_time_to_ship",
    "q_first_order_cohort", "q_value_stats", "q_priority_stats",
    "q_size_distribution", "q_top_words", "q_user_count", "q_owner_leaderboard",
    "q_top50_owners", "q_top_brands_models", "q_top_brands_per_year",
    "q_geo_distance"]
# The batch workload: the dedup, ANN, graph and ML jobs, collected, and
# the ETL jobs of the reference's data_cleaner.py path, each written
# through Tables.writeParquet and read back; `upsert_orders` applies a
# generated change set over `orders`.
ML_JOBS = ["q_dedup_clusters", "q_minhash_pairs", "q_lsh_cosine_pairs",
           "q_ngram_jaccard", "q_ann_topk", "q_pagerank", "q_naive_bayes", "q_kmeans"]
ETL_JOBS = ["q_clean_pipeline", "q_impute_defaults", "q_dedup_exact", "q_upsert",
            "q_scd2", "upsert_orders"]

# Input sizes per workload: relational scale, documents/embeddings scale.
# `setups`: set-ups per run, of which setup_s takes the median (a serve
# set-up warms the tables, a batch one only starts the session).
WORKLOADS = {
    "serve": {"scale": 0.1, "doc_scale": 0.1, "clients": 2, "warm": True, "setups": 3},
    "batch": {"scale": 0.01, "doc_scale": 0.02, "clients": 1, "warm": False, "setups": 9},
}
ROUND = len(SERVE_QUERIES) + 2  # request types in one round of the serve stream


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_quiet(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    """The installed Spark: SPARK_HOME, else the one `spark-submit` on the
    PATH belongs to. Its jars are the classpath of the build and the run."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            sys.exit("perfbench: no Spark found (set SPARK_HOME)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def build():
    """Compile graft and the driver unless the classes match the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        sys.exit("perfbench: graft sources (src/main/scala/graft) not found")
    classes = os.path.join(HERE, "target/scala-2.13/classes")
    stamp = os.path.join(WORK, "build.stamp")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.isdir(classes):
        return classes
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Offline, with sbt's own state and every temporary file kept inside
    # the checkout (the toolchain's caches under ~ are only read).
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp, SPARK_HOME=spark_home(),
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
           "-Dsbt.global.base=" + os.path.join(WORK, "sbt-global"),
           "-Dsbt.server.forcestart=false", "-Dsbt.server.autostart=false",
           f"-Djna.tmpdir={tmp}", "compile"]
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        rc = run_quiet(cmd, 850, cwd=HERE, env=env, stdout=logf, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"perfbench: build failed (see {WORK}/build.log)")
    with open(stamp, "w") as f:
        f.write(want)
    return classes


def jvm_cmd(classes, run_json):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xmx2g", "-Xms2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(run_json)}",
           f"-Dderby.system.home={os.path.dirname(run_json)}"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_home()}/jars/*", "perfbench.Main", run_json]
    return cmd


def cores():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v[:8])


def cpu_probe_ms():
    """Best of three timings of a fixed single-threaded loop: how fast the
    host runs plain CPU work at this moment."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- checks

def oracle_sql(op, oracles):
    """The DuckDB SQL an operation's answer must equal (None if graft
    has no oracle for it, which fails the check)."""
    kind = op["kind"]
    if kind == "page":
        return (f"SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer "
                f"ORDER BY c_custkey LIMIT {op['size']} OFFSET {(op['page'] - 1) * op['size']}")
    if kind == "search":
        kw = op["keyword"].lower().replace("'", "''")
        brands = ", ".join(f"'{b}'" for b in op["brands"])
        return ("SELECT p_partkey AS partkey, p_name AS name, p_brand AS brand, "
                "p_type AS ptype, p_retailprice AS price FROM part "
                f"WHERE (contains(lower(p_name), '{kw}') OR contains(lower(p_type), '{kw}') "
                f"OR p_brand IN ({brands})) AND p_retailprice BETWEEN "
                f"CAST('{op['lo']!r}' AS DOUBLE) AND CAST('{op['hi']!r}' AS DOUBLE)")
    if op["id"] == "upsert_orders":
        return """
          WITH latest AS (
            SELECT key, price_c FROM (
              SELECT key, price_c, row_number() OVER (PARTITION BY key
                       ORDER BY version DESC, seq DESC) AS rn FROM changes) WHERE rn = 1),
          base AS (SELECT o_orderkey AS key,
                          CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c FROM orders)
          SELECT coalesce(l.key, b.key) AS key,
                 CASE WHEN l.key IS NOT NULL THEN l.price_c ELSE b.price_c END AS price_c,
                 CASE WHEN l.key IS NOT NULL AND b.key IS NOT NULL THEN 'U'
                      WHEN l.key IS NOT NULL THEN 'I' ELSE 'K' END AS op
          FROM base b FULL OUTER JOIN latest l ON b.key = l.key"""
    return oracles.get(op["id"])


def check_answers(data, out, distinct, check_ops):
    """Check each distinct operation's first answer once. Returns
    {id: {"rows", "error"}}."""
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES + (["changes"] if os.path.exists(f"{data}/changes.parquet") else []):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    by_id = {op["id"]: op for op in check_ops}
    checks = {}
    for spec in distinct:
        op = by_id.get(spec["id"])
        res = {"rows": None, "error": None}
        checks[spec["id"]] = res
        if op is None or op["error"]:
            res["error"] = op["error"] if op else "not run"
            continue
        res["rows"] = op["rows"]
        path = os.path.join(out, "checks", spec["id"] + ".jsonl")
        spark_rows = [json.loads(l) for l in open(path) if l.strip()] if os.path.exists(path) else []
        sql = oracle_sql(spec, oracles)
        if sql is None:
            res["error"] = "no oracle SQL"
            continue
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            res["error"] = M.compare(spark_rows, cols, cur.fetchall())
        except duckdb.Error as e:
            res["error"] = f"oracle error: {e}"
    con.close()
    return checks


# ---------------------------------------------------------------- metrics

def op_latencies(ops):
    return [op["end"] - op["start"] for op in ops]


def passes(ops, n_jobs):
    """Split one phase's operations (run in order by one client) into
    passes over the job list; a pass's time is the sum of its jobs'."""
    return [ops[i:i + n_jobs] for i in range(0, len(ops), n_jobs)]


def pass_ms(p):
    return sum(op_latencies(p))


def full_rounds(ops, round_len):
    """The requests of the stream's complete rounds: the stream is rounds
    of one permutation of every request type each, so statistics over
    whole rounds see the same mix whatever the seed. Falls back to every
    request when not even one round completed."""
    seqs = {op["seq"] for op in ops}
    k = 0
    while all(i in seqs for i in range(k * round_len, (k + 1) * round_len)):
        k += 1
    return [op for op in ops if op["seq"] < k * round_len] if k else ops


def end_to_end(res, workload, ops, n_jobs, checks):
    setup = statistics.median(res["setup_s"]) + res["warmup_s"]
    if workload == "serve":
        ops = full_rounds(ops, ROUND)
        p50 = M.median(op_latencies(ops))
        phase_start = res["phases"][0]["start"]
        secs = (max(op["end"] for op in ops) - phase_start) / 1000.0
    else:
        lat = [pass_ms(p) for p in passes(ops, n_jobs)]
        p50 = M.median(lat)
        secs = sum(lat) / 1000.0
    thr = (len(ops) - M.count_failures(ops, checks)) / secs
    return {
        "setup_s": {"value": setup, "unit": "s"},
        "latency_p50_ms": {"value": p50, "unit": "ms"},
        "throughput_per_s": {"value": thr, "unit": "1/s"},
        "peak_live_mb": {"value": res["peak_live_bytes"] / 2**20, "unit": "MB"},
    }


def summary(workload, ops, n_jobs):
    """Figures that exist for one workload only: printed, not gated."""
    out = {}
    if workload == "serve":
        lat = op_latencies(ops)
        out["requests"] = len(lat)
        out["requests_in_full_rounds"] = len(full_rounds(ops, ROUND))
        try:
            out["latency_p90_ms"] = M.tail_percentile(lat, 90)
        except M.TooFewSamples as e:
            out["latency_p90_ms"] = f"refused: {e}"
    else:
        ps = passes(ops, n_jobs)
        out["passes"] = len(ps)
        out["pass_s"] = M.median([pass_ms(p) / 1000.0 for p in ps])
    return out


PER_LAYER = [
    ("sources.warm_s", "s"), ("sources.tables_cached", "count"), ("sources.cached_bytes", "B"),
    ("sources.scan_bytes", "B"), ("sources.scan_rows", "count"), ("plans.cache_scans", "count"),
    ("sources.write_s", "s"), ("sources.write_bytes", "B"), ("sources.write_files", "count"),
    ("sources.write_bytes_per_input_byte", "ratio"),
    ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"),
    ("plans.exchanges", "count"), ("plans.broadcast_exchanges", "count"),
    ("plans.broadcast_bytes", "B"), ("plans.smj", "count"), ("plans.wscg_stages", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_cpu_s", "s"), ("exec.task_run_s", "s"), ("exec.gc_s", "s"),
    ("exec.cpu_util", "ratio"), ("exec.shuffle_write_bytes", "B"),
    ("exec.shuffle_read_bytes", "B"), ("exec.shuffle_records", "count"),
    ("exec.spill_bytes", "B"), ("exec.task_wait_ms", "ms"), ("driver.gap_ms", "ms"),
    ("cachescope.persisted_bytes_peak", "B"), ("cachescope.release_ms", "ms"),
    ("trace.overhead", "ratio"),
]
# Self time per unit of work of each span kind: its duration minus the
# part its child spans cover. `request` is the driver-side glue around
# the layer calls; `exec.job` spans hang under the layer span in which
# each job started.
SPAN_NAMES = ["request", "queries.build", "plans.plan", "exec.collect", "sources.write",
              "sources.read", "cachescope.release", "exec.job"]
PER_LAYER += [(f"self.{n}_ms", "ms") for n in SPAN_NAMES]


def trace_spans(ops, groups):
    """Spans of the traced phase: one root per operation (named after
    the workload's unit), its layer children, and `exec.job` spans under
    the child in which each job started."""
    spans = []
    for op in ops:
        root = f"{op['group']}"
        spans.append({"id": root, "parent": None, "name": "request", "op": op["id"],
                      "start": op["start"], "end": op["end"]})
        kids = []
        for i, (name, s, e) in enumerate(op["spans"]):
            sid = f"{root}/{i}"
            kids.append((sid, s, e))
            spans.append({"id": sid, "parent": root, "name": name, "op": op["id"],
                          "start": s, "end": e})
        for jid, s, e in groups.get(op["group"], {}).get("jobs", []):
            parent = next((k for k, ks, ke in kids if ks <= s <= ke), root)
            spans.append({"id": f"{root}/job{jid}", "parent": parent, "name": "exec.job",
                          "op": op["id"], "start": float(s), "end": float(max(e, s))})
    return spans


def per_layer(res, workload, traced_ops, reference_ops, n_jobs):
    groups = res["groups"]
    cores = res["cores"]

    def g(op, k):
        return groups.get(op["group"], {}).get(k, 0)

    def span_ms(op, name):
        return sum(e - s for n, s, e in op["spans"] if n == name)

    def build_jobs(op):
        b = [(s, e) for n, s, e in op["spans"] if n == "queries.build"]
        return sum(1 for _, js, _ in g(op, "jobs") or [] if any(s <= js <= e for s, e in b))

    per_op = {
        "sources.write_s": lambda op: span_ms(op, "sources.write") / 1000.0,
        "sources.write_bytes": lambda op: op["write_bytes"],
        "sources.write_files": lambda op: op["write_files"],
        "queries.build_ms": lambda op: span_ms(op, "queries.build"),
        "queries.build_jobs": build_jobs,
        "exec.jobs": lambda op: len(g(op, "jobs") or []),
        "exec.stages": lambda op: g(op, "stages"),
        "exec.tasks": lambda op: g(op, "tasks"),
        "exec.task_cpu_s": lambda op: g(op, "cpu_ns") / 1e9,
        "exec.task_run_s": lambda op: g(op, "run_ms") / 1000.0,
        "exec.gc_s": lambda op: g(op, "gc_ms") / 1000.0,
        "exec.shuffle_write_bytes": lambda op: g(op, "shuffle_write"),
        "exec.shuffle_read_bytes": lambda op: g(op, "shuffle_read"),
        "exec.shuffle_records": lambda op: g(op, "shuffle_records"),
        "exec.spill_bytes": lambda op: g(op, "spill"),
        "driver.gap_ms": lambda op: M.driver_gap(op["start"], op["end"],
                                                 [(s, e) for _, s, e in g(op, "jobs") or []]),
        "cachescope.release_ms": lambda op: span_ms(op, "cachescope.release"),
    }
    plan_keys = {"plans.cache_scans": "cache_scans", "sources.scan_bytes": "scan_bytes",
                 "sources.scan_rows": "scan_rows"}
    plan_keys.update({"plans." + k: k for k in [
        "analysis_ms", "optimization_ms", "planning_ms", "exchanges",
        "broadcast_exchanges", "broadcast_bytes", "smj", "wscg_stages"]})
    for name, key in plan_keys.items():
        per_op[name] = (lambda k: lambda op: (op["plan"] or {}).get(k, 0))(key)

    # Unit of aggregation: a request (serve) or a pass (batch).
    units = [[op] for op in traced_ops] if workload == "serve" else passes(traced_ops, n_jobs)
    out = {}
    for name, fn in per_op.items():
        vals = [sum(fn(op) for op in u) for u in units]
        out[name] = statistics.fmean(vals)
    out["cachescope.persisted_bytes_peak"] = max(op["persisted_bytes"] for op in traced_ops)
    tasks = sum(g(op, "tasks") for op in traced_ops)
    out["exec.task_wait_ms"] = (sum(g(op, "wait_ms") for op in traced_ops) / tasks) if tasks else 0.0
    # Task CPU over the wall time of the traced phase times the cores.
    ph = next(p for p in res["phases"] if p["phase"] == "traced")
    wall = (ph["end"] - ph["start"]) / 1000.0
    out["exec.cpu_util"] = (sum(g(op, "cpu_ns") for op in traced_ops) / 1e9) / (wall * cores)
    w = res["warm"]
    out["sources.warm_s"] = w["warm_s"]
    out["sources.tables_cached"] = w["tables_cached"]
    out["sources.cached_bytes"] = w["cached_bytes"]
    written = sum(op["write_bytes"] for op in traced_ops)
    read = sum(per_op["sources.scan_bytes"](op) for op in traced_ops)
    out["sources.write_bytes_per_input_byte"] = written / read if read else 0.0
    # Tracing overhead: the traced median unit latency over the untraced one.
    if workload == "serve":
        t, u = M.median(op_latencies(traced_ops)), M.median(op_latencies(reference_ops))
    else:
        t = M.median([pass_ms(p) for p in passes(traced_ops, n_jobs)])
        u = M.median([pass_ms(p) for p in passes(reference_ops, n_jobs)])
    out["trace.overhead"] = t / u - 1.0
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="how long serve measures; batch runs one cold pass whatever it says")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # A terminated run still stops its JVM (run_quiet kills the group).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = WORKLOADS[args.workload]
    context = {"nproc": cores(), "loadavg_start": loadavg(), "git_commit": git_commit()}
    ticks0 = cpu_ticks()
    context["cpu_probe_ms_start"] = cpu_probe_ms()

    classes = build()
    context["source_hash"] = source_hash()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(out, exist_ok=True)
    try:
        sizes = datagen.generate_tables(data, args.seed, wl["scale"], wl["doc_scale"])
        cfg = {"workload": args.workload, "data": data, "out": out, "cpus": context["nproc"],
               "seconds": args.seconds, "trace": bool(args.trace), "clients": wl["clients"],
               "warm": wl["warm"], "setups": wl["setups"]}
        rng_jobs = np.random.default_rng([args.seed, 4])
        if args.workload == "serve":
            reqs = datagen.serve_requests(args.seed, SERVE_QUERIES, 20000, pool=4)
            cfg.update(reqs)
            distinct = reqs["distinct"]
        else:
            jobs = ML_JOBS + ETL_JOBS
            cfg["jobs"] = [jobs[i] for i in rng_jobs.permutation(len(jobs))]
            cfg["writes"] = ETL_JOBS
            distinct = [{"id": j, "kind": "query"} for j in cfg["jobs"]]
            share = float(rng_jobs.uniform(0.3, 0.7))
            sizes.update(datagen.change_set(data, args.seed, sizes["orders"],
                                            sizes["orders"] // 10, share))
        run_json = os.path.join(run_dir, "run.json")
        with open(run_json, "w") as f:
            json.dump(cfg, f)

        t0 = time.time()
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            rc = run_quiet(jvm_cmd(classes, run_json), 165, cwd=run_dir,
                           env=dict(os.environ, TMPDIR=run_dir), stdout=jlog,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
            tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
            log(tail)
            sys.exit(f"perfbench: JVM exited with {rc}")
        log(f"perfbench: JVM ran {time.time() - t0:.1f} s")
        res = json.load(open(os.path.join(out, "result.json")))

        ops = res["ops"]
        check_ops = [op for op in ops if op["checked"]]
        checks = check_answers(data, out, distinct, check_ops)
        for cid, c in checks.items():
            if c["error"]:
                log(f"perfbench: WRONG {cid}: {c['error']}")
        phase = {k: [op for op in ops if op["phase"] == k]
                 for k in ("untraced", "reference", "traced")}
        n_jobs = len(distinct)
        failed = M.count_failures(ops, checks)
        context["loadavg_end"] = loadavg()
        context["cpu_probe_ms_end"] = cpu_probe_ms()
        # The share of CPU time the hypervisor gave to others during the
        # run: a run on a busy host shows here.
        ticks1 = cpu_ticks()
        context["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        context.update({"heap_bytes": res["heap_bytes"], "cores_used": res["cores"],
                        "inputs": sizes, "setup_runs_s": res["setup_s"],
                        "peak_live_heap_mb": res["peak_live_heap_bytes"] / 2**20,
                        "warmup_s": res["warmup_s"]})
        info = summary(args.workload, phase["untraced"], n_jobs)
        info["fail_ratio"] = M.fail_ratio(len(ops), failed)
        info["checked"] = {"distinct": len(checks),
                           "wrong": sorted(k for k, c in checks.items() if c["error"])}
        print(json.dumps({"context": context}))
        print(json.dumps({"workload": args.workload, "seed": args.seed, **info}))
        if args.trace:
            traced = phase["traced"]
            reference = phase["untraced" if args.workload == "serve" else "reference"]
            layers = per_layer(res, args.workload, traced, reference, n_jobs)
            spans = trace_spans(traced, res["groups"])
            n_units = len(traced) if args.workload == "serve" else len(passes(traced, n_jobs))
            selft = M.self_times(spans)
            layers.update({f"self.{n}_ms": selft.get(n, 0.0) / n_units for n in SPAN_NAMES})
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tpath = os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json")
            with open(tpath, "w") as f:
                json.dump({"context": context, "per_layer": layers,
                           "tracing_overhead": layers["trace.overhead"],
                           "groups": res["groups"], "spans": spans}, f)
            print(json.dumps({"units_traced": n_units,
                              "tracing_overhead": layers["trace.overhead"],
                              "trace_file": os.path.relpath(tpath, ROOT)}))
            unit = dict(PER_LAYER)
            result_metrics = {k: {"value": layers[k], "unit": unit[k]} for k, _ in PER_LAYER}
        else:
            result_metrics = end_to_end(res, args.workload, phase["untraced"], n_jobs, checks)
        print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                          "metrics": result_metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
