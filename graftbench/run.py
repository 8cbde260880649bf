#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed) run.

    python3 graftbench/run.py --workload medallion_etl --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. The first run builds the harness and
graft's main sources with sbt (graftbench/build.sbt); later runs reuse
the build while the sources are unchanged. Each run generates (or
reuses) the seeded inputs, starts one JVM at local[nproc], sets the
workload up, measures timed iterations for --seconds, checks every
output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
See graftbench/README.md for the workloads and metric definitions.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Workload input sizes (gen.py --size).
SIZES = {"medallion_etl": 0.5, "corpus_build": 2, "query_serve": 0.05}
# A batch user waits for the whole run, a client for each request.
BATCH = {"medallion_etl", "corpus_build"}
# The tables each query_serve request reads, for input rows and bytes.
REQUEST_TABLES = {
    "q1_agg": ["lineitem"],
    "q5_multi_join": ["lineitem", "orders", "customer", "supplier",
                      "nation", "region"],
    "q7_window": ["orders"],
    "pq": ["embeddings"],
    "text_bm25": ["documents"],
    "graph_pagerank": ["orders", "lineitem"],
}
CLASSES = ["sql", "graph", "knn", "text"]
JVM_DEADLINE_S = 165


def die(msg: str, code: int = 2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def sources() -> list:
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build() -> str:
    """Compile once per source state; return the harness classes dir."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "graftbench.stamp")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "compile"], cwd=HERE, stdout=fh,
                            stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"build failed (sbt exit {rc}), log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


# ------------------------------------------------------------------ checks

def spark_value(v):
    if isinstance(v, dict) and "ts_us" in v:
        return v["ts_us"]
    if isinstance(v, dict) and "dec" in v:
        return decimal.Decimal(v["dec"])
    if isinstance(v, list):
        return [spark_value(x) for x in v]
    return v


def duck_value(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return round(v.timestamp() * 1_000_000)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return [duck_value(x) for x in v]
    return v


def same_table(spark: dict, con, sql: str) -> str:
    """'' when the Spark answer equals the oracle's (columns matched by
    name, rows in the oracle's ORDER BY order), else a reason."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    if sorted(cols) != sorted(spark["columns"]):
        return f"columns {spark['columns']} != oracle {cols}"
    if len(rows) != len(spark["rows"]):
        return f"{len(spark['rows'])} rows != oracle {len(rows)}"
    if not rows:
        return "empty answer"
    pos = [spark["columns"].index(c) for c in cols]
    for i, (o, s) in enumerate(zip(rows, spark["rows"])):
        got = [spark_value(s[p]) for p in pos]
        want = [duck_value(x) for x in o]
        if got != want:
            return f"row {i}: {got} != oracle {want}"
    return ""


def copurchase_components(con) -> dict:
    """node -> min node id of its component over the co-purchase graph
    (customer 2c, supplier 2s+1), by union-find."""
    edges = con.execute(
        "SELECT DISTINCT o_custkey * 2, l_suppkey * 2 + 1 FROM orders "
        "JOIN lineitem ON o_orderkey = l_orderkey").fetchall()
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_owed(res: dict, data: str, work: str) -> dict:
    """key -> '' (ok) or a reason, for every answer the JVM left to DuckDB."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{work}/duckdb'")
    con.execute("SET threads = 4")
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{data}/{f}')")
    verdict = {}
    for key, answer in res["owed"].items():
        base = key.split("#")[0]
        if base == "recall_at_k":
            continue
        if base == "copurchase_cc":
            comp = copurchase_components(con)
            got = {r[0]: r[1] for r in answer["rows"]}
            verdict[key] = "" if got == comp else "components differ from union-find"
        elif base in res["oracle_sql"]:
            verdict[key] = same_table(answer, con, res["oracle_sql"][base])
        else:
            verdict[key] = "no oracle"
    return verdict


# ------------------------------------------------------------------ metrics

def percentile(xs: list, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))] if s else 0.0


def table_stats(manifest: dict) -> dict:
    return {k[:-8]: v for k, v in manifest["inputs"].items()
            if k.endswith(".parquet")}


def iteration_input(workload: str, manifest: dict, ops: list) -> tuple:
    """(rows, bytes) of input one iteration consumes."""
    inputs = manifest["inputs"]
    if workload == "medallion_etl":
        raw = [v for k, v in inputs.items() if k.startswith("raw/")]
        return sum(v["rows"] for v in raw), sum(v["bytes"] for v in raw)
    if workload == "corpus_build":
        d = inputs["documents.parquet"]
        return d["rows"], d["bytes"]
    tables = table_stats(manifest)
    first = [op for op in ops if op["iteration"] == 0]
    reads = [t for op in first for t in REQUEST_TABLES[op["key"]]]
    return (sum(tables[t]["rows"] for t in reads),
            sum(tables[t]["bytes"] for t in reads))


def latencies(res: dict, workload: str) -> list:
    """Untraced request latencies in ms. A batch user waits for the
    whole run, a client for each request."""
    if workload in BATCH:
        return [w * 1000 for w in res["walls"]]
    return [op["ms"] for op in res["ops"] if not op["traced"]]


def end_to_end(res: dict, workload: str, manifest: dict) -> tuple:
    walls = res["walls"]
    wall = statistics.median(walls)
    rows, nbytes = iteration_input(workload, manifest, res["ops"])
    lat = latencies(res, workload)
    p90 = percentile(lat, 90)
    m = {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "input_rows_per_s": (rows / wall, "1/s"),
        "bytes_written_per_input_byte":
            (sum(res["bytes_written"]) / (nbytes * len(walls)), "ratio"),
        "req_per_s": (len(lat) / sum(walls), "1/s"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB"),
    }
    context = {"requests": len(lat),
               "requests_beyond_p90": sum(1 for x in lat if x > p90),
               "iterations": len(walls)}
    return m, context


def per_layer(res: dict, workload: str) -> dict:
    m = {}
    units = {"calls": "count", "jobs": "count", "self_s": "s", "task_s": "s",
             "driver_idle_s": "s"}
    for k, v in res["layers"].items():
        metric = k.rsplit(".", 1)[1]
        unit = units.get(metric, "MB" if metric.endswith("_mb") else
                         "s" if metric.endswith("_s") else
                         "ratio" if metric.endswith("ratio") else "count")
        m[k] = (v, unit)
    recall = res["owed"].get("recall_at_k")
    m["operators.Similarity.recall_at_k"] = (
        recall["rows"][0][0] if recall else 0.0, "ratio")
    m["trace.overhead_ratio"] = (
        statistics.median(res["traced_walls"]) / statistics.median(res["walls"]),
        "ratio")
    untraced = [op for op in res["ops"] if not op["traced"]]
    for c in CLASSES:
        lat = [op["ms"] for op in untraced if op["cls"] == c]
        m[f"{c}_p50_ms"] = (statistics.median(lat) if lat else 0.0, "ms")
    # per layer rather than end to end: over one round of six requests
    # these are single requests, too unsteady to gate on
    lat = latencies(res, workload)
    m["req_p50_ms"] = (statistics.median(lat), "ms")
    m["req_p90_ms"] = (percentile(lat, 90), "ms")
    return m


# ------------------------------------------------------------------ main

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not next to the "
            "benchmark directory; run from a full checkout")
    classes = build()
    started = time.time()
    import gen

    size = SIZES[a.workload]
    data = os.path.join(HERE, ".work", "data", f"{a.workload}-s{a.seed}-z{size}")
    manifest = gen.generate(a.workload, a.seed, size, data)

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    nproc = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_TMP=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    jars = os.path.join(env.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    out = os.path.join(work, "result.json")
    traces = os.path.join(HERE, ".work", "traces")
    os.makedirs(traces, exist_ok=True)
    # A fixed, pre-touched heap: no resizing mid-run, and a peak RSS
    # that moves with the run's own memory rather than with when the
    # collector chose to grow. No hsperfdata file: a run writes only
    # inside its checkout.
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", *opens, "-cp", f"{classes}:{jars}",
           "graftbench.Main", "--workload", a.workload, "--data", data,
           "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--seed", str(a.seed), "--cpus", str(nproc), "--out", out,
           "--trace-out", os.path.join(traces, f"{a.workload}-s{a.seed}.json")]
    load_before = os.getloadavg()
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_DEADLINE_S - (time.time() - started))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    load_after = os.getloadavg()
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        die(f"harness JVM failed ({rc})", 1)
    with open(out) as fh:
        res = json.load(fh)

    verdict = check_owed(res, data, work)
    failed = 0
    for op in res["ops"]:
        ok = op["ok"]
        if ok is None:
            owed = (f"{op['key']}#{op['iteration']}"
                    if a.workload == "corpus_build" else op["key"])
            ok = verdict.get(owed) == "" and (
                op["key"] != "graph_pagerank" or verdict.get("copurchase_cc") == "")
        failed += not ok
    problems = res["failures"] + [f"{k}: {v}" for k, v in verdict.items() if v]
    for p in problems:
        print(f"graftbench: check failed: {p}", file=sys.stderr)

    if a.trace:
        metrics = per_layer(res, a.workload)
        context = {}
    else:
        metrics, context = end_to_end(res, a.workload, manifest)
    context.update({"workload": a.workload, "seed": a.seed, "nproc": nproc,
                    "heap_max_mb": round(res["heap_max_mb"]),
                    "loadavg_before": load_before, "loadavg_after": load_after,
                    "spark": res["spark_version"], "trace": a.trace})
    print(json.dumps({"context": context}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": len(res["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
