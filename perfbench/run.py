#!/usr/bin/env python3
"""Closed-loop benchmark of the cookbook pipelines, checked against DuckDB.

Run from the repository root:

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 10 --trace 0

It builds the program and the harness from source and computes each
pipeline's oracle answer in DuckDB from the registry's own oracle SQL, both
once per source state. The inputs are the sf 0.001 synthetic corpus kept in
perfbench/data/sf0.001 (checked against its SHA256SUMS); the seed sets only
the order of the pipelines within each iteration. It then runs the JVM
harness: one warm-up iteration, then iterations for --seconds, every result
checked against the oracle, then the live heap after a settled full GC.
With --trace 1 the same run also records spans and Spark listener counters
and reports per-layer metrics.

stdout ends with two lines: the full record (environment stamp included) and
the result object {"correct", "attempted", "failed", "metrics"}. The exit
code is 0 only when every result matched its oracle. `--self-test` runs the
harness's own unit tests instead. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.001")

LIFECYCLE = ["q_market_pipeline", "q_network_pipeline", "q_screener_pipeline",
             "q_report_pipeline"]
CORPUS = ["q_corpus_pipeline", "q_dup_clusters", "q_cc_chain", "q_ngram_jaccard"]
WORKLOADS = {
    "lifecycle": {"fact": "lineitem", "queries": LIFECYCLE},
    "corpus_dedup": {"fact": "documents", "queries": CORPUS},
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HEAP = "3g"
# A run must end within 180 s; this leaves time to report.
RUN_LIMIT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (the root build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in ["build.sbt", "project", "src/main", "perfbench/harness",
                "perfbench/data/sf0.001/SHA256SUMS"]:
        base = os.path.join(root, top)
        found = [base] if os.path.isfile(base) else [
            os.path.join(d, f) for d, _, files in os.walk(base) for f in files]
        for p in sorted(found):
            rel = os.path.relpath(p, root)
            parts = rel.split(os.sep)
            if "target" in parts or parts.count("project") > 1:
                continue
            if p.endswith((".scala", ".sbt", ".properties", ".java", "SHA256SUMS")):
                h.update(rel.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def sbt(root, command, timeout):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", command],
        cwd=os.path.join(root, "perfbench", "harness"), env=env, timeout=timeout,
        stdout=subprocess.PIPE, stderr=sys.stderr, text=True)


def java(classpath, args, work, timeout):
    # C1 only (-XX:TieredStopAtLevel=1): a run is one short-lived driver that
    # never reaches C2's steady state, and C1 cuts the cold first iteration by
    # about a quarter on a 4-core box. C1 alone reserves a 48 MB code cache,
    # which Spark's generated code fills within a run (the JIT then stops and
    # later iterations run interpreted), so the cache gets the size tiered
    # compilation would have reserved.
    cmd = ["java", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    return subprocess.run(cmd, timeout=timeout, stdout=sys.stderr, stderr=sys.stderr)


def build(root, state):
    """Compile program + harness and compute the oracle answers, once per
    source state; returns the stamp."""
    stamp_path = os.path.join(state, "build.json")
    digest = source_hash(root)
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            stamp = json.load(f)
        if stamp["source_hash"] == digest:
            return stamp
    log("building program and harness with sbt")
    t = time.time()
    out = sbt(root, "export Runtime / fullClasspath", timeout=600)
    lines = [x for x in out.stdout.splitlines() if x.strip() and not x.startswith("[")]
    if out.returncode != 0 or not lines:
        fail(f"sbt build failed (exit {out.returncode})")
    classpath = lines[-1].strip()
    sql_path = os.path.join(state, "oracle_sql.json")
    r = java(classpath, ["oracle-sql", "--queries", ",".join(LIFECYCLE + CORPUS),
                         "--out", sql_path], state, timeout=120)
    if r.returncode != 0:
        fail("could not read the registry's oracle SQL")
    build_s = time.time() - t
    t = time.time()
    with open(sql_path) as f:
        oracle(os.path.join(state, "oracle"), json.load(f))
    stamp = {"source_hash": digest, "classpath": classpath, "build_s": build_s,
             "oracle_s": time.time() - t}
    with open(stamp_path, "w") as f:
        json.dump(stamp, f)
    return stamp


# DuckDB 1.0 pushes a filter of this query's label CTE below the
# provider/adopter join, which re-runs the masking lambdas per joined pair and
# takes minutes; without that rewrite it takes seconds. Results are the same.
ORACLE_SETTINGS = {"q_network_pipeline": "SET disabled_optimizers = 'filter_pushdown'"}


def oracle(out_dir, sqls):
    """Write each query's DuckDB answer over the inputs to
    out_dir/<query>.parquet."""
    import duckdb
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    for name, sql in sqls.items():
        con.execute(ORACLE_SETTINGS.get(name, "RESET disabled_optimizers"))
        body = sql.strip().rstrip(";")
        con.execute(f"COPY ({body}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
    con.close()


def check_inputs():
    """The inputs must be the corpus their SHA256SUMS names, byte for byte."""
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f if line.strip())
    if sorted(sums) != sorted(f"{t}.parquet" for t in TABLES):
        fail("perfbench/data/sf0.001/SHA256SUMS does not list the ten tables")
    for name, digest in sums.items():
        with open(os.path.join(DATA, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                fail(f"perfbench/data/sf0.001/{name} does not match SHA256SUMS")


def read_text(path):
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def git_sha(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, timeout=10,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    for tool in ["sbt", "java"]:
        if shutil.which(tool) is None:
            fail(f"{tool} not on PATH")
    if a.self_test:
        r = sbt(root, "test", timeout=600)
        print(r.stdout)
        sys.exit(r.returncode)
    if a.workload is None:
        fail("--workload is required")

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    state = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(state, "work")
    records = os.path.join(state, "records")
    os.makedirs(records, exist_ok=True)
    check_inputs()
    stamp = build(root, state)
    t_start = time.time()

    rows = {t: pq.read_metadata(os.path.join(DATA, f"{t}.parquet")).num_rows for t in TABLES}
    w = WORKLOADS[a.workload]
    shutil.rmtree(work, ignore_errors=True)

    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_path = os.path.join(work, "record.json")
    args = ["run", "--inputs", DATA, "--oracle", os.path.join(state, "oracle"),
            "--queries", ",".join(w["queries"]),
            "--all-queries", ",".join(LIFECYCLE + CORPUS), "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--fact-rows", str(rows[w["fact"]]),
            "--scratch", work, "--out", out_path,
            "--spans", os.path.join(records, f"spans-{tag}.jsonl")]
    budget = RUN_LIMIT_S - (time.time() - t_start)
    try:
        r = java(stamp["classpath"], args, work, timeout=max(budget, 10))
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S} s", code=3)
    if r.returncode != 0 or not os.path.exists(out_path):
        fail(f"harness exited {r.returncode} without a record", code=3)
    with open(out_path) as f:
        rec = json.load(f)

    rec["env"].update({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "nproc": cores, "driver_memory": HEAP, "git_sha": git_sha(root),
        "boot_id": read_text("/proc/sys/kernel/random/boot_id"),
        "tables": {t: {"rows": rows[t], "bytes": os.path.getsize(
            os.path.join(DATA, f"{t}.parquet"))} for t in TABLES},
        "oracle_s": stamp["oracle_s"], "build_s": stamp["build_s"],
        "source_hash": stamp["source_hash"]})
    if a.trace:
        metrics = {m["name"]: {"value": m["value"], "unit": m["unit"]} for m in rec["per_layer"]}
        base = os.path.join(records, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                rec["trace_overhead_s"] = rec["iter_s.p50"] - json.load(f)["iter_s.p50"]
        declared = spec["per_layer"]
    else:
        metrics = {m["name"]: {"value": rec[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        declared = spec["end_to_end"]
    if set(metrics) != {m["name"] for m in declared}:
        fail(f"metrics {sorted(set(metrics) ^ {m['name'] for m in declared})} "
             "disagree with BENCHMARK.json", code=3)
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(rec, f)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"record": rec}))
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if rec["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
