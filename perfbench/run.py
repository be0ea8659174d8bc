#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, in this directory); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the
seed, starts one JVM with one local[nproc] Spark session, runs the
workload, checks the program's outputs and prints one JSON object as the
last line of stdout: `correct`, `attempted`, `failed` and `metrics`, the
end-to-end metrics of BENCHMARK.json with --trace 0 and its per-layer
metrics with --trace 1. Workloads and metrics are described in README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_LIMIT_S = 175  # every run, build excluded, ends within this

# the serving warehouse's scale factor (see datagen.py): 20k events, 60k
# observations; README.md ("Run budget") says why it is not sf0.1
SERVE_SF = 0.02
WORKLOADS = ["serve_read", "ingest_fresh", "ingest_under_read"]
# a traced run's batch probe reads all ten tables at this scale factor
BATCH_SF = 0.01
BATCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, timeout, **kw):
    """Run cmd to completion; if it times out, or this process is stopped,
    kill it and wait for it to end."""
    p = subprocess.Popen(cmd, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise BenchError(f"{cmd[0]} did not finish within {timeout:.0f} s")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        raise BenchError("SPARK_HOME must point at a Spark installation with jars/")
    return jars


def sources_digest():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the stamp says they are current."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BenchError("no engine sources at src/main/scala; run from a checkout root")
    spark_jars()
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], 850,
                     cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        raise BenchError(f"sbt compile failed (exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def run_jvm(args, data, batch_data, work, budget_s):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the heap is capped, not pinned or pre-touched: the memory figures
    # (Memory in Main.scala) follow what the program uses
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx2g", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={os.path.join(work, 'local')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
              "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--batch-data", batch_data, "--work", work, "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        rc = run_bounded(cmd, budget_s, stdout=logf, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"benchmark JVM failed (exit {rc}):\n{tail}")
    with open(out) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ checks

def duck(data):
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        path = f.replace("'", "''")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_warehouse(data, info):
    """Observation count and value sum after setup equal the same
    derivation in DuckDB over events.parquet."""
    con = duck(data)
    dec = "CAST({} AS DECIMAL(18,4))"
    n, s = con.execute(
        f"SELECT 3 * count(*), sum({dec.format('WOBBE')} + {dec.format('CV')} + "
        f"{dec.format('SG')}) FROM ({datagen.WIDE_SQL})").fetchone()
    con.close()
    got_n, got_s = int(info["warehouse_rows"]), info["warehouse_value_sum"]
    if got_n != n or str(got_s) != f"{s:.4f}":
        return 1, [f"warehouse after setup: {got_n} rows, sum {got_s}; "
                   f"DuckDB: {n} rows, sum {s:.4f}"]
    return 1, []


def check_batch(data, results, info):
    """The batch probe's warm-pass results equal their SparkEntry.oracleSql
    replay in DuckDB, by the repository's oracle compare
    (tools/oracle_check.py), and the traced pass counted the oracle's
    number of rows."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import oracle_check
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        oracle_check.main(results, data)
    errors, rows = [], {}
    for line in out.getvalue().splitlines():
        name, _, verdict = line.partition(": ")
        if verdict.startswith("OK rows="):
            rows[name] = int(verdict[len("OK rows="):])
        elif name != "FAILS":
            errors.append(line)
    counts = info["row_counts"]
    for q, n in counts.items():
        if q in rows and n != rows[q]:
            errors.append(f"{q}: traced pass counted {n}, oracle has {rows[q]} rows")
        elif q not in rows and not any(e.startswith(f"{q}: ") for e in errors):
            errors.append(f"{q}: no oracle compare")
    return len(counts), errors


# ------------------------------------------------------------------- main

def metric_specs(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        raise BenchError("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    specs = metric_specs(args.trace)
    build()
    t0 = time.time()
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    batch_data = os.path.join(work, "batch_data")
    try:
        rows = datagen.generate(data, args.seed, SERVE_SF, ["wide"])
        if args.trace:
            rows["probe"] = datagen.generate(batch_data, args.seed, BATCH_SF, BATCH_TABLES)
        res = run_jvm(args, data, batch_data, work, RUN_LIMIT_S - (time.time() - t0))
        info = res["info"]
        checked, errors = check_warehouse(data, info)
        if args.trace:
            n, batch_errors = check_batch(batch_data, os.path.join(work, "results"), info)
            checked += n
            errors += batch_errors
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            for f in ("spans", "probe_spans"):
                shutil.copy(os.path.join(work, f"{f}.jsonl"),
                            os.path.join(out, f"{f}-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in specs:
        v = res["metrics"].get(m["name"])
        if v is None:
            raise BenchError(f"the JVM reported no value for {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted = res["attempted"] + checked
    failed = res["failed"] + len(errors)
    # wrong responses the JVM's checks caught ("check_*" failures) are
    # incorrect outputs too, not only failed operations
    errors += [f"{n} x {ex}" for cls, ex in res["failure_examples"].items()
               if cls.startswith("check_") for n in [res["failure_classes"][cls]]]
    # the summary line carries everything the result line does not: sample
    # counts, per-build times, memory figures, failure classes
    summary = {"workload": args.workload, "seed": args.seed, "inputs": rows,
               "failure_classes": res["failure_classes"],
               "failure_examples": res["failure_examples"], "info": info,
               "check_errors": errors}
    summary["other_metrics"] = {k: v for k, v in res["metrics"].items() if k not in metrics}
    print(json.dumps(summary, sort_keys=True))
    for e in errors:
        log(f"OUTPUT CHECK FAILED: {e}")
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if errors else 0


if __name__ == "__main__":
    # a SIGTERM unwinds like an error, so the JVM child is killed and reaped
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
