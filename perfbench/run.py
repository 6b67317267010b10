#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
and the benchmark program from source (sbt, offline), generates the
catalog (perfbench/datagen.py, fixed data seed) and computes the DuckDB
oracle answers of every workload query; later runs reuse all three from
`.bench_build/` until a source file changes.

Workloads (see BENCHMARK.json for why each exists), one closed-loop client:
  catalog_mix         24 catalog selection queries, seed-permuted per pass
  pipeline_iterative  14 pair-stream / iterative pipeline queries, per pass

Each run sets up three times in fresh sessions (`setup_s` is the median),
runs every query of the workload once, three at a time, as an untimed
warm-up, and then times full passes until `--seconds` have elapsed.
The `--seed` picks the query order of every pass and, in a traced run,
the looked-up objects, appended slices and operation order of the
director-index round. Every operation's output is checked: a registered
query's row count and order-insensitive content hash ride along in its
own execution and are compared, untimed, with its DuckDB twin's; lookups
are compared with the base counts plus the rows the run appended, and a
compaction with the total row count. A wrong result counts as failed.
The last stdout line is the result object; the full report, with
diagnostics (calibration loop, host steal, tail latency with its
percentile, peak RSS, fail fraction, per-op medians, Spark config) and
provenance, goes to the line before it and to `.bench_build/results/`.
With `--trace 1` the per-layer metrics are reported, and the span tree
is written next to the report.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("catalog_mix", "pipeline_iterative")
SCALE = 0.01      # catalog scale factor (sf0.01: 60 000 lineitems)
DATA_SEED = 42    # the catalog is fixed; --seed varies the operations
HEAP = "3g"
RUN_TIMEOUT_S = 175
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def java_cmd(classpath, tmp, *args):
    """The benchmark JVM; `tmp` becomes its temp dir, so nothing lands outside the checkout."""
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    os.makedirs(tmp, exist_ok=True)
    return ["java", f"-Xmx{HEAP}", *opens, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "graftbench.PerfBench", *args]


def run_checked(cmd, timeout, cwd=ROOT, env=None):
    """Run cmd with stdout to our stderr; fail on a nonzero exit or timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    if code != 0:
        fail(f"exit {code}: {' '.join(cmd[:3])} ... {' '.join(cmd[-4:])}")


def build():
    """Compile engine + benchmark with sbt; returns (classpath, source stamp)."""
    sources = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
               os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main", "scala")]
    stamp = tree_hash(sources)
    out = os.path.join(BUILD, "build")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(out, exist_ok=True)
    log("building engine and benchmark (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=800)
    sys.stderr.write(proc.stdout[-4000:])
    cps = [l for l in proc.stdout.splitlines() if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        fail(f"sbt build failed (exit {proc.returncode})")
    classpath = cps[-1].strip()
    run_checked(java_cmd(classpath, os.path.join(out, "tmp"), "oracles",
                         os.path.join(out, "oracle_sql.json")), 300)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, stamp


def catalog(sf):
    """Generate the catalog once per (generator, scale, data seed)."""
    stamp = tree_hash([os.path.join(HERE, "datagen.py")])
    d = os.path.join(BUILD, "data", f"sf{sf}-seed{DATA_SEED}-{stamp}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        log(f"generating catalog sf{sf} into {os.path.relpath(d, ROOT)}")
        sys.dont_write_bytecode = True
        sys.path.insert(0, HERE)
        import datagen
        shutil.rmtree(d, ignore_errors=True)
        datagen.write(d, sf, DATA_SEED)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def materialized(sql):
    """The same SQL with every CTE materialized: DuckDB re-evaluates a
    CTE at each reference otherwise, which makes the iterative oracles
    (k-means rounds, label propagation) take minutes instead of seconds."""
    return re.sub(r"\b(\w+)\s+AS\s*\(", r"\1 AS MATERIALIZED (", sql, flags=re.I)


def oracles(classpath, data_dir):
    """DuckDB answers of every workload query, their fingerprints, and the
    per-object event counts the lookups are checked against."""
    with open(os.path.join(BUILD, "build", "oracle_sql.json")) as f:
        sqls = json.load(f)
    stamp = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:16]
    d = os.path.join(data_dir, f"oracle-{stamp}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    import duckdb
    import pyarrow.parquet as pq
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name, sql in sorted(sqls.items()):
        t0 = time.time()
        try:
            table = con.execute(materialized(sql)).fetch_arrow_table()
        except duckdb.Error:
            table = con.execute(sql).fetch_arrow_table()
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))
        log(f"oracle {name}: {time.time() - t0:.1f}s")
    con.execute(f"COPY (SELECT user_id, COUNT(*) AS n FROM events WHERE user_id IS NOT NULL "
                f"GROUP BY user_id) TO '{d}/event_counts.parquet' (FORMAT PARQUET)")
    work = os.path.join(BUILD, "runs", "fingerprints")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_checked(java_cmd(classpath, os.path.join(work, "tmp"), "fingerprints", d, work), 300)
    shutil.rmtree(work, ignore_errors=True)
    open(os.path.join(d, "_DONE"), "w").close()
    return d


def provenance(args, stamp, data_dir):
    commit = "unknown (not a git checkout)"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                    capture_output=True, timeout=10).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(), "heap": HEAP, "sf": args.sf,
            "sf_path": os.path.relpath(data_dir, ROOT),
            "data_seed": DATA_SEED, "source_stamp": stamp, "git_commit": commit}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SCALE, help="catalog scale (smoke checks only)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/: "
             "run from the root of a source checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classpath, stamp = build()
    data_dir = catalog(args.sf)
    oracle_dir = oracles(classpath, data_dir)

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    try:
        run_checked(java_cmd(classpath, os.path.join(run_dir, "tmp"), "run", args.workload,
                             str(args.seed), str(args.seconds), str(args.trace), data_dir,
                             oracle_dir, run_dir, out), RUN_TIMEOUT_S)
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics
               or metrics[m["name"]]["value"] is None
               or metrics[m["name"]]["unit"] != m["unit"]]
    if missing:
        fail(f"metrics missing from the run or in another unit: {', '.join(missing)}")
    report = {"provenance": provenance(args, stamp, data_dir),
              "diagnostics": res["diagnostics"], "failures": res["failures"],
              "metrics": metrics}
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    if args.trace:
        with open(os.path.join(results, f"{tag}.spans.json"), "w") as f:
            json.dump(res["spans"], f)
    print(json.dumps(report))
    final = {"correct": res["failed"] == 0 and res["attempted"] > 0,
             "attempted": res["attempted"], "failed": res["failed"],
             "metrics": {m["name"]: metrics[m["name"]] for m in wanted}}
    print(json.dumps(final), flush=True)


if __name__ == "__main__":
    main()
