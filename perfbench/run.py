#!/usr/bin/env python3
"""Benchmark of the OSM PBF -> Parquet transcoder and the engine around it.

Run from the repository root:

    python3 perfbench/run.py --workload osm --seed 1 --seconds 10 --trace 0

Workloads: osm, entry-mix (see perfbench/README.md).
The first run in a checkout builds the program and the benchmark from
source with sbt (offline); later runs reuse the build until a source file
changes. Each run generates its inputs from --seed, runs one JVM with
Spark local[4] as a closed loop with one client for --seconds, checks
every output against truth the program did not compute, and prints as its
last stdout line one JSON object: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. A fuller artifact (host context,
per-op times, reconciliation table, spans) goes to perfbench/results/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RESULTS = os.path.join(HERE, "results")

WORKLOADS = ("osm", "entry-mix")
TABLE_REPS = 3           # entry-mix table generations per run; setup_s adds the median
HEAP = "3g"
RUN_LIMIT_S = 170        # a run (after any build) ends within this
BUILD_LIMIT_S = 840

# Options every entry point of the program sets (see scripts/run.sh).
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Duser.language=en", "-Duser.country=US",
    "-Dspark.hadoop.fs.file.impl=graft.fs.FastLocalFileSystem",
    "-Dspark.hadoop.fs.AbstractFileSystem.file.impl=graft.fs.FastLocalFs",
    "-Dspark.hadoop.mapreduce.fileoutputcommitter.algorithm.version=2",
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for dirpath, dirnames, files in os.walk(d):
            dirnames[:] = [x for x in dirnames if x not in ("target", "project")]
            paths += [os.path.join(dirpath, f) for f in files]
    h = hashlib.sha256()
    for p in sorted(paths):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Builds the program and the benchmark unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} next to {os.path.relpath(HERE, os.getcwd())}: nothing to build")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and benchmark (sbt, offline)")
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(os.path.join(BUILD, "sbt.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"build failed ({rc})")
    cp = open(os.path.join(HERE, "target", "classpath.txt")).read()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def norm_cell(v):
    import pandas as pd
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return repr(int(v)) + ".0"
        return repr(round(v, 9))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def frame_rows(df):
    df = df[sorted(df.columns)]
    return sorted(tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None))


def check_entries(work, tables, result):
    """Compares the dumped first-pass result of every entry with its
    SparkEntry.oracleSql answer computed by DuckDB over the same tables.
    The JVM has checked every later op against the dump's row count and
    checksum; here every op of an entry also fails when the dump differs
    from the oracle or the op's row count from the oracle's. Returns
    (newly failed op count, per-entry notes)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ("orders", "lineitem", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    oracle = json.load(open(os.path.join(work, "results", "oracle_sql.json")))
    notes, want_rows = {}, {}
    for name in result["workload_info"]["order"]:
        if name not in oracle:
            notes[name] = "no oracle SQL"
            continue
        try:
            want = con.execute(oracle[name]).df()
        except duckdb.Error as e:
            notes[name] = f"oracle SQL failed: {e}"
            continue
        want_rows[name] = len(want)
        files = glob.glob(os.path.join(work, "results", name, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if sorted(got.columns) != sorted(want.columns):
            notes[name] = f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
        elif frame_rows(got) != frame_rows(want):
            notes[name] = f"values differ from oracle ({len(got)} vs {len(want)} rows)"
        else:
            notes[name] = f"ok ({len(want)} rows)"
    failed = 0
    for op in result["ops"]:
        name = op["name"]
        if name not in notes or not op["ok"]:
            continue
        if not notes[name].startswith("ok"):
            op["error"] = notes[name]
        elif op["info"].get("rows") != want_rows[name]:
            op["error"] = f"rows {op['info'].get('rows')} vs oracle {want_rows[name]}"
        else:
            continue
        op["ok"] = False
        failed += 1
    return failed, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(HERE, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    launch = time.time()
    extra, table_s = [], []
    tables = os.path.join(work, "tables")
    if a.workload == "entry-mix":
        sys.path.insert(0, HERE)
        import tables as gen
        for _ in range(TABLE_REPS):
            t = time.perf_counter()
            gen.generate(tables, a.seed)
            table_s.append(time.perf_counter() - t)
        extra = ["--tables", tables]
        launch = time.time()
    out = os.path.join(work, "result.json")
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--out", out,
           "--launch-ms", str(int(launch * 1000))] + extra
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        shutil.move(jvm_log, os.path.join(RESULTS, f"{tag}.jvm.log"))
        shutil.rmtree(work, ignore_errors=True)
        die(f"benchmark JVM failed ({rc}); log in perfbench/results/{tag}.jvm.log")
    result = json.load(open(out))

    failed = result["failed"]
    if a.workload == "entry-mix":
        extra_failed, notes = check_entries(work, tables, result)
        failed += extra_failed
        result["oracle"] = notes
        result["setup"]["tables_s"] = table_s
        result["e2e"]["setup_s"] += statistics.median(table_s)
        if "layer" in result:
            result["layer"]["ops_failed_frac"] = failed / result["attempted"]
    result["failed"] = failed

    # names and units of the printed metrics are those of BENCHMARK.json
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.trace:
        got = result["layer"]
        # a layer this workload does not run reads 0 (see README.md)
        metrics = {m["name"]: {"value": got.get(m["name"]) if got.get(m["name"]) is not None
                               else 0.0, "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": result["e2e"][m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
        if any(m["value"] is None for m in metrics.values()):
            die(f"an end-to-end metric has no value: {metrics}")
    line = {"correct": failed == 0, "attempted": result["attempted"], "failed": failed,
            "metrics": metrics}
    result["printed"] = line
    artifact = os.path.join(RESULTS, f"{tag}.json")
    spans = result.pop("spans_file", None)
    if spans and os.path.exists(spans):
        shutil.move(spans, os.path.join(RESULTS, f"{tag}.spans.jsonl"))
        result["spans_file"] = os.path.relpath(os.path.join(RESULTS, f"{tag}.spans.jsonl"), ROOT)
    with open(artifact, "w") as f:
        json.dump(result, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for k, m in metrics.items():
        print(f"{k:<40} {m['value']!r:>24} {m['unit']}")
    rec = result.get("reconciliation")
    if rec:
        print(f"reconciliation vs untraced wall {rec['untraced_wall_s']:.3f} s: "
              f"layers {rec['layers_sum_s']:.3f} s, residual {rec['residual_s']:.3f} s "
              f"({100 * rec['residual_frac']:.1f}%)")
    print(f"artifact {os.path.relpath(artifact, ROOT)}")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
