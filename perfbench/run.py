#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source into $CARGO_TARGET_DIR
(default .bench_build) unless these sources were built there before, runs one
workload in one fresh JVM (graftbench.Main), checks the outputs -- registry
results against the DuckDB oracle, seed-independent known answers against
perfbench/expected.json, invariants inside the JVM -- and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
Exits non-zero if the build, the run or any correctness check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

EXPECTED = "perfbench/expected.json"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("no unmanagedBase jar directory in build.sbt: run from the root of a checkout")
    return m.group(1)


def testdata(sf):
    """The read-only table directory TESTDATA.md lists for scale factor `sf`."""
    try:
        with open("TESTDATA.md") as f:
            text = f.read()
    except OSError:
        text = ""
    m = re.search(r"^\|\s*" + re.escape(sf) + r"\s*\|\s*`([^`]+)`", text, re.M)
    if not m:
        fail(f"TESTDATA.md lists no directory for sf {sf}")
    return m.group(1).rstrip("/")


def sources():
    main = sorted(glob.glob("src/main/**/*.java", recursive=True) +
                  glob.glob("src/main/**/*.scala", recursive=True))
    if not main:
        fail("no engine sources under src/main: run from the root of a checkout")
    return main, sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def build(build_dir, jars, data_dir):
    """Compile src/main (javac, then scalac) and the benchmark into one jar and
    dump a class-data-sharing archive for it, under <build>/<hash of the
    sources>; a build whose hash is already there is reused. Returns that
    directory."""
    main, bench = sources()
    h = hashlib.sha256()
    for p in main + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, h.hexdigest()[:16])
    done = os.path.join(out, "done")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = ":".join([classes] + sorted(glob.glob(f"{jars}/*.jar")))
    scala_jars = [f"{jars}/scala-{n}-2.13.17.jar" for n in ("compiler", "library", "reflect")]
    java_srcs = [p for p in main if p.endswith(".java")]
    scala_srcs = [p for p in main if p.endswith(".scala")] + bench
    steps = []
    if java_srcs:
        steps.append(["javac", "-J-XX:-UsePerfData", "-encoding", "UTF-8", "-nowarn", "--add-modules",
                      "jdk.incubator.vector", "-cp", cp, "-d", classes] + java_srcs)
    steps.append(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(scala_jars),
                  "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn",
                  "-classpath", cp, "-d", classes] + scala_srcs)
    # one jar, so that the class-data-sharing archive can cover it
    steps.append(["jar", "-J-XX:-UsePerfData", "cf", os.path.join(out, "app.jar"),
                  "-C", classes, "."])
    # A throwaway session start dumps the classes it loads into the archive
    # that every measured run maps, which takes most class loading out of
    # session start; no measured run ever dumps.
    warm = os.path.join(out, "warm")
    os.makedirs(os.path.join(warm, "tmp"))
    dump = (jvm(out, jars, warm, f"-XX:ArchiveClassesAtExit={os.path.join(out, 'app.jsa')}") +
            ["graftbench.Warm", "--data", data_dir, "--work", warm])
    for cmd, cwd in [(c, None) for c in steps] + [(dump, warm)]:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S, cwd=cwd)
        if r.returncode != 0:
            fail(f"build failed ({cmd[0]}):\n{r.stdout[-4000:]}")
    shutil.rmtree(warm, ignore_errors=True)
    open(done, "w").close()
    return out


def jvm(out, jars, work, cds):
    """The java command line of a benchmark JVM up to its main class."""
    cp = ":".join([os.path.join(out, "app.jar")] + sorted(glob.glob(f"{jars}/*.jar")))
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
            ["--add-modules=jdk.incubator.vector", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", cds,
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-cp", cp])


def run_jvm(out, jars, work, args, data_dir, docs_dir):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw = os.path.join(work, "raw.json")
    cmd = (jvm(out, jars, work, f"-XX:SharedArchiveFile={os.path.join(out, 'app.jsa')}") +
           ["graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data_dir, "--docs", docs_dir, "--work", work, "--out", raw])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload timed out after {JVM_TIMEOUT_S} s; log: {log_path}")
    if rc != 0 or not os.path.exists(raw):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"workload exited {rc}:\n{tail}")
    with open(raw) as f:
        return json.load(f)


def canon(df):
    """Columns by name, list-like cells as JSON text, rows sorted by every column."""
    import numpy as np

    def plain(v):
        if isinstance(v, np.ndarray):
            v = v.tolist()
        if isinstance(v, (list, tuple, dict)):
            return json.dumps(v, sort_keys=True, default=str)
        return v
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(plain)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def digest(df):
    """Digest of the canonical rows, floats rounded to six decimals so that a
    change in the order of a floating-point sum does not change it."""
    df = canon(df)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def same(spark_df, duck_df):
    """Exact equality after canonicalisation, as scripts/check.py judges it."""
    if sorted(spark_df.columns) != sorted(duck_df.columns) or len(spark_df) != len(duck_df):
        return False
    s, d = canon(spark_df), canon(duck_df)
    for c in s.columns:
        a, b = s[c], d[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a, b = a.astype(float), b.astype(float)
            if (~(a.isna() & b.isna()) & (a != b)).any():
                return False
        elif (a.astype(str) != b.astype(str)).any():
            return False
    return True


def check_results(raw, workload, data_dir):
    """Registry results against DuckDB; results without an oracle, and the
    known answers the JVM reports, against the values recorded for the
    workload in perfbench/expected.json. Returns the names that failed."""
    with open(EXPECTED) as f:
        expected = json.load(f)[workload]
    observed = dict(raw["known"])
    failed = []
    if raw["oracle"]:
        import duckdb
        import pandas as pd
        con = duckdb.connect()
        for t in ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]:
            p = f"{data_dir}/{t}.parquet"
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for name, sql in sorted(raw["oracle"].items()):
            files = sorted(glob.glob(os.path.join(raw["oracle_dir"], name, "*.parquet")))
            if not files:
                failed.append(name)
                continue
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            if not sql:
                observed[name] = digest(got) if len(got) else "empty"
                continue
            try:
                ok = same(got, con.execute(sql).df())
            except Exception as e:  # an oracle that cannot run is a failed check
                print(f"[bench] oracle {name}: {e}", file=sys.stderr)
                ok = False
            if not ok:
                print(f"[bench] check failed: {name}", file=sys.stderr)
                failed.append(name)
    for name in sorted(set(observed) | set(expected)):
        if observed.get(name) != expected.get(name):
            print(f"[bench] check failed: {name} is {observed.get(name)}, "
                  f"expected {expected.get(name)}", file=sys.stderr)
            failed.append(name)
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars = spark_jars()
    data_dir, docs_dir = testdata("0.01"), testdata("0.1")
    out = build(build_dir, jars, data_dir)
    raw = run_jvm(out, jars, os.path.join(build_dir, "work", args.workload), args,
                  data_dir, docs_dir)

    checked = check_results(raw, args.workload, data_dir)
    failures = raw["failures"] + [n for n in checked if n not in raw["failures"]]
    attempted = int(raw["attempted"])
    failed = min(len(failures), attempted)
    if args.trace:
        wanted, values = spec["per_layer"], dict(raw["layers"])
        values["failed_share"] = failed / attempted
    else:
        wanted = spec["end_to_end"]
        walls = sorted(raw["round_walls"])
        values = {"setup_s": raw["setup_s"],
                  "wall_s": walls[len(walls) // 2],
                  "items_per_s": raw["items"] / raw["item_seconds"],
                  "peak_rss_mb": raw["peak_rss_mb"]}
    metrics = {m["name"]: {"value": values.get(m["name"]) or 0.0, "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
