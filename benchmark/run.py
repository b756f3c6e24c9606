#!/usr/bin/env python3
"""Repository benchmark: one workload, one run, one JSON result line.

    python3 benchmark/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The script builds the program and the
benchmark's JVM code from source (sbt, offline; skipped when the sources are
unchanged since the last build) and writes the four-vCenter base graph
store with the program's own refresh (also once per build: one refresh
costs a minute or more). The run itself is one fresh JVM, as a nightly
spark-submit would be: it sets the workload up a few times (`setup_s` is
the median), then runs a closed loop, one client issuing operations back to
back until S seconds have passed and at least one operation ran.

Correctness checks run outside the timed region, in the JVM (each
analytics result against an independent replay over the base store's raw
files and against what the generator put in the store; later curation
passes against the first) and here (each curation lane's first-pass result
against its DuckDB oracle). The
last line of standard output is
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A traced run also writes its spans to
.bench_traces/<workload>-seed<N>.json. See benchmark/METRICS.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = "benchmark"
SOURCES = ["src/main/scala", f"{BENCH_DIR}/src", f"{BENCH_DIR}/build.sbt",
           f"{BENCH_DIR}/project/build.properties"]
BUILD_DIR = ".bench_build"
WORK_ROOT = ".bench_work"
TRACE_DIR = ".bench_traces"
BASE_DIR = os.path.join(BUILD_DIR, "base")
# Class-data-sharing archive of the classes the base-store JVM loaded: a run
# maps it instead of loading and verifying Spark's classes from the jars,
# which roughly halves JVM start-up. A missing archive only costs that time.
CDS_ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
WORKLOADS = ["graph_analytics", "curation_pipeline"]
# seconds each phase may take before the run is abandoned (a run's JVM
# also gets --seconds on top)
BUILD_TIMEOUT = 500
RUN_TIMEOUT = 150

JVM_OPTS = [
    "-Xmx3g", "-XX:+UseG1GC",
    # Spark on JDK 17 outside spark-submit (same list as the root build.sbt)
    *[a for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io",
                  "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                  "java.base/java.util.concurrent",
                  "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                  "java.base/sun.nio.cs", "java.base/sun.security.action",
                  "java.base/sun.util.calendar"]
      for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
]


def log(msg):
    print(f"[benchmark] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for root in SOURCES:
        paths = [root] if os.path.isfile(root) else sorted(
            p for p in glob.glob(f"{root}/**/*", recursive=True) if os.path.isfile(p))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program with the benchmark's JVM code and writes the
    base store; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        f"-Djava.io.tmpdir={tmp}", "-Xmx3g"]))
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
    log("building the program and the benchmark (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Dgraftbench.sparkJars={os.path.join(spark_home, 'jars')}", "compile",
                        "export Runtime/fullClasspathAsJars"],
                       cwd=BENCH_DIR, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=BUILD_TIMEOUT)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    lines = [l for l in p.stdout.splitlines() if "graftbench" in l or ".jar" in l]
    cp = [l for l in lines if not l.startswith("[")]
    if not cp:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build printed no classpath")
    classpath = cp[-1]
    log(f"compiled in {time.time() - t0:.1f}s; writing the base store")
    t0 = time.time()
    shutil.rmtree(BASE_DIR, ignore_errors=True)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    work = os.path.abspath(os.path.join(WORK_ROOT, "base-store"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm(classpath, work, ["base-store", "--work", work,
                              "--base", os.path.abspath(BASE_DIR)], BUILD_TIMEOUT,
            [f"-XX:ArchiveClassesAtExit={os.path.abspath(CDS_ARCHIVE)}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"base store written in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def jvm(classpath, work, args, timeout, extra_opts=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_OPTS, *extra_opts, f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
           "graftbench.BenchMain", *args]
    with open(os.path.join(work, "jvm.log"), "a") as logf:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=logf, stderr=logf)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"{args[0]} exceeded {timeout}s")
    with open(os.path.join(work, "jvm.log")) as f:
        text = f.read()
    if rc != 0:
        sys.stderr.write(text[-6000:])
        raise SystemExit(f"{args[0]} JVM exited with {rc}")
    for line in text.splitlines():
        if line.startswith("[benchmark]"):
            print(line, file=sys.stderr)


def oracle_failures(work, oracles):
    """Compares each lane's first-pass result with its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    docs = os.path.join(work, "docs", "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
    failures = []
    for o in oracles:
        with open(o["sql"]) as f:
            sql = f.read()
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{o['result']}/*.parquet')")
            got_cols = [d[0] for d in got.description]
            got_rows = got.fetchall()
            want = con.execute(sql)
            want_cols = [d[0] for d in want.description]
            want_rows = want.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append(f"{o['lane']}: {type(e).__name__}: {e}")
            continue
        if sorted(got_cols) != sorted(want_cols):
            failures.append(f"{o['lane']}: columns {sorted(got_cols)} != oracle {sorted(want_cols)}")
            continue

        def canon(cols, rows):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted(tuple(str(r[i]) for i in order) for r in rows)
        g, w = canon(got_cols, got_rows), canon(want_cols, want_rows)
        if g != w:
            diff = next((a, b) for a, b in zip(g + [None], w + [None]) if a != b)
            failures.append(f"{o['lane']}: {len(g)} rows vs oracle {len(w)}; first difference {diff}")
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala/graft") or not os.path.isdir(BENCH_DIR):
        raise SystemExit("run from the repository root: src/main/scala/graft or "
                         f"{BENCH_DIR}/ is missing, so there is no program to build")
    with open("BENCHMARK.json") as f:
        declared = json.load(f)

    started = time.time()
    classpath = build()
    work = os.path.abspath(os.path.join(WORK_ROOT, a.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        args = ["run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                "--base", os.path.abspath(BASE_DIR), "--out", out]
        if a.trace:
            os.makedirs(TRACE_DIR, exist_ok=True)
            args += ["--trace-file",
                     os.path.abspath(f"{TRACE_DIR}/{a.workload}-seed{a.seed}.json")]
        jvm(classpath, work, args, RUN_TIMEOUT + a.seconds,
            [f"-XX:SharedArchiveFile={os.path.abspath(CDS_ARCHIVE)}"])
        log(f"{time.time() - started:.1f}s into the run: JVM done")
        with open(out) as f:
            res = json.load(f)
        ops = res["ops"]
        failed = [bool(o["failures"]) or o["wall_s"] is None for o in ops]
        lane_failures = oracle_failures(work, res["oracles"]) if res["oracles"] else []
        if res["oracles"]:
            log(f"{time.time() - started:.1f}s into the run: oracles done")
        for msg in lane_failures:
            log(f"FAIL oracle {msg}")
        if lane_failures:
            # every pass of a lane repeats the first pass's digest or already
            # failed, so a wrong first pass makes every pass wrong
            failed = [True] * len(ops)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    names = declared["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in names:
        # a layer span the workload never enters spent nothing in it
        v = got.get(m["name"], 0.0 if a.trace else None)
        if v is None:
            raise SystemExit(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if got.get("op_s") is not None:
        log("op_s %.3f over %d operations%s" % (got["op_s"], len(ops), (
            "; spans cover %.1f%% of the operation" % (100 * got["span_coverage"]))
            if a.trace else ""))
    print(json.dumps({"correct": not any(failed), "attempted": len(ops),
                      "failed": sum(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
