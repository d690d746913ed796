#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its result as JSON.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <flagship|megadoc_skew|dedup>
                           --seed <n> --seconds <s> --trace <0|1>
                           [--documents <documents.parquet>]

The first run builds the repository and the benchmark with sbt and caches
the JVM classpath under .bench_build/, keyed by a hash of the sources; a
later run with unchanged sources starts the JVM directly. One run is one
JVM at local[4]; a traced run of flagship or megadoc_skew also times a
single-core child JVM for scaling_eff. The last stdout line is one JSON
object with `correct`, `attempted`, `failed` and `metrics`. Any failure to
build, run or check exits non-zero without printing a result.

megadoc_skew runs here like the other workloads but is not in
BENCHMARK.json; see README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["flagship", "megadoc_skew", "dedup"]
# Traced runs of these workloads also time a single-core child JVM for
# scaling_eff, for this many seconds.
SCALE_SECONDS = {"flagship": 4, "megadoc_skew": 4}
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_hash():
    """Hash of everything the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to {os.path.basename(BENCH)}/: nothing to build")
    os.makedirs(OUT, exist_ok=True)
    stamp = os.path.join(OUT, "launch.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            launch = json.load(f)
        if launch.get("sources") == digest:
            return launch["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    with open(os.path.join(OUT, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                             cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0:
        fail(f"build failed (rc={rc}), see {os.path.join(OUT, 'build.log')}")
    with open(os.path.join(BENCH, "target", "bench.launch")) as f:
        classpath = f.read().strip()
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": classpath}, f)
    return classpath


def run_jvm(classpath, args, work, deadline):
    # A fixed, pre-touched heap: without it the first passes pay for page
    # commits as the young generation grows, and read slower than the rest.
    cmd = ["java", "-XX:ActiveProcessorCount=4", "-Xmx2g", "-Xms2g", "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC",
           *([f"-Dgraftbench.documents={os.path.abspath(args.documents)}"] if args.documents else []),
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", classpath, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cores", "4"]
    if args.trace and args.workload in SCALE_SECONDS:
        cmd += ["--scale-seconds", str(SCALE_SECONDS[args.workload])]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("run exceeded its time limit")
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    lines = out.strip().splitlines()
    if not lines:
        fail("benchmark JVM printed nothing")
    for line in lines[:-1]:
        print(line)
    return json.loads(lines[-1])


def frame_hash(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def dedup_oracles(work):
    """Compare each oracle query's Spark result under work/out/<name>/ with
    its DuckDB oracle by the repository's tools/oracle_compare.py, and
    print each result's order-independent hash. Returns (attempted, failed)."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # leave tools/ as it is
    from oracle_compare import canon, compare
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    # oracle_compare.connect expects one file per table; this table is a
    # directory of parquet files
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(work, 'docs', 'documents.parquet', '*.parquet')}')")
    out = os.path.join(work, "out")
    failed = 0
    for name, sql in sorted(oracles.items()):
        r = compare(con, name, out, sql)
        same = r.get("values_match", False)
        files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
        spark_hash = frame_hash(canon(con.sql(f"SELECT * FROM read_parquet({files!r})").df())) if files else "-"
        print(f"  oracle {name:24s} rows={r.get('spark_rows', 0):6d} hash={spark_hash} "
              f"{'ok' if same else 'DIFFERS ' + json.dumps(r, default=str)}")
        failed += 0 if same else 1
    return len(oracles), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--documents", help="dedup only: run on this documents.parquet "
                    "instead of the generated table (to compare the two)")
    args = ap.parse_args()
    classpath = build()
    deadline = time.time() + DEADLINE_S
    work = os.path.join(OUT, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        res = run_jvm(classpath, args, work, deadline)
        print(f"benchmark JVM: {time.time() - t0:.1f} s")
        if args.workload == "dedup":
            t0 = time.time()
            attempted, failed = dedup_oracles(work)
            print(f"oracle compare: {time.time() - t0:.1f} s")
            res["attempted"] += attempted
            res["failed"] += failed
            res["correct"] = res["correct"] and failed == 0
        if args.trace:
            traces = os.path.join(OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.jsonl"),
                        os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
