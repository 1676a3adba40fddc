#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage, from the repository root:
    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 10 --trace 0

Builds the program together with the benchmark harness (sbt, offline)
when the sources changed since the last build, runs the workload in one
JVM, checks its outputs, and prints as the last line of standard output
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 1 the metrics are the per-layer ones and the span artifact is
written to perfbench/out/. Exits non-zero when a check fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
JAR = os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-0.1.0-SNAPSHOT.jar")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
# class-data archive of the classes a run loads (JDK dynamic AppCDS): the
# first run after a build writes it at exit, later runs map it, which
# cuts JVM and Spark start-up class loading; it holds no program state
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
# the Spark installation: $SPARK_HOME, else the one whose spark-submit is on PATH
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
DEADLINE_S = 170
WORKLOADS = ("ingest_drain", "serve_fanout", "store_maint")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.dirname(PROGRAM_SRC), os.path.join(HERE, "src")]
    for root in roots:
        for d, _, files in sorted(os.walk(root)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building the program and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / packageBin"],
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                   check=True, timeout=850)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(args, work, deadline):
    t0 = time.time()  # set-up is timed from here: JVM start onwards
    cds = "SharedArchiveFile" if os.path.exists(ARCHIVE) else "ArchiveClassesAtExit"
    # the JIT compiler threads live for the whole run, so the harness can
    # read their CPU time at both ends of the timed phase
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-XX:{cds}={ARCHIVE}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{JAR}{os.pathsep}{SPARK_JARS}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--t0-ms", repr(t0 * 1000)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("[perfbench] the workload ran past its deadline")
    if proc.returncode != 0:
        raise SystemExit(f"[perfbench] the workload JVM exited with {proc.returncode}")


def canon(con, sql):
    """Columns sorted by name, rows in total order, with DuckDB's type
    names, so the compare is type-sensitive."""
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    quoted = ", ".join(f'"{c}"' for c in cols)
    srel = con.sql(f"SELECT {quoted} FROM ({sql}) ORDER BY ALL")
    return cols, [str(t) for t in srel.types], srel.fetchall()


def same(a, b):
    """None when the two canonical results are equal, else the first difference."""
    (ac, at, ar), (bc, bt, br) = a, b
    if ac != bc:
        return f"columns {ac} vs {bc}"
    if at != bt:
        return f"types {at} vs {bt}"
    if len(ar) != len(br):
        return f"{len(ar)} vs {len(br)} rows"
    for i, (x, y) in enumerate(zip(ar, br)):
        for u, v in zip(x, y):
            nan = isinstance(u, float) and isinstance(v, float) and math.isnan(u) and math.isnan(v)
            if u != v and not nan:
                return f"row {i}: {x} vs {y}"
    return None


def oracle_checks(spec):
    """Each face's output against its oracle SQL run in DuckDB over the
    same generated tables, plus a self-check that a wrong expectation
    (the oracle minus one row) is rejected."""
    import duckdb
    con = duckdb.connect()
    for d in sorted(os.listdir(spec["tables"])):
        t = d.removesuffix(".parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{spec['tables']}/{d}/*.parquet')")
    checks = []
    for face, f in spec["faces"].items():
        try:
            want = canon(con, f["sql"])
            got = canon(con, f"SELECT * FROM read_parquet('{f['out']}/*.parquet')")
            diff = same(want, got)
            wrong = (want[0], want[1], want[2][:-1] if want[2] else [("extra",)])
            self_diff = same(wrong, got)
        except Exception as e:  # a broken face or oracle is a failed check
            diff, self_diff = f"error {e}", "error"
        checks.append({"name": f"{face} equals its DuckDB oracle", "ok": diff is None, "detail": diff or ""})
        checks.append({"name": f"selfcheck.{face} oracle", "ok": self_diff is not None,
                       "detail": "" if self_diff else "accepted a wrong expectation"})
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"[perfbench] program sources not found under {PROGRAM_SRC}")
    before_build = time.time()
    build()
    # a run that builds gets the build's time on top of the run deadline
    deadline = START + DEADLINE_S + (time.time() - before_build)

    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    run_jvm(args, work, deadline)
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)

    checks = res["checks"]
    oracle = res["artifact"].pop("oracle", None)
    if oracle:
        checks += oracle_checks(oracle)
    if not checks:
        checks.append({"name": "checks ran", "ok": False, "detail": "no check was made"})
    correct = all(c["ok"] for c in checks)
    ops = res["ops"]
    attempted = sum(o["attempted"] for o in ops.values())
    failed = sum(o["failed"] for o in ops.values())

    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}" + (f": {c['detail']}" if c["detail"] else ""))
    for kind, o in ops.items():
        print(f"ops {kind}: attempted {o['attempted']} failed {o['failed']}")
    if args.trace:
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "metrics": res["metrics"],
                       "ops": ops, **res["artifact"]}, fh)
        print(f"trace artifact: {os.path.relpath(path, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": res["metrics"]}))
    sys.exit(0 if correct and attempted > 0 else 1)


if __name__ == "__main__":
    main()
