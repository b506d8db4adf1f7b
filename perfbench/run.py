#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of the source tree. The first run compiles the engine and
the benchmark from source with the Scala compiler in the engine's jar
directory, into .bench_build/; later runs reuse the classes while the
sources are unchanged. A run writes nothing outside .bench_build/.

Workloads: decode_envelope, decode_stream (see perfbench/README.md).
The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics: the end_to_end metrics of BENCHMARK.json untraced, its
per_layer metrics with --trace 1. A traced run also writes its spans to
.bench_build/traces/.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("decode_envelope", "decode_stream")
# Whole run, build excluded, must end well inside three minutes.
RUN_BUDGET_S = 170
HEAP = "3g"
# Tables for the query layer: lineitem has ~6,000,000 x TABLE_SCALE rows.
TABLE_SCALE = 0.01

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def jar_dir():
    """The directory of Spark jars the engine compiles against: the
    `unmanagedBase` its build.sbt names. It also holds the Scala compiler."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no unmanagedBase directory of jars", 3)
    return m.group(1)


def scala_sources():
    """Every Scala source of the engine and of this benchmark, sorted."""
    files = []
    for r in (os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(HERE, "src", "main", "scala")):
        for d, dirs, fs in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    return files


def source_stamp(jars, sources):
    """Hash of every file that goes into the build, and of the jar list."""
    h = hashlib.sha256()
    h.update("\n".join([jars] + sorted(os.listdir(jars))).encode())
    for f in [os.path.join(ROOT, "build.sbt")] + sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile the engine and the benchmark when their sources changed;
    return the runtime classpath.

    The Scala compiler runs straight from the engine's jar directory, so the
    build reads nothing from, and writes nothing to, any directory outside
    .bench_build/ (no build-tool caches, locks or servers)."""
    jars = jar_dir()
    sources = scala_sources()
    stamp = source_stamp(jars, sources)
    classes = os.path.join(BUILD, "classes")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    out_dir = os.path.join(BUILD, "classes.new")
    os.makedirs(tmp)
    os.makedirs(out_dir)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-encoding", "UTF-8", "-nowarn", "-d", out_dir,
                           "-classpath", os.path.join(jars, "*")] + sources))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "@" + args],
            cwd=BUILD, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc}); see {log}", 3)
    os.rename(out_dir, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def check_oracles(tables, out_dir):
    """Compare each written query output with its DuckDB oracle, the way
    tools/check_oracles.py does; returns the names that differ."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracles import table_key
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    bad = []
    for name, sql in sorted(oracles.items()):
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            want = con.sql(sql).df()
        except Exception as e:  # a failing oracle is a failed check
            print(f"perfbench: oracle {name}: {type(e).__name__}: {e}",
                  file=sys.stderr)
            bad.append(name)
            continue
        got.columns = [c.lower() for c in got.columns]
        want.columns = [c.lower() for c in want.columns]
        if sorted(got.columns) != sorted(want.columns) or \
                table_key(got) != table_key(want):
            print(f"perfbench: oracle mismatch: {name}", file=sys.stderr)
            bad.append(name)
    return bad, len(oracles)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not "
             "next to perfbench/; run from the root of the source tree")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = classpath()
    t_start = time.time()
    start_micros = int(t_start * 1e6)
    work = os.path.join(ROOT, ".bench_build", "runs",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        tables = ""
        # decode_envelope's traced run also times the graft.queries layer
        queries = a.workload == "decode_envelope" and a.trace == 1
        if queries:
            sys.path.insert(0, HERE)
            import gen_tables
            tables = os.path.join(work, "tables")
            gen_tables.generate(a.seed, TABLE_SCALE, tables)
        cmd = (["java"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
                "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--start-micros", str(start_micros), "--work-dir", work,
                "--query-list", os.path.join(HERE, "query_mix.txt"),
                "--tables", tables])
        log_path = os.path.join(work, "jvm.log")
        budget = RUN_BUDGET_S - (time.time() - t_start)
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                 stderr=log, stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = p.communicate(timeout=budget)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                out = None
        print(f"perfbench: jvm ended {time.time() - t_start:.1f} s after start",
              file=sys.stderr)
        logs = os.path.join(ROOT, ".bench_build", "logs")
        os.makedirs(logs, exist_ok=True)
        shutil.copy(log_path, os.path.join(logs, f"{a.workload}.log"))
        result = None
        for line in (out or "").splitlines():
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
        if p.returncode != 0 or result is None:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"{a.workload} failed (exit {p.returncode})", 1)

        failed = result["failed"]
        attempted = result["attempted"]
        if queries:
            bad, n = check_oracles(tables, os.path.join(work, "query_out"))
            failed += len(bad)
            print(f"perfbench: {n - len(bad)}/{n} query outputs match their "
                  f"DuckDB oracle", file=sys.stderr)
        if a.trace:
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(work, "spans.jsonl")
            if os.path.isfile(spans):
                shutil.copy(spans, os.path.join(
                    traces, f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, layers = result["e2e"], result["layers"]
    for d in result.get("details", []):
        print(d)
    error_rate = failed / attempted if attempted else 1.0
    shown = {"setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"],
             "error_rate": {"value": error_rate, "unit": "ratio"}}
    shown.update(result["named"])
    print(f"{a.workload} seed={a.seed}: " + ", ".join(
        f"{k}={m['value']:.6g} {m['unit']}" for k, m in shown.items()))
    if a.trace:
        wanted = spec["per_layer"]
        source = dict(layers)
        # a layer the workload does not exercise reads zero
        metrics = {m["name"]: source.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                   for m in wanted}
        for k, m in sorted(layers.items()):
            print(f"  {k} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
