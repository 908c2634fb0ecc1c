#!/usr/bin/env python3
"""scragspark benchmark: three workloads driven through the public entry
points of the graft packages, at local[nproc] in one JVM per run.

    python3 perfbench/run.py --workload extract_job|rag_serve|corpus_ops \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles src/main/scala
together with perfbench/src with the Scala compiler that ships among the
Spark jars (the sbt build's unmanagedBase, else $SPARK_HOME/jars) into
.bench_build/perfbench;
later runs reuse that build while the sources are unchanged. The last
line of stdout is the result object; a failed output check makes the
exit code 1, a missing program or build failure 2.
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

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout's tools/
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
HEAP = "4g"
YOUNG = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """The Spark jars the sbt build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars_dir = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars_dir):
        die(f"no Spark jars at {jars_dir}")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))


def build():
    """Compiles the program and the benchmark; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources src/main/scala/graft not found; run from a checkout root")
    srcs, jars = sources(), spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    cp = ":".join([classes] + jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", ":".join(jars), "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def oracle_failures(summary):
    """DuckDB oracle compare of the corpus_ops checked pass, with the
    canonicalisation of tools/compare_oracle.py."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from compare_oracle import TABLES, table_hash
    out_dir, data_dir = summary["oracle_dir"], summary["data_dir"]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failures = []
    timed_rows = summary.get("rows", {})
    for name, sql in sorted(oracle.items()):
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            s_cols = [d[0] for d in s.description]
            s_rows = s.fetchall()
            o = con.execute(sql)
            o_cols = [d[0] for d in o.description]
            o_rows = o.fetchall()
            if sorted(s_cols) != sorted(o_cols):
                failures.append(f"{name}: schema {sorted(s_cols)} != oracle {sorted(o_cols)}")
            elif len(s_rows) != len(o_rows):
                failures.append(f"{name}: {len(s_rows)} rows != oracle {len(o_rows)}")
            elif table_hash(s_cols, s_rows) != table_hash(o_cols, o_rows):
                failures.append(f"{name}: value hash differs from oracle")
            elif name in timed_rows and timed_rows[name] != len(s_rows):
                failures.append(f"{name}: timed pass counted {timed_rows[name]} rows, checked pass {len(s_rows)}")
        except Exception as e:  # a missing result or a failing oracle is a failed check
            failures.append(f"{name}: {str(e)[:200]}")
    return len(oracle), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    cp = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+AlwaysPreTouch",
                "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                  "--root", ROOT])
        try:
            proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                  text=True, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"workload {a.workload} ran past {JVM_TIMEOUT_S}s", 1)
        result_file = os.path.join(work, "result.json")
        if not os.path.exists(result_file):
            sys.stderr.write(proc.stderr[-4000:])
            die(f"workload {a.workload} exited {proc.returncode} without a result", 1)
        with open(result_file) as f:
            res = json.load(f)
        summary = res["summary"]
        attempted, failed, failures = res["attempted"], res["failed"], list(res["failures"])
        if "oracle_dir" in summary:
            n, fails = oracle_failures(summary)
            attempted += n
            failed += len(fails)
            failures += fails
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            dest = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
            shutil.copyfile(os.path.join(work, "spans.json"), dest)
            print(f"spans: {os.path.relpath(dest, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None and not a.trace:
            failed += 1
            failures.append(f"metric {m['name']} not measured")
            continue
        # per-layer metrics of a layer this workload does not exercise read 0
        metrics[m["name"]] = {"value": got if got is not None else 0.0, "unit": m["unit"]}
    # the workload's own names for its end-to-end metrics
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for k, named in summary.get("named", {}).items():
        if isinstance(named, list):  # a figure of the run that no metric carries
            print(f"{a.workload}: {k} = {named[0]:.4f} {named[1]}")
        elif named in res["metrics"]:
            print(f"{a.workload}: {k} = {res['metrics'][named]:.4f} {units[named]}")
    print(f"{a.workload}: failed_share = {failed / max(1, attempted):.4f} share ({failed}/{attempted})")
    for k in ("host.mem_gbps", "host.heap_peak_mb"):
        print(f"{a.workload}: {k} = {summary[k]:.2f}")
    print(f"{a.workload}: phases " + " ".join(
        f"{k[6:]}={v:.1f}s" for k, v in summary.items() if k.startswith("phase.")))
    for msg in failures[:20]:
        print(f"{a.workload}: FAILED {msg}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
