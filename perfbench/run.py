#!/usr/bin/env python3
"""Layered benchmark for the graft engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script compiles the engine
(src/main/scala) and the benchmark (perfbench/src) with the Scala
compiler among the Spark jars build.sbt compiles against, generates the workload's seeded corpus,
runs the workload in one JVM under local[nproc], checks every query
output against its DuckDB oracle (tools/selfcheck.py canonicalization),
and prints one JSON line as the last line of standard output.

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
the per-layer metrics; the span trace lands in .bench_work/traces/.
Workloads, query lists and the layer map are described in
perfbench/spec.json.
"""
import argparse
import fcntl
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # importing tools/selfcheck.py leaves no cache behind

WORKLOADS = ["analytics_sf0.3", "ingest"]
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars build.sbt compiles against (its `unmanagedBase`), or
    $SPARK_HOME/jars."""
    d = None
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', open("build.sbt").read())
        d = m and m.group(1)
    if not d and os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    jars = sorted(glob.glob(os.path.join(d, "*.jar"))) if d else []
    if not jars:
        fail("no Spark jars: build.sbt's unmanagedBase and $SPARK_HOME/jars are both missing")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def build(jars):
    """Compile engine + benchmark into the build dir, once per source state."""
    engine, bench = sources("src/main/scala"), sources("perfbench/src")
    if not engine or not bench:
        fail("engine or benchmark sources missing (run from a checkout root)")
    h = hashlib.sha256()
    for f in engine + bench + jars:
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(out, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return [os.path.join(out, "bench"), os.path.join(out, "main")]
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler", "scala-library", "scala-reflect"))]
        for name, srcs, extra in (("main", engine, []),
                                  ("bench", bench, [os.path.join(out, "main")])):
            dest = os.path.join(out, name)
            shutil.rmtree(dest, ignore_errors=True)
            os.makedirs(dest)
            t0 = time.time()
            r = subprocess.run(
                ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp",
                 ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
                 "-d", dest, "-classpath", ":".join(extra + jars)] + srcs,
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                print(r.stdout[-4000:], file=sys.stderr)
                fail(f"compiling {name} failed")
            print(f"[perfbench] compiled {name} ({len(srcs)} files) in "
                  f"{time.time() - t0:.1f} s", file=sys.stderr)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        return [os.path.join(out, "bench"), os.path.join(out, "main")]


def cpu_ticks():
    """(steal, total) CPU ticks since boot from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(workload, seed, seconds, trace, work, cores, classpath):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, so G1 resizing it mid-run stays out of the timings
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'local')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.level=WARN"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", ":".join(classpath), "graft.perfbench.Main",
            workload, str(seed), str(seconds), "1" if trace else "0", work, str(cores)])
    log_path = os.path.join(work, "jvm.log")
    ticks0 = cpu_ticks()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to others while the JVM ran
        print(f"[perfbench] steal while the JVM ran: "
              f"{100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.1f}%", file=sys.stderr)
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    for ln in lines:
        if ln.startswith("[perfbench]"):
            print(ln, file=sys.stderr)
    if code != 0:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail(f"{workload}: JVM " + ("timed out" if code is None else f"exited {code}"))
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def load_canon():
    path = os.path.join("tools", "selfcheck.py")
    if not os.path.exists(path):
        fail("tools/selfcheck.py missing")
    spec = importlib.util.spec_from_file_location("selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def oracle_check(result, corpus, inject=None):
    """Compare each written query output with its DuckDB oracle; returns
    the names that mismatch."""
    import duckdb
    canon = load_canon()
    con = duckdb.connect()
    con.sql("SET threads = 4")
    con.sql("SET memory_limit = '3GB'")
    for t in CORPUS_TABLES:
        if os.path.isdir(os.path.join(corpus, f"{t}.parquet")):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet/*.parquet')")
    oracle = result["notes"].get("oracle_sql", {})
    bad = []
    for name, out in sorted(result["checks"].items()):
        t0 = time.time()
        try:
            rel = con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')")
            s_cols, s_rows, s_types = canon(rel.columns, rel.fetchall(), rel.types)
            if name == inject and s_rows:
                s_rows = s_rows[1:]
            if name not in oracle:
                ok = len(s_rows) > 0
                why = "no rows"
            else:
                d = con.sql(oracle[name])
                d_cols, d_rows, d_types = canon(d.columns, d.fetchall(), d.types)
                ok = (s_cols, s_types, s_rows) == (d_cols, d_types, d_rows)
                why = (f"cols {s_cols} vs {d_cols}" if s_cols != d_cols else
                       f"dtypes {s_types} vs {d_types}" if s_types != d_types else
                       f"rows {len(s_rows)} vs {len(d_rows)}" if len(s_rows) != len(d_rows)
                       else "values differ")
        except Exception as e:  # an oracle that cannot run is a failed check
            ok, why = False, f"exception {e}"
        if time.time() - t0 > 2:
            print(f"[perfbench] oracle check {name} took {time.time() - t0:.1f} s", file=sys.stderr)
        if not ok:
            print(f"[perfbench] oracle MISMATCH {name}: {why}", file=sys.stderr)
            bad.append(name)
    return bad


def units():
    try:
        with open("BENCHMARK.json") as fh:
            b = json.load(fh)
        return ({m["name"]: m["unit"] for m in b["end_to_end"]},
                {m["name"]: m["unit"] for m in b["per_layer"]})
    except (OSError, ValueError, KeyError):
        fail("BENCHMARK.json missing or unreadable")


def run_one(workload, seed, seconds, trace, classpath, cores):
    e2e_units, layer_units = units()
    base = os.path.abspath(".bench_work")
    work = os.path.join(base, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_jvm(workload, seed, seconds, trace, work, cores, classpath)
        t0 = time.time()
        bad = oracle_check(result, os.path.join(work, "corpus"),
                           os.environ.get("PERFBENCH_INJECT_WRONG"))
        check_s = time.time() - t0
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        tag = f"{workload}-seed{seed}-trace{int(trace)}"
        if os.path.exists(os.path.join(work, "spans.json")):
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(traces, f"{tag}.spans.json"))
        with open(os.path.join(traces, f"{tag}.result.json"), "w") as fh:
            json.dump(result, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed_names = result["failed_names"] + [f"oracle:{n}" for n in bad]
    attempted = max(1, int(result["attempted"]))
    failed = len(failed_names)
    missing = [k for k in e2e_units if k not in result["metrics"]]
    if missing:
        fail(f"{workload}: metrics missing from the run: {missing}")
    if trace:  # a layer this workload does not touch reports 0
        metrics = {k: {"value": result["layers"].get(k, 0.0), "unit": u}
                   for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": result["metrics"][k], "unit": u}
                   for k, u in e2e_units.items()}
    notes = result["notes"]
    print(f"[perfbench] {workload} seed={seed} trace={int(trace)} "
          f"corpus_gen_s={notes.get('corpus_gen_s')} oracle_check_s={check_s:.1f}",
          file=sys.stderr)
    for k, u in e2e_units.items():
        if k in result["metrics"]:
            print(f"[perfbench]   {k} = {result['metrics'][k]:.6g} {u}", file=sys.stderr)
    print(f"[perfbench]   failed_ratio = {failed / attempted:.6g} ratio "
          f"({failed}/{attempted}) {failed_names}", file=sys.stderr)
    print(f"[perfbench]   op_tail = {json.dumps(notes.get('op_tail'))}", file=sys.stderr)
    if trace:
        print(f"[perfbench]   dominant_layer = {notes.get('dominant_layer')}", file=sys.stderr)
        for k in ("trace.overhead_s", "exec.t1_over_tn"):
            if k in result["layers"]:
                print(f"[perfbench]   {k} = {result['layers'][k]:.6g}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seed < 0:
        fail("--seed must be >= 0")
    jars = spark_jars()
    classpath = build(jars) + jars
    cores = len(os.sched_getaffinity(0))
    names = WORKLOADS if a.workload == "all" else [a.workload]
    out = [run_one(n, a.seed, a.seconds, bool(a.trace), classpath, cores) for n in names]
    for r in out:
        print(json.dumps(r))


if __name__ == "__main__":
    main()
