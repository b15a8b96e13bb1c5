#!/usr/bin/env python3
"""Benchmark runner for the replicator and its catalog.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each exists):
  replicate_backfill  closed loop: replicate a staged 100k-record topic in one batch
  replicate_trickle   open loop: 500-record files land at seeded times
  catalog_mix         closed loop: stratified catalog subset, full-result actions

The first run in a checkout builds the engine and the harness with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from --seed, runs the harness JVM
under its own scratch root, checks the outputs (replica and manifest checks
in the JVM, catalog results against the DuckDB oracle SQL), records what the program left
under the scratch root, removes the root and prints one JSON object as the
last line of stdout. With --trace 0 it reports the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer metrics, from a traced window
that follows the untraced one (their difference is the tracing overhead).
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170  # every run (the build aside) ends well within 180 s
JVM_HEAP = "3g"
# corpus sizes: rows of `events` for the replication workloads, scale factor
# of the whole corpus for the catalog (1.0 = lineitem 6M rows)
BACKFILL_EVENTS = 100_000
CATALOG_SF = 0.004

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of everything the build reads: engine sources, harness sources
    and the harness build definition."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources (src/main/scala) under the current directory; "
            "run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, stdout=subprocess.PIPE, stderr=out,
                            stdin=subprocess.DEVNULL, text=True, timeout=780)
        out.write(rc.stdout)
    lines = [l for l in rc.stdout.splitlines() if l.strip()]
    if rc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(tail(log))
        die(f"build failed (log: {log})")
    # run from the packaged jar rather than the classes directory: the JVM
    # class-data archive below only covers classes loaded from jars
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    jars = [j for j in os.listdir(os.path.dirname(classes)) if j.endswith(".jar")]
    if len(jars) != 1:
        die(f"expected one packaged jar next to {classes}, found {jars}")
    cp = lines[-1].strip().replace(classes, os.path.join(os.path.dirname(classes), jars[0]))
    archive_classes(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def archive_classes(cp):
    """Dump a class-data-sharing archive of the classes a short replication
    run loads, so every later JVM maps them instead of loading ~300 jars'
    worth of classes again (it roughly halves session start). Without an
    archive the runs still work, only slower."""
    jsa = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    work = os.path.join(BUILD, "work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    sys.path.insert(0, HERE)
    import gen
    gen.generate_events(os.path.join(work, "corpus"), 0, 10_000)
    try:
        run_jvm(cp, "replicate_backfill", 0, 1, 0, os.path.join(work, "corpus"), work,
                time.monotonic() + 300, [f"-XX:ArchiveClassesAtExit={jsa}"])
    except SystemExit:
        print("perfbench: no class-data archive (training run failed)", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def tree_size(path):
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            try:
                size += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return files, size


def run_jvm(cp, workload, seed, seconds, trace, corpus, work, deadline, jvm_opts=None):
    """Run the harness once; return its report (dict)."""
    jsa = os.path.join(BUILD, "classes.jsa")
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "report.json")
    spans = os.path.join(BUILD, "spans", f"{workload}-{seed}.jsonl")
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{JVM_HEAP}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + jvm_opts + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", corpus, "--work", work, "--out", out,
        "--spans", spans]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, f"jvm-trace{trace}.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        # the harness JVM dies with this process, whatever ends it
        signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
        try:
            proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            stop()
            die(f"{workload} did not finish in time (log tail below)\n" + tail(log), 3)
        except BaseException:
            stop()
            raise
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
    if proc.returncode != 0 or not os.path.exists(out):
        die(f"{workload} harness exited {proc.returncode}\n" + tail(log), 3)
    with open(out) as f:
        return json.load(f)


def tail(path, n=4000):
    with open(path, errors="replace") as f:
        return f.read()[-n:]


def oracle_check(report, corpus):
    """Compare each dumped catalog result with its DuckDB oracle the way
    tools/check.py does; returns the names that do not match."""
    if not report["oracle"]:
        return []
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in check.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    first = next(iter(report["oracle"].values()))
    sql = json.load(open(os.path.join(os.path.dirname(first), "oracle_sql.json")))
    bad = []
    for name, path in report["oracle"].items():
        try:
            got = pd.read_parquet(path)
            if name in sql:
                ok = check.frame_rows(got) == check.frame_rows(con.sql(sql[name]).df())
            else:
                ok = len(got) > 0
        except Exception as e:  # a crash on either side is a mismatch
            print(f"# oracle {name}: {type(e).__name__} {str(e)[:200]}")
            ok = False
        if not ok:
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found in the current directory")
    spec = json.load(open(spec_path))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}")
    cp = build()
    deadline = time.monotonic() + DEADLINE_S

    sys.path.insert(0, HERE)
    import gen
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    corpus = os.path.join(work, "corpus")
    try:
        if a.workload == "catalog_mix":
            gen.generate(corpus, a.seed, CATALOG_SF)
        else:
            # trickle: enough 500-record files for the seeded arrivals
            rows = BACKFILL_EVENTS if a.workload == "replicate_backfill" \
                else 500 * int(12 + 2 * a.seconds)
            gen.generate_events(corpus, a.seed, rows)
        rep = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, corpus, work, deadline)
        bad_oracle = oracle_check(rep, corpus)
        left = [tree_size(os.path.join(work, d)) for d in ("tmp", "staging", "spark-local")]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = rep["failures"] + [f"{q}: result differs from the oracle" for q in bad_oracle]
    checks = dict(rep["checks"], oracle_match=not bad_oracle)
    correct = all(checks.values()) and not failures
    attempted = max(1, int(rep["attempted"]))
    if a.trace:
        layers = dict(rep["layers"], **{k: v["value"] for k, v in rep["metrics"].items()})
        layers = {k: 0.0 if v is None else v for k, v in layers.items()}
        layers["staging.leftover_files"] = sum(f for f, _ in left)
        layers["staging.leftover_bytes"] = sum(b for _, b in left)
        wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        for k in sorted(layers):
            print(f"# layer {k} = {layers[k]}")
    else:
        metrics = {}
        for m in spec["end_to_end"]:
            got = rep["metrics"][m["name"]]
            value = got["value"] if got["value"] is not None else 0.0  # no samples
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
            print(f"# {a.workload} {m['name']} = {value:.6g} {m['unit']} "
                  f"(samples {got['samples']})")
    for k, v in rep["detail"].items():
        print(f"# {a.workload} {k} = {v:.6g}")
    print(f"# {a.workload} attempted {attempted}, failed {len(failures)} "
          f"({len(failures) / attempted:.1%}), checks "
          + ", ".join(f"{k}={'ok' if v else 'FAIL'}" for k, v in checks.items()))
    for f in failures:
        print(f"# failure: {f}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
