#!/usr/bin/env python3
"""graft's benchmark: one workload, one seeded run, one JSON result line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload analyst|mv_stream|crawl_curate \
      --seed N --seconds S --trace 0|1

Builds graft and the harness from source (once per source version), writes
the seeded inputs under a fresh directory, runs the workload in a fresh JVM
for S seconds, checks the outputs (untimed), and prints a report followed by
one JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 1
the metrics are the per-layer ones and the raw record (spans, jobs, stages,
executions) is kept under <build dir>/traces/. Exits 1 when an output check
fails, 2 when the checkout has no graft sources to build.
"""
import argparse
import datetime as dt
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen       # noqa: E402
import metrics   # noqa: E402

WORKLOADS = ("analyst", "mv_stream", "crawl_curate")
JVM_HEAP = "2g"
# Spark on JDK 17 outside spark-submit (the root build passes the same)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(root, rel)
        files = [p] if os.path.isfile(p) else sorted(
            glob.glob(os.path.join(p, "**", "*"), recursive=True))
        for f in files:
            if os.path.isfile(f):
                h.update(os.path.relpath(f, root).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build(root, cache):
    """Compile graft and the harness; return the runtime classpath.
    Reuses the previous build while no source file changed."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(cache, "stamp")
    cp_file = os.path.join(cache, "classpath.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building graft and the harness with sbt ...")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.autostart=false",
         "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840,
        stdin=subprocess.DEVNULL,
        # resolve only from the local cache; the build needs no downloads
        env=dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline")))
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in out.stdout.splitlines() if ln.strip()][-1].strip()
    os.makedirs(cache, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, workload, run_dir, seconds, trace, timeout):
    """Start the harness in a fresh JVM; return (record, launch time)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "record.json")
    cmd = [java_bin(), f"-Xmx{JVM_HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
           workload, os.path.join(run_dir, "input"),
           os.path.join(run_dir, "state"), str(seconds), str(trace), out]
    launched = time.time()
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: harness exited with code {rc}")
    with open(out) as f:
        return json.load(f), launched


def _norm(v):
    """One cell as a comparable string: the harness tags what JSON cannot
    carry exactly; DuckDB's Python values are brought to the same form."""
    if isinstance(v, dict):
        (tag, x), = v.items()
        return f"{tag}:{x}"
    if isinstance(v, float):
        return repr(v) if math.isfinite(v) else f"double:{_JAVA_NONFINITE[repr(v)]}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        delta = v - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        return f"ts:{(delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds}"
    if isinstance(v, dt.date):
        return f"date:{v.isoformat()}"
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v:f}"
    return str(v)


_JAVA_NONFINITE = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def _canon(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    return ([names[i] for i in order],
            sorted(tuple(_norm(r[i]) for i in order) for r in rows))


def check_analyst(record, tables_dir):
    """Every timed query's rows against its oracle SQL in DuckDB (an entry
    without an oracle must return rows). Returns {query: problem}."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    names = {o["id"]: o["name"] for o in record["ops"]}
    oracle, want, bad = record["meta"]["oracle"], {}, {}
    for res in record["meta"]["results"]:
        q = names[res["op"]]
        got = _canon(res["columns"], res["rows"])
        if oracle[q] is None:
            if not got[1]:
                bad[q] = "no rows"
            continue
        if q not in want:
            try:
                cur = con.execute(oracle[q])
                want[q] = _canon([c[0] for c in cur.description], cur.fetchall())
            except Exception as e:   # an oracle that fails is a failed check
                want[q] = f"oracle error: {e}"
        if isinstance(want[q], str):
            bad[q] = want[q]
        elif got[0] != want[q][0]:
            bad[q] = f"columns {got[0]} != oracle {want[q][0]}"
        elif got[1] != want[q][1]:
            bad[q] = (f"values differ ({len(got[1])} rows vs oracle "
                      f"{len(want[q][1])})")
    con.close()
    return bad


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log(f"no graft sources under {root}: run from the root of a checkout")
        return 2
    cache = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                         "perfbench")
    cp = build(root, cache)

    run_dir = os.path.join(cache, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        gen.generate(os.path.join(run_dir, "input"), a.seed)
        record, launched = run_jvm(cp, a.workload, run_dir, a.seconds,
                                   a.trace, timeout=a.seconds + 150)
        problems = {f"op {i}": "wrong output"
                    for i in record["meta"].get("failed_ops", [])}
        if a.workload == "analyst":
            problems = check_analyst(
                record, os.path.join(run_dir, "input", "tables"))
            record["meta"]["failed_ops"] = [
                o["id"] for o in record["ops"] if o["name"] in problems]
            del record["meta"]["results"]
        if a.trace:
            traces = os.path.join(cache, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(
                    traces, f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump(record, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report, result = metrics.summarize(record, launched, a.trace)
    report.update(workload=a.workload, seed=a.seed, problems=problems)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main(sys.argv[1:]))
