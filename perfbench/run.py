#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. The run itself is one JVM on
local[nproc]; its result is the last line of stdout, everything else goes
to stderr. Build outputs, work directories, per-run reports and trace span
files live under .bench_build/ at the repository root.

    python3 perfbench/run.py --oracle-check [--seed <n>]

builds the pipeline corpus at one replica, runs the benchmark's pipeline
queries and compares each result, column by column and row by row, with
DuckDB running the engine's own oracle SQL over the same generated
parquet.
"""
import argparse
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
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(OUT, "build.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 outside spark-submit needs these module openings (the
# same list the root build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine and harness sources and
    build definitions."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(tree)):
            inputs += [os.path.join(d, f) for f in sorted(fs)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout=None):
    """Run cmd in its own process group; kill the whole group on timeout.
    Returns (exit code or None on timeout, stdout text or None)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no engine sources next to the benchmark (build.sbt, src/main/scala)")
        sys.exit(2)
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) \
            and open(STAMP).read() == stamp:
        return
    os.makedirs(OUT, exist_ok=True)
    log("building engine and harness (sbt writeClasspath)")
    t0 = time.time()
    code, _ = run_group(["sbt", "-batch", "writeClasspath"], BENCH,
                        BUILD_TIMEOUT_S, stdout=sys.stderr)
    if code != 0 or not os.path.isfile(CLASSPATH):
        log(f"build failed (exit {code})")
        sys.exit(3)
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")


def heap_mb():
    """Half of physical memory, capped at 6 GiB: the runs are sized to fit
    well inside that on a shared machine."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return min(int(line.split()[1]) // 1024 // 2, 6144)
    return 4096


def java_cmd(main_args, work, main_class="perfbench.Main"):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", open(CLASSPATH).read().strip(), main_class] + main_args)


def run_workload(a):
    work = os.path.join(OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    reports = os.path.join(OUT, "reports")
    os.makedirs(reports, exist_ok=True)
    report = os.path.join(reports, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--report", report]
    code, out = run_group(java_cmd(args, work), ROOT, RUN_TIMEOUT_S,
                          stdout=subprocess.PIPE)
    if a.trace == 1 and os.path.isdir(os.path.join(work, "trace")):
        for f in os.listdir(os.path.join(work, "trace")):
            shutil.copy(os.path.join(work, "trace", f), reports)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        log(f"run timed out after {RUN_TIMEOUT_S} s")
        sys.exit(4)
    lines = (out or "").splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if code != 0 or not lines:
        log(f"run failed (exit {code})")
        sys.exit(5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("malformed result line")
        sys.exit(6)
    result["metrics"] = declared_metrics(result["metrics"], a.trace)
    print(json.dumps(result), flush=True)


def declared_metrics(got, trace):
    """The result's metrics in BENCHMARK.json's order. An untraced run must
    report every end-to-end metric. A traced run reports the per-layer
    metrics of the layers its workload crosses; those of layers it does
    not cross did no work there and read 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    declared = {m["name"]: m["unit"] for m in spec}
    unknown = sorted(set(got) - set(declared))
    missing = sorted(set(declared) - set(got))
    if unknown or (missing and not trace):
        log(f"metrics not as declared: unknown {unknown}, missing {missing}")
        sys.exit(7)
    out = {}
    for name, unit in declared.items():
        m = got.get(name, {"value": 0, "unit": unit})
        if m["unit"] != unit or not isinstance(m["value"], (int, float)):
            log(f"metric {name}: {m} does not match its declared unit {unit}")
            sys.exit(7)
        out[name] = m
    return out


def oracle_check(seed):
    """Engine results of the pipeline queries against DuckDB on the same
    one-replica corpus. Returns the number of mismatching queries."""
    import duckdb
    import pandas as pd
    work = os.path.join(OUT, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    code, _ = run_group(java_cmd([work, str(seed)], work, "perfbench.OracleDump"),
                        ROOT, RUN_TIMEOUT_S)
    if code != 0:
        log(f"engine side failed (exit {code})")
        return 1
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{work}/data/{t}.parquet/*.parquet')")
    bad = 0
    for name, sql in json.load(open(os.path.join(work, "oracle_sql.json"))).items():
        want = con.execute(sql).df()
        got = pd.read_parquet(os.path.join(work, "result", name))
        cols = sorted(want.columns)
        problem = None
        if cols != sorted(got.columns):
            problem = f"columns {sorted(got.columns)} != oracle {cols}"
        elif len(want) != len(got):
            problem = f"rows {len(got)} != oracle {len(want)}"
        else:
            want = want[cols].reset_index(drop=True)
            got = got[cols].reset_index(drop=True)
            for c in cols:
                try:
                    eq = (want[c] == got[c]) | (want[c].isna() & got[c].isna())
                except (TypeError, ValueError):  # list-valued cells
                    eq = want[c].astype(str) == got[c].astype(str)
                if not eq.all():
                    i = (~eq).idxmax()
                    problem = f"column {c} row {i}: oracle {want[c][i]!r}, engine {got[c][i]!r}"
                    break
        print(f"{'FAIL' if problem else 'OK  '} {name}: {problem or f'{len(got)} rows'}")
        bad += problem is not None
    shutil.rmtree(work, ignore_errors=True)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--oracle-check", action="store_true")
    a = ap.parse_args()
    build()
    if a.oracle_check:
        sys.exit(1 if oracle_check(a.seed) else 0)
    if not a.workload:
        ap.error("--workload is required")
    run_workload(a)


if __name__ == "__main__":
    main()
