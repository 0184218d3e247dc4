#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <crawl|queries> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the benchmark from source with sbt (once per
source state; outputs go to $CARGO_TARGET_DIR, default `.bench_build`),
starts one measuring JVM at local[4], checks the outputs, and prints as
its last line one JSON object with `correct`, `attempted`, `failed` and
`metrics`. With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` they are the per-layer metrics, and the
run also prints self time per span and the tracing overhead.

`setup_s` is the median of three fresh-JVM set-ups: the measuring JVM's
own and two JVMs that stop once set up. Each is timed from process start
to the JVM's READY line.

The queries workload reads the fixed test tables from $PERFBENCH_TABLES
(default ~/testdata/sf0.01, see TESTDATA.md) and compares every result with its DuckDB
oracle (`SparkEntry.oracleSql`).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl", "queries")
CORES = min(4, os.cpu_count() or 4)
HEAP = "3g"
SETUP_SAMPLES = 3
# time allowed for the JVMs of one run: a fixed part (set-ups, input,
# warm-up, checks) plus the measured window
RUN_LIMIT_FIXED_S = 120
RUN_LIMIT_PER_SECOND = 5
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s", "latency_ms.geomean": "ms", "quality": "ratio",
             "live_heap_mb": "MB", "success_rate": "ratio"}


class BenchError(Exception):
    pass


def work_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_digest():
    """Hash of every input of the build: engine and benchmark sources."""
    files = []
    for base in (ROOT, HERE):
        for pat in ("build.sbt", "project/*.properties", "project/*.sbt"):
            files += glob.glob(os.path.join(base, pat))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(work):
    """Compile engine + benchmark with sbt unless already built from the
    same sources; returns the runtime classpath."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        raise BenchError(f"engine sources not found under {ROOT}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java are needed to build and run the benchmark")
    digest = source_digest()
    stamp = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fc:
                    return fc.read().strip()
    log = os.path.join(work, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "-batch", "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True,
                           timeout=850, stdin=subprocess.DEVNULL)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        raise BenchError(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def java_cmd(cp, work, args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *opens, f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dfile.encoding=UTF-8",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main", "--work", work, "--cores", str(CORES), *args]


def run_jvm(cmd, log_path, deadline):
    """Start one JVM, killed if it is still running at `deadline`; return
    (seconds from start to READY, READY json, RESULT json or None, other
    stdout lines, exit code)."""
    with open(log_path, "a") as err:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             stdin=subprocess.DEVNULL, cwd=ROOT)
        killed = threading.Event()

        def kill():
            killed.set()
            p.kill()

        watchdog = threading.Timer(max(0.0, deadline - t0), kill)
        watchdog.start()
        ready_s, ready, result, other = None, None, None, []
        try:
            for line in p.stdout:
                if line.startswith("READY ") and ready is None:
                    ready_s = time.monotonic() - t0
                    ready = json.loads(line[6:])
                elif line.startswith("RESULT "):
                    result = json.loads(line[7:])
                else:
                    other.append(line.rstrip("\n"))
            p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
            p.wait()
    if killed.is_set():
        raise BenchError("run exceeded its time limit")
    if ready is None:
        raise BenchError(f"JVM exited (code {p.returncode}) before it was set up, see {log_path}")
    return ready_s, ready, result, other, p.returncode


def sorted_frame(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_queries(tables, verify_dir):
    """Compare each dumped query result with its DuckDB oracle; returns
    {query: None if it matches, else the reason}."""
    import duckdb
    con = duckdb.connect()
    for t in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    with open(os.path.join(verify_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    out = {}
    for name in sorted(os.listdir(verify_dir)):
        d = os.path.join(verify_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        if not files:
            out[name] = "no output"
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        if name not in oracle:  # no SQL oracle: the result must not be empty
            out[name] = None if len(got) > 0 else "empty result"
            continue
        try:
            want = con.execute(oracle[name]).fetchdf()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            out[name] = f"oracle error: {e}"
            continue
        if sorted(got.columns) != sorted(want.columns):
            out[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        elif len(got) != len(want):
            out[name] = f"{len(got)} rows != {len(want)}"
        elif not sorted_frame(got).equals(sorted_frame(want)):
            out[name] = "values differ"
        else:
            out[name] = None
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()

    work = work_dir()
    os.makedirs(work, exist_ok=True)
    cp = build(work)
    deadline = time.monotonic() + RUN_LIMIT_FIXED_S + RUN_LIMIT_PER_SECOND * a.seconds
    run_dir = os.path.join(work, "run")
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    os.makedirs(run_dir)
    log = os.path.join(work, "run.log")
    open(log, "w").close()

    tables = os.environ.get("PERFBENCH_TABLES", os.path.expanduser("~/testdata/sf0.01"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", tables]
    ready_s, ready, result, other, code = run_jvm(
        java_cmd(cp, run_dir, args), log, deadline)
    if result is None:
        raise BenchError(f"measuring JVM failed (code {code}), see {log}")
    for line in other:
        print(line)

    correct = result["correct"]
    attempted = result["attempted"]
    failed = result["failed"]
    e2e = {k: v["value"] for k, v in result["e2e"].items()}
    info = dict(result["info"])

    if a.workload == "queries":
        checks = check_queries(tables, result["verify_dir"])
        per_query = result["queries"]
        bad = {q for q in per_query if checks.get(q, "no output") is not None}
        for q in sorted(bad):
            print(f"check failed: {q}: {checks.get(q, 'no output')}")
        # a query whose output is wrong fails on every run of it
        failed += sum(per_query[q]["runs"] - per_query[q]["failed"] for q in bad)
        correct = correct and not bad
        e2e["quality"] = 1.0 - len(bad) / len(per_query)
        e2e["success_rate"] = 1.0 - failed / attempted
        info["oracle_checks_passed"] = {"value": len(per_query) - len(bad), "unit": "count"}
    info["error_rate"] = {"value": failed / attempted, "unit": "ratio"}

    setups = [ready_s]
    if not a.trace:
        for i in range(SETUP_SAMPLES - 1):
            s, _, _, _, _ = run_jvm(java_cmd(cp, os.path.join(run_dir, f"setup{i}"),
                                             args + ["--setup-only", "1"]), log, deadline)
            setups.append(s)
    e2e["setup_s"] = statistics.median(setups)

    if a.trace:
        metrics = result["layers"]
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(f"{a.workload} seed={a.seed}: set-up samples {', '.join(f'{s:.3f}' for s in setups)} s; "
          f"run took {time.monotonic() - started:.1f} s")
    print("setup breakdown: " + ", ".join(f"{k} {v['value']:.3f} {v['unit']}" for k, v in ready.items()))
    for k, v in info.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    if a.trace:
        print(f"spans written to {os.path.join(run_dir, 'spans.jsonl')}")
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
