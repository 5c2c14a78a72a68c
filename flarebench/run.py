#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

Usage (from the repository root):
  python3 flarebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first call builds the program and this harness with sbt (offline) and
caches the class path; later calls reuse it while the sources are unchanged.
Each run is one JVM with one Spark local[k] session. Its outputs are checked:
flare_daily against its generator's model inside the JVM, the battery rows
against DuckDB answers kept in flarebench/expected/ (see expected.py).
See flarebench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
BUILD = os.path.join(BENCH, "target", "flarebench-build.json")

SF_DIR = os.environ.get("FLAREBENCH_SF_DIR", "/root/testdata/sf0.01")
HEAP = "2g"
JVM_TIMEOUT_S = 170

BATTERY_ROWS = ["q118_join_state", "x21_minhash_lsh"]
# workload -> the battery rows it runs
WORKLOADS = {
    "flare_daily": [],
    "battery_rows": BATTERY_ROWS,
}
END_TO_END = ["setup_s", "cpu_s", "peak_rss_mb", "retained_heap_mb"]

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[flarebench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, fs in os.walk(root):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the harness once; returns the class path."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        sys.exit("flarebench: no program sources next to the benchmark")
    stamp = source_stamp()
    if os.path.exists(BUILD):
        with open(BUILD) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    sbt = shutil.which("sbt") or "/opt/sbt/bin/sbt"
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t = time.time()
    p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"flarebench: build failed (sbt exit {p.returncode})")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(BUILD), exist_ok=True)
    with open(BUILD, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"built in {time.time() - t:.0f} s")
    return classpath


def java_cmd(classpath, main, args, tmp):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             "-XX:+UseSerialGC", "-Xmn1g",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-cp", classpath, main] + args)


def run_jvm(cmd, logfile, timeout):
    """Runs the JVM to its end (killing it at the timeout); returns its code."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, cwd=REPO, stdin=subprocess.DEVNULL,
                             stdout=out, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def expected_answers():
    path = os.path.join(BENCH, "expected", os.path.basename(SF_DIR.rstrip("/")) + ".json")
    with open(path) as f:
        return json.load(f)


def check_rows(rows, out_dir):
    """Compares each row's engine output with its DuckDB answer."""
    import oracle
    exp = expected_answers()["rows"]
    con = oracle.connect()
    bad = []
    for r in rows:
        files = os.path.join(out_dir, r, "*.parquet")
        try:
            got = oracle.canon(con, f"SELECT * FROM read_parquet('{files}')")
        except Exception as e:  # no output at all: the row threw every round
            bad.append(f"{r}: no output ({e.__class__.__name__})")
            continue
        want = {k: exp[r][k] for k in ("rows", "columns", "digest")}
        if got != want:
            bad.append(f"{r}: got {got['rows']} rows {got['columns']}, "
                       f"want {want['rows']} rows {want['columns']}"
                       + (" (same shape, other values)" if got["rows"] == want["rows"] else ""))
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    rows = WORKLOADS[a.workload]
    cores = min(4, os.cpu_count() or 1)
    cmd = java_cmd(classpath, "flarebench.Main",
                   [a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
                    SF_DIR, str(cores), ",".join(rows), ",".join(BATTERY_ROWS)],
                   tmp)
    code = run_jvm(cmd, os.path.join(work, "jvm.log"), JVM_TIMEOUT_S)
    result_file = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_file):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"flarebench: JVM ended with {'a timeout' if code is None else code}")
    with open(result_file) as f:
        res = json.load(f)

    failures = list(res["checks_failed"])
    if rows:
        failures += check_rows(rows, os.path.join(work, "out"))
    for f in failures:
        log(f"check failed: {f}")
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    if not a.trace:
        assert sorted(metrics) == sorted(END_TO_END), metrics
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
