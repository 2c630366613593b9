#!/usr/bin/env python3
"""Product-path benchmark for graft.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload backfill|campaign|curation \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark harness from source on first use
(`perfbench/build.sbt`, output under `perfbench/target`), runs one workload
in one JVM, checks its outputs, prints a summary and, as the last line of
standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are BENCHMARK.json's `end_to_end` list, with
`--trace 1` its `per_layer` list. Everything the run writes stays under
`perfbench/.work` and is deleted at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSPATH = os.path.join(BENCH, "target", "perfbench-classpath.txt")
JVM_DEADLINE_S = 160
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


def sources_mtime():
    newest = 0.0
    for top in (os.path.join(BENCH, "src"), PROGRAM, os.path.join(BENCH, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile with sbt (offline) and record the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 1)
    with open(CLASSPATH, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def heap_arg():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        kb = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal")).split()[1])
        return f"-Xmx{max(2, min(4, kb // 2 // 1048576))}g"
    except (OSError, StopIteration, ValueError):
        return "-Xmx2g"


def run_jvm(cp, args, work, deadline):
    # soft references clear at every collection, so old-generation use after
    # a full GC (heap_peak_mb) does not depend on when memory got tight
    cmd = (["java", heap_arg(), "-XX:+UseG1GC", "-XX:SoftRefLRUPolicyMSPerMB=0",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", work])
    if args.trace:
        cmd += ["--spans", os.path.join(BENCH, "out", f"{args.workload}.spans.jsonl")]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.stderr.write(open(log_path).read()[-6000:])
            fail("run exceeded its deadline", 1)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(open(log_path).read()[-6000:])
        fail(f"workload run failed (exit {proc.returncode})", 1)
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def check_oracle(data, verify, notes, deadline):
    """Runs tools/check_oracle.py over the curation pass's results; returns
    how many queries disagree with DuckDB."""
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        queries = len(json.load(f))
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), data, verify],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=max(10, deadline + 15 - time.time()))
    fails = [l for l in proc.stdout.splitlines() if l.startswith("FAIL ")]
    notes += [f"oracle {l}" for l in fails]
    if proc.returncode != 0 and not fails:
        # the check itself broke: no query counts as checked
        notes.append("oracle check failed: " + proc.stdout[-2000:])
        return queries
    return len(fails)


def expected_names(trace):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["backfill", "campaign", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM):
        fail(f"program sources not found at {PROGRAM}; run from a checkout root")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    cp = build()
    deadline = time.time() + JVM_DEADLINE_S
    work = os.path.join(BENCH, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work, deadline)
        failed = res["failed"]
        notes = []
        if "verify" in res["extra"]:
            bad = check_oracle(res["extra"]["data"], res["extra"]["verify"], notes, deadline)
            # a wrong result makes every op of that query wrong
            failed = min(res["attempted"], failed + bad * int(res["extra"]["passes"]))
    finally:
        # the JVM's log of the last run of each workload stays in perfbench/out
        log = os.path.join(work, "jvm.log")
        if os.path.exists(log):
            os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
            shutil.copy(log, os.path.join(BENCH, "out", f"{args.workload}.jvm.log"))
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    want = expected_names(args.trace) if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) \
        else list(metrics)
    if sorted(want) != sorted(metrics):
        fail(f"metric names differ from BENCHMARK.json: {sorted(set(want) ^ set(metrics))}", 1)
    for note in notes:
        print(f"note: {note}")
    summary = dict(res["summary"])
    summary["fail_ratio"] = {"value": failed / res["attempted"], "unit": "ratio"}
    for name, m in list(metrics.items()) + list(summary.items()):
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": {n: metrics[n] for n in want}}))


if __name__ == "__main__":
    main()
