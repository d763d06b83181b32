#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload queries|serve --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) into the usual sbt
target directories and writes the runtime classpath to .bench_build/; later
runs reuse it until a source file changes. Each run copies the sf0.01
sources into a private directory under .bench_build/, launches the harness
JVM (graftbench.Main) with its temp directory there too, and removes the
directory after the JVM has exited. Reports (and, for traced runs, span
files) are kept under .bench_build/reports/.

The sources are the sf0.01 row of the repository's TESTDATA.md. Spark runs on
2 cores (fewer on a smaller machine) with a 3 GB heap.

    python3 perfbench/run.py --record   # rewrite perfbench/expected/query_hashes.tsv
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(HERE, "expected", "query_hashes.tsv")
RUN_LIMIT_S = 170  # a run must end within 180 s; keep a margin
BUILD_LIMIT_S = 700
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same set to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def data_dir():
    """The sf0.01 sources: the sf0.01 row of the repository's TESTDATA.md.
    The expected outputs in perfbench/expected/ are for exactly this data."""
    manifest = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.isfile(manifest):
        fail("no TESTDATA.md at the checkout root")
    for line in open(manifest, encoding="utf-8"):
        m = re.match(r"\|\s*0\.01\s*\|\s*`([^`]+)`", line)
        if m:
            return m.group(1).rstrip("/")
    fail("TESTDATA.md has no sf0.01 row")


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.server.autostart=false"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compile engine + harness once per source fingerprint; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    fp = fingerprint()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read().strip() == fp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "compile", "export Runtime / fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    if os.pathsep not in cp or cp.startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build did not print a classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(fp + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def cpus():
    """Spark cores: 2, or fewer on a smaller machine. Fixed rather than taken
    from the machine, so boxes of different sizes do the same work; two cores
    also leave the JIT and GC threads room, which keeps run-to-run spread
    down (four Spark threads on four cores spread noticeably more)."""
    return str(min(2, os.cpu_count() or 1))


def launch(cp, args, work, budget_s):
    """Run graftbench.Main in its own process group; return (code, stdout)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(work, "jvm.args")
    with open(argfile, "w") as fh:
        fh.write("-cp\n" + cp + "\n")
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    # Compile hot methods after a fifth of the usual invocation counts: the
    # JIT otherwise keeps compiling Spark's own code well into the measured
    # passes, and how far it got depends on how much CPU the host left it,
    # which made per-pass CPU time drift from run to run.
    cmd = ["java", f"-Xmx{HEAP}", "-XX:CompileThresholdScaling=0.2",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Dio.netty.tryReflectionSetAccessible=true",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"@{argfile}", "graftbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"run exceeded {budget_s:.0f} s and was stopped", code=4)
    return proc.returncode, out


def tracing_overhead(report, workload):
    """Traced minus untraced end-to-end metrics, against the newest untraced
    report of the same workload in this checkout."""
    reports = os.path.join(BUILD, "reports")
    base = sorted((os.path.join(reports, f) for f in os.listdir(reports)
                   if f.startswith(f"{workload}-") and f.endswith("-trace0.json")),
                  key=os.path.getmtime)
    if not base:
        return None
    with open(base[-1]) as fh:
        untraced = json.load(fh)["end_to_end"]
    return {k: {"traced": v["value"], "untraced": untraced[k]["value"],
                "delta": v["value"] - untraced[k]["value"], "unit": v["unit"]}
            for k, v in report["end_to_end"].items() if k in untraced}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["queries", "serve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite the expected query hashes instead of running a workload")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a full checkout")
    if not a.record and not os.path.isfile(EXPECTED):
        fail(f"missing expected outputs {EXPECTED}")
    data = data_dir()
    if not os.path.isdir(data):
        fail(f"sf0.01 sources not found at {data}")
    cp = build()
    t0 = time.time()
    work = os.path.join(BUILD, "runs", f"{a.workload or 'record'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    report = os.path.join(BUILD, "reports", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    try:
        if a.record:
            args = ["--data", data, "--work", work, "--cpus", cpus(), "--record", EXPECTED]
            code, out = launch(cp, args, work, 900)
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--work", work, "--cpus", cpus(),
                "--expected", EXPECTED, "--report", report]
        code, out = launch(cp, args, work, RUN_LIMIT_S - (time.time() - t0))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"harness exited with {code}", code=code or 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1][:200]}")
    if a.trace:
        with open(report) as fh:
            rep = json.load(fh)
        rep["tracing_overhead"] = tracing_overhead(rep, a.workload)
        with open(report, "w") as fh:
            json.dump(rep, fh)
        print(f"[perfbench] tracing overhead: {json.dumps(rep['tracing_overhead'])}",
              file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
