#!/usr/bin/env python3
"""Benchmark for graft: builds the library and the harness from source,
runs one workload in a fresh JVM and prints one JSON result line last.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Workloads: ingest, dashboard (see BENCHMARK.json).
--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics and writes spans and the self-time table to .bench_out/trace/.
Extra flags, for the benchmark's own tests: --tiny (small inputs),
--wrong-expect (check every op against a deliberately wrong expectation).

Everything is built and written inside the checkout: classes go to
.bench_build/, per-run scratch and traces to .bench_out/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700
HEAP = "3g"

JDK17_OPENS = [
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


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not lib:
        fail("no library sources under src/main/scala")
    if not bench:
        fail("no harness sources under perfbench/src")
    return lib + bench


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars at {jars}")
    return jars


def build(srcs, jars):
    """Compile library + harness once per source digest; reuse afterwards."""
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    out = os.path.join(base, h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return os.path.join(out, "classes")
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", os.path.join(tmp, "classes"), "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed", 3)
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"# built {len(srcs)} sources in {time.time() - t0:.1f}s")
    return os.path.join(out, "classes")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "dashboard"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--wrong-expect", action="store_true")
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(sources(), jars)
    out_dir = os.path.join(ROOT, ".bench_out", "trace")
    work = os.path.join(ROOT, ".bench_out", f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--out", out_dir]
           + (["--tiny"] if a.tiny else [])
           + (["--wrong-expect"] if a.wrong_expect else []))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log_path = os.path.join(ROOT, ".bench_out", f"jvm-{a.workload}-{a.seed}.log")
    try:
        with open(log_path, "wb") as log:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env, cwd=ROOT)
            try:
                stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S}s (log: {log_path})", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.decode(errors="replace").splitlines()
    if p.returncode != 0 or not lines:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {p.returncode}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 6)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
