#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the program and
the benchmark from source with sbt (perfbench/build.sbt) and caches the
runtime classpath under .bench_build/; later calls reuse it while no
source file has changed. Each call then starts one benchmark JVM with a
fresh java.io.tmpdir under .bench_build/, so no artifact cached by an
earlier run or another checkout is ever served, and removes that
directory when the JVM has ended. The JVM's last stdout line, the
result JSON, is the last line this script prints.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["serve_iter", "serve_onepass", "gibbs"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build if any source changed since the cached build; return the
    runtime classpath."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            fail(f"no program sources here ({os.path.relpath(need, ROOT)} is missing)")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    now = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == now:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "compile", "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(now)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    data = os.path.join(HERE, "data")
    expected = os.path.join(HERE, "expected.tsv")
    if not os.path.isdir(data) or not os.path.exists(expected):
        fail("benchmark inputs are missing")
    cp = classpath()

    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(BUILD, "tmp"))
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(tmp, 'spark')}",
        "-Dspark.ui.enabled=false",
        f"-Dperfbench.data={data}",
        f"-Dperfbench.expected={expected}",
        f"-Dperfbench.tmp={tmp}",
        f"-Dperfbench.out={os.path.join(BUILD, 'runs')}",
        f"-Dperfbench.src={os.path.join(ROOT, 'src', 'main', 'scala')}",
        # long call sites deep enough to reach the sampler's sweep loop
        "-Dspark.callstack.depth=60",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with code {proc.returncode} and no result")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
