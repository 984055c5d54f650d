#!/usr/bin/env python3
"""Build and run the benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --test     # the benchmark's own tests
    python3 perfbench/run.py --pin      # regenerate the pinned outputs

Run from the root of a checkout of the repository. The first run builds the
engine and the benchmark from source with sbt (offline); later runs reuse
the build while the sources are unchanged. The last line of stdout is the
result JSON; everything else goes to stderr. Results and traces are kept
under .bench_build/perfbench/; the run's inputs are deleted when it ends.
"""

import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(OUT, "build.stamp")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these; the engine's build.sbt
# passes the same list to its forked runs.
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


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    return env


def sbt(*tasks):
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks],
                           cwd=HERE, env=sbt_env(), stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except FileNotFoundError:
        fail("sbt is not on PATH")
    except subprocess.TimeoutExpired:
        fail(f"sbt {' '.join(tasks)} timed out")
    if p.returncode != 0:
        fail(f"sbt {' '.join(tasks)} failed ({p.returncode})")


def build():
    """Returns the runtime classpath, building first if sources changed."""
    want = stamp()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    sbt("writeClasspath")
    os.makedirs(OUT, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    with open(CLASSPATH) as cp:
        return cp.read().strip()


def java(classpath, work, main_args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    heap = env.setdefault("SPARK_DRIVER_MEM", "4g")
    # A fixed heap size: left to grow on demand, the committed heap ended
    # up anywhere from 0.6 to 1.4 GB, and with it how often the collector
    # ran.
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           # A fixed set of JIT compiler threads, so the benchmark can read
           # and leave out their CPU time (perfbench.Cpu).
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", *main_args, "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the run exceeded {RUN_TIMEOUT_S} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--test", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} holds no engine sources (build.sbt, src/main/scala/graft)")
    if a.test:
        sbt("test")
        return
    if not a.pin and (a.workload is None or a.seed is None or a.seconds is None):
        fail("--workload, --seed and --seconds are required")

    classpath = build()
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.pin:
            code, out = java(classpath, work,
                             ["--pin", os.path.join(HERE, "src", "main", "resources")])
            sys.stderr.write(out)
            sys.exit(code)
        code, out = java(classpath, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", OUT])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    sys.stderr.write("\n".join(lines[:-1] if result else lines) + "\n")
    if result is None:
        fail(f"the run printed no result (exit {code})", code or 1)
    print(result, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
