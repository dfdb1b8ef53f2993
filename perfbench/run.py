#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload search|churn --seed N \
        --seconds S --trace 0|1 [--size bench|tiny]

Builds the library and the benchmark from source first (see build.py). The
last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics; see perfbench/README.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Spark on JDK 17 needs these outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A run must end within this many seconds once built.
RUN_LIMIT_S = 170


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["search", "churn"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--size", choices=["bench", "tiny"], default="bench")
    a = p.parse_args()

    build.build()
    work = os.path.join(build.out_dir(), "work")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-Djava.io.tmpdir=" + tmp,
           "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graft.bench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--size", a.size, "--work", work]
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write("perfbench: run exceeded %d s\n" % RUN_LIMIT_S)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out.decode("utf-8", "replace"))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
