#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark (perfbench/src) from source into one class directory with the Scala
compiler that ships among the Spark jars ($SPARK_HOME/jars).

    python3 perfbench/build.py          # prints the class directory

Output goes to $CARGO_TARGET_DIR/perfbench (default: .bench_build/perfbench
under the checkout). A build is skipped when a stamp of every source file
matches the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")


def spark_jars():
    """$SPARK_HOME/jars, else the first jars directory beside a spark-submit
    on the PATH that holds the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            jars = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
            if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
                return jars
    raise SystemExit("perfbench: set SPARK_HOME or put Spark's spark-submit on the PATH")


def out_dir():
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(target):
        target = os.path.join(ROOT, target)
    return os.path.join(target, "perfbench")


def sources():
    found = []
    for top in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime class path: compiled classes, library resources, Spark jars."""
    return os.pathsep.join([os.path.join(out_dir(), "classes"), LIB_RES,
                            os.path.join(spark_jars(), "*")])


def build():
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        raise SystemExit("perfbench: no library sources at %s" % LIB_SRC)
    files = sources()
    want = stamp(files)
    out = out_dir()
    stamp_file = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return classes
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-d", fresh, "-classpath", jars, "-nowarn"] + files
    sys.stderr.write("perfbench: compiling %d sources\n" % len(files))
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(build())
