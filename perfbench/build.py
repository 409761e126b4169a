"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark client (`perfbench/src`)
with the Scala compiler that ships in Spark's jars, into one jar in a
build directory keyed by a hash of every source, so an unchanged tree
builds once. (A jar, not a class directory: the JVM's class-data
sharing archives, which run.py keeps beside it, accept only jars.)

Usage: python3 perfbench/build.py   (prints the jar's path)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars() -> str:
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(
            shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler: "
                         "set SPARK_HOME")
    return jars


def build_dir() -> str:
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        raise BuildError("program sources src/main/scala/**/*.scala not found")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return prog + bench


def build() -> str:
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(build_dir(), "build-" + h.hexdigest()[:16])
    jar = os.path.join(out, "graft-perfbench.jar")
    if os.path.exists(jar):
        return jar
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(os.path.join(tmp, "jtmp"))
    os.makedirs(classes)
    argfile = os.path.join(tmp, "jtmp", "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}/jtmp",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
           "-d", classes, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    with zipfile.ZipFile(os.path.join(tmp, "graft-perfbench.jar"), "w") as z:
        for base, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(base, f)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)
    shutil.rmtree(os.path.join(tmp, "jtmp"))
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
