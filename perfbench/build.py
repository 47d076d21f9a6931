#!/usr/bin/env python3
"""Build file of the benchmark.

1. Compiles the engine (src/main/scala) and the benchmark code
   (perfbench/src/main/scala) with the Scala compiler that ships in Spark's
   jars directory, and packs the classes into
   .bench_build/classes-<source hash>/perfbench.jar.
2. Makes a class-data-sharing archive (app.jsa) beside the jar from one
   training run at the smoke size. Every run then maps the engine's and
   Spark's classes from the archive instead of loading them, which halves
   JVM and Spark start-up. Without the archive a run is slower, not wrong.

A tree whose sources and build file are unchanged is reused.

Usage: python3 perfbench/build.py   (prints the jar's path)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main", "scala")]
SCALA_VERSION = "2.13.17"
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]

# no JVM log lines on stdout, and no perf-data file outside the checkout
QUIET = ["-Xlog:disable", "-XX:-UsePerfData"]


def spark_jars():
    """The jars directory of the Spark install (SPARK_HOME, else the one
    whose bin/ holds spark-submit on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark jars directory (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java executable (set JAVA_HOME)")
    return exe


def jvm_command(jar, run_dir, args, cds):
    """The benchmark JVM: `cds` is the -XX flag that uses or writes the
    class-data archive, or None."""
    return [java(), f"-Xmx{HEAP}", *QUIET, *([cds] if cds else []), *ADD_OPENS,
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", os.pathsep.join([jar, os.path.join(spark_jars(), "*")]),
            "graft.perfbench.Main", "--dir", run_dir, *args]


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def compile_jar(files, jar):
    classes = os.path.join(OUT, "compile.tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                               for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    subprocess.run([java(), *QUIET, "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"),
                    "@" + argfile], check=True, stdout=sys.stderr)
    # class-data sharing archives classes from jars only, not directories
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for base, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(base, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)


def train_archive(jar, archive):
    """One smoke-size run of `cluster_graph` (Spark start-up, parquet, SQL
    codegen: the classes every run loads) with the archive written at JVM
    exit."""
    run_dir = os.path.join(OUT, "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    tmp = archive + ".tmp"
    args = ["--workload", "cluster_graph", "--seed", "1", "--seconds", "1", "--trace", "0",
            "--scale", "smoke"]
    p = subprocess.run(jvm_command(jar, run_dir, args, f"-XX:ArchiveClassesAtExit={tmp}"),
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=run_dir,
                       timeout=600)
    shutil.rmtree(run_dir, ignore_errors=True)
    if p.returncode == 0 and os.path.exists(tmp):
        os.rename(tmp, archive)


def build():
    """Returns (jar, archive or None) for the current sources."""
    files = sources()
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    tree = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    jar = os.path.join(tree, "perfbench.jar")
    archive = os.path.join(tree, "app.jsa")
    if not os.path.exists(os.path.join(tree, "BUILD_OK")):
        os.makedirs(OUT, exist_ok=True)
        for old in os.listdir(OUT):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
        os.makedirs(tree)
        compile_jar(files, jar)
        train_archive(jar, archive)
        open(os.path.join(tree, "BUILD_OK"), "w").close()
    return jar, (archive if os.path.exists(archive) else None)


if __name__ == "__main__":
    print(build()[0])
