"""Offline build of the program plus the benchmark harness.

Compiles every `src/main/scala` file of the checkout together with
`perfbench/src` using the Scala compiler that ships among the Spark jars,
and packs the classes into `.bench_build/bench-<hash>.jar`, where the hash
covers every source file. The repository's own sbt build is neither used
nor touched, so the build needs no network and no sbt state.

Usage: python3 perfbench/build.py   (prints the jar path)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars_dir():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    repository's build.sbt names as its unmanaged jar base."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    build_sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(build_sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(build_sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


JVM_FLAGS = ["-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(jar, tmpdir):
    """`java ...` up to the main class."""
    cmd = ["java"] + JVM_FLAGS
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + [
        "-Dlog4j.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
        "-Djava.io.tmpdir=" + tmpdir,
        "-cp", jar + os.pathsep + os.path.join(spark_jars_dir(), "*"),
        "graftbench.Main"]


def slots():
    """Spark task slots: the machine's CPUs, at most 4."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("build: no src/main/scala sources in " + ROOT)
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src/**/*.scala"),
                             recursive=True))
    return main + bench


def build():
    """Compile if needed; return the jar."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out_root = os.path.join(ROOT, ".bench_build")
    stem = os.path.join(out_root, "bench-" + h.hexdigest()[:16])
    jar = stem + ".jar"
    if os.path.isfile(jar):
        return jar
    jars = spark_jars_dir()
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-2\.13.*\.jar$", n)]
    if len(compiler) != 3:
        raise SystemExit("build: scala 2.13 compiler jars missing in " + jars)
    shutil.rmtree(out_root, ignore_errors=True)
    classes = os.path.join(out_root, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", os.pathsep.join(sorted(compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print("build: compiling %d sources" % len(srcs), file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit("build: scalac failed")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(classes)
    return jar


if __name__ == "__main__":
    print(build())
