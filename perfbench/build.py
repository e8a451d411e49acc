#!/usr/bin/env python3
"""Build file of the benchmark package. Run from the root of a checkout:

    python3 perfbench/build.py        # prints the build directory

It compiles the program's sources (src/main/scala) together with the
benchmark's (perfbench/src) with the Scala compiler of the local Spark
install, packs them with src/main/resources into perfbench.jar, then runs
one short medallion run to record a class-data-sharing archive (app.jsa)
of the classes a run loads, which later JVMs map instead of loading
them again. The output lands in $CARGO_TARGET_DIR (default .bench_build)
under a name derived from a hash of every input, so an unchanged tree is
not rebuilt; older builds are removed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

PROGRAM_SRC = os.path.join("src", "main", "scala")
PROGRAM_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")

# What spark-submit would add on JDK 17 (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", p + "=ALL-UNNAMED")] + [
    # A fixed heap and young generation keep VmHWM from following the
    # collector's adaptive sizing.
    "-Xms3g", "-Xmx3g", "-Xmn512m", "-Xss8m", "-XX:-UsePerfData",
    # Spark runs local[2] (perfbench.Main); one JIT compiler thread and
    # two GC worker threads keep the JVM's own helpers from outnumbering
    # the cores a small box gives it. The JIT stops at C1: Spark generates
    # and loads new classes for every query, so with C2 the compiler was
    # still busy minutes in, and per-operation cost kept falling
    # through a run; with C1 it is flat from the first timed operation.
    "-XX:TieredStopAtLevel=1", "-XX:CICompilerCount=1", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
]


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt uses."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m is None:
        raise BuildError("no Spark jars: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return m.group(1)


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def classpath(out):
    return os.path.join(out, "perfbench.jar") + os.pathsep + os.path.join(spark_jars(), "*")


def java_cmd(out, main, *args, extra=()):
    """The JVM command every run uses, mapping the build's archive when it exists."""
    jsa = os.path.join(out, "app.jsa")
    share = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []
    return ["java", *JVM_OPTS, *share, *extra, "-cp", classpath(out), main, *args]


def _files(root, pattern):
    return sorted(glob.glob(os.path.join(root, "**", pattern), recursive=True))


def _record_archive(out, quiet):
    """One short medallion run with -XX:ArchiveClassesAtExit. Optional:
    without the archive every run still works, it only starts slower."""
    work = os.path.join(out, "train")
    jsa = os.path.join(out, "app.jsa")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(out, "perfbench.Main", "medallion", "1", "0", "0", work,
                   os.path.join(work, "result.json"),
                   extra=[f"-XX:ArchiveClassesAtExit={jsa}", f"-Djava.io.tmpdir={work}/tmp"])
    try:
        r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True, timeout=300)
        ok = r.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        if os.path.exists(jsa):
            os.remove(jsa)
        if not quiet:
            print("perfbench: no class-data-sharing archive (training run failed)", file=sys.stderr)


def build(quiet=False):
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"no program sources at {PROGRAM_SRC}: run from the root of a checkout")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars at {jars}")
    sources = _files(PROGRAM_SRC, "*.scala") + _files(BENCH_SRC, "*.scala")
    resources = [p for p in _files(PROGRAM_RES, "*") if os.path.isfile(p)]
    h = hashlib.sha256()
    for p in sources + resources + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.abspath(os.path.join(build_dir(), "build-" + h.hexdigest()[:16]))
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    if not quiet:
        print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise BuildError("scalac failed")
    with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w") as jar:
        for p in _files(classes, "*"):
            if os.path.isfile(p):
                jar.write(p, os.path.relpath(p, classes))
        for p in resources:
            jar.write(p, os.path.relpath(p, PROGRAM_RES))
    shutil.rmtree(classes)
    for old in glob.glob(os.path.join(build_dir(), "build-*")):
        if os.path.abspath(old) != tmp:
            shutil.rmtree(old, ignore_errors=True)
    # The archive names the jar's path, so it is recorded at the final one.
    os.rename(tmp, out)
    _record_archive(out, quiet)
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
