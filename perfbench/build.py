"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/src) with scalac into one class directory, then dumps the
program's oracle SQL and table schemas for the generator and the oracle.

Spark and Scala come from the Spark distribution's jars: $SPARK_HOME/jars,
else the directory build.sbt names as its `unmanagedBase`. Nothing is
resolved or downloaded. A build is reused while the sources' hash matches.

    python3 perfbench/build.py [<build_dir>]    # default .bench_build
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = ("src/main/scala", "perfbench/src")

# Spark 4 on JDK 17 outside spark-submit needs these (build.sbt's list).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None:
        raise FileNotFoundError("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def source_files():
    out = []
    for d in SOURCES:
        top = os.path.join(ROOT, d)
        if not os.path.isdir(top):
            raise FileNotFoundError(f"missing source directory {d}")
        for base, _, files in os.walk(top):
            out += [os.path.join(base, f) for f in files
                    if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(build_dir):
    return os.path.join(build_dir, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(build_dir):
    """Compile if the sources changed; returns the build directory's dump
    JSON path. Raises on a failed compile."""
    files = source_files()
    key = stamp(files)
    stamp_file = os.path.join(build_dir, "stamp")
    dump = os.path.join(build_dir, "program.json")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key \
            and os.path.exists(dump):
        return dump
    tmp = os.path.join(build_dir, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files,
        check=True, stdout=sys.stderr)
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    subprocess.run(java_cmd(build_dir, "1g") + ["graft.perfbench.Harness", "dump", dump],
                   check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(key)
    return dump


def java_cmd(build_dir, xmx):
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size: no heap resizing varies the runs' GC behaviour
    return (["java", f"-Xms{xmx}", f"-Xmx{xmx}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + ADD_OPENS + ["-cp", classpath(build_dir)])


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                else os.path.join(ROOT, ".bench_build"))))
