#!/usr/bin/env python3
"""Compile the program and the benchmark driver into one jar.

The program's sources (src/main/scala, src/main/resources) and the
benchmark's (perfbench/src) are compiled together with the Scala compiler
that ships among the Spark jars, against those jars, into
.bench_build/perfbench/bench.jar. A short driver run then dumps a class
data sharing archive (bench.jsa) of the classes a run loads, which cuts
JVM and Spark start-up in every later run. Both are reused while no
source changes.

    python3 perfbench/build.py        # prints the jar and the archive
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark jar directory: $SPARK_JARS_DIR, else the one the repo's
    build.sbt compiles against (unmanagedBase), else $SPARK_HOME/jars."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = spark_jars()
SCALA = "2.13.17"


def sources():
    found = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                          "*.scala"), recursive=True))
    if not found:
        raise SystemExit("build: no program sources under src/main/scala")
    return found + sorted(glob.glob(os.path.join(BENCH, "src", "**",
                                                 "*.scala"), recursive=True))


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    return sorted(p for p in glob.glob(os.path.join(base, "**", "*"),
                                       recursive=True) if os.path.isfile(p))


def stamp(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


JAR = os.path.join(OUT, "bench.jar")
ARCHIVE = os.path.join(OUT, "bench.jsa")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"


def java_cmd(work, extra=()):
    """The driver's JVM command line: pinned heap (the JDK's default
    collector, as the program runs), scratch inside `work`, the module
    openings Spark needs on JDK 17."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
            + list(extra)
            + [x for p in ADD_OPENS for x in ("--add-opens",
                                              f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([JAR, os.path.join(SPARK_JARS, "*")]),
               "graftbench.Main"])


def dump_archive():
    """Run the driver briefly and dump the classes it loaded."""
    work = os.path.join(OUT, "cds-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tmp = ARCHIVE + ".tmp"
    cmd = java_cmd(work, [f"-XX:ArchiveClassesAtExit={tmp}"]) + [
        "--workload", "analyst_mix", "--seed", "0", "--seconds", "1",
        "--trace", "0", "--work", work,
        "--out", os.path.join(work, "result.json")]
    try:
        subprocess.run(cmd, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, cwd=work, timeout=300)
        if os.path.exists(tmp):
            os.replace(tmp, ARCHIVE)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build():
    """Compile if needed; return (jar, archive or None)."""
    srcs, res = sources(), resources()
    key = stamp(srcs + res + [os.path.abspath(__file__)])
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == key:
                return JAR, ARCHIVE if os.path.exists(ARCHIVE) else None
    for f in (stamp_file, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    compiler = [os.path.join(SPARK_JARS, f"scala-{n}-{SCALA}.jar")
                for n in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.exists(j)]
    if missing:
        raise SystemExit(f"build: Scala compiler jars not found: {missing}")
    tmp = os.path.join(OUT, "classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(OUT, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.path.join(SPARK_JARS, "*"), "-d", tmp, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac exited {r.returncode}")
    base = os.path.join(ROOT, "src", "main", "resources")
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, tmp))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(tmp)
    dump_archive()
    with open(stamp_file, "w") as fh:
        fh.write(key + "\n")
    return JAR, ARCHIVE if os.path.exists(ARCHIVE) else None


if __name__ == "__main__":
    print(*build())
