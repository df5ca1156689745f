"""Builds the benchmark: the engine's main sources plus perfbench/src,
compiled together with scalac into .bench_build/perfbench.jar, and a
class-data archive of the classes a benchmark JVM loads.

The benchmark's own code lives in package `perfbench`, so the engine's
`private[graft]` members stay out of its reach: it compiles against the
public API only. Spark's jars (which include the Scala 2.13 compiler) are
taken from $SPARK_HOME/jars, or from the Spark whose spark-submit is on
the PATH.

The archive (.bench_build/perfbench.jsa) is dumped by a short training
run of append_read_mix. Every benchmark JVM maps it, which halves the cold
Spark session start and the noise in it. Both ends fail closed, so that
set-up time never silently changes with the archive: a build whose dump
fails stops without writing its stamp, and benchmark JVMs run with
-Xshare:on, which refuses to start without the archive.

Run from the root of a checkout:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")
OUT = ".bench_build"
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "perfbench.jsa")
STAMP = os.path.join(OUT, "build.stamp")
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the Spark whose spark-submit is
    on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on the PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars at {jars}; set SPARK_HOME")
    return jars


def java_cmd(work, *jvm_flags):
    """The benchmark JVM's command line up to the main class's arguments:
    fixed heap, temp files under `work`."""
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS, *jvm_flags,
            f"-Djava.io.tmpdir={os.path.abspath(work)}",
            "-cp", os.pathsep.join([JAR, os.path.join(spark_jars(), "*")]),
            "perfbench.Main"]


def archive_flags():
    return ["-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}"]


def _files(root, suffix=""):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _sources():
    return _files(ENGINE_SRC, ".scala") + _files(BENCH_SRC, ".scala")


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles unless the classes were built from exactly these sources."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"no engine sources at {ENGINE_SRC}: run from the repo root")
    srcs = _sources()
    resources = _files(ENGINE_RES) if os.path.isdir(ENGINE_RES) else []
    digest = _digest(srcs + resources)
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    shutil.rmtree(CLASSES, ignore_errors=True)
    for p in (JAR, ARCHIVE, STAMP):
        if os.path.exists(p):
            os.remove(p)
    os.makedirs(CLASSES)
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(spark_jars(), "*"),
           "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    for p in resources:
        dst = os.path.join(CLASSES, os.path.relpath(p, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    # Class-data archives map classes from jars only.
    if subprocess.run(["jar", "cf", JAR, "-C", CLASSES, "."], stdout=log, stderr=log).returncode:
        raise SystemExit("perfbench: jar failed")
    dump_archive(log)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def dump_archive(log):
    """Dumps the class-data archive from a short training run."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    train_log = os.path.join(OUT, "logs", "train.log")
    print(f"perfbench: dumping the class-data archive, log {train_log}", file=log, flush=True)
    cmd = java_cmd(work, f"-XX:ArchiveClassesAtExit={ARCHIVE}") + [
        "--workload", "append_read_mix", "--seed", "0", "--seconds", "0", "--trace", "0",
        "--ops", "2", "--dir", work, "--out", os.path.join(work, "raw.json")]
    with open(train_log, "w") as out:
        try:
            ok = subprocess.run(cmd, stdout=out, stderr=out, timeout=400).returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok or not os.path.exists(ARCHIVE):
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        raise SystemExit(f"perfbench: dumping the class-data archive failed, log {train_log}")


if __name__ == "__main__":
    build()
