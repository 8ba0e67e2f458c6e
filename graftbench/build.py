#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (src/main/scala of the checkout) and the
benchmark's own sources (graftbench/src) with the Scala compiler that ships
in Spark's jars, packages each into a jar under .bench_build/graftbench/, and
records a class-data-sharing archive (app.jsa) from one short training run
(graftbench.Train), so every run maps the engine's classes instead of
loading them from ~290 jars, then writes the fixed tables every run reads
(graftbench.Fixture: four parquet tables and a Derby replica). A step is
skipped when the sha256 of its inputs matches the stamp of the previous
build. A failed training run fails the build, so every run starts its JVM
the same way.

    python3 graftbench/build.py        # build if stale, print the classpath
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
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
ARCHIVE = os.path.join(OUT, "app.jsa")
FIXTURE = os.path.join(OUT, "fixture")
TRAIN_TIMEOUT_S = 170
FIXTURE_TIMEOUT_S = 600
SCALA_VERSION = "2.13.17"
# what spark-submit would inject on JDK 17 (matches the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars_dir():
    """Spark's jar directory: $SPARK_HOME/jars, else the root build's
    `unmanagedBase`, else next to the spark-submit on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise BuildError("Spark's jars not found: set SPARK_HOME")


def spark_classpath(jars_dir):
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {jars_dir} (set SPARK_HOME)")
    return jars


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not found:
        raise BuildError(f"no Scala sources under {root}")
    return found


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def current(stamp_file, stamp, *outputs):
    if not all(os.path.exists(o) for o in outputs) or not os.path.exists(stamp_file):
        return False
    with open(stamp_file) as fh:
        return fh.read().strip() == stamp


def write_stamp(stamp_file, stamp):
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def compile_jar(name, srcs, classpath, jars_dir, extra=""):
    """Compile `srcs` into OUT/<name>.jar unless its stamp is current."""
    jar = os.path.join(OUT, f"{name}.jar")
    stamp = digest(srcs, extra + SCALA_VERSION + ":".join(classpath))
    if current(jar + ".stamp", stamp, jar):
        return jar, stamp
    classes = os.path.join(OUT, f"{name}-classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    lib = lambda n: os.path.join(jars_dir, f"{n}-{SCALA_VERSION}.jar")
    compiler = [lib("scala-compiler"), lib("scala-reflect"), lib("scala-library")]
    for j in compiler:
        if not os.path.exists(j):
            raise BuildError(f"missing {j}")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4", "-classpath",
           os.pathsep.join(classpath), "-d", classes] + srcs
    print(f"[build] compiling {len(srcs)} sources into {os.path.relpath(jar, ROOT)}",
          file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed for {name}:\n{proc.stdout[-4000:]}")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes, ignore_errors=True)
    write_stamp(jar + ".stamp", stamp)
    return jar, stamp


def jvm_args(classpath, work, archive=None):
    """JVM flags of a run: every path the JVM writes sits under `work`;
    unified-logging warnings go to stderr, never into the result stream.
    `archive` is the flag that records (training) or maps the archive
    (every run)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if archive is None:
        archive = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    return (["java", "-Xmx3g", "-XX:-UsePerfData", "-Xlog:disable",
             "-Xlog:all=warning:stderr"] + archive + opens + [
                "-Duser.timezone=UTC",
                f"-Djava.io.tmpdir={tmp}",
                f"-Dderby.system.home={os.path.join(work, 'derby')}",
                f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
                "-cp", os.pathsep.join(classpath)])


def train_archive(classpath, stamp):
    """Record the classes one training run loads into ARCHIVE."""
    if current(ARCHIVE + ".stamp", stamp, ARCHIVE):
        return
    for f in (ARCHIVE, ARCHIVE + ".stamp"):
        if os.path.exists(f):
            os.remove(f)
    work = os.path.join(OUT, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    print("[build] recording the class-data-sharing archive", file=sys.stderr, flush=True)
    cmd = jvm_args(classpath, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + [
        "graftbench.Train", "--work", work]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=TRAIN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc is None or proc.returncode != 0 or not os.path.exists(ARCHIVE):
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        why = (f"timed out after {TRAIN_TIMEOUT_S}s" if proc is None
               else f"exit {proc.returncode}:\n{proc.stdout[-4000:]}")
        raise BuildError(f"class-data-sharing training run failed ({why})")
    write_stamp(ARCHIVE + ".stamp", stamp)


def make_fixture(classpath, stamp):
    """Write the fixed tables (parquet and the Derby replica) into FIXTURE."""
    if current(FIXTURE + ".stamp", stamp, FIXTURE):
        return
    shutil.rmtree(FIXTURE, ignore_errors=True)
    if os.path.exists(FIXTURE + ".stamp"):
        os.remove(FIXTURE + ".stamp")
    work = os.path.join(OUT, "work", "fixture")
    shutil.rmtree(work, ignore_errors=True)
    print("[build] writing the fixed tables", file=sys.stderr, flush=True)
    cmd = jvm_args(classpath, work) + [
        "graftbench.Fixture", "--out", FIXTURE, "--work", work]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=FIXTURE_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        shutil.rmtree(FIXTURE, ignore_errors=True)
        raise BuildError(f"writing the fixed tables failed (exit {proc.returncode}):\n"
                         f"{proc.stdout[-4000:]}")
    write_stamp(FIXTURE + ".stamp", stamp)


def build():
    """Build graft and the benchmark; return the run classpath."""
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft_src):
        raise BuildError(f"graft sources not found at {graft_src}")
    os.makedirs(OUT, exist_ok=True)
    jars_dir = spark_jars_dir()
    spark = spark_classpath(jars_dir)
    graft, graft_stamp = compile_jar("graft", sources(graft_src), spark, jars_dir)
    bench, bench_stamp = compile_jar("graftbench", sources(os.path.join(BENCH, "src")),
                                     [graft] + spark, jars_dir, extra=graft_stamp)
    classpath = [bench, graft] + spark
    train_archive(classpath, bench_stamp)
    make_fixture(classpath, bench_stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
