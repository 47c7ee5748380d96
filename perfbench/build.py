"""Builds the benchmark: the engine's sources and the benchmark's own
Scala sources, compiled together with the Scala compiler that ships in the
Spark distribution (no build tool, no network), into one jar. A short
training run over every workload then records a class-data-sharing
archive of the classes they load, which every run maps at start-up. The
output goes under ``<build dir>/perfbench/`` and is reused while no source
changes.

    python3 perfbench/build.py            # build into .bench_build/
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


def build_dir():
    """The checkout's build directory: $CARGO_TARGET_DIR, else .bench_build."""
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one the repo's own build file compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not found:
            raise SystemExit("set SPARK_HOME: build.sbt names no Spark jar directory")
        jars = found.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark distribution with a Scala compiler at {jars}; set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


# Spark 4 on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(jar, work, args, cds):
    """The command that runs perfbench.Main; `cds` is the archive option."""
    return (["java"] + ADD_OPENS + [cds, "-XX:+UseParallelGC", "-Xmx1536m", "-Xmn384m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"), "perfbench.Main"]
            + ["--cores", str(cores()), "--work", work, "--out", os.path.join(work, "result.json")]
            + args)


def _stamp(files):
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()


def ensure_built():
    """Returns (jar, class-data archive or None), building first if any
    source changed since the last build."""
    files = sources()
    stamp = _stamp(files + [os.path.abspath(__file__)])
    out = os.path.join(build_dir(), "perfbench")
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "classes.jsa")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return jar, (archive if os.path.exists(archive) else None)
    os.makedirs(out, exist_ok=True)
    for f in (stamp_file, jar, archive):
        if os.path.exists(f):
            os.remove(f)
    staging = os.path.join(out, "classes")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4",
           "-d", staging, "-classpath", jars, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    t0 = time.monotonic()
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit("compilation failed")
    print(f"[perfbench] compiled in {time.monotonic() - t0:.1f} s", file=sys.stderr, flush=True)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for base, _, names in os.walk(staging):
            for n in sorted(names):
                path = os.path.join(base, n)
                z.write(path, os.path.relpath(path, staging))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(staging)
    train(jar, archive, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar, (archive if os.path.exists(archive) else None)


def train(jar, archive, out):
    """Runs every workload briefly and archives the classes they load. A
    failed training run leaves no archive; runs then start without one."""
    work = os.path.join(out, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    print("[perfbench] recording the class-data archive", file=sys.stderr, flush=True)
    t0 = time.monotonic()
    cmd = java_cmd(jar, work, ["--workload", "train", "--seed", "1", "--seconds", "0",
                               "--trace", "1"], f"-XX:ArchiveClassesAtExit={archive}")
    try:
        code = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=600).returncode
    except subprocess.TimeoutExpired:
        code = -1
    if code != 0 and os.path.exists(archive):
        os.remove(archive)
    shutil.rmtree(work, ignore_errors=True)
    print(f"[perfbench] training run took {time.monotonic() - t0:.1f} s (exit {code})",
          file=sys.stderr, flush=True)


if __name__ == "__main__":
    print(ensure_built())
