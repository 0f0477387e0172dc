#!/usr/bin/env python3
"""Build file of the v3 benchmark.

Compiles the program's main sources (src/main/scala, the same sources the
root sbt build compiles) together with the benchmark's own sources
(v3bench/src) into .bench_build/v3bench/app.jar, with the Scala compiler
that ships in the Spark jar directory. It then records a class-data
sharing archive (app.jsa) from one short lake_ingest run, so every
benchmark JVM maps the classes it loads instead of parsing them again;
without the archive the JVM runs unchanged, only its start is slower.
A stamp of the content of every source file and of this file makes a
second build a no-op.

    python3 v3bench/build.py          # build if sources changed
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "v3bench"
# the Spark jar directory build.sbt compiles against (its unmanagedBase)
SPARK_JARS = Path(os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars"))


class BuildError(Exception):
    pass


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"program sources not found under {ROOT / 'src/main/scala'}")
    own = sorted((HERE / "src").glob("*.scala"))
    if not own:
        raise BuildError("benchmark sources not found")
    return program + own


def classpath():
    if not (SPARK_JARS / "scala-compiler-2.13.17.jar").exists():
        raise BuildError(f"Spark/Scala jars not found in {SPARK_JARS}")
    return f"{SPARK_JARS}/*"


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"
JAR = OUT / "app.jar"
ARCHIVE = OUT / "app.jsa"
STAMP = OUT / "build.stamp"


def java_command(args, work, archive_out=None):
    """The benchmark JVM's command line: `args` go to v3bench.Main."""
    # no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    if archive_out:
        cmd.append(f"-XX:ArchiveClassesAtExit={archive_out}")
    elif ARCHIVE.exists():
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    cmd.append("-Xlog:cds=off,cds+dynamic=off")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{JAR}:{classpath()}", "v3bench.Main"] + list(args) + ["--work", str(work)]


def build():
    """Compiles and records the class archive when any source changed."""
    srcs = sources()
    cp = classpath()
    h = hashlib.sha256()
    for f in srcs + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if STAMP.exists() and STAMP.read_text() == stamp and JAR.exists():
        return
    for f in (STAMP, JAR, ARCHIVE):
        f.unlink(missing_ok=True)
    classes = OUT / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    args = OUT / "scalac.args"
    args.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, f"@{args}"]
    print(f"[v3bench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    # class-data sharing archives classes from jars only
    tmp_jar = OUT / "app.jar.tmp"
    with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    tmp_jar.rename(JAR)
    shutil.rmtree(classes, ignore_errors=True)
    work = OUT / "work" / "archive"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    tmp_archive = OUT / "app.jsa.tmp"
    tmp_archive.unlink(missing_ok=True)
    try:
        r = subprocess.run(java_command(["--workload", "lake_ingest", "--seed", "0", "--seconds", "1",
                                         "--trace", "0"], work, archive_out=tmp_archive),
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           env=dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local")),
                           timeout=600)
        recorded = r.returncode == 0 and tmp_archive.exists()
    except subprocess.TimeoutExpired:
        recorded = False
    shutil.rmtree(work, ignore_errors=True)
    if recorded:
        tmp_archive.rename(ARCHIVE)
    else:
        print("[v3bench] class archive not recorded; running without it", file=sys.stderr)
    STAMP.write_text(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[v3bench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
