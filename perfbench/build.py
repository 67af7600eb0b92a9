"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark sources (perfbench/src) with scalac, against the jars of the local
Spark installation, into .bench_build/app/perfbench.jar. Then it runs the
set-up of every workload once with -XX:ArchiveClassesAtExit, so that the runs
map the classes they load from a class-data archive (app.jsa) instead of
loading them from the jars one by one.

Spark is found through SPARK_HOME, or else through `spark-submit` on PATH.
A build is skipped when the sources have not changed since the last one.

    python3 perfbench/build.py      # prints the JVM arguments to run with
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
HEAP = "2g"

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("build: no Spark installation with a Scala compiler found "
                 "(set SPARK_HOME)")
    return jars


def sources():
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not any(p.is_relative_to(SOURCE_DIRS[0]) for p in files):
        sys.exit("build: program sources (src/main/scala) not found")
    return files


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def jvm_args(app, jars):
    """JVM arguments up to the main class, for the build in directory `app`."""
    return [*[x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-cp", f"{app / 'perfbench.jar'}{os.pathsep}{jars}/*"]


def build():
    """Builds if needed; returns the JVM arguments to run the benchmark with
    (class path and class-data archive, up to the main class)."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256(str(jars).encode())
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = digest.hexdigest()
    app = OUT / "app"
    args = jvm_args(app, jars) + [f"-XX:SharedArchiveFile={app / 'app.jsa'}"]
    stamp_file = app / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return args
    staging = OUT / "app.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    (staging / "classes").mkdir(parents=True)
    cmd = [java(), "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging / "classes"), "-classpath", f"{jars}/*"] + [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"build: scalac failed with exit code {r.returncode}")
    # the archive takes classes from jars only
    with zipfile.ZipFile(staging / "perfbench.jar", "w", zipfile.ZIP_STORED) as z:
        for p in sorted((staging / "classes").rglob("*.class")):
            z.write(p, p.relative_to(staging / "classes").as_posix())
    shutil.rmtree(staging / "classes")
    shutil.rmtree(app, ignore_errors=True)
    staging.rename(app)
    work = OUT / "work" / "classes"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = [java(), *jvm_args(app, jars), f"-XX:ArchiveClassesAtExit={app / 'app.jsa'}",
           f"-Djava.io.tmpdir={work / 'tmp'}", "perfbench.Main", "--workload", "classes",
           "--work", str(work), "--cores", str(len(os.sched_getaffinity(0)))]
    with open(OUT / "build-classes.log", "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=str(ROOT)).returncode
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not (app / "app.jsa").exists():
        sys.exit(f"build: loading the workloads' classes failed (exit {rc}); "
                 f"log in {OUT / 'build-classes.log'}")
    stamp_file.write_text(stamp)
    return args


if __name__ == "__main__":
    print(" ".join(build()))
