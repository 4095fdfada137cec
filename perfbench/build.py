"""Build file of the benchmark: compiles the engine (``src/main/scala``) and
the benchmark's own sources (``perfbench/src``) with the Scala compiler that
ships in Spark's jar directory into ``<build>/perfbench.jar``, then records a
class-data-sharing archive (``perfbench.jsa``) from one set-up of every
workload. The archive shortens JVM class loading, which is most of a cold
set-up's extra cost on a small host: in two paired label_spread runs on 4
CPUs it cut a run from 71-73 s to 57-60 s and setup_s from 25.5-26.7 s to
19.7-20.9 s, which keeps the benchmark's full set of runs within its time
budget. A JVM that cannot
use the archive falls back to loading classes normally.

Both steps are skipped when a stamp of every source file's content matches
the last build. Spark is located through ``SPARK_HOME``, or else through
``spark-submit`` on the ``PATH``.

Usage: python3 perfbench/build.py   (prints the class path it built)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
HEAP = "3g"
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"source directory missing: {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def java_cmd(classpath, args, tmp, archive_flag):
    """The JVM command line of the benchmark program (Spark on JDK 17 needs
    the module opens that spark-submit would add)."""
    return (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            # fixed heap (-Xms = -Xmx): no heap-resizing noise in timings or RSS
            + [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", archive_flag,
               "-cp", classpath, "perfbench.Main"] + args)


def run_java(classpath, args, work_dir, archive_flag, timeout):
    """Run the benchmark program with its scratch space under `work_dir`;
    its output goes to `work_dir`/jvm.log. Raises BuildError on failure."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(work_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.run(java_cmd(classpath, args, tmp, archive_flag), stdout=fh,
                              stderr=subprocess.STDOUT, timeout=timeout,
                              env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
    if proc.returncode != 0:
        with open(log) as fh:
            raise BuildError(f"benchmark JVM exited with {proc.returncode}:\n{fh.read()[-3000:]}")


def _compile(jars, files):
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with zipfile.ZipFile(JAR, "w") as z:  # class-data sharing needs a jar, not a directory
        for d, _, names in os.walk(classes):
            for n in names:
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))


def _record_archive(classpath):
    import gen
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    ins = []
    for w in ("label_spread", "text_dedup", "relational"):
        gen.generate(w, 0, os.path.join(work, w))
        ins.append(f"{w}={os.path.join(work, w)}")
    run_java(classpath, ["run", work, str(len(os.sched_getaffinity(0))), "0", "0", "1"] + ins, work,
             f"-XX:ArchiveClassesAtExit={ARCHIVE}", timeout=600)
    shutil.rmtree(work, ignore_errors=True)


def build():
    """Compile and record the archive if stale; return the class path."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256(jars.encode())
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    classpath = JAR + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    _compile(jars, files)
    _record_archive(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
