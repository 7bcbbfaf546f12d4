#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala of
the checkout) together with the benchmark's own (perfbench/src) into
.bench_build/app.jar with the Scala compiler that ships in Spark's jars,
then records a class-data-sharing archive of the classes one short run
loads (.bench_build/app.jsa), which cuts every later JVM's start-up by
several seconds. The build is skipped when a stamp of every source file's
content matches.

Usage: python3 perfbench/build.py        (prints the jar)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "app.jar")
CDS = os.path.join(BUILD, "app.jsa")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark install whose
    bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def classpath():
    """The app jar, then Spark's jars in a fixed order (the CDS archive
    only matches the exact class path it was recorded with)."""
    return os.pathsep.join([JAR] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))


def jvm_cmd(work, args, cds_flag):
    """The benchmark JVM: graftbench.Main with `args`, temp files in `work`."""
    log4j = os.path.join(BENCH, "log4j2.properties")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", cds_flag,
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={log4j}", "-Dspark.ui.enabled=false"] + opens +
            ["-cp", classpath(), "graftbench.Main"] + args)


def record_cds():
    """One short quant_universe run that dumps the classes it loaded. A failed
    recording only costs start-up time: runs then go without the archive."""
    work = os.path.join(BUILD, "work", "cds")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", "quant_universe", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--work", work, "--out", os.path.join(work, "out.json")]
    if os.path.exists(CDS):
        os.remove(CDS)
    with open(os.path.join(BUILD, "cds.log"), "w") as log:
        subprocess.run(jvm_cmd(work, args, f"-XX:ArchiveClassesAtExit={CDS}"), stdout=log,
                       stderr=subprocess.STDOUT, cwd=work, timeout=300)
    shutil.rmtree(work, ignore_errors=True)


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft):
        raise SystemExit(f"perfbench: graft sources not found at {graft}")
    files = sorted(glob.glob(os.path.join(graft, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile and record the archive if the sources changed; return the jar."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "app.stamp")
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return JAR
    jars = spark_jars()
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(glob.glob(os.path.join(classes, "**", "*"), recursive=True)):
            if os.path.isfile(f):
                z.write(f, os.path.relpath(f, classes))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(classes)
    record_cds()
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return JAR


if __name__ == "__main__":
    print(build())
