"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own sources (perfbench/src) into .bench_build/perfbench.jar, then
writes a JVM class-data-sharing archive of the classes a run loads
(.bench_build/perfbench.jsa, from one perfbench.Train pass), which roughly
halves JVM and Spark start-up in every run.

Uses the Scala 2.13 compiler that ships with the Spark distribution the
project builds against (SPARK_HOME, else the jars bundled with the pyspark
package; build.sbt reads the same jars). The build is skipped when a stamp of every source file matches
the last build.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "perfbench.jsa")
SCALAC_OPTS = ["-nowarn", "-Ybackend-parallelism", "4"]
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# the same options for the archive's training pass and every run
JVM_OPTS = (["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
            + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")])


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
        except ImportError:
            raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
        home = os.path.dirname(pyspark.__file__)
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found at {jars} (set SPARK_HOME)")
    return jars


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def java(main, args, extra=()):
    """Runs a benchmark main class with the run options (and the archive)."""
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else []
    return ["java"] + JVM_OPTS + share + list(extra) + ["-cp", classpath(), main] + list(args)


def _files():
    out = []
    for d in SRC_DIRS + [RESOURCES]:
        for dp, _, fs in os.walk(d):
            out += [os.path.join(dp, f) for f in fs]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure():
    """Compile unless up to date; returns the seconds spent compiling."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources (src/main/scala) in this checkout")
    files = _files()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return 0.0
    t0 = time.time()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f for f in files if f.endswith(".scala")) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-classpath", jars, "-d", CLASSES] + SCALAC_OPTS + ["@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
    shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with zipfile.ZipFile(JAR, "w") as z:
        for dp, _, fs in os.walk(CLASSES):
            for f in sorted(fs):
                z.write(os.path.join(dp, f), os.path.relpath(os.path.join(dp, f), CLASSES))
    shutil.rmtree(CLASSES)
    train = os.path.join(OUT, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    if os.path.isfile(ARCHIVE):
        os.remove(ARCHIVE)
    cmd = (["java"] + JVM_OPTS + [f"-XX:ArchiveClassesAtExit={ARCHIVE}",
                                  f"-Djava.io.tmpdir={train}/tmp", "-cp", classpath(),
                                  "perfbench.Train", train])
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       env=dict(os.environ, SPARK_LOCAL_DIRS=f"{train}/tmp"))
    shutil.rmtree(train, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit(f"perfbench: archive training pass failed (exit {r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return time.time() - t0


if __name__ == "__main__":
    print(f"built in {ensure():.1f} s")
