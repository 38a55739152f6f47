"""Build file of the benchmark: compiles the engine's main sources and the
benchmark's own Scala sources with scalac into `.bench_build/perfbench.jar`.

    python3 perfbench/build.py

The Spark distribution's jars (which include the Scala 2.13 compiler) are
the classpath: `$SPARK_HOME/jars`, else the directory the repo's build.sbt
names as `unmanagedBase`. The build is skipped when no source changed since
the last one (a digest over every source file is stored beside the jar)."""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "perfbench.jar")
# class-data-sharing archive of the JVM's start-up classes; written by
# the first engine run after a build (run.py), dropped on every rebuild
CDS_ARCHIVE = os.path.join(OUT, "classes.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    d = os.path.join(home, "jars") if home else _sbt_jar_dir()
    if not os.path.isdir(d):
        sys.exit(f"perfbench: Spark jars not found at {d} (set SPARK_HOME)")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))


def _sbt_jar_dir():
    """The jar directory the repo's sbt build uses (`unmanagedBase`)."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = None
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit(f"perfbench: no unmanagedBase in {sbt} (set SPARK_HOME)")
    return m.group(1)


def sources():
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: engine sources missing at {ENGINE_SRC}")
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def classpath():
    return os.pathsep.join([JAR] + spark_jars())


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "classes.sha256")
    if os.path.exists(JAR) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return
    for f in (stamp, JAR, CDS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        sys.exit("perfbench: build failed")
    # a jar, not a directory: class-data sharing only archives from jars
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, fs in os.walk(CLASSES):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), CLASSES))
    shutil.rmtree(CLASSES)
    with open(stamp, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
