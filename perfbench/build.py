"""Build file of the benchmark: compiles graft and the benchmark with scalac.

    python3 perfbench/build.py

Compiles graft's main sources (src/main/scala) and the benchmark's
(perfbench/src/main/scala) in one scalac run against the Spark jars,
into .bench_build/perfbench/classes. The Spark jars are the directory
the repository's build.sbt names as `unmanagedBase` (or $SPARK_HOME/jars);
they carry the Scala 2.13 compiler and library graft builds with. The
build runs only java: it needs no sbt, no dependency cache and no
network, and it writes only under .bench_build/. It is skipped while a
hash of every source file matches the last successful build.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
COMPILE_LIMIT_S = 840


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory graft's build.sbt compiles against."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    for d in ([m.group(1)] if m else []) + \
            ([os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else []):
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    return None


def classpath():
    """Runtime classpath: the compiled classes, then every Spark jar."""
    return [CLASSES] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))


def source_files():
    return sorted(os.path.join(d, n) for top in SOURCES for d, _, names in os.walk(top)
                  for n in names if n.endswith(".scala"))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles unless this source tree is built; False when it cannot."""
    if not os.path.isdir(SOURCES[0]):
        log("perfbench: graft sources (src/main/scala) not found next to the benchmark")
        return False
    jars = spark_jars()
    if jars is None:
        log("perfbench: Spark jars not found (build.sbt unmanagedBase or $SPARK_HOME/jars)")
        return False
    files = source_files()
    stamp = os.path.join(BUILD, "stamp.txt")
    want = source_hash(files)
    if os.path.isfile(stamp) and open(stamp).read() == want:
        return True
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    scala = [j for j in glob.glob(os.path.join(jars, "scala-*.jar"))
             if re.search(r"scala-(compiler|library|reflect)-2\.13", j)]
    args = os.path.join(BUILD, "scalac-args.txt")
    with open(args, "w") as fh:
        # quoted: the checkout's path may hold spaces
        fh.write("\n".join('"%s"' % x for x in ["-d", CLASSES, "-classpath", os.pathsep.join(classpath()[1:]),
                                                "-nowarn"] + files) + "\n")
    log("perfbench: compiling %d sources" % len(files))
    try:
        res = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
                              "-cp", os.pathsep.join(scala), "scala.tools.nsc.Main", "@" + args],
                             stdout=sys.stderr, stderr=sys.stderr, timeout=COMPILE_LIMIT_S)
        ok = res.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    if not ok:
        log("perfbench: compilation failed")
        return False
    with open(stamp, "w") as fh:
        fh.write(want)
    return True


if __name__ == "__main__":
    sys.exit(0 if build() else 1)
