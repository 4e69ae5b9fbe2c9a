"""Build file of the benchmark package.

Compiles the engine sources of the checkout (src/main/scala) together with
the benchmark sources (perfbench/src) into .bench_build/classes with the
Scala compiler that ships in the Spark jar directory (the one build.sbt's
`unmanagedBase` names, unless SPARK_JARS or SPARK_HOME says otherwise). A content hash of
every source file is stored next to the classes, so an unchanged tree is
not rebuilt.

    python3 perfbench/build.py            # build (or confirm up to date)
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The Spark jar directory: SPARK_JARS, else SPARK_HOME/jars, else the
    `unmanagedBase` directory the checkout's build.sbt compiles against."""
    cands = [os.environ.get("SPARK_JARS"),
             os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            cands.append(m.group(1))
    for d in cands:
        if d and glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    raise SystemExit("error: no Spark jar directory found "
                     "(set SPARK_JARS or SPARK_HOME)")


def engine_dir():
    return os.path.join(ROOT, "src", "main", "scala")


def has_sources():
    return os.path.isdir(engine_dir()) and os.path.isdir(os.path.join(HERE, "src"))


def sources():
    files = []
    for base in (engine_dir(), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith(".scala") or n.endswith(".java")]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    jars = os.path.join(spark_jars(), "*")
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([CLASSES, resources, jars])


def ensure(log=sys.stderr):
    """Builds the classes unless the stored fingerprint matches."""
    files = sources()
    fp = fingerprint(files)
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                return
    os.makedirs(BUILD, exist_ok=True)
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main",
           "-d", staging, "-classpath", jars, "-nowarn", "@" + argfile]
    print("[perfbench] compiling %d source files" % len(files), file=log)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         timeout=840)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-8000:])
        raise SystemExit("error: compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(stamp, "w") as fh:
        fh.write(fp + "\n")


if __name__ == "__main__":
    if not has_sources():
        raise SystemExit("error: engine sources (src/main/scala) not found")
    ensure()
