"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala code (perfbench/src) from source with the Scala compiler that
ships among Spark's jars, and packs the classes with the engine's resources into
.bench_build/perfbench.jar under the checkout.

A stamp over every source and resource file skips the compile when nothing
changed. A new build removes the class-data archive made from the last one
(see run.py).

    python3 perfbench/build.py        # build, print the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
JAR = os.path.join(OUT, "perfbench.jar")
# the JVM's class-data archive of this build's classes, made by run.py
ARCHIVE = os.path.join(OUT, "perfbench.jsa")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one the engine's
    build.sbt names as its unmanagedBase."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def tree(d):
    """Every file under `d`, sorted."""
    return sorted(os.path.join(dirpath, n) for dirpath, _, names in os.walk(d) for n in names)


def sources():
    files = sorted(f for d in SOURCES for f in tree(d) if f.endswith(".scala"))
    if not any(f.startswith(SOURCES[0]) for f in files):
        raise BuildError("engine sources not found under src/main/scala")
    return files


def pack(classes, jar):
    """Writes the compiled classes and the engine's resources into `jar`."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for base in (classes, RESOURCES):
            for f in tree(base):
                z.write(f, os.path.relpath(f, base))


def build(log=sys.stderr):
    """Compiles if needed; returns the classpath to run the benchmark with."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files + tree(RESOURCES):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = JAR + ".stamp"
    fresh = os.path.isfile(JAR) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp
    if not fresh:
        for f in (stamp_file, ARCHIVE):
            if os.path.exists(f):
                os.remove(f)
        tmp = os.path.join(OUT, "classes.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = ":".join(glob.glob(os.path.join(jars, n))[0] for n in
                            ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(files) + "\n")
        print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
               "-nowarn", "-usejavacp", "-cp", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, stdout=log, stderr=log)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(f"scalac exited with {r.returncode}")
        pack(tmp, JAR + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.replace(JAR + ".tmp", JAR)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return ":".join([JAR, os.path.join(jars, "*")])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(3)
