"""Build file of the benchmark package: compiles the library's main
sources (`src/main/scala`) together with the benchmark's own Scala
sources (`perfbench/scala`) into `.bench_build/classes`, using the Scala
compiler and Spark jars shipped in `$SPARK_HOME/jars` (or the jar
directory `build.sbt` declares). The build is skipped when a stamp of
every source file's content is unchanged.

    python3 perfbench/build.py            # from the repository root
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the project's own
    build declares (`unmanagedBase` in `build.sbt`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    if os.path.exists("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    raise SystemExit("build: set SPARK_HOME (its jars are the compile and "
                     "run classpath)")


JARS = spark_jars()


def sources():
    lib = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                           recursive=True))
    return lib, own


def classpath():
    jars = sorted(glob.glob(os.path.join(JARS, "*.jar")))
    return os.pathsep.join([os.path.abspath(CLASSES)] + jars)


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    lib, own = sources()
    if not lib:
        raise SystemExit("build: no library sources under src/main/scala "
                         "(run from the repository root)")
    h = hashlib.sha256()
    for f in lib + own:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    os.makedirs(CLASSES, exist_ok=True)
    for old in glob.glob(os.path.join(CLASSES, "**", "*.class"),
                         recursive=True):
        os.remove(old)
    compiler = [os.path.join(JARS, f"scala-{p}-2.13.17.jar")
                for p in ("compiler", "library", "reflect")]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(lib + own) + "\n")
    jars = os.pathsep.join(sorted(glob.glob(os.path.join(JARS, "*.jar"))))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", jars, "@" + argfile]
    print(f"build: compiling {len(lib)} library + {len(own)} benchmark "
          f"sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    build()
