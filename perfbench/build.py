"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's JVM side (`perfbench/src`) with the Scala
compiler that ships beside the Spark jars, into `.bench_build/`.

The Spark jar directory is the one the repo's `build.sbt` names in
`unmanagedBase`; the environment variable `PERFBENCH_SPARK_JARS`
overrides it. A build is keyed by a hash of every source file and the
jar list, so an unchanged checkout reuses it.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")

# Spark 4 on JDK 17 needs these when a session starts outside
# spark-submit; the list matches build.sbt's jdk17AddOpens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars_dir():
    env = os.environ.get("PERFBENCH_SPARK_JARS")
    if env:
        return env
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt in %s: run from the root of a checkout" % ROOT)
    with open(sbt) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def jars():
    d = spark_jars_dir()
    if not os.path.isdir(d):
        raise BuildError("Spark jar directory %s is missing" % d)
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))


def sources():
    out = []
    for d in SOURCE_DIRS:
        base = os.path.join(ROOT, d)
        if not os.path.isdir(base):
            raise BuildError("source directory %s is missing" % d)
        for dp, _, fs in os.walk(base):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    if not out:
        raise BuildError("no Scala sources found")
    return sorted(out)


def build():
    """Returns the class directory, compiling it first if needed."""
    srcs, cp = sources(), jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in cp).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    compiler = [j for j in cp if os.path.basename(j).startswith(SCALA_JARS)]
    if len(compiler) < 3:
        raise BuildError("no Scala compiler beside the Spark jars")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("-nowarn\n-classpath\n%s\n-d\n%s\n" % (":".join(cp), tmp))
        fh.write("\n".join(srcs) + "\n")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in os.listdir(BUILD):
        if old.startswith("classes-") and old != os.path.basename(tmp):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.rename(tmp, out)
    return out


# JVM settings of a benchmark run, chosen for steadiness:
# - C1 only. With C2 a run is still compiling through its measured
#   passes: mart_sql's per-pass CPU falls from about 9 s to 6 s, so the
#   median measured how far the JIT had got. Runs then differed by 12% in
#   CPU per pass, against 7% with C1, whose passes are flat from the
#   first one. C1 passes take about 25% longer.
# - A fixed 2 GB serial-collected heap. With G1's adaptive sizing, the
#   peak RSS of identical runs differed by up to 30%.
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC", "-Xms2g", "-Xmx2g"]


def java_command(classes, main):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens + JVM_OPTS + ["-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
             "-cp", classes + ":" + os.path.join(spark_jars_dir(), "*"), main])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(1)
