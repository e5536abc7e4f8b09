"""Build file of the benchmark: compiles the program (src/main/scala of
the checkout) together with the benchmark's own Scala sources
(perfbench/src) in one plain scalac pass against the Spark jars, into
<checkout>/.bench_build/classes.

The Scala compiler is the scala-compiler jar shipped with Spark, so the
build needs neither sbt nor a dependency cache. A stamp over every
source file skips the compile when nothing changed.

`SparkEntry` reads its raw-file fixtures from an absolute directory
fixed in the source (`FixtureDir`), which exists only where the program
was developed. The build compiles a copy of that one file with the
value pointed at this checkout's `fixtures/`, so the fixture queries and
their oracles run from any checkout; nothing else is changed.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
FIXTURES = os.path.join(ROOT, "fixtures")
FIXTURE_DIR = re.compile(r'(private val FixtureDir = )"[^"]*"')


def spark_home():
    """SPARK_HOME, else the installed pyspark package (it ships the same
    jars/ directory as a Spark distribution)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    return home


def spark_jars():
    jars_dir = os.path.join(spark_home(), "jars")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise SystemExit("build: no Spark jars under %s (set SPARK_HOME)" % jars_dir)
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("build: program sources not found at %s" % main)
    srcs = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    res = os.path.join(ROOT, "src", "main", "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    return srcs, res, resources


def relocate_fixtures(srcs):
    """Swap SparkEntry.scala for a copy whose FixtureDir is this
    checkout's fixtures/ (a source without that line is kept as is)."""
    out = []
    for p in srcs:
        if os.path.basename(p) == "SparkEntry.scala":
            with open(p) as f:
                text = f.read()
            moved = FIXTURE_DIR.sub(lambda m: m.group(1) + json.dumps(FIXTURES), text)
            if moved != text:
                p = os.path.join(OUT, "src", "SparkEntry.scala")
                os.makedirs(os.path.dirname(p), exist_ok=True)
                with open(p, "w") as f:
                    f.write(moved)
        out.append(p)
    return out


def stamp():
    """The stamp of the classes last built, or None."""
    if not os.path.exists(STAMP):
        return None
    with open(STAMP) as f:
        return f.read()


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def build():
    srcs, res_root, resources = sources()
    jars = spark_jars()
    h = hashlib.sha256(FIXTURES.encode())
    for p in srcs + resources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    new_stamp = h.hexdigest()
    if stamp() == new_stamp:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(relocate_fixtures(srcs)) + "\n")
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("build: scalac failed (exit %d)" % r.returncode)
    for p in resources:
        dst = os.path.join(CLASSES, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(STAMP, "w") as f:
        f.write(new_stamp)
    return classpath()


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    print(build())
