#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's own harness (`pipebench/scala`) into
`.bench_build/classes`, with the Scala compiler that ships among Spark's
jars (see `spark_jars`). A build whose sources are unchanged is skipped.

Usage: python3 pipebench/build.py   (from the repository root)
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the one beside the
    `spark-submit` found on the PATH, else the one bundled with the
    `pyspark` package; it must hold the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("pipebench: no Spark jars with a Scala compiler; set SPARK_HOME")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def classpath():
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build():
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        sys.exit("pipebench: no program sources under src/main/scala")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(build_dir(), "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out, "@" + args_file]
    # run from the build directory: scalac puts "." on its class path, and
    # the repository root would expose `pipebench/scala` as a package
    r = subprocess.run(cmd, cwd=build_dir(), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        sys.exit(f"pipebench: compilation failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())


if __name__ == "__main__":
    build()
