#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala
compiler that ships in Spark's jar directory, into
`<build dir>/classes-<source hash>`. A build is reused while no source
file changes.

    python3 perfbench/build.py            # build from the checkout root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """Spark's jar directory with the Scala compiler in it: `$SPARK_HOME/jars`,
    else the first one next to a `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Scala compiler under $SPARK_HOME/jars or next to a spark-submit "
                     "on PATH; set SPARK_HOME")


def sources(root, harness):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(harness, "src", "**", "*.scala"), recursive=True))
    return main + bench


def source_stamp(root, harness=None):
    h = hashlib.sha256()
    for f in sources(root, harness or os.path.join(root, "perfbench")):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, harness, out, jars, log=print):
    stamp = source_stamp(root, harness)
    classes = os.path.join(out, f"classes-{stamp}")
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    for old in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    files = sources(root, harness)
    log(f"compiling {len(files)} Scala files into {os.path.relpath(classes, root)}")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", f"{jars}/*"] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit("compilation failed")
    open(os.path.join(classes, ".ok"), "w").close()
    return classes


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    print(build(os.getcwd(), here, os.path.join(os.getcwd(), ".bench_build"), spark_jars()))
