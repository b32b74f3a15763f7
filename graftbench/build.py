#!/usr/bin/env python3
"""Build file of the benchmark: compiles the graft sources under
src/main/scala together with the benchmark's own Scala sources under
graftbench/src, with the Scala compiler that ships in Spark's jars.

Usage: python3 graftbench/build.py   (from the repository root)

Classes land in .bench_build/classes-<source hash>/; a build whose
sources are unchanged is reused. Prints the classes directory."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the first Spark install
    whose spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return os.path.join(jars, "*")
    sys.exit("graftbench: no Spark jars found (set SPARK_HOME)")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        sys.exit(f"graftbench: no graft sources under {main}; run from the repository root")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build(root):
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out_root = os.path.join(root, ".bench_build")
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".ok")):
        return classes
    tmp = classes + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("graftbench: compile failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
