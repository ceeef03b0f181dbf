"""Builds the engine and the benchmark harness from source with scalac.

The engine's sources (src/main/scala) and the harness (perfbench/src) are
compiled together by the Scala compiler that ships with Spark, straight into
<checkout>/.perfbench/build/<source-hash>/classes. No sbt: its start-up is
not part of the program, and a build reused across runs is keyed by the
hash of every source file, so editing a source forces a rebuild.

    python3 perfbench/build.py        # build (or reuse) and print the path
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
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler in {jars}")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise SystemExit(f"perfbench: engine sources not found under {engine}")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"),
                                  recursive=True))
    return files


def ensure(build_root):
    """Returns the classes directory, compiling it first if needed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_root, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return classes
    if os.path.isdir(build_root):
        shutil.rmtree(build_root)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp",
           os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, cwd=out, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    open(os.path.join(out, "OK"), "w").close()
    return classes


if __name__ == "__main__":
    print(ensure(os.path.join(ROOT, ".perfbench", "build")))
