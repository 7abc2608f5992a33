"""Build file of the benchmark: compiles the engine (src/main) and the
harness (perfbench/harness) with the Scala compiler that ships in the
Spark distribution, into .bench_build/classes.

The output is keyed by a hash of every source and resource file, so a
checkout is compiled once and later runs reuse it.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root="."):
    """The Spark jars the engine is built against: the directory build.sbt
    names as unmanagedBase, else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        sys.exit("build: no build.sbt; run from the repository root")
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_2.13-*.jar")):
        sys.exit(f"build: no Spark 2.13 jars under {jars!r}")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        sys.exit("build: no engine sources under src/main/scala; run from the repository root")
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    resources = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"),
                                            recursive=True) if os.path.isfile(p))
    return main + harness, resources


def ensure_built(root="."):
    """Returns the classes directory, compiling first if sources changed."""
    jars = spark_jars(root)
    scala, resources = sources(root)
    h = hashlib.sha256()
    for p in scala + resources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + scala)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with code {r.returncode}")
    res_root = os.path.join(root, "src/main/resources")
    for p in resources:
        dst = os.path.join(out, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    print(ensure_built())
