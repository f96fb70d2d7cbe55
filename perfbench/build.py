"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala at the repository root)
together with the benchmark's own (perfbench/src) into one class
directory under .bench_build/perfbench, using the Scala compiler that
ships with the Spark distribution (SPARK_HOME, default /opt/spark). The
class directory is named after a digest of every source file, so a
changed source means a fresh build and an unchanged tree builds once.

    python3 perfbench/build.py      # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath(classes):
    return classes + os.pathsep + os.path.join(JARS, "*")


def ensure():
    """Return the class directory for the current sources, building it if needed."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main", "scala")) for s in srcs):
        sys.exit("perfbench: no program sources under src/main/scala; run from a full checkout")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    os.makedirs(OUT, exist_ok=True)
    for old in os.listdir(OUT):
        if old.startswith("classes-") and ".tmp" not in old:
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    tmp = classes + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", os.path.join(JARS, "*"),
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, timeout=850)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: build failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.rename(tmp, classes)
    except OSError:  # a concurrent build of the same sources finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(ensure())
