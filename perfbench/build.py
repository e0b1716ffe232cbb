"""Build file of the benchmark harness.

Compiles the program's sources (src/main/scala) together with the
harness (perfbench/harness) in one scalac invocation, against the Spark
distribution's jars, into .bench_build/classes-<digest>. The digest
covers every source file, so an unchanged tree is never rebuilt and a
changed one never runs stale classes. Usage:

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
BUILD_DIR = ".bench_build"


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala "
                         "(run from the repository root)")
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/**/*.scala"), recursive=True))
    return prog + harness


def classpath(root, classes):
    return os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                            os.path.join(SPARK_JARS, "*")])


def build(root):
    """Returns the class directory, compiling it first if needed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(res.stdout[-5000:])
        raise SystemExit(f"perfbench: compilation failed (exit {res.returncode})")
    open(os.path.join(tmp, ".complete"), "w").close()
    # drop classes of other source trees, then publish atomically
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
