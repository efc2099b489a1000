"""Build file of the benchmark package.

Compiles the program's main sources (`src/main/scala`) together with the
benchmark's own JVM sources (`perfbench/scala`) with the Scala compiler
that ships in Spark's jar directory (`$SPARK_HOME/jars`), into
`<out>/classes`. A stamp over every source file's path and content makes
repeated runs in one checkout skip the build; a file lock serialises
concurrent builds.

Run alone: python3 perfbench/build.py   (from the repository root)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark install whose jars/ "
                         "holds the Scala compiler")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                          "scala", "**", "*.scala"), recursive=True))
    return program + bench


def build(root, out):
    """Returns the classes directory, compiling first if sources changed."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(out, "classes")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(classes, ".stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes, stamp
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        return classes, stamp


if __name__ == "__main__":
    try:
        print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build"))[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
