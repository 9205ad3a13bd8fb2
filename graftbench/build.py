"""Build file of the benchmark: compiles the graft program (`src/main/scala`
of the checkout) together with the benchmark's JVM harness
(`graftbench/src`) in one scalac run, against the Spark distribution named
by SPARK_HOME, whose jars also carry the Scala compiler and library the
program is built with. Output goes to `.bench_build/classes-<hash>` in the
checkout, keyed by a hash of every source file, so an unchanged tree is
compiled once.

Usage: python3 graftbench/build.py      (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must name a Spark distribution with its jars")
    return os.path.join(home, "jars", "*")


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise BuildError(f"program sources not found under {prog}")
    files = []
    for base in (prog, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if needed; return the build directory, which holds the
    classes and `graftbench.jar`."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_COMPILED")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    # one jar: the JVM's class-data-sharing archive (run.py) only maps
    # classes from jar files
    with zipfile.ZipFile(os.path.join(tmp, "graftbench.jar"), "w") as z:
        for d, _, names in os.walk(tmp):
            for n in names:
                if n.endswith(".class"):
                    f = os.path.join(d, n)
                    z.write(f, os.path.relpath(f, tmp))
    for d in ("graft", "graftbench"):
        shutil.rmtree(os.path.join(tmp, d))
    open(os.path.join(tmp, "_COMPILED"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    # keep this build and the one before it (a parent/child comparison)
    olds = sorted(glob.glob(os.path.join(BUILD, "classes-*")), key=os.path.getmtime)
    for d in olds[:-2]:
        shutil.rmtree(d, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
