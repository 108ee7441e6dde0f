"""Build file of the benchmark.

Compiles the program's sources (`src/main/scala`) together with the
benchmark harness (`perfbench/scala`) into `.bench_build/classes-<hash>`
with the Scala compiler that ships in Spark's jar directory, so neither
sbt nor a network is needed.  The hash covers every source file, so a
build is reused only for identical sources.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the jars the
    `pyspark` package ships."""
    home = os.environ.get("SPARK_HOME", "")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            pass
    jars = os.path.join(home, "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {jars!r}; "
                         "set SPARK_HOME")
    return jars


def sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        raise SystemExit("perfbench: no program sources under src/main/scala; "
                         "run from the root of a repository checkout")
    return srcs + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))


def build(root):
    """Returns the classes directory for the current sources, compiling
    them first unless an identical build exists."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + sorted(os.listdir(jars)):
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
