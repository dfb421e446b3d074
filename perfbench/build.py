"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` of the checkout) together with
the benchmark harness (`perfbench/src`) into one class directory with
the Scala compiler that ships among Spark's jars, so the build needs no
build tool, no network and nothing outside the checkout but the Spark
distribution itself. The build is skipped when the sources, the
compiler and the Spark jars are unchanged since the last one.

Run `python3 perfbench/build.py` from the checkout root to build by hand.
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
    """Directory of the Spark distribution's jars: `$SPARK_HOME/jars`,
    else the jars bundled with the installed `pyspark` package."""
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    except ImportError:
        pass
    sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not engine or not harness:
        sys.exit("perfbench: engine or harness sources missing "
                 "(run from a full checkout of the repository)")
    return engine + harness


def build(out_dir):
    """Compile if needed; return the run-time classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp = os.path.join(out_dir, "classes.key")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp) and open(stamp).read() == key:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jar_cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jar_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jar_cp, "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        sys.exit("perfbench: compilation failed")
    with open(stamp, "w") as f:
        f.write(key)
    return cp


if __name__ == "__main__":
    print(build(os.path.join(ROOT, ".bench_build")))
