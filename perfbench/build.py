"""Build file of the benchmark package: compiles the program's sources in
the checkout (``src/main/scala``) together with the benchmark's own
(``perfbench/src``) into one class directory, with the Scala compiler and
the Spark jars of the installed Spark. The repository's own build files
are not used or touched.

The class directory is ``$CARGO_TARGET_DIR/classes`` (``.bench_build`` by
default); a stamp of the sources' content skips the compile when nothing
changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark jars under %s (set SPARK_HOME)" % jars)
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("perfbench: no program sources under %s/src/main/scala "
                         "(run from the root of a graft checkout)" % root)
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + bench


def build(root, out_dir=None):
    """Compile if needed; returns the class directory."""
    out_dir = out_dir or os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build")
    out_dir = os.path.abspath(out_dir)
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = (glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
                glob.glob(os.path.join(jars, "scala-library-*.jar")) +
                glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-Djava.io.tmpdir=" + out_dir,
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
