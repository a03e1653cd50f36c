"""Build file of the benchmark: compiles graft's sources (src/main/scala of
the checkout) together with the benchmark harness (graftbench/scala) into
one class directory, with the Scala compiler that ships among Spark's jars.

Usage: python3 graftbench/build.py [build_dir]

The build is skipped when neither the sources nor the toolchain changed
since the last one (a stamp of their hashes sits next to the classes).
It writes only under build_dir (default .bench_build/graftbench).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars() -> str:
    """Spark's jars: $SPARK_HOME/jars, else the jars/ next to the first
    bin/ directory on PATH that holds a Spark distribution."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else \
        [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("build: no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources() -> list:
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        sys.exit(f"build: graft sources not found at {lib}")
    files = []
    for d in (lib, os.path.join(HERE, "scala")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(build_dir: str) -> str:
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(jars, "*.jar"))):
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-cp", cp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(".bench_build", "graftbench")))
