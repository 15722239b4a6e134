"""Build file of the benchmark package.

Compiles the program (`src/main/scala` at the repository root) together
with the benchmark client (`erbench/src`) using the Scala compiler that
ships in Spark's jars directory ($SPARK_HOME/jars, or that of the Spark
whose spark-submit is on PATH), so the build needs no build tool and no
network. Classes land in `erbench/target/classes`; a stamp holding a
digest of every source makes an unchanged tree a no-op.

    python3 erbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "classes.stamp")


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory of the spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    sys.exit("erbench: no Spark jars directory found; set SPARK_HOME")


def sources():
    out = []
    for top in (MAIN_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles if any source changed; returns the classes directory."""
    if not os.path.isdir(MAIN_SRC):
        sys.exit(f"erbench: program sources not found at {MAIN_SRC}")
    srcs = sources()
    want = digest(srcs)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == want:
                return CLASSES
    os.makedirs(TARGET, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    print(f"erbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("erbench: compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    print(build())
