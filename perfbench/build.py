"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the benchmark harness (`perfbench/scala`)
into `.bench_build/classes`, using the Scala compiler that ships in
Spark's jar directory ($SPARK_HOME/jars), so no dependency resolution or
network is needed.

A stamp holding the SHA-256 of every compiled source skips the compile
when nothing changed. Run directly (`python3 perfbench/build.py`) or let
`run.py` call `ensure()`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("perfbench: SPARK_HOME is not set")
    return os.path.join(home, "jars", "*")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def ensure(root):
    """Compiles if the sources changed; returns the runtime classpath."""
    build = os.path.join(root, ".bench_build")
    classes = os.path.join(build, "classes")
    stamp = os.path.join(build, "classes.stamp")
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    cp = classes + os.pathsep + spark_jars()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", spark_jars()] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


if __name__ == "__main__":
    print(ensure(os.getcwd()))
