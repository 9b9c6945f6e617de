"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the harness (`perfbench/harness/src`) from source with the Scala
compiler that ships in Spark's jar directory, into
`.bench_build/classes`.

A stamp of every source file's path and content hash skips the
compile when nothing changed. Run it on its own with
`python3 perfbench/build.py` from the repository root.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    """`$SPARK_HOME/jars`, else the first `jars` dir next to a `bin/` on
    PATH that holds Spark's SQL jar."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("no Spark jars found: set SPARK_HOME")


def sources():
    main = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"program sources not found: {main}")
    files = []
    for root in (main, os.path.join(HERE, "harness", "src")):
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return 0.0
    t0 = time.time()
    if os.path.exists(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", jars, "@" + args_file]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=840)
    if res.returncode != 0:
        log.write(res.stdout[-4000:])
        raise SystemExit("compile failed")
    with open(STAMP, "w") as f:
        f.write(want)
    return time.time() - t0


if __name__ == "__main__":
    print(f"built in {build():.1f}s")
