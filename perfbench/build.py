"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the harness (`perfbench/src`) with the Scala compiler that ships in
the Spark distribution, into `.bench_build/classes`.

    python3 perfbench/build.py          # from the repository root

The build is skipped when the sources are unchanged since the last one.
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
ENGINE_MARK = os.path.join(REPO, "src", "main", "scala", "graft", "SparkEntry.scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    return os.path.join(home, "jars")


def sources():
    return sorted(glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
                            recursive=True)
                  + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compile if needed; raises SystemExit when the engine is absent or
    the compiler fails."""
    if not os.path.isfile(ENGINE_MARK):
        sys.exit("perfbench: engine sources not found at %s" % ENGINE_MARK)
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp_file = os.path.join(OUT, "classes.stamp")
    stamp = h.hexdigest()
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, "scala-%s-2.13*.jar" % n))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        sys.exit("perfbench: no Scala 2.13 compiler in %s" % jars)
    tmp = CLASSES + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compilation failed")
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    build()
