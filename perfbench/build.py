"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with
the Scala compiler that ships in the Spark distribution's jars, into
.bench_build/perfbench/classes-<source digest>. A build is reused while
no source changes.

    python3 perfbench/build.py          # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "DedupPipeline.scala")):
        raise BuildError("program sources not found under %s" % PROGRAM_SRC)
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns (classes dir, Spark jar dir, source digest)."""
    files = sources()
    jars = spark_jars()
    digest = source_digest(files)
    classes = os.path.join(OUT, "classes-" + digest[:16])
    if os.path.isdir(classes):
        return classes, jars, digest
    os.makedirs(OUT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=OUT)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", tmp, "@" + argfile]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=840)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac timed out")
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    os.rename(tmp, classes)
    return classes, jars, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
