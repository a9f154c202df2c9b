"""Build file of the benchmark: compiles the engine (``src/main/scala``) and
the benchmark runner (``perfbench/src``) with the Scala compiler that ships
in Spark's jar directory, into ``.bench_build/classes``.

The build is skipped when a stamp of every source file and of the Spark
jar listing is unchanged. Run it alone with ``python3 perfbench/build.py``.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def _files(top, suffix):
    found = []
    for d, _, names in os.walk(top):
        found += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(found)


def build():
    """Compile if needed; return the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        raise BuildError(f"sources missing: {ENGINE_SRC} and {BENCH_SRC} are required")
    jars = spark_jars()
    sources = _files(ENGINE_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    resources = _files(ENGINE_RES, "") if os.path.isdir(ENGINE_RES) else []
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    classpath = f"{CLASSES}{os.pathsep}{jars}/*"
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", f"{jars}/*"] + sources
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for f in resources:
        dst = os.path.join(CLASSES, os.path.relpath(f, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
