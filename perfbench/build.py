"""Build step of the extraction benchmark.

Compiles the program's main sources (src/main/scala) together with the
benchmark's own Scala sources (perfbench/scala) with the Scala compiler that
ships in the Spark distribution, into a class directory under .bench_build/
keyed by a hash of every compiled source. A change to any program or
benchmark source therefore yields a fresh build; an unchanged tree reuses it.

    python3 perfbench/build.py          # prints the class directory
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA_VERSION = "2.13.17"
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SOURCES = os.path.join(HERE, "scala")
SCALAC_FLAGS = ["-nowarn", "-release", "17"]


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
        raise SystemExit(f"build: no Spark jars with scala-compiler {SCALA_VERSION} "
                         "(set SPARK_HOME)")
    return jars


def scala_files(base):
    out = []
    for d, _, files in os.walk(base):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    h.update(" ".join([SCALA_VERSION] + SCALAC_FLAGS).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()[:16]


def build():
    """Compile if needed; return the class directory."""
    if not os.path.isdir(PROGRAM_SOURCES):
        raise SystemExit(f"build: program sources not found at {PROGRAM_SOURCES}")
    jars = spark_jars()
    files = scala_files(PROGRAM_SOURCES) + scala_files(BENCH_SOURCES)
    if not scala_files(PROGRAM_SOURCES) or not scala_files(BENCH_SOURCES):
        raise SystemExit("build: no Scala sources to compile")
    classes = os.path.join(BUILD_DIR, "classes-" + source_hash(files))
    if os.path.isdir(classes):
        return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler_cp = os.pathsep.join(
        os.path.join(jars, f"scala-{p}-{SCALA_VERSION}.jar")
        for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_cp, "scala.tools.nsc.Main",
           *SCALAC_FLAGS, "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    print(f"build: compiling {len(files)} sources into {os.path.relpath(classes, ROOT)}",
          file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("build: compilation failed")
    if os.path.isdir(PROGRAM_RESOURCES):
        shutil.copytree(PROGRAM_RESOURCES, tmp, dirs_exist_ok=True)
    os.remove(argfile)
    os.rename(tmp, classes)
    # superseded builds of older source trees
    for name in os.listdir(BUILD_DIR):
        path = os.path.join(BUILD_DIR, name)
        if name.startswith("classes-") and path != classes:
            shutil.rmtree(path, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
