"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the benchmark's JVM harness (`perfbench/src`) from source with the
Scala compiler that ships in Spark's jars, into
`perfbench/.build/<source digest>/`. A build whose digest matches the
sources and `build.sbt` is reused.

The engine's build settings are read from the repo's `build.sbt`, not
copied: its `scalaVersion` must be the Scala that Spark's jars ship, its
`scalacOptions` go to the compiler, and its JDK module opens and `-D`
system properties go to the harness JVM (`jvm_options`). The heap is
the benchmark's own (`run.py`). sbt itself is not run: it reads and
writes caches in the home directory, outside the checkout.

Usage: python3 perfbench/build.py   (prints the classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_SBT = os.path.join(ROOT, "build.sbt")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src")]

STRING = re.compile(r'"([^"]*)"')


def _sbt_block(text, pattern):
    """The string literals of the first `pattern ... Seq( ... )` block of
    build.sbt, or None when build.sbt has no such setting."""
    m = re.search(pattern + r"[^\n]*?Seq\((.*?)\)", text, re.S)
    return STRING.findall(m.group(1)) if m else None


def sbt_settings():
    """(scala version, scalac options, JVM options) from build.sbt."""
    if not os.path.exists(BUILD_SBT):
        sys.exit("perfbench: build.sbt not found")
    with open(BUILD_SBT) as f:
        text = f.read()
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    opens = _sbt_block(text, r"val\s+jdk17AddOpens\s*=")
    props = _sbt_block(text, r"javaOptions\s*\+\+=")
    if not (version and opens and props is not None):
        sys.exit("perfbench: cannot read scalaVersion, jdk17AddOpens and "
                 "javaOptions from build.sbt")
    scalac = _sbt_block(text, r"scalacOptions\s*(?:\+\+=|:=)") or []
    scalac += re.findall(r'scalacOptions\s*\+=\s*"([^"]*)"', text)
    jvm = ([f"--add-opens={p}=ALL-UNNAMED" for p in opens] +
           [p for p in props if p.startswith("-D")])
    return version.group(1), scalac, jvm


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    files = sorted(glob.glob(os.path.join(SOURCE_DIRS[0], "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(SOURCE_DIRS[1], "*.scala")))
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        sys.exit("perfbench: engine sources not found under src/main/scala")
    return files


def jvm_options():
    return sbt_settings()[2]


def ensure_built():
    """Compile if needed; return the classpath to run the harness with."""
    jars = spark_jars()
    files = sources()
    version, scalac, _ = sbt_settings()
    if not glob.glob(os.path.join(os.path.dirname(jars),
                                  f"scala-compiler-{version}.jar")):
        sys.exit(f"perfbench: build.sbt wants Scala {version}, which "
                 "Spark's jars do not ship")
    h = hashlib.sha256(jars.encode())
    for f in files + [BUILD_SBT]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(os.path.join(HERE, ".build"), ignore_errors=True)
        os.makedirs(classes)
        # -classpath pins the user classpath: scalac's default is ".",
        # which would let directories of the checkout shadow packages
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
             "scala.tools.nsc.Main",
             "-usejavacp", "-classpath", classes, "-nowarn",
             "-d", classes] + scalac + files,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            sys.exit("perfbench: build failed")
        open(os.path.join(out, "ok"), "w").close()
    return classes + os.pathsep + jars


if __name__ == "__main__":
    print(ensure_built())
