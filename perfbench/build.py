"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) and the benchmark driver
(`perfbench/src`) from source with the Scala compiler that ships in
Spark's `jars/` directory, the same jars the engine's sbt build compiles
against. No sbt, no dependency resolution: one `scalac` invocation.

Outputs go under `.bench_build/perfbench/<digest>/`, where `<digest>`
hashes every input source, so an edited source tree rebuilds and an
unchanged one is reused.

    python3 perfbench/build.py          # prints the classpath it built
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_ROOT = os.path.join(".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]
RESOURCE_DIR = os.path.join("src", "main", "resources")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {d}; run from the repo root")
        for root, _, files in os.walk(d):
            out.extend(os.path.join(root, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    extra = []
    if os.path.isdir(RESOURCE_DIR):
        for root, _, names in os.walk(RESOURCE_DIR):
            extra.extend(os.path.join(root, n) for n in names)
    for f in files + sorted(extra):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    out = os.path.join(BUILD_ROOT, digest(files))
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "BUILT")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", classes, "@" + argfile]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        open(os.path.join(out, "BUILT"), "w").close()
    cp = [os.path.abspath(classes)]
    if os.path.isdir(RESOURCE_DIR):
        cp.append(os.path.abspath(RESOURCE_DIR))
    cp.append(os.path.join(jars, "*"))
    return os.pathsep.join(cp)


if __name__ == "__main__":
    print(build())
