"""Build file of the benchmark package: compiles the program (src/main) and
the harness (perfbench/harness) with the Scala compiler that ships in the
Spark distribution, into <build dir>/classes. A content hash of the sources
skips the compile when nothing changed.

    python3 perfbench/build.py      # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def classpath(classes):
    return os.pathsep.join([classes] + sorted(glob.glob(f"{SPARK_JARS}/*.jar")))


def sources():
    found = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True))
    if not found:
        raise SystemExit(f"perfbench: no program sources under {ROOT}/src/main/scala")
    return found + sorted(glob.glob(f"{ROOT}/perfbench/harness/*.scala"))


def build():
    """Compile if needed; return the classes directory."""
    srcs = sources()
    resources = os.path.join(ROOT, "src/main/resources")
    digest = hashlib.sha256()
    for p in srcs + sorted(glob.glob(f"{resources}/**/*", recursive=True)):
        if os.path.isfile(p):
            digest.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    compiler = [f"{SPARK_JARS}/scala-{j}-2.13.17.jar" for j in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", staging,
           "-classpath", classpath(staging)] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, staging, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
