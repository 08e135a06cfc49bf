"""Builds the engine and the benchmark harness from source.

The engine (src/main/scala) and the harness (perfbench/src) are compiled
together by the Scala compiler that ships in Spark's jars, into
.bench_build/perfbench/classes. A stamp over every source file skips the
build when nothing changed. The build also exports each registry
query's oracle SQL, which oracle.py runs in DuckDB.
"""
import glob
import hashlib
import os
import shutil
import subprocess

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
HERE = os.path.dirname(os.path.abspath(__file__))

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def java(classes, heap, props=()):
    """The java command line that runs a class of the build."""
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + list(props) + ["-cp", f"{classes}{os.pathsep}{SPARK_JARS}/*"]


def build(root, out):
    """Compiles if the sources changed; returns (classes dir, oracle SQL file)."""
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    resources = os.path.join(root, "src/main/resources")
    if not engine or not harness or not os.path.isdir(SPARK_JARS):
        raise SystemExit("perfbench: engine sources, harness sources or Spark jars not found; "
                         "run from the root of a checkout")
    stamp = hashlib.sha256()
    for path in engine + harness + sorted(glob.glob(os.path.join(resources, "**"), recursive=True)):
        stamp.update(os.path.relpath(path, root).encode())
        if os.path.isfile(path):
            with open(path, "rb") as f:
                stamp.update(f.read())
    stamp = stamp.hexdigest()
    classes = os.path.join(out, "classes")
    sql = os.path.join(out, "oracle_sql.json")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, sql

    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
                    "-d", tmp, "-classpath", f"{SPARK_JARS}/*", "-nowarn"] + engine + harness,
                   check=True, stdout=subprocess.DEVNULL)
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    subprocess.run(java(classes, "1g") + ["perfbench.Harness", "--dump-oracles", sql],
                   check=True, stdout=subprocess.DEVNULL)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, sql
