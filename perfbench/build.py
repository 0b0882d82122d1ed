"""Builds graft and the benchmark harness from source.

    python3 perfbench/build.py        # from the repository root

Compiles `src/main/scala` (graft) and `perfbench/src` (the harness) in one
pass with the Scala compiler that ships among Spark's jars, into
`.bench_build/perfbench/perfbench.jar`. A digest of every source is kept
next to the jar, and an unchanged tree is not compiled again.
"""

import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ("src/main/scala", "perfbench/src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars, under `$SPARK_HOME/jars`; a login shell's SPARK_HOME
    stands in when the caller's environment has none."""
    home = os.environ.get("SPARK_HOME") or subprocess.run(
        ["bash", "-lc", "echo -n $SPARK_HOME"], stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True).stdout
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME to a Spark 4 installation")
    return jars


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(os.path.join(root, d)):
            found.extend(os.path.join(base, n) for n in names if n.endswith(".scala"))
    return sorted(found)


def classpath(jar):
    return os.pathsep.join([jar, os.path.join(spark_jars(), "*")])


def class_archive(work, workload):
    """JVM flags for the class-data archive of one workload's runs, and the
    path a new archive is to be kept at once its JVM has exited cleanly (or
    None). The first run writes the archive as its JVM exits; later runs
    load their classes from it, which takes seconds off each cold start. A
    rebuild drops the archives, since they hold the classes of the old jar."""
    path = os.path.join(work, "cds", f"{workload}.jsa")
    if os.path.exists(path):
        return [f"-XX:SharedArchiveFile={path}"], None
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return [f"-XX:ArchiveClassesAtExit={path}.new"], path


def build(root, work):
    """Returns the path of the jar, compiling first if any source changed."""
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        raise BuildError("graft sources not found under src/main/scala; run from the repository root")
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    digest = digest.hexdigest()
    # class-data archives need classes in a jar, not a directory
    jar = os.path.join(work, "perfbench.jar")
    stamp = os.path.join(work, "perfbench.jar.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return jar
    for stale in (jar, stamp):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(os.path.join(work, "cds"), ignore_errors=True)
    argfile = os.path.join(work, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", jar, "@" + argfile]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return jar


if __name__ == "__main__":
    root = os.getcwd()
    try:
        print(build(root, os.path.join(root, ".bench_build", "perfbench")))
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
