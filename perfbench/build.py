"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark
harness (`perfbench/src`) with the Scala compiler that ships in Spark's
jar directory, packs classes and resources into one jar, and records a
class-data-sharing archive from a short training run so that every
benchmark JVM starts with Spark's classes already parsed.

Outputs go to `.bench_build/perfbench-<hash of the sources>/` under the
checkout and are reused while the sources are unchanged.

    python3 perfbench/build.py        # build (or reuse) and print the dir
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SCALA_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(BENCH, "src")
BUILD_ROOT = os.path.join(ROOT, ".bench_build")

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars: `$SPARK_HOME/jars`, else the `unmanagedBase` that
    the program's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars_dir = m.group(1) if m else ""
    if not os.path.isdir(jars_dir):
        raise BuildError(f"no Spark jar directory at '{jars_dir}' (set SPARK_HOME)")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    return exe if (not home or os.path.exists(exe)) else "java"


def jvm_options(work):
    """Options of every benchmark JVM: a fixed heap with ParallelGC, the
    module openings Spark needs outside spark-submit, and all temporary
    files under the run's own work directory."""
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    return ["-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={work}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]


def _files(top, suffixes):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffixes)]
    return sorted(out)


def _sources():
    if not os.path.isdir(SCALA_SRC):
        raise BuildError(f"program sources not found at {SCALA_SRC}")
    return _files(SCALA_SRC, (".scala",)) + _files(HARNESS_SRC, (".scala",))


def _digest(paths):
    h = hashlib.sha256()
    for p in paths + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def classpath(out):
    return os.pathsep.join([os.path.join(out, "perfbench.jar")] + spark_jars())


def _run(cmd, log, **kw):
    with open(log, "ab") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, **kw)
    if r.returncode != 0:
        with open(log, "rb") as f:
            sys.stderr.write(f.read()[-4000:].decode(errors="replace"))
        raise BuildError(f"{cmd[0]} exited with {r.returncode}")


def ensure():
    """Build unless a finished build of the current sources exists;
    return its directory."""
    sources = _sources()
    resources = _files(RESOURCES, ("",)) if os.path.isdir(RESOURCES) else []
    out = os.path.join(BUILD_ROOT, "perfbench-" + _digest(sources + resources))
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    log = os.path.join(BUILD_ROOT, "build.log")
    open(log, "wb").close()
    jars = spark_jars()
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    # Spark's jar directory carries scala-compiler of the same version
    _run([java(), "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
          "-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars), "@" + argfile], log)
    with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w", zipfile.ZIP_STORED) as z:
        for top in (classes, RESOURCES):
            for p in (_files(top, ("",)) if os.path.isdir(top) else []):
                z.write(p, os.path.relpath(p, top))
    shutil.rmtree(classes)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    # training run: loads the classes every workload needs, then dumps
    # them into the shared archive the benchmark JVMs map at start (the
    # archive records the jar's path, so it is made in the final dir)
    work = os.path.join(out, "train")
    os.makedirs(work)
    _run([java(), f"-XX:ArchiveClassesAtExit={os.path.join(out, 'app.jsa')}", "-Xlog:cds*=off",
          *jvm_options(work), "-cp", classpath(out), "perfbench.Main", "--train", "1",
          "--work", work, "--nproc", str(len(os.sched_getaffinity(0))), "--seed", "0"], log)
    shutil.rmtree(work)
    open(os.path.join(out, "DONE"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.stderr.write(f"perfbench build failed: {e}\n")
        sys.exit(1)
