"""Build file of the benchmark: compiles the repository's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/perfbench-<digest>.jar, with the Scala compiler that ships in
the Spark distribution, then records a class-data-sharing archive of one
short warm-up run so each benchmark JVM starts faster. A build is reused
while no source file changes."""

import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import zipfile

BUILD_DIR = ".bench_build"

# JDK 17 module opens Spark needs outside spark-submit (the same list as
# build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    path = shutil.which("java")
    if not path:
        raise BuildError("no java on PATH and JAVA_HOME unset")
    return path


def spark_jars():
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        candidates.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    for d in candidates:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")) and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"), recursive=True))
    if not main:
        raise BuildError("src/main/scala not found under %s" % root)
    if not bench:
        raise BuildError("perfbench/src not found under %s" % root)
    return main + bench


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure(root):
    """Returns (jar, class-data archive or None, source digest), building
    when needed."""
    files = sources(root)
    dig = digest(root, files)
    build = os.path.join(root, BUILD_DIR)
    jar = os.path.join(build, "perfbench-%s.jar" % dig[:16])
    jsa = os.path.join(build, "perfbench-%s.jsa" % dig[:16])
    if not os.path.exists(jar):
        compile_jar(root, build, files, jar)
    if not os.path.exists(jsa):
        dump_archive(root, build, jar, jsa)
    return jar, (jsa if os.path.exists(jsa) else None), dig


def compile_jar(root, build, files, jar):
    os.makedirs(build, exist_ok=True)
    for old in glob.glob(os.path.join(build, "perfbench-*")):
        os.remove(old)
    tmp = os.path.join(build, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jtmp = os.path.join(build, "tmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = [java_bin(), "-XX:-UsePerfData", "-Djava.io.tmpdir=" + jtmp, "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    log = os.path.join(build, "compile.log")
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-2000:]
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac exited %d:\n%s" % (rc, tail))
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for dirpath, _, names in os.walk(tmp):
            for n in sorted(names):
                f = os.path.join(dirpath, n)
                z.write(f, os.path.relpath(f, tmp))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(tmp, ignore_errors=True)


def dump_archive(root, build, jar, jsa):
    """One short run of every code path with -XX:ArchiveClassesAtExit. A
    failure only costs start-up time, so it is logged and ignored."""
    work = os.path.join(build, "work", "cds")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java_bin()] + jvm_flags(os.cpu_count() or 1) + [
        "-XX:ArchiveClassesAtExit=" + jsa + ".tmp", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classpath(jar), "graft.perfbench.Main", "--mode", "cds", "--work", work]
    with open(os.path.join(build, "cds.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root,
                                timeout=300).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    shutil.rmtree(work, ignore_errors=True)
    if rc == 0 and os.path.exists(jsa + ".tmp"):
        os.rename(jsa + ".tmp", jsa)
    elif os.path.exists(jsa + ".tmp"):
        os.remove(jsa + ".tmp")


def classpath(jar):
    return jar + os.pathsep + os.path.join(spark_jars(), "*")


def jvm_flags(nproc, heap="3g"):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", p + "=ALL-UNNAMED"]
    # fixed heap and ParallelGC, as build.sbt runs the program
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return flags + ["-XX:-UsePerfData", "-Xms" + heap, "-Xmx" + heap, "-XX:+UseParallelGC",
                    "-XX:ActiveProcessorCount=%d" % nproc,
                    "-Duser.language=en", "-Duser.country=US", "-Duser.timezone=UTC",
                    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
