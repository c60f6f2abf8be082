"""Build file of the benchmark: compiles the engine and the harness into one jar.

The engine's sources (`src/main/scala`) and the harness's own sources
(`perfbench/src`) are compiled together with the Scala compiler that ships in
Spark's jar directory, so the build needs nothing but a JDK and `SPARK_HOME`.
Everything it writes lands under `.bench_build/perfbench` at the root of the
checkout. A stamp of the sources' contents skips a build that is up to date.

After compiling, the build runs the harness once in training mode and saves
the classes it loaded as a class-data-sharing archive. Every measured run maps
that archive, so JVM and Spark session start cost a few seconds instead of
ten, on the parent commit and on a change alike.

    python3 perfbench/build.py        # build if stale, print the jar path
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
CDS = os.path.join(OUT, "classes.jsa")
STAMP = os.path.join(OUT, "stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as the
# engine's build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars_dir = os.path.join(home or "", "jars")
    if not os.path.isdir(jars_dir):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir)
                  if j.endswith(".jar"))


def sources():
    for base in (ENGINE_SRC, HARNESS_SRC):
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {os.path.relpath(base, ROOT)}")
    found = []
    for base in (ENGINE_SRC, HARNESS_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def classpath():
    return os.pathsep.join([JAR] + spark_jars())


def jvm_command(main_args, tmp_dir, archive_flag):
    """The java command line every run uses; `archive_flag` maps or dumps the CDS archive."""
    return (["java"] + ADD_OPENS + [
        "-Xmx3g", "-Xss8m", "-Xlog:cds=off", "-Xlog:cds+dynamic=off", archive_flag,
        f"-Djava.io.tmpdir={tmp_dir}",
        "-cp", classpath(), "perfbench.PerfBench"] + main_args)


def stamp_of(srcs):
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(spark_jars()).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    srcs = sources()
    stamp = stamp_of(srcs)
    if (os.path.exists(STAMP) and os.path.exists(JAR) and os.path.exists(CDS)
            and open(STAMP).read() == stamp):
        return JAR
    if os.path.exists(OUT):
        shutil.rmtree(OUT)
    classes = os.path.join(OUT, "classes")
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = os.pathsep.join(spark_jars())
    print("perfbench: compiling engine and harness", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
         "-classpath", jars, "-d", classes, "-nowarn", "@" + argfile],
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("compilation failed")
    # CDS archives classes from jars only, so the classes go into one jar.
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    print("perfbench: training the class-data-sharing archive", file=log, flush=True)
    data = os.path.join(HERE, "data")
    tmp = os.path.join(OUT, "train")
    os.makedirs(os.path.join(tmp, "tmp"))
    r = subprocess.run(
        jvm_command(["--train", "--data", data, "--work", tmp], os.path.join(tmp, "tmp"),
                    f"-XX:ArchiveClassesAtExit={CDS}"),
        stdout=log, stderr=log, timeout=600)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(CDS):
        raise BuildError("training run for the class-data-sharing archive failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return JAR


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(1)
