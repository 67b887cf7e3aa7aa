"""Builds the benchmark from source: the engine (src/main) and the
benchmark's own Scala sources compile with the Scala compiler that ships
in the Spark jars into one jar under .bench_build/perfbench/<hash>/, where
<hash> covers every input file. A build is reused while its inputs are
unchanged, and builds of different revisions sit side by side, so runs
that alternate between two revisions in one checkout build each once.

Run from the repository root: python3 perfbench/build.py
"""
import hashlib
import os
import subprocess
import sys
import zipfile


def spark_home():
    """SPARK_HOME, or the first Spark installation on PATH: a directory
    holding bin/spark-submit beside jars/."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("perfbench: no Spark jars found; set SPARK_HOME")


HERE = os.path.dirname(os.path.abspath(__file__))
SPARK_JARS = spark_home() + "/jars"
OUT = ".bench_build/perfbench"
MAIN = "graft.perfbench.Main"

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def files_under(root, suffix=""):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def sources():
    main = files_under("src/main/scala", ".scala")
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a graft checkout")
    return main + files_under(os.path.join(HERE, "src"), ".scala")


def inputs_hash(srcs, resources):
    h = hashlib.sha256()
    for f in srcs + resources + [os.path.join(HERE, "build.py")]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(SPARK_JARS))).encode())
    return h.hexdigest()


def java_cmd(heap, jar, opts=()):
    os.makedirs(".bench_build/tmp", exist_ok=True)
    return (["java", f"-Xmx{heap}", "-Dspark.ui.enabled=false",
             "-Djava.io.tmpdir=" + os.path.abspath(".bench_build/tmp"),
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + JDK17_OPENS + list(opts) + ["-cp", jar + ":" + SPARK_JARS + "/*", MAIN])


def ensure(log=sys.stderr):
    """Builds unless a build of the same inputs exists; returns its jar."""
    srcs = sources()
    resources = files_under("src/main/resources")
    out = f"{OUT}/{inputs_hash(srcs, resources)[:16]}"
    jar = out + "/graft-perfbench.jar"
    if os.path.exists(jar):
        return jar
    classes = out + "/classes"
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(classes)
    print(f"perfbench: compiling {len(srcs)} Scala sources into {out}", file=log, flush=True)
    subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", SPARK_JARS + "/*",
                    "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                    "-classpath", SPARK_JARS + "/*"] + srcs, check=True,
                   stdout=log, stderr=log)
    # written under another name and renamed, so a jar that exists is whole
    with zipfile.ZipFile(jar + ".part", "w", zipfile.ZIP_STORED) as z:
        for f in files_under(classes):
            z.write(f, os.path.relpath(f, classes))
        for f in resources:
            z.write(f, os.path.relpath(f, "src/main/resources"))
    os.replace(jar + ".part", jar)
    subprocess.run(["rm", "-rf", classes], check=True)
    return jar


if __name__ == "__main__":
    ensure()
