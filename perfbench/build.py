#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine sources (src/main/scala) together with the benchmark
sources (perfbench/src) in one scalac pass, against the Spark jars, into
.bench_build/classes. A stamp of the source hashes skips the compile when
nothing changed. Everything it writes stays under .bench_build.

    python3 perfbench/build.py          # build only
    python3 perfbench/build.py test     # build, then run the benchmark's self-tests
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list the engine's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError("engine sources src/main/scala not found next to perfbench/")
    if not bench:
        raise BuildError("benchmark sources perfbench/src not found")
    return engine + bench


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def ensure_built(log=sys.stderr):
    """Compile if the sources changed since the last build; return the classpath."""
    files = sources()
    jars = spark_jars()
    want = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx3g", "-Djava.io.tmpdir=" + tmp,
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    print("[perfbench] compiling %d sources" % len(files), file=log, flush=True)
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise BuildError("scalac failed")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return classpath()


def java_cmd(cp, main, args, tmp, heap="4g"):
    return (["java", "-Xmx" + heap, "-Xss8m", "-XX:+UseParallelGC"] + JVM_OPENS +
            ["-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
             "-Dlog4j2.level=ERROR", "-cp", cp, main] + list(args))


def main():
    try:
        cp = ensure_built()
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        return 1
    if sys.argv[1:] == ["test"]:
        tmp = os.path.join(OUT, "selftest-tmp")
        os.makedirs(tmp, exist_ok=True)
        try:
            return subprocess.call(java_cmd(cp, "graftbench.SelfTest", [], tmp, heap="1g"),
                                   cwd=ROOT)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
