#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala of the
checkout) together with the benchmark's own Scala sources into
.bench_build/e2ebench/classes, using the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME/jars). A build is skipped when a
digest of every source file matches the last successful build.

    python3 e2ebench/build.py        # prints the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "e2ebench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.sha256")
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def _files(top, suffix):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft):
        raise BuildError(f"graft sources missing: {graft}")
    return _files(graft, ".scala") + _files(os.path.join(HERE, "src"), ".scala")


def resources():
    top = os.path.join(ROOT, "src", "main", "resources")
    return [(f, os.path.relpath(f, top)) for f in _files(top, "")] if os.path.isdir(top) else []


def digest(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compiles if the sources changed; returns the runtime classpath."""
    srcs = sources()
    res = resources()
    want = digest(srcs + [f for f, _ in res])
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return classpath()
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{p}-{SCALA}.jar")
                               for p in ("compiler", "library", "reflect"))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"e2ebench: compiling {len(srcs)} Scala files", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    for f, rel in res:
        dst = os.path.join(tmp, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"e2ebench build failed: {e}", file=sys.stderr)
        sys.exit(1)
