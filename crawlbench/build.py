"""Build the benchmark's JVM program from source.

Compiles the engine (src/main/scala) and the harness (crawlbench/src) with
the Scala compiler that ships among Spark's jars, into
.bench_build/crawlbench/classes. A stamp of the sources' hash skips the
build when nothing changed. Run directly to build: python3 crawlbench/build.py
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "crawlbench")
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"))


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else shutil.which("java") or "java"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars if set, else the
    `unmanagedBase` that build.sbt compiles and tests the engine against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError as e:
            raise BuildError(f"cannot read build.sbt: {e}") from e
        if not m:
            raise BuildError("build.sbt sets no unmanagedBase; set SPARK_HOME")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"source directory missing: {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(log=sys.stderr):
    """Compile if the sources changed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp,
           "@" + argfile]
    print(f"[crawlbench] compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[crawlbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
