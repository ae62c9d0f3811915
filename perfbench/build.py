"""Build step of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala files with the Scala 2.13 compiler that ships in the
Spark distribution, straight to class files. sbt is not involved, so its
start-up stays out of every run.

The classes go to `<build dir>/classes`; a stamp holding a hash of every
source file skips the compile when nothing changed. The build directory is
`$CARGO_TARGET_DIR` when set, else `.bench_build`, relative to the checkout.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
HERE = os.path.dirname(os.path.abspath(__file__))

# The JVM options build.sbt gives forked runs and tests (add-opens for
# Spark on JDK 17, UTC, no UI, a large code cache, the GCLocker retry bound),
# plus a fixed heap so heap resizing stays out of the timings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "4g"
JVM_OPTS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    f"-Xms{HEAP}", f"-Xmx{HEAP}",
    "-XX:ReservedCodeCacheSize=1g",
    "-XX:+UnlockDiagnosticVMOptions",
    "-XX:GCLockerRetryAllocationCount=64",
    "-XX:-UsePerfData",
]


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "*.scala")))
    return engine, own


def classpath(root):
    return os.path.join(build_dir(root), "classes") + os.pathsep + \
        os.path.join(SPARK_JARS, "*")


def build(root):
    """Compile if the sources changed since the last build. Returns the
    seconds spent compiling (0 when the stamp matched)."""
    engine, own = sources(root)
    if not engine:
        sys.exit(f"no engine sources under {root}/src/main/scala")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        sys.exit(f"no Scala compiler in {SPARK_JARS}")
    h = hashlib.sha256()
    for p in engine + own:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return 0.0
    import time
    t0 = time.time()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(SPARK_JARS, "*")] \
        + engine + own
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    return time.time() - t0


if __name__ == "__main__":
    root = os.path.dirname(HERE)
    print(f"compiled in {build(root):.1f} s", file=sys.stderr)
