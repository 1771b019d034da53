"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in the Spark
distribution, into .bench_build/perfbench/ ($CARGO_TARGET_DIR/perfbench
when that build-output variable is set). A stamp over every source
file's content skips the build when nothing changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
# Spark on JDK 17 needs these outside spark-submit (the same list build.sbt passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A fixed, pre-touched heap: peak RSS then moves with native memory and
# heap size, not with when G1 happened to grow the heap.
HEAP = "1g"


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return main + own


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def jvm_options(work):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp dir; every temp file under `work`
    return opts + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:-UsePerfData",
                   f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                   "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                   f"-Dperfbench.home={HERE}", "-Dlog4j2.level=ERROR"]


def ensure_built():
    """Compile if the sources changed; return the run classpath."""
    files = sources()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    want = stamp(files)
    built = None
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            built = f.read()
    if built != want:
        shutil.rmtree(OUT, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(files))
        cp = os.path.join(SPARK_JARS, "*")
        r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-6000:])
            raise SystemExit("perfbench: build failed")
        with open(stamp_file, "w") as f:
            f.write(want)
    return classes + os.pathsep + os.path.join(SPARK_JARS, "*")


if __name__ == "__main__":
    print(ensure_built())
