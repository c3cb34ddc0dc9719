"""Builds the library and the benchmark's JVM side from source.

Compiles `src/main/scala` and `perfbench/scala` with the Scala compiler that
ships among the Spark jars named by `unmanagedBase` in the root build.sbt,
into `<build dir>/perfbench/classes`. A stamp of the sources and the jar
list skips the compile when nothing changed.

Run directly to build only: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

JVM_OPENS = [
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


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars(root):
    """The jar directory build.sbt declares as `unmanagedBase`."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("build.sbt not found: run from the root of the repository")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BuildError("build.sbt declares no unmanagedBase jar directory")
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not jars:
        raise BuildError(f"no jars in {m.group(1)}")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    if not main:
        raise BuildError("src/main/scala has no sources: run from the root of the repository")
    return main + bench


def build(root, log=sys.stderr):
    """Compiles if needed; returns the classpath to run with."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    cp = [classes] + jars
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    jar_cp = os.pathsep.join(jars)
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", jar_cp, "scala.tools.nsc.Main", "-nowarn",
         "-classpath", jar_cp, "-d", tmp] + srcs,
        stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_command(cp, heap="2g"):
    """A fixed-size heap, so pass times do not drift while the collector
    grows the heap. The memory metric counts allocation, which does not
    depend on the heap size."""
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m"] + opens + ["-cp", os.pathsep.join(cp)]


if __name__ == "__main__":
    try:
        build(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
